package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-suite local SparkSession (spark_guide: lazy val),
  * from the builder every main uses. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` with the session's advisory partition size at `size`,
    * restored after. A [[graft.store.KeyIndex]] sizes its buckets to
    * that value, so a small one lets a handful of keys build a
    * many-bucket index. */
  def withAdvisorySize[T](size: String)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val was = spark.conf.get(key)
    spark.conf.set(key, size)
    try body finally spark.conf.set(key, was)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.builder("4")
    .appName("graft-test")
    // Spark 4.1 defaults, pinned: specs that count output files per
    // partition (Round23Spec) depend on AQE's coalesce target
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    .getOrCreate()
}
