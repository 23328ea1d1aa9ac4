package graft

import scala.jdk.CollectionConverters._

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

  /** The properties of the Spark jobs started while `body` runs. Job
    * starts reach the listener asynchronously, in order: marker jobs
    * run before and after `body` bound the window. */
  def jobsDuring(body: => Unit): Seq[java.util.Properties] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties()))
    }
    def group(p: java.util.Properties) = p.getProperty("spark.jobGroup.id")
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("jobs-begin")
      body
      marker("jobs-end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(group(_) == "jobs-end") &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      val all = seen.asScala.toSeq
      assert(all.exists(group(_) == "jobs-end"))
      all.dropWhile(group(_) != "jobs-begin").dropWhile(group(_) == "jobs-begin")
        .takeWhile(group(_) != "jobs-end")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A marker job in its own job group `name`. */
  def marker(name: String): Unit = {
    spark.sparkContext.setJobGroup(name, name)
    try spark.range(1).count()
    finally spark.sparkContext.clearJobGroup()
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
