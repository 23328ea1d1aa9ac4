package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale utilities: partition pruning on the month-partitioned store. */
class ScaleOpsSpec extends AnyFunSuite with SparkSpec {

  test("date-partitioned store prunes partitions on range reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part")
      .resolve("store").toString
    val store = graft.graph.GraphOps.demoStore(spark) // dates across May 2001
    new graft.store.PartitionedEmailStore(spark, dir)
      .upsert(store.withColumn("path", lit("")))
    // partition dirs exist per month
    val dirs = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("date_month=")).sorted
    assert(dirs.contains("date_month=2001-05"))
    val from = java.sql.Timestamp.from(java.time.Instant.parse("2001-05-01T00:00:00Z"))
    val until = java.sql.Timestamp.from(java.time.Instant.parse("2001-06-01T00:00:00Z"))
    val pruned = graft.store.Partitioning.readDateRange(spark, dir, from, until)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
    // the month predicate must appear as a PARTITION filter (pruned at
    // planning), not only a data filter
    assert(scan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*date_month".r.findFirstIn(scan).isDefined,
      s"no partition pruning in plan:\n$scan")
    assert(pruned.count() == store.filter(
      col("date") >= from && col("date") < until).count())
  }
}
