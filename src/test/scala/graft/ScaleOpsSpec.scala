package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.Bucketing

/** Scale utilities: alternative physical plans with identical output,
  * partition pruning, bucketed joins eliminating exchanges. */
class ScaleOpsSpec extends AnyFunSuite with SparkSpec {

  test("scored-pairs broadcast-array plan equals the exchange plan") {
    // d51/d55's shared pair frame has two physical strategies (the
    // default groupBy-count exchange vs the zero-agg-state
    // broadcast-array streamed verify, kept as the recorded
    // alternative — measured trade-off in the scoredPairsPlan
    // scaladoc) — their OUTPUT must be identical row for row
    val d = "/root/testdata/sf0.01"
    def rows(bc: Boolean) =
      graft.ext.DedupOps.scoredPairsPlan(spark, d, broadcastArrays = bc)
        .orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
    val bcRows = rows(true)
    assert(bcRows == rows(false))
    assert(bcRows.nonEmpty) // fixture corpus has near-dup pairs to score
  }

  test("date-partitioned store prunes partitions on range reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val store = graft.graph.GraphOps.demoStore(spark) // dates across May 2001
    graft.store.Partitioning.writeByMonth(store, dir)
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

  test("bucketed join on matching buckets plans without shuffle") {
    val d = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(
        Tables.lineitem(spark, d).select("l_orderkey", "l_quantity")
          .withColumnRenamed("l_orderkey", "k"),
        "b_lineitem", "k", numBuckets = 8, sortBy = Some("k"))
      Bucketing.writeBucketed(
        Tables.orders(spark, d).select("o_orderkey", "o_totalprice")
          .withColumnRenamed("o_orderkey", "k"),
        "b_orders", "k", numBuckets = 8, sortBy = Some("k"))
      val joined = Bucketing.joinBucketed(spark, "b_lineitem", "b_orders", "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should have no shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }
}
