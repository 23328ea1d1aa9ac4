package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.store.PartitionedEmailStore

/** Spark keeps generated classes in a per-JVM cache; at its default of
  * 100 entries the engine's working set does not fit, and every evicted
  * class is compiled again (and its bytecode JIT-compiled again) the
  * next time its query shape runs. With the session builder's cache
  * size, an upsert's classes outlive 160 other generated classes. */
class CodegenCacheSpec extends AnyFunSuite with SparkSpec {

  test("an upsert's generated classes outlive 160 other classes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-codegen")
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    def batch(ids: Seq[Int]) =
      spark.createDataset(ids.map { id =>
        (s"mem://$id", graft.codec.Rfc822Parser.parse(
          (s"Message-ID: <g$id@x>\r\nDate: 10 Jan 2001 10:00:00 +0000\r\n" +
            s"From: a@x.com\r\nTo: b@x.com\r\nSubject: s$id\r\n\r\nbody $id")
            .getBytes, "u", "f", s"${id}_"))
      }).toDF("path", "doc").select(col("path"), col("doc.*"))

    store.upsert(batch(1 to 5))   // bootstrap: the empty-store path
    store.upsert(batch(3 to 8))   // the incremental path, compiled once
    // 160 distinct classes: each literal is inlined into its own code
    (1 to 160).foreach(i => spark.range(3).selectExpr(s"id * $i").collect())
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    store.upsert(batch(3 to 8))   // the same shape again
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
    assert(store.read().count() == 8)
  }
}
