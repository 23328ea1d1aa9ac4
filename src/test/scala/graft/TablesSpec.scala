package graft

import org.scalatest.funsuite.AnyFunSuite

/** The parquet schema memo: the schema at a path (a driver table or an
  * artifact table) is inferred (one Spark job) once per (session,
  * path), later reads pass it, and [[Registries.clearAll]] releases
  * it. */
class TablesSpec extends AnyFunSuite with SparkSpec {

  /** A fresh dir holding a `documents` table no read has seen yet. */
  private def tableDir(): String = {
    import spark.implicits._
    val dir = Fs.scratchTempDir("graft-tables-spec").toString
    Seq((1L, "a b")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("a second read of a table in one session starts no Spark job") {
    val d = tableDir()
    assert(jobsDuring(Tables.documents(spark, d)).nonEmpty)
    assert(jobsDuring(Tables.documents(spark, d)).isEmpty)
  }

  test("a second read of an artifact path in one session starts no Spark job") {
    import spark.implicits._
    val path = Fs.scratchTempDir("graft-tables-spec").toString + "/postings"
    Seq(("a", 1L)).toDF("term", "doc_id").write.parquet(path)
    assert(jobsDuring(Tables.parquet(spark, path)).nonEmpty)
    assert(jobsDuring(Tables.parquet(spark, path)).isEmpty)
  }

  test("after clearAll the next read resolves the schema again") {
    val d = tableDir()
    Tables.documents(spark, d)
    assert(jobsDuring(Tables.documents(spark, d)).isEmpty)
    Registries.clearAll()
    assert(jobsDuring(Tables.documents(spark, d)).nonEmpty)
  }
}
