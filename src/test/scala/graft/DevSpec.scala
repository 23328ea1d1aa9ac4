package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The dev runner on the shared session: `time` over a query entry and
  * a warm of the one warm table, `plan`, the up-front name check (also
  * Verify's), and the table [[ScaleBench]] picks its warms from. */
class DevSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** What `Dev.run` prints on the calling thread. */
  private def output(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Dev.run(spark, args.toArray))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private def scratchEntries: Set[String] = {
    val root = Sessions.scratchDir.map(Paths.get(_))
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
    val ls = Files.list(root)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-")).toSet
    finally ls.close()
  }

  test("time prints three timed runs with job counts per query and warm") {
    val before = scratchEntries
    val out = output("time", sf, "cache_s87_bm25_index", "q01_pricing_summary")
    Seq("cache_s87_bm25_index", "q01_pricing_summary").foreach { name =>
      val runs = out.flatMap(
        (s"""\\[dev\\] $name \\d+\\.\\d{3} s jobs=(\\d+)""").r.findFirstMatchIn)
      assert(runs.size == 3, out.mkString("\n"))
      assert(runs.forall(_.group(1).toInt > 0), out.mkString("\n"))
    }
    assert(out.exists(_.startsWith("[dev] cache_s87_bm25_index min ")))
    assert(out.exists(_.startsWith("[dev] q01_pricing_summary median ")))
    // the warm left its artifact dir; one clearAll removes it
    assert((scratchEntries -- before).nonEmpty)
    Registries.clearAll()
    assert((scratchEntries -- before).isEmpty)
  }

  test("an unknown name fails before any timing starts") {
    val buf = new java.io.ByteArrayOutputStream
    intercept[IllegalArgumentException] {
      Console.withOut(buf)(Dev.run(spark,
        Array("time", sf, "q01_pricing_summary", "no_such_entry")))
    }
    assert(!buf.toString("UTF-8").contains("[dev]"))
    intercept[IllegalArgumentException](Dev.run(spark, Array("time", sf)))
  }

  test("Verify names its unknown entries and fails before writing a dump") {
    val out = Files.createTempDirectory("graft-verify").resolve("dump")
    val e = intercept[IllegalArgumentException](Verify.main(Array(sf,
      out.toString, "q01_pricing_summary,no_such_entry,d99_nothing")))
    assert(e.getMessage.contains("no_such_entry"), e.getMessage)
    assert(e.getMessage.contains("d99_nothing"), e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary"), e.getMessage)
    assert(!Files.exists(out))
    assert(!spark.sparkContext.isStopped)
  }

  test("plan writes <name>_<suffix>.txt") {
    val dir = Files.createTempDirectory("graft-devplan")
    output("plan", sf, dir.toString, "before", "q01_pricing_summary")
    val plan = dir.resolve("q01_pricing_summary_before.txt")
    assert(Files.readString(plan).contains("Physical Plan"))
    Registries.clearAll()
  }

  test("every ScaleBench item resolves to a table warm or a query entry") {
    val warms = Bench.warms(spark, sf).map(_.name).toSet
    assert(warms.size == Bench.warms(spark, sf).size, "duplicate warm name")
    ScaleBench.Warms.foreach { case (n, _) => assert(warms(n), n) }
    val queries = SparkEntry.queries
    ScaleBench.Heavy.foreach { case (n, _) => assert(queries.contains(n), n) }
  }
}
