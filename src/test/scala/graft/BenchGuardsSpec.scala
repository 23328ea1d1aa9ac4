package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench's noise-rejection machinery is evidence-critical (a bad
  * envelope either hides a real regression or re-runs half the suite):
  * pin its decision table so future edits can't silently change what
  * "inflated" or "committed reference" means.
  */
class BenchGuardsSpec extends AnyFunSuite {

  // ------------------------------------------------ inflated()

  test("inflated requires BOTH >2x relative AND >0.3s absolute") {
    // sub-100ms queries jitter multiplicatively: 3x on 0.1s is noise
    assert(!Bench.inflated(0.3, 0.1))
    // large absolute growth but under 2x: a real-but-mild slowdown,
    // handled by the median, not the re-run path
    assert(!Bench.inflated(1.9, 1.0))
    // both conditions met: re-run
    assert(Bench.inflated(2.5, 1.0))
    // boundary: exactly 2x is NOT inflated (strict >)
    assert(!Bench.inflated(2.0, 1.0))
  }

  test("inflated never fires without a committed reference or on a failed run") {
    assert(!Bench.inflated(10.0, -1.0)) // no committed value
    assert(!Bench.inflated(10.0, 0.0))  // zero/absent reference
    assert(!Bench.inflated(-1.0, 1.0))  // crashed query records -1
  }

  // ------------------------------------- loadCommittedDetail()

  private def writeTmp(content: String): String = {
    val f = Files.createTempFile("bench-detail", ".json")
    f.toFile.deleteOnExit()
    Files.writeString(f, content)
    f.toString
  }

  test("committed detail loads per-query seconds for the matching sf") {
    val p = writeTmp(
      """{"sf":"/data/sf0.1","queries":{"q1":1.25,"q2":0.5}}""")
    val m = Bench.loadCommittedDetail("/data/sf0.1", p)
    assert(m == Map("q1" -> 1.25, "q2" -> 0.5))
  }

  test("a detail recorded at a different scale factor is ignored") {
    // an sf0.01 dev run's envelope would mark every sf0.1 query
    // inflated and double the suite with pointless re-runs
    val p = writeTmp(
      """{"sf":"/data/sf0.01","queries":{"q1":0.01}}""")
    assert(Bench.loadCommittedDetail("/data/sf0.1", p).isEmpty)
  }

  test("missing file, bad JSON, and missing keys all mean no re-runs") {
    assert(Bench.loadCommittedDetail("/data/sf0.1",
      "/nonexistent/noop.json").isEmpty)
    assert(Bench.loadCommittedDetail("/data/sf0.1",
      writeTmp("not json")).isEmpty)
    assert(Bench.loadCommittedDetail("/data/sf0.1",
      writeTmp("""{"sf":"/data/sf0.1"}""")).isEmpty)
    assert(Bench.loadCommittedDetail("/data/sf0.1",
      writeTmp("""{"queries":{"q1":1.0}}""")).isEmpty)
  }

  test("an unreadable committed detail says so on stderr; a missing file or another sf stays silent") {
    def stderrOf(f: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream
      val saved = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try f finally System.setErr(saved)
      buf.toString("UTF-8")
    }
    val bad = writeTmp("not json")
    val said = stderrOf(
      assert(Bench.loadCommittedDetail("/data/sf0.1", bad).isEmpty))
    val lines = said.linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.size == 1 && lines.head.startsWith("[bench]") &&
      lines.head.contains(bad) && lines.head.contains("JsonParse"),
      s"one [bench] line naming the file and the cause, got: $said")
    assert(stderrOf(assert(Bench.loadCommittedDetail("/data/sf0.1",
      "/nonexistent/noop.json").isEmpty)).isEmpty)
    assert(stderrOf(assert(Bench.loadCommittedDetail("/data/sf0.1",
      writeTmp("""{"sf":"/data/sf0.01","queries":{"q1":0.01}}"""))
      .isEmpty)).isEmpty)
  }

  test("the COMMITTED repo envelope matches the bench's declared sf") {
    // the re-run defense is inert if the committed BENCH_DETAIL.json
    // ever records a dev sf — assert the repo artifact stays aligned
    // with the driver's sf0.1 run
    val repo = java.nio.file.Paths.get("BENCH_DETAIL.json")
    assume(Files.exists(repo))
    val m = Bench.loadCommittedDetail("/root/testdata/sf0.1",
      repo.toString)
    assert(m.nonEmpty, "committed BENCH_DETAIL.json must be an sf0.1 envelope")
    assert(m.valuesIterator.forall(v => v > 0 && v < 60),
      "per-query committed values must be positive and sane")
  }

  // ------------------------------------------------ median3()

  test("median3 takes the middle run and flags any throwing run") {
    val times = Iterator(1, 2, 3)
    // deterministic ordering of outcomes isn't observable from the
    // outside; assert the aggregate contracts instead
    assert(Bench.median3(() => { times.next(); () }) >= 0.0)
    var n = 0
    val t = Bench.median3(() => { n += 1; if (n == 2) sys.error("boom") })
    assert(t == -1.0, "a single throwing run must poison the median")
  }

  // --------------------------------------------- writeRecord()

  private def item(n: String, a: Double) = n -> Seq("a" -> a, "b" -> 2.0)

  test("the record writer throws when the target's parent is a regular file") {
    val parent = Files.createTempFile("bench-record", ".json")
    parent.toFile.deleteOnExit()
    intercept[java.io.IOException] {
      Bench.writeRecord(parent.resolve("SCALE_DETAIL.json").toString,
        "\"scale\":\"t\"", Seq(item("x", 1.0)), merge = false)
    }
  }

  test("a subset write keeps the prior items it did not re-measure") {
    val p = writeTmp(
      """{"scale":"t","items":{"x":{"a":1.0,"b":2.5},"y":{"a":0.1,"b":0.2}}}""")
    val line = Bench.writeRecord(p, "\"scale\":\"t\"",
      Seq(item("x", 3.0)), merge = true)
    assert(line == """{"scale":"t","items":{"y":{"a":0.100,"b":0.200},""" +
      """"x":{"a":3.000,"b":2.000}}}""")
    assert(Files.readString(java.nio.file.Paths.get(p)) == line + "\n")
  }

  test("a subset write aborts on a prior record it cannot merge") {
    Seq("not json", """{"scale":"t"}""").foreach { prior =>
      val p = writeTmp(prior)
      intercept[RuntimeException] {
        Bench.writeRecord(p, "\"scale\":\"t\"", Seq(item("x", 1.0)),
          merge = true)
      }
      assert(Files.readString(java.nio.file.Paths.get(p)) == prior)
    }
  }

  test("an item whose volume did not grow round-trips its null exponent through a subset merge") {
    // ScaleBench's exponent is log(ratio) / log(vol): infinite at vol 1
    val expo = math.log(1.2) / math.log(1.0)
    assert(expo.isInfinite)
    val p = writeTmp("")
    val first = Bench.writeRecord(p, "\"scale\":\"t\"",
      Seq("docs_q" -> Seq("a" -> 1.0, "vol" -> 1.0, "exponent" -> expo)),
      merge = false)
    assert(first == """{"scale":"t","items":{"docs_q":""" +
      """{"a":1.000,"vol":1.000,"exponent":null}}}""")
    val merged = Bench.writeRecord(p, "\"scale\":\"t\"",
      Seq(item("x", 3.0)), merge = true)
    assert(merged == """{"scale":"t","items":{"docs_q":""" +
      """{"a":1.000,"vol":1.000,"exponent":null},"x":{"a":3.000,"b":2.000}}}""")
  }
}
