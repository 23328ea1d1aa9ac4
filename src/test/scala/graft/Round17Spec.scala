package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.DedupOps
import graft.functions.{RollingHash64, RollingWindowHash64}

/** Round-17: arbitrary-offset exact substring dedup (d65) and the
  * windowed rolling-hash primitive it rides on. The oracle gate
  * hash-checks the fixture's 37 runs cross-engine; these tests pin
  * what the fixture can't express — the window-hash algebra (every
  * window hash == the whole-string hash of that window, so the
  * prefix-hash range extraction is exact), run MAXIMALITY at
  * arbitrary alignment, the w-token resolution floor, diagonal
  * independence, the hot-hash DF cap, and the cross-doc-only
  * contract. */
class Round17Spec extends AnyFunSuite with SparkSpec {

  // ------------------------------------------ the hash primitive

  test("rolling_window_hash64: every window hash equals the reference hash of that window string") {
    val rnd = new scala.util.Random(17)
    (1 to 60).foreach { _ =>
      val n = rnd.nextInt(30)
      val toks =
        Seq.fill(n)(rnd.alphanumeric.take(1 + rnd.nextInt(9)).mkString)
      val w = 1 + rnd.nextInt(6)
      val got = RollingWindowHash64.windows(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)
            .toArray[Any]), w)
      val exp = (0 to n - w).map(i => RollingHash64.reference(
        toks.slice(i, i + w).mkString(" ").getBytes("UTF-8")))
      assert(got.toLongArray().toSeq == exp,
        s"n=$n w=$w window extraction diverged from rehash")
    }
  }

  test("rolling_window_hash64: multibyte UTF-8 tokens hash byte-correctly (the prefix/power tables are byte-indexed, not char-indexed)") {
    val toks = Seq("héllo", "wörld", "日本語", "ascii", "emoji😀x")
    (1 to 4).foreach { w =>
      val got = RollingWindowHash64.windows(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)
            .toArray[Any]), w)
      val exp = (0 to toks.size - w).map(i => RollingHash64.reference(
        toks.slice(i, i + w).mkString(" ").getBytes("UTF-8")))
      assert(got.toLongArray().toSeq == exp,
        s"w=$w multibyte window extraction diverged from rehash")
    }
  }

  test("rolling_window_hash64: a null token element hashes as the empty string (documented contract)") {
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](UTF8String.fromString("a"), null, UTF8String.fromString("b")))
    val got = RollingWindowHash64.windows(arr, 3).toLongArray().toSeq
    assert(got == Seq(RollingHash64.reference("a  b".getBytes("UTF-8"))),
      "null element must behave as an empty token between two separators")
  }

  test("rolling_window_hash64: codegen path through a DataFrame matches the reference; short docs yield no windows") {
    import spark.implicits._
    val df = Seq((1L, "aa bb cc dd ee ff"), (2L, "x y"), (3L, ""))
      .toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      RollingWindowHash64.rolling_window_hash64(
        graft.ext.TextOps.tokens(col("text")), 5).as("ws"))
      .orderBy("doc_id").collect()
    val toks = Seq("aa", "bb", "cc", "dd", "ee", "ff")
    val exp = (0 to 1).map(i => RollingHash64.reference(
      toks.slice(i, i + 5).mkString(" ").getBytes("UTF-8")))
    assert(rows(0).getSeq[Long](1) == exp)
    assert(rows(1).getSeq[Long](1).isEmpty, "n < w must yield no windows")
    assert(rows(2).getSeq[Long](1).isEmpty, "empty doc must yield no windows")
  }

  // ------------------------------------------ d65 planted fixtures

  /** Run d65 over a planted documents table; rows as
    * (doc_a, doc_b, a_start, b_start, run_tokens). */
  private def planted(
      docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d65-spec").toString
    try {
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      DedupOps.substringRuns(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    } finally Fs.deleteTree(dir)
  }

  test("d65: a shared run at different offsets is reported once, maximal, with exact bounds") {
    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val rows = planted(Seq(
      1L -> s"p1 p2 $shared q1 q2 q3",   // run at tokens 3..11
      2L -> s"r1 r2 r3 r4 r5 r6 $shared t1")) // run at tokens 7..15
    assert(rows == Seq((1L, 2L, 3L, 7L, 9L)),
      s"expected ONE maximal 9-token run at (3,7); got $rows")
  }

  test("d65: exactly w shared tokens form a single-window run; w-1 shared tokens are below the resolution floor") {
    val w5 = "c1 c2 c3 c4 c5"
    assert(planted(Seq(
      1L -> s"a1 a2 $w5 a3", 2L -> s"$w5 b1 b2 b3 b4"))
      == Seq((1L, 2L, 3L, 1L, 5L)))
    val w4 = "c1 c2 c3 c4"
    assert(planted(Seq(
      1L -> s"a1 a2 $w4 a3", 2L -> s"$w4 b1 b2 b3 b4")).isEmpty,
      "a 4-token overlap must be invisible at w=5 (the documented floor)")
  }

  test("d65: two shared runs on different diagonals stay two rows (diagonal independence)") {
    val s = (1 to 5).map(i => s"s$i").mkString(" ")
    val u = (1 to 5).map(i => s"u$i").mkString(" ")
    val rows = planted(Seq(
      1L -> s"$s x1 x2 x3 $u",  // s at 1..5, u at 9..13
      2L -> s"$s y1 $u"))       // s at 1..5, u at 7..11
    assert(rows == Seq((1L, 2L, 1L, 1L, 5L), (1L, 2L, 9L, 7L, 5L)),
      s"runs on diagonals 0 and -2 must not merge; got $rows")
  }

  test("d65: window hashes present in more than runDocCap docs are dropped (hot-hash guard)") {
    val hot = "h1 h2 h3 h4 h5"
    def corpus(n: Int) =
      (1 to n).map(i => i.toLong -> s"f${i}a f${i}b $hot f${i}c")
    // 17 docs sharing the phrase: 17 > cap(16) -> the hash is dropped
    assert(planted(corpus(17)).isEmpty,
      "a window hash in >16 docs must be excluded before pairing")
    // 3 docs sharing it: C(3,2) = 3 pair rows survive
    assert(planted(corpus(3)).map(r => (r._1, r._2)).sorted
      == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("d65: intra-document repeats are not reported (cross-doc contract, doc_a < doc_b)") {
    val p = "z1 z2 z3 z4 z5"
    assert(planted(Seq(1L -> s"$p m1 m2 $p")).isEmpty)
  }

  // ------------------------------------------ k85 rank sketch

  private def segFrame(rows: Seq[(String, Long, Long)],
      segOf: Long => String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.map { case (st, c, u) => (st, c, u, segOf(u)) }
      .toDF("status", "cents", "uid", "seg")
  }

  test("k85: each kept item's cumulative weight inside its segment equals its exact segment rank") {
    val rnd = new scala.util.Random(85)
    val rows = (1L to 500L).map(u => ("A", rnd.nextInt(1000).toLong, u))
    val segOf = (u: Long) => if (u % 3 == 0) "b" else "a"
    val kept = graft.operators.Sketches.rankSampleOf(segFrame(rows, segOf))
      .collect()
    kept.groupBy(_.getAs[String]("seg")).foreach { case (sg, ks) =>
      val segSorted = rows.filter(r => segOf(r._3) == sg)
        .map(r => (r._2, r._3)).sorted
      var cum = 0L
      ks.sortBy(r => (r.getAs[Long]("cents"), r.getAs[Long]("uid")))
        .foreach { k =>
          cum += k.getAs[Long]("weight")
          val rank = segSorted.indexOf(
            (k.getAs[Long]("cents"), k.getAs[Long]("uid"))) + 1
          assert(cum == rank,
            s"cumulative weight $cum != exact segment rank $rank in $sg")
        }
      assert(cum == segSorted.size,
        "the kept set's total weight must equal the segment size")
    }
  }

  test("k85: merged-query rank error is non-negative and strictly under the summed-step bound, for arbitrary segmentations") {
    val rnd = new scala.util.Random(170)
    val segmentations: Seq[Long => String] = Seq(
      u => if (u % 5 == 4) "batch" else "base",
      u => if (u % 2 == 0) "even" else "odd",
      _ => "all")
    segmentations.foreach { segOf =>
      val rows = (1L to 800L).map(u =>
        ((if (u % 2 == 0) "A" else "B"), rnd.nextInt(100000).toLong, u))
      val out = graft.operators.Sketches
        .quantileSketchOf(segFrame(rows, segOf)).collect()
      assert(out.length == 6)
      out.foreach { r =>
        val (err, bound) =
          (r.getAs[Long]("rank_err"), r.getAs[Long]("err_bound"))
        assert(err >= 0 && err < bound,
          s"rank error must sit in [0, bound): $r")
      }
    }
  }

  // ------------------------------------------ d67 banding eval

  test("d67: candidates and recall are monotone in rows-per-band, and the production (4,2) holds full recall under the fixture") {
    val rows = graft.ext.DedupOps
      .lshBandingEval(spark, "/root/testdata/sf0.001").collect()
      .sortBy(_.getAs[Int]("rows_per_band"))
    assert(rows.length == 4)
    val cands = rows.map(_.getAs[Long]("n_candidates")).toSeq
    val recall = rows.map(_.getAs[Long]("recall_ppm")).toSeq
    // looser banding (smaller r) can only ADD band-collision chances:
    // candidate sets are supersets going up the table, recall likewise
    assert(cands == cands.sorted.reverse,
      s"candidates must be non-increasing in r: $cands")
    assert(recall == recall.sorted.reverse,
      s"recall must be non-increasing in r: $recall")
    val prod = rows.find(r => r.getAs[Int]("bands") == 4).get
    assert(prod.getAs[Long]("recall_ppm") == 1000000L,
      "the production (4,2) banding must hold full recall on the fixture")
    assert(prod.getAs[Long]("n_candidates")
      < rows.find(_.getAs[Int]("bands") == 8).get.getAs[Long]("n_candidates"),
      "(4,2) must be strictly cheaper than (8,1) for the eval to justify the knob")
  }

  // ------------------------------------------ d66 ingest gate

  /** Run d66 over a planted documents table; rows as
    * (doc_id, n_runs, best_run_tokens, verdict). doc_id % 5 == 4 is
    * the batch segment, everything else the standing corpus. */
  private def plantedGate(
      docs: Seq[(Long, String)]): Seq[(Long, Long, Long, String)] = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d66-spec").toString
    try {
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      DedupOps.incrSubstringDedup(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    } finally Fs.deleteTree(dir)
  }

  test("d66: the 12-token threshold pins the verdict — a 12-token matched run drops, 11 keeps") {
    val r12 = (1 to 12).map(i => s"r$i").mkString(" ")
    assert(plantedGate(Seq(
      1L -> s"b1 b2 $r12 b3", 4L -> s"x1 $r12 x2"))
      == Seq((4L, 1L, 12L, "dup")))
    val r11 = (1 to 11).map(i => s"r$i").mkString(" ")
    assert(plantedGate(Seq(
      1L -> s"b1 b2 $r11 b3", 4L -> s"x1 $r11 x2"))
      == Seq((4L, 1L, 11L, "keep")))
  }

  test("d66: clean batch docs keep with zero runs, and batch-vs-batch repeats are not the gate's business") {
    val s15 = (1 to 15).map(i => s"s$i").mkString(" ")
    assert(plantedGate(Seq(
      1L -> s"$s15 a1", 2L -> s"c1 $s15", 9L -> "q1 q2 q3 q4 q5 q6"))
      == Seq((9L, 0L, 0L, "keep")),
      "base-vs-base repeats must not leak into the batch verdict")
    assert(plantedGate(Seq(4L -> s"$s15 y1", 9L -> s"z1 $s15"))
      == Seq((4L, 0L, 0L, "keep"), (9L, 0L, 0L, "keep")),
      "the gate is batch-vs-corpus; intra-batch dup is d65's symmetric pass")
  }

  test("k85: the fixture estimate genuinely approximates (nonzero rank_err) and never leaves the bound") {
    val fx = graft.operators.Sketches
      .quantileSketch(spark, "/root/testdata/sf0.001").collect()
    assert(fx.length == 9)
    fx.foreach { r =>
      val (err, bound) =
        (r.getAs[Long]("rank_err"), r.getAs[Long]("err_bound"))
      assert(err >= 0 && err < bound, s"bound violated: $r")
    }
    assert(fx.exists(_.getAs[Long]("rank_err") != 0L),
      "a sketch that is always exact is not discriminating on the fixture")
  }
}
