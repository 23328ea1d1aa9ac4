package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 operators: incremental BM25 index maintenance (s88).
  * The oracle gate proves the absorbed index ranks identically to a
  * from-scratch build; these tests pin the invariants the hash can't
  * express — that the absorb step really is append-only (the base
  * files survive untouched), and that the delta-sidecar aggregation
  * reconstructs the exact full-corpus statistics. */
class Round13Spec extends AnyFunSuite with SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("s88 incremental serve == s85 from-scratch ranking, frame-equal") {
    val incr = graft.ext.SimilarityOps.bm25Incremental(spark, d)
      .collect().map(_.toSeq).toSeq
    val scratch = graft.ext.SimilarityOps.bm25TopK(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(incr == scratch)
  }

  test("s88 absorb appends: base artifact files survive byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s88-spec").toString
    val mk = (ids: Seq[Long]) =>
      ids.map(i => (i, s"alpha beta gamma tok$i")).toDF("doc_id", "text")
    graft.ext.SimilarityOps.writeBm25Segment(mk(0L to 7L), s"$dir/base")
    // every segment's files of one table
    def census(sub: String): Map[String, Long] =
      Seq("base", "delta").flatMap { seg =>
        Option(new java.io.File(s"$dir/$seg/$sub").listFiles()).toSeq
          .flatten.filter(_.getName.endsWith(".parquet"))
          .map(f => s"$seg/${f.getName}" -> f.length())
      }.toMap
    val before =
      Seq("postings", "dfreq", "stats").map(s => s -> census(s)).toMap
    graft.ext.SimilarityOps.writeBm25Segment(mk(8L to 9L), s"$dir/delta")
    Seq("postings", "dfreq", "stats").foreach { sub =>
      val after = census(sub)
      before(sub).foreach { case (name, len) =>
        assert(after.get(name).contains(len),
          s"$sub/$name was rewritten or removed by the absorb")
      }
      assert(after.size > before(sub).size,
        s"$sub gained no files — absorb did not append")
    }
    // delta-sidecar aggregation reconstructs full-corpus statistics
    val stats = spark.read.parquet(s"$dir/base/stats", s"$dir/delta/stats")
      .agg(sum("n_docs"), sum("sum_dl")).head()
    assert(stats.getLong(0) == 10L)
    assert(stats.getLong(1) == 40L) // 10 docs x 4 tokens
    val df = spark.read.parquet(s"$dir/base/dfreq", s"$dir/delta/dfreq")
      .groupBy("term").agg(sum("df").as("df"))
      .filter(col("term") === "alpha").head().getLong(1)
    assert(df == 10L, "df deltas must sum to the full-corpus df")
  }

  test("t67 shuffle: every doc placed once, positions contiguous per shard") {
    val rows = graft.ext.TextOps.epochShuffle(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = graft.Tables.documents(spark, d).count()
    assert(rows.map(_._1).distinct.length.toLong == n,
      "each document must appear exactly once")
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      val pos = rs.map(_._3).sorted
      assert(pos.head == 1L && pos.last == pos.length.toLong &&
        pos.distinct.length == pos.length,
        s"shard $shard positions must be contiguous 1..n")
    }
  }

  test("s90/s91: IVF blocking beats the LSH bands under the same eval") {
    import spark.implicits._
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg("recall_at_3")).head().getDouble(0)
    val lsh = mean(graft.ext.SimilarityOps.knnGraphRecall(spark, d))
    val ivf = mean(graft.ext.SimilarityOps.ivfKnnGraphRecall(spark, d))
    val mp = mean(graft.ext.SimilarityOps.multiprobeKnnGraphRecall(spark, d))
    assert(ivf > lsh,
      s"the IVF-blocked graph ($ivf) must out-recall the band graph ($lsh)")
    assert(mp > ivf,
      s"multi-probe ($mp) must out-recall single-probe ($ivf)")
    // full coverage: every vector receives a complete neighbor list
    val n = graft.Tables.embeddings(spark, d).count()
    assert(graft.ext.SimilarityOps.ivfKnnGraph(spark, d).count() == 3 * n)
  }

  test("s90 guard: a giant cell sub-splits, pairs stay ~n*cap") {
    import spark.implicits._
    // one cell of 90 vectors: unguarded pairs = 90*89 = 8010; cap=10
    // forces nsub=9, bounding pairs near n*cap while every vector
    // keeps neighbors from its own sub-block
    val a = (0L until 90L).map(i => (7L, i, Seq(i.toDouble, 1.0)))
      .toDF("cid", "vec_id", "v")
    val unguarded = graft.ext.SimilarityOps.cellPairs(a, 1024L).count()
    assert(unguarded == 90L * 89L)
    val split = graft.ext.SimilarityOps.cellPairs(a, 10L)
    val n = split.count()
    assert(n < unguarded / 4,
      s"sub-split must cut the pair space (got $n of $unguarded)")
    // every vector still appears on the a-side (its sub-block is
    // non-singleton with overwhelming probability at 90/9=10 per sub;
    // assert the weaker but deterministic-enough full-coverage bound)
    val covered = split.select("a_id").distinct().count()
    assert(covered >= 85,
      s"sub-split must keep near-full coverage (covered $covered/90)")
  }

  test("t68: a planted benchmark excerpt inside a long doc is caught") {
    import spark.implicits._
    val benchText = (0 until 20).map("bench" + _).mkString(" ") // 2 passages
    val cleanText = (0 until 30).map("clean" + _).mkString(" ")
    val docs = Seq(
      (97L, benchText),                      // %97==0 → the benchmark doc
      (1L, cleanText),                       // clean training doc
      // training doc embedding the excerpt at a passage-ALIGNED offset
      // (10 filler tokens, then the benchmark's 20)
      (2L, ((0 until 10).map("fill" + _) ++
        (0 until 20).map("bench" + _)).mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.ext.DedupOps.passageDecontamOf(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(!out.contains(97L), "benchmark docs are not audited rows")
    assert(out(1L)._2 == 0L, "the clean doc must show zero hits")
    assert(out(2L) == ((3L, 2L, 666666L)),
      s"both embedded benchmark passages must hit (got ${out(2L)})")
  }

  test("v75 quarantine: exactly the 3 planted bad lines, parse lossless") {
    val census = graft.ingest.Validation.jsonlIngest(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(census("_corrupt") == ((3L, 0L)))
    val truth = graft.Tables.documents(spark, d)
      .groupBy("source").agg(count(lit(1)), sum("n_chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(census.removed("_corrupt") == truth,
      "valid JSONL rows must reproduce the parquet census exactly")
  }
}
