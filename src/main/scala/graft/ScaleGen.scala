package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up data generator for the SCALING REHEARSAL (not the oracle
  * gate): synthesizes an sf1-shaped dataset (10× sf0.1) so the heavy
  * tiers' time-vs-volume exponents can be MEASURED instead of argued
  * from plan shape. The driver's own generator is not available here,
  * so each table scales by the process that preserves what the
  * measurement needs:
  *
  *  - relational tables (customer/supplier/part/orders/lineitem) and
  *    events replicate ×N with consistent key offsets — join fan-outs,
  *    per-order/per-user row counts, and value distributions are
  *    preserved EXACTLY, key cardinalities scale ×N (matching how the
  *    driver's own sf0.01→sf0.1 step scales them);
  *  - documents REGENERATE under the observed process (uniform words
  *    from the corpus' 31-word vocab, 10–100 words/doc, lang/source
  *    marginals, ~0.16% injected exact-dup pairs) — naive ×N text
  *    replication would hand every doc N-1 exact twins and inflate the
  *    near-dup tiers' candidate-pair density ~N× beyond what the real
  *    generator produces, corrupting exactly the exponent under test;
  *  - embeddings regenerate as uniform unit vectors (matching the
  *    observed per-dim moments) at the driver's own sub-linear count
  *    curve (500 → 2000 per ×10, i.e. ×4 per decade).
  *
  * Deterministic (fixed seeds, stable row order) — two runs produce
  * byte-identical inputs for A/B timing. Writes nothing outside the
  * target dir. */
object ScaleGen {

  private val Langs = Seq("en" -> 0.41, "de" -> 0.148, "es" -> 0.148,
    "fr" -> 0.148, "zh" -> 0.146)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local()
    try generate(spark, src, out, factor)
    finally spark.stop()
  }

  /** Single parquet FILE per table, like the driver's layout — the
    * streaming twins symlink "$dir/<name>.parquet" as a file, and a
    * single file stays splittable by row group for batch parallelism. */
  private def writeSingleFile(df: DataFrame,
      outDir: java.nio.file.Path, name: String): Unit = {
    Fs.writeSingleParquet(df, outDir.resolve(s"$name.parquet"))
    ()
  }

  /** The documents regeneration alone (see class doc) — reusable by the
    * sf10 decade probe, which needs ONLY documents at ×100 (its three
    * target tiers scan nothing else; generating lineitem ×100 through
    * the single-file writer would cost minutes for no measurement).
    *
    * Driver-resident by design UP TO the sf10 decade: the sequential
    * seeded Random makes the corpus deterministic, and at sf10
    * (~500 k docs × ~330 B) the three driver-side collections total
    * well under 1 GiB. The NEXT decade (5 M docs) should switch to a
    * per-id-seeded `spark.range` generation — noted here rather than
    * changed now because re-seeding would regenerate a different
    * corpus and invalidate the committed SCALE measurements. */
  def generateDocuments(spark: SparkSession, src: String, out: String,
      factor: Int): Int = {
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
    val vocab = srcDocs
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().orderBy("w").collect().map(_.getString(0))
    val nDocs = (srcDocs.count() * factor).toInt
    val rnd = new scala.util.Random(421L)
    def pickLang(): String = {
      val r = rnd.nextDouble(); var acc = 0.0
      Langs.collectFirst {
        case (l, p) if { acc += p; r < acc } => l
      }.getOrElse(Langs.last._1)
    }
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { id =>
      val nWords = 10 + rnd.nextInt(91)
      texts(id) = Array.fill(nWords)(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
      (id.toLong, texts(id), pickLang(), s"src${id % 20}")
    }.toArray
    // exact-dup injection at the observed ~0.16% pair rate
    val nPairs = math.max(1, math.round(nDocs * 0.0016).toInt)
    val dupped = docs.clone()
    (0 until nPairs).foreach { _ =>
      val a = rnd.nextInt(nDocs); val b = rnd.nextInt(nDocs)
      if (a != b) {
        val hi = math.max(a, b)
        val (_, _, lang, sourceTag) = dupped(hi)
        dupped(hi) = (hi.toLong, texts(math.min(a, b)), lang, sourceTag)
      }
    }
    import spark.implicits._
    writeSingleFile(dupped.toSeq
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32), outDir, "documents")
    nDocs
  }

  def generate(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    def write(df: DataFrame, name: String): Unit =
      writeSingleFile(df, outDir, name)

    // fixed dims: verbatim copy
    Seq("region", "nation").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }

    // key cardinality = max+1 (keys are 0-based contiguous in the
    // driver data; derived, not hardcoded, so the generator also
    // composes on its own output)
    def card(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** ×factor with per-key offsets keeping foreign keys aligned. */
    def replicate(df: DataFrame, offsets: Seq[(String, Long)]): DataFrame = {
      val reps = spark.range(factor.toLong).toDF("__rep")
      val crossed = df.crossJoin(reps)
      offsets.foldLeft(crossed) { case (d, (c, step)) =>
        d.withColumn(c, col(c) + col("__rep") * lit(step))
      }.drop("__rep")
    }

    val cust = spark.read.parquet(s"$src/customer.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val nCust = card(cust, "c_custkey")
    val nSupp = card(supp, "s_suppkey")
    val nPart = card(part, "p_partkey")
    val nOrd = card(ord, "o_orderkey")
    val nEvId = card(ev, "event_id")
    val nUser = card(ev, "user_id")

    write(replicate(cust, Seq("c_custkey" -> nCust)), "customer")
    write(replicate(supp, Seq("s_suppkey" -> nSupp)), "supplier")
    write(replicate(part, Seq("p_partkey" -> nPart)), "part")
    write(replicate(ord,
      Seq("o_orderkey" -> nOrd, "o_custkey" -> nCust)), "orders")
    write(replicate(li, Seq("l_orderkey" -> nOrd,
      "l_partkey" -> nPart, "l_suppkey" -> nSupp)), "lineitem")
    // ts stays fixed: ×factor events inside the same wall-clock window
    // is exactly how the driver's sf steps densify the stream
    write(replicate(ev,
      Seq("event_id" -> nEvId, "user_id" -> nUser)), "events")

    // ---- documents: regenerate under the observed process
    val nDocs = generateDocuments(spark, src, out, factor)

    // ---- embeddings: driver curve is ×4 per ×10 corpus
    import spark.implicits._
    val srcEmb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = srcEmb.select(size(col("embedding"))).head().getInt(0)
    val embFactor = if (factor == 10) 4 else factor
    val nEmb = (srcEmb.count() * embFactor).toInt
    val ernd = new scala.util.Random(842L)
    val embs = (0 until nEmb).map { id =>
      val v = Array.fill(dim)(ernd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id.toLong, v.map(_ / n), ernd.nextInt(10))
    }
    write(embs.toDF("vec_id", "embedding", "label").repartition(32),
      "embeddings")

    println(s"[scalegen] wrote $out: docs=$nDocs emb=$nEmb " +
      s"lineitem=${li.count() * factor} events=${ev.count() * factor}")
  }
}
