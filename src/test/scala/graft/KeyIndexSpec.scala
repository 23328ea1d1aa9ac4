package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{KeyIndex, PartitionedEmailStore}

/** The partitioned upsert probes its (dedupe_key → date_month) index
  * once per batch, reading only the batch's existing `kb=` dirs. Edge
  * cases of that probe: buckets with no dir yet, batches of only new
  * keys, batches wider than Spark's parallel-listing threshold (32
  * paths). The index sizes its bucket count B to its contents: an
  * index without a recorded B is rebuilt, and one that outgrows B is
  * re-bucketed. After every upsert the index must equal a full rebuild
  * from the store it indexes. */
class KeyIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val months = Seq("Jan", "Feb", "Mar", "Apr")

  private def batch(ids: Seq[(Int, Int)]): DataFrame = {
    val docs = ids.map { case (id, m) =>
      (s"mem://$id", graft.codec.Rfc822Parser.parse(
        (s"Message-ID: <k$id@x>\r\nDate: 10 ${months(m)} 2001 10:00:00 +0000\r\n" +
          s"From: a@x.com\r\nTo: b@x.com\r\nSubject: s$id\r\n\r\nbody $id").getBytes,
        s"u${id % 3}", "f", s"${id}_"))
    }
    spark.createDataset(docs).toDF("path", "doc").select(col("path"), col("doc.*"))
  }

  private def bucketOf(store: PartitionedEmailStore,
      ids: Seq[Int]): Map[Int, Int] =
    ids.map(i => (i, s"<k$i@x>")).toDF("id", "dedupe_key")
      .select(col("id"), pmod(hash(col("dedupe_key")),
        lit(store.index.numBuckets)))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap

  private def kbDirs(store: PartitionedEmailStore): Set[Int] =
    new java.io.File(store.index.path).listFiles()
      .map(_.getName).filter(_.startsWith("kb="))
      .map(_.stripPrefix("kb=").toInt).toSet

  private def entries(path: String): Set[(String, String, Int)] =
    spark.read.parquet(path).select("dedupe_key", "date_month", "kb")
      .as[(String, String, Int)].collect().toSet

  /** The index holds exactly a rebuild's entries, bucketed by its own
    * B: a rebuild sizes B from scratch, while a refreshed index keeps
    * the B its history grew to. */
  private def assertIndexIsRebuild(store: PartitionedEmailStore,
      scratch: java.nio.file.Path): Unit = {
    val ref = new KeyIndex(spark,
      Files.createTempDirectory(scratch, "ref").toString)
    ref.rebuild(store.read().select("dedupe_key", "date_month"))
    assert(store.index.exists)
    val b = store.index.numBuckets
    val want = spark.read.parquet(ref.path)
      .select(col("dedupe_key"), col("date_month"),
        pmod(hash(col("dedupe_key")), lit(b)))
      .as[(String, String, Int)].collect().toSet
    assert(entries(store.index.path) == want)
    assert(kbDirs(store).forall(_ < b))
    // and the store still holds each key once
    assert(store.read().groupBy("dedupe_key").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("probe edge cases and random upserts keep the index equal to a rebuild") {
    val dir = Files.createTempDirectory("graft-kidx-edge")
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    store.upsert(batch(Seq(1 -> 0, 2 -> 1, 3 -> 2)))
    assertIndexIsRebuild(store, dir)
    // three keys fit one bucket at the default advisory size: rebuild
    // at a tiny one so the steps below probe a many-bucket index
    withAdvisorySize("8b") {
      store.index.rebuild(store.read().select("dedupe_key", "date_month"))
    }
    assert(store.index.numBuckets >= 64)
    assertIndexIsRebuild(store, dir)

    // keys whose buckets have no kb= dir yet: the probe reads nothing
    val present = kbDirs(store)
    val absent = bucketOf(store, 100 until 400).toSeq
      .filterNot { case (_, b) => present(b) }
      .groupBy(_._2).values.map(_.head._1).toSeq.sorted.take(2)
    assert(absent.length == 2)
    store.upsert(batch(absent.map(_ -> 3)))
    assert(bucketOf(store, absent).values.forall(kbDirs(store)))
    assert(store.index.monthsFor(absent.map(i => s"<k$i@x>").toDF("dedupe_key"))
      .as[String].collect().toSeq == Seq("2001-04"))
    assertIndexIsRebuild(store, dir)

    // only new keys, into buckets that may already exist
    store.upsert(batch((500 until 506).map(i => i -> (i % 4))))
    assertIndexIsRebuild(store, dir)

    // more buckets than the parallel-listing threshold
    val wide = 600 until 720
    assert(bucketOf(store, wide).values.toSet.size > 32)
    store.upsert(batch(wide.map(i => i -> (i % 4)) :+ (1 -> 3)))
    assertIndexIsRebuild(store, dir)
    // key 1 kept its first writer's month
    assert(store.index.monthsFor(Seq("<k1@x>").toDF("dedupe_key"))
      .as[String].collect().toSeq == Seq("2001-01"))
    // more EXISTING kb= dirs than the threshold: every wide key
    // redelivered in another month must keep its first month
    assert((bucketOf(store, wide).values.toSet intersect kbDirs(store)).size > 32)
    store.upsert(batch(wide.map(i => i -> ((i + 1) % 4))))
    assertIndexIsRebuild(store, dir)
    assert(store.read()
      .filter(col("dedupe_key").isin(wide.map(i => s"<k$i@x>"): _*))
      .select("dedupe_key", "date_month").as[(String, String)].collect()
      .toMap == wide.map(i => s"<k$i@x>" -> s"2001-0${i % 4 + 1}").toMap)

    // seeded random upserts: overlapping keys, shifting months
    val rng = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      store.upsert(batch(Seq.fill(1 + rng.nextInt(12))(
        (rng.nextInt(800), rng.nextInt(4)))))
      assertIndexIsRebuild(store, dir)
    }
  }

  private def indexFiles(store: PartitionedEmailStore): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(new java.io.File(store.index.path))
  }

  test("an index marker without a bucket count reads as absent and is rebuilt") {
    val dir = Files.createTempDirectory("graft-kidx-legacy")
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    store.upsert(batch(Seq(1 -> 0, 2 -> 1, 3 -> 2)))
    // the layout of an index written with the fixed 64 buckets: kb dirs
    // of pmod(hash, 64) and an empty validity marker
    store.read()
      .select(col("dedupe_key"), col("date_month"),
        pmod(hash(col("dedupe_key")), lit(64)).as("kb"))
      .write.mode("overwrite").partitionBy("kb").parquet(store.index.path)
    Files.write(Paths.get(store.index.path, "_GRAFT_INDEX_OK"), Array[Byte]())
    assert(kbDirs(store).exists(_ > 0) && !store.index.exists)

    // key 1 redelivered in another month: the bootstrap rebuild must
    // still find the month that holds it
    store.upsert(batch(Seq(4 -> 3, 1 -> 2)))
    assert(store.index.numBuckets == 1 && kbDirs(store) == Set(0))
    assertIndexIsRebuild(store, dir)
    assert(store.index.monthsFor(Seq("<k1@x>").toDF("dedupe_key"))
      .as[String].collect().toSeq == Seq("2001-01"))
  }

  test("an index that outgrows its buckets is re-bucketed and still prunes") {
    val dir = Files.createTempDirectory("graft-kidx-grow")
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    store.upsert(batch((1 to 40).map(i => i -> (i % 4))))
    assert(store.index.numBuckets == 1 && indexFiles(store) == 1)
    val bytes = Files.walk(Paths.get(store.index.path)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    // an advisory size 1/16 of the index: the next refresh leaves the
    // index above B × advisory, so it re-buckets
    withAdvisorySize(s"${bytes / 16}b") {
      store.upsert(batch((35 to 60).map(i => i -> ((i + 1) % 4))))
    }
    assert(store.index.numBuckets >= 16)
    assertIndexIsRebuild(store, dir)
    // redelivered keys kept their first month
    assert(store.index.monthsFor(Seq("<k35@x>").toDF("dedupe_key"))
      .as[String].collect().toSeq == Seq("2001-04"))

    // the probe of one key reads one bucket's file, not the index
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = store.index.monthsFor(Seq("<k7@x>").toDF("dedupe_key"))
      assert(probe.collect().map(_.getString(0)).toSeq == Seq("2001-04"))
      val scanned = probe.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
      assert(scanned == 1 && indexFiles(store) >= 8,
        s"scanned=$scanned of ${indexFiles(store)} index files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)

    // later upserts at the default size keep the grown B
    val b = store.index.numBuckets
    store.upsert(batch(Seq(61 -> 0, 1 -> 3)))
    assert(store.index.numBuckets == b)
    assertIndexIsRebuild(store, dir)
  }
}
