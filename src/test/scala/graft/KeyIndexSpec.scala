package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{KeyIndex, PartitionedEmailStore}

/** The partitioned upsert probes its (dedupe_key → date_month) index
  * once per batch, reading only the batch's existing `kb=` dirs. Edge
  * cases of that probe: buckets with no dir yet, batches of only new
  * keys, batches wider than Spark's parallel-listing threshold (32
  * paths). After every upsert the index must equal a full rebuild from
  * the store it indexes. */
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

  private def bucketOf(ids: Seq[Int]): Map[Int, Int] =
    ids.map(i => (i, s"<k$i@x>")).toDF("id", "dedupe_key")
      .select(col("id"), pmod(hash(col("dedupe_key")), lit(64)))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap

  private def kbDirs(store: PartitionedEmailStore): Set[Int] =
    new java.io.File(store.index.path).listFiles()
      .map(_.getName).filter(_.startsWith("kb="))
      .map(_.stripPrefix("kb=").toInt).toSet

  private def entries(path: String): Set[(String, String, Int)] =
    spark.read.parquet(path).select("dedupe_key", "date_month", "kb")
      .as[(String, String, Int)].collect().toSet

  private def assertIndexIsRebuild(store: PartitionedEmailStore,
      scratch: java.nio.file.Path): Unit = {
    val ref = new KeyIndex(spark,
      Files.createTempDirectory(scratch, "ref").toString)
    ref.rebuild(store.read().select("dedupe_key", "date_month"))
    assert(store.index.exists)
    assert(entries(store.index.path) == entries(ref.path))
    // and the store still holds each key once
    assert(store.read().groupBy("dedupe_key").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("probe edge cases and random upserts keep the index equal to a rebuild") {
    val dir = Files.createTempDirectory("graft-kidx-edge")
    val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
    store.upsert(batch(Seq(1 -> 0, 2 -> 1, 3 -> 2)))
    assertIndexIsRebuild(store, dir)

    // keys whose buckets have no kb= dir yet: the probe reads nothing
    val present = kbDirs(store)
    val absent = bucketOf(100 until 400).toSeq
      .filterNot { case (_, b) => present(b) }
      .groupBy(_._2).values.map(_.head._1).toSeq.sorted.take(2)
    assert(absent.length == 2)
    store.upsert(batch(absent.map(_ -> 3)))
    assert(bucketOf(absent).values.forall(kbDirs(store)))
    assert(store.index.monthsFor(absent.map(i => s"<k$i@x>").toDF("dedupe_key"))
      .as[String].collect().toSeq == Seq("2001-04"))
    assertIndexIsRebuild(store, dir)

    // only new keys, into buckets that may already exist
    store.upsert(batch((500 until 506).map(i => i -> (i % 4))))
    assertIndexIsRebuild(store, dir)

    // more buckets than the parallel-listing threshold
    val wide = 600 until 720
    assert(bucketOf(wide).values.toSet.size > 32)
    store.upsert(batch(wide.map(i => i -> (i % 4)) :+ (1 -> 3)))
    assertIndexIsRebuild(store, dir)
    // key 1 kept its first writer's month
    assert(store.index.monthsFor(Seq("<k1@x>").toDF("dedupe_key"))
      .as[String].collect().toSeq == Seq("2001-01"))
    // more EXISTING kb= dirs than the threshold: every wide key
    // redelivered in another month must keep its first month
    assert((bucketOf(wide).values.toSet intersect kbDirs(store)).size > 32)
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
}
