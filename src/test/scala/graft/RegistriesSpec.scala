package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The per-session cache lifecycle: [[ArtifactRegistry]]'s build and
  * clear contract, and one [[Registries.clearAll]] releasing every
  * tier's frames and artifact dirs. */
class RegistriesSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def entriesNamed(root: java.nio.file.Path, prefix: String) = {
    val ls = Files.list(root)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  test("a throwing build leaves no dir behind, and the next call rebuilds") {
    val reg = new ArtifactRegistry
    var failedDir: String = null
    val e = intercept[IllegalStateException] {
      reg.getOrBuild(spark, sf, "spec-throw") { dir =>
        failedDir = dir
        Files.write(Paths.get(dir, "half-made"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(!Files.exists(Paths.get(failedDir)))
    assert(entriesNamed(Paths.get(failedDir).getParent, "graft-spec-throw-")
      .isEmpty)
    val builds = new AtomicInteger
    val dir = reg.getOrBuild(spark, sf, "spec-throw")(_ =>
      { builds.incrementAndGet(); () })
    assert(builds.get == 1 && Files.isDirectory(Paths.get(dir)))
    reg.clear()
  }

  test("two threads racing on one name share one build and one dir") {
    val reg = new ArtifactRegistry
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    def get() = Future {
      start.await()
      reg.getOrBuild(spark, sf, "spec-race") { _ =>
        builds.incrementAndGet(); Thread.sleep(300)
      }
    }
    try {
      val both = Seq(get(), get())
      start.countDown()
      val dirs = Await.result(Future.sequence(both), 1.minute)
      assert(builds.get == 1)
      assert(dirs.distinct.size == 1)
    } finally { pool.shutdown(); reg.clear() }
  }

  test("a clear racing an in-flight build waits for it, then deletes its dir") {
    val reg = new ArtifactRegistry
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    var built: String = null
    val builder = new Thread(() => {
      built = reg.getOrBuild(spark, sf, "spec-inflight") { dir =>
        started.countDown()
        Thread.sleep(500)
        Files.write(Paths.get(dir, "payload"), Array[Byte](1))
        finished.set(true)
      }
    })
    builder.start()
    started.await()
    reg.clear()
    assert(finished.get, "clear returned before the in-flight build ended")
    builder.join()
    assert(!Files.exists(Paths.get(built)))
    val again = reg.getOrBuild(spark, sf, "spec-inflight")(_ => ())
    assert(again != built && Files.isDirectory(Paths.get(again)))
    reg.clear()
  }

  test("clearing one entry name leaves the names that extend it") {
    val reg = new ArtifactRegistry
    def get(name: String) = reg.getOrBuild(spark, sf, name)(_ => ())
    val names = Seq("bm25", "bm25incr", "bm25compact", "ivfpq", "incr")
    val dirs = names.map(n => n -> get(n)).toMap
    reg.clear("bm25")
    assert(!Files.exists(Paths.get(dirs("bm25"))))
    reg.clear("ivfpq")
    assert(!Files.exists(Paths.get(dirs("ivfpq"))))
    Seq("bm25incr", "bm25compact", "incr").foreach { n =>
      assert(Files.isDirectory(Paths.get(dirs(n))), n)
      assert(get(n) == dirs(n), s"$n was rebuilt")
    }
    reg.clear()
  }

  test("one clearAll releases every tier's frames and artifact dirs") {
    // start from an empty cache: frames other suites cached themselves
    // are not this spec's subject
    Registries.clearAll()
    spark.catalog.clearCache()
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val dirEntries: Seq[(String, () => String, String => Seq[String])] = Seq(
      ("jsonl", () => graft.ingest.Validation.stagedJsonl(spark, sf),
        d => rows(spark.read.text(d))),
      ("census", () => graft.operators.Sketches.censusDir(spark, sf),
        d => rows(spark.read.parquet(s"$d/census"))),
      ("bm25", () => graft.ext.SimilarityOps.bm25Segments(spark, sf).head.dir,
        d => rows(spark.read.parquet(s"$d/postings"))),
      ("windex", () => graft.ext.DedupOps.windowIndexDir(spark, sf),
        d => rows(spark.read.parquet(s"$d/windex"))),
      ("bpe", () => graft.ext.TextOps.bpeVocabDir(spark, sf),
        d => rows(spark.read.parquet(s"$d/vocab"))),
      ("stream", () => graft.streaming.StreamingOps
        .stageFile(spark, sf, "documents.parquet"),
        d => rows(spark.read.parquet(d))))
    val frameEntries: Seq[(String, () => DataFrame)] = Seq(
      ("store", () => graft.query.FixtureCorpus.store(spark, sf)),
      ("em74", () => graft.query.EmailOps.retainedStore(spark, sf)))

    def snapshot() = (
      dirEntries.map { case (n, build, read) =>
        val d = build(); (n, d, read(d)) },
      frameEntries.map { case (n, build) => (n, rows(build())) })
    val (dirs, frames) = snapshot()
    assert(!spark.sharedState.cacheManager.isEmpty)

    Registries.clearAll()
    dirs.foreach { case (n, d, _) =>
      assert(!Files.exists(Paths.get(d)), s"$n: $d survived clearAll") }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a cached frame survived clearAll")
    Registries.clearAll()
    assert(spark.sharedState.cacheManager.isEmpty)

    val (dirs2, frames2) = snapshot()
    dirs.zip(dirs2).foreach { case ((n, d, r), (_, d2, r2)) =>
      assert(d2 != d, s"$n: rebuilt into the deleted dir")
      assert(r2 == r, s"$n: rebuild differs")
    }
    assert(frames2 == frames)
    Registries.clearAll()
  }
}
