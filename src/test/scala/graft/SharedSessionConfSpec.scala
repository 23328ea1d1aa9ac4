package graft

import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Batch entries share one session without writing its conf: two of
  * them run at once and still return their sequential rows, while
  * `spark.sql.shuffle.partitions` never moves. The streaming drains'
  * scoped width setter, the one remaining writer, restores the session
  * value even when its body throws. */
class SharedSessionConfSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val key = "spark.sql.shuffle.partitions"

  test("g94 and d67 on two threads return the sequential rows and never move the shuffle width") {
    val original = spark.conf.get(key)
    def g94() = graft.graph.GraphOps.pagerankFixed(spark, sf).collect().toSeq
    def d67() = graft.ext.DedupOps.lshBandingEval(spark, sf).collect().toSeq
    val (g94Rows, d67Rows) = (g94(), d67())
    assert(g94Rows.nonEmpty && d67Rows.nonEmpty)

    val seen = ConcurrentHashMap.newKeySet[String]()
    val done = new AtomicBoolean(false)
    val watcher = new Thread(() =>
      while (!done.get) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    watcher.start()
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val both = Await.result(
        Future.sequence(Seq(Future(g94()), Future(d67()))), 10.minutes)
      assert(both == Seq(g94Rows, d67Rows))
    } finally {
      done.set(true); watcher.join(); pool.shutdown()
    }
    assert(seen.asScala == Set(original),
      s"the shuffle width moved during the concurrent runs: $seen")
    assert(spark.conf.get(key) == original)
  }

  test("the streaming drain width setter restores the session value when the drain throws") {
    val original = spark.conf.get(key)
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamingOps.withDrainWidth(spark, 10L) {
        assert(spark.conf.get(key) == "1")
        throw new IllegalStateException("drain failed")
      }
    }
    assert(e.getMessage == "drain failed")
    assert(spark.conf.get(key) == original)
  }
}
