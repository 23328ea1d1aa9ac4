package graft

import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Batch entries share one session without writing its conf: two of
  * them run at once and still return their sequential rows, while
  * `spark.sql.shuffle.partitions` never moves. The streaming drain's
  * scoped conf setter, the one remaining writer, restores the session
  * width and state store provider even when its body throws. */
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
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocksDb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    spark.conf.unset(providerKey)
    val original = spark.conf.get(key)
    val input = MemoryStream[Long]
    val twsPlan = input.toDS().groupByKey(identity)
      .transformWithState(new RowCountProcessor, TimeMode.None(),
        OutputMode.Append()).toDF()
    // a plan without transformWithState keeps the session's provider
    graft.streaming.StreamingOps.withDrainConf(spark, 10L)(input.toDF()) { _ =>
      assert(spark.conf.get(key) == "1")
      assert(!spark.conf.getAll.contains(providerKey))
    }
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamingOps.withDrainConf(spark, 10L)(twsPlan) { _ =>
        assert(spark.conf.get(key) == "1")
        assert(spark.conf.get(providerKey) == rocksDb)
        throw new IllegalStateException("drain failed")
      }
    }
    assert(e.getMessage == "drain failed")
    assert(spark.conf.get(key) == original)
    assert(!spark.conf.getAll.contains(providerKey),
      "an unset provider came back set")
  }
}

/** The smallest `transformWithState` processor: one row count per key
  * and micro-batch, no state. */
private class RowCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, Long] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues}
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()
  override def handleInputRows(key: Long, rows: Iterator[Long],
      timerValues: TimerValues): Iterator[Long] =
    Iterator.single(rows.size.toLong)
}
