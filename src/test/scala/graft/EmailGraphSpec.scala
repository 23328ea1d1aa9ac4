package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{EmailGraph, GraphOps}

/** Threading (X4) + graph-builder semantics over the deterministic
  * demo corpus (3 reply threads + 3 standalone messages). */
class EmailGraphSpec extends AnyFunSuite with SparkSpec {

  test("reply-edge components assign one thread_id per thread") {
    val assigned = EmailGraph
      .assignThreadIds(spark, GraphOps.demoStore(spark))
      .select("dedupe_key", "thread_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    def key(i: Int) = s"<m$i@corp>"
    // thread 1: 10..13 all share the root thread id
    val t1 = Seq(10, 11, 12, 13).map(i => assigned(key(i))).toSet
    assert(t1.size == 1 && t1.head == key(10))
    // thread 2 includes msg 22 linked ONLY via References (no In-Reply-To)
    val t2 = Seq(20, 21, 22).map(i => assigned(key(i))).toSet
    assert(t2.size == 1 && t2.head == key(20))
    // thread 3
    assert(assigned(key(30)) == key(30) && assigned(key(31)) == key(30))
    // standalones are their own threads
    Seq(40, 41, 42).foreach(i => assert(assigned(key(i)) == key(i)))
    // threads are disjoint
    assert(Set(t1.head, t2.head, assigned(key(30))).size == 3)
  }

  test("vertex/edge builders produce the typed graph") {
    import org.apache.spark.sql.functions._
    val store = GraphOps.demoStore(spark)
    val v = EmailGraph.vertices(store).groupBy("kind")
      .agg(count(lit(1)).as("n")).withColumn("element", lit("vertex"))
    val e = EmailGraph.edges(store).groupBy("kind")
      .agg(count(lit(1)).as("n")).withColumn("element", lit("edge"))
    val census = v.unionByName(e).select("element", "kind", "n")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(census(("vertex", "message")) == 12L)
    assert(census(("vertex", "address")) > 0)
    assert(census(("edge", "sent")) == 12L)      // one sender per message
    assert(census(("edge", "contains")) > 0)
    assert(census(("edge", "received")) == 12L)  // all go to team@corp.com
  }

  test("generic components handles forests and isolated chains") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val comps = EmailGraph.components(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("large/small-star CC matches GraphX on adversarial shapes (g102)") {
    import spark.implicits._
    // a 40-node path (diameter stress: min-label propagation needs 40
    // rounds here, large/small-star must do it in O(log n)), a reversed
    // path, two bridged cliques, an isolated edge, and a star whose hub
    // has the LARGEST id (non-root hub stress)
    val path = (1L until 40L).map(i => (i, i + 1))
    val rev = (101L until 120L).map(i => (i + 1, i))
    val cliqueA = for (a <- 200L to 205L; b <- a + 1 to 205L) yield (a, b)
    val cliqueB = for (a <- 300L to 305L; b <- a + 1 to 305L) yield (b, a)
    val bridged = cliqueA ++ cliqueB ++ Seq((205L, 300L))
    val star = (400L to 405L).map(i => (499L, i))
    val edges = (path ++ rev ++ bridged ++ Seq((7000L, 6999L)) ++ star)
      .toDF("src", "dst")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val gx = canon(EmailGraph.components(spark, edges))
    val ls = canon(EmailGraph.componentsLargeSmallStar(spark, edges))
    assert(ls == gx)
    // and the contract itself: component == min reachable id
    val m = ls.toMap
    assert((1L to 40L).forall(m(_) == 1L))
    assert((200L to 205L).forall(m(_) == 200L))
    assert((300L to 305L).forall(m(_) == 200L)) // bridge unifies cliques
    assert(m(499L) == 400L && m(405L) == 400L)
  }

  test("degree-ordered triangle counts: clique, dangling edge, hub wedges") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (4 triangles, each vertex in 3), a dangling
    // edge 4-5 (no triangle), and a hub 6 wedging 7,8 WITHOUT the
    // closing 7-8 edge (no triangle despite the shared apex)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (6L, 8L)).toDF("p1", "p2")
    val got = GraphOps.trianglesWithDeg(edges)._2
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }
}
