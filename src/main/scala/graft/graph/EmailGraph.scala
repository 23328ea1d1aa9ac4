package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph layer over the email store (SURVEY.md §1.5, reference roadmap
  * X3/X4: relationship agent README.md:88, thread_id placeholder
  * ingest_enron.py:138).
  *
  * Design split, per the 100 TB north star:
  *  - Traversal-shaped queries (folder listings, degree counts, neighbor
  *    expansion) stay in DataFrame land — Catalyst + pushdown + AQE.
  *  - Iterative algorithms (connected components, PageRank) drop to
  *    GraphX, whose RDD representation is the right tool for fixpoint
  *    loops, then the result joins straight back into DataFrames.
  */
object EmailGraph {

  // ------------------------------------------------- vertex/edge builders

  /** Typed vertex table: users, folders, messages, addresses.
    * `id` is a stable 64-bit hash of (kind, natural key). */
  def vertices(store: DataFrame): DataFrame = {
    val users = store.select(explode(col("mailboxes.user")).as("key"))
      .distinct().select(lit("user").as("kind"), col("key"))
    val folders = store
      .select(explode(col("mailboxes")).as("mb"))
      .select(concat_ws("/", col("mb.user"), col("mb.folder")).as("key"))
      .distinct().select(lit("folder").as("kind"), col("key"))
    val messages = store.select(lit("message").as("kind"),
      col("dedupe_key").as("key")).distinct()
    val addresses = store
      .select(explode(flatten(array(array(col("from")), col("to"), col("cc"),
        col("bcc")))).as("key"))
      .filter(col("key") =!= "").distinct()
      .select(lit("address").as("kind"), col("key"))
    users.unionByName(folders).unionByName(messages).unionByName(addresses)
      .withColumn("id", xxhash64(col("kind"), col("key")))
  }

  /** Typed edge table: containment hierarchy + communication edges.
    * kinds: contains(user→folder), contains(folder→message),
    * sent(address→message), received(message→address). */
  def edges(store: DataFrame): DataFrame = {
    val mb = store.select(col("dedupe_key"), explode(col("mailboxes")).as("m"))
    val userFolder = mb.select(
      xxhash64(lit("user"), col("m.user")).as("src"),
      xxhash64(lit("folder"), concat_ws("/", col("m.user"), col("m.folder")))
        .as("dst"),
      lit("contains").as("kind")).distinct()
    val folderMsg = mb.select(
      xxhash64(lit("folder"), concat_ws("/", col("m.user"), col("m.folder")))
        .as("src"),
      xxhash64(lit("message"), col("dedupe_key")).as("dst"),
      lit("contains").as("kind")).distinct()
    val sent = store.filter(col("from") =!= "").select(
      xxhash64(lit("address"), col("from")).as("src"),
      xxhash64(lit("message"), col("dedupe_key")).as("dst"),
      lit("sent").as("kind"))
    val received = store
      .select(col("dedupe_key"),
        explode(flatten(array(col("to"), col("cc"), col("bcc")))).as("addr"))
      .filter(col("addr") =!= "")
      .select(
        xxhash64(lit("message"), col("dedupe_key")).as("src"),
        xxhash64(lit("address"), col("addr")).as("dst"),
        lit("received").as("kind")).distinct()
    userFolder.unionByName(folderMsg).unionByName(sent).unionByName(received)
  }

  // --------------------------------------------------- viz export (X3)

  /** Cytoscape.js-style elements JSON for the email graph (ref: the
    * reference's planned visualization layer, README.md:88-89):
    * `{"nodes":[{"data":{id,kind,label}}...],"edges":[{"data":{id,
    * source,target,kind}}...]}`. Serialization happens executor-side
    * via `to_json`; the final assembly collects — a visualization
    * export is a driver-bound artifact by nature, so cap the graph
    * with `maxElements` (top-degree-first would be the 100 TB variant;
    * here the cap just guards the collect). */
  def toCytoscapeJson(store: DataFrame, maxElements: Int = 100000): String = {
    val keptNodes = vertices(store).limit(maxElements).cache()
    val nodeJson = keptNodes
      .select(to_json(struct(struct(
        col("id").cast("string").as("id"),
        col("kind"),
        col("key").as("label")).as("data"))).as("j"))
    // a truncated export must stay INTERNALLY consistent: an edge whose
    // endpoint was dropped by the node cap makes Cytoscape.js reject
    // the whole payload, so edges are restricted to the retained node
    // set before their own cap
    val keptIds = keptNodes.select(col("id"))
    val edgeJson = edges(store)
      .join(keptIds.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(keptIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .limit(maxElements)
      .select(to_json(struct(struct(
        concat_ws(":", col("kind"), col("src").cast("string"),
          col("dst").cast("string")).as("id"),
        col("src").cast("string").as("source"),
        col("dst").cast("string").as("target"),
        col("kind")).as("data"))).as("j"))
    val nodes = nodeJson.collect().map(_.getString(0))
    val edges0 = edgeJson.collect().map(_.getString(0))
    keptNodes.unpersist()
    nodes.mkString("{\"nodes\":[", ",", "],") +
      edges0.mkString("\"edges\":[", ",", "]}")
  }

  // ----------------------------------------------------- threading (X4)

  /** Extract all RFC-822 message-id tokens ("<...>") from a header
    * value (In-Reply-To may carry one, References many). */
  private def msgIdTokens(c: org.apache.spark.sql.Column) =
    regexp_extract_all(c, lit("<[^>]+>"), lit(0))

  /** Partition count for a Pregel job over `n` edge/vertex rows: ~50k
    * rows per partition, floored at 1, capped at session parallelism.
    * Pregel pays per-TASK overhead on every iteration, so a 5k-edge
    * graph on 32 partitions runs 32 near-empty tasks × ~10 iterations ×
    * several internal RDDs — sizing to volume cuts that ~10× at fixture
    * scale while still using full parallelism on a real corpus. */
  private def pregelParts(spark: SparkSession, n: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      ((n + 49999) / 50000).toInt))

  /** Assign `thread_id` by connected components over reply edges:
    * a message links to every message-id in its In-Reply-To and
    * References headers (ref: X4 — thread_id placeholder
    * ingest_enron.py:138, headers map ingest_enron.py:106-111).
    *
    * thread_id = lexicographically smallest dedupe_key in the
    * component (deterministic, human-readable root); a message with no
    * resolvable reply link is a thread of its own.
    */
  def assignThreadIds(spark: SparkSession, store: DataFrame): DataFrame = {
    val msgs = store.select(col("dedupe_key"), col("message_id"),
      col("headers"))
    // (dedupe_key, referenced message-id) pairs
    val refs = msgs.select(col("dedupe_key"),
      explode(array_distinct(concat(
        msgIdTokens(coalesce(element_at(col("headers"), "in-reply-to"), lit(""))),
        msgIdTokens(coalesce(element_at(col("headers"), "references"), lit(""))))))
        .as("ref"))
    // resolve ref → target dedupe_key (drop refs to unknown messages)
    val targets = msgs.filter(col("message_id").isNotNull)
      .select(col("message_id").as("ref"), col("dedupe_key").as("ref_key"))
    val links = refs.join(targets, "ref")
      .filter(col("dedupe_key") =!= col("ref_key"))
      .select(xxhash64(col("dedupe_key")).as("src"),
        xxhash64(col("ref_key")).as("dst"))
    // every message also links to itself (a self-loop carries no CC
    // message), so a message on no reply link is a component of its own
    val vids = msgs.select(col("dedupe_key"))
      .withColumn("vid", xxhash64(col("dedupe_key")))
    val comp = components(spark, links.union(
      vids.select(col("vid").as("src"), col("vid").as("dst"))))
      .toDF("vid", "comp")

    val withComp = vids.join(comp, "vid")
    val roots = withComp.groupBy("comp")
      .agg(min("dedupe_key").as("thread_id"))
    val assignment = withComp.join(roots, "comp")
      .select(col("dedupe_key"), col("thread_id"))
    store.drop("thread_id").join(assignment, "dedupe_key")
  }

  // ------------------------------------------- generic CC over DataFrames

  /** Connected components of an arbitrary (src: Long, dst: Long) edge
    * DataFrame via GraphX; returns (id, component) where component is
    * the smallest vertex id reachable (GraphX CC invariant — which is
    * exactly what a transitive-closure SQL oracle can recompute). */
  def components(spark: SparkSession, edgeDf: DataFrame): DataFrame = {
    import spark.implicits._
    // counted as the RDD the graph is built from: the plan's shuffle
    // stages run once, when the RDD is taken, and the count reuses them
    val rows = edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
    val p = pregelParts(spark, rows.count())
    val edgeRdd = rows.coalesce(p).map { case (s, d) => Edge(s: VertexId, d, 1) }
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1)
    spark.createDataFrame(graph.connectedComponents().vertices)
      .toDF("id", "component")
  }

  /** PageRank over an edge DataFrame (GraphX static PageRank). */
  def pageRank(spark: SparkSession, edgeDf: DataFrame, iters: Int = 10,
      resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    val edgeRdd = edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s: VertexId, d, 1) }
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1)
    spark.createDataFrame(graph.staticPageRank(iters, resetProb).vertices)
      .toDF("id", "pagerank")
  }

  /** Connected components on the DATAFRAME substrate: the
    * large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — same (id,
    * component=min reachable id) contract as the GraphX [[components]],
    * proving the two substrates agree (g102's parity claim). Where the
    * naive min-label propagation needs O(diameter) rounds, this
    * converges in O(log n) rounds regardless of diameter — the variant
    * that survives a 100 TB path-shaped graph. Each round is two
    * grouped aggregations over the current edge set; an eager
    * localCheckpoint per round keeps the plan constant-size (the
    * repo-standard iterative-DataFrame shape, same as g94). */
  def componentsLargeSmallStar(spark: SparkSession, edgeDf: DataFrame): DataFrame = {
    // parent-pointer edges, maintained directed child -> candidate-root;
    // self-loops dropped (they carry no connectivity)
    var e = edgeDf
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint()
    // fixpoint test: the edge set is stable. count + keyed decimal sums
    // + an order-independent hash XOR detect any change without
    // collecting the edges (and without ANSI BIGINT-sum overflow)
    def sig(df: DataFrame): Seq[Any] = df
      .agg(count(lit(1)),
        sum(col("u").cast("decimal(38,0)")),
        sum(col("v").cast("decimal(38,0)")),
        expr("bit_xor(xxhash64(u, v))"))
      .collect()(0).toSeq
    var prevSig = sig(e)
    var stable = false
    var rounds = 0
    while (!stable) {
      rounds += 1
      require(rounds <= 40, s"large/small-star did not converge in 40 rounds")
      // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u});
      // neighborhoods are over BOTH orientations of the undirected edge
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      // (min computed per group, then joined back: a hub's neighborhood
      // streams through the join rather than materializing in one
      // collect_list buffer — the power-law-skew-safe shape)
      val mins = nbrs.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: edges now all point downhill (m ≤ u < v). Group by
      // the larger endpoint; link it and all its smaller neighbors to
      // the smallest one.
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      val next = large.join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      val nextSig = sig(next)
      stable = nextSig == prevSig
      prevSig = nextSig
      e = next
    }
    // converged: every non-root points directly at its component min
    e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }
}
