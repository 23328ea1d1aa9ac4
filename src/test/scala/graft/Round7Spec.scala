package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 operators: moving-average window (q51), windowed trending
  * (e91), type-token ratio (t55), column profiling (v72), incremental
  * dedup (d58), banded-LSH rerank ANN (s71), audio frame energy (m74).
  * Each test asserts a semantic invariant the DuckDB hash-compare
  * can't express (internal consistency with sibling operators, manual
  * recomputation of a spot row, plan shape).
  */
class Round7Spec extends AnyFunSuite with SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("q51 ma7 equals the mean of the trailing ≤7 present days") {
    val rows = graft.operators.Classic3.movingAvgRevenue(spark, d)
      .collect().map(r => (r.getTimestamp(0).getTime / 86400000L,
        r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val daily = rows.map { case (day, rev, _) => day -> rev }.toMap
    rows.foreach { case (day, _, ma) =>
      val win = (day - 6 to day).flatMap(daily.get)
      val cents = win.map(v => math.round(v * 100)).sum
      val expect = ((2 * cents + win.size) / (2 * win.size)) / 100.0
      assert(ma == expect, s"day $day: ma $ma != $expect over ${win.size} days")
    }
    // first day has no predecessors: ma == that day's revenue
    val (_, rev0, ma0) = rows.minBy(_._1)
    assert(ma0 == rev0)
  }

  test("e91 picks the true per-window max count, ties to greatest type") {
    val counts = Tables.events(spark, d)
      .withColumn("bucket", expr("(ts div 1000) div 300000000"))
      .groupBy("bucket", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    val top = graft.ext.EventOps.windowTopEvent(spark, d)
      .collect().map(r => (r.getTimestamp(0).getTime / 1000 / 300,
        r.getString(1), r.getLong(2)))
    assert(top.length == counts.size)
    top.foreach { case (bucket, typ, n) =>
      val inWin = counts(bucket)
      val mx = inWin.map(_._3).max
      assert(n == mx)
      assert(typ == inWin.filter(_._3 == mx).map(_._2).max)
    }
  }

  test("t55 type-token ratio matches a manual recount on a spot doc") {
    val row = graft.ext.TextOps.typeTokenRatio(spark, d)
      .filter(col("doc_id") === 0).head()
    val text = Tables.documents(spark, d)
      .filter(col("doc_id") === 0).head().getAs[String]("text")
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    assert(row.getLong(1) == toks.length)
    assert(row.getLong(2) == toks.distinct.length)
    assert(row.getLong(3) ==
      toks.distinct.length.toLong * 1000000L / math.max(toks.length, 1))
    // invariant over the whole corpus: types ≤ tokens → ttr ≤ 1e6
    val bad = graft.ext.TextOps.typeTokenRatio(spark, d)
      .filter(col("n_types") > col("n_tokens") ||
        col("ttr_ppm") > 1000000L).count()
    assert(bad == 0)
  }

  test("v72 profiles every column in one pass with exact counts") {
    val rows = graft.ingest.Validation.columnProfile(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nOrders = Tables.orders(spark, d).count()
    assert(rows.length == 6)
    assert(rows.forall(_._2 == nOrders))     // shared row count
    assert(rows.forall(_._3 == 0L))          // fixtures carry no NULLs
    val byName = rows.map(r => r._1 -> r._4).toMap
    assert(byName("o_orderkey") == nOrders)  // PK: all distinct
    assert(byName("o_orderpriority") <= 5L)  // low-cardinality enum
  }

  test("d58 agrees with d51 on which new-batch docs have corpus dups") {
    // d51 emits all near-dup pairs (jaccard ≥ 0.5, doc_a < doc_b);
    // d58's dup set must equal the new-batch docs that pair with a
    // corpus doc there, and its best match must be one of those pairs
    val pairs = graft.ext.DedupOps.jaccardPairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val crossPairs = pairs.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)) }
      .filter { case (n, c, _) => n % 7 == 3 && c % 7 != 3 }
    val expectDups = crossPairs.map(_._1).toSet
    val d58 = graft.ext.DedupOps.incrementalDedup(spark, d)
      .collect().map(r => (r.getLong(0), r.isNullAt(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getLong(3)))
    assert(d58.forall(_._1 % 7 == 3))
    val gotDups = d58.filter(_._4 == 1L).map(_._1).toSet
    assert(gotDups == expectDups,
      s"dup sets differ: got $gotDups expected $expectDups")
    // best jaccard per new doc matches the max over its cross pairs
    val bestByNew = crossPairs.groupBy(_._1).view.mapValues(_.map(_._3).max)
    d58.filter(_._4 == 1L).foreach { case (n, _, j, _) =>
      assert(j == bestByNew(n), s"doc $n best $j != ${bestByNew(n)}")
    }
  }

  test("one Jaccard scorer: d52 and d58 scores equal d51's at sf0.01") {
    import graft.ext.DedupOps
    val sf01 = "/root/testdata/sf0.01"
    val d51 = DedupOps.jaccardPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(d51.nonEmpty)
    // every verified LSH pair is a d51 pair, scored identically
    val d52 = DedupOps.minhashLsh(spark, sf01).collect()
    assert(d52.nonEmpty)
    d52.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(d51.get(k).contains(r.getDouble(2)), s"d52 $k ${r.getDouble(2)}")
    }
    // every d58 verdict's best match is a d51 pair with d51's jaccard
    val dups = DedupOps.incrementalDedup(spark, sf01)
      .filter("is_dup = 1").collect()
    assert(dups.nonEmpty)
    dups.foreach { r =>
      val (n, c) = (r.getLong(0), r.getLong(1))
      val k = (math.min(n, c), math.max(n, c))
      assert(d51.get(k).contains(r.getDouble(2)), s"d58 $k ${r.getDouble(2)}")
    }
    DedupOps.clearCaches()
  }

  test("s71 reranks only banded candidates with exact cosines") {
    val res = graft.ext.SimilarityOps.lshRerankKnn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(res.nonEmpty)
    // per query: ranks are 1..k, cosines non-increasing, no self-match
    res.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.toSeq.sliding(2).forall {
        case Seq(a, b) => a._3 >= b._3; case _ => true })
      assert(rs.forall(_._2 != q))
    }
    // cosines equal the brute-force values for the same (q, c) pairs
    val brute = graft.ext.SimilarityOps.knnBrute(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    res.foreach { case (q, c, cos, _) =>
      brute.get((q, c)).foreach(b => assert(b == cos)) }
    // no cartesian product anywhere in the physical plan
    val df = graft.ext.SimilarityOps.lshRerankKnn(spark, d)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("s72 recall is a valid fraction and consistent with s71 hits") {
    val rec = graft.operators.Classic2.lshRerankRecall(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rec.length == 10) // one row per query vector
    assert(rec.forall { case (_, v) => v >= 0.0 && v <= 1.0 })
    // recompute from the two underlying results
    val truth = graft.ext.SimilarityOps.knnBrute(spark, d)
      .filter(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val approx = graft.ext.SimilarityOps.lshRerankKnn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = truth.groupBy(_._1).view
      .mapValues(ts => ts.count(approx.contains).toDouble / ts.length)
    rec.foreach { case (q, v) => assert(v == expect(q)) }
  }

  test("e92 stream output equals the e91 batch twin") {
    val batch = graft.ext.EventOps.windowTopEvent(spark, d)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val stream = graft.streaming.StreamingOps.streamWindowTopEvent(spark, d)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(stream.toSeq == batch.toSeq)
  }

  test("t57 funnel is monotone and consistent with its stage operators") {
    val f = graft.ext.DedupOps.corpusFunnel(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(f.keySet == Set("0_all", "1_quality", "2_dedup", "3_decontam", "4_train"))
    // docs and chars both shrink (weakly) at every stage
    val order = Seq("0_all", "1_quality", "2_dedup", "3_decontam", "4_train")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(f(b)._1 <= f(a)._1, s"$b docs grew over $a")
      assert(f(b)._2 <= f(a)._2, s"$b chars grew over $a")
    }
    // stage 0 is the corpus; stage 1 equals t50's kept count
    assert(f("0_all")._1 == Tables.documents(spark, d).count())
    val kept = graft.ext.TextOps.qualityFilter(spark, d)
      .filter(col("reason") === "kept").head().getLong(1)
    assert(f("1_quality")._1 == kept)
  }

  test("g98 labels stay inside their g92 connected component") {
    val comp = graft.graph.GraphOps.copurchaseComponents(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpa = graft.graph.GraphOps.labelPropagation(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lpa.length == comp.size) // every vertex keeps a label
    // a label can only travel along edges, so it names a vertex in the
    // same component; and communities refine components (≥ as many)
    lpa.foreach { case (v, lbl) => assert(comp(lbl) == comp(v)) }
    assert(lpa.map(_._2).distinct.length >= comp.values.toSeq.distinct.length)
  }

  test("e93 funnel matches a manual sequential-min fold") {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), expr("ts div 1000").as("tsus"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val order = Seq("signup", "view", "click", "purchase")
    // expected: per user, earliest qualifying event strictly after the
    // previous stage's time
    val expect = order.indices.map { k =>
      ev.groupBy(_._1).values.count { es =>
        val sorted = es.sortBy(e => (e._2, order.indexOf(e._3)))
        var times = Vector.empty[Long]
        for ((_, t, ty) <- sorted; i = order.indexOf(ty)
             if i >= 0 && times.length == i && (i == 0 || t > times(i - 1)))
          times :+= t
        times.length > k
      }.toLong
    }
    val got = graft.ext.EventOps.funnel(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).toSeq == order)
    assert(got.map(_._3).toSeq == expect)
    // counts are non-increasing and ppm is relative to stage 1
    assert(got.map(_._3).sliding(2).forall { case Array(a, b) => b <= a })
    got.foreach { case (_, _, n, ppm) =>
      assert(ppm == n * 1000000L / math.max(expect.head, 1L))
    }
  }

  test("e94 retention: offset 0 is the full cohort at ppm 1e6") {
    val rows = graft.ext.EventOps.retention(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val sizes = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    // every user appears in exactly one cohort at offset 0
    assert(sizes.values.sum ==
      Tables.events(spark, d).select("user_id").distinct().count())
    rows.foreach { case (cw, off, n, ppm) =>
      assert(n <= sizes(cw))
      assert(ppm == n * 1000000L / sizes(cw))
      if (off == 0) assert(ppm == 1000000L)
    }
  }

  /** Manual recomputation of GraphOps.copurchaseEdges' neighbor sets
    * (shared by the g99/g100 tests so the edge predicate lives in one
    * place). */
  private def copurchaseNeighbors(): Map[Long, Set[Long]] = {
    val pairs = Tables.lineitem(spark, d).filter(col("l_quantity") >= 48)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.groupBy(_._1).values
      .flatMap(g => for (a <- g; b <- g if a._2 < b._2) yield (a._2, b._2))
      .toSet
    (pairs.toSeq ++ pairs.toSeq.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  test("g99 BFS distances are locally consistent") {
    val hops = graft.graph.GraphOps.bfsHops(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops.nonEmpty)
    // seeds at distance 0, nothing beyond the round bound
    hops.foreach { case (v, h) =>
      assert(h >= 0 && h <= 4)
      assert((h == 0) == (v % 97 == 0))
    }
    // every non-seed's distance is 1 + min over its reached neighbors
    val edges = graft.graph.GraphOps.copurchaseDegrees(spark, d) // warm cache
    assert(edges.count() > 0)
    val nbrs = copurchaseNeighbors()
    hops.collect { case (v, h) if h > 0 =>
      val best = nbrs(v).flatMap(hops.get).min
      assert(h == best + 1, s"vertex $v: hops $h != ${best + 1}")
    }
  }

  test("t58 boilerplate agrees with t45 shingle counts and is bounded") {
    val t58 = graft.ext.TextOps.boilerplateRatio(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // t45 counts the same DISTINCT word-3-grams per doc
    val t45 = graft.ext.TextOps.shingleProfile(spark, d)
      .collect().map(r => r.getLong(0) ->
        r.getAs[Long]("n_shingles")).toMap
    t58.foreach { case (doc, nSh, nB, ppm) =>
      assert(nSh == t45(doc))
      assert(nB <= nSh)
      assert(ppm == nB * 1000000L / math.max(nSh, 1L))
    }
  }

  test("s73 SQ codes rank by true integer code distance") {
    val rows = graft.ext.SimilarityOps.sqKnn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1L, 2L, 3L))
      // distances non-decreasing with rank, all within the 8-bit bound
      assert(sorted.map(_._3).sliding(2).forall { case Array(a, b) => a <= b })
      assert(rs.forall(r => r._3 >= 0 && r._3 <= 64L * 255 * 255))
      assert(rs.forall(r => r._2 != r._1)) // never self
    }
  }

  test("s74 SQ recall is a valid fraction vs the brute truth") {
    val rec = graft.operators.Classic2.sqRecall(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rec.length == 10)
    rec.foreach { case (_, v) => assert(v >= 0.0 && v <= 1.0) }
    val hits = Set(0.0, 1.0 / 3, 2.0 / 3, 1.0)
    rec.foreach { case (_, v) =>
      assert(hits.exists(h => math.abs(h - v) < 1e-9))
    }
  }

  test("e95 stream funnel output equals the e93 batch twin") {
    val batch = graft.ext.EventOps.funnel(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val stream = graft.streaming.StreamingOps.streamFunnel(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(stream.toSeq == batch.toSeq)
  }

  test("e96 stream retention output equals the e94 batch twin") {
    val batch = graft.ext.EventOps.retention(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val stream = graft.streaming.StreamingOps.streamRetention(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stream.toSeq == batch.toSeq)
  }

  test("g100 jaccard matches a manual neighbor-set recount") {
    val nbrs = copurchaseNeighbors()
    val pairs = nbrs.toSeq
      .flatMap { case (a, bs) => bs.collect { case b if a < b => (a, b) } }
      .toSet
    val rows = graft.graph.GraphOps.edgeJaccard(spark, d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows.keySet == pairs)
    rows.foreach { case ((a, b), (d1, d2, cn, ppm)) =>
      assert(d1 == nbrs(a).size && d2 == nbrs(b).size)
      assert(cn == (nbrs(a) & nbrs(b)).size)
      assert(ppm == cn * 1000000L / (nbrs(a) | nbrs(b) | Set(a, b)).size)
    }
  }

  test("m75 flags exactly the frames whose energy jump ≥ 200") {
    val energies = graft.ext.Multimodal.mediaEnergy(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val expect = energies.values.flatMap { fs =>
      fs.sortBy(_._2).sliding(2).collect {
        case Array((m, _, e0), (_, i, e1)) if math.abs(e1 - e0) >= 200 =>
          (m, i, e1, e1 - e0)
      }
    }.toSet
    val got = graft.ext.Multimodal.mediaScenes(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("e97 flags exactly the hours above 3x their trailing mean") {
    val counts = Tables.events(spark, d)
      .withColumn("bucket", expr("(ts div 1000) div 3600000000"))
      .groupBy("bucket", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val expect = counts.groupBy(_._1).values.flatMap { rows =>
      val byBucket = rows.map(r => r._2 -> r._3).toMap
      rows.flatMap { case (ty, b, n) =>
        val t6 = (b - 6 to b - 1).flatMap(byBucket.get)
        if (t6.nonEmpty && n * 2 > t6.sum) Some((ty, b, n, t6.sum)) else None
      }
    }.toSet
    val got = graft.ext.EventOps.rateSpikes(spark, d)
      .collect().map(r => (r.getString(1),
        r.getTimestamp(0).getTime / 1000 / 3600, r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("t59 source report reconciles with t50 and d50 totals") {
    val rows = graft.ext.TextOps.sourceProfile(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val nDocs = Tables.documents(spark, d).count()
    assert(rows.map(_._2).sum == nDocs)
    // kept docs across sources == t50's kept bucket
    val keptTotal = rows.map(r => r._4 * r._2 / 1000000.0).sum
    val t50kept = graft.ext.TextOps.qualityFilter(spark, d)
      .filter(col("reason") === "kept").head().getLong(1)
    // ppm rounding loses < 1 doc per source
    assert(math.abs(keptTotal - t50kept) < rows.length)
    // duplicate members across sources == docs in multi-copy d50 groups
    val dupTotal = rows.map(r => r._5 * r._2 / 1000000.0).sum
    val d50dups = graft.ext.DedupOps.exactDedup(spark, d)
      .filter(col("n_copies") > 1)
      .agg(coalesce(sum("n_copies"), lit(0L))).head().getLong(0)
    assert(math.abs(dupTotal - d50dups) < rows.length)
  }

  test("s75 probes the same cell as s67 and ranks by integer ADC") {
    val s67cell = graft.ext.SimilarityOps.kmeansIvfKnn(spark, d)
      .select("q_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.ext.SimilarityOps.ivfPqKnn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      // same probed cell as the raw-vector IVF serving path
      s67cell.get(q).foreach(cell => assert(rs.forall(_._2 == cell)))
      val sorted = rs.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(_._4).sliding(2).forall {
        case Array(a, b) => a <= b; case _ => true })
      assert(rs.forall(_._3 != q))
      assert(rs.map(_._3).distinct.length == rs.length)
    }
  }

  test("s76 IVF-PQ recall is a valid fraction vs the brute truth") {
    val rec = graft.operators.Classic2.ivfPqRecall(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rec.length == 10)
    val hits = Set(0.0, 1.0 / 3, 2.0 / 3, 1.0)
    rec.foreach { case (_, v) =>
      assert(hits.exists(h => math.abs(h - v) < 1e-9))
    }
  }

  test("e98 stream enrichment equals the batch join") {
    val nCust = Tables.customer(spark, d).count()
    val batch = Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .withColumn("c_custkey", expr(s"user_id % $nCust + 1"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .join(Tables.customer(spark, d).select("c_custkey", "c_mktsegment"),
        "c_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), (sum("cents") / 100.0).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val stream = graft.streaming.StreamingOps
      .streamSegmentEnrichment(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(stream.toSeq == batch.toSeq)
  }

  test("m74 frame energy matches a manual byte sum") {
    val doc = Tables.documents(spark, d)
      .filter(col("doc_id") % 3 === 1).orderBy("doc_id").head()
    val id = doc.getAs[Long]("doc_id")
    val body = doc.getAs[String]("text").getBytes("UTF-8")
    val rows = graft.ext.Multimodal.mediaEnergy(spark, d)
      .filter(col("media_id") === id).orderBy("frame_idx").collect()
    assert(rows.length == math.max(1, body.length / 64))
    val first = body.slice(0, 64)
    assert(rows.head.getAs[Long]("energy") ==
      first.map(b => (b & 0xff).toLong).sum)
    assert(rows.head.getAs[Long]("n_bytes") == first.length.toLong)
  }

  test("em69 counts every synthesized address and scrubs the blob clean") {
    val rows = graft.query.EmailOps.piiRedact(spark, d).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getString(0).stripPrefix("<d").stripSuffix("@corp>").toLong
      // From + To(1 or 2) + Cc(0 or 1) — body/subject carry no addresses
      val expect = 2L + (if (id % 2 == 0) 1 else 0) + (if (id % 3 == 0) 1 else 0)
      assert(r.getLong(1) == expect, s"doc $id: n_emails ${r.getLong(1)}")
    }
    // re-derive one blob and check the redacted text is address/digit free
    val doc6 = Tables.documents(spark, d)
      .filter(col("doc_id") === 6).head.getAs[String]("text")
    val blob6 = s"From: u6@corp.com\nTo: team@corp.com, u0@corp.com\n" +
      s"Cc: cc2@corp.com\nSubject: msg 6\n$doc6"
    val clean6 = blob6
      .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
      .replaceAll("[0-9]+", "<NUM>")
    assert(!clean6.contains("@") && !clean6.exists(_.isDigit))
    val row6 = rows.find(_.getString(0) == "<d6@corp>").get
    assert(row6.getLong(2) == clean6.length.toLong)
  }

  test("d59 passage counts tile the token stream and dups are symmetric") {
    val rows = graft.ext.DedupOps.passageDedup(spark, d).collect()
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"),
        size(graft.ext.TextOps.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.length == toks.size)
    rows.foreach { r =>
      val (id, nPass, nDup) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nPass == (toks(id) - 1) / 10 + 1, s"doc $id passes")
      assert(nDup >= 0 && nDup <= nPass)
    }
    // exact whole-doc duplicates (d50 n_copies ≥ 2) must be fully
    // passage-duplicated — chunk dedup subsumes document dedup
    val dupDocs = graft.ext.DedupOps.exactDedup(spark, d)
      .filter(col("n_copies") >= 2).collect().map(_.getLong(1)).toSet
    rows.filter(r => dupDocs.contains(r.getLong(0))).foreach { r =>
      assert(r.getLong(2) == r.getLong(1),
        s"doc ${r.getLong(0)}: exact dup but only ${r.getLong(2)}/${r.getLong(1)} passages flagged")
    }
    assert(rows.map(_.getLong(2)).sum > 0)
  }

  test("s77 radius results are exactly the brute pairs above threshold") {
    val radius = graft.ext.SimilarityOps.radiusSearch(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(radius.nonEmpty)
    radius.values.foreach(c => assert(c >= 0.32))
    assert(radius.keys.forall { case (q, c) => q < 10 && q != c })
    // recompute the full scored frame and take the >= threshold slice
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val qs = e.filter(_._1 < 10)
    val expect = (for {
      (q, qv) <- qs; (c, cv) <- e; if c != q
      dot = qv.zip(cv).map { case (a, b) => a * b }.sum
      cos = BigDecimal(dot / (math.sqrt(qv.map(x => x * x).sum) *
        math.sqrt(cv.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos >= 0.32
    } yield (q, c) -> cos).toMap
    assert(radius.keySet == expect.keySet)
  }

  test("d60 estimates are eighths and d52 is exactly its ≥0.5 slice") {
    val est = graft.ext.DedupOps.minhashEstimate(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3))))
    assert(est.nonEmpty)
    est.foreach { case (_, (e, t)) =>
      assert(e >= 0.0 && e <= 1.0 && (e * 8).isWhole, s"est $e not k/8")
      assert(t > 0.0 && t <= 1.0) // candidates share a band → intersect
    }
    val d52 = graft.ext.DedupOps.minhashLsh(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val above = est.filter(_._2._2 >= 0.5).map(_._1).toSet
    assert(above == d52)
  }

  test("t61 sum of micro-nat logprobs matches a manual recount") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty))
    val bgs = docs.flatMap { case (id, ts) =>
      ts.sliding(2).collect { case Array(a, b) => (id, a, b) } }
    val c2 = bgs.groupBy(x => (x._2, x._3)).view.mapValues(_.length).toMap
    val c1 = bgs.groupBy(_._2).view.mapValues(_.length).toMap
    val expect = bgs.groupBy(_._1).view.mapValues { es =>
      (es.size.toLong, es.map { case (_, a, b) =>
        // HALF_UP away from zero — math.round is half-toward-+inf,
        // which disagrees with Spark/DuckDB round on negative halves
        BigDecimal(math.log(c2((a, b)).toDouble / c1(a)) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum)
    }.toMap
    val got = graft.ext.TextOps.bigramLm(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == expect.keySet && got.keySet.nonEmpty)
    got.foreach { case (id, v) => assert(v == expect(id), s"doc $id") }
  }

  test("e100 unmatched errors are exactly all errors minus e88 matches") {
    val matched = graft.streaming.StreamingOps.streamRangeJoin(spark, d)
      .collect().map(_.getLong(1)).toSet
    val allErrors = Tables.events(spark, d)
      .filter(col("event_type") === "error")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val unmatched = graft.streaming.StreamingOps
      .streamUnmatchedErrors(spark, d)
      .collect().map(_.getLong(1)).toSet
    assert(unmatched == (allErrors -- matched) && unmatched.nonEmpty)
  }

  test("m76 media dedup groups equal a manual (kind, md5) recount") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val kinds = Array("image", "audio", "video")
    val expect = docs.groupBy { case (id, text) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (kinds((id % 3).toInt), md)
    }.map { case (k, ms) => k -> (ms.map(_._1).min, ms.size.toLong) }
    val got = graft.ext.Multimodal.mediaDedup(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == expect)
    assert(got.values.map(_._2).sum == docs.length.toLong)
  }

  test("s78 prediction is the majority label of s60's top-5") {
    val labels = Tables.embeddings(spark, d).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the top-k encoding packs the label into c_id*4096+label
    assert(labels.values.forall(l => l >= 0 && l < 4096))
    val top5 = graft.ext.SimilarityOps.knnBrute(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val expect = top5.map { case (q, nbs) =>
      val votes = nbs.map(n => labels(n._2)).groupBy(identity)
        .map { case (l, xs) => (l, xs.length) }
      q -> votes.minBy { case (l, n) => (-n, l) }
    }
    val got = graft.ext.SimilarityOps.knnClassify(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2).toInt))).toMap
    assert(got.keySet == expect.keySet && got.size == 10)
    got.foreach { case (q, p) => assert(p == expect(q), s"query $q") }
  }

  test("g101 coefficient is exactly 2*tri*1e6 div deg*(deg-1)") {
    val tri = graft.graph.GraphOps.triangleCounts(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.graph.GraphOps.clusteringCoefficient(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, deg, n, c) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(deg >= 2 && n == tri.getOrElse(v, 0L))
      assert(c == 2 * n * 1000000L / (deg * (deg - 1)) && c <= 1000000L)
    }
    // every triangle vertex has degree ≥ 2, so none may be dropped
    assert(tri.keySet.subsetOf(rows.map(_.getLong(0)).toSet))
  }

  test("e101 deduped window activity equals the batch distinct count") {
    val batch = Tables.events(spark, d)
      .withColumn("wstart", expr("(ts div 1000) div 300000000"))
      .groupBy("wstart", "event_type")
      .agg(countDistinct("user_id").as("n_active"))
      .collect()
      .map(r => (r.getLong(0) * 300000000L, r.getString(1)) -> r.getLong(2))
      .toMap
    val stream = graft.streaming.StreamingOps.streamDedupActivity(spark, d)
      .collect()
      .map(r => (r.getTimestamp(0).getTime * 1000L, r.getString(1)) ->
        r.getLong(2)).toMap
    assert(stream == batch && stream.nonEmpty)
  }

  test("e102 transformWithState census equals the batch aggregation") {
    val batch = Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"),
        max(expr("ts div 1000")).as("m"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val stream = graft.streaming.StreamingOps.streamUserCensus(spark, d)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(stream == batch && stream.nonEmpty)
    // the provider override must not leak into the session
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("v73 is all-zero on fixtures and counts every planted violation") {
    val clean = graft.ingest.Validation.embeddingAudit(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean.size == 5 && clean.values.forall(_ == 0L))
    // planted: doc 10 has no vector; vec 99 has no doc; vec 1 is
    // 3-dim; vec 2 is all-zero; vec 3 appears twice
    val docs = spark.createDataFrame(
      Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L), Tuple1(10L))).toDF("doc_id")
    val emb = spark.createDataFrame(Seq(
      (1L, Array(1f, 2f, 3f)),
      (2L, Array.fill(64)(0f)),
      (3L, Array.fill(64)(1f)), (3L, Array.fill(64)(2f)),
      (99L, Array.fill(64)(1f)))).toDF("vec_id", "embedding")
    val dirty = graft.ingest.Validation.embeddingAuditOf(docs, emb)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dirty == Map(
      "1_docs_without_embedding" -> 1L, "2_embeddings_without_doc" -> 1L,
      "3_dim_violations" -> 1L, "4_zero_vectors" -> 1L,
      "5_dup_vec_ids" -> 1L))
  }

  test("e103 EWMA equals a sequential fold over the daily totals") {
    val daily = Tables.events(spark, d)
      .withColumn("day", expr("(ts div 1000) div 86400000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day").agg(sum("cents").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = daily.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      var s = 0L
      rows.sortBy(_._2).zipWithIndex.map { case ((_, day, c), i) =>
        s = if (i == 0) c else (3 * s + c) / 4
        (t, day * 86400000000L, s)
      }.toSeq
    }.toSet
    val got = graft.ext.EventOps.ewmaDaily(spark, d).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000L,
        r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("q52 growth ppm matches the integer ratio and flags declines") {
    val rows = graft.operators.Classic3.momGrowth(spark, d).collect()
    assert(rows.length > 2 && rows.head.isNullAt(2)) // first month: no prev
    val cents = rows.map(r => math.round(r.getDouble(1) * 100))
    rows.drop(1).zip(cents).foreach { case (r, prev) =>
      val cur = math.round(r.getDouble(1) * 100)
      assert(r.getLong(2) == (cur - prev) * 1000000L / prev)
    }
    // fixture revenue is not monotonic: both signs must appear
    val g = rows.drop(1).map(_.getLong(2))
    assert(g.exists(_ > 0) && g.exists(_ < 0))
  }

  test("s79 MMR selection matches a sequential greedy reference") {
    val e = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def micro(x: Double): Long =
      BigDecimal(x * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expect = (0L until 10L).flatMap { qid =>
      val cands = e.keys.filter(_ != qid).toSeq
        .map(c => (c, r6(cos(e(qid), e(c)))))
        .sortBy { case (c, s) => (-s, c) }.take(10)
        .map { case (c, s) => (c, micro(s)) }
      var sel = List.empty[(Long, Long)] // (c_id, score)
      for (_ <- 1 to 3) {
        val pick = cands.filterNot(c => sel.exists(_._1 == c._1))
          .map { case (c, rel) =>
            val pen = if (sel.isEmpty) 0L
              else sel.map(s2 => micro(cos(e(c), e(s2._1)))).max
            (c, rel - pen)
          }.minBy { case (c, sc) => (-sc, c) }
        sel :+= pick
      }
      sel.zipWithIndex.map { case ((c, sc), i) => (qid, i + 1L, c, sc) }
    }.toSet
    val got = graft.ext.SimilarityOps.mmrTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect)
  }

  test("t62 mixture plan allocates the 2x budget by exact shares") {
    val rows = graft.ext.TextOps.mixturePlan(spark, d).collect()
    assert(rows.nonEmpty)
    val corpus = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      val (src, tok, share, target, rep) = (r.getString(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      val wantShare = src match {
        case "src0" => 400L; case "src1" => 300L; case "src2" => 200L
        case _ => 100L
      }
      assert(share == wantShare)
      assert(target == 2 * corpus * share / 1000)
      assert(rep == target * 1000 / tok)
      assert(rep > 0) // every source participates
    }
  }

  test("e99 stream quality census equals the t50 batch result") {
    val batch = graft.ext.TextOps.qualityFilter(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val stream = graft.streaming.StreamingOps.streamQualityFilter(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stream.toSeq == batch.toSeq && batch.nonEmpty)
  }
}
