package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}

/** The one signed segment sum behind the maintained count states: the
  * model tier's count tables (TextOps) and the served BM25 index's df
  * and corpus-stats sidecars (SimilarityOps). */
object Segments {

  /** Per-`keys` sums of `vals` over the `plus` segments, with the
    * `minus` segments entered negated. Keys whose first value sums to
    * ZERO are dropped, so the result's ROW SET equals a from-scratch
    * rebuild's (a key exists there iff some remaining row produced
    * it). Exact ≡ rebuild because the counts are integers and the
    * cohorts are disjoint or nested (the k83/d73 mergeability contract
    * on the estimator's own state). No `keys` sums to one global row.
    * O(segments · keys) rows, never a corpus scan. */
  def signedSum(keys: Seq[String], vals: Seq[String], plus: Seq[DataFrame],
      minus: Seq[DataFrame] = Nil): DataFrame = {
    val negated = minus.map(_.select(
      keys.map(col) ++ vals.map(v => (-col(v)).as(v)): _*))
    val sums = vals.map(v => sum(v).as(v))
    (plus ++ negated).reduce(_ unionByName _)
      .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
      .filter(col(vals.head) > 0)
  }
}
