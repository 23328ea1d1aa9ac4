package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHash64
import graft.functions.RollingHash64.rolling_hash64

/** Native Expression tier, exercised through the Column API. */
class FunctionsSpec extends AnyFunSuite with SparkSpec {

  test("rolling_hash64 matches the reference on both eval paths") {
    import spark.implicits._
    val inputs = Seq("", "a", "abc", "the quick brown fox", "café ñ",
      "x" * 5000)
    val df = inputs.toDF("s")
    // codegen path (projection over a DataFrame)
    val got = df.select(rolling_hash64(col("s"))).collect().map(_.getLong(0))
    val want = inputs.map(s => RollingHash64.reference(s.getBytes("UTF-8")))
    assert(got.toSeq == want)
    // interpreted path (literal fold happens driver-side via eval)
    val lit1 = spark.range(1)
      .select(rolling_hash64(lit("abc"))).collect().head.getLong(0)
    assert(lit1 == RollingHash64.reference("abc".getBytes("UTF-8")))
    // null-safety
    val n = df.select(rolling_hash64(lit(null).cast("string"))).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("vector kernels match the HOF left fold bit-for-bit") {
    import spark.implicits._
    import graft.functions.VecExprs.{dist_sq_l, dot_d}
    val rng = new scala.util.Random(42)
    val vecs = Seq.fill(50)(
      (Array.fill(64)(rng.nextDouble() * 2 - 1),
        Array.fill(64)(rng.nextDouble() * 2 - 1)))
    val df = vecs.toDF("a", "b")
    // the HOF formulation the kernels replaced — same fold order
    val hofDot = aggregate(zip_with(col("a"), col("b"), _ * _),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(dot_d(col("a"), col("b")).as("k"), hofDot.as("h"))
      .collect()
    // bit-identical, not approximately equal: to-the-bit comparison
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
    // integer distance kernel vs the HOF fold
    val lv = Seq((Array(1L, -2L, 3L), Array(4L, 0L, -1L)))
    val ld = lv.toDF("a", "b")
    val hofD2 = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
    val got = ld.select(dist_sq_l(col("a"), col("b")), hofD2).collect().head
    assert(got.getLong(0) == (9L + 4L + 16L) && got.getLong(1) == got.getLong(0))
    // interpreted path (eval on literals, driver-side)
    val one = spark.range(1).select(
      dot_d(typedLit(Seq(1.0, 2.0)), typedLit(Seq(3.0, 4.0)))).collect().head
    assert(one.getDouble(0) == 11.0)
    // declared inputTypes: int-array args are implicitly CAST to the
    // declared element widths (ArrayData.getDouble/getLong would
    // otherwise reinterpret the narrower buffer), and non-array args
    // are rejected at analysis
    val ints = Seq((Array(1, 2), Array(3, 4), Array(1, 5), Array(4, 1)))
      .toDF("a", "b", "c", "e")
    val castVec = ints.select(dot_d(col("a"), col("b")),
      dist_sq_l(col("c"), col("e"))).collect().head
    assert(castVec.getDouble(0) == 11.0 && castVec.getLong(1) == 25L)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(dot_d(lit(1.0), lit(2.0))).collect()
    }
    // the kernel stays inside whole-stage codegen (no CodegenFallback);
    // repartition first or ConvertToLocalRelation folds the projection
    // into a LocalTableScan and no stage exists to inspect
    val staged = df.repartition(2).select(dot_d(col("a"), col("b")))
    staged.collect()
    val plan = staged.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen stage, got:\n$plan")
  }
}
