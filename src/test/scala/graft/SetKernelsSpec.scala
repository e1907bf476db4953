package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions

/** The sorted-merge intersection kernels must agree exactly with
  * `array_intersect` on pre-sorted distinct arrays — they are the verify
  * stage of the exact-Jaccard dedup joins, so any disagreement is a
  * correctness bug, not a perf regression.
  */
class SetKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("string kernel matches array_intersect on random sorted sets") {
    val df = spark.range(200).select(
      col("id"),
      array_sort(array_distinct(transform(
        sequence(lit(1), (pmod(col("id") * 7 + 3, lit(40)) + lit(1)).cast("int")),
        i => concat(lit("s"), pmod(i * (col("id") + 2), lit(50)))))).as("a"),
      array_sort(array_distinct(transform(
        sequence(lit(1), (pmod(col("id") * 11 + 5, lit(40)) + lit(1)).cast("int")),
        i => concat(lit("s"), pmod(i * (col("id") + 5), lit(50)))))).as("b"))
    val bad = df.filter(
      GraftFunctions.sortedIntersectSize(col("a"), col("b")) =!=
        size(array_intersect(col("a"), col("b"))).cast("long")).count()
    assert(bad === 0L)
  }

  test("long kernel matches array_intersect on random sorted sets") {
    val df = spark.range(200).select(
      col("id"),
      array_sort(array_distinct(transform(
        sequence(lit(1), (pmod(col("id") * 7 + 3, lit(40)) + lit(1)).cast("int")),
        i => pmod(i * (col("id") + 2), lit(60))))).as("a"),
      array_sort(array_distinct(transform(
        sequence(lit(1), (pmod(col("id") * 11 + 5, lit(40)) + lit(1)).cast("int")),
        i => pmod(i * (col("id") + 5), lit(60))))).as("b"))
    val bad = df.filter(
      GraftFunctions.sortedIntersectSizeLong(col("a"), col("b")) =!=
        size(array_intersect(col("a"), col("b"))).cast("long")).count()
    assert(bad === 0L)
  }

  test("edge cases: empty, disjoint, identical") {
    import spark.implicits._
    val rows = Seq(
      (Seq.empty[Long], Seq(1L, 2L), 0L),
      (Seq(1L, 2L, 3L), Seq.empty[Long], 0L),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L), 0L),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L),
      (Seq(1L, 5L, 9L, 12L), Seq(5L, 12L, 40L), 2L)
    ).toDF("a", "b", "want")
    val bad = rows.filter(
      GraftFunctions.sortedIntersectSizeLong(col("a"), col("b")) =!= col("want")).count()
    assert(bad === 0L)
  }
}
