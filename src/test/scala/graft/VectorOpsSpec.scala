package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, col, lit, zip_with}
import graft.functions.VectorOps

class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Double =
    Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 1.0f, 2.0f)))
      .toDF("a", "b").select(c.as("v")).as[Double].collect()(0)

  /** Higher-order-function twin of `VectorOps.dot`: the executable parity
    * spec for the kernel — same fold order, same bits.
    */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("cosine: identical vectors -> 1.0") {
    val v = Seq((Seq(3.0f, 4.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("v")).as[Double].collect()(0)
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("cosine: orthogonal vectors -> 0.0") {
    val v = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("v")).as[Double].collect()(0)
    assert(v == 0.0)
  }

  test("dot and norms compute known values") {
    assert(one(VectorOps.dot(VectorOps.asDouble(col("a")), VectorOps.asDouble(col("b")))) == 8.0)
    assert(one(VectorOps.normSq(VectorOps.asDouble(col("a")))) == 9.0)
    assert(one(VectorOps.norm(VectorOps.asDouble(col("a")))) == 3.0)
  }

  test("native dot kernel is bit-identical to the HOF fold") {
    val vecs = (0 until 50).map { i =>
      (Seq.tabulate(64)(j => (math.sin(i * 64 + j) * 10).toFloat),
        Seq.tabulate(64)(j => (math.cos(i * 64 + j) * 10).toFloat))
    }
    val df = vecs.toDF("a", "b")
    val both = df.select(
      VectorOps.dot(VectorOps.asDouble(col("a")), VectorOps.asDouble(col("b"))).as("k"),
      dotHof(VectorOps.asDouble(col("a")), VectorOps.asDouble(col("b"))).as("h"))
      .collect()
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)),
      "kernel and HOF fold must agree to the last bit")
  }

  test("l2 distance of known vectors") {
    val v = Seq((Seq(1.0f, 2.0f), Seq(4.0f, 6.0f))).toDF("a", "b")
      .select(VectorOps.l2(col("a"), col("b")).as("v")).as[Double].collect()(0)
    assert(v == 5.0)
  }
}
