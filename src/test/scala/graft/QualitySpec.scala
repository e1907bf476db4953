package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Quality
import graft.engine.Quality._

class QualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(
    (Some(1L), Some("F"), 10.0),
    (Some(2L), Some("P"), 0.0),
    (Some(3L), Some("O"), 5.5)
  ).toDF("k", "status", "price")

  test("clean frame passes all checks") {
    val checks =
      Seq(NonEmpty, NotNull("k"), NonNegative("price"), InSet("status", Seq("F", "P", "O")))
    val row = Quality.gateWith(df, checks, Nil) // throws on any violation
    assert(checks.filter(_ != NonEmpty).forall(c => row.getAs[Long](c.name) == 0))
  }

  test("violations are reported per check with counts") {
    val bad = Seq(
      (Option.empty[Long], Some("F"), -1.0),
      (Some(2L), Some("X"), 2.0),
      (Option.empty[Long], Some("P"), 3.0)
    ).toDF("k", "status", "price")
    val vs = intercept[QualityGateException] {
      Quality.gate(bad,
        Seq(NotNull("k"), NonNegative("price"), InSet("status", Seq("F", "P", "O"))))
    }.violations
    val byName = vs.map(v => v.check -> v.count).toMap
    assert(byName("not_null(k)") == 2)
    assert(byName("non_negative(price)") == 1)
    assert(byName("in_set(status)") == 1)
  }

  test("NonEmpty flags an empty frame") {
    val vs = intercept[QualityGateException] {
      Quality.gate(df.filter("k < 0"), Seq(NonEmpty))
    }.violations
    assert(vs.map(_.check) == Seq("non_empty"))
  }

  test("gate is fail-fast: throws with the violation summary") {
    val bad = Seq((Option.empty[Long], Some("F"), 1.0)).toDF("k", "status", "price")
    val e = intercept[Quality.QualityGateException] {
      Quality.gate(bad, Seq(NotNull("k")))
    }
    assert(e.getMessage.contains("not_null(k)=1"))
  }

  test("gate returns the frame unchanged when clean") {
    val checks = Seq(NonEmpty, NotNull("k"), InSet("status", Seq("F", "P", "O")))
    assert(Quality.gate(df, checks).count() == 3)
  }
}
