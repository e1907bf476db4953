package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's fail-fast data-quality gate (SURVEY §2.11): Pandera
  * schemas + SQL DQC checks (`etl/tasks/silver.py:7-19,42,58`,
  * `scripts/bronze_incremental.py:68-106`) re-expressed as a reusable
  * `Seq[Check]` gate.
  *
  * Scale posture: ALL checks are evaluated in ONE distributed aggregation
  * pass (a single `agg` of conditional counters — the A2 shape), never by
  * pulling data to the driver the way the reference hands silver tables
  * to pandas/Pandera (`etl/tasks/silver.py:42`) — that copy is the one
  * reference behavior that must not survive at 100 TB.
  */
object Quality {

  sealed trait Check {
    def name: String
    /** 1 for a violating row, 0 otherwise (NonEmpty handled separately). */
    def violation: Column
  }
  /** Not-null key check (`silver.py:18`). */
  final case class NotNull(column: String) extends Check {
    val name = s"not_null($column)"
    def violation: Column = when(col(column).isNull, 1).otherwise(0)
  }
  /** Non-negative measure check (`silver.py:15-17`). */
  final case class NonNegative(column: String) extends Check {
    val name = s"non_negative($column)"
    def violation: Column = when(col(column) < 0, 1).otherwise(0)
  }
  /** Domain check (`silver.py:8-12` order_status ∈ {...}). */
  final case class InSet(column: String, allowed: Seq[String]) extends Check {
    val name = s"in_set($column)"
    def violation: Column =
      when(col(column).isNotNull && !col(column).isin(allowed: _*), 1).otherwise(0)
  }
  /** Non-empty input check (`bronze_incremental.py:69-71`). */
  case object NonEmpty extends Check {
    val name = "non_empty"
    def violation: Column = lit(0)
  }

  final case class Violation(check: String, count: Long)
  final class QualityGateException(val violations: Seq[Violation])
    extends RuntimeException(
      "quality gate failed: " +
        violations.map(v => s"${v.check}=${v.count}").mkString(", "))

  /** Blocking gate: evaluate all checks in ONE aggregation pass and throw
    * on any violation so downstream stages never run (the reference's
    * pipeline-abort semantics, `README_FASE1.md:61-62`). `extras` are
    * caller-supplied aggregate columns folded into the SAME pass and
    * returned in the counters Row (access by the alias the caller gave
    * each column): Gold.ensure's layout sizing gets its whole-table
    * statistics from the gate's scan, not a second one (at 100 TB a
    * second full pass over silver is a real job).
    */
  def gateWith(df: DataFrame, checks: Seq[Check], extras: Seq[Column]): Row = {
    val all = counters(checks) ++ extras
    val row = df.agg(all.head, all.tail: _*).collect()(0)
    val violations = violationsOf(checks, Some(row))
    if (violations.nonEmpty) throw new QualityGateException(violations)
    row
  }

  /** [[gateWith]] with no extras: the gated frame, unchanged. */
  def gate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    gateWith(df, checks, Nil)
    df
  }

  /** The [[gateWith]] counters per value of `key`, still ONE aggregation
    * pass (a `groupBy(key)`), without throwing: each of `keys`, in order,
    * with its row count and its violations (empty = passed). A listed key
    * with no rows counts 0 rows, so it fails [[NonEmpty]] if that is
    * checked.
    */
  def validateBy(df: DataFrame, key: String, keys: Seq[String], checks: Seq[Check])
      : Seq[(String, Long, Seq[Violation])] = {
    val all = counters(checks)
    val byKey = df.groupBy(col(key).cast("string")).agg(all.head, all.tail: _*)
      .collect().map(r => r.getString(0) -> r).toMap
    keys.map { k =>
      val row = byKey.get(k)
      (k, row.fold(0L)(_.getAs[Long]("__rows")), violationsOf(checks, row))
    }
  }

  private def counters(checks: Seq[Check]): Seq[Column] =
    count(lit(1)).as("__rows") +: checks.filter(_ != NonEmpty)
      .map(c => sum(c.violation).cast("long").as(c.name))

  /** Violations from a [[counters]] row; no row = no input rows. */
  private def violationsOf(checks: Seq[Check], row: Option[Row]): Seq[Violation] = {
    def n(name: String) = row.fold(0L)(_.getAs[Long](name))
    checks.filter(_ != NonEmpty).map(c => Violation(c.name, n(c.name))).filter(_.count > 0) ++
      (if (checks.contains(NonEmpty) && n("__rows") == 0) Seq(Violation(NonEmpty.name, 1)) else Nil)
  }

  /** The silver-orders contract (`silver.py:8-18` analog) on the rows silver keeps. */
  val orderChecks: Seq[Check] = Seq(
    NonEmpty, NotNull("o_custkey"), InSet("o_orderstatus", Seq("F", "P", "O")))

  /** The silver-lineitem contract (`silver.py:15-18` analog) on the rows silver keeps. */
  val lineitemChecks: Seq[Check] = Seq(
    NonEmpty, NotNull("l_partkey"), NonNegative("l_extendedprice"))
}
