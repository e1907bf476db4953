package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>`/`array<double>` embedding columns,
  * composed from codegen'd higher-order functions (zip_with / transform /
  * aggregate) — no UDFs, so the whole pipeline stays inside whole-stage
  * codegen and is usable in any filter/projection pushdown position.
  *
  * Numerical contract: all folds are sequential left-to-right over the
  * array in DOUBLE, which matches DuckDB's `list_cosine_similarity(
  * CAST(x AS DOUBLE[]), ...)` bit-for-bit (verified empirically over the
  * testdata) — embedding similarity queries are therefore exactly
  * oracle-checkable without rounding.
  */
object VectorOps {

  /** Cast an embedding column to array<double> (exact float32 widening). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential left-fold dot product — the native codegen'd kernel
    * ([[GraftFunctions.dot]]).
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity = dot / (|a|·|b|), computed as
    * dot / sqrt(normSq(a) * normSq(b)) — DuckDB list_cosine_similarity's
    * EXACT operation order (probed directly: multiply the squared norms,
    * then ONE sqrt). The distinction only shows in the last ulp — e.g.
    * an identical-vector pair is exactly 1.0 under this order but
    * 1+2⁻⁵² under sqrt(na)·sqrt(nb), which the sf10 rehearsal surfaced
    * on rotation-invariant replica vectors — but raw-cos oracles (o23,
    * o30) hash it.
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    dot(ad, bd) / sqrt(normSq(ad) * normSq(bd))
  }

  /** L2 (Euclidean) distance. */
  def l2(a: Column, b: Column): Column = {
    val d = zip_with(asDouble(a), asDouble(b), (x, y) => x - y)
    sqrt(dot(d, d))
  }
}
