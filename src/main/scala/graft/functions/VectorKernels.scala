package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native dot-product kernel: one tight JVM loop instead of a
  * `zip_with` + `aggregate` higher-order tree (HOF lambdas are evaluated
  * by the expression interpreter PER ELEMENT — the dominant cost in the
  * similarity pipelines). The loop accumulates left-to-right exactly like
  * the sequential HOF fold, so results are bit-identical to
  * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` (asserted in
  * VectorOpsSpec) and to the DuckDB oracle.
  */
object VectorKernels {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}
