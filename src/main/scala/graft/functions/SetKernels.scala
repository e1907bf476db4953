package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Exact set-intersection size of two ASCENDING-sorted string arrays via
  * a linear merge — the verify kernel for the exact-Jaccard dedup joins
  * (o22/o53). `array_intersect` builds a per-row hash set of one operand
  * (string hashing + probing for every element, every pair); over the
  * millions of candidate pairs a near-dup self-join emits, the merge is
  * the dominant-cost fix: O(|a|+|b|) byte-wise `UTF8String.compareTo`
  * calls, no allocation, inside whole-stage codegen. Sortedness is the
  * caller's contract (one `array_sort` per DOC on the build side, not
  * per PAIR): Spark's `array_sort` on strings orders by the same binary
  * UTF8String comparison the merge uses (default UTF8_BINARY collation),
  * so the two agree on any input.
  */
object SetKernels {
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { n += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    n
  }

  /** Long-element variant — zero allocation per element (`getLong`
    * reads primitives straight out of the unsafe array, where
    * `getUTF8String` materializes an object per access; at millions of
    * pairs × ~100 elements the string variant's allocations are pure GC
    * pressure). Callers map set elements to unique longs first (o53's
    * dense shingle ids) and merge those.
    */
  def sortedIntersectSizeLong(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}
