package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared Column builders for the text-analysis / dedup suite. All are
  * composed from codegen'd built-ins and keep exact parity with the
  * DuckDB oracle SQL (noted per function), so every query built on them
  * is hash-checkable.
  */
object TextOps {

  /** Whitespace tokens, empty-free.
    * Oracle: `list_filter(string_split_regex(trim(text),'\s+'), t -> t != '')`.
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Distinct shingle set (string identity — exact, no hash collisions),
    * one codegen'd byte scan per row ([[graft.functions.TextKernels]];
    * TextKernelSpec locks equality with the split + HOF + array_distinct
    * chain it replaced).
    */
  def shingleSet(text: Column, w: Int = 3): Column =
    graft.functions.GraftFunctions.shingleSet(text, w)

  /** All w-token shingles straight from raw text — a doc with ≤ w tokens
    * is one shingle (o60/o61/o62).
    * Oracle: `CASE WHEN len(t) <= w THEN [array_to_string(t,' ')]
    * ELSE [array_to_string(list_slice(t,i,i+w-1),' ') FOR i IN range(1, len(t)-w+2)] END`.
    */
  def shinglesText(text: Column, w: Int): Column =
    graft.functions.GraftFunctions.shingles(text, w)

  /** Portable 32-bit hash of a string column: last 8 hex chars of md5 as
    * an unsigned int in a long.
    * Oracle: `CAST('0x' || substr(md5(x), 25, 8) AS BIGINT)`.
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 25, 8), 16, 10).cast("long")

  /** Winnowing-style content fingerprint: the bottom-4 portable hashes
    * of a doc's distinct 3-shingles, dash-joined — the o27 kernel,
    * shared with the o59 incremental dedup.
    * Oracle: `array_to_string(list_slice(list_sort(list_distinct(
    * [CAST('0x'||substr(md5(x),25,8) AS BIGINT) FOR x IN s])), 1, 4), '-')`.
    */
  def fingerprint(text: Column): Column =
    graft.functions.GraftFunctions.portableFingerprint(text)

  /** Exact Jaccard similarity of two pre-distinct string arrays, as the
    * double `|A∩B| / (|A|+|B|-|A∩B|)` — the operand order the oracle
    * uses, so the division is bit-identical.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }
}
