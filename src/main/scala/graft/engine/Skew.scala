package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for a hot GROUP BY key: salt the rows into `salts`
  * sub-keys so one hot key's rows spread over `salts` reducers instead
  * of one.
  *
  * Hot-key JOINS are left to AQE's runtime skew split
  * (`spark.sql.adaptive.skewJoin`, locked in SkewSpec and by o52's plan
  * audit); a plan-time salted join replicates the other side `salts`×
  * and measured 3.5× slower than the split at sf1 (SCALE.md, "Skew
  * rehearsal"). Aggregation is where AQE has no split — a reducer must
  * see all rows of a group — so the two-level salted aggregation below
  * is the canonical shape: partial-agg on (key, salt) → final agg on
  * key — same result, bounded reducer size.
  */
object Skew {

  /** Two-level salted aggregation: `sum(valueCol)` grouped by `key`,
    * computed skew-safely. (sum/count/min/max compose over the salt
    * level; avg must be derived as sum/count.)
    */
  def saltedSum(df: DataFrame, key: String, valueCol: String,
                salts: Int = 16): DataFrame =
    df
      // salt derived from ROW CONTENT, never from nondeterministic ids:
      // a stage retry must re-hash every row to the same salt group, or
      // reducers double-count/drop rows (the monotonically_increasing_id
      // -in-a-shuffle class of bug). Degenerates only if the hot key's
      // rows are fully identical.
      .withColumn("__salt", pmod(hash(col(key), col(valueCol)), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"sum_$valueCol"))
}
