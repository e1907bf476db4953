package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Executed-plan strategy summary: `runMain graft.PlanDiff <sfDir> [query ...]`
  * EXECUTES each named registry query (draining its own QueryExecution's
  * toRdd — NOT a sink, which would execute a different QueryExecution and
  * leave this one's adaptive plan initial) and prints one line per query
  * with the join strategies, shuffle count, and broadcast count of the
  * FINAL adaptive plan — the ground truth for "which plans flip when the
  * data grows 10×" (static explain shows the pre-AQE guess; the
  * sf0.1→sf1 rehearsal needs the post-runtime-stats answer: broadcast→SMJ
  * demotions, skew-join splits, coalesced shuffle reads).
  *
  * AQE wraps materialized stages in leaf QueryStageExec nodes, so a plain
  * `plan.collect` stops at stage boundaries; the walk below recurses
  * through stages, reused exchanges, and nested adaptive plans.
  */
object PlanDiff {

  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case other                    => other.children
    }
    p +: kids.flatMap(flatten)
  }

  def summarize(plan: SparkPlan): String = {
    val nodes = flatten(plan)
    val joins = nodes.collect {
      case j: BroadcastHashJoinExec       => s"BHJ(${j.joinType})"
      case j: SortMergeJoinExec           => s"SMJ(${j.joinType})"
      case j: ShuffledHashJoinExec        => s"SHJ(${j.joinType})"
      case j: BroadcastNestedLoopJoinExec => s"BNLJ(${j.joinType})"
      case j: BaseJoinExec                => s"${j.nodeName}(${j.joinType})"
    }
    // a ReusedExchangeExec's child IS the original exchange instance, so
    // the flat walk visits it once per consumer — dedupe by object
    // identity to report EXECUTED exchanges (each unique instance runs
    // once) separately from reuse sites (free at runtime)
    def uniq(ps: Seq[SparkPlan]): Int =
      ps.map(System.identityHashCode).distinct.size
    val shuffles = uniq(nodes.filter(_.isInstanceOf[ShuffleExchangeLike]))
    val broadcasts = uniq(nodes.filter(_.isInstanceOf[BroadcastExchangeLike]))
    val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
    val skewed = nodes.collect { case j: SortMergeJoinExec if j.isSkewJoin => j }.size
    s"joins=[${joins.mkString(",")}] shuffles=$shuffles broadcasts=$broadcasts" +
      (if (reused > 0) s" reusedExchanges=$reused" else "") +
      (if (skewed > 0) s" skewJoins=$skewed" else "")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"[plandiff] $n: (unknown query)")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            // Execute THIS df's own QueryExecution: a sink (noop write)
            // would plan a FRESH QueryExecution for the write command and
            // leave df's adaptive plan un-executed, so summarize() would
            // read the INITIAL plan — static join guesses, no runtime
            // coalescing, skew splits never visible. toRdd is the same
            // lazy plan the write would wrap; draining it drives AQE to
            // the real final plan without collecting rows to the driver.
            val qe = df.queryExecution
            qe.toRdd.foreachPartition(_ => ())
            println(s"[plandiff] $n: ${summarize(qe.executedPlan)}")
          } catch {
            case e: Throwable => println(s"[plandiff] $n: FAILED ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
