package graft

/** Plan-inspection tool: `runMain graft.Explain [sfDir [query ...]]`
  * prints `explain("formatted")` for the named registry queries (all of
  * them by default) — the iterate-on-the-plan loop (check PushedFilters,
  * WholeStageCodegen spans, Exchange counts, broadcast choices) without
  * writing a spec first. Pipeline-running entries (p01/p02, streaming)
  * still execute their setup; pass explicit names to skip them.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries.get(n) match {
        case None => println(s"(unknown query: $n)")
        case Some(fn) =>
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"(failed to plan: ${e.getMessage})") }
      }
    }
    spark.stop()
  }
}
