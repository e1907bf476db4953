package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide physical-plan audit: the scale contracts that hold for
  * EVERY query (no unbounded cartesian, nested-loop joins only where the
  * broadcast side is bounded by construction, filters pushed into the
  * parquet reader, top-k without a global sort) are asserted against the
  * planned — not executed — physical plans, so a regression in any
  * single query's plan shape fails CI before it becomes a 100 TB
  * incident.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Constructions that RUN a pipeline (incremental bronze, streaming
    * micro-batches) rather than returning a lazy plan — their physics
    * are audited by their own suites.
    */
  private val pipelines = Set(
    "p01_incremental_runs", "p02_incremental_bronze",
    "s01_streaming_hourly", "s02_streaming_dedup",
    "s03_streaming_ingest", "s04_stream_stream_join")

  /** Broadcast nested-loop joins by design: the broadcast side is
    * bounded by construction (fixed query set / centroid set / sampled
    * corpus), so the "nested loop" is a per-row loop over a small
    * in-memory array, not an all-pairs shuffle.
    */
  private val bnlAllowed = Set(
    "o23_knn_cosine", "o30_embedding_neardup", "x01_ann_ivf",
    "x07_sq8_ann", // 1-row dim-scales frame + fixed query code set, both broadcast
    "o41_tfidf", // 1-row corpus-size scalar joined via broadcast
    "t11_dormant_customers", // 1-row balance-threshold scalar broadcast
    "t20_value_concentration", // 1-row region-total scalar broadcast
    "o52_skew_join_rehearsal", // 1-row hot-key scalar broadcast
    "o65_unigram_surprisal", // 1-row corpus-token-total scalar broadcast
    "o68_bm25_topk", // 1-row (N, avgdl) corpus-stats broadcast
    "o72_kmeans", // ≤k-row centroid set broadcast each Lloyd round
    "o57_srp_blocked_neardup", // same ≤k-row centroid broadcast (embeds kmeansAssign)
    "o79_pps_sample") // k-row probe-point frame broadcast into the containment join

  private lazy val plans: Map[String, String] =
    SparkEntry.queries.collect {
      case (name, fn) if !pipelines(name) =>
        name -> fn(spark, sf).queryExecution.executedPlan.toString
    }

  test("no registry plan contains an unbounded cartesian product") {
    val bad = plans.filter(_._2.contains("CartesianProduct")).keys.toSeq.sorted
    assert(bad.isEmpty, s"cartesian product planned in: ${bad.mkString(", ")}")
  }

  test("nested-loop joins appear only where the broadcast side is bounded") {
    val bad = plans.filter { case (n, p) =>
      p.contains("BroadcastNestedLoopJoin") && !bnlAllowed(n)
    }.keys.toSeq.sorted
    assert(bad.isEmpty, s"unexpected BroadcastNestedLoopJoin in: ${bad.mkString(", ")}")
  }

  test("raw→silver derivation pushes its null filters into the parquet reader") {
    // the registry's m01 reads the MATERIALIZED silver layer (filters
    // already applied before the write — correctly nothing left to
    // push), so pushdown is asserted on the derivation itself
    val plan = graft.engine.Medallion.silverOrders(
        graft.engine.Tables.orders(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("IsNotNull"),
      s"expected IsNotNull in PushedFilters, got:\n$plan")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plans("o10_topk").contains("TakeOrderedAndProject"))
  }

  test("the gated spread probe never shuffles an already-parallel input") {
    import spark.implicits._
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val p = spark.sparkContext.defaultParallelism
    // already at >= defaultParallelism partitions: Spread must be the
    // identity — exactly the Exchanges the input plan had, none added
    val wide = (1 to 1000).toDF("x").repartition(p).filter($"x" > 0)
    assert(exchanges(graft.engine.Spread(wide)) == exchanges(wide),
      "Spread added an Exchange to an already-parallel input")
    // and a single-split input DOES get spread (the probe's other arm)
    val narrow = (1 to 10).toDF("x").coalesce(1)
    assert(exchanges(graft.engine.Spread(narrow)) > exchanges(narrow),
      "Spread skipped a single-split input")
    // the probe reads PLANNED partitions, not file counts: a file-backed
    // frame coalesced below parallelism is serialized no matter how many
    // files back it — a file-count probe would wave it through
    val dir = TestSpark.tmpDir("spread-coalesced")
    (1 to 1000).toDF("x").repartition(p).write.mode("overwrite").parquet(dir)
    val filesBacked = spark.read.parquet(dir)
    assert(filesBacked.inputFiles.length >= 2, "need a multi-file fixture")
    val squeezed = filesBacked.coalesce(1)
    assert(exchanges(graft.engine.Spread(squeezed)) > exchanges(squeezed),
      "Spread must re-spread a coalesced file-backed frame (planned=1)")
    // while the same multi-file scan left alone stays un-shuffled. The
    // fixture FORCES planned >= p (each file its own split, via the
    // open-cost/partition-bytes confs) so this arm can never pass
    // vacuously on a box whose planner packs the tiny files together.
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
      spark.conf.set("spark.sql.files.openCostInBytes", "1048576")
      val parallelScan = spark.read.parquet(dir)
      val planned = parallelScan.rdd.getNumPartitions
      assert(planned >= p, s"fixture too small: planned $planned < parallelism $p")
      assert(exchanges(graft.engine.Spread(parallelScan)) == exchanges(parallelScan),
        "Spread shuffled an already-parallel file scan")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  test("the spread gate is not fooled by broadcast exchanges or sub-parallel shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val p = spark.sparkContext.defaultParallelism
    // Spread returns its argument ITSELF when the input is parallel
    // enough, so reference identity is an exact probe of its decision.
    // A single-split corpus broadcast-joined to a dim carries a
    // BroadcastExchange yet executes at one partition: a gate matching
    // bare `Exchange` waves it through and the per-row hot loop above it
    // serializes onto one core — the exact failure the gate exists to
    // prevent.
    val corpus = (1 to 100).toDF("k").coalesce(1)
    val joined = corpus.join(broadcast((1 to 5).toDF("k")), "k")
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "fixture must carry a broadcast exchange")
    assert(!(graft.engine.Spread(joined) eq joined),
      "Spread waved through a broadcast-joined single-split frame")
    // a shuffle PLANNED below parallelism is not proof of parallelism
    val narrow = (1 to 1000).toDF("x").repartition(1)
    assert(!(graft.engine.Spread(narrow) eq narrow),
      "Spread trusted a 1-partition shuffle exchange")
    // a coalesce ABOVE a wide shuffle serializes its output: the probe
    // must read the root's partitioning, not just find-any-exchange
    val squeezed = (1 to 1000).toDF("x").repartition(p).coalesce(1)
    assert(!(graft.engine.Spread(squeezed) eq squeezed),
      "Spread trusted a shuffle hidden under a coalesce(1)")
    // and a shuffle AT parallelism is accepted from the plan alone
    val wide = (1 to 1000).toDF("x").repartition(p)
    assert(graft.engine.Spread(wide) eq wide,
      "Spread re-shuffled an already-parallel exchange")
    val grouped = (1 to 1000).toDF("x").groupBy($"x" % 10).count()
    assert(graft.engine.Spread(grouped) eq grouped,
      "Spread re-shuffled a grouped aggregate at shuffle.partitions")
  }

  test("the bucketed star query joins AND aggregates with zero shuffle exchanges") {
    val plan = plans("o51_bucketed_star")
    assert(plan.contains("SortMergeJoin"),
      s"expected a sort-merge join over bucketed scans, got:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"expected bucketed file scans, got:\n$plan")
    // bucket layout carries the join AND the per-customer aggregate:
    // not one Exchange anywhere in the plan (broadcast included — the
    // merge hint pins SMJ so a small dim can't mask the proof)
    assert(!plan.contains("Exchange"),
      s"bucketed star must be shuffle-free end-to-end, got:\n$plan")
  }

  test("the MinHash LSH verify shingles only candidate docs (semi-join below the projection)") {
    // the exact-Jaccard verify must compute shingle sets AFTER a
    // LeftSemi prune on candidate ids — a plan whose shingle_set
    // projection reads the bare corpus scan re-shingles every doc and
    // ships corpus-sized array columns into the verify joins (the shape
    // this audit exists to keep dead)
    val plan = plans("o22_minhash_lsh_jaccard")
    assert(plan.contains("LeftSemi"),
      s"expected a candidate-id semi-join in the verify stage, got:\n$plan")
    // and the semi-join must be BROADCAST-fed: candIds is bounded by the
    // LSH collision rate, so shipping it to the corpus side keeps the
    // corpus shuffle-free — a shuffled LeftSemi here would move every
    // doc's bytes for a candidate set that fits in one broadcast
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"expected the candidate-id LeftSemi to be a BroadcastHashJoin, got:\n$plan")
  }

  test("o52 splits its hot partition under rehearsal-scaled skew thresholds") {
    // the registry's skew rehearsal: o52 manufactures a key owning ~1/3
    // of the fact and arrives at the join from 24 mappers. Under
    // thresholds scaled to testdata bytes (the decision logic —
    // partition > max(floor, factor × median) → slice along map-output
    // boundaries to advisory size — is scale-free, only the constants
    // are rehearsal-sized), the EXECUTED plan must carry the two marks
    // of a real runtime split: an isSkewJoin sort-merge join and >1
    // PartialReducerPartitionSpec slice on the hot side's shuffle read.
    import org.apache.spark.sql.execution.PartialReducerPartitionSpec
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.shuffle.partitions", "16")
      val df = SparkEntry.queries("o52_skew_join_rehearsal")(spark, sf)
      // drain THIS QueryExecution: a noop write plans a FRESH one,
      // leaving this df's adaptive plan un-executed and its runtime
      // skew marks unset (the round-10 probe trap)
      df.queryExecution.toRdd.foreachPartition(_ => ())
      val nodes = PlanDiff.flatten(df.queryExecution.executedPlan)
      val skewJoins = nodes.count {
        case j: SortMergeJoinExec => j.isSkewJoin
        case _ => false
      }
      val slices = nodes.collect { case r: AQEShuffleReadExec =>
        r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
      }.sum
      assert(skewJoins > 0,
        s"expected an isSkewJoin SMJ in o52's executed plan:\n${df.queryExecution.executedPlan}")
      assert(slices > 1,
        s"hot partition was not sliced into partial-reducer ranges (specs=$slices)")
    } finally keys.foreach(k => saved(k).fold(conf.unset(k))(conf.set(k, _)))
  }

  test("period predicates on the gold fact prune partitions, not just rows") {
    import org.apache.spark.sql.functions.col
    val factDir = s"${graft.engine.Gold.ensure(spark, sf)}/fact_sales"
    // take a real partition value from the written layout (the grain is
    // data-sized: year at the gate scales, month once an average month
    // holds Gold.fanoutRowFloor lineitems — the pruning property must
    // hold either way)
    val period = new java.io.File(factDir).listFiles()
      .map(_.getName).find(_.startsWith("order_period="))
      .map(_.stripPrefix("order_period=")).get
    val plan = spark.read.parquet(factDir)
      .filter(col("order_period") === period)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("order_period"),
      s"expected order_period in PartitionFilters, got:\n$plan")
  }

  test("o70's PageRank rounds are checkpointed: the final plan replays no join chain") {
    // round 15 shape: each round is an eagerly-checkpointed job (rank
    // frame = one row per node) and the edge list is materialized once,
    // so the registry query's OWN plan must be shallow — a scan of the
    // last round's checkpoint RDD plus select/top-k, with the 5 rounds'
    // joins absent (they already ran). A lazily unrolled plan would
    // re-derive a k-deep join tree here; its reappearance is the
    // regression this guards against.
    val qe = SparkEntry.queries("o70_pagerank")(spark, sf).queryExecution
    qe.toRdd.count(): Unit
    val nodes = PlanDiff.flatten(qe.executedPlan)
    val joins = nodes.count(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins == 0,
      s"expected the checkpointed final plan to contain no joins, got $joins:\n${qe.executedPlan}")
    assert(nodes.exists(_.nodeName.contains("ExistingRDD")),
      s"expected a scan of the checkpointed rank RDD:\n${qe.executedPlan}")
  }

  test("o74's three funnel-stage windows and the user collapse share one Exchange") {
    val plan = plans("o74_funnel")
    // the t1/t2/t3 stacked windows and the per-user groupBy all ride a
    // single hashpartitioning(user_id); the only other Exchange is the
    // final single-partition global aggregate
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected exactly 1 hash Exchange for the funnel, got $hashEx:\n$plan")
  }

  test("no registry query sums a money column as DOUBLE (decimal discipline tripwire)") {
    // The sf10 drift class: SUM(double) over money is association-order-
    // dependent, so Spark's partial-agg order vs DuckDB's serial order
    // flips the last ulp and crosses round(…,2) boundaries at scale —
    // while matching at sf0.01, where the per-round gate runs. Every
    // money aggregate must cast to DECIMAL before summing (`moneySum` /
    // the t01 discipline). This walks every registry query's ANALYZED
    // plan and fails on any Sum whose input is floating-point and
    // references a money column. Counting sums (CASE…THEN 1 ELSE 0 over
    // a money predicate) aggregate integers, so the dataType check
    // exempts them naturally. dev/oracle_types.py runs the twin audit
    // over the DuckDB oracle texts.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val money = Set("l_extendedprice", "l_discount", "price", "freight_value",
      "value", "o_totalprice", "p_retailprice", "amount", "order_revenue",
      "revenue", "rev", "total_value")
    val offenders = SparkEntry.queries.toSeq.collect {
      case (name, fn) if !pipelines(name) =>
        val plan = fn(spark, sf).queryExecution.analyzed
        val bad = plan.collect { case node =>
          node.expressions.flatMap(_.collect {
            case s: Sum if (s.child.dataType == DoubleType ||
              s.child.dataType == FloatType) &&
              s.child.references.exists(a => money(a.name)) =>
              s.child.sql
          })
        }.flatten.distinct
        name -> bad
    }.filter(_._2.nonEmpty).sortBy(_._1)
    assert(offenders.isEmpty,
      "double SUM over money columns (cast to DECIMAL before summing):\n" +
        offenders.map { case (n, es) => s"  $n: ${es.mkString("; ")}" }
          .mkString("\n"))
  }

  test("no registry query emits a raw DECIMAL output column (driver render tripwire)") {
    // SURVEY §8's binding decimal-render rule, made mechanical: the
    // driver's hash of a DECIMAL-typed OUTPUT column diverges on
    // bit-identical values (proven twice — m07 r16, m08 r17, both on a
    // 5-row constant probe whose rows and schema matched with the hash
    // red). Until now only convention stopped a future registry query
    // from emitting one and going driver-red; this walks every registry
    // query's OUTPUT schema (recursively — a decimal buried in a struct
    // or array renders through the same hash) and fails on any
    // DecimalType. Decimal stays the mandated INTERNAL arithmetic type
    // (the money-sum tripwire above enforces that side); only the final
    // rendered column must be DOUBLE (m07/o82 pattern) or canonical
    // VARCHAR (m08 pattern). Pipeline constructions run under the same
    // walk: their outputs cross the same driver hash.
    import org.apache.spark.sql.types._
    def decimalPaths(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType => Seq(path)
      case s: StructType  => s.fields.toSeq.flatMap(f => decimalPaths(f.dataType, s"$path.${f.name}"))
      case a: ArrayType   => decimalPaths(a.elementType, s"$path[]")
      case m: MapType     => decimalPaths(m.keyType, s"$path.key") ++
                             decimalPaths(m.valueType, s"$path.value")
      case _              => Nil
    }
    def offenders(schema: StructType): Seq[String] =
      schema.fields.toSeq.flatMap(f => decimalPaths(f.dataType, f.name))
    // the tripwire must TRIP: a deliberate raw-DECIMAL frame (top-level
    // and struct-nested) is red before the registry is declared green
    import org.apache.spark.sql.functions.{lit, struct}
    val probe = spark.range(1).select(
      lit("1.5000").cast(DecimalType(18, 4)).as("money"),
      struct(lit("2.25").cast(DecimalType(9, 2)).as("inner")).as("nested"))
    assert(offenders(probe.schema) == Seq("money", "nested.inner"),
      "tripwire failed to flag a deliberate raw-DECIMAL schema")
    val bad = SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> offenders(fn(spark, sf).schema)
    }.filter(_._2.nonEmpty).sortBy(_._1)
    assert(bad.isEmpty,
      "raw DECIMAL output columns (render to DOUBLE or VARCHAR — SURVEY §8):\n" +
        bad.map { case (n, cs) => s"  $n: ${cs.mkString(", ")}" }.mkString("\n"))
  }

  test("o69's lag + lead + row_number windows share one Exchange over user_id") {
    val plan = plans("o69_scd2_history")
    // the final orderBy adds a rangepartitioning Exchange; the windows
    // themselves must all ride the single hashpartitioning(user_id) one
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected exactly 1 hash Exchange for the three user_id windows, got $hashEx:\n$plan")
  }
}
