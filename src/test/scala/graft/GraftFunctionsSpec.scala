package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{GraftFunctions, PortableHash, TextHash}

class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("kernel functions are callable from SQL and match the JVM kernels") {
    GraftFunctions.register(spark)
    val text = "spark shuffles data by key across the cluster"
    val row = spark.sql(
      s"""SELECT simhash64('$text') AS s,
         |       simhash_portable64('$text') AS p,
         |       minhash('$text', 8, 3) AS m,
         |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
         |       sorted_intersect_size(array('a','b','d'), array('b','c','d')) AS si,
         |       sorted_intersect_size_long(array(1L, 5L, 9L), array(5L, 9L, 40L)) AS sl
         |""".stripMargin).collect()(0)
    assert(row.getAs[Long]("s") == TextHash.simhash64(UTF8String.fromString(text)))
    assert(row.getAs[Long]("p") == PortableHash.simhash64(UTF8String.fromString(text)))
    assert(row.getSeq[Long](2).length == 8)
    assert(row.getAs[Double]("d") == 11.0)
    assert(row.getAs[Long]("si") == 2L)
    assert(row.getAs[Long]("sl") == 2L)
  }

  test("sqlFunctions lists every SQL kernel with a resolved builder") {
    // end-to-end SQL behavior of the kernels is asserted above; this
    // covers the table itself: the names, and that every builder
    // constructs a well-typed expression from dummy args
    assert(GraftFunctions.sqlFunctions.map(_._1).sorted == Seq(
      "doc_fingerprint", "dot_product", "minhash", "simhash64",
      "simhash_portable64", "sorted_intersect_size", "sorted_intersect_size_long"))
    import org.apache.spark.sql.catalyst.expressions.Literal
    val textArg = Literal(UTF8String.fromString("abc"),
      org.apache.spark.sql.types.StringType)
    val arrArg = Literal.create(Array(1.0, 2.0),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      val strArrArg = Literal.create(Array("a", "b"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
      val longArrArg = Literal.create(Array(1L, 2L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
      val e = name match {
        case "dot_product"                => builder(Seq(arrArg, arrArg))
        case "sorted_intersect_size"      => builder(Seq(strArrArg, strArrArg))
        case "sorted_intersect_size_long" => builder(Seq(longArrArg, longArrArg))
        case _                            => builder(Seq(textArg))
      }
      assert(e.resolved, s"$name builder must yield a resolved expression")
    }
  }

  test("dot_product widens float arrays via implicit cast instead of mis-reading them") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq((Seq(1.5f, 2.5f), Seq(2.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_fn_spec_vecs")
    val d = spark.sql("SELECT dot_product(a, b) AS d FROM graft_fn_spec_vecs")
      .collect()(0).getDouble(0)
    assert(d == 13.0)
  }

  test("non-literal k argument is rejected with a clear error") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash('a b c', CAST(rand()*4 AS INT), 3)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
    // a zero or negative literal is rejected when the expression is
    // built, naming the argument — not a NegativeArraySizeException in
    // a task, nor one signature for every document
    for ((call, arg) <- Seq(
        "minhash('a b c', -1, 3)" -> "k", "minhash('a b c', 4, 0)" -> "shingleWidth",
        "doc_fingerprint('a b c', -3, 3)" -> "k",
        "doc_fingerprint('a b c', 4, -2)" -> "shingleWidth")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(s"$arg must be a positive integer literal"), call)
    }
  }

  test("kernel contract: null in, null out; declared types; projection stays in codegen") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.{GraftFunctions => G}

    case class In(text: Column, media: Column, strs: Column, longs: Column, dbls: Column)
    val id = col("id")
    val txt = concat(lit("the cat and a dog sat. "), id.cast("string"))
    val nonNull = In(txt, txt.cast("binary"), array(lit("a"), id.cast("string")),
      array(lit(1L), id), array(lit(1.0), id.cast("double")))
    def nullAtZero(c: Column) = when(id > 0, c)
    val nullable = In(nullAtZero(nonNull.text), nullAtZero(nonNull.media),
      nullAtZero(nonNull.strs), nullAtZero(nonNull.longs), nullAtZero(nonNull.dbls))

    def nn(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
    val longs = ArrayType(LongType, containsNull = false)
    val strings = ArrayType(StringType, containsNull = false)
    val kernels: Seq[(String, DataType, In => Column)] = Seq(
      ("simhash64", LongType, i => G.simhash64(i.text)),
      ("minhash", longs, i => G.minhash(i.text, 8, 3)),
      ("docFingerprint", longs, i => G.docFingerprint(i.text)),
      ("normalizeAlnum", StringType, i => G.normalizeAlnum(i.text)),
      ("simhashPortable64", LongType, i => G.simhashPortable64(i.text)),
      ("md5Hash64", LongType, i => G.md5Hash64(i.text)),
      ("shingles", strings, i => G.shingles(i.text, 2)),
      ("shingleSet", strings, i => G.shingleSet(i.text, 2)),
      ("portableFingerprint", StringType, i => G.portableFingerprint(i.text)),
      ("chunkLedger", ArrayType(nn("n_chunk_tokens" -> LongType, "chunk_md5" -> StringType),
        containsNull = false), i => G.chunkLedger(i.text, 4, 2)),
      ("qualityStats", nn("n_tokens" -> LongType, "n_bpeish" -> LongType,
        "n_punct" -> LongType, "n_stop" -> LongType), i => G.qualityStats(i.text)),
      ("frameLedger", ArrayType(nn("frame_len" -> LongType, "frame_md5" -> StringType),
        containsNull = false), i => G.frameLedger(i.media, 4, 3)),
      ("resizeMd5", StringType, i => G.resizeMd5(i.media, 8)),
      ("sortedIntersectSize", LongType, i => G.sortedIntersectSize(i.strs, i.strs)),
      ("sortedIntersectSizeLong", LongType, i => G.sortedIntersectSizeLong(i.longs, i.longs)),
      ("dot", DoubleType, i => G.dot(i.dbls, i.dbls)))

    for ((name, dataType, kernel) <- kernels) {
      val df = spark.range(0, 3).select(id, kernel(nullable).as("k"), kernel(nonNull).as("nn"))
      assert(df.schema("k").dataType == dataType, name)
      assert(df.schema("nn").dataType == dataType, name)
      assert(df.schema("k").nullable && !df.schema("nn").nullable, s"$name nullability")
      val rows = df.collect().map(r => r.getLong(0) -> r).toMap
      assert(rows(0L).isNullAt(1), s"$name: null input must yield null")
      assert(rows.values.forall(r => !r.isNullAt(2)) && !rows(1L).isNullAt(1), name)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val codegenProjects = plan.collect { case w: WholeStageCodegenExec => w }
        .flatMap(_.child.collect { case p: ProjectExec => p })
      assert(codegenProjects.exists(_.projectList.exists(_.exists {
        case s: StaticInvoke => s.staticObject.getName.startsWith("graft.functions.")
        case _ => false
      })), s"$name projection left whole-stage codegen:\n$plan")
    }
  }
}
