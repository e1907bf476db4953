package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-21-continuation equivalence lock for the multimodal ledger
  * kernels ([[graft.functions.MediaKernels]]): the one-pass codegen'd
  * frameLedger/resizeMd5 must be VALUE-IDENTICAL to the interpreted
  * transform-lambda Column chains they replaced in x08/x09 — both are
  * oracle-hash-checked registry queries, so any drift is a correctness
  * regression. Each reference below is the pre-rewrite chain, verbatim.
  */
class MediaKernelSpec extends AnyFunSuite {

  // binary adversaries: 1 byte, frame boundaries (31/32/33, 127/128/129),
  // resize boundaries (63/64/65), multi-byte UTF-8 payloads, high bytes
  private def payloads: Seq[Array[Byte]] = {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(encode(col("text"), "UTF-8").as("b")).collect()
      .map(_.getAs[Array[Byte]](0)).toSeq.filter(_.nonEmpty)
    val synth = Seq(1, 31, 32, 33, 63, 64, 65, 127, 128, 129, 300, 4097)
      .map(n => Array.tabulate(n)(i => ((i * 37 + 11) % 256).toByte)) ++
      Seq("é".getBytes("UTF-8"), "你好".getBytes("UTF-8"),
        Array.fill(64)(0xff.toByte), Array.fill(65)(0.toByte))
    synth ++ corpus
  }

  test("frameLedger kernel == substr/hex/md5 transform chain (x08)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = payloads.toDF("media")
    val ledgerType = "array<struct<frame_len:bigint,frame_md5:string>>"
    for ((frameSize, step) <- Seq((32, 128), (7, 16), (16, 16))) {
      val chain = transform(
        sequence(lit(0L), expr(s"(length(media) - 1) div $step")),
        i => struct(
          length(col("media").substr((i * step + 1).cast("int"), lit(frameSize)))
            .cast("long").as("frame_len"),
          md5(encode(hex(col("media").substr((i * step + 1).cast("int"), lit(frameSize))),
            "UTF-8")).as("frame_md5")))
      val both = df.select(
        graft.functions.GraftFunctions.frameLedger(col("media"), frameSize, step)
          .cast(ledgerType).as("k"),
        chain.cast(ledgerType).as("c"))
      val bad = both.filter(not(col("k") <=> col("c"))).collect()
      assert(bad.isEmpty,
        s"frameLedger drift (frameSize=$frameSize step=$step): ${bad.take(3).mkString("; ")}")
    }
  }

  test("resizeMd5 kernel == strided substr/hex transform chain (x09)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = payloads.toDF("media").withColumn("n", length(col("media")).cast("long"))
    val target = 64
    val n = col("n")
    val sampledHex = array_join(
      transform(sequence(lit(0L), lit(target - 1L)),
        i => hex(col("media").substr(
          (floor((i * n) / lit(target.toDouble)).cast("long") + 1).cast("int"),
          lit(1)))), "")
    val chain = md5(encode(
      when(n <= target, hex(col("media"))).otherwise(sampledHex), "UTF-8"))
    val both = df.select(
      graft.functions.GraftFunctions.resizeMd5(col("media"), target).as("k"),
      chain.as("c"))
    val bad = both.filter(not(col("k") <=> col("c"))).collect()
    assert(bad.isEmpty, s"resizeMd5 drift: ${bad.take(3).mkString("; ")}")
  }
}
