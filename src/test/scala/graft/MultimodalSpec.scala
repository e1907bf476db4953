package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Multimodal
import graft.Reference.{resizeStub, sampleFrames}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stubDecodeFeatures: deterministic byte-histogram moments") {
    val f = Multimodal.stubDecodeFeatures(Array[Byte](0, 10, 20))
    assert(f.length == 4)
    assert(f(0) == 10.0) // mean
    assert(f(2) == 0.0 && f(3) == 20.0) // min, max
    assert(Multimodal.stubDecodeFeatures(Array.empty[Byte]).sameElements(Array(0.0, 0.0, 0.0, 0.0)))
  }

  test("sampleFrames: fixed-size frames at the given stride") {
    val bytes = Array.tabulate(100)(_.toByte)
    val frames = sampleFrames(bytes, frameSize = 10, stride = 2)
    assert(frames.length == 5)
    assert(frames.forall(_.length == 10))
    assert(frames(1)(0) == 20.toByte) // second frame starts at offset frameSize*stride
  }

  test("x08's builtin substring slicing equals sampleFrames on the real corpus") {
    // the registry query re-expresses the kernel as codegen'd builtins;
    // this pins the two implementations to each other byte-for-byte
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50).collect()
    val got = graft.SparkEntry.queries("x08_frame_sample")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    docs.foreach { r =>
      val bytes = r.getString(1).getBytes("UTF-8")
      val frames = sampleFrames(bytes, frameSize = 32, stride = 4)
      frames.zipWithIndex.foreach { case (f, i) =>
        assert(got((r.getLong(0), i)) == f.length.toLong,
          s"doc ${r.getLong(0)} frame $i length mismatch")
      }
      assert(!got.contains((r.getLong(0), frames.length)),
        s"doc ${r.getLong(0)} has spurious extra frames")
    }
  }

  test("x09's builtin strided downsample equals resizeStub on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50).collect()
    val got = graft.SparkEntry.queries("x09_resize_ledger")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.foreach { r =>
      val bytes = r.getString(1).getBytes("UTF-8")
      if (bytes.nonEmpty) {
        val resized = resizeStub(bytes, 64)
        val hex = resized.map(b => "%02X".format(b & 0xff)).mkString
        assert(got(r.getLong(0)) == md5hex(hex),
          s"doc ${r.getLong(0)} resize ledger mismatch")
      }
    }
  }

  test("resizeStub: fixed output length, endpoints preserved-ish") {
    val bytes = Array.tabulate(1000)(i => (i % 251).toByte)
    val out = resizeStub(bytes, 64)
    assert(out.length == 64)
    assert(out(0) == bytes(0))
    assert(resizeStub(Array[Byte](1, 2), 64).length == 2) // no upsampling
  }

  test("featurize: partition-parallel map preserves ids and row count") {
    val docs = Seq(
      (1L, "hello world", "en", "srcA"),
      (2L, "abc", "en", "srcB")
    ).toDF("doc_id", "text", "lang", "source")
    val media = Multimodal.asMediaTable(docs)
    assert(media.schema("media").dataType.typeName == "binary")
    val feats = Multimodal.featurize(media).collect()
    assert(feats.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(feats.forall(_.getSeq[Double](2).length == 4))
    // n_bytes metadata survives the typed boundary
    assert(feats.find(_.getLong(0) == 2L).get.getLong(1) == 3L)
  }

  test("n_bytes is the UTF-8 byte length, not the character count") {
    val docs = Seq((1L, "café", "fr", "srcA")).toDF("doc_id", "text", "lang", "source")
    val row = Multimodal.asMediaTable(docs).collect()(0)
    assert(row.getAs[Long]("n_bytes") == 5L) // 4 chars, 5 UTF-8 bytes
    assert(row.getAs[Array[Byte]]("media").length == 5)
  }
}
