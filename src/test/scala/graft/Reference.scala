package graft

import org.apache.spark.unsafe.types.UTF8String

/** Plain-Scala reference implementations that the engine's kernels and
  * registry queries are tested against. The engine does not call them:
  * each one states a contract that a codegen kernel or a builtin-only
  * query re-expresses, and the specs pin the two to each other.
  */
object Reference {

  /** Whitespace tokens, empty-free: the String pipeline the byte-level
    * tokenizer in `TextHash` replaced (JVM trim, regex split).
    */
  def tokens(text: UTF8String): Array[String] =
    text.toString.trim.split("\\s+").filter(_.nonEmpty)

  /** w-token shingles; a document shorter than w tokens is one shingle. */
  def shingles(toks: Array[String], w: Int): Array[String] =
    if (toks.length <= w) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - w + 1)(i => toks.slice(i, i + w).mkString(" "))

  /** Frame sampling (video/audio), the contract x08 re-expresses: every
    * `stride`-th fixed-size chunk of the payload as one "frame".
    */
  def sampleFrames(bytes: Array[Byte], frameSize: Int, stride: Int): Array[Array[Byte]] = {
    require(frameSize > 0 && stride > 0)
    (0 until bytes.length by frameSize * stride)
      .map(off => bytes.slice(off, math.min(off + frameSize, bytes.length)))
      .filter(_.nonEmpty)
      .toArray
  }

  /** Resize (image), the contract x09 re-expresses: downsample the
    * payload to `targetLen` bytes by striding; a payload no longer than
    * `targetLen` passes through.
    */
  def resizeStub(bytes: Array[Byte], targetLen: Int): Array[Byte] = {
    require(targetLen > 0)
    if (bytes.length <= targetLen) bytes
    else Array.tabulate(targetLen)(i => bytes((i.toLong * bytes.length / targetLen).toInt))
  }
}
