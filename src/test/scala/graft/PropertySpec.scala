package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{PortableHash, TextHash}
import graft.engine.Sql

/** Property tests over the pure kernels, driven by ScalaCheck generators
  * sampled under fixed seeds (deterministic; no scalatest-plus bridge in
  * the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val token: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val tokenList: Gen[List[String]] =
    Gen.nonEmptyListOf(token)

  test("shingle count is max(1, n - w + 1) for any token list") {
    for {
      toks <- samples(tokenList)
      w <- 1 to 5
    } {
      val sh = Reference.shingles(toks.toArray, w)
      assert(sh.length == math.max(1, toks.length - w + 1),
        s"toks=$toks w=$w got ${sh.length}")
    }
  }

  test("tokens ∘ mkString is identity on whitespace-free tokens") {
    samples(tokenList).foreach { toks =>
      assert(Reference.tokens(UTF8String.fromString(toks.mkString(" "))).toSeq == toks)
    }
  }

  test("simhash (both kernels) is invariant under extra whitespace") {
    samples(tokenList).foreach { toks =>
      val a = UTF8String.fromString(toks.mkString(" "))
      val b = UTF8String.fromString("  " + toks.mkString("   ") + " ")
      assert(TextHash.simhash64(a) == TextHash.simhash64(b))
      assert(PortableHash.simhash64(a) == PortableHash.simhash64(b))
    }
  }

  test("minhash signature positions are monotone under shingle-set growth") {
    // t1's shingles are a subset of (t1 ++ t2)'s when t1 has >= 3 tokens,
    // so each min can only stay or drop
    val pairs = samples(Gen.zip(tokenList, tokenList))
      .filter(_._1.length >= 3)
    assert(pairs.nonEmpty)
    pairs.foreach { case (t1, t2) =>
      val s = TextHash.minhash(UTF8String.fromString(t1.mkString(" ")), 16, 3).toLongArray()
      val b = TextHash.minhash(UTF8String.fromString((t1 ++ t2).mkString(" ")), 16, 3).toLongArray()
      assert(s.zip(b).forall { case (x, y) => y <= x }, s"t1=$t1 t2=$t2")
    }
  }

  test("md5Hash64 is deterministic; distinct short inputs never collide here") {
    val toks = samples(token).distinct
    assert(toks.nonEmpty)
    val hashes = toks.map(PortableHash.md5Hash64)
    assert(toks.map(PortableHash.md5Hash64) == hashes)
    assert(hashes.distinct.length == hashes.length)
  }

  test("sanitize is idempotent on its own output") {
    val decorated = for {
      pre <- Gen.oneOf("", "```sql\n", "Sure! Here you go: ", "```\n")
      post <- Gen.oneOf("", ";", "\n```", ";\n```  ")
    } yield pre + "SELECT a FROM t" + post
    samples(decorated, 50).foreach { raw =>
      val once = Sql.sanitize(raw)
      assert(once.contains("SELECT a FROM t"))
      assert(Sql.sanitize(once.get) == once)
    }
  }
}
