package graft

import graft.functions.TextHash
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** The native UTF-8 folds of [[TextHash]] on arbitrary bytes: malformed
  * input (truncated or invalid multi-byte sequences) never throws, and
  * valid UTF-8 keeps the word/code-point contract. */
class TextHashSpec extends AnyFunSuite {
  import TextHash.P

  private def check(p: Prop): Unit = {
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(2000), p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** The contract from decoded text: words split on ' ' (limit -1), word
    * hash = fold of code points, fingerprint = fold of word hashes. */
  private def wordHashes(s: String): Array[Long] =
    s.split(" ", -1).map(_.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % P))
  private def refFingerprint(s: String): Long =
    wordHashes(s).foldLeft(0L)((a, w) => (a * 131 + w) % P)
  private def refShingles(s: String, k: Int): Seq[Long] =
    wordHashes(s).toSeq.sliding(k).filter(_.size == k)
      .map(_.foldLeft(0L)((a, w) => (a * 31 + w) % P)).toSeq.distinct

  private def shingles(b: Array[Byte], k: Int): Seq[Long] =
    TextHash.shingleHashes(UTF8String.fromBytes(b), k).toLongArray().toSeq

  // bytes biased towards spaces and multi-byte lead/continuation bytes
  private val bytes: Gen[Array[Byte]] = Gen.containerOf[Array, Byte](Gen.frequency(
    2 -> Gen.const(0x20.toByte),
    4 -> Gen.choose(0x80, 0xFF).map(_.toByte),
    3 -> Arbitrary.arbitrary[Byte]))

  test("arbitrary bytes never throw") {
    check(Prop.forAll(bytes, Gen.choose(1, 4)) { (b, k) =>
      TextHash.fingerprint(UTF8String.fromBytes(b))
      shingles(b, k)
      true
    })
    // sequences cut short by the end of the text, and 0xF8-0xFF leads
    Seq(Array(0xC3), Array(0x61, 0xE4, 0xB8), Array(0xF0, 0x9F, 0x98), Array(0x20, 0xFF))
      .map(_.map(_.toByte)).foreach { b =>
        TextHash.fingerprint(UTF8String.fromBytes(b))
        (1 to 3).foreach(shingles(b, _))
      }
  }

  test("valid UTF-8 keeps the word and code-point contract") {
    val text = Gen.listOf(Gen.frequency(
      2 -> Gen.const(" "), 3 -> Gen.alphaNumStr, 2 -> Arbitrary.arbitrary[String],
      1 -> Gen.oneOf("é", "中文", "😀", "ß"))).map(_.mkString)
    check(Prop.forAll(text, Gen.choose(1, 4)) { (s0, k) =>
      val b = s0.getBytes(UTF_8)
      val s = new String(b, UTF_8) // lone surrogates encode as '?'
      TextHash.fingerprint(UTF8String.fromBytes(b)) == refFingerprint(s) &&
        shingles(b, k) == refShingles(s, k)
    })
  }
}
