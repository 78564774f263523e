package graft

import graft.operators.CuckooFilter
import org.scalatest.funsuite.AnyFunSuite

class CuckooFilterSpec extends AnyFunSuite {

  test("no false negatives; false-positive rate bounded") {
    val n = 50000
    val f = CuckooFilter.forCapacity(n)
    val rnd = new scala.util.Random(7)
    val keys = Array.fill(n)(rnd.nextLong())
    keys.foreach(k => assert(f.add(k)))
    keys.foreach(k => assert(f.mightContain(k), "false negative"))
    val probes = Array.fill(100000)(rnd.nextLong()).filterNot(keys.toSet)
    val fp = probes.count(f.mightContain).toDouble / probes.length
    assert(fp < 0.01, s"fp rate $fp too high") // 16-bit fingerprints => ~2^-13
  }

  test("merge preserves membership of both sides") {
    val a = CuckooFilter.forCapacity(10000)
    val b = new CuckooFilter(a.numBuckets)
    val rnd = new scala.util.Random(11)
    val ka = Array.fill(5000)(rnd.nextLong())
    val kb = Array.fill(5000)(rnd.nextLong())
    ka.foreach(a.add); kb.foreach(b.add)
    a.mergeFrom(b)
    (ka ++ kb).foreach(k => assert(a.mightContain(k), "lost key in merge"))
  }

  test("overflow flips to fail-safe (always maybe)") {
    val f = new CuckooFilter(16) // tiny: 64 slots
    val rnd = new scala.util.Random(3)
    (0 until 1000).foreach(_ => f.add(rnd.nextLong()))
    assert(f.overflowed)
    assert(f.mightContain(123456789L)) // fail-safe answer
  }

  test("tryAdd on a full filter leaves every resident key in place") {
    val f = new CuckooFilter(16) // tiny: 64 slots
    val rnd = new scala.util.Random(5)
    val placed = (0 until 1000).map(_ => rnd.nextLong()).filter(f.tryAdd)
    assert(placed.size <= 64) // the rest found no slot
    assert(!f.overflowed)
    placed.foreach(k => assert(f.mightContain(k), "failed kick walk lost a key"))
    assert(f.size == placed.size)
  }

  test("a truncated record is an IOException, not a zero-filled table") {
    val f = CuckooFilter.forCapacity(1000)
    (0 until 500).foreach(i => f.add(i.toLong))
    val bytes = CuckooFilter.toBytes(f)
    assert(CuckooFilter.fromBytes(bytes).size == f.size)
    intercept[java.io.IOException](CuckooFilter.fromBytes(bytes.dropRight(1)))
    intercept[java.io.IOException](CuckooFilter.fromBytes(bytes.take(3)))
    intercept[java.io.IOException](CuckooFilter.fromBytes(bytes :+ 0.toByte))
  }
}
