package graft.operators

import graft.functions.Hashing

/** A compact cuckoo filter over 64-bit keys (north rule: "partitioned
  * cuckoo-filter (with bloom fallback) URL-seen set").
  *
  * Classic construction (Fan et al., CoNEXT'14 — public algorithm):
  * 16-bit fingerprints, 4 slots per bucket, partial-key cuckoo kicking.
  * Buckets are derivable from (index, fingerprint) alone, so two filters of
  * equal size merge by re-inserting fingerprints — which makes it usable as
  * a per-partition pre-filter merged on the driver (SeenSet.prefilter).
  *
  * This replaces the reference's disk-backed Mercator sieve store front-end
  * (`/root/reference/src/clj/ramper/sieve/mercator_sieve.clj:45-142`) as the
  * approximate membership layer; exactness still comes from the anti-join.
  */
final class CuckooFilter(val numBuckets: Int) extends Serializable {
  require((numBuckets & (numBuckets - 1)) == 0, "numBuckets must be a power of 2")
  private val SlotsPerBucket = 4
  private[operators] val table = new Array[Short](numBuckets * SlotsPerBucket)
  private var count = 0L

  @inline private def fingerprint(key: Long): Short = {
    val f = (Hashing.splitmix64(key) & 0xFFFF).toInt
    (if (f == 0) 1 else f).toShort // 0 marks an empty slot
  }
  @inline private def bucket1(key: Long): Int =
    (Hashing.splitmix64(key ^ 0x5bd1e995L) & (numBuckets - 1)).toInt
  @inline private def altBucket(i: Int, f: Short): Int =
    (i ^ (Hashing.splitmix64(f.toLong & 0xFFFFL) & (numBuckets - 1)).toInt) & (numBuckets - 1)

  private def tryInsertAt(i: Int, f: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(i * SlotsPerBucket + s) == 0) { table(i * SlotsPerBucket + s) = f; return true }
      s += 1
    }
    false
  }

  private val MaxKicks = 500
  /** Slot positions of the current kick walk, kept to undo a failed one. */
  @transient private var kickPath: Array[Int] = null

  /** Place a fingerprint at bucket i1, its alt, or by cuckoo kicking.
    * Returns false with the table unchanged when the kick walk finds no
    * free slot: the walk is undone, so no resident fingerprint is lost. */
  private def place(i1: Int, f0: Short): Boolean = {
    val i2 = altBucket(i1, f0)
    if (tryInsertAt(i1, f0) || tryInsertAt(i2, f0)) { count += 1; return true }
    if (kickPath == null) kickPath = new Array[Int](MaxKicks)
    var i = if ((Hashing.splitmix64(f0.toLong ^ i1.toLong) & 1L) == 0L) i1 else i2
    var f = f0
    var kicks = 0
    while (kicks < MaxKicks) {
      val slot = (Hashing.splitmix64(f.toLong ^ i.toLong ^ kicks.toLong) & (SlotsPerBucket - 1)).toInt
      val pos = i * SlotsPerBucket + slot
      kickPath(kicks) = pos
      val evicted = table(pos)
      table(pos) = f
      f = evicted
      i = altBucket(i, f)
      if (tryInsertAt(i, f)) { count += 1; return true }
      kicks += 1
    }
    // undo in reverse: each slot gets back the fingerprint it held
    while (kicks > 0) {
      kicks -= 1
      val held = table(kickPath(kicks))
      table(kickPath(kicks)) = f
      f = held
    }
    false
  }

  /** Insert a fingerprint known to live at bucket i1 (or its alt). Used by
    * both add() and merge. Returns false when the filter is saturated — the
    * caller must then treat membership as "maybe" (fail-safe: overflowed
    * filters answer true). */
  def insertFingerprint(i1: Int, f0: Short): Boolean =
    place(i1, f0) || { overflowed = true; false }

  var overflowed: Boolean = false

  def add(key: Long): Boolean = insertFingerprint(bucket1(key), fingerprint(key))

  /** Like [[add]], but a key that finds no slot leaves the filter unchanged
    * and usable (not overflowed): the caller places the key elsewhere. */
  def tryAdd(key: Long): Boolean = place(bucket1(key), fingerprint(key))

  def mightContain(key: Long): Boolean = {
    if (overflowed) return true
    val f = fingerprint(key)
    val i1 = bucket1(key)
    val i2 = altBucket(i1, f)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(i1 * SlotsPerBucket + s) == f || table(i2 * SlotsPerBucket + s) == f) return true
      s += 1
    }
    false
  }

  /** Merge another same-size filter by re-inserting its fingerprints. */
  def mergeFrom(other: CuckooFilter): Unit = {
    require(other.numBuckets == numBuckets, "cuckoo merge: size mismatch")
    if (other.overflowed) overflowed = true
    var i = 0
    while (i < other.table.length) {
      val f = other.table(i)
      if (f != 0) insertFingerprint(i / SlotsPerBucket, f)
      i += 1
    }
  }

  def size: Long = count
}

object CuckooFilter {
  /** Slots a filter of `numBuckets` buckets holds at ~95% load (4 slots/bucket). */
  private[operators] def loadLimit(numBuckets: Int): Long = numBuckets.toLong * 4 * 95 / 100

  /** Fewest power-of-2 buckets whose 95% load holds n keys. */
  private[operators] def bucketsFor(n: Long): Int = {
    var buckets = 1
    while (loadLimit(buckets) < n && buckets < (1 << 28)) buckets <<= 1
    buckets
  }

  /** Size for n keys at ~95% load (4 slots/bucket). */
  def forCapacity(n: Long): CuckooFilter = new CuckooFilter(bucketsFor(n))

  private val HeaderBytes = 4 + 1

  /** Bytes of one wire record of `f`. */
  private[operators] def recordBytes(f: CuckooFilter): Int = HeaderBytes + f.table.length * 2

  /** Wire format: [numBuckets:int][overflowed:byte][table:short*]. */
  def toBytes(f: CuckooFilter): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(recordBytes(f))
    write(bb, f)
    bb.array()
  }

  /** Append one record of `f` at the buffer's position. */
  private[operators] def write(bb: java.nio.ByteBuffer, f: CuckooFilter): Unit = {
    bb.putInt(f.numBuckets)
    bb.put(if (f.overflowed) 1.toByte else 0.toByte)
    bb.asShortBuffer().put(f.table)
    bb.position(bb.position() + f.table.length * 2)
  }

  /** Exactly one record; anything shorter or longer is an IOException. */
  def fromBytes(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val f = read(bb)
    if (bb.hasRemaining)
      throw new java.io.IOException(s"cuckoo record: ${bb.remaining()} trailing bytes")
    f
  }

  /** Read one record at the buffer's position. A record whose header or
    * table runs past the buffer is an IOException, never a zero-filled
    * table: missing slots would read as "definitely absent" for keys whose
    * fingerprints sat there. */
  private[operators] def read(bb: java.nio.ByteBuffer): CuckooFilter = {
    if (bb.remaining() < HeaderBytes)
      throw new java.io.IOException(s"cuckoo record: ${bb.remaining()} B left, header needs $HeaderBytes")
    val numBuckets = bb.getInt
    if (numBuckets <= 0 || numBuckets > (1 << 28) || (numBuckets & (numBuckets - 1)) != 0)
      throw new java.io.IOException(s"cuckoo record: bad bucket count $numBuckets")
    val overflowed = bb.get() == 1
    val tableBytes = numBuckets.toLong * 4 * 2
    if (bb.remaining() < tableBytes)
      throw new java.io.IOException(s"cuckoo record: table needs $tableBytes B, ${bb.remaining()} left")
    val f = new CuckooFilter(numBuckets)
    f.overflowed = overflowed
    bb.asShortBuffer().get(f.table)
    bb.position(bb.position() + f.table.length * 2)
    var i = 0
    while (i < f.table.length) { if (f.table(i) != 0) f.count += 1; i += 1 }
    f
  }
}
