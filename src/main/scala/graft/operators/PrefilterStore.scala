package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Partitioned, persisted cuckoo pre-filter over the URL-seen set — the north
  * rule's "partitioned cuckoo-filter (with bloom fallback) URL-seen set keyed
  * by canonicalized-URL xxHash64", replacing the round-1 single driver blob
  * (VERDICT r1: a merged filter `.head()`'d onto the driver caps out at 2 GiB
  * and overflows exactly when 10^10 keys need it).
  *
  * Layout: `numBuckets` filter files under `dir`, bucket = pmod(url_hash, K).
  * Each bucket holds its own [[FilterChain]] of cuckoo filters that grows
  * with its keys up to a ceiling of `capacityPerBucket` keys, written as
  * `b{bucket}_v{version}.cf` (tmp + atomic rename; version bumps per update
  * so executor caches never serve stale bytes).
  *
  *  - **Build/update is distributed and incremental**: `addDelta` shuffles
  *    only the round's NEW hashes by bucket and each task rewrites just its
  *    buckets' files — O(round delta + touched-bucket capacity), never
  *    O(total seen). No partial-aggregate tree ships fingerprint tables
  *    (the ADVICE r1 OOM/shuffle hazard); per-task memory is one bucket
  *    filter at a time.
  *  - **Application is partition-local**: the predicate hashes a candidate to
  *    its bucket and consults a per-JVM cache of loaded filters; an executor
  *    only ever loads the buckets its rows touch (co-partitioning candidates
  *    by the same pmod makes that exactly K/executors buckets at scale).
  *  - **Fail-safe degradation**: a missing file or an overflowed bucket
  *    answers "maybe" — the exact anti-join downstream keeps correctness;
  *    the filter only prunes.
  *
  * Reference ground truth: the Mercator sieve's bucketed sorted store
  * (`/root/reference/src/clj/ramper/sieve/mercator_sieve.clj:45-142`,
  * `sieve/store.clj:37-78` — same superset-on-crash contract via tmp+rename).
  *
  * **Sizing**: memory and file bytes are proportional to the keys a bucket
  * holds, not to its ceiling: 16-bit fingerprints × 4 slots at 95% load is
  * ~2.1 B/key, up to ~2× that just after the chain doubles (worst case
  * ~4.2 B/key). A bucket starts at a ~2 KB link, so a small crawl's 64
  * buckets cost ~128 KB. `capacityPerBucket` caps the keys per bucket; at
  * the default 2^21 a full bucket is ≤ 12 links (FPP ≲ 12 × 1.2×10⁻⁴) and
  * ~4.5 MB. A 10^10-URL frontier wants `prefilterBuckets ≈ 4096` buckets of
  * 2^21 keys (≈ 8.6×10^9 keys, ~18 GB of filter files in total). Per
  * EXECUTOR that is tiny: candidates are co-partitioned by the same pmod,
  * so each of 1000 executors loads ~K/1000 ≈ 4-5 buckets ≈ 20 MB. Past the
  * ceiling, or when an insertion fails even in a fresh link, a bucket flips
  * `overflowed` and answers "maybe" forever — zero false negatives, only
  * lost pruning (spec-pinned at 2× capacity) — so under-sizing degrades
  * throughput, never correctness.
  *
  * **Cache**: executors keep loaded chains in a per-JVM cache keyed by
  * (dir, bucket); [[release]] drops a store's entries once its crawl is
  * done (a driver's run ends with it), so a long-lived JVM that runs many
  * crawls does not pin each one's filters.
  */
final class PrefilterStore(val dir: String, val numBuckets: Int,
                           val capacityPerBucket: Long) extends Serializable {
  require(numBuckets > 0)
  Files.createDirectories(Paths.get(dir))

  /** Insert a batch of url_hashes (one column named `url_hash`). Distributed:
    * hashes shuffle to their bucket's partition, each touched bucket's file
    * is rewritten once. Blocks until durable — the NEXT round's predicate
    * must already cover this round's admissions or the sieve would re-admit
    * (a false negative breaks "once and once only"). Re-inserting hashes a
    * crashed run already wrote is a no-op (skip-if-present), so resume replay
    * is idempotent. */
  def addDelta(deltaHashes: DataFrame): Unit = {
    val d = dir; val k = numBuckets; val cap = capacityPerBucket
    deltaHashes.select(col("url_hash"))
      .repartition(k, pmod(col("url_hash"), lit(k.toLong)))
      .foreachPartition { (it: Iterator[Row]) =>
        val byBucket = it.map(_.getLong(0)).toArray
          .groupBy(h => Hashing.pmod(h, k.toLong).toInt)
        byBucket.toSeq.sortBy(_._1).foreach { case (b, hs) =>
          PrefilterStore.updateBucket(d, cap, b, hs)
        }
      }
  }

  /** Predicate column `might_contain(url_hash)` over the store's state AS OF
    * call time: the driver pins each bucket's current version (K-entry map,
    * broadcast), so executors load/cache exactly those files. */
  def predicate(spark: SparkSession): Column = {
    val versions: Map[Int, Long] = PrefilterStore.listVersions(dir)
    val bc = spark.sparkContext.broadcast(versions)
    val d = dir; val k = numBuckets
    val mightContain = udf { (h: Long) =>
      val b = Hashing.pmod(h, k.toLong).toInt
      bc.value.get(b) match {
        case None    => true // bucket never written -> maybe (fail-safe)
        case Some(v) => PrefilterStore.load(d, b, v).mightContain(h)
      }
    }
    mightContain(col("url_hash"))
  }

  /** Drop this JVM's cached filters of `dir`. The files stay: a later
    * predicate or update reloads what it needs. */
  def release(): Unit = PrefilterStore.release(dir)
}

object PrefilterStore {

  /** Per-JVM filter cache: one entry per (dir, bucket), replaced when a newer
    * version is requested and dropped by [[release]]. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (Long, FilterChain)]()

  /** Test hook: drop the per-JVM cache (simulates a fresh executor). */
  private[graft] def clearCache(): Unit = cache.clear()

  private[operators] def release(dir: String): Unit =
    cache.keySet().removeIf(_._1 == dir)

  /** Filter table bytes this JVM caches for `dir`. */
  private[graft] def cachedBytes(dir: String): Long =
    cache.asScala.iterator.collect { case ((d, _), (_, c)) if d == dir => c.tableBytes }.sum

  /** Filter table bytes this JVM caches over all stores. */
  private[graft] def cachedBytes: Long =
    cache.values().asScala.iterator.map(_._2.tableBytes).sum

  private def file(dir: String, b: Int, v: Long): Path =
    Paths.get(dir, s"b${b}_v$v.cf")

  private[operators] def listVersions(dir: String): Map[Int, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Map.empty
    val re = """b(\d+)_v(\d+)\.cf""".r
    Files.list(p).iterator().asScala.map(_.getFileName.toString)
      .collect { case re(b, v) => b.toInt -> v.toLong }.toSeq
      .groupBy(_._1).map { case (b, vs) => b -> vs.map(_._2).max }
  }

  /** A saturated 1-bucket chain: `mightContain` is always true. Used as the
    * fail-safe stand-in when a bucket file cannot be read. */
  private[operators] def alwaysMaybe(): FilterChain = {
    val f = new CuckooFilter(1); f.overflowed = true; FilterChain.of(f)
  }

  private[operators] def load(dir: String, b: Int, v: Long): FilterChain = {
    val cached = cache.get((dir, b))
    if (cached != null && cached._1 == v) return cached._2
    // fail-safe contract (class doc): an unreadable/missing bucket file
    // answers "maybe" — the exact anti-join downstream keeps correctness,
    // the filter only loses pruning for that bucket. Without this a
    // concurrently-compacted, lost or truncated file crashes the task
    // instead of degrading (ADVICE r2).
    val f =
      try FilterChain.fromBytes(Files.readAllBytes(file(dir, b, v)))
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[prefilter] bucket $b v$v unreadable (${e.getClass.getSimpleName}) — degrading to maybe")
          alwaysMaybe()
      }
    cache.put((dir, b), (v, f))
    f
  }

  /** Rewrite one bucket's filter with new hashes. Runs inside an executor
    * task; each bucket value maps to exactly one shuffle partition, so no
    * two tasks write the same bucket concurrently. */
  private[operators] def updateBucket(dir: String, cap: Long, b: Int,
                                      hashes: Array[Long]): Unit = {
    val versions = listBucketVersions(dir, b)
    val v0 = if (versions.isEmpty) -1L else versions.max
    // an unreadable prior version must NOT silently reset the bucket (a
    // fresh filter missing old keys would answer "definitely new" for seen
    // URLs — a false negative that breaks once-only). Degrade the bucket to
    // a permanent "maybe" instead: correct, merely unpruned.
    val filter =
      if (v0 < 0) FilterChain.empty(cap)
      else try FilterChain.fromBytes(Files.readAllBytes(file(dir, b, v0)))
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[prefilter] bucket $b v$v0 unreadable on update (${e.getClass.getSimpleName}) — degrading to maybe")
          alwaysMaybe()
      }
    var changed = false
    hashes.foreach { h =>
      if (!filter.mightContain(h)) { filter.add(h, cap); changed = true }
    }
    if (changed || v0 < 0) {
      val v1 = v0 + 1
      val tmp = Paths.get(dir, s".b${b}_v$v1.cf.tmp")
      Files.write(tmp, FilterChain.toBytes(filter))
      Files.move(tmp, file(dir, b, v1), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      // delayed deletion: keep v0 one generation so a predicate that pinned
      // the previous version map still finds its file (ADVICE r2); only
      // generations older than v0 are reclaimed here
      versions.filter(_ < v0).foreach(v => Files.deleteIfExists(file(dir, b, v)))
      cache.put((dir, b), (v1, filter))
    }
  }

  private def listBucketVersions(dir: String, b: Int): Seq[Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Nil
    val re = s"""b${b}_v(\\d+)\\.cf""".r
    Files.list(p).iterator().asScala.map(_.getFileName.toString)
      .collect { case re(v) => v.toLong }.toSeq
  }
}

/** One bucket of a [[PrefilterStore]]: a chain of cuckoo filters ("links"),
  * each twice the size of the one before, so its memory follows the keys it
  * holds rather than its ceiling. New keys go into the newest link; a key
  * may sit in any link, so membership ORs over them.
  *
  * Wire format: the concatenated [[CuckooFilter]] records of the links,
  * oldest first. A single-record file (one full-size filter) is therefore a
  * one-link chain.
  */
private[operators] final class FilterChain private (
    private val links: scala.collection.mutable.ArrayBuffer[CuckooFilter]) {

  def size: Long = links.iterator.map(_.size).sum

  def tableBytes: Long = links.iterator.map(_.table.length * 2L).sum

  def mightContain(h: Long): Boolean = links.exists(_.mightContain(h))

  /** Insert `h` under a ceiling of `cap` keys. A new link twice the newest
    * one's size starts when the newest reaches the 95% load
    * [[CuckooFilter.forCapacity]] plans for, or earlier when `h` finds no
    * slot there ([[CuckooFilter.tryAdd]] undoes the failed kick walk, so no
    * resident fingerprint is lost). Past the ceiling, or when an insertion
    * into a fresh link still fails, the newest link flips `overflowed` and
    * the chain answers "maybe" from then on. */
  def add(h: Long, cap: Long): Unit = {
    val newest = links.last
    if (newest.overflowed) return
    val held = size
    if (held >= cap) { newest.overflowed = true; return }
    if (newest.size >= CuckooFilter.loadLimit(newest.numBuckets) || !newest.tryAdd(h)) {
      val next = new CuckooFilter(
        math.min(newest.numBuckets * 2, CuckooFilter.bucketsFor(cap - held)))
      links += next
      next.add(h)
    }
  }
}

private[operators] object FilterChain {
  /** First link: 2^8 buckets, 1,024 slots, ~2 KB. */
  private val FirstLinkBuckets = 1 << 8

  def of(first: CuckooFilter): FilterChain =
    new FilterChain(scala.collection.mutable.ArrayBuffer(first))

  def empty(cap: Long): FilterChain =
    of(new CuckooFilter(math.min(FirstLinkBuckets, CuckooFilter.bucketsFor(cap))))

  def toBytes(c: FilterChain): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(c.links.iterator.map(CuckooFilter.recordBytes).sum)
    c.links.foreach(CuckooFilter.write(bb, _))
    bb.array()
  }

  /** Links until the bytes run out; a short or malformed record (a
    * truncated file) is an IOException, which readers degrade to "maybe". */
  def fromBytes(bytes: Array[Byte]): FilterChain = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val links = scala.collection.mutable.ArrayBuffer(CuckooFilter.read(bb))
    while (bb.hasRemaining) links += CuckooFilter.read(bb)
    new FilterChain(links)
  }
}
