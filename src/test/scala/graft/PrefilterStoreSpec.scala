package graft

import graft.operators.{CuckooFilter, PrefilterStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Partitioned cuckoo prefilter store (north rule): distributed build at 10^7
  * keys with bounded per-bucket memory, zero false negatives, sane false
  * positives, incremental versioned updates. */
class PrefilterStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("10^7-key distributed build: no false negatives, bounded bucket files") {
    import spark.implicits._
    val n = 10000000L
    val dir = TestSpark.tempDir("prefilter")
    val store = new PrefilterStore(dir, numBuckets = 32,
      capacityPerBucket = (n / 32 * 11) / 10)
    // synthetic 64-bit keys spread over the full hash space
    def keys(from: Long, to: Long) =
      spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))
    store.addDelta(keys(0, n))

    // per-bucket memory/file bound: each file sized for capacity, not total
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".cf")).toSeq
    assert(files.size == 32, s"expected 32 bucket files, got ${files.size}")
    val maxBytes = files.map(f => Files.size(f)).max
    assert(maxBytes < 3L * 1024 * 1024,
      s"bucket file $maxBytes B — per-bucket bound broken")

    // ZERO false negatives (the sieve's correctness precondition)
    val misses = keys(0, n).filter(!store.predicate(spark)).count()
    assert(misses == 0, s"$misses false negatives")

    // false positives on a disjoint key range stay low
    val fp = keys(n, n + 1000000L).filter(store.predicate(spark)).count()
    assert(fp < 30000, s"fp rate ${fp / 10000.0}% too high") // < 3%
  }

  test("incremental versioned updates; resume re-insertion is idempotent") {
    import spark.implicits._
    val dir = TestSpark.tempDir("prefilter_inc")
    val store = new PrefilterStore(dir, numBuckets = 4, capacityPerBucket = 10000)
    def keys(from: Long, to: Long) =
      spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))
    store.addDelta(keys(0, 1000))
    store.addDelta(keys(1000, 2000))
    store.addDelta(keys(500, 1500)) // replay overlap (crash-resume path)
    assert(keys(0, 2000).filter(!store.predicate(spark)).count() == 0)
    // bounded live versions per bucket: the current one plus ONE delayed
    // predecessor (kept so an already-pinned version map still resolves);
    // older generations are garbage-collected
    val perBucket = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".cf")).toSeq
      .groupBy(_.takeWhile(_ != '_'))
    perBucket.foreach { case (b, fs) =>
      assert(fs.size <= 2, s"bucket $b grew stale versions: $fs")
    }
  }

  test("overflowed bucket degrades to maybe: zero false negatives at 2x capacity") {
    import spark.implicits._
    val dir = TestSpark.tempDir("prefilter_ovf")
    // tiny per-bucket capacity, then insert 2x that many keys per bucket
    val store = new PrefilterStore(dir, numBuckets = 4, capacityPerBucket = 512)
    def keys(from: Long, to: Long) =
      spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))
    store.addDelta(keys(0, 4L * 512 * 2))
    // fail-safe contract: past capacity the filter may only LOSE pruning,
    // never report an inserted key as definitely-new
    val misses = keys(0, 4L * 512 * 2).filter(!store.predicate(spark)).count()
    assert(misses == 0, s"$misses false negatives after overflow")
    // and it really is degraded, not silently dropping inserts: a saturated
    // bucket answers maybe for everything (no pruning left there)
    val fpAll = keys(100000, 101000).filter(store.predicate(spark)).count()
    assert(fpAll > 0)
  }

  test("missing bucket file answers maybe instead of failing the task") {
    import spark.implicits._
    val dir = TestSpark.tempDir("prefilter_miss")
    val store = new PrefilterStore(dir, numBuckets = 2, capacityPerBucket = 4096)
    def keys(from: Long, to: Long) =
      spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))
    store.addDelta(keys(0, 1000))
    val pred = store.predicate(spark) // pins current versions
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".cf"))
      .foreach(Files.delete)
    graft.operators.PrefilterStore.clearCache() // simulate a fresh executor
    val n = keys(0, 1000).filter(pred).count()
    assert(n == 1000, s"deleted bucket files must degrade to maybe, got $n/1000")
  }

  test("crawl with prefilter engaged from round 1 equals prefilterless crawl") {
    val base = CrawlConfig(numHosts = 16, pagesPerHost = 24, outDegree = 5,
      corpusSize = 32, imageSize = 16, numBuckets = 8, keepAliveBatch = 2,
      brokenHostFraction = 0.0)
    val web = new graft.sources.SynthWeb(base)
    def crawl(cfg: CrawlConfig): (Long, Seq[Long]) = {
      val d = new graft.plans.CrawlDriver(spark, cfg,
        TestSpark.tempDir("pf_crawl"))
      d.run(web.seeds(6), maxRounds = 3, maxUrls = Long.MaxValue)
      val r = d.latestRound().get
      (d.pages(r).count(),
        d.seen(r).select("url_hash").collect().map(_.getLong(0)).toSeq.sorted)
    }
    val (p1, s1) = crawl(base.copy(prefilterMinSeen = 0L))     // filter always on
    val (p2, s2) = crawl(base.copy(bloomPrefilter = false))    // filter never on
    assert(p1 == p2 && s1 == s2, "prefilter changed crawl results")
  }

  test("bucket chains grow with their keys: no false negatives, ~2-4 B per key") {
    val dir = TestSpark.tempDir("prefilter_grow")
    val store = new PrefilterStore(dir, numBuckets = 4, capacityPerBucket = 1L << 21)
    def keys(from: Long, to: Long) =
      spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))
    val n = 200000L
    (0 until 5).foreach(i => store.addDelta(keys(i * n / 5, (i + 1) * n / 5)))
    assert(keys(0, n).filter(!store.predicate(spark)).count() == 0, "false negatives")
    val fp = keys(n, n + 1000000L).filter(store.predicate(spark)).count()
    assert(fp < 5000, s"fp rate ${fp / 10000.0}% too high") // < 0.5%
    val perBucket = keys(0, n).groupBy(pmod(col("url_hash"), lit(4L)).as("b")).count()
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val newest = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).collect { case f if f.endsWith(".cf") =>
        val Array(b, v) = f.stripPrefix("b").stripSuffix(".cf").split("_v")
        (b.toInt, v.toLong, f)
      }.toSeq.groupBy(_._1).map { case (b, vs) => b -> vs.maxBy(_._2)._3 }
    assert(newest.size == 4)
    newest.foreach { case (b, f) =>
      val bytesPerKey = Files.size(Paths.get(dir, f)).toDouble / perBucket(b)
      assert(bytesPerKey <= 6.0, s"bucket $b: $bytesPerKey B/key")
    }
    store.release()
  }

  test("a finished crawl releases its cached filters") {
    val cfg = CrawlConfig(numHosts = 24, pagesPerHost = 32, outDegree = 6,
      corpusSize = 64, imageSize = 16, numBuckets = 8,
      keepAliveBatch = 3, maxUrlsPerHost = 40,
      brokenHostFraction = 0.1, prefilterMinSeen = 0L)
    val web = new graft.sources.SynthWeb(cfg)
    // stores built directly by earlier tests are never released; start clean
    PrefilterStore.clearCache()
    (0 until 3).foreach { _ =>
      val workDir = TestSpark.tempDir("pf_release")
      new graft.plans.CrawlDriver(spark, cfg, workDir)
        .run(web.seeds(4), maxRounds = 2, maxUrls = Long.MaxValue)
      assert(PrefilterStore.cachedBytes(Paths.get(workDir, "prefilter").toString) == 0)
      assert(PrefilterStore.cachedBytes < (1L << 20),
        s"${PrefilterStore.cachedBytes} B of filters cached after the crawl returned")
    }
  }

  test("a single-record bucket file loads as a one-link chain and grows from it") {
    val dir = TestSpark.tempDir("prefilter_oldfmt")
    def keys(from: Long, to: Long) =
      spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))
    val old = CuckooFilter.forCapacity(1000) // 512 buckets, 1,945 keys at 95%
    keys(0, 1500).collect().foreach(r => old.add(r.getLong(0)))
    Files.write(Paths.get(dir, "b0_v0.cf"), CuckooFilter.toBytes(old))
    val store = new PrefilterStore(dir, numBuckets = 1, capacityPerBucket = 1L << 21)
    assert(keys(0, 1500).filter(!store.predicate(spark)).count() == 0)
    store.addDelta(keys(1500, 3000))
    assert(keys(0, 3000).filter(!store.predicate(spark)).count() == 0)
    // the old record stays the first link; a second link of twice its size follows
    assert(Files.size(Paths.get(dir, "b0_v1.cf")) == (5 + 512 * 8) + (5 + 1024 * 8))
    store.release()
  }

  test("a bucket file cut by one byte answers maybe for every key") {
    val dir = TestSpark.tempDir("prefilter_cut")
    val store = new PrefilterStore(dir, numBuckets = 2, capacityPerBucket = 4096)
    def keys(from: Long, to: Long) =
      spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))
    store.addDelta(keys(0, 1000))
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".cf")).toSeq
      .foreach { f =>
        val b = Files.readAllBytes(f)
        Files.write(f, java.util.Arrays.copyOf(b, b.length - 1))
      }
    PrefilterStore.clearCache() // simulate a fresh executor
    assert(keys(0, 1000).filter(store.predicate(spark)).count() == 1000)
    assert(keys(5000, 6000).filter(store.predicate(spark)).count() == 1000)
    store.addDelta(keys(1000, 2000)) // an update over a cut file degrades too
    assert(keys(0, 2000).filter(store.predicate(spark)).count() == 2000)
    store.release()
  }
}
