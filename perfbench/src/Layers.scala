package perfbench

import graft.functions.{Hashing, Html, Images, TextHash, UrlNorm, VectorOps}
import graft.operators.{CuckooFilter, Fetch, PrefilterStore, Scheduler, SeenSet}
import graft.sources.{SynthWeb, TableIO}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-layer figures for the traced run, taken from outside the program:
  * the public stage functions of one crawl round replayed on committed
  * state, the listener's job spans, and kernel rows/s on fixed fixtures.
  */
object Layers {

  private def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed[T](ctx: Ctx, name: String)(body: => T): T = {
    val (r, s) = Common.time(ctx.span(name)(body))
    ctx.res.metrics(s"${name}_s") = s
    r
  }

  /** Listener figures over the last span called `spanName`, per unit of
    * work (crawl round or query) in it; `gcS` is the JVM's GC time there. */
  def listenerMetrics(ctx: Ctx, spanName: String, units: Int, gcS: Double): Unit =
    ctx.trace.foreach { t =>
      t.settle()
      val js = t.jobsIn(spanName)
      val m = ctx.res.metrics
      m("spark.jobs_per_unit") = js.size.toDouble / units
      m("spark.idle_s_per_unit") = t.idleNs(spanName) / 1e9 / units
      m("spark.busy_s_per_unit") = js.map(_.busyNs).sum / 1e9 / units
      m("spark.cpu_s_per_unit") = js.map(_.cpuNs).sum / 1e9 / units
      m("spark.shuffle_write_bytes_per_unit") = js.map(_.shuffleWrite).sum.toDouble / units
      m("spark.spill_bytes_per_unit") = js.map(_.spill).sum.toDouble / units
      m("jvm.gc_s_per_unit") = gcS / units
    }

  /** ip_state at `round`: the anchor snapshot overridden by the latest
    * delta row per ip, the merge the driver does on resume. */
  private def ipState(io: TableIO, round: Int): DataFrame = {
    val a = io.latestSnapshotRound("ip_state", round)
    val snap = io.readSnapshot("ip_state", a)
    io.readRange("ip_delta", a + 1, round) match {
      case None => snap
      case Some(d) =>
        val latest = d.withColumn("__rn", row_number().over(Window.partitionBy("ip").orderBy(col("r").desc)))
          .filter(col("__rn") === 1).drop("__rn", "r")
        snap.join(latest.select("ip"), Seq("ip"), "left_anti").unionByName(latest)
    }
  }

  /** Replays the stages of round `last + 1` on the state committed at
    * `last`, timing each public stage function materialized. Nothing is
    * committed: writes go to a scratch directory beside the workdir. */
  def crawlReplay(ctx: Ctx, spark: SparkSession, c: CrawlWorkload.Crawl): Unit = {
    val CrawlWorkload.Crawl(cfg, web, _, extractor, workDir) = c
    val driver = CrawlWorkload.driver(spark, c)
    val last = driver.latestRound().get
    val io = new TableIO(workDir, spark)
    val scratch = Paths.get(workDir + "-replay")
    val m = ctx.res.metrics
    val ts = (last + 1).toLong * cfg.roundTickMs
    val batch = """"keepalive":\s*(\d+)""".r.findFirstMatchIn(io.readManifest(last))
      .map(_.group(1).toInt).getOrElse(cfg.keepAliveBatch)
    val rcfg = cfg.copy(keepAliveBatch = batch)
    ctx.span("replay") {
      val (hs, fr, seen, ips) = timed(ctx, "TableIO.read_state") {
        val hs = driver.hostState(last).localCheckpoint()
        val fr = driver.frontier(last).localCheckpoint()
        val seen = driver.seen(last).localCheckpoint()
        (hs, fr, seen, ipState(io, last).localCheckpoint())
      }
      val hosts = hs.count()
      val elig = timed(ctx, "Scheduler.eligibleBuckets")(Scheduler.eligibleBuckets(hs, ts, rcfg, Some(ips)))
      m("Scheduler.buckets_scanned") = elig.map(_.length).getOrElse(rcfg.numBuckets).toDouble
      val dequeued = timed(ctx, "Scheduler.dequeue") {
        Scheduler.dequeue(fr, hs, ips, ts, rcfg, hosts, broadcastDims = true, eligibleBuckets = elig)
          .repartition(rcfg.numBuckets, col("bucket")).localCheckpoint()
      }
      m("Scheduler.dequeued") = dequeued.count().toDouble
      val corpus = spark.read.parquet(io.tablePath("corpus", 0))
        .withColumn("corpus_idx", expr("cast(substring(image_id, 4, 9) as long)"))
      val attempted = timed(ctx, "Fetch.attempt") {
        Fetch.attachPhash(Fetch.attempt(dequeued, web, rcfg, ts, serveHtml = extractor.needsBody),
          corpus, broadcastCorpus = true).localCheckpoint()
      }
      val ok = attempted.filter(col("status") === 200)
      val paid = timed(ctx, "Fetch.attachPayload") {
        Fetch.attachPayload(ok, corpus, rcfg, broadcastCorpus = true).localCheckpoint()
      }
      m("Fetch.verified_rows") = paid.filter(col("verify_ok")).count().toDouble

      val ex = extractor
      val rawCount = spark.sparkContext.longAccumulator("raw_links")
      val links = timed(ctx, "LinkExtract.extract") {
        import spark.implicits._
        ok.select(col("url"), col("page_bytes")).as[(String, Array[Byte])]
          .flatMap { case (u, b) =>
            val raw = ex.rawTargets(u, b)
            rawCount.add(raw.size)
            raw.flatMap(ex.resolveTarget(u, _))
          }
          .toDF("url").withColumn("url_hash", xxhash64(col("url"))).localCheckpoint()
      }
      m("LinkExtract.raw_links") = rawCount.value.toDouble
      val candidates = SeenSet.dedupeBatch(links).localCheckpoint()
      val nCand = candidates.count()
      m("LinkExtract.unique_links") = nCand.toDouble
      m("SeenSet.candidates") = nCand.toDouble

      val admitted = timed(ctx, "SeenSet.sieve")(SeenSet.sieve(candidates, seen, None).localCheckpoint())
      val nAdm = admitted.count()
      m("SeenSet.admitted") = nAdm.toDouble
      m("SeenSet.admit_ratio") = nAdm.toDouble / math.max(nCand, 1L)
      ctx.trace.foreach { t =>
        t.settle()
        m("SeenSet.shuffle_bytes") = t.jobsIn("SeenSet.sieve").map(_.shuffleWrite).sum.toDouble
      }
      val store = new PrefilterStore(Paths.get(workDir, "prefilter").toString,
        cfg.prefilterBuckets, cfg.prefilterKeysPerBucket)
      val pred = timed(ctx, "PrefilterStore.predicate")(store.predicate(spark))
      val viaFilter = timed(ctx, "SeenSet.sieve_prefilter")(SeenSet.sieve(candidates, seen, Some(pred)).localCheckpoint())
      m("PrefilterStore.definite_new_ratio") =
        candidates.filter(!pred).count().toDouble / math.max(nCand, 1L)
      ctx.res.check("replay_sieve_prefilter_agrees") {
        val a = viaFilter.count()
        if (a == nAdm) None else Some(s"sieve with prefilter admitted $a, without $nAdm")
      }

      // prefilter insertion into a copy of the committed bucket files
      val pfCopy = scratch.resolve("prefilter")
      Files.createDirectories(pfCopy)
      val files = Files.list(Paths.get(workDir, "prefilter"))
      try files.forEach(f => Files.copy(f, pfCopy.resolve(f.getFileName)))
      finally files.close()
      timed(ctx, "PrefilterStore.addDelta") {
        new PrefilterStore(pfCopy.toString, cfg.prefilterBuckets, cfg.prefilterKeysPerBucket)
          .addDelta(admitted)
      }

      val sio = new TableIO(scratch.resolve("tables").toString, spark)
      val pages = paid.select("url", "url_hash", "host", "bucket", "fetch_ts", "status",
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "verify_ok")
      timed(ctx, "TableIO.write")(sio.write("pages", 0, pages))
      m("TableIO.bytes_written") = Common.dirBytes(Paths.get(sio.tablePath("pages", 0))).toDouble
      sio.write("seen", 0, seen)
      sio.write("seen", 1, admitted.select("url_hash", "url"))
      timed(ctx, "TableIO.compact")(sio.compact("seen", 1))
      timed(ctx, "TableIO.readDeltas")(materialize(sio.readDeltas("seen", 1)))
    }
  }

  @volatile private var sink: Any = null // keeps kernel results observable

  /** Rows (or calls) per second of `body` over `n` items, the best of three
    * passes of at least 0.1 s each. */
  private def rate(n: Long)(body: => Any): Double =
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var reps = 0
      while (reps == 0 || System.nanoTime() - t0 < 100000000L) { sink = body; reps += 1 }
      n * reps / ((System.nanoTime() - t0) / 1e9)
    }.max

  /** Kernel rows/s on fixed fixtures: the seed-42 synthetic web, and the
    * sf 0.001 tables under `data/fixture` replicated to 64x. */
  def kernels(ctx: Ctx, spark: SparkSession): Unit = ctx.span("kernels") {
    val m = ctx.res.metrics
    val cfg = CrawlWorkload.config(42L, ctx.cores)
    val web = new SynthWeb(cfg)
    val urls = (0 until 2000).map(i => web.url(i % cfg.numHosts, (i * 7L) % cfg.pagesPerHost))
    val pages = urls.map(u => u -> web.htmlBody(u))
    m("Html.extractLinks_per_s") = rate(pages.size)(pages.map { case (u, h) => Html.extractLinks(h, u).size }.sum)
    val hrefs = pages.flatMap { case (u, _) => web.links(u) }
    m("UrlNorm.parse_per_s") = rate(hrefs.size)(hrefs.count(UrlNorm.parse(_).isDefined))
    val rows = (0 until 256).map(i => graft.sources.SynthWeb.corpusRow(i.toLong, cfg))
    m("Images.decode_per_s") = rate(rows.size)(rows.map(r => Images.decode(r.bytes)._2).sum)
    val decoded = rows.map(r => Images.decode(r.bytes)._1)
    val noisy = decoded.map(_.map(v => v ^ 1))
    m("Images.psnr_per_s") = rate(decoded.size)(decoded.indices.map(i => Images.psnr(decoded(i), noisy(i))).sum)
    val filter = CuckooFilter.forCapacity(1L << 21)
    (0L until 1000000L).foreach(i => filter.add(Hashing.splitmix64(i)))
    val probes = Array.tabulate(1 << 20)(i => Hashing.splitmix64(i.toLong * 3))
    m("CuckooFilter.mightContain_per_s") = rate(probes.length)(probes.count(filter.mightContain))

    val fixture = ctx.runDir.resolve("data/fixture").toString
    val docs = (1 to 6).foldLeft(spark.read.parquet(s"$fixture/documents.parquet"))((d, _) => d.union(d))
      .localCheckpoint()
    val vecs = (1 to 6).foldLeft(spark.read.parquet(s"$fixture/embeddings.parquet"))((d, _) => d.union(d))
      .localCheckpoint()
    val nDocs = docs.count(); val nVecs = vecs.count()
    m("TextHash.shingleHashes_rows_per_s") =
      rate(nDocs)(materialize(docs.select(TextHash.shingleHashArray(col("text"), 3))))
    m("TextHash.fingerprint_rows_per_s") =
      rate(nDocs)(materialize(docs.select(TextHash.fingerprintCol(col("text")))))
    m("VectorOps.signBands_rows_per_s") =
      rate(nVecs)(materialize(vecs.select(VectorOps.signBands(col("embedding"), 4, 8))))
  }
}
