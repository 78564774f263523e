package perfbench

import graft.{CrawlConfig, RoundMetrics}
import graft.functions.Hashing
import graft.operators.HtmlPageExtractor
import graft.plans.CrawlDriver
import graft.sources.SynthWeb
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import scala.collection.parallel.CollectionConverters._

/** The `crawl` workload: an HTML-parsing crawl of the synthetic web at
  * `ctx.cores` cores. Every fetched page is parsed for links, every fetched
  * image is decode-verified, the seeds alone engage the URL-seen prefilter,
  * and every round re-anchors (snapshots and compaction). The bootstrap and
  * its round-0 commit are set-up and warm the JVM; the `Rounds` rounds after
  * it are timed, the last one charged with the final commit drain. The
  * traced run adds a stop, one resumed round and the layer replay.
  */
object CrawlWorkload {
  val Hosts = 250
  val PagesPerHost = 200
  val OutDegree = 20
  val Batch = 64
  val SeedsPerHost = 64
  val ImageSize = 32
  val CorpusSize = 1024
  val Rounds = 1
  val ReanchorEvery = 1
  val PrefilterMinSeen = 5000L

  def config(seed: Long, cores: Int): CrawlConfig = CrawlConfig(
    seed = seed, numHosts = Hosts, pagesPerHost = PagesPerHost, outDegree = OutDegree,
    keepAliveBatch = Batch, imageSize = ImageSize, corpusSize = CorpusSize,
    verifySample = 1, reanchorEvery = ReanchorEvery, prefilterMinSeen = PrefilterMinSeen,
    numBuckets = math.max(cores * 2, 16))

  /** SeedsPerHost distinct pages of every host, drawn from the run seed. */
  def seedUrls(web: SynthWeb, seed: Long): Seq[String] =
    (0 until Hosts).flatMap { h =>
      Hashing.splitmixStream(Hashing.splitmix64(seed ^ (h.toLong << 20)), SeedsPerHost * 8)
        .map(d => web.url(h, Hashing.pmod(d, PagesPerHost.toLong))).distinct.take(SeedsPerHost)
    }

  final case class Crawl(cfg: CrawlConfig, web: SynthWeb, seeds: Seq[String],
                         extractor: HtmlPageExtractor, workDir: String)

  /** Inputs of a crawl from the run seed, and the seconds spent making them. */
  def prepare(ctx: Ctx, name: String): (Crawl, Double) = Common.time {
    val cfg = config(ctx.seed, ctx.cores)
    val web = new SynthWeb(cfg)
    Crawl(cfg, web, seedUrls(web, ctx.seed), new HtmlPageExtractor(web),
      ctx.runDir.resolve(name).toString)
  }

  def driver(spark: SparkSession, c: Crawl): CrawlDriver =
    new CrawlDriver(spark, c.cfg, c.workDir, Some(c.extractor))

  def run(ctx: Ctx): Unit = {
    val (c, genS) = prepare(ctx, "crawl")
    val spark = Common.session(ctx, crawl = true)
    import spark.implicits._
    val seedDf = c.seeds.toDF("url")
    val d = driver(spark, c)
    ctx.span("CrawlDriver.bootstrap")(d.run(seedDf, 0, Long.MaxValue))
    ctx.res.metrics("setup_s") = Common.sinceProcessStart() - genS

    val (gc0, cpu0) = (Common.gcSeconds(), Common.cpuSeconds())
    val rounds = ctx.span("CrawlDriver.run")(d.run(seedDf, Rounds, Long.MaxValue))
    val (gcS, cpuS) = (Common.gcSeconds() - gc0, Common.cpuSeconds() - cpu0)
    ctx.res.attempted += rounds.size
    val wallS = rounds.map(_.wall_ms / 1e3)
    ctx.res.metrics("throughput_per_s") = rounds.map(_.dequeued).sum / wallS.sum
    ctx.res.metrics("cpu_s_per_unit") = cpuS / rounds.size
    ctx.res.metrics("unit_geomean_s") = Common.geomean(wallS)
    ctx.res.metrics("heap_live_mb") = Common.heapLiveMb()
    ctx.res.metrics("store_bytes_per_unit") =
      Common.dirBytes(Paths.get(c.workDir)).toDouble / rounds.map(_.fetched_ok).sum

    val all = if (!ctx.traced) rounds else {
      ctx.res.metrics("CrawlDriver.round_s") = Common.median(wallS)
      Layers.listenerMetrics(ctx, "CrawlDriver.run", rounds.size, gcS)
      val resumed = resume(ctx, spark, c)
      Layers.crawlReplay(ctx, spark, c)
      Layers.kernels(ctx, spark)
      rounds ++ resumed
    }
    ctx.res.extra("rounds") = all.map(roundJson).mkString("[", ", ", "]")
    check(ctx, c, d, all)
  }

  /** A fresh driver on the committed workdir runs one more round. */
  def resume(ctx: Ctx, spark: SparkSession, c: Crawl): Seq[RoundMetrics] = {
    import spark.implicits._
    val (resumed, resumeS) = Common.time(ctx.span("CrawlDriver.resume") {
      driver(spark, c).run(c.seeds.toDF("url"), 1, Long.MaxValue)
    })
    ctx.res.attempted += resumed.size
    ctx.res.metrics("CrawlDriver.resume_s") = resumeS
    resumed
  }

  /** The crawl layers' figures for a traced run of another workload: a
    * bootstrap, one resumed round on the committed state, and the replay. */
  def fixture(ctx: Ctx, spark: SparkSession): Unit = ctx.span("crawl_fixture") {
    import spark.implicits._
    val (c, _) = prepare(ctx, "crawl-fixture")
    driver(spark, c).run(c.seeds.toDF("url"), 0, Long.MaxValue)
    val resumed = resume(ctx, spark, c)
    ctx.res.metrics("CrawlDriver.round_s") = resumed.map(_.wall_ms / 1e3).sum
    Layers.crawlReplay(ctx, spark, c)
  }

  private def roundJson(m: RoundMetrics): String =
    s"""{"round": ${m.round}, "dequeued": ${m.dequeued}, "fetched_ok": ${m.fetched_ok}, """ +
      s""""fetch_errors": ${m.fetch_errors}, "links_extracted": ${m.links_extracted}, """ +
      s""""links_admitted": ${m.links_admitted}, "wall_ms": ${m.wall_ms}}"""

  /** The first failure `bad` reports over `xs`, evaluated on all cores. */
  private def firstBad[T](xs: Iterable[T])(bad: T => Option[String]): Option[String] =
    xs.toSeq.par.map(bad).find(_.isDefined).flatten

  /** Output checks, each computed apart from the engine: the link graph,
    * robots rules, crawl delays, IPs and images come from the synthetic
    * web's generating functions and from `javax.imageio`, never from the
    * crawl's own tables. */
  def check(ctx: Ctx, c: Crawl, driver: CrawlDriver, rounds: Seq[RoundMetrics]): Unit = {
    val Crawl(cfg, web, seeds, _, _) = c
    val last = rounds.map(_.round).max
    val seen = driver.seen(last).select("url_hash", "url").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pages = driver.pages(last)
      .select("url", "url_hash", "host", "round", "fetch_ts", "image_id", "bytes",
        "caption", "verify_ok")
      .collect().map(r => Page(r.getString(0), r.getLong(1), r.getString(2), r.getInt(3),
        r.getLong(4), r.getString(5), r.getAs[Array[Byte]](6), r.getString(7),
        if (r.isNullAt(8)) None else Some(r.getBoolean(8))))
    val res = ctx.res
    res.check("seen_url_hash_unique") {
      val d = seen.map(_._1).distinct.length
      if (d == seen.length) None else Some(s"${seen.length - d} duplicate url_hash in seen")
    }
    res.check("pages_url_hash_unique") {
      val d = pages.map(_.urlHash).distinct.length
      if (d == pages.length) None else Some(s"${pages.length - d} duplicate url_hash in pages")
    }
    res.check("seen_count") {
      val want = seeds.distinct.size + rounds.map(_.links_admitted).sum
      if (seen.length == want) None else Some(s"seen ${seen.length} != seeds + admitted $want")
    }
    res.check("pages_count") {
      val want = rounds.map(_.fetched_ok).sum
      if (pages.length == want) None else Some(s"pages ${pages.length} != fetched_ok $want")
    }
    res.check("seen_urls_are_out_links") {
      val outLinks = pages.toSeq.par.flatMap(p => web.links(p.url)).seq.toSet
      val seedSet = seeds.toSet
      firstBad(seen)(s => if (seedSet(s._2) || outLinks(s._2)) None
        else Some(s"${s._2} is neither a seed nor an out-link of a fetched page"))
    }
    res.check("robots_respected") {
      firstBad(pages) { p =>
        val path = new java.net.URI(p.url).getRawPath
        web.robots(p.host).disallow.find(path.startsWith).map(d => s"${p.url} fetched under Disallow: $d")
      }
    }
    res.check("host_crawl_delay") {
      firstBad(pages.groupBy(_.host)) { case (host, ps) =>
        val ts = ps.map(_.fetchTs).distinct.sorted
        val delay = web.robots(host).crawl_delay_ms
        ts.zip(ts.drop(1)).find { case (a, b) => b - a < delay }
          .map { case (a, b) => s"$host fetched at $a and $b, delay $delay ms" }
      }
    }
    res.check("one_host_per_ip_per_round") {
      firstBad(pages.groupBy(p => (p.round, web.resolveIp(p.host)))) { case ((r, ip), ps) =>
        val hs = ps.map(_.host).distinct
        if (hs.length <= 1) None else Some(s"ip $ip served ${hs.mkString(",")} in round $r")
      }
    }
    res.check("images_psnr_and_captions") {
      val truth = new java.util.concurrent.ConcurrentHashMap[Long, Array[Int]]()
      firstBad(pages) { p =>
        val pick = Hashing.pmod(p.urlHash, cfg.corpusSize.toLong)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p.bytes))
        val want = truth.computeIfAbsent(pick, i => groundTruth(i, cfg))
        val got = if (img == null) null
          else img.getRaster.getSamples(0, 0, img.getWidth, img.getHeight, 0, null: Array[Int])
        if (p.imageId != f"img$pick%09d") Some(s"${p.url}: image ${p.imageId}, want row $pick")
        else if (p.caption != SynthWeb.caption(pick, cfg.seed)) Some(s"${p.url}: caption differs")
        else if (got == null || got.length != want.length) Some(s"${p.url}: undecodable or wrong size")
        else if (psnr(got, want) < 40.0) Some(f"${p.url}: PSNR ${psnr(got, want)}%.1f dB")
        else if (!p.verifyOk.contains(true)) Some(s"${p.url}: engine verify_ok=${p.verifyOk}")
        else None
      }
    }
  }

  final case class Page(url: String, urlHash: Long, host: String, round: Int, fetchTs: Long,
                        imageId: String, bytes: Array[Byte], caption: String,
                        verifyOk: Option[Boolean])

  /** Gray pixels of corpus row i as the corpus definition draws them:
    * duplicates (multiples of 97) repeat the pixels of their chain root. */
  private def groundTruth(i: Long, cfg: CrawlConfig): Array[Int] = {
    var root = i
    while (root >= 97 && root % 97 == 0) root -= 97
    val dims = Array(1, 2, 4)
    graft.functions.Images.synthPixels(Hashing.splitmix64(cfg.seed ^ (root * 0x9E37L)),
      cfg.imageSize * dims((root % 3).toInt), cfg.imageSize * dims(((root / 3) % 3).toInt))
  }

  private def psnr(a: Array[Int], b: Array[Int]): Double = {
    val se = a.indices.map { i => val d = (a(i) - b(i)).toDouble; d * d }.sum
    if (se == 0) Double.PositiveInfinity else 10 * math.log10(255.0 * 255.0 * a.length / se)
  }
}
