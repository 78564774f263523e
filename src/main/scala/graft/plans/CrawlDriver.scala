package graft.plans

import graft.{CrawlConfig, RoundMetrics}
import graft.sources.{SynthWeb, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

/** The round loop (≙ the reference's agent assembly + shutdown-condition
  * loop, `/root/reference/src/clj/ramper/agent.clj:27-117`; stop conditions
  * `frontier.clj:227-233`): bootstrap-or-resume, run deterministic rounds,
  * commit each round through [[TableIO]], stop on max-urls / empty frontier /
  * round budget.
  *
  * Pipelined commit: round N's durability writes run as concurrent Spark
  * jobs AND overlap round N+1's compute — N+1 proceeds from the in-memory
  * (eagerly checkpointed) state the moment it exists, while parquet flushes
  * behind it. The manifest for N is only committed after N's writes finish,
  * and manifests are strictly ordered, so crash-resume semantics are
  * unchanged: a kill loses at most the uncommitted tail, and rerunning
  * reproduces it bit-identically because each round is a pure function of
  * (committed state, round index, config). Every K rounds the in-memory
  * state re-anchors to the committed Parquet (bounds plan depth and memory).
  *
  * Own session, interpreted: the driver runs every plan on
  * `spark.newSession()`, which starts from a copy of the caller's modifiable
  * SQL settings (shuffle partitions, AQE, time zone); the caller's conf is
  * never touched. A round is ~80 short jobs whose plans bake round-varying
  * literals (round index, tick, keep-alive batch), so with code generation
  * on it compiles ~160-210 fresh Janino classes every round, on the thread
  * that plans each job — compile time these rounds never earn back (Kohn,
  * Leis & Neumann, "Adaptive Execution of Compiled Queries", ICDE 2018).
  * The session therefore sets `spark.sql.codegen.factoryMode=NO_CODEGEN`,
  * unless the caller set that key itself, in which case the caller's value
  * is carried over like any other setting. Interpreted and compiled plans
  * give identical rows, so the choice changes how fast a round runs, never
  * what it commits. No crawl size at which compiled rounds win has been
  * measured (BENCH.md, "Interpreted crawl rounds").
  */
final class CrawlDriver(caller: SparkSession, cfg: CrawlConfig, val workDir: String,
                        extractor: Option[graft.operators.LinkExtractor] = None) {
  /** Every Dataset the driver builds, and every accessor it returns,
    * belongs to this session. */
  private val spark: SparkSession = CrawlDriver.ownSession(caller)
  private val io = new TableIO(workDir, spark)
  private val web = new SynthWeb(cfg)
  private val linkEx = extractor.getOrElse(new graft.operators.SyntheticLinkExtractor(web))
  private val configHash = cfg.hashCode().toHexString
  private val reanchorEvery = math.max(cfg.reanchorEvery, 1)
  // partitioned cuckoo URL-seen prefilter (north rule): K bucket files under
  // the workDir, updated incrementally per round, durable before each commit
  private val prefilterStore = new graft.operators.PrefilterStore(
    java.nio.file.Paths.get(workDir, "prefilter").toString,
    cfg.prefilterBuckets, cfg.prefilterKeysPerBucket)

  /** Frontier rows with their at-rest bucket `fb`: the HOST bucket
    * (pmod(xxhash64(host), K), bit-equal to hostState.bucket) — the north
    * rule's explicit partitioning for the frontier table. Anchor snapshots
    * are written partitioned by this column, and because it keys on the
    * host, the per-round eligibility scan (Scheduler.eligibleBuckets)
    * prunes cold buckets instead of scanning the whole 10^10-row table.
    * The engine computes fb at row creation (bootstrap + newRows); this
    * guard only backfills it for externally supplied frames. */
  private def withFrontierBucket(df: DataFrame): DataFrame =
    if (df.columns.contains("fb")) df
    else df.withColumn("fb", graft.operators.Scheduler.bucketCol(cfg))

  private val profilePhases = sys.env.contains("SPARK_GRAFT_PROFILE")

  /** Future that runs its Spark actions in a named FAIR-scheduler pool.
    * The round loop drives two concurrent lanes: the CRITICAL path (next
    * round's state + metrics) and the commit lane (durability writes incl.
    * the payload-heavy pages write). Under the default FIFO scheduling the
    * earlier-submitted commit jobs hog every task slot and the critical
    * path queues behind a 28s decode stage (profiled: an 11s stateck wall
    * with ~0 CPU). With spark.scheduler.mode=FAIR (see Bench/CrawlMain
    * session config; weights/minShares per [[fairPoolsXml]]) the critical
    * lane gets slots immediately while commits stream behind. In FIFO mode
    * the pool tag is inert, so the engine works unchanged without the
    * config. */
  private def inPool[T](pool: String)(body: => T): Future[T] = Future {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    try body finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }

  private def corpusWithIdx(): DataFrame = {
    val corpusDir = io.tablePath("corpus", 0)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(corpusDir)))
      SynthWeb.corpus(spark, cfg).write.mode("overwrite").parquet(corpusDir)
    spark.read.parquet(corpusDir)
      .withColumn("corpus_idx", expr("cast(substring(image_id, 4, 9) as long)"))
  }

  /** Merge-on-read of a keyed state table: anchor snapshot overridden by the
    * last-written delta row per key (deltas carry the round as partition
    * column `r` via the basePath read). */
  private def composeKeyed(table: String, deltaTable: String, round: Int,
                           key: String): DataFrame = {
    val a = io.latestSnapshotRound(table, round)
    val snap = io.readSnapshot(table, a)
    io.readRange(deltaTable, a + 1, round) match {
      case None => snap
      case Some(d) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col("r").desc)
        val latest = d.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "r")
        snap.join(latest.select(key), Seq(key), "left_anti").unionByName(latest)
    }
  }

  /** Frontier at `round` = (anchor snapshot ∪ adds since) minus deleted
    * url_hashes minus rows of hosts dead at `round`. Set-wise sound because
    * the sieve admits each url_hash at most once ever and host death is
    * monotone — no per-round replay loop needed. */
  private def composeFrontier(round: Int, hostState: DataFrame): DataFrame = {
    val a = io.latestSnapshotRound("frontier", round)
    // fb rides along: from the snapshot it is the partition column (so a
    // downstream eligibility filter prunes bucket directories at the scan);
    // frontier_add deltas carry it as a data column with identical values.
    // TRUST GATE (ADVICE r4): fb's meaning changed in state_format 2 (was
    // pmod(url_hash,K), now the host bucket the eligibility scan prunes on);
    // rows committed under an older format would silently starve eligible
    // hosts, so when any covering manifest predates the current format,
    // recompute fb from the host instead of trusting the stored column.
    // Checking the endpoints (a, round) suffices: formats are monotone in
    // round (a workdir only ever moves forward to newer code).
    val fmt = graft.sources.TableIO.StateFormat
    val fbTrusted = io.stateFormat(a) == fmt &&
      (a == round || io.stateFormat(round) == fmt)
    val snap = io.readSnapshot("frontier", a)
      .withColumn("fb", col("fb").cast("int"))
    val withAdds = io.readRange("frontier_add", a + 1, round)
      .map(d => snap.unionByName(d.drop("r"))).getOrElse(snap)
    val afterDels = io.readRange("frontier_del", a + 1, round)
      .map(d => withAdds.join(d.select("url_hash"), Seq("url_hash"), "left_anti"))
      .getOrElse(withAdds)
    val live = afterDels.join(
      hostState.filter(col("status") === "dead").select("host"),
      Seq("host"), "left_anti")
    if (fbTrusted) live else withFrontierBucket(live.drop("fb"))
  }

  private def loadState(round: Int): CrawlState = {
    val hs = composeKeyed("host_state", "host_delta", round, "host")
    CrawlState(
      frontier = composeFrontier(round, hs),
      seen = io.readDeltas("seen", round),
      hostState = hs,
      ipState = composeKeyed("ip_state", "ip_delta", round, "ip"),
      phashSeen = io.readDeltas("phash_seen", round))
  }

  /** The materialized frontier at a committed round (test/inspection API;
    * fb is an internal partitioning detail, not part of the logical row). */
  def frontier(round: Int): DataFrame =
    composeFrontier(round, composeKeyed("host_state", "host_delta", round, "host"))
      .drop("fb")

  /** The materialized host-state table at a committed round. */
  def hostState(round: Int): DataFrame =
    composeKeyed("host_state", "host_delta", round, "host")

  /** Run (or resume) the crawl from a Seq of seed URLs (test convenience). */
  def run(seedUrls: Seq[String], maxRounds: Int, maxUrls: Long): Seq[RoundMetrics] = {
    import spark.implicits._
    run(seedUrls.toDF("url"), maxRounds, maxUrls)
  }

  /** Run (or resume) the crawl. Returns per-round metrics. Seeds are a
    * DataFrame with one `url` column (≙ S1: spark.read.textFile(seeds)),
    * from any session of this SparkContext; they are read only on a fresh
    * workDir. On return this JVM's cached prefilter buckets are released;
    * the durable bucket files stay for a resume. */
  def run(seedUrls: DataFrame, maxRounds: Int, maxUrls: Long): Seq[RoundMetrics] =
    try runRounds(seedUrls, maxRounds, maxUrls)
    finally prefilterStore.release()

  private def runRounds(seedUrls: DataFrame, maxRounds: Int, maxUrls: Long): Seq[RoundMetrics] = {
    // the loop thread's own actions ARE the critical path (inert under FIFO)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "critical")
    val corpus = corpusWithIdx()
    val startRound = io.latestRound() match {
      case Some(r) =>
        // resume guard: committed state was produced under exactly one config;
        // continuing with a different one (seed, host counts, delays, bucket
        // layout) would silently break the bit-identity contract the manifest
        // hash exists to protect. Fail fast instead.
        val committed = """"config_hash":\s*"([^"]+)"""".r
          .findFirstMatchIn(io.readManifest(r)).map(_.group(1))
        require(committed.contains(configHash),
          s"resume refused: workDir $workDir was committed under config_hash " +
            s"${committed.getOrElse("?")} but the current config hashes to $configHash; " +
            "use a fresh workDir (or the original CrawlConfig) to preserve determinism")
        r
      case None =>
        val seeds = spark.createDataFrame(seedUrls.rdd, seedUrls.schema)
        val st = CrawlRound.bootstrap(spark, web, cfg, seeds)
        val cF = {
          io.writeBucketed("frontier", 0, withFrontierBucket(st.frontier),
            "fb", cfg.numBuckets)
          io.countRows("frontier", 0)
        }
        val cS = io.writeSnapshot("seen", 0, st.seen)
        val cH = io.writeSnapshot("host_state", 0, st.hostState)
        val cI = io.writeSnapshot("ip_state", 0, st.ipState)
        io.writeSnapshot("phash_seen", 0, st.phashSeen)
        prefilterStore.addDelta(st.seen) // durable before the commit it covers
        io.commit(0, configHash, Map("frontier" -> cF, "seen" -> cS,
          "host_state" -> cH, "ip_state" -> cI, "pages" -> 0L))
        0
    }
    var totalPages = countsOf(startRound).getOrElse("pages_total", 0L)
    var seenTotal = countsOf(startRound).getOrElse("seen_total",
      io.readDeltas("seen", startRound).count())
    val metrics = scala.collection.mutable.ArrayBuffer.empty[RoundMetrics]
    var r = startRound
    var state = loadState(startRound)
    var hostsPrev = countsOf(startRound).getOrElse("host_state", 0L)
    // adaptive front sizing (F3): the keepalive batch for the next round is
    // a pure function of committed counts, recorded in the manifest so a
    // resumed run uses the same value (bit-identity preserved)
    var batch = countsOf(startRound).getOrElse("keepalive", cfg.keepAliveBatch.toLong).toInt
    var pendingCommit: Future[Unit] = Future.successful(())
    var pendingFilterAdd: Future[Unit] = Future.successful(())
    // Eligibility off the critical path (VERDICT r4 #1a): the cold-bucket
    // set for round N is a pure function of round N-1's committed host state
    // and round N's tick, so it is computed CONCURRENTLY with round N-1's
    // metrics/commit bookkeeping and handed to round N ready-made — the
    // in-round serial job it replaces was one more car on the narrow-stage
    // train that caps wide-level scaling. Same inputs, same values: dequeue
    // output is bit-identical to the in-round computation.
    // IP readiness folds into the bucket set (r6, VERDICT r5 #5): one
    // host->ip semi-join on the O(hosts) dimension prunes cold-IP rounds
    // the host clock alone cannot; still off the critical path, and sound
    // (dequeue re-checks both clocks, see Scheduler.eligibleBuckets).
    def eligFor(hs: DataFrame, ips: DataFrame, round: Int): Option[Array[Int]] =
      if (cfg.pruneColdBuckets)
        graft.operators.Scheduler.eligibleBuckets(
          hs, round.toLong * cfg.roundTickMs, cfg, Some(ips))
      else None
    var eligF: Future[Option[Array[Int]]] =
      inPool("critical")(eligFor(state.hostState, state.ipState, startRound + 1))
    var stop = false
    // external stop: a STOP file in the workDir ends the run at the next
    // round boundary (≙ the :ramper/runtime-stop poll, agent.clj:106-117)
    def stopRequested(): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(workDir, "STOP"))
    while (r < startRound + maxRounds && !stop && !stopRequested()) {
      val t0 = System.nanoTime()
      val classes0 = CrawlDriver.compiledClasses()
      var tPrev = t0
      def phase(name: String): Unit = if (profilePhases) {
        val now = System.nanoTime()
        System.err.println(f"[driver phase] $name%-10s +${(now - tPrev) / 1e9}%6.2fs @${(now - t0) / 1e9}%6.2fs")
        tPrev = now
      }
      val round = r + 1
      // the prefilter must already cover every admitted URL (a false negative
      // would re-admit a seen URL) — so wait for the previous round's delta
      // insertion, then pin this round's filter versions
      Await.result(pendingFilterAdd, Duration.Inf)
      val prefilter =
        if (cfg.bloomPrefilter && seenTotal > cfg.prefilterMinSeen)
          Some(prefilterStore.predicate(spark))
        else None
      val elig = Await.result(eligF, Duration.Inf)
      phase("eligwait")
      val res = CrawlRound.run(spark, state, corpus, web,
        cfg.copy(keepAliveBatch = batch), round, seenTotal,
        frontSize = math.max(hostsPrev, 1L), extractor = linkEx,
        prefilter = prefilter, knownHosts = hostsPrev,
        precomputedElig = Some(elig))
      // filter insertion overlaps the commit writes; the manifest commit and
      // the next round's dequeue both gate on it
      pendingFilterAdd = inPool("critical")(prefilterStore.addDelta(res.seenDelta))

      // materialize next-round state eagerly — the three checkpoints are
      // independent, so run them as concurrent jobs (and concurrently with
      // the previous round's still-flushing writes)
      val frontierCkF = inPool("critical")(CrawlRound.stateCk(cfg)(res.frontier))
      val ipCkF = inPool("critical")(CrawlRound.stateCk(cfg)(res.ipState))
      val phashDeltaCkF = inPool("critical")(CrawlRound.stateCk(cfg)(res.phashSeenDelta))
      val frontierCk = Await.result(frontierCkF, Duration.Inf)
      val ipCk = Await.result(ipCkF, Duration.Inf)
      val phashDeltaCk = Await.result(phashDeltaCkF, Duration.Inf)
      phase("stateck")
      // next round's eligibility rides the commit window: res.hostState and
      // ipCk are both checkpointed by now, so this is one tiny O(hosts)
      // job overlapping the (independent) commit writes below
      eligF = inPool("critical")(eligFor(res.hostState, ipCk, round + 1))

      // metrics: observed on the checkpoint actions that already ran inside
      // the round (CrawlRound.RoundObs) — ZERO extra jobs where r5 spent 5
      // concurrent aggregate jobs of plan+schedule+barrier latency per round
      // (VERDICT r5 #1: the narrow-job train is what caps wide-level
      // scaling). Every checkpoint has completed by this point, so the
      // blocking get() returns immediately.
      def obsLong(o: org.apache.spark.sql.Observation, k: String): Long =
        o.get(k) match { case null => 0L; case n: Number => n.longValue() }
      val dequeuedCnt = obsLong(res.obs.fetch, "dequeued")
      val fetchErrors = obsLong(res.obs.fetch, "errs")
      val cP = obsLong(res.obs.fetch, "ok")
      val hostsActive = obsLong(res.obs.hosts, "active")
      val cH = obsLong(res.obs.hosts, "hosts")
      val hostsPurged = obsLong(res.obs.hosts, "dead")
      val hostsNew = cH - hostsPrev
      hostsPrev = cH
      val cF = obsLong(res.obs.frontier, "frontier")
      val cSeenDelta = obsLong(res.obs.admitted, "admitted")
      val linksExtracted = obsLong(res.obs.links, "links")
      phase("metrics")
      seenTotal += cSeenDelta
      totalPages += cP

      val m = RoundMetrics(round, round.toLong * cfg.roundTickMs, dequeuedCnt,
        cP, fetchErrors, linksExtracted, cSeenDelta, hostsActive, hostsNew,
        hostsPurged, (System.nanoTime() - t0) / 1000000L,
        codegen_classes = CrawlDriver.compiledClasses() - classes0)
      metrics += m

      // wait out the previous round's commit (manifests are ordered), then
      // launch this round's writes + commit in the background
      Await.result(pendingCommit, Duration.Inf)
      phase("commitwait")
      // grow the batch when the round dequeues far less than the backlog
      // suggests it could (≙ required-front-size growth on starvation)
      batch = graft.operators.Scheduler.adaptBatch(batch, dequeuedCnt, cF / 4)
      val commitMap = Map("frontier" -> cF, "seen_delta" -> cSeenDelta,
        "seen_total" -> seenTotal, "host_state" -> cH,
        "pages" -> cP, "pages_total" -> totalPages, "keepalive" -> batch.toLong)
      // Durability is delta-shaped (VERDICT r1 #1: an O(frontier) write per
      // round is the top scale-killer at a 10^10-URL frontier): non-anchor
      // rounds commit only this round's adds/dels/changed rows — O(activity);
      // anchor rounds write full snapshots that bound the compose-on-read
      // chain and the resume replay depth.
      // Checkpoint blocks of finished rounds are NOT unpersisted explicitly:
      // the next round's state still references several of them; Spark's
      // ContextCleaner frees each block set once unreachable.
      val isAnchor = round % reanchorEvery == 0
      val stateWrites: Seq[Future[Unit]] =
        if (isAnchor) Seq(
          inPool("commits")(io.writeBucketed("frontier", round,
            withFrontierBucket(frontierCk), "fb", cfg.numBuckets)),
          inPool("commits")(io.write("host_state", round, res.hostState)),
          inPool("commits")(io.write("ip_state", round, ipCk)))
        else Seq(
          inPool("commits")(io.write("frontier_add", round, res.frontierAdd)),
          inPool("commits")(io.write("frontier_del", round, res.frontierDel)),
          inPool("commits")(io.write("host_delta", round, res.hostDelta)),
          inPool("commits")(io.write("ip_delta", round, res.ipDelta)))
      pendingCommit = Future.sequence(stateWrites ++ Seq(
        pendingFilterAdd, // filter durable before the manifest that relies on it
        inPool("commits")(io.write("seen", round, res.seenDelta)),
        inPool("commits")(io.write("pages", round, res.pagesDelta)),
        inPool("commits")(io.write("phash_seen", round, phashDeltaCk)),
        inPool("commits") {
          import spark.implicits._
          io.write("metrics", round, Seq(m).toDF())
        })).map(_ => io.commit(round, configHash, commitMap))

      // next round computes from the in-memory state; re-anchor to committed
      // parquet periodically to bound plan depth and storage memory, and
      // compact the narrow append-only tables (file-count growth; pages stays
      // append-only like the reference's store — Iceberg maintenance would
      // compact it out-of-band at scale)
      state =
        if (isAnchor) {
          Await.result(pendingCommit, Duration.Inf)
          io.compact("seen", round)
          io.compact("phash_seen", round)
          loadState(round)
        } else CrawlState(
          frontier = frontierCk,
          seen = state.seen.unionByName(res.seenDelta),
          hostState = res.hostState,
          ipState = ipCk,
          phashSeen = state.phashSeen.unionByName(phashDeltaCk))
      phase("nextstate")

      if (!cfg.pipelineCommits) Await.result(pendingCommit, Duration.Inf)
      if (totalPages >= maxUrls || cF == 0) stop = true
      r = round
    }
    // A round's wall_ms runs from the top of its loop iteration to its
    // metrics stamp: the prefilter-insert and eligibility waits, the
    // round's jobs and its state checkpoints. What follows the stamp is in
    // no round's wall: the await of the previous round's commit and, on an
    // anchor round, the wait for its own commit, the compaction and the
    // state reload. Commit writes that overlap the next round show only as
    // contention there. The drain below adds what is still flushing when
    // the loop ends to the last round's returned wall, so a short run
    // cannot ride a commit backlog that slid past its window (observed
    // under FAIR pools: 2-core "rounds" of 51s whose payload writes were
    // simply not waited for). After an anchor round the commit was already
    // awaited, so the drain is ~0. The metrics TABLE keeps the in-loop
    // wall; only the returned telemetry carries the drain.
    val tDrain0 = System.nanoTime()
    Await.result(pendingCommit, Duration.Inf)
    val drainMs = (System.nanoTime() - tDrain0) / 1000000L
    if (metrics.nonEmpty && drainMs > 0) {
      val last = metrics.last
      metrics(metrics.size - 1) = last.copy(wall_ms = last.wall_ms + drainMs)
    }
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    metrics.toSeq
  }

  private def countsOf(round: Int): Map[String, Long] = {
    if (round < 0) return Map.empty
    val js = io.readManifest(round)
    """"(\w+)":\s*(\d+)""".r.findAllMatchIn(js)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def pages(round: Int): DataFrame = io.readDeltas("pages", round)
  def seen(round: Int): DataFrame = io.readDeltas("seen", round)
  def latestRound(): Option[Int] = io.latestRound()
}

object CrawlDriver {
  /** A new session of `caller`'s SparkContext carrying every modifiable
    * runtime SQL setting of `caller` (static ones are shared already),
    * interpreted unless `caller` chose a codegen factory mode itself. */
  private[graft] def ownSession(caller: SparkSession): SparkSession = {
    val s = caller.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    caller.conf.getAll.foreach { case (k, v) =>
      if (caller.conf.isModifiable(k)) s.conf.set(k, v)
    }
    s
  }

  /** Janino compilations so far in this JVM (Spark's codegen metric). */
  private def compiledClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** FAIR-scheduler pool config for the round loop's two lanes (see
    * [[CrawlDriver.inPool]]): critical-path jobs outweigh commit-lane jobs
    * so next-round state never queues behind a payload write. Weight and
    * minShare tunable via SPARK_GRAFT_POOL_WEIGHT/SPARK_GRAFT_POOL_MINSHARE
    * (critical pool; commits stays 1/0). Shared by Bench and CrawlMain
    * session builders. */
  lazy val fairPoolsXml: String = {
    val w = sys.env.getOrElse("SPARK_GRAFT_POOL_WEIGHT", "2").toInt
    val ms = sys.env.getOrElse("SPARK_GRAFT_POOL_MINSHARE", "4").toInt
    val xml =
      s"""<?xml version="1.0"?>
        |<allocations>
        |  <pool name="critical">
        |    <schedulingMode>FIFO</schedulingMode><weight>$w</weight><minShare>$ms</minShare>
        |  </pool>
        |  <pool name="commits">
        |    <schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>0</minShare>
        |  </pool>
        |</allocations>""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_pools", ".xml")
    java.nio.file.Files.write(f, xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.toFile.deleteOnExit()
    f.toString
  }
}
