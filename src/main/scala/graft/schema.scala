package graft

/** Fixed schemas for every engine table (the reference uses dynamic
  * spec-checked maps — `/root/reference/src/clj/ramper/workers/fetched_data.clj:7-15`;
  * we pin case classes + Encoders at table boundaries per SURVEY.md §1).
  */

/** Image+caption corpus row — exact shape from BASELINE.json `input_hint`. */
final case class CorpusRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String, // "png" | "jpeg"
    caption: String,
    phash: Long)

/** One queued URL. seq_no is the per-host FIFO order the reference keeps in
  * each visit state's PersistentQueue
  * (`/root/reference/src/clj/ramper/frontier/workbench/visit_state.clj:33-41`);
  * here it is an explicit monotone column (SURVEY.md §1 VisitState row).
  */
final case class FrontierRow(
    url: String,
    url_hash: Long,
    host: String,
    path_query: String,
    seq_no: Long,
    priority: Int,
    round_added: Int)

/** Sieve "already emitted" set — one row per URL ever admitted
  * (`sieve.clj:7-12` "once and once only"). */
final case class SeenRow(url_hash: Long, url: String)

/** Per-host scheduler state (≙ VisitState bookkeeping fields +
  * broken-host accounting, `visit_state.clj:8-26`, `workbench_entry.clj:24-27`). */
final case class HostState(
    host: String,
    ip: Long,            // resolved address as a long (synthetic resolver)
    resolved_at: Long,   // when `ip` was resolved; re-resolved after dnsTtlMs
                         // (≙ ip-store ping/purge, ip_store.clj:11-39)
    bucket: Int,         // salted hash bucket = partition/politeness domain
    broken: Boolean,     // synthetic "this host always times out" flag
    next_fetch: Long,    // epoch-ms logical time; eligible iff <= round ts
    crawl_delay_ms: Long,// robots crawl-delay override or default host delay
    disallow: Seq[String], // robots prefixes cached per host (broadcast side)
    retries: Int,
    last_error: String,  // "" when healthy
    status: String,      // "live" | "dead"
    enqueued_count: Long,  // per-host URL cap counter (distributor.clj:41-47)
    cookies: Map[String, String]) // per-host cookie jar, byte-budget-truncated
                                  // (≙ visit-state cookies, fetching_thread.clj:209-225)

/** Per-IP politeness state (≙ WorkbenchEntry next-fetch,
  * `workbench_entry.clj:16-22`). */
final case class IpState(ip: Long, next_fetch: Long)

/** Parsed robots.txt per host (≙ util/robots.clj:16-56). */
final case class RobotsRow(host: String, disallow: Seq[String], crawl_delay_ms: Long)

/** Stored page = crawl metadata + the image+caption payload
  * (≙ SimpleRecord, `store/simple_record.clj:13-38`, grafted per input_hint). */
final case class PageRow(
    url: String,
    url_hash: Long,
    host: String,
    bucket: Int,  // politeness/fetch partition that produced the row —
                  // deterministic per-partition lineage (north rule)
    round: Int,
    fetch_ts: Long,
    status: Int,
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    verify_ok: Option[Boolean], // sampled decode/PSNR/caption check (null = unsampled)
    phash_dup: Boolean)         // content near-dup under the phash index

/** Per-round metrics row (≙ stats channel, `stats.clj:12-36`).
  * `wall_ms` runs from the round's start to its metrics stamp, before its
  * commit (see the drain note in `CrawlDriver.runRounds`);
  * `codegen_classes` is the number of Janino compilations in this JVM over
  * that window. */
final case class RoundMetrics(
    round: Int,
    round_ts: Long,
    dequeued: Long,
    fetched_ok: Long,
    fetch_errors: Long,
    links_extracted: Long,
    links_admitted: Long,
    hosts_active: Long,
    hosts_new: Long,
    hosts_purged: Long,
    wall_ms: Long,
    codegen_classes: Long = 0L)

/** Engine configuration (≙ startup+runtime config,
  * `runtime_configuration.clj:23-47`, `resources/default-config.edn`). */
final case class CrawlConfig(
    seed: Long = 42L,
    // politeness (reference defaults: 2000ms each, default-config.edn:2,5,7)
    hostDelayMs: Long = 2000L,
    ipDelayMs: Long = 2000L,
    keepAliveBatch: Int = 4,     // URLs fetched per host per round (≙ keepalive window P5)
    roundTickMs: Long = 2000L,   // logical time advance per round (no wall clock)
    maxUrlsPerHost: Long = 500L, // default-config.edn:9
    maxRetries: Int = 3,
    workbenchMaxUrls: Long = 1L << 30, // P6 memory term (≙ workbench-max-byte-size)
    reanchorEvery: Int = 8,      // rounds between full state snapshots + compaction
    pipelineCommits: Boolean = true, // overlap round N+1 compute with N's writes
    cookieMaxBytes: Int = 2048,  // per-host cookie budget (runtime_configuration.clj:31)
    dnsTtlMs: Long = 7200000L,   // DNS re-resolve TTL (≙ ip-purge-interval, 2h)
    // scale knobs
    numBuckets: Int = 64,        // politeness/salt buckets ≈ executor-slots * small factor
    saltsPerHotHost: Int = 4,
    perBucketQuota: Int = 1 << 20,
    bloomPrefilter: Boolean = true,
    bloomFpp: Double = 0.01,
    prefilterBuckets: Int = 64,          // partitioned cuckoo store: K bucket files
    prefilterKeysPerBucket: Long = 1L << 21, // per-bucket key ceiling (files grow ~2.1 B/key)
    prefilterMinSeen: Long = 500000L,    // engage the prefilter above this seen size
    pruneColdBuckets: Boolean = true, // dequeue reads only buckets with an eligible host
    // fetch/verify-stage salt: split each politeness bucket's fetch batch
    // across this many partitions (numBuckets*salt total). The decode/verify
    // payload is size-skewed per host, so at wide parallelism the 1-partition-
    // per-bucket layout leaves a straggler tail (~20% over ideal packing at 8
    // cores, BENCH.md r4); salting packs the tail into finer waves. 1 = the
    // unsalted layout. Outputs are bit-identical either way (partitioning is
    // physical only — every rank/dedup downstream keys on logical columns).
    fetchSaltParts: Int = 1,
    // storage level for the eager per-round state checkpoints: "memory"
    // (MEMORY_AND_DISK deserialized — fastest, but deserialized row objects
    // cost 3-5x their serialized size in heap and are freed only when the
    // GC-driven ContextCleaner gets to them), "ser" (MEMORY_AND_DISK_SER —
    // compact on-heap bytes, spills), "disk" (DISK_ONLY — near-zero heap).
    // Bigger rounds on a bounded heap want "ser"/"disk": the 2x-round-size
    // scaling probe GC-thrashed at 10 g under "memory".
    stateStorage: String = "memory",
    verifySample: Int = 1,       // decode-verify every Nth fetch (1 = all)
    // synthetic web shape (≙ BUbiNG graph-server protocol, README.md:38-41)
    numHosts: Int = 64,
    pagesPerHost: Int = 64,
    outDegree: Int = 8,
    brokenHostFraction: Double = 0.01,
    corpusSize: Int = 1024,
    imageSize: Int = 32)
