package graft

import graft.functions.{TextAnalysis, UrlNorm}
import graft.operators.{Ann, Dedup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one query per implemented operator family (SURVEY.md §2
  * + the training-data pipeline ops), each with a DuckDB oracle over the same
  * parquet tables. Numeric outputs are BIGINT or round(x, 2) doubles on BOTH
  * sides; every float fold is an ordered left fold so the two engines produce
  * bit-identical doubles.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic per-(dataset, variant) location for a persisted ANN
    * index — built once, reused across queries of one dataset. The digest
    * includes a CONTENT fingerprint of the source parquet (file names,
    * sizes, mtimes): regenerated testdata at the same path then maps to a
    * fresh index dir instead of silently serving stale cells (ADVICE r2). */
  private def annIndexDir(s: SparkSession, dataDir: String, variant: String): String = {
    val src = java.nio.file.Paths.get(s"$dataDir/embeddings.parquet")
    val sig =
      if (java.nio.file.Files.isDirectory(src)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(src).iterator().asScala
          .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .toSeq.sorted.mkString(",")
      } else ""
    // the digest folds in the index FORMAT version: a cached index built by
    // older bucketing code must be rebuilt, not probed with new-code keys
    val fmt = graft.operators.AnnIndex.FormatVersion
    val digest = java.lang.Long.toHexString(
      graft.functions.Hashing.xxhash64(s"$dataDir#$variant#v$fmt#$sig"))
    annRoot.resolve(s"${variant}_$digest").toString
  }

  /** Per-JVM root of the persisted ANN indexes under `java.io.tmpdir`,
    * deleted on exit: every process builds its indexes once, so whether a
    * query builds or only probes never depends on an earlier process. */
  private lazy val annRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_ann_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(r.toFile): Unit))
    r
  }

  /** Rank a <=k-row ordered top-k result 1..k. k rows: materializing on the
    * driver is the honest plan — a global rank window would move the whole
    * (tiny) result to one partition via WindowExec and warn about it. */
  private def rankify(s: SparkSession, top: DataFrame): DataFrame = {
    import s.implicits._
    top.select(col("vec_id")).collect().map(_.getLong(0)).zipWithIndex
      .map { case (v, i) => (v, (i + 1).toLong) }.toSeq.toDF("vec_id", "rank")
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  private val P = TextAnalysis.P

  // ---- shared DuckDB fragments (mirror the Spark operators exactly) ----

  /** DuckDB CTE producing distinct (doc_id, sh) word-3-shingle hashes —
    * mirrors Dedup.shingleHashes(k=3). */
  private val duckShingles =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_transform(w[i:i+2], s -> ${TextAnalysis.wordHashSqlDuck("s")}),
       |                (a, x) -> (a * 31 + x) % $P) AS sh
       |  FROM words, unnest(generate_series(1, len(w) - 2)) AS t(i)
       |)""".stripMargin

  /** DuckDB ordered-fold cosine pieces (bit-identical to Ann.cosine). */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"
  private def duckNorm(a: String): String =
    s"sqrt(list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $a[i]::DOUBLE), (x, y) -> x + y))"
  private def duckCos(a: String, b: String): String =
    s"(${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)}))"

  /** DuckDB mirror of VectorOps.planeWeightScalar (the double-square mix;
    * `bit` and `dim0` are SQL expressions, dim0 0-based, both non-negative
    * BIGINT so `%` remainder semantics agree with the JVM). The s/t
    * subexpressions are textually repeated — SQL lambdas have no lets — but
    * every intermediate stays under 1.1e10, well inside BIGINT. */
  private def duckPlaneWeight(bit: String, dim0: String): String = {
    val s = s"(($bit * 73856093 + $dim0 * 19349663) % 100003)"
    val t = s"(($s * $s + $bit) % 100003)"
    s"(($t * $t % 100003) % 1999 - 999)"
  }

  /** DuckDB sign-bucket (mirrors Ann.signBucket: dim index is 0-based). */
  private def duckBucket(v: String, nbits: Int): String =
    (0 until nbits).map { b =>
      val dot = s"list_reduce(list_transform(generate_series(1, len($v)), " +
        s"i -> $v[i]::DOUBLE * ${duckPlaneWeight(b.toString, "(i - 1)")}::DOUBLE), (x, y) -> x + y)"
      s"(case when $dot > 0 then ${1L << b} else 0 end)"
    }.mkString("(", " + ", ")")

  private val duckMinhashSig = {
    val ms = (0 until 8).map { j =>
      s"min(((${2 * j + 1} * sh) + ${12582917L * (j + 1)}) % $P)::BIGINT AS m$j"
    }.mkString(", ")
    s"""$duckShingles,
       |sig AS (SELECT doc_id, $ms FROM sh GROUP BY doc_id)""".stripMargin
  }

  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // ---- relational core (Catalyst showcase: pushdown, broadcast, window) --
    "q01_pricing_summary" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))),

    // r6 shape (guide §2.3 "aggregate before you shuffle" + §3.1): the
    // shipdate filter keeps ~2% of lineitem, so revenue per order is
    // pre-aggregated BELOW the joins — the r5 plan built a broadcast of the
    // ENTIRE orders table (its biggest single cost) and re-aggregated the
    // full join output. Now orders streams once, probing two small builds
    // (BUILDING customers; the filtered+aggregated lineitem side), and no
    // post-join aggregation exchange exists at all. Revenue groups are
    // unchanged: o_orderkey is unique in orders, so per-order lineitem sums
    // are the same multisets. At 100 TB the lAgg broadcast degrades to a
    // shuffle join past the broadcast cut (AQE decides from runtime sizes).
    "q03_top_orders" -> { (s, d) =>
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
      val lAgg = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_raw"))
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(lAgg), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), round(col("rev_raw"), 2).as("revenue"),
          expr("unix_micros(cast(o_orderdate as timestamp))").as("odate"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    },

    // r6 shape (guide §3.1/§3.3 join ordering): dimensions join INWARD first
    // (region -> nation -> customer -> orders), each ~5x smaller than the
    // r5 build sides — the old plan broadcast the ENTIRE orders (150k rows)
    // and customer tables; now the builds are ASIA customers (~1/5 of
    // customer, 2 narrow columns) and ASIA orders (~1/5 of orders, 2
    // columns). lineitem streams once straight into the map-side partial
    // aggregation; the only exchange left is 5 n_name groups. Same inner
    // equi-joins, reassociated — row multisets per nation are unchanged. At
    // 100 TB the two broadcasts degrade to shuffle joins past the cut.
    "q05_region_revenue" -> { (s, d) =>
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
      val n = t(s, d, "nation")
      val dims = broadcast(n.join(broadcast(r), col("n_regionkey") === col("r_regionkey")))
      val cAsia = t(s, d, "customer").select("c_custkey", "c_nationkey")
        .join(dims, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val oAsia = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(broadcast(cAsia), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("n_name"))
      t(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
        .join(broadcast(oAsia), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    },

    "q_part_topk_per_brand" -> { (s, d) =>
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
      t(s, d, "part").withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3).select("p_brand", "p_partkey", "rn")
    },

    // ---- events: streaming-shaped aggregations ----
    "q_events_tumbling" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(expr("unix_micros(cast(ts as timestamp)) div 600000000").as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))),

    "q_events_sessions" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            (expr("unix_micros(cast(ts as timestamp))") - expr("unix_micros(cast(prev as timestamp))")) > 1800000000L, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
    },

    // ---- crawl-operator family over driver tables ----
    // politeness dequeue: rank-per-host window (Scheduler P1/P5 shape)
    "q_dequeue_rank" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events").withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2).select("user_id", "event_id", "rn")
    },

    // per-host URL cap (F1 shape): first 5 per host, count survivors
    "q_host_cap" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy("user_id").agg(count(lit(1)).as("n_kept"))
    },

    // the sieve (D3 shape): candidates anti-join seen. r6: both sides derive
    // from the SAME events scan, so the two distinct+anti-join shuffles fuse
    // into one aggregation — one scan, one exchange (with map-side partial
    // agg), zero joins (guide §2.3/§2.4); result set is identical: distinct
    // keys with >= 1 view and 0 clicks. The engine's real sieve
    // (SeenSet.antiJoin, separate seen table) keeps the anti-join shape.
    "q_sieve_antijoin" -> { (s, d) =>
      val key = (col("user_id") * 100 + col("event_id") % 100).as("url_key")
      t(s, d, "events")
        .filter(col("event_type").isin("view", "click"))
        .select(key, col("event_type"))
        .groupBy("url_key")
        .agg(max(when(col("event_type") === "view", 1).otherwise(0)).as("__v"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("__c"))
        .filter(col("__v") === 1 && col("__c") === 0)
        .select("url_key")
    },

    // frontier expansion (3-round BFS with per-round sieve, ≙ CrawlRound).
    // r6: each round's frontier is materialized (Dedup.materialize: a
    // reliable checkpoint when the session has a checkpoint dir, else a
    // local one — what the engine does between rounds, CrawlRound.stateCk,
    // without losing recoverability on a cluster). Without the cut, the
    // loop's lazy lineage re-derived every prior round inside each anti-join
    // side: the r5 plan carried FIFTY Exchange nodes; checkpointing leaves
    // one distinct + one anti-join per round, and AQE picks the join
    // strategy from the materialized (known) sizes.
    "q_bfs_frontier" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val n = docs.count()
      var frontier = Dedup.materialize(docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("id")).withColumn("r", lit(0L)))
      var seenAll = frontier
      for (r <- 1 to 3) {
        val next = Dedup.materialize(frontier
          .select(explode(array((1 to 3).map(j => (col("id") * 7 + j) % n): _*)).as("id"))
          .distinct()
          .join(seenAll.select("id"), Seq("id"), "left_anti")
          .withColumn("r", lit(r.toLong)))
        seenAll = seenAll.unionByName(next)
        frontier = next
      }
      seenAll.groupBy("id").agg(min("r").as("first_round"))
    },

    // URL canonicalization (X2): the real UrlNorm against a SQL-mirrorable input
    "q_url_canonical" -> { (s, d) =>
      val canonUdf = udf((u: String) => UrlNorm.canonicalize(u).orNull)
      val raw = concat(lit("HTTP://Host-"), col("user_id") % 20,
        lit(".Test:80/p/"), col("event_id") % 7,
        when(col("event_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
      t(s, d, "events").select(col("event_id"), canonUdf(raw).as("canon_url"))
    },

    // robots admission (X6): prefix-disallow filter
    "q_robots_admission" -> { (s, d) =>
      val path = concat(lit("/"), col("source"), lit("/doc/"), col("doc_id"))
      t(s, d, "documents").withColumn("path", path)
        .filter(!expr("startswith(path, '/src1') or startswith(path, '/src3')"))
        .select("doc_id", "path")
    },

    // ---- dedup family (documents) ----
    "q_dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"), "text", "doc_id")),

    "q_dedup_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "text", "doc_id", k = 3,
        thresholdPct = 60, maxDf = 20)),

    "q_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignature(t(s, d, "documents"), "text", "doc_id", k = 3, perms = 8)),

    "q_minhash_lsh_pairs" -> ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "text", "doc_id", k = 3, bands = 4, rows = 2)),

    "q_simhash" -> ((s, d) =>
      Dedup.simhash(t(s, d, "documents"), "text", "doc_id", k = 3, nbits = 16)),

    "q_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairsAuto(t(s, d, "embeddings"), "vec_id", "embedding",
        simThresholdPct = 30)),

    // ---- similarity search ----
    "q_ann_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val top = Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      rankify(s, top)
    },

    // persisted indexes: assignment computed once at build, query scans only
    // the probed cell / bucket partitions (explain shows PartitionFilters)
    "q_ann_ivf" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val dir = annIndexDir(s, d, "ivf16")
      graft.operators.AnnIndex.buildIvf(emb, "vec_id", "embedding", dir, nlist = 16)
      val top = graft.operators.AnnIndex.ivfTopK(s, dir, "vec_id", "embedding", q, 10, nprobe = 4)
      rankify(s, top)
    },

    "q_ann_lsh" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val dir = annIndexDir(s, d, "lsh6")
      graft.operators.AnnIndex.buildLsh(emb, "vec_id", "embedding", dir, nbits = 6)
      val top = graft.operators.AnnIndex.lshTopK(s, dir, "vec_id", "embedding", q, 5, nbits = 6)
      rankify(s, top)
    },

    // ---- text analysis ----
    "q_lang_id" -> { (s, d) =>
      val cols = TextAnalysis.langId(col("text")).map {
        case ("pred", c) => c.as("pred")
        case (l, c)      => c.cast("long").as(l)
      }
      t(s, d, "documents").select(col("doc_id") +: cols: _*)
    },

    "q_quality" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), TextAnalysis.qualityScore("text").as("score"))),

    "q_token_count" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("n_subword"))),

    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint("text").as("fp"))),

    // ---- multimodal plumbing: typed metadata over a binary column ----
    "q_binary_len" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        length(encode(col("text"), "utf-8")).cast("long").as("byte_len")))

  ) ++ extractionQueries

  /** HTML extraction (X1/X5): the REAL parser over synthesized pages full of
    * parser traps (comment/script/style decoys, a nofollow anchor, entities);
    * the oracle states the trap-free ground truth in closed form. */
  private def extractionQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_extract_links" -> { (s, d) =>
      import graft.functions.Html
      val html = concat(
        lit("""<html><head><title>Doc</title><style>a{}/* <a href="/sd">x</a> */</style></head><body>"""),
        lit("""<!-- <a href="/decoy">x</a> --><script>var a='<a href="/sdecoy">s</a>';</script>"""),
        lit("""<a rel="nofollow" href="/nf">nf</a>"""),
        lit("""<a href="/doc/"""), pmod(col("doc_id") * 31 + 1, lit(1000)).cast("string"), lit("""">a</a>"""),
        lit("""<a href="/doc/"""), pmod(col("doc_id") * 31 + 2, lit(1000)).cast("string"), lit("""">b</a>"""),
        lit("""<a href="http://other.test/doc/"""), pmod(col("doc_id") * 31 + 3, lit(1000)).cast("string"), lit("""">c</a>"""),
        lit("</body></html>"))
      val pageUrl = concat(lit("http://docs.test/page/"), col("doc_id").cast("string"))
      val exUdf = udf((h: String, u: String) => Html.extractLinks(h, u))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(exUdf(html, pageUrl)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("link"))
    },

    "q_extract_text" -> { (s, d) =>
      import graft.functions.Html
      val html = concat(
        lit("<html><head><title>T</title><script>junk()</script></head><body><h1>"),
        col("source"), lit("</h1><p>"), col("text"), lit("</p><!-- c --></body></html>"))
      val txtUdf = udf((h: String) => Html.extractText(h))
      t(s, d, "documents").select(col("doc_id"), txtUdf(html).as("txt"))
    },

    "q_extract_title" -> { (s, d) =>
      import graft.functions.Html
      val html = concat(lit("<html><head><title>  Doc "),
        col("doc_id").cast("string"), lit(" &amp; more </title><body>x</body></html>"))
      val titleUdf = udf((h: String) => Html.extractTitle(h))
      t(s, d, "documents").select(col("doc_id"), titleUdf(html).as("title"))
    },

    "q_extract_code" -> { (s, d) =>
      import graft.functions.Html
      val html = concat(
        lit("<body><h1>x</h1><pre><code>fn("), col("doc_id").cast("string"),
        lit(")</code></pre><script>var s='<code>decoy</code>';</script>"),
        lit("<code>let y = 1 &amp; 2</code></body>"))
      val codeUdf = udf((h: String) => Html.extractCode(h))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(codeUdf(html)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("code"))
    },

    "q_extract_math" -> { (s, d) =>
      import graft.functions.Html
      val text = concat(lit("intro $x_"), col("doc_id").cast("string"),
        lit("$ mid $$y+z$$ and \\(w\\) end"))
      val mathUdf = udf((t: String) => Html.findLatex(t))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(mathUdf(text)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("math"))
    },

    "q_extract_lang" -> { (s, d) =>
      import graft.functions.Html
      val html = concat(
        lit("""<html lang="en"><head><script>var x='<p lang="xx">d</p>';</script></head><body>"""),
        lit("""<!-- <span lang="zz">c</span> --><div lang="">empty declares nothing</div>"""),
        lit("""<p lang="fr-"""), pmod(col("doc_id"), lit(3)).cast("string"), lit("""">txt</p>"""),
        lit("""<span lang="de&amp;x">y</span></body></html>"""))
      val exUdf = udf((h: String) => Html.extractLangAttrs(h))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(exUdf(html)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("lang"))
    },

    // phash near-dup banding (the in-engine content-dedup shape, oracle-
    // anchored): 64-bit pseudo-phashes from the document fingerprint — exact
    // duplicate texts collide, the 16-bit band join + bit_count(xor) verifies
    "q_phash_neardup" -> { (s, d) =>
      val ph = t(s, d, "documents").select(col("doc_id"),
        ((TextAnalysis.fingerprint("text") % 1024) * lit(2654435761L)).as("ph"))
      Dedup.phashNearDupPairs(ph, "doc_id", "ph", maxDist = 8)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
    },

    // decode-path multimodal oracle: encode a deterministic 8x8 grayscale
    // PNG per row, decode it back through the REAL ImageIO path, and report
    // the pixel sum — the oracle states the closed form, so any
    // encode/decode corruption breaks the hash match
    "q_decode_luma" -> { (s, d) =>
      import graft.functions.Images
      val roundTrip = udf { (docId: Long) =>
        val w = 8; val h = 8
        val px = Array.tabulate(w * h)(i => ((docId * 31 + i) % 256).toInt)
        val (decoded, dw, dh) = Images.decode(Images.encodePng(px, w, h))
        require(dw == w && dh == h)
        decoded.foldLeft(0L)(_ + _)
      }
      t(s, d, "documents").select(col("doc_id"), roundTrip(col("doc_id")).as("px_sum"))
    }
  )

  // =====================================================================

  def oracleSql: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q03_top_orders" ->
      """SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |epoch_us(o_orderdate) AS odate
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q05_region_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin,

    "q_part_topk_per_brand" ->
      """SELECT p_brand, p_partkey, rn FROM (
        |  SELECT p_brand, p_partkey,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn <= 3""".stripMargin,

    "q_events_tumbling" ->
      """SELECT epoch_us(ts) // 600000000 AS bucket, event_type, count(*) AS n,
        |round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2""".stripMargin,

    "q_events_sessions" ->
      """SELECT user_id, sum(new_s)::BIGINT AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id, CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |    THEN 1 ELSE 0 END AS new_s FROM (
        |    SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM events)) GROUP BY user_id""".stripMargin,

    "q_dequeue_rank" ->
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 2""".stripMargin,

    "q_host_cap" ->
      """SELECT user_id, count(*) AS n_kept FROM (
        |  SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 5 GROUP BY user_id""".stripMargin,

    "q_sieve_antijoin" ->
      """SELECT DISTINCT user_id * 100 + event_id % 100 AS url_key FROM events
        |WHERE event_type = 'view' AND user_id * 100 + event_id % 100 NOT IN (
        |  SELECT user_id * 100 + event_id % 100 FROM events WHERE event_type = 'click')""".stripMargin,

    "q_bfs_frontier" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS c FROM documents),
        |bfs(id, r) AS (
        |  SELECT doc_id, 0::BIGINT FROM documents WHERE doc_id < 5
        |  UNION ALL
        |  SELECT (b.id * 7 + t.j) % (SELECT c FROM nn), b.r + 1
        |  FROM bfs b, (VALUES (1), (2), (3)) t(j) WHERE b.r < 3)
        |SELECT id, min(r)::BIGINT AS first_round FROM bfs GROUP BY id""".stripMargin,

    "q_url_canonical" ->
      """SELECT event_id, 'http://host-' || (user_id % 20) || '.test/p/' || (event_id % 7)
        |AS canon_url FROM events""".stripMargin,

    "q_robots_admission" ->
      """SELECT doc_id, path FROM (
        |  SELECT doc_id, '/' || source || '/doc/' || doc_id AS path FROM documents)
        |WHERE NOT (starts_with(path, '/src1') OR starts_with(path, '/src3'))""".stripMargin,

    "q_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",

    "q_dedup_jaccard" ->
      s"""WITH $duckShingles,
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |rare AS (SELECT s.doc_id, s.sh FROM sh s
         |  JOIN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 20) d USING (sh)),
         |common AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, common::BIGINT AS common,
         |  (sa.sz + sb.sz - common)::BIGINT AS union_sz
         |FROM common JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE common * 100 >= (sa.sz + sb.sz - common) * 60""".stripMargin,

    "q_minhash_sig" ->
      s"""WITH $duckMinhashSig SELECT * FROM sig""".stripMargin,

    "q_minhash_lsh_pairs" -> {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band, ((m${2 * b} * 31 + m${2 * b + 1}) % $P) AS bandkey FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH $duckMinhashSig,
         |raw AS ($bandSelects),
         |buckets AS (SELECT doc_id, band, bandkey,
         |  row_number() OVER (PARTITION BY band, bandkey ORDER BY doc_id) AS brn FROM raw)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM buckets a JOIN buckets b
         |  ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
         |WHERE a.brn <= 64""".stripMargin
    },

    "q_simhash" -> {
      val sums = (0 until 16).map(b =>
        s"sum(case when (sh >> $b) % 2 = 1 then 1 else -1 end) AS s$b").mkString(", ")
      val fp = (0 until 16).map(b =>
        s"(case when s$b > 0 then ${1L << b} else 0 end)").mkString(" + ")
      s"""WITH $duckShingles,
         |bits AS (SELECT doc_id, $sums FROM sh GROUP BY doc_id)
         |SELECT doc_id, ($fp)::BIGINT AS simhash FROM bits""".stripMargin
    },

    "q_embed_neardup" ->
      // Banded sign-LSH mirror (Dedup.embeddingNearDupPairsAuto):
      //  - nb mirrors deriveNbits integer-exactly: smallest nb in [4,20]
      //    keeping the expected bucket <= 32 rows, via the bit-length of
      //    ceil(n/32) - 1
      //  - l mirrors deriveTables as a CASE (smallest table count with
      //    >= 0.9 theoretical recall at cos 0.9 for band width nb)
      //  - band t's key packs signs of planes t*nb..t*nb+nb-1, the same
      //    plane-weight formula and ascending-i IEEE folds as SignBands
      s"""WITH nbt AS (SELECT greatest(4, least(20,
         |    length(format('{:b}', greatest((count(*) + 31) // 32 - 1, 0))))) AS nb
         |  FROM embeddings),
         |lt AS (SELECT CASE nb WHEN 4 THEN 3 WHEN 5 THEN 4 WHEN 6 THEN 5
         |    WHEN 7 THEN 6 WHEN 8 THEN 7 WHEN 9 THEN 9 WHEN 10 THEN 10
         |    WHEN 11 THEN 12 WHEN 12 THEN 14 WHEN 13 THEN 17 WHEN 14 THEN 19
         |    WHEN 15 THEN 23 WHEN 16 THEN 27 WHEN 17 THEN 31 WHEN 18 THEN 37
         |    WHEN 19 THEN 43 ELSE 50 END AS l FROM nbt),
         |b AS (SELECT vec_id, embedding AS e,
         |           list_transform(embedding, x -> x::DOUBLE / ${duckNorm("embedding")}) AS u
         |      FROM embeddings),
         |keyed AS (
         |  SELECT vec_id, t, u,
         |    list_reduce(list_transform(generate_series(0, nb - 1), j ->
         |      CASE WHEN list_reduce(list_transform(generate_series(1, len(e)),
         |          i -> e[i]::DOUBLE *
         |            ${duckPlaneWeight("(t * nb + j)::BIGINT", "(i - 1)::BIGINT")}::DOUBLE),
         |          (x, y) -> x + y) > 0
         |        THEN (1::BIGINT << j) ELSE 0::BIGINT END),
         |      (a, x) -> a + x) AS key
         |  FROM b, nbt, lt, unnest(generate_series(0, l - 1)) AS tt(t))
         |SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |FROM keyed x JOIN keyed y ON x.t = y.t AND x.key = y.key AND x.vec_id < y.vec_id
         |WHERE list_reduce(list_transform(generate_series(1, len(x.u)),
         |  i -> x.u[i] * y.u[i]), (a, c) -> a + c) * 100 >= 30""".stripMargin,

    "q_ann_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT vec_id, ${duckCos("embedding", "qe")} AS sim FROM embeddings, q)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank FROM s)
         |WHERE rank <= 10""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (
         |      PARTITION BY e.vec_id ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cid) AS crn
         |    FROM embeddings e, cent c) WHERE crn = 1),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY ${duckCos("q.qe", "c.cvec")} DESC, c.cid) AS prn
         |    FROM cent c, q) WHERE prn <= 4),
         |s AS (
         |  SELECT e.vec_id, ${duckCos("e.embedding", "q.qe")} AS sim
         |  FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
         |  JOIN probes p ON a.cid = p.cid, q)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank FROM s)
         |WHERE rank <= 10""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH q AS (SELECT embedding AS qe, ${duckBucket("embedding", 6)} AS qb
         |           FROM embeddings WHERE vec_id = 0),
         |b AS (SELECT vec_id, embedding AS e, ${duckBucket("embedding", 6)} AS bucket
         |      FROM embeddings),
         |s AS (SELECT vec_id, ${duckCos("e", "qe")} AS sim FROM b, q WHERE bucket = qb)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank FROM s)
         |WHERE rank <= 5""".stripMargin,

    "q_lang_id" -> {
      val scores = TextAnalysis.langMarkers.map { case (l, ms) =>
        val in = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), w -> w in ($in)))::BIGINT AS $l"
      }.mkString(", ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val gm = s"greatest(${langs.mkString(", ")})"
      val pred = langs.map(l => s"WHEN $l = __gm AND __gm > 0 THEN '$l'").mkString(" ")
      s"""SELECT doc_id, ${langs.mkString(", ")}, CASE $pred ELSE 'und' END AS pred FROM (
         |  SELECT *, $gm AS __gm FROM (SELECT doc_id, $scores FROM documents))""".stripMargin
    },

    "q_quality" ->
      s"SELECT doc_id, ${TextAnalysis.qualityScoreSqlDuck("text")} AS score FROM documents",

    "q_token_count" ->
      """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_ws,
        |len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+'))::BIGINT AS n_subword
        |FROM documents""".stripMargin,

    "q_fingerprint" ->
      s"SELECT doc_id, ${TextAnalysis.fingerprintSqlDuck("text")} AS fp FROM documents",

    "q_binary_len" ->
      "SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len FROM documents",

    "q_extract_links" ->
      """SELECT doc_id, (j - 1)::BIGINT AS pos,
        |  CASE WHEN j <= 2 THEN 'http://docs.test/doc/' || (doc_id * 31 + j) % 1000
        |       ELSE 'http://other.test/doc/' || (doc_id * 31 + j) % 1000 END AS link
        |FROM documents, unnest([1, 2, 3]) AS t(j)""".stripMargin,

    "q_extract_text" ->
      "SELECT doc_id, 'T ' || source || ' ' || text AS txt FROM documents",

    "q_extract_title" ->
      "SELECT doc_id, 'Doc ' || doc_id || ' & more' AS title FROM documents",

    "q_extract_code" ->
      """SELECT doc_id, (j - 1)::BIGINT AS pos,
        |  CASE WHEN j = 1 THEN 'fn(' || doc_id || ')' ELSE 'let y = 1 & 2' END AS code
        |FROM documents, unnest([1, 2]) AS t(j)""".stripMargin,

    "q_extract_math" ->
      """SELECT doc_id, (j - 1)::BIGINT AS pos,
        |  CASE WHEN j = 1 THEN '$x_' || doc_id || '$'
        |       WHEN j = 2 THEN '$$y+z$$' ELSE '\(w\)' END AS math
        |FROM documents, unnest([1, 2, 3]) AS t(j)""".stripMargin,

    "q_extract_lang" ->
      """SELECT doc_id, (j - 1)::BIGINT AS pos,
        |  CASE WHEN j = 1 THEN 'en'
        |       WHEN j = 2 THEN 'fr-' || (doc_id % 3)
        |       ELSE 'de&x' END AS lang
        |FROM documents, unnest([1, 2, 3]) AS t(j)""".stripMargin,

    "q_phash_neardup" ->
      s"""WITH ph AS (SELECT doc_id,
         |  ((${TextAnalysis.fingerprintSqlDuck("text")} % 1024) * 2654435761) AS ph FROM documents),
         |keyed AS (SELECT doc_id, ph, b, (ph >> (b * 16)) & 65535 AS bandkey
         |          FROM ph, unnest([0, 1, 2, 3]) AS t(b)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |                 a.ph AS pha, b.ph AS phb
         |          FROM keyed a JOIN keyed b
         |            ON a.b = b.b AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(pha, phb))::BIGINT AS dist
         |FROM pairs WHERE bit_count(xor(pha, phb)) <= 8""".stripMargin,

    "q_decode_luma" ->
      """SELECT doc_id, list_reduce(list_transform(generate_series(0, 63),
        |  i -> (doc_id * 31 + i) % 256), (a, b) -> a + b)::BIGINT AS px_sum
        |FROM documents""".stripMargin
  )
}
