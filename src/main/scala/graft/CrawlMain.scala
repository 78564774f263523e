package graft

import graft.plans.CrawlDriver
import graft.sources.SynthWeb
import org.apache.spark.sql.SparkSession

/** CLI entry: run (or resume) a deterministic crawl and print per-round
  * metrics as JSON lines. Doubles as the scaling-bench harness: run the same
  * workDir-less job at two parallelism levels and compare URLs/sec
  * (BASELINE.md measurement protocol).
  *
  * Usage: CrawlMain <workDir> <rounds> [cores] [numHosts] [pagesPerHost] [seeds]
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "/tmp/graft_crawl"
    val rounds = if (args.length > 1) args(1).toInt else 5
    val cores = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val numHosts = if (args.length > 3) args(3).toInt else 200
    val pagesPerHost = if (args.length > 4) args(4).toInt else 64
    val nSeeds = if (args.length > 5) args(5).toInt else 32

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // AQE coalesces shuffle partitions by SIZE; crawl stages are small in
      // bytes but heavy in CPU (UDF canonicalization, image decode), so the
      // 64MB default advisory collapses them to 1-3 tasks and kills scaling
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_BYTES", "2m"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      // reliable-checkpoint hygiene (ADVICE r5): without this, Dedup's
      // materialize() leaves its checkpoint data behind forever when a
      // checkpoint dir is configured
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // two-lane FAIR scheduling (critical path vs commit lane — see
      // CrawlDriver.inPool); without the pool file unknown pools degrade to
      // defaults, and under FIFO the tags are inert
      .config("spark.scheduler.mode", sys.env.getOrElse("SPARK_GRAFT_SCHED", "FAIR"))
      .config("spark.scheduler.allocation.file", graft.plans.CrawlDriver.fairPoolsXml)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("SPARK_GRAFT_PROFILE")) {
      import org.apache.spark.scheduler._
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          starts.put(e.jobId, (System.nanoTime(),
            e.stageInfos.lastOption.map(_.name).getOrElse("?")))
        override def onJobEnd(e: SparkListenerJobEnd): Unit = {
          val (t0, name) = starts.getOrDefault(e.jobId, (0L, "?"))
          println(f"[job ${e.jobId}%3d] ${(System.nanoTime() - t0) / 1e9}%6.2fs  $name")
        }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val secs = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
          if (secs > 0.75)
            println(f"[stage ${si.stageId}%4d] $secs%6.2fs tasks=${si.numTasks}%4d  ${si.name.take(60)}")
        }
      })
    }

    val cfg = CrawlConfig(numHosts = numHosts, pagesPerHost = pagesPerHost,
      corpusSize = 512, imageSize = 16, numBuckets = math.max(cores.toInt * 2, 16),
      verifySample = sys.env.getOrElse("SPARK_GRAFT_VERIFY_SAMPLE", "1").toInt)
    val web = new SynthWeb(cfg)
    val driver = new CrawlDriver(spark, cfg, workDir)
    val t0 = System.nanoTime()
    val metrics = driver.run(web.seeds(nSeeds), maxRounds = rounds, maxUrls = Long.MaxValue)
    val wallSec = (System.nanoTime() - t0) / 1e9
    metrics.foreach { m =>
      println(s"""{"round":${m.round},"dequeued":${m.dequeued},"fetched_ok":${m.fetched_ok},""" +
        s""""fetch_errors":${m.fetch_errors},"links_admitted":${m.links_admitted},""" +
        s""""hosts_new":${m.hosts_new},"wall_ms":${m.wall_ms},""" +
        s""""codegen_classes":${m.codegen_classes}}""")
    }
    val urls = metrics.map(_.dequeued).sum
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    val cpuSec = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    println(f"""{"total_urls":$urls,"wall_sec":$wallSec%.2f,"urls_per_sec":${urls / wallSec}%.1f,"cores":"$cores","gc_sec":${gcMs / 1000.0}%.1f,"cpu_sec":$cpuSec%.1f}""")
    spark.stop()
  }
}
