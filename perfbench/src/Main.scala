package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs one workload, checks it, and writes
  * `result.json` into the run directory for `perfbench/run.py`.
  *
  * Usage: perfbench.Main --workload crawl|queries --seed N --seconds S
  *          --trace 0|1 --cores C --run-dir DIR
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = Paths.get(a("run-dir"))
    val res = new Result
    val trace = if (a("trace") == "1") Some(new Trace(runDir.resolve("spans.jsonl"))) else None
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble, a("cores").toInt,
      runDir, res, trace)
    try ctx.workload match {
      case "crawl"   => CrawlWorkload.run(ctx)
      case "queries" => QueryWorkload.run(ctx)
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      trace.foreach(_.close())
      res.write(runDir.resolve("result.json"))
    }
    // run.py deletes the run directory, Spark's scratch space included, so
    // the JVM ends here without Spark's shutdown work
    Runtime.getRuntime.halt(0)
  }
}

final case class Ctx(workload: String, seed: Long, seconds: Double, cores: Int,
                     runDir: Path, res: Result, trace: Option[Trace]) {
  def traced: Boolean = trace.isDefined

  /** Runs `body`; with tracing on, records it as a span named `name`. */
  def span[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(name)(body)
    case None    => body
  }
}

/** What one run reports: metrics by name, the operation tally and the
  * named output checks. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val extra = mutable.LinkedHashMap.empty[String, String] // raw JSON values

  def check(name: String)(ok: => Option[String]): Unit = {
    attempted += 1
    val detail =
      try ok catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    detail match {
      case None    => checks(name) = "ok"
      case Some(d) => checks(name) = d; failed += 1
    }
  }

  def write(p: Path): Unit = {
    val ms = metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val cs = checks.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    val ex = extra.map { case (k, v) => s", ${Json.str(k)}: $v" }.mkString
    Files.writeString(p,
      s"""{"attempted": $attempted, "failed": $failed, "metrics": $ms, "checks": $cs$ex}""")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Common {
  /** Seconds since this JVM started: the cold set-up clock. */
  def sinceProcessStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after full collections, in MB. */
  def heapLiveMb(): Double = {
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU seconds this JVM has used, all threads. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** The benchmark's one session builder. Crawl sessions carry the crawl
    * CLI's settings (FAIR lanes, size-insensitive AQE coalescing); query
    * sessions carry the query dump's (`graft.Verify`). Spark's scratch
    * space stays inside the run directory. */
  def session(ctx: Ctx, crawl: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.runDir.resolve("warehouse").toString)
    val s =
      if (crawl) b
        .config("spark.sql.shuffle.partitions", ctx.cores.toString)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", graft.plans.CrawlDriver.fairPoolsXml)
        .getOrCreate()
      else b.config("spark.sql.shuffle.partitions", ctx.cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    ctx.trace.foreach(_.attach(s))
    s
  }
}
