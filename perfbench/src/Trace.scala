package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Span recorder for the traced run. Benchmark calls into the program are
  * spans (`span`); a listener the benchmark registers on its own session
  * turns every Spark job into a span tagged with the innermost `graft.*`
  * class and method of its call site, carrying its task busy time, CPU
  * time, shuffle-write and spill bytes. A job's parent is the innermost
  * benchmark span open when it started. `close` writes one JSON object per
  * line: run id, id, parent, name, start/end (epoch ns), attributes.
  */
final class Trace(path: Path) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong(0)
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)
  final case class Job(id: Int, start: Long, end: Long, site: String, execId: String,
                       busyNs: Long, cpuNs: Long, shuffleWrite: Long, spill: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private var stack = List.empty[Long] // open spans of the benchmark thread

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = now()
    try body
    finally {
      stack = stack.tail
      spans.add(Span(id, parent, name, t0, now()))
    }
  }

  private def lastSpan(name: String): Option[Span] =
    spans.asScala.filter(_.name == name).toSeq.sortBy(_.start).lastOption

  /** Jobs that started inside the last span called `name`. */
  def jobsIn(name: String): Seq[Job] = lastSpan(name).map { s =>
    jobs.asScala.toSeq.filter(j => j.start >= s.start && j.start <= s.end)
  }.getOrElse(Nil)

  /** Time inside the last span called `name` with no Spark job running. */
  def idleNs(name: String): Long = lastSpan(name).map { s =>
    var covered = 0L
    var cur = (Long.MinValue, Long.MinValue)
    jobsIn(name).map(j => (j.start, math.min(j.end, s.end))).sortBy(_._1).foreach { case (a, b) =>
      if (a > cur._2) {
        if (cur._1 != Long.MinValue) covered += cur._2 - cur._1
        cur = (a, b)
      } else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._1 != Long.MinValue) covered += cur._2 - cur._1
    (s.end - s.start) - covered
  }.getOrElse(0L)

  /** Waits until the listener has seen the end of every started job. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (!listener.open.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }

  def attach(s: SparkSession): Unit = s.sparkContext.addSparkListener(listener)

  private final class Acc(val start: Long, val site: String, val execId: String) {
    var busy, cpu, shuffle, spill = 0L
  }

  private object listener extends SparkListener {
    val open = new ConcurrentHashMap[Int, Acc]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()

    /** Innermost `graft.*` frame of the call site, as Class.method. */
    private def site(e: SparkListenerJobStart): String =
      e.stageInfos.flatMap(_.details.linesIterator).map(_.trim)
        .find(_.startsWith("graft.")).map(_.takeWhile(_ != '(').replace("$", ""))
        .getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      open.put(e.jobId, new Acc(e.time * 1000000L, site(e), exec.getOrElse("")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = open.get(stageJob.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      if (a != null && m != null) a.synchronized {
        a.busy += m.executorRunTime * 1000000L
        a.cpu += m.executorCpuTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = open.remove(e.jobId)
      if (a != null) a.synchronized {
        jobs.add(Job(e.jobId, a.start, e.time * 1000000L, a.site, a.execId,
          a.busy, a.cpu, a.shuffle, a.spill))
      }
    }
  }

  def close(): Unit = {
    val ss = spans.asScala.toSeq.sortBy(_.start)
    val js = jobs.asScala.toSeq.sortBy(_.start)
    // jobs Spark starts on its own threads (broadcasts, subqueries) have no
    // program frame: they take the site of their SQL execution's other jobs
    val siteOfExec = js.filter(j => j.site.nonEmpty && j.execId.nonEmpty)
      .map(j => j.execId -> j.site).toMap
    def parentOf(t: Long): Long = ss.filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0L)
    val w = Files.newBufferedWriter(path)
    try {
      def line(id: Long, parent: Long, name: String, a: Long, b: Long, attrs: String): Unit =
        w.write(s"""{"run": "$runId", "id": $id, "parent": $parent, "name": ${Json.str(name)}, """ +
          s""""start_ns": $a, "end_ns": $b$attrs}\n""")
      ss.foreach(s => line(s.id, s.parent, s.name, s.start, s.end, ""))
      js.foreach { j =>
        val site = if (j.site.nonEmpty) j.site else siteOfExec.getOrElse(j.execId, "spark")
        line(ids.incrementAndGet(), parentOf(j.start), s"job:$site", j.start, j.end,
          s""", "job_id": ${j.id}, "busy_ns": ${j.busyNs}, "cpu_ns": ${j.cpuNs}, """ +
            s""""shuffle_write_bytes": ${j.shuffleWrite}, "spill_bytes": ${j.spill}""")
      }
    } finally w.close()
  }
}
