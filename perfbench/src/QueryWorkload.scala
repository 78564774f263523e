package perfbench

import graft.SparkEntry
import graft.operators.AnnIndex
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The `queries` workload: all `SparkEntry.queries` on the seeded tables
  * under `data/main`, each result written in full as parquet (the shape
  * `graft.Verify` dumps) for the DuckDB oracle compare in run.py. Set-up
  * builds both ANN indexes; then whole passes run until `seconds` have gone
  * by (at least one), and each query reports its median wall. The first
  * pass is each query's first execution in the session, as in a
  * `graft.Verify` run; there is no warm-up pass.
  */
object QueryWorkload {
  private val MaxPasses = 6

  /** The persisted-index queries, rebuilt here against indexes that set-up
    * builds inside the run directory: the timed part is the probe alone. */
  private val AnnQueries = Set("q_ann_ivf", "q_ann_lsh")

  private def names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Both persisted ANN indexes of the tables under `dataDir`, built side
    * by side (set-up only). */
  private def buildAnn(spark: SparkSession, dataDir: String, idx: Path): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val ivf = Future(AnnIndex.buildIvf(emb, "vec_id", "embedding", idx.resolve("ivf16").toString, nlist = 16))
    AnnIndex.buildLsh(emb, "vec_id", "embedding", idx.resolve("lsh6").toString, nbits = 6)
    Await.result(ivf, scala.concurrent.duration.Duration.Inf)
  }

  private def query(spark: SparkSession, name: String, dataDir: String, idx: Path): DataFrame =
    if (!AnnQueries(name)) SparkEntry.queries(name)(spark, dataDir)
    else {
      import spark.implicits._
      val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
      val top =
        if (name == "q_ann_ivf")
          AnnIndex.ivfTopK(spark, idx.resolve("ivf16").toString, "vec_id", "embedding", q, 10, nprobe = 4)
        else AnnIndex.lshTopK(spark, idx.resolve("lsh6").toString, "vec_id", "embedding", q, 5, nbits = 6)
      top.select(col("vec_id")).collect().map(_.getLong(0)).zipWithIndex
        .map { case (v, i) => (v, (i + 1).toLong) }.toSeq.toDF("vec_id", "rank")
    }

  private def write(df: DataFrame, dir: Path): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)

  def run(ctx: Ctx): Unit = {
    val main = ctx.runDir.resolve("data/main").toString
    val idx = ctx.runDir.resolve("ann/main")
    val out = ctx.runDir.resolve("out")
    val spark = Common.session(ctx, crawl = false)
    ctx.span("setup.ann_build")(buildAnn(spark, main, idx))
    ctx.res.metrics("setup_s") = Common.sinceProcessStart()

    val walls = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val t0 = System.nanoTime()
    val (gc0, cpu0) = (Common.gcSeconds(), Common.cpuSeconds())
    var passes = 0
    ctx.span("queries.timed") {
      while (passes < 1 ||
        (passes < MaxPasses && (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
        names.foreach { q =>
          ctx.res.attempted += 1
          try walls(q) += Common.time(ctx.span(s"SparkEntry.$q")(write(query(spark, q, main, idx), out.resolve(q))))._2
          catch {
            case e: Throwable =>
              ctx.res.failed += 1
              errors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          }
        }
        passes += 1
      }
    }
    val (gcS, cpuS) = (Common.gcSeconds() - gc0, Common.cpuSeconds() - cpu0)
    val medians = walls.collect { case (q, ws) if ws.nonEmpty => q -> Common.median(ws.toSeq) }
    ctx.res.metrics("throughput_per_s") = medians.size / medians.values.sum
    ctx.res.metrics("unit_geomean_s") = Common.geomean(medians.values.toSeq)
    ctx.res.metrics("cpu_s_per_unit") = cpuS / (passes * names.size)
    ctx.res.metrics("heap_live_mb") = Common.heapLiveMb()
    if (ctx.traced) {
      Layers.listenerMetrics(ctx, "queries.timed", passes * names.size, gcS)
      CrawlWorkload.fixture(ctx, spark)
      Layers.kernels(ctx, spark)
    }
    Files.writeString(out.resolve("oracle_sql.json"), SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    ctx.res.extra("passes") = passes.toString
    ctx.res.extra("query_s") = medians.map { case (q, s) => s"${Json.str(q)}: ${Json.num(s)}" }
      .mkString("{", ", ", "}")
    ctx.res.extra("query_errors") = errors.map { case (q, e) => s"${Json.str(q)}: ${Json.str(e)}" }
      .mkString("{", ", ", "}")
  }
}
