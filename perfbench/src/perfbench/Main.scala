package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * `perfbench/run.py` builds the engine from source and launches this
  * main with an isolated warehouse, tmpdir and checkpoint root under the
  * run's own work directory. The last line of stdout is the result
  * object; the line before it carries run details (sample counts, the
  * tail percentile, generator lateness) that the runner folds into its
  * provenance record.
  *
  * Args: workload seed seconds trace(0|1) dataDir workDir outDir
  */
object Main {

  /** Everything a workload needs from the run. */
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
      trace: Boolean, dataDir: String, workDir: File) {
    def documents = spark.read.parquet(s"$dataDir/documents.parquet")
    def embeddings = spark.read.parquet(s"$dataDir/embeddings.parquet")
    def dir(name: String): File = { val d = new File(workDir, name); d.mkdirs(); d }
  }

  /** A workload's outcome. `metrics` are (name, value, unit). */
  final case class Result(attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], info: Map[String, Any],
      spans: Seq[Trace.Span] = Nil)

  /** The end-to-end metrics every untraced run prints. */
  val EndToEnd = Seq("setup_s", "latency_p50_ms", "latency_tail_ms",
    "throughput_per_s", "recall_at_10")

  /** The per-layer metrics every traced run prints (BENCHMARK.json's
    * `per_layer`). A layer the workload leaves idle reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.offset_ms" -> "ms", "sources.backlog_max" -> "count",
    "sources.publish_us" -> "us",
    "streaming.trigger_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.addbatch_ms" -> "ms",
    "streaming.rows_per_batch" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.state_commit_ms" -> "ms",
    "pipeline.enrich_us_per_post" -> "us", "pipeline.sentiment_us_per_post" -> "us",
    "pipeline.topic_us_per_post" -> "us", "pipeline.gate_pass_share" -> "ratio",
    "pipeline.single_core_posts_per_s" -> "1/s",
    "operators.LexIndex.probe_ms" -> "ms", "operators.AnnIndex.probe_ms" -> "ms",
    "operators.KnnGraphIndex.probe_ms" -> "ms",
    "operators.HybridRetrieval.fuse_ms" -> "ms",
    "operators.HybridRetrieval.recall_at_10" -> "ratio",
    "operators.jobs_per_query" -> "count", "operators.tasks_per_query" -> "count",
    "operators.bytes_read_per_query" -> "bytes", "operators.driver_gap_ms" -> "ms",
    "operators.LexIndex.append_ms" -> "ms", "operators.AnnIndex.append_ms" -> "ms",
    "operators.KnnGraphIndex.append_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB", "trace.overhead_ms" -> "ms",
    "trace.overhead_share" -> "ratio")

  val Workloads: Map[String, Ctx => Result] = Map(
    "enrich_stream" -> (EnrichStream.run _),
    "hybrid_serve" -> (HybridServe.run _))

  /** The engine's bench session conf (graft.Bench), sized to the host. */
  def session(cores: Int, workDir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(workDir, "local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(workDir, "checkpoints").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, work, out) = args
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; " +
        s"expected one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val workDir = new File(work)
    val outDir = new File(out)
    outDir.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, workDir)
    log(s"session up on local[$cores]")
    val ctx = Ctx(spark, seed.toLong, seconds.toInt, trace == "1", dataDir, workDir)
    val r = try run(ctx) finally {
      // streaming queries are stopped by the workload; this releases
      // the context's threads before the JVM exits
      if (!spark.sparkContext.isStopped) spark.stop()
    }
    val named = r.metrics.map(_._1).toSet
    val metrics =
      if (ctx.trace) r.metrics ++ PerLayer.filterNot(m => named(m._1)).map(m => (m._1, 0.0, m._2))
      else {
        val missing = EndToEnd.filterNot(named)
        require(missing.isEmpty, s"$workload did not report ${missing.mkString(", ")}")
        r.metrics
      }
    val tag = s"$workload-seed$seed-trace$trace"
    if (r.spans.nonEmpty) Trace.write(new File(outDir, s"$tag.spans.jsonl"), r.spans)
    val info = r.info ++ Map(
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.runtime.version"),
      "cores" -> cores,
      "spans" -> r.spans.size)
    println(Json.obj(Map("info" -> info)))
    println(Json.obj(Map(
      "correct" -> (r.failed == 0 && r.attempted > 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def writeText(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
}

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis estimate of the q-quantile: a weighted mean of all
    * order statistics, with Beta((n+1)q, (n+1)(1-q)) weights. The
    * latency metrics use it because hybrid_serve has 14 samples from
    * four request kinds; there the plain median is one or two order
    * statistics in the gap between two kinds. Over two sets of ten
    * seeds its quartile spread was 0.13 and 0.25 of the median, against
    * 0.08 and 0.16 for this estimate on the same runs. */
  def hd(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      (n + 1) * q, (n + 1) * (1 - q))
    val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** The tail percentile every workload reports. enrich_stream's ~270
    * latency samples leave at least ten beyond it; hybrid_serve's 14
    * requests cannot, and the README states their counts. One fixed
    * percentile keeps runs comparable. */
  val Tail = 0.9

  def ms(ns: Long): Double = ns / 1e6
}

/** Minimal JSON writer for the result lines. */
object Json {
  def obj(m: Map[String, Any]): String = value(m)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}: ${value(x)}" }
        .sortBy(identity).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
