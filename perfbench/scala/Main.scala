package perfbench

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, traceOut: String)

/** What a run reports: documents attempted, how many of them failed the
  * output check, and its metrics by name (unit in `Metrics`).
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Map[String, Double])

/** Metric names and units. The untraced run prints `EndToEnd`, the traced
  * run `PerLayer`; a layer a workload does not exercise reads 0.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_sec" -> "1/s", "cpu_s_per_kdoc" -> "s",
    "peak_rss_mb" -> "MB")

  private val curateStages =
    Seq("1_input", "2_quality_kept", "3_url_canon_dedup", "4_exact_dedup", "5_neardup_kept")

  val PerLayer: Seq[(String, String)] = Seq(
    "failed_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio", "trace.layer_sum_frac" -> "ratio",
    "trace.mismatches" -> "count", "trace.spans" -> "count",
    "pdf.xref_ms" -> "ms", "pdf.pagetree_ms" -> "ms", "pdf.fonts_ms" -> "ms",
    "pdf.decode_ms" -> "ms", "pdf.interp_ms" -> "ms",
    "pdf.docs" -> "count", "pdf.pages" -> "count", "pdf.content_bytes" -> "count",
    "pdf.fonts_loaded" -> "count", "pdf.chars_out" -> "count",
    "html.decode_ms" -> "ms", "html.tokenize_ms" -> "ms", "html.tree_ms" -> "ms",
    "html.classify_ms" -> "ms",
    "html.docs" -> "count", "html.blocks" -> "count", "html.blocks_kept" -> "count",
    "kernel.serial_docs_per_sec" -> "1/s", "spark.efficiency" -> "ratio",
    "job.spark_jobs" -> "count", "job.spark_stages" -> "count", "job.tasks" -> "count",
    "job.extract_task_s" -> "s", "job.extract_task_skew" -> "ratio",
    "job.shuffle_write_mb" -> "MB", "job.shuffle_fetch_wait_ms" -> "ms",
    "job.gc_ms" -> "ms", "job.spill_mb" -> "MB",
    "io.write_task_s" -> "s", "io.scan_s" -> "s",
    "curate.spark_jobs" -> "count", "curate.shuffle_mb" -> "MB") ++
    curateStages.map(s => s"curate.rows.$s" -> "count") ++ Seq(
    "curate.neardup_rounds" -> "count", "curate.kept_frac" -> "ratio",
    "ops.quality_s" -> "s", "ops.url_canon_s" -> "s", "ops.minhash_pairs_s" -> "s",
    "ops.clusters_s" -> "s", "ops.candidate_pairs" -> "count")
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --trace-out <file>`; prints one JSON object as the last
  * line of stdout and exits 1 if any output failed its check.
  */
object Main {

  val Workloads: Map[String, Workload] = Seq(
    Workload("extract-web", docs = 10000, warmCalls = 5),
    Workload("curate", docs = 1000, warmCalls = 3)
  ).map(w => w.name -> w).toMap

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument: ${a.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("work"), get("trace-out"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  private def json(o: Outcome, names: Seq[(String, String)]): String = {
    val unknown = o.metrics.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics not declared: $unknown")
    val ms = names.map { case (n, u) =>
      val v = o.metrics.getOrElse(n, 0.0)
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job's record up to these limits; a
      // run's few hundred jobs would otherwise grow the heap call by call
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Measure.sinceJvmStart()
    val w = Workloads(o.workload)
    val out =
      try {
        if (w.name == "curate") CurateBench.run(spark, o, w, sessionS)
        else ExtractBench.run(spark, o, w, sessionS)
      } finally spark.stop()
    println(json(out, if (o.trace) Metrics.PerLayer else Metrics.EndToEnd))
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}
