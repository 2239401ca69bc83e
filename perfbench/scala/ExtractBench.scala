package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.job.{ExtractJob, Partitioning}

/** The extract workload: `ExtractJob.run` over the generated corpus,
  * its outputs checked against the generator's golden rows.
  */
object ExtractBench {

  /** Fixed sample of the corpus for the traced run's single-thread
    * layer passes.
    */
  private val SampleSize = 3000

  def run(spark: SparkSession, o: Opts, w: Workload, sessionS: Double): Outcome = {
    val corpus = s"${o.work}/corpus"
    val goldenPath = s"${o.work}/golden"
    val sliceS = (0 until Inputs.Slices).map(i =>
      Measure.wall(Inputs.extractSlice(spark, w, o.seed, i, corpus, goldenPath)))
    var golden: DataFrame = null
    var sample: IndexedSeq[Array[Byte]] = null
    val prepS = Measure.wall {
      golden = Inputs.read(spark, goldenPath).cache()
      require(golden.count() == w.docs, "golden table is incomplete")
      sample = Tables.read(spark, corpus).orderBy(xxhash64(col("url"))).limit(SampleSize)
        .select("html").collect().map(_.getAs[Array[Byte]](0)).toIndexedSeq
    }
    val nproc = spark.sparkContext.defaultParallelism
    val spec = Partitioning.defaultSpec(nproc)
    val stats = if (o.trace) Some(new SparkStats(spark.sparkContext)) else None
    var calls = 0
    var checked = 0
    var failures = 0L

    /** One ExtractJob.run into fresh output and lineage tables. */
    def once(check: Boolean): (Rep, Option[Window]) = {
      val dir = s"${o.work}/run$calls"
      val cfg = ExtractJob.Config(s"bench-$calls", corpus, s"$dir/out", s"$dir/lineage", spec)
      calls += 1
      stats.foreach(_.reset())
      val (report, rep) = Measure.timed(ExtractJob.run(spark, cfg))
      val win = stats.map(_.window())
      if (check) {
        failures += checkOutput(spark, golden, s"$dir/out", w.docs) + math.abs(report.nDocs - w.docs)
        checked += 1
      }
      Measure.deleteTree(dir)
      (rep, win)
    }

    // the first warm-up call's output is checked, and every timed call's
    val warmS = Warmup.run(w.warmCalls)(n => once(check = n == 0)._1.wallS)
    val setupS = Measure.setup(sessionS, sliceS, prepS, warmS)
    val reps = Measure.loop(o.seconds, 3)(once(check = true))
    val docsPerSec = w.docs / Measure.median(reps.map(_._1.wallS))

    val (layerMetrics, layerFailures, layerDocs) =
      if (o.trace) traced(spark, o, corpus, sample, reps.flatMap(_._2), docsPerSec)
      else (Map.empty[String, Double], 0L, 0L)
    stats.foreach(_.close())

    val attempted = checked.toLong * w.docs + layerDocs
    val failed = failures + layerFailures
    val metrics =
      if (o.trace) layerMetrics + ("failed_frac" -> failed.toDouble / attempted)
      else Map(
        "setup_s" -> setupS,
        "docs_per_sec" -> docsPerSec,
        "cpu_s_per_kdoc" -> Measure.median(reps.map(_._1.cpuS)) / w.docs * 1000.0,
        "peak_rss_mb" -> Measure.peakRssMb())
    Outcome(failed == 0, attempted, failed, metrics)
  }

  /** Output rows that are missing, extra, error rows, or whose text or
    * spans differ from the golden row of the same url.
    */
  private def checkOutput(spark: SparkSession, golden: DataFrame, out: String, docs: Int): Long = {
    val got = Tables.readExtracted(spark, out).select("url", "text", "spans", "error")
    val bad = col("expected_text").isNull || col("text").isNull || col("error").isNotNull ||
      col("text") =!= col("expected_text") || col("spans") =!= col("expected_spans")
    val r = golden.join(got, Seq("url"), "full_outer")
      .agg(sum(when(bad, 1L).otherwise(0L)), count(col("text"))).first()
    r.getLong(0) + math.max(0L, r.getLong(1) - docs)
  }

  /** Per-layer metrics of the traced run; returns them with the failures
    * and documents of the attribution check.
    */
  private def traced(spark: SparkSession, o: Opts, corpus: String,
                     sample: IndexedSeq[Array[Byte]], wins: Seq[Window],
                     docsPerSec: Double): (Map[String, Double], Long, Long) = {
    def med(f: Window => Double) = Measure.median(wins.map(f))
    val extractStages = wins.flatMap(_.extractStage)
    val skew = extractStages.map { s =>
      s.runTimesMs.max.toDouble / math.max(1.0, Measure.median(s.runTimesMs.map(_.toDouble).toSeq))
    }
    val job = Map(
      "job.spark_jobs" -> med(_.jobs.toDouble),
      "job.spark_stages" -> med(_.stagesRun.toDouble),
      "job.tasks" -> med(_.tasks.toDouble),
      "job.extract_task_s" -> Measure.median(extractStages.map(_.runTimeS)),
      "job.extract_task_skew" -> Measure.median(skew),
      "job.shuffle_write_mb" -> med(_.shuffleWriteMb),
      "job.shuffle_fetch_wait_ms" -> med(_.fetchWaitMs),
      "job.gc_ms" -> med(_.gcMs),
      "job.spill_mb" -> med(_.spillMb),
      "io.write_task_s" -> med(_.writeTaskS),
      "io.scan_s" -> Measure.median((0 until 3).map(_ => Measure.wall(
        Tables.read(spark, corpus).select("url", "html")
          .write.format("noop").mode("overwrite").save()))))

    val lp = LayerPasses.run(sample)
    lp.spans.write(o.traceOut)
    val nproc = spark.sparkContext.defaultParallelism
    val kernel = Map(
      "kernel.serial_docs_per_sec" -> lp.kernelDocsPerSec,
      "spark.efficiency" -> docsPerSec / (nproc * lp.kernelDocsPerSec))
    (job ++ kernel ++ lp.metrics, lp.mismatches + lp.attributionFailures, sample.size.toLong)
  }
}
