package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.job.CorpusPipeline
import graft.ops.{Dedup, TextAnalysis, Urls}

/** The curate workload: `CorpusPipeline.run` over an already-extracted
  * (url, text) table with planted republications. A call is complete when
  * the stage counts are collected and the kept set has gone to the noop
  * sink.
  */
object CurateBench {

  def run(spark: SparkSession, o: Opts, w: Workload, sessionS: Double): Outcome = {
    val base = s"${o.work}/extracted"
    val input = s"${o.work}/curate-input"
    val sliceS = (0 until Inputs.Slices).map(i =>
      Measure.wall(Inputs.extractedSlice(spark, w, o.seed, i, base)))
    var nInput = 0L
    val prepS = Measure.wall {
      CorpusPipeline.plantRepublications(Inputs.read(spark, base)).write.parquet(input)
      nInput = Inputs.read(spark, input).count()
    }
    val inputUrls = Inputs.read(spark, input).select("url")
    val stats = if (o.trace) Some(new SparkStats(spark.sparkContext)) else None
    var checked = 0
    var failures = 0L
    var last: (CorpusPipeline.Result, Map[String, Long]) = null

    def once(check: Boolean): (Rep, Option[Window]) = {
      stats.foreach(_.reset())
      val (res, rep) = Measure.timed {
        val r = CorpusPipeline.run(Inputs.read(spark, input))
        val stages = r.stages.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        r.kept.write.format("noop").mode("overwrite").save()
        (r, stages)
      }
      val win = stats.map(_.window())
      if (check) {
        failures += checkKept(res._1.kept, inputUrls)
        checked += 1
      }
      last = res
      (rep, win)
    }

    // the first warm-up call's output is checked, and every timed call's
    val warmS = Warmup.run(w.warmCalls)(n => once(check = n == 0)._1.wallS)
    val setupS = Measure.setup(sessionS, sliceS, prepS, warmS)
    val reps = Measure.loop(o.seconds, 3)(once(check = true))

    val layer =
      if (!o.trace) Map.empty[String, Double]
      else {
        val wins = reps.flatMap(_._2)
        val (res, stages) = last
        Map(
          "curate.spark_jobs" -> Measure.median(wins.map(_.jobs.toDouble)),
          "curate.shuffle_mb" -> Measure.median(wins.map(_.shuffleWriteMb)),
          "curate.neardup_rounds" -> res.neardupRounds.toDouble,
          "curate.kept_frac" -> stages("5_neardup_kept").toDouble / stages("1_input")) ++
          stages.map { case (k, v) => s"curate.rows.$k" -> v.toDouble } ++
          ops(spark, Inputs.read(spark, input))
      }
    stats.foreach(_.close())

    val attempted = checked * nInput
    val metrics =
      if (o.trace) layer + ("failed_frac" -> failures.toDouble / attempted)
      else Map(
        "setup_s" -> setupS,
        "docs_per_sec" -> nInput / Measure.median(reps.map(_._1.wallS)),
        "cpu_s_per_kdoc" -> Measure.median(reps.map(_._1.cpuS)) / nInput * 1000.0,
        "peak_rss_mb" -> Measure.peakRssMb())
    Outcome(failures == 0, attempted, failures, metrics)
  }

  /** Kept rows that break an invariant: a canonical url or md5(text)
    * that appears twice among kept rows, or a url not in the input.
    */
  private def checkKept(kept: DataFrame, inputUrls: DataFrame): Long = {
    def repeats(key: Column): Long = {
      val r = kept.groupBy(key.as("k")).count().filter(col("count") > 1)
        .agg(sum(col("count") - 1)).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    repeats(Urls.canonicalize(col("url"))) + repeats(md5(col("text"))) +
      kept.select("url").join(inputUrls, Seq("url"), "left_anti").count()
  }

  /** The pipeline's stage operators called on their own over the same
    * input, each to the noop sink (median of three calls), with the
    * pipeline's own parameters.
    */
  private def ops(spark: SparkSession, in: DataFrame): Map[String, Double] = {
    def med(f: => Unit) = Measure.median((0 until 3).map(_ => Measure.wall(f)))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val docs = in.select(col("url").as("doc_id"), col("text"))
    def pairs() = Dedup.minhashPairs(docs, 5, 32, 8, 0.5, Dedup.DefaultMaxBandBucket,
      wordGrams = true, checkpoint = identity).localCheckpoint()
    val p = pairs()
    Map(
      "ops.quality_s" -> med(noop(in.filter(
        TextAnalysis.qualityReason(col("text"), 5L, 10000000L, 0.3, 0.0) === "0_kept"))),
      "ops.url_canon_s" -> med(noop(in.select(Urls.canonicalize(col("url"))))),
      "ops.minhash_pairs_s" -> med(pairs()),
      "ops.clusters_s" -> med(noop(Dedup.nearDupClustersStatus(p, 10)._1)),
      "ops.candidate_pairs" -> p.count().toDouble)
  }
}
