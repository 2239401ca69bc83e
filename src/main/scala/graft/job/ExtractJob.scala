package graft.job

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2
import graft.io.Tables
import graft.pdf.PdfExtractor
import graft.html.HtmlExtractor

/** The extraction job (SURVEY.md §2.1, §3.2): the Spark-native
  * re-expression of the reference's worker pool.
  *
  * Each wave (a bucket range) is written in one pass, two stages:
  *
  *   map:    SC1 scan → P1 bucket-salt → J2 resume-anti-join →
  *           M1 mapPartitions(extract) → X1 exchange hash(bucket)
  *   result: A1 per-bucket lineage counts → S1 bucketed write
  *
  * then S2 appends the wave's lineage rows as one small file. A run of
  * one wave is four Spark jobs: the input's schema read, the map stage,
  * the write, and the lineage append; a resumed run adds its lineage
  * reads.
  *
  * A1 lives in the write's result tasks because Spark applies a result
  * task's accumulator updates exactly once per partition, and drops
  * those of failed attempts; map-stage updates are applied again when a
  * lost shuffle output is recomputed. The counts therefore describe
  * exactly the rows the committed write holds, without caching the wave
  * or aggregating it a second time.
  *
  * Executed in `waves` so a failed wave resumes idempotently from the
  * lineage table (BASELINE.json:14 "resumable from checkpoint with
  * per-partition lineage + metrics").
  */
object ExtractJob {

  final case class Config(
      runId: String,
      inputPath: String,
      outputPath: String,
      lineagePath: String,
      spec: Partitioning.BucketSpec,
      waves: Int = 1,
      /** test hook: fail tasks of this bucket on lineage attempt 1 */
      failBucketOnce: Int = -1)

  /** Per-partition arena (SURVEY.md §4.3 batch amortization): one
    * Inflater for the whole partition.
    */
  final class ExtractCtx {
    private val inflater = new java.util.zip.Inflater()

    def extract(row: BucketedRow): ExtractedRow = {
      val t0 = System.nanoTime()
      val bytes = if (row.html == null) Array.empty[Byte] else row.html
      try {
        if (PdfExtractor.isPdf(bytes)) {
          val r = PdfExtractor.extract(bytes, inflater)
          ExtractedRow(row.bucket, row.url, "pdf", r.text, r.spans, r.nPages,
            r.text.length, bytes.length.toLong, ms(t0), None,
            if (r.warns.isEmpty) None else Some(r.warns.mkString(";")))
        } else {
          val r = HtmlExtractor.extract(bytes)
          ExtractedRow(row.bucket, row.url, "html", r.text, r.spans, r.nBlocks,
            r.text.length, bytes.length.toLong, ms(t0), None)
        }
      } catch {
        // NonFatal + StackOverflowError (fuzz-hardening: deep recursion on
        // hostile nesting) become per-row error records; VirtualMachineError
        // (OOM etc.) propagates so Spark fails + retries the task instead of
        // continuing on a possibly corrupted heap.
        case e: Throwable
            if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
          ExtractedRow(row.bucket, row.url, "error", "", Nil, 0, 0,
            bytes.length.toLong, ms(t0), Some(msg(e)))
      }
    }

    @inline private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L
    private def msg(e: Throwable): String = {
      val m = e.getMessage
      val s = if (m == null) e.getClass.getSimpleName else m
      if (s.length > 200) s.substring(0, 200) else s
    }
  }

  /** bucket → [nDocs, nOk, nErr, bytesIn, charsOut] of one wave, added
    * to row by row in the write's result tasks (see the header).
    */
  private final class BucketCounts extends AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]] {
    private val m = mutable.HashMap.empty[Int, Array[Long]]
    def add(v: (Int, Array[Long])): Unit = {
      val a = m.getOrElseUpdate(v._1, new Array[Long](5))
      for (i <- 0 until 5) a(i) += v._2(i)
    }
    def merge(o: AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]]): Unit =
      o.value.foreach(add)
    def isZero: Boolean = m.isEmpty
    def reset(): Unit = m.clear()
    def copy(): BucketCounts = { val c = new BucketCounts; c.merge(this); c }
    def value: Map[Int, Array[Long]] = m.toMap
  }

  /** Build the logical plan: scan → prune → bucket → anti-join done →
    * typed extract (MAP-SIDE) → repartition(bucket). Pure (no side
    * effects) — this is what SparkEntry.entry exposes and what tests
    * assert plans on.
    *
    * Extraction runs BEFORE the shuffle: parquet scan splits are
    * byte-uniform (spark.sql.files.maxPartitionBytes), and extraction
    * cost is ∝ payload bytes, so map-side extraction is naturally
    * skew-balanced; the url-hash bucket shuffle then moves only the
    * EXTRACTED rows (10–20× smaller than raw payloads on real web
    * corpora) to align the partitioned, resumable write. The bucket is
    * a pure function of (url, payload size) computed before extraction,
    * so the resume anti-join still prunes done buckets without paying
    * for their extraction.
    *
    * The exchange hashes on `bucket` into spark.sql.shuffle.partitions
    * partitions (AQE may coalesce small ones), not one per bucket: every
    * row of a bucket still lands in one task, so a wave writes one file
    * per bucket, but the number of write tasks no longer follows the
    * bucket count, most of which may be empty in a wave.
    */
  def plan(spark: SparkSession, input: DataFrame, doneBuckets: DataFrame,
           spec: Partitioning.BucketSpec, failBucket: Int = -1): Dataset[ExtractedRow] = {
    import spark.implicits._
    // prune BEFORE the typed boundary: column pruning does not reach
    // through mapPartitions (SURVEY.md §4.2)
    val pruned = input
      .withColumn("bucket", Partitioning.bucketCol(spec, col("url"), col("html")))
      .select(col("bucket"), col("url"), col("html"))
    val todo =
      if (doneBuckets == null) pruned
      else pruned.join(broadcast(doneBuckets), Seq("bucket"), "left_anti")
    todo
      .as[BucketedRow]
      .mapPartitions { it =>
        val ctx = new ExtractCtx
        it.map { row =>
          if (failBucket >= 0 && row.bucket == failBucket)
            throw new RuntimeException(s"injected failure for bucket ${row.bucket}")
          ctx.extract(row)
        }
      }
      .repartition(col("bucket"))
  }

  final case class RunReport(attempt: Int, bucketsDone: Seq[Int], nDocs: Long,
                             nOk: Long, nErr: Long)

  /** Execute with resume + lineage. Each wave runs `plan`, counts its
    * rows per bucket in the write's result tasks, writes its buckets via
    * dynamic partition overwrite, then appends one `done` lineage row
    * per written bucket; a rerun anti-joins those buckets away. A row's
    * `startedAt..finishedAt` spans its wave's write. Without a lineage
    * table this is attempt 1 with nothing done, and no lineage query
    * runs.
    */
  def run(spark: SparkSession, cfg: Config): RunReport = {
    import spark.implicits._
    val input = Tables.read(spark, cfg.inputPath)

    val (attempt, prevDone) =
      if (!Tables.exists(spark, cfg.lineagePath)) (1, null)
      else {
        val mine = Tables.read(spark, cfg.lineagePath).filter(col("runId") === cfg.runId)
        val row = mine.agg(max(col("attempt"))).collect()(0)
        ((if (row.isNullAt(0)) 0 else row.getInt(0)) + 1,
          mine.filter(col("status") === "done").select("bucket").distinct())
      }
    val failBucket = if (cfg.failBucketOnce >= 0 && attempt == 1) cfg.failBucketOnce else -1

    val rows = (0 until cfg.waves).flatMap { w =>
      val waveInput = input.filter(
        pmod(Partitioning.bucketCol(cfg.spec, col("url"), col("html")), lit(cfg.waves)) === w)
      val counts = new BucketCounts
      spark.sparkContext.register(counts, s"lineage ${cfg.runId} wave $w")
      // A1: a pass-through of `bucket` after the exchange, so it runs in
      // the write's result tasks; nondeterministic, so the optimizer
      // neither moves nor drops it
      val tally = udf { (bucket: Int, ok: Boolean, bytesIn: Long, charsOut: Int) =>
        val n = if (ok) 1L else 0L
        counts.add((bucket, Array(1L, n, 1L - n, bytesIn, charsOut.toLong)))
        bucket
      }.asNondeterministic()
      val counted = plan(spark, waveInput, prevDone, cfg.spec, failBucket).toDF()
        .withColumn("bucket",
          tally(col("bucket"), col("error").isNull, col("bytesIn"), col("charCount")))
      val startedAt = System.currentTimeMillis()
      Tables.writeBucketed(counted, cfg.outputPath)
      val finishedAt = System.currentTimeMillis()
      val waveRows = counts.value.toSeq.sortBy(_._1).map { case (b, c) =>
        PartitionLineage(cfg.runId, b, "done", c(0), c(1), c(2), c(3), c(4),
          startedAt, finishedAt, attempt)
      }
      if (waveRows.nonEmpty)
        Tables.append(spark.createDataset(waveRows).toDF().coalesce(1), cfg.lineagePath)
      waveRows
    }
    RunReport(attempt, rows.map(_.bucket), rows.map(_.nDocs).sum, rows.map(_.nOk).sum,
      rows.map(_.nErr).sum)
  }

  /** spark-submit entry point (SURVEY.md §3.2). */
  def main(args: Array[String]): Unit = {
    val Array(runId, in, out, lineagePath) = args.take(4)
    val spark = SparkSession.builder()
      .appName(s"graft-extract-$runId")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val spec = Partitioning.defaultSpec(Partitioning.masterCores(spark.sparkContext, 8))
    val cfg = Config(runId, in, out, lineagePath, spec,
      waves = args.lift(4).map(_.toInt).getOrElse(1))
    val report = run(spark, cfg)
    println(s"run=$runId attempt=${report.attempt} buckets=${report.bucketsDone.size} " +
      s"docs=${report.nDocs} ok=${report.nOk} err=${report.nErr}")
    spark.stop()
  }
}
