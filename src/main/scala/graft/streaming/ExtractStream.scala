package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.job.{ExtractJob, Partitioning}

/** Structured Streaming ingestion variant (SURVEY.md §7.5 — an
  * extension beyond the reference capability, which is batch-only):
  * file-source readStream → the SAME per-row extraction transform →
  * partitioned parquet sink with checkpointing. Plus watermarked
  * event-time metrics and a keyed-state dedup, demonstrating the
  * streaming operator surface (watermark/window/flatMapGroupsWithState).
  *
  * ==Schema migration (r3 `warn` column; ADVICE r3 #2)==
  * `StreamExtracted` gained the nullable `warn` column in r3. A file
  * sink + checkpoint pair created by a pre-r3 build carries the old
  * schema; restarting on it with this build would mix schemas in the
  * sink. Operate it like any streaming schema change: start a FRESH
  * checkpointDir + outDir for new data, and read the combined history
  * with `Tables.readExtracted` (explicit schema → old files surface
  * `warn = null`). Batch-side resume is unaffected: the batch job never
  * reads its output table back (lineage counts come from the write's
  * own tasks), and lineage rows are schema-stable.
  */
object ExtractStream {

  /** Streaming output row (carries event time for windowed metrics). */
  final case class StreamExtracted(
      bucket: Int, url: String, kind: String, text: String,
      nUnits: Int, charCount: Int, bytesIn: Long, error: Option[String],
      warc_ts: java.sql.Timestamp, warn: Option[String] = None)

  /** Not private: Catalyst's generated SafeProjection must instantiate it. */
  final case class StreamIn(bucket: Int, url: String,
                            html: Array[Byte], warc_ts: java.sql.Timestamp)

  /** The streaming transform — identical extraction semantics to the
    * batch plan (same ExtractCtx), applied microbatch-wise.
    */
  def transform(spark: SparkSession, pages: DataFrame,
                spec: Partitioning.BucketSpec): Dataset[StreamExtracted] = {
    import spark.implicits._
    pages
      .withColumn("bucket", Partitioning.bucketCol(spec, col("url"), col("html")))
      .select(col("bucket"), col("url"), col("html"), col("warc_ts"))
      .as[StreamIn]
      .mapPartitions { it =>
        val ctx = new ExtractJob.ExtractCtx
        it.map { r =>
          val e = ctx.extract(graft.job.BucketedRow(r.bucket, r.url, r.html))
          StreamExtracted(e.bucket, e.url, e.kind, e.text, e.nUnits,
            e.charCount, e.bytesIn, e.error, r.warc_ts, e.warn)
        }
      }
  }

  /** Event-time extraction metrics: 1-hour tumbling windows on the
    * crawl timestamp with a 2-hour watermark (late rows dropped).
    */
  def windowedMetrics(ds: Dataset[StreamExtracted]): DataFrame =
    ds.withWatermark("warc_ts", "2 hours")
      .groupBy(window(col("warc_ts"), "1 hour"), col("kind"))
      .agg(count(lit(1)).as("nDocs"), sum("charCount").as("charsOut"))

  /** Cross-microbatch first-wins dedup by url via keyed state
    * (flatMapGroupsWithState) — recrawls of the same url are dropped.
    */
  def dedupByUrl(ds: Dataset[StreamExtracted]): Dataset[StreamExtracted] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.url)
      .flatMapGroupsWithState[Boolean, StreamExtracted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[StreamExtracted], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1) }
      }
  }

  /** Cross-microbatch dedup by CANONICAL url (r6): re-crawls that
    * differ only in tracking params / case / default ports / percent
    * encoding collapse ONLINE, using the same `Urls.canonicalize`
    * rules as the batch pipeline (x7). State is the crawl-scale
    * concern here: plain dropDuplicates keys grow forever on an
    * unbounded crawl stream, so this uses
    * `dropDuplicatesWithinWatermark` — re-crawls of one resource land
    * within the watermark horizon (crawlers revisit in bounded time)
    * and state older than the watermark is evicted.
    */
  def dedupByCanonicalUrl(ds: Dataset[StreamExtracted],
                          watermark: String = "2 hours"): DataFrame =
    ds.toDF()
      .withColumn("url_canon", graft.ops.Urls.canonicalize(org.apache.spark.sql.functions.col("url")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("url_canon")

  /** Per-microbatch operational metrics via `observe()`: doc/error/char
    * counts surface in every `StreamingQueryProgress.observedMetrics`
    * under "extract_metrics" — the streaming analogue of the batch
    * job's per-bucket lineage metrics (errors countable per batch, no
    * second pass, no extra action).
    */
  def withObservedMetrics(ds: Dataset[StreamExtracted]): Dataset[StreamExtracted] =
    ds.observe("extract_metrics",
      count(lit(1)).as("nDocs"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("nErr"),
      sum(col("charCount")).as("charsOut"))

  /** End-to-end stream: watch `inDir` for new corpus parquet, extract,
    * append to a bucket-partitioned parquet sink with checkpointing.
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpointDir: String, spec: Partitioning.BucketSpec): StreamingQuery = {
    val pages = spark.readStream
      .schema("url string, warc_ts timestamp, html binary, text string, lang string")
      .parquet(inDir)
    withObservedMetrics(transform(spark, pages, spec))
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .partitionBy("bucket")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
