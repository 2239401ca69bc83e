package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.CorpusGen
import graft.job.Span

/** A workload's inputs: `docs` consecutive generator documents (the
  * generator's default mix) from the docId range the seed selects.
  * `warmCalls` is the number of untimed calls before timing starts.
  */
final case class Workload(name: String, docs: Int, warmCalls: Int) {
  /** The k-th docId of the range the seed selects: seeds that differ
    * modulo 10007 give disjoint ranges, and a seed always gives the same
    * documents.
    */
  def docId(seed: Long, k: Long): Long = Math.floorMod(seed, 10007L) * docs + k
}

object Inputs {

  /** One generated document: the input row the program sees (url,
    * warc_ts, html, text, lang) plus its golden output.
    */
  final case class GenRow(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
                          text: String, lang: String,
                          expected_text: String, expected_spans: Seq[Span])

  /** Generation runs in this many equal slices; set-up reports the
    * median slice time times the slice count, so one co-tenant burst
    * during generation does not set the figure.
    */
  val Slices = 3

  private def generate(spark: SparkSession, w: Workload, seed: Long, slice: Int) = {
    import spark.implicits._
    val lo = w.docs.toLong * slice / Slices
    val hi = w.docs.toLong * (slice + 1) / Slices
    val parts = spark.sparkContext.defaultParallelism
    spark.range(lo, hi, 1, parts).mapPartitions { it =>
      it.map { k =>
        val g = CorpusGen.doc(w.docId(seed, k))
        GenRow(g.url, new java.sql.Timestamp(g.warcTsMicros / 1000L), g.payload, g.wetText,
          g.lang, g.expectedText, g.expectedSpans)
      }
    }
  }

  /** Appends slice `slice` to the corpus table (the program's input) and
    * the golden table (url, expected_text, expected_spans).
    */
  def extractSlice(spark: SparkSession, w: Workload, seed: Long, slice: Int,
                   corpusPath: String, goldenPath: String): Unit = {
    val g = generate(spark, w, seed, slice).persist()
    try {
      g.select("url", "warc_ts", "html", "text", "lang").write.mode("append").parquet(corpusPath)
      g.select("url", "expected_text", "expected_spans").write.mode("append").parquet(goldenPath)
    } finally g.unpersist(blocking = true)
  }

  /** Appends slice `slice` to the already-extracted (url, text) table.
    * The text is the golden text, which extraction reproduces byte for
    * byte; the extract-web workload checks exactly that.
    */
  def extractedSlice(spark: SparkSession, w: Workload, seed: Long, slice: Int,
                     extractedPath: String): Unit =
    generate(spark, w, seed, slice)
      .select(col("url"), col("expected_text").as("text"))
      .write.mode("append").parquet(extractedPath)

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)
}
