package graft.job

/** Core row types of the extraction pipeline.
  *
  * Schemas per SURVEY.md §1.2–1.3 (input shape authoritative per
  * BASELINE.json:15; reference checkout is empty, see SURVEY.md §0).
  */

/** Input row: Common-Crawl-style web page (BASELINE.json:15).
  * `html` carries raw HTML bytes OR PDF bytes (dispatch on `%PDF-` magic).
  */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** A character range [start, end) into `ExtractedRow.text`.
  * `page`: 0-based PDF page index, or HTML kept-block index.
  * `kind`: "pdf-text" | "html-block" | "html-title".
  */
final case class Span(start: Int, end: Int, page: Int, kind: String)

/** Pruned + bucketed input of the typed transform (M1). */
final case class BucketedRow(bucket: Int, url: String, html: Array[Byte])

/** Output row of the extractor (SURVEY.md §1.3), carrying its bucket
  * (written partitioned). `bytesIn` lets lineage count input bytes from
  * output rows, with no input re-scan.
  */
final case class ExtractedRow(
    bucket: Int,
    url: String,
    kind: String, // "pdf" | "html" | "error"
    text: String,
    spans: Seq[Span],
    nUnits: Int, // pages (pdf) / kept blocks (html)
    charCount: Int,
    bytesIn: Long,
    parseMillis: Long,
    error: Option[String],
    /** Non-fatal per-font degradation tags (';'-joined), e.g. a muted
      * unsupported-cmap font whose shows were skipped while the rest of
      * the document extracted fine. Countable like `error`, but the row
      * still carries text (no-silent-caps rule).
      */
    warn: Option[String] = None)

/** Checkpoint/lineage row, appended per completed bucket (SURVEY.md §1.3).
  * Resume anti-joins input buckets against `status = "done"` rows.
  */
final case class PartitionLineage(
    runId: String,
    bucket: Int,
    status: String,
    nDocs: Long,
    nOk: Long,
    nErr: Long,
    bytesIn: Long,
    charsOut: Long,
    startedAt: Long,
    finishedAt: Long,
    attempt: Int)

/** Canonical text-assembly constants — THE determinism contract
  * (SURVEY.md Appendix A). The corpus generator (graft.gen) and the
  * extractors (graft.pdf / graft.html) both compile against these; the
  * golden-corpus byte-identity gate only holds while they agree.
  */
object Assembly {
  /** A horizontal text-space gap g (already Tz-scaled) emits exactly one
    * space iff g >= SpaceGapEm * Tfs.
    */
  val SpaceGapEm = 0.18

  /** A line-advance with effective dy < -LineBreakEm * Tfs emits '\n'. */
  val LineBreakEm = 0.5

  /** dy < -ParaBreakEm * Tfs emits a paragraph break "\n\n". */
  val ParaBreakEm = 1.8

  /** Joiner between PDF pages / HTML kept blocks. */
  val UnitJoin = "\n\n"
}
