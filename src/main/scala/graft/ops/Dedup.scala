package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id, text, ...)` table —
  * the training-data-pipeline ops a 100 TB corpus job needs. All pure
  * DataFrame/Catalyst (codegen'd built-ins, no UDFs): minhash banding is
  * a shuffle-on-band-key join, the scalable shape for cluster runs.
  */
object Dedup {

  /** Default per-(band,sig) bucket cap for the MinHash and SimHash
    * pair ops (the skew guard itself is documented once, in `Lsh`).
    * 1024 caps a bucket's pair count at ~512k (bounded reducer work)
    * while being far above any honest near-dup family the banding
    * should resolve pairwise; bigger families belong to clustering, not
    * pair output. Over-cap drops are reported by the band-stats ops.
    */
  val DefaultMaxBandBucket = 1024

  /** Exact dedup: hash-groupBy on content digest. Returns one row per
    * duplicate group with the canonical (min) doc_id and group size.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_dups") > 1)
      .orderBy(col("content_hash"))

  /** Character k-shingles of `text` as an array column (distinct).
    *
    * Semantics = `array_distinct(transform(sequence(0, greatest(len-k,
    * 0)), i -> substring(text, 1+i, k)))` — the formula the DuckDB
    * oracles mirror — but computed by the single-pass `CharShingles`
    * expression: the HOF formulation re-evaluates `substring` (an
    * O(position) UTF-8 scan) per shingle, i.e. O(len²) per document
    * (r6; ShingleExpressions.scala). Equivalence is asserted in
    * DedupSpec.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.GraftFunctions.charShingles(text, k)

  /** MinHash signatures: H independent permutations approximated by
    * seeded xxhash64, all H minima from one per-row kernel pass.
    *
    * `wordGrams = false` (default) shingles CHARACTERS — fine-grained,
    * right for the short-document fixtures and the DuckDB-oracled
    * twins. `wordGrams = true` uses word k-grams instead: a document of
    * W words explodes to ~W gram rows versus ~(bytes) char-shingle rows
    * — an order of magnitude fewer rows on real extracted web text
    * (tens of KB/doc), which is the standard crawl-scale minhash unit
    * and the shape `CorpusPipeline` runs at 100 TB.
    */
  def minhash(docs: DataFrame, k: Int = 5, numHashes: Int = 32,
              wordGrams: Boolean = false): DataFrame =
    Lsh.signatures(Lsh.XxHash64(wordGrams), docs, k, numHashes)
      .select(col("doc_id") +:
        (0 until numHashes).map(h => col("sig_arr")(h).as(s"mh_$h")): _*)

  /** LSH banding: split the signature into `bands`, hash each band,
    * self-join on (band, band_hash) → candidate pairs, then score by
    * signature agreement (estimated Jaccard). Join key is the band
    * bucket — co-partitioned, no cross join anywhere. Pairs come back
    * unordered (doc_a < doc_b); a presentation sort belongs to the
    * caller.
    *
    * The bucket table is materialized once through the `checkpoint`
    * seam: it feeds THREE consumers — the guard's size aggregate and
    * both sides of the self-join — and without the cut each consumer
    * re-runs the whole shingle+signature pipeline (ReuseExchange only
    * unifies the two identical join sides, not the differently-shaped
    * size aggregate). Bucket level, not signature level, by
    * measurement: materializing sigs and re-deriving band keys per
    * consumer read ~25% slower despite the bands× smaller checkpoint.
    * The right choice is INPUT-dependent — the bucket table carries the
    * signature bands× over, so when the input frame is ALREADY
    * materialized one op upstream, recomputing the (single-pass,
    * projection-only) signature per consumer beats storing those bytes:
    * at 231k pipeline docs, `identity` here measured 22.5 s vs 35.6 s
    * checkpointed (CorpusPipeline passes identity for exactly that
    * reason). The default, `Lineage.cut`, serves the standalone case
    * (raw scan upstream), where the cut wins 2-3×. This is the only
    * seam left that a caller may set to `identity`: a bucket table cut
    * is an optimization, never a lineage bound (nothing iterates here).
    */
  def minhashPairs(docs: DataFrame, k: Int = 5, numHashes: Int = 32,
                   bands: Int = 8, minEstJaccard: Double = 0.5,
                   maxBandBucket: Int = DefaultMaxBandBucket,
                   wordGrams: Boolean = false,
                   checkpoint: DataFrame => DataFrame = Lineage.cut): DataFrame =
    Lsh.minhashPairs(Lsh.XxHash64(wordGrams), docs, k, numHashes, bands,
      minEstJaccard, maxBandBucket, checkpoint)

  /** Per-band bucket stats of the production minhash LSH (d8, d2's
    * guard observability): buckets, max size, and what `maxBandBucket`
    * drops.
    */
  def minhashBandStats(docs: DataFrame, k: Int = 5, numHashes: Int = 32,
                       bands: Int = 8,
                       maxBandBucket: Int = DefaultMaxBandBucket): DataFrame =
    Lsh.bucketStats(Lsh.minhashBuckets(Lsh.XxHash64(), docs, k, numHashes, bands),
      "band", "sig", maxBandBucket)

  /** `minhashPairs` on the portable md5 family (d6/d9): the format the
    * DuckDB oracles check (VERDICT r2 next-round #5 — xxhash64 blocked d2
    * from independent checking). d2 stays the production path: xxhash64
    * is codegen'd and ~an order of magnitude cheaper than md5 per
    * shingle.
    */
  def minhashPairsPortable(docs: DataFrame, k: Int = 5, numHashes: Int = 16,
                           bands: Int = 4, minEstJaccard: Double = 0.5,
                           maxBandBucket: Int = DefaultMaxBandBucket): DataFrame =
    Lsh.minhashPairs(Lsh.Md5, docs, k, numHashes, bands, minEstJaccard,
      maxBandBucket, Lineage.cut)

  /** `minhashBandStats` on the portable md5 family — d7: the cap's
    * accounting itself under the DuckDB oracle.
    */
  def minhashBandStatsPortable(docs: DataFrame, k: Int = 5, numHashes: Int = 16,
                               bands: Int = 4,
                               maxBandBucket: Int = DefaultMaxBandBucket): DataFrame =
    Lsh.bucketStats(Lsh.minhashBuckets(Lsh.Md5, docs, k, numHashes, bands),
      "band", "sig", maxBandBucket)

  /** Connected components over near-dup candidate pairs → one cluster
    * id (the component's MIN doc_id — the canonical document) per
    * member. The standard step after pair generation in a dedup
    * pipeline: pairs alone cannot answer "keep one per family" when
    * near-dup relations chain (A~B, B~C but A!~C).
    *
    * Min-label propagation over symmetric edges: each iteration is two
    * co-partitioned shuffles (neighbor-min aggregate + label join),
    * converging in O(diameter) rounds. LSH family graphs are
    * near-cliques (diameter 2–3 — every member shares a band bucket
    * with most others), so `maxIter` 10 is generous; iteration stops
    * EARLY via a changed-label count (one bounded action per round,
    * scalar only — no data to the driver). Rows whose doc never pairs
    * are absent (singleton = its own cluster, derivable by left join).
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val (labels, converged, rounds) = nearDupClustersStatus(pairs, maxIter)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"nearDupClusters: min-label propagation did NOT converge within $maxIter " +
          s"rounds (ran $rounds) — component diameter exceeds maxIter; labels are " +
          "PARTIALLY merged. Raise maxIter or use nearDupClustersStatus to gate.")
    labels
  }

  /** `nearDupClusters` with its convergence status exposed by value:
    * (labels, converged, roundsRun). An unconverged result means some
    * component's diameter exceeded `maxIter` (chained LSH pairs) and
    * labels are only partially merged — callers that must not accept
    * that gate on `converged` instead of trusting a log line
    * (ADVICE r5 low: never silent). Labels come back unordered; a
    * presentation sort belongs to the caller.
    *
    * The edge set and every round are cut by `Lineage.cut`, with no
    * caller override: an iterative algorithm must materialize every
    * round or round i's plan re-embeds (and re-runs pieces of) all
    * earlier rounds plus the upstream LSH pipeline — lazy .cache()
    * raced its own first materialization inside multi-branch actions
    * and the bench paid the minhash pipeline ~30x (117-174 s at sf0.1;
    * ~3 s checkpointed). The labels' plan is therefore the same size
    * after any number of rounds.
    */
  def nearDupClustersStatus(pairs: DataFrame, maxIter: Int = 10)
  : (DataFrame, Boolean, Int) = {
    // symmetrize in ONE pass over `pairs` (r7): the former two-select
    // union evaluated the whole upstream pair pipeline twice before the
    // first checkpoint could cut it — for d9/s9 that is the entire LSH /
    // semantic-pair stage, the most expensive subtree of the query
    val edges = Lineage.cut(
      pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct())
    // init labels are NOT checkpointed (r7): a one-op distinct over the
    // already-materialized edges, read at most twice in round 1 and then
    // replaced by round 1's checkpointed frame — its lineage never
    // grows, so materializing it only bought a job per query. (The
    // per-ROUND checkpoints below stay: THOSE lineages compound.)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
    var i = 0
    var changed = 1L
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nbr_min"))
      // the changed flag rides on the checkpointed frame (r7): a label
      // shrank iff a strictly smaller neighbor min arrived — the former
      // separate next⋈labels count paid one more join per round
      val next = Lineage.cut(
        labels.join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"),
            (col("nbr_min") < col("cluster_id")).as("chg")))
      changed = next.filter(col("chg")).count()
      labels = next.select("doc_id", "cluster_id")
      i += 1
    }
    (labels, changed == 0L, i)
  }

  /** SimHash (64-bit): per-token hash, bitwise weighted majority — ONE
    * per-row pass via the codegen'd SimHashTokens (r7). The former
    * explode(split) → 64-bit-sum hash aggregate materialized every
    * token as a row and shuffled a 64-column group per document; this
    * is a pure projection (explode of the 0/1-element result array
    * reproduces the aggregation's "tokenless doc → no row" semantics
    * and doubles as the Generate barrier). Bit-identical — token hashes
    * are Spark's own xxhash64 — asserted against the agg formulation in
    * DedupSpec.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.simhashTokens(col("text"))).as("simhash"))

  /** The aggregation formulation `simhash` replaced — kept ONLY as the
    * equivalence-test twin (DedupSpec).
    */
  private[ops] def simhashAgg(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", xxhash64(col("tok")))
    val bitAggs = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$i")
    }
    val agg = tokens.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until 64).map { i =>
      when(col(s"b_$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup candidates: band the 64 bits into 4×16-bit keys —
    * any pair within Hamming distance 3 shares at least one exact band
    * (pigeonhole), so the bucket join finds all near-dups. Pairs come
    * back unordered (doc_a < doc_b).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBandBucket: Int = DefaultMaxBandBucket): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("sig")))
    // one materialization for the guard's size aggregate + both join
    // sides (the minhashPairs rationale)
    val buckets = Lineage.cut(simhash(docs)
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.sig").as("sig")))
    Lsh.cappedSelfJoin(buckets, Seq("band", "sig"), "doc_id", maxBandBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Word n-gram Jaccard, exact, computed only for candidate pairs
    * (verify stage after LSH): explode n-grams per side, count
    * intersection/union per pair. Shuffles on (pair, gram) — scalable.
    */
  def ngramJaccard(docs: DataFrame, cand: DataFrame, n: Int = 3): DataFrame = {
    // melt each pair into its two sides first, so candidates are scanned
    // once and joined to the gram table once (no persist, one shuffle of
    // the big gram side instead of two)
    val sides = cand.select(col("doc_a"), col("doc_b"),
      explode(array(
        struct(lit(1).as("in_a"), lit(0).as("in_b"), col("doc_a").as("doc_id")),
        struct(lit(0).as("in_a"), lit(1).as("in_b"), col("doc_b").as("doc_id")))).as("s"))
      .select(col("doc_a"), col("doc_b"),
        col("s.in_a").as("in_a"), col("s.in_b").as("in_b"), col("s.doc_id").as("doc_id"))
    // gram-side pre-filter (r7, guide §3.2 shape): the inner join below
    // already drops non-candidate docs, but only AFTER their grams were
    // computed and exploded — a semi-join on the candidate id set first
    // means the gram explosion pays for exactly the docs in pairs
    // (result unchanged; typically |cand docs| ≪ |docs|)
    val candIds = sides.select("doc_id").distinct()
    val grams = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), ngramCol(col("text"), n).as("grams"))
    // single aggregation chain: no pair-side self-join; shuffles on
    // (pair, gram) then (pair) — both partial-aggregated map-side
    sides.join(grams, "doc_id")
      .select(col("doc_a"), col("doc_b"), explode(col("grams")).as("gram"),
        col("in_a"), col("in_b"))
      .groupBy("doc_a", "doc_b", "gram")
      .agg(max("in_a").as("a"), max("in_b").as("b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("a") * col("b")).as("n_inter"), count(lit(1)).as("n_union"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / col("n_union")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Distinct word n-grams as an array column. Empty tokens from
    * leading/trailing whitespace are dropped, so gram sets are
    * whitespace-padding-invariant and match the DuckDB oracle.
    *
    * Semantics = `array_distinct(transform(sequence(0,
    * greatest(size(words)-n, 0)), i -> concat_ws(" ", slice(words,
    * i+1, n))))` over `words = filter(split(text, "\\s+"), _ != "")`,
    * but computed by the single-pass `WordGrams` expression — the HOF
    * form re-ran the whole split+filter for EVERY gram index
    * (quadratic per document, r6; ShingleExpressions.scala).
    * Equivalence is asserted in DedupSpec.
    */
  def ngramCol(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.wordGrams(text, n)

  /** Duplicate-passage detection (d11) — the per-document signal
    * behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): for each document,
    * the fraction of its distinct word n-gram windows that appear in
    * at least one OTHER document. Document-level minhash misses long
    * passages copied between otherwise-different pages (quotes, syndic
    * blocks, license text); this measures exactly that, and the
    * fraction is the standard triage signal for whether a corpus needs
    * a substring-level pass.
    *
    * SCALE SHAPE: one explode of distinct grams per doc (the
    * single-pass `WordGrams` expression — ~words rows/doc), shuffled
    * on the md5 gram digest (16 bytes, not the n-word string) for a
    * two-level count, then a co-partitioned LEFT SEMI join back and a
    * per-doc count. No windows, no self-join; a hot gram's postings
    * list concentrates only inside the semi join that flags it.
    * Detection only, by design — REMOVAL of overlapping windows needs
    * suffix-automaton machinery that doesn't decompose into relational
    * ops; the signal tells a corpus owner whether to run that pass.
    */
  def dupPassageStats(df: DataFrame, n: Int = 8,
                      textCol: String = "text"): DataFrame = {
    val grams = df.select(col("doc_id"),
      explode(ngramCol(col(textCol), n)).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("g"))
    // ngramCol is per-doc DISTINCT, so count(*) per digest = doc count
    val dup = grams.groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val perDoc = grams.join(dup, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    df.select(col("doc_id"),
      size(ngramCol(col(textCol), n)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") > 0,
          round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
          .otherwise(lit(0.0)))
  }

  /** Benchmark decontamination (d12) — the eval-overlap check every
    * training-data pipeline runs before a corpus ships (GPT-3 appendix
    * C; Lee et al. 2022 §6): for each corpus document, how many of its
    * distinct word n-gram windows also appear in a benchmark/eval-set
    * table. A document sharing windows with the test set leaks the
    * benchmark into training; `contam_frac` is the triage signal and
    * the pipeline's `decontamBench` option drops offenders.
    *
    * SCALE SHAPE — the asymmetry is the whole design: the corpus is
    * 100 TB but eval sets are megabytes, so the benchmark side reduces
    * to a DISTINCT gram-digest set (md5, 16 bytes/gram) and BROADCASTS.
    * The corpus gram explode then left-semi joins map-side — corpus
    * grams NEVER shuffle; the only exchange is the per-doc count
    * aggregation (partial map-side, one long per doc). Compare d11,
    * which must shuffle corpus grams because both sides of its
    * frequency question are the corpus itself.
    *
    * The gram unit matches d11 (distinct word n-grams via the
    * single-pass `WordGrams` expression), so both stats read on the
    * same scale. Digests are compared, not gram strings — the
    * broadcast stays small even for n=13-word windows.
    */
  def contaminationStats(docs: DataFrame, bench: DataFrame, n: Int = 8,
                         textCol: String = "text"): DataFrame = {
    val benchGrams = bench
      .select(explode(ngramCol(col(textCol), n)).as("gram"))
      .select(md5(col("gram")).as("g"))
      .distinct()
    val grams = docs.select(col("doc_id"),
      explode(ngramCol(col(textCol), n)).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("g"))
    val perDoc = grams.join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contam_windows"))
    docs.select(col("doc_id"),
      size(ngramCol(col(textCol), n)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_contam_windows"), lit(0L)).as("n_contam_windows"))
      .withColumn("contam_frac",
        when(col("n_windows") > 0,
          round(col("n_contam_windows").cast("double") / col("n_windows"), 6))
          .otherwise(lit(0.0)))
  }

  /** Cross-corpus boilerplate LINE removal (d10) — the C4/RefinedWeb
    * curation step document-level dedup cannot express: a line whose
    * exact text appears in ≥ `minDocs` DISTINCT documents (cookie
    * banners, nav text, footers, legal blurbs) is dropped from EVERY
    * document, and each text is reassembled in original line order.
    *
    * SCALE SHAPE: the corpus-wide shuffle is on the line digest (md5,
    * 16 bytes — not the line text, which averages 5–10× that), with
    * map-side partial distinct+count; hot lines (the boilerplate
    * itself, by definition the most frequent values) are dropped by a
    * LEFT ANTI join against the small over-threshold digest set (AQE
    * broadcasts it — |boilerplate lines| ≪ |lines|), so no reducer
    * ever materializes a hot line's full group. Reassembly is one
    * groupBy(doc_id) with a bounded per-document sort (array_sort over
    * that document's own lines). Whitespace-only lines are never
    * counted as boilerplate — dropping the empty line everywhere would
    * silently rewrite every document's paragraph structure.
    *
    * Documents whose every line is boilerplate survive with empty text
    * (observable downstream — the quality gate rejects them as
    * too_short — rather than silently vanishing).
    */
  def dropBoilerplateLines(df: DataFrame, minDocs: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val boiler = lines
      .filter(length(trim(col("line"))) > 0)
      .select(md5(col("line")).as("line_md5"), col(idCol)).distinct()
      .groupBy("line_md5").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("line_md5")
    val kept = lines.join(boiler,
      md5(col("line")) === boiler("line_md5"), "left_anti")
    val reassembled = kept.groupBy(idCol).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), "\n").as(textCol))
    df.select(col(idCol)).join(reassembled, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }
}
