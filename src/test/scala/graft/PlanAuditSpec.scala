package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkTestHooks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.job.CorpusPipeline

/** Catalyst plan audits (SURVEY.md §4.2 "rely on, verify in tests"):
  * predicate pushdown reaches the parquet scan, small joins broadcast,
  * the dedup ops stay free of cartesian products.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** Every physical plan `CorpusPipeline.run` executes — each stage cut,
    * the near-dup loop's edge cut and rounds, the stage-count job — plus
    * a noop write of `kept`: the plans production runs, each cut at the
    * library's own lineage boundaries. Captured by a query-execution
    * listener; the bus is drained before the plans are read.
    */
  private def pipelinePlans(run: => CorpusPipeline.Result): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run.kept.write.format("noop").mode("overwrite").save()
      SparkTestHooks.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val out = plans.asScala.toSeq
    info(s"${out.size} executed plans")
    // stage cuts, edge cut, ≥ 1 round (cut + count), counts, write
    assert(out.size >= 9, s"only ${out.size} executed plans captured")
    out
  }

  private def assertNoneContain(plans: Seq[String], nodes: String*): Unit =
    for (p <- plans; n <- nodes) assert(!p.contains(n), s"$n in an executed plan:\n$p")

  private def pipelineDocs(n: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(0, n).select(
      concat(lit("https://h.io/p"), col("id")).as("url"),
      concat(lit("text body shared prefix words here count "), col("id")).as("text"))
  }

  test("q2: filter is pushed to the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"pushdown missing:\n${p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }

  test("q1: shipdate predicate pushed + pruned read schema") {
    val p = plan("q1_agg_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate,"), p)
    val scan = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scan.contains("l_orderkey") && !scan.contains("l_extendedprice"), scan)
  }

  test("q3: dimension join is a broadcast hash join") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(20).mkString("\n"))
  }

  test("q4/q5: anti and semi joins, no cartesian") {
    val p4 = plan("q4_anti_join")
    assert(p4.contains("LeftAnti"), p4)
    val p5 = plan("q5_semi_join")
    assert(p5.contains("LeftSemi"), p5)
    assert(!p4.contains("Cartesian") && !p5.contains("Cartesian"))
  }

  test("dedup ops never plan a cartesian product") {
    Seq("d2_minhash_pairs", "d3_simhash_pairs", "d4_ngram_jaccard",
      "d11_dup_passages").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
  }

  test("d2/d4: no persisted plan branches (r1 leaked storage) and single gram join in d4") {
    val p2 = plan("d2_minhash_pairs")
    assert(!p2.contains("InMemoryTableScan"), "d2 still caches signatures")
    val p4 = plan("d4_ngram_jaccard")
    assert(!p4.contains("InMemoryTableScan"), "d4 still caches candidates")
    // pair melted to sides -> the gram table is joined exactly once;
    // r7 adds a deliberate LeftSemi that prunes the gram side to
    // candidate docs BEFORE the explode (guide §3.2 shape), so the
    // budget is: blocking self-join + candidate semi-join + one gram
    // join — and the semi-join must actually be present
    val gramJoins = p4.linesIterator.count(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(gramJoins <= 3, s"expected blocking + semi-prune + one gram join, got $gramJoins:\n$p4")
    assert(p4.contains("LeftSemi"), s"gram side must be candidate-pruned (LeftSemi):\n$p4")
  }

  test("s2/s4: ANN ranking is a partial aggregation, not a window exchange") {
    Seq("s2_ann_lsh", "s4_ann_ivf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q ranks through a window:\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), q)
    }
  }

  test("s3: skew guard anti-joins a broadcast key list; self-join reuses one exchange") {
    // AQE folds exchange reuse into runtime stages; disable it here so the
    // static physical plan shows the ReuseExchange rule's work directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("s3_cosine_neardups")
      // over-cap keys join back as a broadcast LeftAnti (r2 joined the
      // sizes aggregate onto the wide exploded relation = extra shuffle)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"skew guard is not a broadcast anti-join:\n$p")
      // the two identical self-join sides shuffle the wide embedding rows
      // through ONE reused exchange, not two
      assert(p.contains("ReusedExchange"), s"self-join sides not reused:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s1: ANN brute force broadcasts the query side only") {
    val p = plan("s1_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("x7: composed pipeline plans no cartesian/window/cached branch (r6)") {
    val plans = pipelinePlans(CorpusPipeline.run(pipelineDocs(30)))
    assertNoneContain(plans, "CartesianProduct", "BroadcastNestedLoopJoin",
      "Window", "InMemoryTableScan")
    // no global sort anywhere in the pair/edge stages (or any other):
    // a range exchange also costs a sampling job
    assertNoneContain(plans, "rangepartitioning")
    // canonical-row picks (url canon + exact dedup) are min_by
    // aggregates, not windows. min_by's string buffer rules out the
    // hash aggregate: each pick runs as a SortAggregate (a partition-
    // local sort after the hash exchange, no global sort)
    val picks = plans.filter(_.contains("min_by("))
    assert(picks.size >= 2, plans.mkString("\n\n"))
    picks.foreach(p => assert(p.contains("Aggregate(key="), p))
    assert(plans.exists(p => p.contains("HashAggregate") || p.contains("ObjectHashAggregate")),
      plans.mkString("\n\n"))
  }

  test("q23/d10: host cap and line dedup plan no window, no cartesian (r6)") {
    // q23: the cap must NOT be a row_number window (a mega-host would
    // funnel into one sorting reducer); it is count-agg + join + filter
    val p23 = plan("q23_domain_cap")
    assert(!p23.contains("Window"), p23)
    assert(!p23.contains("CartesianProduct"), p23)
    // d10: boilerplate drop is a LEFT ANTI join on the line digest;
    // reassembly is an aggregate, not a window
    val p10 = plan("d10_line_dedup")
    assert(p10.contains("LeftAnti"), p10)
    assert(!p10.contains("Window"), p10)
    assert(!p10.contains("CartesianProduct"), p10)

    // every plan the pipeline executes with BOTH r6 options on stays clean
    val plans = pipelinePlans(CorpusPipeline.run(pipelineDocs(30),
      boilerplateLineMinDocs = Some(5), maxDocsPerHost = Some(10)))
    assertNoneContain(plans, "CartesianProduct", "Window", "InMemoryTableScan")
  }

  test("d12/q24/q25: decontam broadcasts the bench side; sampling and repair are pure filters/projections (r6b)") {
    // d12: the eval-set digest side must broadcast — corpus grams never
    // shuffle toward the benchmark
    val p12 = plan("d12_decontam")
    assert(p12.contains("BroadcastExchange"), p12)
    assert(!p12.contains("CartesianProduct"), p12)
    assert(!p12.contains("Window"), p12)
    // q24: a pure per-row filter + the stats aggregation — no window,
    // no sort on the data path
    val p24 = plan("q24_sample_stratified")
    assert(!p24.contains("Window"), p24)
    assert(!p24.contains("CartesianProduct"), p24)
    // q25: mojibake repair is a projection — no exchange at all before
    // the final orderBy
    val p25 = plan("q25_mojibake")
    assert(!p25.contains("Window"), p25)
    // the repair expression itself must be in the plan — `|| Project`
    // made this vacuous (every plan has a Project; r7, ADVICE)
    assert(p25.contains("graft_fix_mojibake"), p25)

    // every plan the pipeline executes with ALL r6 options on stays clean
    import org.apache.spark.sql.functions._
    val bench = spark.range(0, 2).select(col("id").as("bench_id"),
      concat(lit("bench item words that never match anything "), col("id")).as("text"))
    val plans = pipelinePlans(CorpusPipeline.run(pipelineDocs(30),
      boilerplateLineMinDocs = Some(5), maxDocsPerHost = Some(10),
      repairMojibake = true, decontamBench = Some(bench),
      sampleByLang = Some(Map("fr" -> 0.5))))
    assertNoneContain(plans, "CartesianProduct", "Window", "InMemoryTableScan")
  }

  test("s7/s8/q26: semantic dedup and LM quality plan no cartesian/window; cap guard broadcasts (r6c)") {
    // SemDeDup (production + portable twin): within-cell pairing is an
    // equi-join on the cell key; the over-cap guard and the dropped-id
    // join must ride broadcasts, never a cartesian
    Seq("s7_semdedup", "s8_semdedup_portable").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("Window"), s"$q:\n$p")
      assert(p.contains("BroadcastExchange"), s"$q expected broadcast cap guard:\n$p")
    }
    // q26: ONE shuffle join of corpus gram digests against the df
    // table; the doc-count scalar folds in AFTER aggregation via a
    // 1-row broadcast, so it never rides the gram rows
    val p26 = plan("q26_lm_quality")
    assert(!p26.contains("CartesianProduct"), p26)
    assert(!p26.contains("Window"), p26)
    assert(p26.contains("BroadcastNestedLoopJoin") || p26.contains("BroadcastExchange"), p26)
    // q27: a pure per-row regex projection — no exchange before the
    // final orderBy (s9 reuses the audited semDedup pair shape plus
    // d9's already-audited label propagation)
    val p27 = plan("q27_blocklist")
    assert(!p27.contains("CartesianProduct"), p27)
    assert(!p27.contains("Window"), p27)

    // every plan of the pipeline's `5b_semdedup` stage — including
    // SemDeDup's bounded driver collects (k-means sample, dim probe)
    import org.apache.spark.sql.functions._
    val emb = spark.range(0, 8).select(
      concat(lit("https://h.io/p"), col("id")).as("url"),
      array(lit(0.5f), (col("id") % 3).cast("float") - lit(1.0f),
        lit(-0.5f), lit(0.25f)).as("embedding"))
    val plans = pipelinePlans(CorpusPipeline.run(pipelineDocs(20),
      semDedupEmbeddings = Some(emb)))
    assertNoneContain(plans, "CartesianProduct", "Window", "InMemoryTableScan")
  }
}
