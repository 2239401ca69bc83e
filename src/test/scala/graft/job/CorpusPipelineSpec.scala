package graft.job

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** E2E gate for the composed flagship (extract → canonicalize → exact
  * dedup → near-dup cluster): planted cross-stage duplicates that ONLY
  * the composed chain collapses — a tracking-param re-crawl (stage 2),
  * a mirrored exact copy under a different canonical URL (stage 3),
  * and a chained near-dup family where pair output alone cannot pick
  * one canonical document (stage 4 clustering).
  */
class CorpusPipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("composed chain: each stage collapses exactly its planted duplicates") {
    import scala.jdk.CollectionConverters._
    def base(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val tB = s"mirrored article body ${base("brr")} with a stable ending"
    val rows = Seq(
      // A + its tracking-param re-crawl: same canonical URL
      ("https://a.com/x", s"doc a ${base("apple")} original"),
      ("https://a.com/x?utm_source=rss&fbclid=k", s"doc a ${base("apple")} original changed-but-loses"),
      // B mirrored byte-identical under a different canonical URL
      ("https://b.com/1", tB),
      ("https://b.com/2-mirror", tB),
      // C chained near-dup family (c1~c2, c2~c3 share the base)
      ("https://c.com/v1", s"family story ${base("casa")}"),
      ("https://c.com/v2", s"family story ${base("casa")} plus one extra sentence here"),
      ("https://c.com/v3", s"family story ${base("casa")} plus two extra sentences here now"),
      // D unrelated survivor + a failed extraction (NULL text) + a
      // degenerate doc the quality gate drops (< minTokens)
      ("https://d.com/solo", "a completely different short document about nothing else"),
      ("https://e.com/fail", null),
      ("https://f.com/junk", "x y"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)

    val res = CorpusPipeline.run(df)
    assert(res.neardupConverged && res.neardupRounds >= 1,
      s"conv=${res.neardupConverged} rounds=${res.neardupRounds}")
    val stages = res.stages.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("1_input") == 9L, stages.toString)           // NULL text dropped
    assert(stages("2_quality_kept") == 8L, stages.toString)    // 2-token junk gone
    assert(stages("3_url_canon_dedup") == 7L, stages.toString) // utm re-crawl gone
    assert(stages("4_exact_dedup") == 6L, stages.toString)     // mirror gone
    assert(stages("5_neardup_kept") == 4L, stages.toString)    // c2+c3 gone

    val kept = res.kept.collect().map(_.getString(0)).toSet
    assert(kept == Set("https://a.com/x", "https://b.com/1",
      "https://c.com/v1", "https://d.com/solo"), kept.toString)
    // the canonical carrier kept A's ORIGINAL text (min url wins)
    val keptA = res.kept.filter(org.apache.spark.sql.functions.col("url") === "https://a.com/x")
      .collect().head.getString(1)
    assert(keptA.endsWith("original"), keptA)

    // the CLUSTER deployment: a checkpoint directory alone switches
    // every lineage cut to RELIABLE checkpoints (fault-tolerant,
    // directory-backed); the chain must write its cuts there and produce
    // the identical stage counts and kept set (VERDICT r5 "wrong" #2)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    def files() = java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    try {
      val res2 = CorpusPipeline.run(df)
      assert(res2.stages.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == stages)
      assert(res2.kept.collect().map(_.getString(0)).toSet == kept)
      assert(files().exists(java.nio.file.Files.isRegularFile(_)),
        s"no checkpoint files under $ckptDir")
    } finally {
      // every suite shares this SparkContext: later ones must not
      // silently switch to reliable checkpoints
      org.apache.spark.SparkTestHooks.clearCheckpointDir(spark.sparkContext)
      files().reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("optional repetition gate and PII scrub (r6)") {
    import scala.jdk.CollectionConverters._
    def base(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val rows = Seq(
      ("https://a.com/ok", s"a normal document ${base("normal")} with pii " +
        "reach me at jane.doe@mail.example or +4915512345678 thanks"),
      // pure boilerplate: one line repeated -> dup_line_frac 1.0
      ("https://b.com/boiler",
        Seq.fill(12)(s"subscribe banner ${base("rep")}").mkString("\n")),
      ("https://c.com/solo", s"another unrelated document ${base("solo")} done"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)

    // defaults: gate disabled, no scrub — boilerplate and PII survive
    val off = CorpusPipeline.run(df)
    assert(off.kept.collect().map(_.getString(0)).toSet.size == 3)
    assert(off.kept.collect().map(_.getString(1)).exists(_.contains("jane.doe@mail.example")))

    // gate on + scrub on: boilerplate rejected AT THE GATE (stage 2),
    // kept texts carry class tokens instead of the raw PII
    val on = CorpusPipeline.run(df, maxDupLineFrac = 0.5, scrubPii = true)
    val stages = on.stages.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("1_input") == 3L && stages("2_quality_kept") == 2L, stages.toString)
    val kept = on.kept.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kept.keySet == Set("https://a.com/ok", "https://c.com/solo"), kept.keySet.toString)
    val a = kept("https://a.com/ok")
    assert(a.contains("<EMAIL>") && a.contains("<PHONE>"), a.takeRight(80))
    assert(!a.contains("jane.doe") && !a.contains("+4915512345678"), a.takeRight(80))
  }

  test("optional boilerplate line removal and per-host cap (r6)") {
    import scala.jdk.CollectionConverters._
    def base(tag: String, n: Int = 40) = (1 to n).map(i => s"$tag$i").mkString(" ")
    // each host has its OWN 50-word banner on 5 documents; the same
    // 50-word article body is republished once per host. With d10 off
    // the two republications differ by their big host banners (word-gram
    // jaccard ≈ 1/3, below the 0.5 near-dup threshold) and BOTH survive;
    // with d10 on the banners are stripped corpus-wide, the texts become
    // byte-identical, and EXACT dedup collapses them — the cross-stage
    // interaction this option exists for.
    val banner1 = s"cookie banner for host one ${base("bannerone", 50)}"
    val banner2 = s"cookie banner for host two ${base("bannertwo", 50)}"
    val shared = s"the very same republished article body ${base("same", 50)} end"
    val rows = Seq(
      ("https://h1.com/a", s"$banner1\n$shared"),
      ("https://h2.com/b", s"$shared\n$banner2")) ++
      (1 to 4).map(i =>
        (s"https://h1.com/f$i", s"$banner1\nfiller one $i ${base(s"fone$i", 50)}")) ++
      (1 to 4).map(i =>
        (s"https://h2.com/f$i", s"$banner2\nfiller two $i ${base(s"ftwo$i", 50)}")) ++
      // one big host with 30 distinct documents for the cap
      (1 to 30).map(i => (s"https://big.com/p$i", s"big host document $i ${base(s"big$i")}"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)

    // both options off: the banner'd republications stay distinct,
    // big.com keeps all 30, and there is no 6_host_cap stage row
    val off = CorpusPipeline.run(df)
    val offKept = off.kept.collect().map(_.getString(0)).toSet
    assert(offKept.contains("https://h1.com/a") && offKept.contains("https://h2.com/b"),
      offKept.toString)
    assert(offKept.count(_.startsWith("https://big.com/")) == 30)
    assert(!off.stages.collect().map(_.getString(0)).contains("6_host_cap"))

    val on = CorpusPipeline.run(df, boilerplateLineMinDocs = Some(5),
      maxDocsPerHost = Some(10))
    val stages = on.stages.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = on.kept.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // both banners are stripped from every kept text
    assert(kept.values.forall(t => !t.contains(banner1) && !t.contains(banner2)),
      kept.values.take(2).toString)
    // the republications collapsed in the EXACT stage once the banners
    // were stripped (min url wins); the fillers survive distinct
    assert(kept.contains("https://h1.com/a") && !kept.contains("https://h2.com/b"),
      stages.toString)
    assert(stages("4_exact_dedup") == stages("3_url_canon_dedup") - 1, stages.toString)
    // the cap bounded big.com's survivors (30 docs, cap 10 — the
    // binomial rule keeps ~10, never all 30) and recorded its stage
    val bigKept = kept.keySet.count(_.startsWith("https://big.com/"))
    assert(bigKept < 30 && bigKept > 0, s"big.com kept $bigKept")
    assert(stages("6_host_cap") == stages("5_neardup_kept") - (30 - bigKept).toLong,
      stages.toString)
    // the small hosts (h1: 5 docs, h2: 4 after the collapse) are
    // untouched by the cap — every filler survives
    assert((1 to 4).forall(i => kept.contains(s"https://h1.com/f$i") &&
      kept.contains(s"https://h2.com/f$i")), kept.keySet.toString)
  }

  test("optional mojibake repair, decontamination and sampling (r6)") {
    import scala.jdk.CollectionConverters._
    def base(tag: String, n: Int = 40) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    def corrupt(s: String) =
      new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), cp1252)

    // every word carries an umlaut: the corrupted twin shares NO word
    // gram with the clean crawl, so near-dup can't collapse them and
    // the collapse observed below is attributable to the repair alone
    val article = "ein Artikel über die Straße " +
      (1 to 40).map(i => s"wört$i").mkString(" ") + " Ende"
    val evalText = s"benchmark question ${base("evalitem", 20)} answer choices follow"
    val rows = Seq(
      // the same German article crawled clean and through a cp1252
      // mis-decode: only repairing FIRST lets exact dedup collapse them
      ("https://m.com/clean", article),
      ("https://m.com/moji", corrupt(article)),
      // a document leaking the eval set verbatim inside other prose
      ("https://leak.com/x", s"intro words here $evalText closing words here"),
      // honest survivors
      ("https://ok.com/a", s"some normal document ${base("norm")}"),
      ("https://ok.com/b", s"otro documento en español que habla de una casa y el niño ${base("esp")}"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val benchSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bench_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val bench = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, evalText)).asJava, benchSchema)

    // all three off: mojibake twin survives distinct, leak survives,
    // no 7_/8_ stage rows
    val off = CorpusPipeline.run(df)
    val offKept = off.kept.collect().map(_.getString(0)).toSet
    assert(offKept == rows.map(_._1).toSet, offKept.toString)
    assert(!off.stages.collect().map(_.getString(0)).exists(s =>
      s.startsWith("7_") || s.startsWith("8_")))

    val on = CorpusPipeline.run(df, repairMojibake = true,
      decontamBench = Some(bench))
    val stages = on.stages.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = on.kept.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // repair first -> the two crawls share one digest; min url wins
    assert(kept.contains("https://m.com/clean") && !kept.contains("https://m.com/moji"),
      kept.keySet.toString)
    assert(stages("4_exact_dedup") == stages("3_url_canon_dedup") - 1, stages.toString)
    // kept text is the REPAIRED text
    assert(kept("https://m.com/clean") == article)
    // the eval leak is dropped by d12, honest docs survive
    assert(!kept.contains("https://leak.com/x"), kept.keySet.toString)
    assert(stages("7_decontam") == stages("5_neardup_kept") - 1, stages.toString)

    // sampling: drop the Spanish stratum entirely, keep everything else
    val sam = CorpusPipeline.run(df, repairMojibake = true,
      sampleByLang = Some(Map("es" -> 0.0)))
    val samKept = sam.kept.collect().map(_.getString(0)).toSet
    assert(!samKept.contains("https://ok.com/b"), samKept.toString)
    assert(samKept.contains("https://ok.com/a"))
    val samStages = sam.stages.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(samStages("8_sample") == samStages("5_neardup_kept") - 1, samStages.toString)
  }

  test("optional semantic dedup via embeddings (r6c)") {
    import scala.jdk.CollectionConverters._
    // two documents that share NOTHING lexically (no common word gram
    // — exact/minhash stages cannot touch them) but whose embeddings
    // point the same direction: the translation-duplicate case only
    // SemDeDup sees. Plus an orthogonal-embedding doc and one with no
    // embedding row at all (must be kept unconditionally).
    val rows = Seq(
      ("https://sem.com/a-english", "the weather in paris stays sunny most of the spring season"),
      ("https://sem.com/b-german", "das wetter bleibt im gesamten fruehjahr meistens recht freundlich"),
      ("https://sem.com/c-other", "a treatise on deep sea fish and their bioluminescent organs"),
      ("https://sem.com/d-noemb", "document carrying no embedding row but plenty of ordinary words"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val e = Seq(0.6f, 0.8f, 0.1f, -0.2f)
    val emb = spark.createDataFrame(Seq(
      ("https://sem.com/a-english", e),
      ("https://sem.com/b-german", e.map(_ * 2.0f)),   // same direction, cos = 1
      ("https://sem.com/c-other", Seq(-0.8f, 0.6f, 0.0f, 0.3f))))
      .toDF("url", "embedding")

    // option off: everything survives, no 5b stage row
    val off = CorpusPipeline.run(df)
    assert(off.kept.collect().map(_.getString(0)).toSet == rows.map(_._1).toSet)
    assert(!off.stages.collect().map(_.getString(0)).contains("5b_semdedup"))

    val on = CorpusPipeline.run(df, semDedupEmbeddings = Some(emb))
    val kept = on.kept.collect().map(_.getString(0)).toSet
    // min url wins; orthogonal and embedding-less docs untouched
    assert(kept == Set("https://sem.com/a-english", "https://sem.com/c-other",
      "https://sem.com/d-noemb"), kept.toString)
    val stages = on.stages.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("5b_semdedup") == stages("5_neardup_kept") - 1, stages.toString)
  }
}
