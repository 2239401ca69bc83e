package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN value + recall + plan-shape tests (VERDICT r1 items 3/4/9):
  * bounded top-k equals the exact window ranking, LSH/IVF recall is
  * MEASURED (≥0.9 for LSH on a clustered corpus — the round-1 recall
  * collapse returned 1 of 50 expected rows and went unnoticed because
  * nothing compared against ground truth), and no ANN plan contains a
  * per-query window exchange.
  */
class SimilaritySpec extends AnyFunSuite {

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

  private val dim = 16

  /** Deterministic clustered corpus: `nClusters` Gaussian centers, each
    * with `perCluster` members at small noise — the structure real text
    * embeddings have (and the regime LSH is built for).
    */
  private def clustered(nClusters: Int, perCluster: Int, noise: Double): DataFrame = {
    val rng = new scala.util.Random(4242L)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rng.nextGaussian()))
    val rows = for {
      c <- 0 until nClusters
      m <- 0 until perCluster
    } yield {
      val v = centers(c).map(x => (x + noise * rng.nextGaussian()).toFloat)
      ((c * perCluster + m).toLong, v.toSeq)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  private def idsByQuery(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  test("topKPerQuery equals the exact window ranking (values + order)") {
    import org.apache.spark.sql.expressions.Window
    val corpus = clustered(8, 25, 0.3)
    val queries = corpus.orderBy("vec_id").limit(3)
    val scored = corpus.as("c").crossJoin(broadcast(queries.as("q")))
      .filter(col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("vec_id"),
        Similarity.cosine(col("q.embedding"), col("c.embedding")).as("cos"))
    val viaAgg = Similarity.topKPerQuery(scored, 7)
      .select("query_id", "vec_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7).orderBy("query_id", "rank")
      .select("query_id", "vec_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(viaAgg.toSeq == viaWindow.toSeq)
  }

  test("topKPerQuery dedups duplicate candidates (multi-table collisions)") {
    val scored = spark.createDataFrame(Seq(
      (1L, 10L, 0.9), (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 11L, 0.8), (1L, 12L, 0.7)
    )).toDF("query_id", "vec_id", "cos")
    val got = Similarity.topKPerQuery(scored, 3).select("vec_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(10L, 11L, 12L))
  }

  test("topKPerQuery excludes non-finite scores and stays deterministic") {
    val scored = spark.createDataFrame(Seq(
      (1L, 10L, 0.9), (1L, 11L, Double.NaN), (1L, 12L, 0.7),
      (1L, 13L, Double.PositiveInfinity), (1L, 14L, 0.8)
    )).toDF("query_id", "vec_id", "cos")
    // repartition shuffles rows into different groupings across runs;
    // NaN under a raw `>` comparator made contents partition-dependent
    val got = Similarity.topKPerQuery(scored.repartition(4), 3)
      .select("vec_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(10L, 14L, 12L), got.toSeq)
  }

  test("FloatVecLshKeys is bit-identical to the composed per-plane formulation") {
    val corpus = clustered(6, 20, 0.6)
    val native = corpus.select(col("vec_id"),
      Similarity.lshKeysArr(col("embedding"), dim, 6, 8).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val composed = corpus.select(col("vec_id"),
      transform(Similarity.lshKeys(col("embedding"), dim, 6, 8),
        s => s.getField("key")).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native == composed)
    // and the generated code path is active (no interpreted fallback):
    // the big near-dup shape (16 planes x 4 tables) must compile
    val big = corpus.select(Similarity.lshKeysArr(col("embedding"), dim, 16, 4).as("ks"))
    assert(big.collect().forall(_.getSeq[Int](0).length == 4))
  }

  test("native multi-probe keys equal the composed probe formulation") {
    val corpus = clustered(4, 10, 0.5)
    val nMasks = Similarity.probeMaskCount(6, 2)
    val native = corpus.select(col("vec_id"),
      Similarity.lshProbeKeysArr(col("embedding"), dim, 6, 8, 2).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val composed = corpus.select(col("vec_id"),
      transform(Similarity.lshProbeKeys(col("embedding"), dim, 6, 8, 2),
        s => s.getField("key")).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native == composed)
    assert(native.head._2.length == 8 * nMasks)
    // table id recovery: pos / nMasks
    val tbls = corpus.limit(1).select(
      posexplode(Similarity.lshProbeKeysArr(col("embedding"), dim, 6, 8, 2))
        .as(Seq("pidx", "key")))
      .select((col("pidx") / nMasks).cast("int")).collect().map(_.getInt(0))
    assert(tbls.distinct.toSeq == (0 until 8), tbls.distinct.toSeq)
  }

  test("LSH recall@10 >= 0.9 on a clustered corpus") {
    val corpus = clustered(20, 50, 0.15)
    val queries = corpus.filter(col("vec_id") % 100 === 0).limit(5)
    val truth = idsByQuery(Similarity.bruteForceTopK(corpus, queries, 10))
    val lsh = idsByQuery(Similarity.lshTopK(corpus, queries, 10, dim))
    val recalls = truth.map { case (q, t) =>
      lsh.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"LSH recall collapsed again: $mean (per-query: $recalls)")
  }

  test("IVF recall@10 >= 0.8 on a clustered corpus (k-means cells)") {
    val corpus = clustered(20, 50, 0.15)
    val queries = corpus.filter(col("vec_id") % 100 === 0).limit(5)
    val truth = idsByQuery(Similarity.bruteForceTopK(corpus, queries, 10))
    val ivf = idsByQuery(Similarity.ivfTopK(corpus, queries, 10, dim))
    val recalls = truth.map { case (q, t) =>
      ivf.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"IVF recall too low: $mean (per-query: $recalls)")
  }

  test("kmeans centroids beat first-k selection on assignment cost") {
    val corpus = clustered(16, 40, 0.2)
    val sample = corpus.orderBy("vec_id").limit(1024).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    def cost(cents: Array[Array[Double]]): Double = sample.map { v =>
      cents.map(c => c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum).min
    }.sum
    val refined = Similarity.kmeansCentroids(corpus, dim, 16).map(_._2.map(_.toDouble))
    val firstK = sample.take(16)
    assert(cost(refined) < cost(firstK) * 0.8,
      s"refinement did not improve: ${cost(refined)} vs ${cost(firstK)}")
  }

  test("cosineNearDups finds planted exact-direction duplicates") {
    val corpus = clustered(10, 30, 0.3)
    val dups = corpus.filter(col("vec_id") % 60 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
    val all = corpus.unionByName(dups)
    val pairs = Similarity.cosineNearDups(all, dim)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 300 by 60).map(i => (i.toLong, i + 100000L)).toSet
    assert(expected.subsetOf(pairs), s"missing planted dups: ${expected -- pairs}")
  }

  test("cosineNearDups skew guard: an over-cap same-direction family is dropped and counted, honest dups survive") {
    val corpus = clustered(5, 20, 0.3)
    // one honest duplicate: a 2x copy of vector 0 (cos = 1)
    val honest = corpus.filter(col("vec_id") === 0L)
      .select(lit(100000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
    // a degenerate family: 60 copies of one direction at power-of-two
    // scales (exact in float, so every plane sign — hence every table's
    // key — is identical), i.e. one 60-row bucket per table
    val rng = new scala.util.Random(99L)
    val w = Seq.fill(dim)(rng.nextGaussian().toFloat)
    val familyIds = (0 until 60).map(500000L + _)
    val family = spark.createDataFrame(familyIds.zipWithIndex.map { case (id, i) =>
      (id, w.map(_ * math.pow(2, i % 20 - 10).toFloat))
    }).toDF("vec_id", "embedding")
    val all = corpus.unionByName(honest).unionByName(family)
    val cap = 50
    val pairs = Similarity.cosineNearDups(all, dim, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100000L)), s"honest pair lost: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 500000L || b >= 500000L },
      s"over-cap family paired: ${pairs.filter(_._2 >= 500000L).take(5)}")
    // the drop is accounted per table: the family's rows are among the
    // dropped rows of every table
    val stats = Similarity.lshBucketStats(all, dim, maxBucket = cap).collect()
    assert(stats.length == Similarity.NearDupTables)
    stats.foreach { r =>
      assert(r.getLong(3) >= 1L && r.getLong(4) >= familyIds.size.toLong,
        s"table ${r.getInt(0)}: dropped ${r.getLong(3)} buckets / ${r.getLong(4)} rows")
    }
  }

  test("no ANN plan contains a window exchange (scale-safe top-k)") {
    val corpus = clustered(8, 25, 0.3)
    val queries = corpus.orderBy("vec_id").limit(3)
    Seq(
      Similarity.bruteForceTopK(corpus, queries, 10),
      Similarity.lshTopK(corpus, queries, 10, dim),
      Similarity.ivfTopK(corpus, queries, 10, dim)
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"window exchange found:\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        "expected partial top-k aggregation")
    }
  }

  test("driver-shape LSH query returns full k rows per query (round-1 returned 1/50)") {
    // mirrors s2_ann_lsh on random vectors: rows must be 5 queries x k
    val rng = new scala.util.Random(77L)
    val rows = (0 until 500).map(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian().toFloat)))
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val queries = corpus.orderBy("vec_id").limit(5)
    val n = Similarity.lshTopK(corpus, queries, 10, dim).count()
    assert(n == 50L, s"expected 50 rows, got $n")
  }

  /** corpus + exact-direction duplicates for the SemDeDup tests: one
    * scaled copy (cos = 1) of every 60th vector — copies MUST drop,
    * originals and everything else MUST survive.
    */
  private def withScaledCopies(corpus: DataFrame): (DataFrame, Set[Long]) = {
    val dups = corpus.filter(col("vec_id") % 60 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
    (corpus.unionByName(dups),
      corpus.filter(col("vec_id") % 60 === 0)
        .collect().map(_.getLong(0) + 100000L).toSet)
  }

  test("semDedup drops planted semantic duplicates, keeps everything else (s7)") {
    val (all, copyIds) = withScaledCopies(clustered(10, 30, 0.3))
    // minCos 0.99: organic same-cluster pairs sit near cos ~0.92±0.04
    // at noise 0.3 (they SHOULD be prunable at the default threshold —
    // that's the operator working); only the exact-direction copies
    // (cos = 1) clear 0.99, so the exact-set assertion is stable
    val out = Similarity.semDedup(all, dim, minCos = 0.99).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    copyIds.foreach { id =>
      assert(!out(id), s"scaled copy $id survived semDedup")
    }
    val dropped = out.filter(!_._2).keySet
    assert(dropped == copyIds, s"unexpected drops: ${dropped -- copyIds}")
  }

  test("semDedupPortable equals a brute-force reference of its own rule (s8)") {
    val (all, copyIds) = withScaledCopies(clustered(6, 20, 0.3))
    val got = Similarity.semDedupPortable(all).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    // brute-force reference: axis-sign cell + double cosine, all pairs
    val vecs = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cell(v: Array[Double]): Int =
      (0 until 4).map(i => if (v(i) > 0) 1 << i else 0).sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def d(x: Array[Double], y: Array[Double]) =
        x.zip(y).map { case (p, q) => p * q }.sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)) + 1e-12)
    }
    val want = vecs.map { case (id, v) =>
      val dropped = vecs.exists { case (id2, v2) =>
        id2 < id && cell(v2) == cell(v) && cos(v2, v) >= 0.92
      }
      (id, cell(v), !dropped)
    }.toSet
    assert(got == want)
    copyIds.foreach(id => assert(!got.exists(t => t._1 == id && t._3),
      s"scaled copy $id survived portable semDedup"))
  }

  test("semDedup over-cap cells opt out of pairing: members all KEPT, never dropped") {
    val (all, _) = withScaledCopies(clustered(4, 15, 0.3))
    // cap of 1 puts EVERY cell over cap -> no pairs form -> all kept
    val out = Similarity.semDedupPortable(all, maxCell = 1).collect()
    assert(out.forall(_.getBoolean(2)), "cap dropped documents (must only drop pairs)")
  }

  test("FloatVecNearestCell == composed cellDist/array_min formulation (bit-identical)") {
    val corpus = clustered(8, 25, 0.5)
    val cents = Similarity.kmeansCentroids(corpus, dim, 12)
    val both = corpus.select(col("vec_id"),
      graft.functions.GraftFunctions.fvcell(col("embedding"), cents.map(_._2)).as("native"),
      Similarity.cellOfComposed(col("embedding"), cents).as("composed"))
    val bad = both.filter(col("native") =!= col("composed")).count()
    assert(bad == 0L, s"$bad rows disagree")
    // degenerate inputs: all-NaN and zero vectors assign deterministically
    val weird = spark.createDataFrame(Seq(
      (0L, Seq.fill(dim)(Float.NaN)), (1L, Seq.fill(dim)(0.0f))))
      .toDF("vec_id", "embedding")
    val w = weird.select(
      graft.functions.GraftFunctions.fvcell(col("embedding"), cents.map(_._2)).as("n"),
      Similarity.cellOfComposed(col("embedding"), cents).as("c")).collect()
    w.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("semanticPairsPortable + nearDupClusters: scaled-copy families form min-id components (s9)") {
    val corpus = clustered(5, 12, 0.3)
    val cp2 = corpus.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
    val cp4 = corpus.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 2000L).as("vec_id"),
        transform(col("embedding"), x => x * 4.0f).as("embedding"))
    val all = corpus.unionByName(cp2).unionByName(cp4)
    // threshold 0.99 so ONLY the exact-direction families register
    // (organic same-cluster pairs sit near ~0.92 at noise 0.3)
    val pairs = Similarity.semanticPairsPortable(all, minCos = 0.99)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = (0 until 60 by 20).map(_.toLong)
    seeds.foreach { s =>
      assert(clusters(s) == s && clusters(s + 1000L) == s && clusters(s + 2000L) == s,
        s"family $s: $clusters")
    }
    assert(clusters.size == seeds.size * 3, clusters.toString)
  }

  test("semDedup is total on degenerate embeddings: zero vectors and NaN survive, poison nothing") {
    // zero vector: norm guard keeps it a zero vector, cosine 0 to
    // everything -> kept. NaN components: Spark SQL orders NaN ABOVE
    // every value, so WITHOUT the explicit finiteness guard in
    // cellPairs, cosine-NaN >= minCos is TRUE and the NaN vector
    // DROPS every higher-id cell member (this test caught exactly
    // that). With the guard, degenerate embeddings pair with nothing:
    // both KEPT, and they never delete healthy documents.
    val rows = Seq(
      (0L, Seq.fill(dim)(0.0f)),
      (1L, Seq.fill(dim)(Float.NaN)),
      (2L, Seq.tabulate(dim)(i => if (i == 0) 1.0f else 0.25f)),
      (3L, Seq.tabulate(dim)(i => if (i == 0) 2.0f else 0.5f))) // dup of 2
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    Seq(Similarity.semDedup(corpus, dim), Similarity.semDedupPortable(corpus))
      .foreach { df =>
        val out = df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
        assert(out(0L) && out(1L) && out(2L), out.toString)
        assert(!out(3L), "exact-direction dup of a healthy vector must drop")
      }
  }

  test("portable semantic path: ragged and null-element vectors get a NULL cosine, both docs kept") {
    // planted vector with its mass in the first coords, so a partial
    // dot over a prefix (or with a null read as 0) would score ≥ 0.92
    val planted = Seq.tabulate(dim)(i => if (i < 4) 1.0f - 0.2f * i else 0.05f)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))))
    def row(id: Long, v: Seq[Any]) = org.apache.spark.sql.Row(id, v)
    import scala.jdk.CollectionConverters._
    val corpus = spark.createDataFrame(Seq(
      row(1L, planted),
      row(2L, planted.take(4)),                        // short prefix copy
      row(3L, planted.updated(10, null)),              // null-element copy
      row(4L, planted.map(_ * 2.0f))).asJava, schema)  // honest scaled copy
    val pairs = Similarity.semanticPairsPortable(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 4L)), pairs.toString)
    val kept = Similarity.semDedupPortable(corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(kept == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false), kept.toString)
  }

  test("semDedup plans: no cartesian product, broadcast cap guard") {
    val (all, _) = withScaledCopies(clustered(6, 20, 0.3))
    Seq(Similarity.semDedup(all, dim), Similarity.semDedupPortable(all)).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in semDedup plan:\n$p")
      assert(!p.contains("Window"), s"window in semDedup plan:\n$p")
      assert(p.contains("BroadcastExchange"), "expected broadcast cap guard / drop join")
    }
  }

  test("DoubleVecDot == HOF fold, and prenormed pair cosine == cosineHof, bit-identical (r7)") {
    // the r7 portable-path rewrite (per-row norms + codegen'd double
    // dot) must reproduce the former per-pair interpreted HOF cosine
    // EXACTLY — the s8/s9 oracles compare hashes of values derived
    // from these doubles
    val rng = new scala.util.Random(99)
    val rows = (1 to 40).map { i =>
      (i.toLong, Seq.fill(dim)(rng.nextGaussian()))
    }
    val df = spark.createDataFrame(rows).toDF("id", "v")
    val hofDot = Similarity.dotHof(col("a.v"), col("b.v"))
    val hofCos = hofDot /
      (sqrt(Similarity.dotHof(col("a.v"), col("a.v"))) *
        sqrt(Similarity.dotHof(col("b.v"), col("b.v"))) + lit(1e-12))
    val a = df.withColumn("nrm",
      sqrt(graft.functions.GraftFunctions.dvdot(col("v"), col("v"))))
    val pairs = a.as("a").crossJoin(a.as("b"))
      .select(
        graft.functions.GraftFunctions.dvdot(col("a.v"), col("b.v")).as("fastDot"),
        hofDot.as("slowDot"),
        (graft.functions.GraftFunctions.dvdot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm") + lit(1e-12))).as("fastCos"),
        hofCos.as("slowCos"))
      .collect()
    // bit-level comparison: same doubles, not merely close ones
    val bad = pairs.filter(r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) !=
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ||
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)) !=
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }
}
