package graft

import org.apache.spark.sql.SparkSession

/** r7 optimization-round side bench (guide §1.4): times individual
  * SparkEntry queries in isolation with BOTH the driver's action
  * (`count()`) and the noop sink (which computes every column and
  * cannot be pruned), over several reps, with job descriptions set so
  * the (disabled-in-Bench) UI or event logs stay readable. Does NOT
  * replace Bench.scala — that file is the frozen driver contract; this
  * main exists so optimization evidence in OPTIMIZATION_r07.md can
  * cite per-query, multi-rep numbers without touching the harness.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.BenchExtra q1,q2,... [reps]"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names: Seq[String] =
      if (args.nonEmpty && args(0).nonEmpty) args(0).split(',').toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one untimed warm-up (JIT + codegen), like the driver bench
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[extra] $name warmup failed: ${e.getMessage}") }
      // a failing rep reports -1.0 (the Bench convention) so the
      // remaining reps and queries still run
      val counts = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$name count rep$i")
        try time(fn(spark, sfDir).count()) catch { case _: Throwable => -1.0 }
      }
      val noops = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$name noop rep$i")
        try time(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        catch { case _: Throwable => -1.0 }
      }
      spark.sparkContext.setJobDescription(null)
      def fmt(v: Seq[Double]) = v.map(x => f"$x%.3f").mkString("[", ",", "]")
      // the min of the successful reps; -1.0 only when every rep failed
      def okMin(v: Seq[Double]) = v.filter(_ >= 0).minOption.getOrElse(-1.0)
      println(f"""{"query":"$name","count_min":${okMin(counts)}%.3f,"noop_min":${okMin(noops)}%.3f,"count_reps":${fmt(counts)},"noop_reps":${fmt(noops)}}""")
    }
    spark.stop()
  }
}
