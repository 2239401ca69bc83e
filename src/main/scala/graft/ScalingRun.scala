package graft

import org.apache.spark.sql.SparkSession

/** One scaling measurement: run the extraction pipeline over a given
  * corpus `reps` times (after a warm-up pass) inside the CURRENT Spark
  * master (set by spark-submit — e.g. local-cluster[4,4,4096]) and
  * print one JSON line with the per-pass seconds. Invoked by
  * graft.ScalingBench via spark-submit; runnable standalone.
  */
object ScalingRun {
  def main(args: Array[String]): Unit = {
    val corpus = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cores = graft.job.Partitioning.masterCores(spark.sparkContext, 4)
    val spec = graft.job.Partitioning.defaultSpec(cores)

    def pass(): Double = {
      val t0 = System.nanoTime()
      graft.job.ExtractJob.plan(spark, spark.read.parquet(corpus), null, spec)
        .filter(_.error.isEmpty).count()
      (System.nanoTime() - t0) / 1e9
    }

    pass() // warm executors + JIT
    val times = (1 to reps).map(_ => pass())
    val execs = spark.sparkContext.getExecutorMemoryStatus.size
    println(s"""SCALING_RUN_JSON {"cores":$cores,"executors":$execs,"runs":[${times.map(t => f"$t%.2f").mkString(",")}]}""")
    spark.stop()
  }
}
