package graft.ops

import org.apache.spark.sql.DataFrame

/** The one lineage-cut rule. Every frame the library materializes to
  * cut its lineage — `CorpusPipeline`'s stage boundaries, the edge set
  * and every round of the near-dup propagation loop, the LSH bucket
  * tables — goes through `cut`, so a plan can neither re-embed an
  * earlier stage nor grow with each loop round.
  *
  * A session with a checkpoint directory (`SparkContext.setCheckpointDir`,
  * Spark's own deployment setting) gets reliable, directory-backed
  * checkpoints that survive executor loss — set one on a cluster.
  * Without it the cut is executor-local: fast, and fine in local mode,
  * but lost with its executor.
  */
private[graft] object Lineage {

  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
