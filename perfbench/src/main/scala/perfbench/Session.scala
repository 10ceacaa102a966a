package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session. */
object Session {

  /** Session confs copied from `graft.Bench`, listed here once so a
    * shared session factory can absorb them. `nproc` replaces Bench's
    * `SPARK_GRAFT_CPUS` for both the master and the shuffle partitions;
    * the split size is Bench's 16 MB default. */
  def benchConfs(nproc: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.files.maxPartitionBytes" -> (16L * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (256L * 1024).toString,
  )

  /** Keeps every file Spark writes under the run's scratch root. */
  private def isolationConfs(scratch: String): Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$scratch/spark-local",
    "spark.sql.warehouse.dir" -> s"$scratch/warehouse",
    "spark.sql.streaming.checkpointLocation" -> s"$scratch/checkpoints",
  )

  def build(nproc: Int, scratch: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
    (benchConfs(nproc) ++ isolationConfs(scratch)).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
