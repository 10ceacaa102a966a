package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is configured. Bench, Verify, the
  * tools and the shared test session all start from [[builder]], so the
  * oracle dump checks, the bench times and the plan pins see the same
  * confs. A caller adds only what is its purpose (a master with task
  * retries, skew thresholds, session extensions).
  *
  * Env: SPARK_GRAFT_CPUS (local[N] and shuffle partitions; default the
  * machine's core count), SPARK_GRAFT_SPLIT_MB (scan split size, read
  * only by the callers that offer it, through [[splitMb]]).
  */
object Session {

  /** SPARK_GRAFT_CPUS, read once. */
  lazy val cpus: Int =
    envInt("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  private val DefaultSplitMb = 16

  /** SPARK_GRAFT_SPLIT_MB, or `default` when unset. */
  def splitMb(default: Int = DefaultSplitMb): Int = envInt("SPARK_GRAFT_SPLIT_MB", default)

  /** Every session conf the factory sets, in the order it sets them. */
  def confs(cores: Int, splitMb: Int = DefaultSplitMb): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // testdata generations before round 5 stored events.ts as
    // NANOS-as-long; a no-op on the current MICROS files
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // Let AQE right-size the output partitioning of persisted plans
    // (CC edge caches, minhash shingle caches): default-off Spark pins
    // a cached plan to the shuffle-partition constant, so every
    // consumer of a small cache pays full-width stages. Measured −1.0 s
    // dedup_clusters / −0.8 s dedup_cluster_best at sf0.1 (same-JVM
    // A/B), results identical (partitioning only).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Allow shuffled-hash join where its size conditions hold: SMJ pays
    // two sorts SHJ doesn't; with AQE's runtime sizes the planner only
    // builds hash maps that fit. Interleaved A/B over the 12 join-heavy
    // queries: 8.83/8.27 s (SMJ) vs 7.67/7.85 s (SHJ allowed). Plans
    // only — results identical.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // The testdata is ONE flat file per table; at sf>=1 the fact file
    // passes the default 128 MB split size and a whole scan would be a
    // single task. 16 MB is best at sf0.1 (11 MB lineitem, ~1 MB row
    // groups): finer splits measured a consistent loss there, since
    // per-task fixed costs exceed the row work they parallelize. Scan
    // parallelism is also capped by the file's row-group count
    // (ScaleGen writes 4 MB blocks for that reason).
    "spark.sql.files.maxPartitionBytes" -> (splitMb.toLong * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (256L * 1024).toString,
  )

  /** A builder preloaded with `local[cores]` and [[confs]]. */
  def builder(appName: String, cores: Int = cpus,
              splitMb: Int = DefaultSplitMb): SparkSession.Builder = {
    val b = SparkSession.builder().master(s"local[$cores]").appName(appName)
    confs(cores, splitMb).foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** A malformed env var names itself instead of surfacing as a bare
    * NumberFormatException from the middle of session construction. */
  private def envInt(name: String, default: => Int): Int =
    sys.env.get(name) match {
      case None => default
      case Some(raw) =>
        try raw.trim.toInt
        catch { case _: NumberFormatException =>
          sys.error(s"$name must be an integer; got '$raw'")
        }
    }
}
