package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import Mains.jstr

/** Degradation probe for the SKEWED replicas (`ScaleGen ... skew`):
  * runs the shuffle-heavy + LSH/blocking query families and reports,
  * per query, the facts the no-silent-caps rule demands —
  *
  *  - the named `observe` metrics (dropped_buckets / max_bucket /
  *    block metrics) from the capped-bucket pipelines, so hot-block
  *    DROPS are visible instead of silent;
  *  - whether AQE's skew-join split activated (`skew=true` on a
  *    shuffle join in the final adaptive plan);
  *  - wall time, so the skew run can be ratioed against the uniform
  *    run of the same SF.
  *
  * Usage: runMain graft.SkewProbe <sfDir> [query,query,...]
  * Prints one JSON line per query plus a trailing summary line.
  */
object SkewProbe {

  /** Demonstrates that AQE's skew-join split ACTIVATES on the skewed
    * replica's hot join key once a skewed partition crosses the
    * thresholds. At production scale the default thresholds (256 MB
    * skewed-partition floor) do this unaided; test-sized partitions
    * (the sf1 hot partition is ~10 MB) never reach them, so the demo
    * lowers the thresholds and pins broadcast off — proving the
    * MECHANISM the engine relies on at 100 TB, with the real default
    * knobs documented. Prints one JSON line; exits nonzero if the final
    * adaptive plan contains no skew=true shuffle join. */
  private def aqeDemo(sfDir: String): Unit = {
    val spark = Session.builder("graft-aqe-skew-demo", cores = 8)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var sawSkew = false
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        sawSkew ||= qe.executedPlan.toString.contains("skew=true")
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_totalprice")
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_mktsegment")
    import org.apache.spark.sql.functions._
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"))
      .write.format("noop").mode("overwrite").save()
    org.apache.spark.graftbridge.ListenerFlush(spark.sparkContext)
    println(s"""{"probe":"aqedemo","skew_join_split":$sawSkew,"sf":"$sfDir"}""")
    spark.stop()
    if (!sawSkew) sys.exit(1)
  }

  private val DefaultQueries = Seq(
    // LSH / blocking families (hot lang+source block, hot embedding cluster)
    "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_containment", "dedup_embed_cosine", "ann_lsh_neardup",
    // hot join/group keys (o_custkey / l_partkey / l_suppkey / user_id)
    "q_skew_join", "q_tpch_q5", "q_tpch_q9", "q_tpch_q18", "q_tpch_q21",
    "q1_agg", "q_window_funcs", "q_sessionize", "text_tfidf",
    "dedup_clusters")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    if (args.length > 1 && args(1) == "aqedemo") { aqeDemo(sfDir); return }
    val names = if (args.length > 1) args(1).split(",").toSeq else DefaultQueries
    val spark = Session.builder("graft-skewprobe", splitMb = Session.splitMb(1))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // collect observe metrics + the final adaptive plan per action
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Map[String, String], Boolean)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        val obs = qe.observedMetrics.map { case (k, row) =>
          k -> row.schema.fieldNames.map(f =>
            s"$f=${row.getAs[Any](f)}").mkString(",")
        }.toMap
        val skew = qe.executedPlan.toString.contains("skew=true")
        seen.add((obs, skew))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })

    var failures = 0
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      seen.clear()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => failures += 1; Some(e) }
      org.apache.spark.graftbridge.ListenerFlush(spark.sparkContext)
      val dt = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val entries = seen.asScala.toSeq
      val obs = entries.flatMap(_._1).toMap
      val skew = entries.exists(_._2)
      val obsJson = obs.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
      println(s"""{"query":${jstr(name)},"sec":$dt,"skew_join_split":$skew,""" +
        s""""observed":$obsJson,"error":${err.map(e => jstr(
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"))
          .getOrElse("null")}}""")
    }
    println(s"""{"probe":"done","queries":${names.length},"failures":$failures,"sf":${jstr(sfDir)}}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
