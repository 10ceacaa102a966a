package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.DecimalType

import graft.kv.{KvSchema, KvTable, SinkMode}
import Mains.jstr

/** Streaming fixed-cost amortization probe.
  *
  * The bench times each `stream_*` gate query as ONE AvailableNow run, so
  * its number bundles the per-run engine fixed cost (planning, state-store
  * provider init, offset/commit log writes, no-data finalization) with the
  * per-row work. The 100 TB claim is that the marginal cost of batch 2+ is
  * O(new data): a long-lived stream pays the fixed cost once, then each
  * micro-batch costs rows×unit + a small per-batch floor.
  *
  * This main makes that claim a measurement: each representative streaming
  * shape (stateless upsert, windowed aggregation, stateful dedup,
  * stream-stream interval join) reads its input as K equal files with
  * `maxFilesPerTrigger=1`, so one AvailableNow run executes K real
  * micro-batches through the SAME KvTable foreachBatch sink the gate
  * queries use. A StreamingQueryListener records per-batch
  * triggerExecution time and input rows; the report separates
  *   batch 1   (absorbs per-run setup: state store dirs, sink table create)
  *   steady    (median of batches 2..K — the marginal cost)
  *   finalize  (the trailing zero-row watermark-advance batch, if any).
  *
  * Emits a human table on stdout and one JSON line to
  * SPARK_GRAFT_AMORTIZE_OUT (default target/stream_amortize.json).
  * Env: SPARK_GRAFT_SF_DIR (default target/scale/sf1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_CHUNKS (default 8).
  */
object StreamAmortize {

  private case class BatchRow(batchId: Long, rows: Long, sec: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/repo/target/scale/sf1")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_CHUNKS", "8").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_AMORTIZE_OUT",
      "/root/repo/target/stream_amortize.json")
    val scratch = "/root/repo/target/amortize"

    val spark = Session.builder("graft-stream-amortize").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Split a source table into `chunks` equal files — each becomes one
    // micro-batch under maxFilesPerTrigger=1. Rebuilt only when absent.
    def chunkedDir(t: String): String = {
      val d = s"$scratch/src_${t}_$chunks"
      if (!Files.exists(Paths.get(s"$d/_SUCCESS")))
        spark.read.parquet(s"$sfDir/$t.parquet").repartition(chunks)
          .write.mode("overwrite").parquet(d)
      d
    }
    def chunkedStream(t: String): DataFrame = {
      val d = chunkedDir(t)
      spark.readStream
        .schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    }

    val batches = ArrayBuffer.empty[BatchRow]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized {
          val p = e.progress
          val ms = Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L)
          batches += BatchRow(p.batchId, p.numInputRows, ms / 1000.0)
        }
    }
    spark.streams.addListener(listener)

    // Warm the streaming engine once, exactly as Bench does, so query #1's
    // batch-1 number is per-RUN setup, not one-time engine classloading.
    locally {
      val warm = Files.createTempDirectory("amortize-warm")
      spark.range(4).toDF("id").write.mode("overwrite")
        .parquet(warm.resolve("in").toString)
      val q = spark.range(0).toDF("id").sparkSession.readStream
        .schema("id LONG").parquet(warm.resolve("in").toString)
        .groupBy("id").count()
        .writeStream.outputMode("update")
        .foreachBatch((b: DataFrame, _: Long) => { b.count(); () })
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // One report row per shape; populated by measure().
    val report = ArrayBuffer.empty[(String, Seq[BatchRow])]

    def measure(name: String, outputMode: String = "update")
               (stream: => DataFrame)
               (sink: (DataFrame, Long) => Unit): Unit = {
      batches.synchronized { batches.clear() }
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, 4) // matches StreamQueries.runStream
      try {
        val q = stream.writeStream
          .outputMode(outputMode)
          .foreachBatch(sink)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // listener events are async — wait for all executed batches
        val deadline = System.nanoTime() + 10e9.toLong
        while (System.nanoTime() < deadline &&
          batches.synchronized(batches.isEmpty)) Thread.sleep(50)
        Thread.sleep(500)
      } finally spark.conf.set(key, prev)
      val rows = batches.synchronized(batches.sortBy(_.batchId).toVector)
      report += name -> rows
    }

    // 1. Stateless LWW upsert (kv_stream_upsert shape): no state store;
    //    marginal cost = rows ingested + one manifest segment append.
    locally {
      val path = s"$scratch/kv_upsert"
      KvTable.drop(spark, path)
      val schema = KvSchema.of("o_custkey",
        "o_orderkey" -> ("o", "orderkey"),
        "o_totalprice" -> ("o", "totalprice"))
      val version =
        unix_timestamp(col("o_orderdate")) * lit(1000000000L) + col("o_orderkey")
      measure("upsert") {
        chunkedStream("orders")
      } { (batch, _) =>
        KvTable.write(batch, path, schema, SinkMode.Append, Some(version))
      }
    }

    // 2. Windowed aggregation (kv_stream_window shape): one state store
    //    per shuffle partition; marginal cost = rows + state commit IO.
    locally {
      val path = s"$scratch/kv_window"
      KvTable.drop(spark, path)
      val schema = KvSchema.of("win_key",
        "hour_ts" -> ("w", "hour_ts"),
        "event_type" -> ("w", "event_type"),
        "n" -> ("w", "n"),
        "total_value" -> ("w", "total_value"))
      measure("window_agg") {
        chunkedStream("events")
          .withColumn("t", expr("cast(ts as timestamp)"))
          .withColumn("hour_ts", date_trunc("hour", col("t")))
          .groupBy(col("hour_ts"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double")
              .as("total_value"))
          .withColumn("win_key",
            concat(col("hour_ts").cast("string"), lit("|"), col("event_type")))
      } { (batch, _) =>
        KvTable.write(batch, path, schema, SinkMode.Append)
      }
    }

    // 3. Stateful exact dedup (stream_dedup shape): dropDuplicates state
    //    grows with distinct fingerprints; marginal cost = rows + state.
    locally {
      val path = s"$scratch/kv_dedup"
      KvTable.drop(spark, path)
      val schema = KvSchema.of("fp", "one" -> ("f", "one"))
      measure("dedup") {
        chunkedStream("documents")
          .select(graft.text.TextOps.fingerprint(col("text")).as("fp"))
          .dropDuplicates("fp")
          .withColumn("one", lit(1L))
      } { (batch, _) =>
        KvTable.write(batch, path, schema, SinkMode.Append)
      }
    }

    // 4. Stream-stream interval join (stream_join shape): watermarked
    //    two-sided state; each batch consumes one file per side.
    locally {
      val path = s"$scratch/kv_join"
      KvTable.drop(spark, path)
      val schema = KvSchema.of("jk",
        "user_id" -> ("j", "user_id"),
        "t" -> ("j", "t"),
        "o_orderkey" -> ("j", "orderkey"))
      measure("stream_join", outputMode = "append") {
        val ev = chunkedStream("events")
          .filter(col("user_id") < 50)
          .withColumn("t", expr("cast(ts as timestamp)"))
          .withWatermark("t", "1 day")
          .select(col("user_id"), col("t"))
        val ord = chunkedStream("orders")
          .filter(col("o_custkey") < 50)
          .withColumn("o_orderdate",
            col("o_orderdate").cast("timestamp") + expr("INTERVAL 29 YEARS"))
          .withWatermark("o_orderdate", "1 day")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        ev.join(ord,
          col("user_id") === col("o_custkey") &&
            col("t") >= col("o_orderdate") - expr("INTERVAL 3 DAYS") &&
            col("t") <= col("o_orderdate") + expr("INTERVAL 3 DAYS"))
          .withColumn("jk", concat_ws("|",
            col("user_id"), unix_micros(col("t")), col("o_orderkey")))
          .select(col("jk"), col("user_id"), col("t"), col("o_orderkey"))
      } { (batch, _) =>
        KvTable.write(batch, path, schema, SinkMode.Append)
      }
    }

    // ---- report ----
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)

    println(f"%n${"shape"}%-12s ${"b1_sec"}%8s ${"steady_med"}%10s " +
      f"${"steady_n"}%8s ${"rows/batch"}%10s ${"final_sec"}%9s")
    val jsonRows = report.map { case (name, rows) =>
      val data = rows.filter(_.rows > 0)
      val fin = rows.filter(_.rows == 0)
      val b1 = data.headOption.map(_.sec).getOrElse(0.0)
      val steady = data.drop(1)
      val sm = median(steady.map(_.sec))
      val rb = if (steady.nonEmpty) steady.map(_.rows).sum / steady.length else 0L
      val fs = fin.map(_.sec).sum
      println(f"$name%-12s $b1%8.2f $sm%10.2f ${steady.length}%8d $rb%10d $fs%9.2f")
      s"""${jstr(name)}:{"batch1Sec":$b1,"steadyMedianSec":$sm,""" +
        s""""steadyBatches":${steady.length},"steadyRowsPerBatch":$rb,""" +
        s""""finalizeSec":$fs,"batches":[${rows.map(b =>
          s"""{"id":${b.batchId},"rows":${b.rows},"sec":${b.sec}}""").mkString(",")}]}"""
    }
    val line = s"""{"sf":"$sfDir","chunks":$chunks,"shapes":{${jsonRows.mkString(",")}}}"""
    println(line)
    try Files.writeString(Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[amortize] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
