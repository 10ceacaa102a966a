package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.connector.KvStats
import graft.kv.KvTable

/** kv: the connector's whole life cycle on one table. Each cycle starts
  * from a copy of one bulk-loaded, bucketed base table and
  *  1. applies seeded upsert batches, alternating the V2 (`writeV2`) and
  *     v1 (`write`) paths, with a mix of existing and new keys, then one
  *     `delete` and one `checkAndPut` batch;
  *  2. ingests a file stream through the native `kvtable` streaming sink,
  *     one file per micro-batch;
  *  3. reads the table while it still holds every overlapping version, so
  *     each read pays a real LWW collapse: a full scan, a ~1% rowkey-range
  *     scan, point Gets (half on keys that never existed, the Bloom
  *     pruning case) and an IN-list multi-Get;
  *  4. runs minor and then bucketed major compaction and reads the whole
  *     table once more.
  * Every read is checked against a model computed with plain Spark from
  * the generated inputs. */
final class Kv(run: Run) extends Workload {
  import KvData._
  private val spark = run.spark
  private val seed = run.seed

  val BaseKeys = 50000L
  /** Mutations reach 20% past the bulk-loaded keys, so upserts mix
    * existing and new keys. Key ids are even; odd ids never exist. */
  private val keySpan = BaseKeys * 12 / 10
  val Upserts = 4
  val StreamFiles = 4
  val Gets = 4
  val MultiGetKeys = 10
  /** A range covers 1% of the key space. */
  private val rangeWidth = keySpan * 2 / 100

  private val dir = s"${run.scratch}/kv"
  private val base = s"$dir/base"
  private def input(name: String) = s"$dir/inputs/$name"
  private def upsertIn(b: Int) = input(s"upsert-$b")

  private var upsertRows = Seq.empty[Long]
  private var deleteRows = 0L
  private var capApplied = 0L
  private var streamRows = 0L
  private var expectAll: (Long, Long) = (0L, 0L)
  private val ranges = ArrayBuffer.empty[(String, String, (Long, Long))]
  private val getKeys = ArrayBuffer.empty[String]
  private val multiGets = ArrayBuffer.empty[Seq[String]]
  private var expectRows: Map[String, Map[String, Any]] = Map.empty

  private val ingestRate, streamRate, compactS, bytesPerRow = ArrayBuffer.empty[Double]
  private val scanRate, rangeMs, getMs = ArrayBuffer.empty[Double]

  def setup(): Unit = {
    val ids = (df: DataFrame) => df.select((col("id") * 2).as("id"))
    val baseRows = rows(ids(spark.range(BaseKeys).toDF("id")), seed, 0)
    run.setup("data.bulk_load")(KvTable.bulkLoad(baseRows, base, schema, Buckets))
    run.setup("data.inputs") {
      (1 to Upserts).foreach { b =>
        rows(ids(pick(spark, keySpan, seed, b, 5)), seed, b).write.parquet(upsertIn(b))
      }
      pick(spark, keySpan, seed, 90, 25).select(rowkeyCol(col("id") * 2).as("rk"))
        .write.parquet(input("delete"))
      // one file per micro-batch; the files hold disjoint keys, so the
      // order the stream takes them in cannot change the result
      (0 until StreamFiles).foreach { f =>
        val tmp = input(s"stream-tmp/$f")
        rows(ids(pick(spark, keySpan, seed, 200, StreamFiles * 8, f)), seed, 200 + f)
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        new java.io.File(input("stream")).mkdirs()
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(input(s"stream/part-$f.parquet")))
      }
    }
    val ups = (1 to Upserts).map(b => (b, false, spark.read.parquet(upsertIn(b))))
    val dead = spark.read.parquet(input("delete"))
    val stream = spark.read.parquet(input("stream"))
    run.setup("data.model") {
      val rnd = new scala.util.Random(seed)
      // checkAndPut expects the current a_long for about half its keys
      // (applied) and a value the key cannot hold for the rest (skipped)
      val state = lww((0, false, baseRows) +: ups :+ ((Upserts + 1, true, tombstones(dead))))
        .select(col("rk"), col("a_long").as("cur"))
      rows(ids(pick(spark, keySpan, seed, 91, 25)), seed, 91)
        .join(state, Seq("rk"), "left")
        .withColumn("exp_a_long", when(substring(col("rk"), -1, 1).cast("int") % 4 === 0, col("cur"))
          .otherwise(coalesce(col("cur"), lit(0L)) + 1))
        .drop("cur").write.parquet(input("cap"))
      val applied = spark.read.parquet(input("cap")).join(state, Seq("rk"), "left")
        .filter(col("exp_a_long") <=> col("cur")).select(fields.map(col): _*)
      val counts = (ups.map { case (b, _, df) => df.select(lit(s"upsert-$b").as("in")) } ++ Seq(
        dead.select(lit("delete").as("in")), applied.select(lit("cap").as("in")),
        stream.select(lit("stream").as("in")))).reduce(_ union _)
        .groupBy("in").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      upsertRows = (1 to Upserts).map(b => counts.getOrElse(s"upsert-$b", 0L))
      deleteRows = counts.getOrElse("delete", 0L)
      capApplied = counts.getOrElse("cap", 0L)
      streamRows = counts.getOrElse("stream", 0L)
      val model = lww(((0, false, baseRows) +: ups) ++ Seq((Upserts + 1, true, tombstones(dead)),
        (Upserts + 2, false, applied), (Upserts + 3, false, stream))).cache()
      expectAll = digestOf(digest(model).collect()(0))

      (0 until 16).foreach { _ =>
        val lo = (rnd.nextDouble() * (keySpan * 2 - rangeWidth)).toLong
        ranges += ((rowkey(lo), rowkey(lo + rangeWidth), (0L, 0L)))
      }
      val rangeDf = spark.createDataFrame(ranges.zipWithIndex.map { case ((lo, hi, _), i) => (i, lo, hi) }.toSeq)
        .toDF("r", "lo", "hi")
      val byRange = model.join(broadcast(rangeDf), col("rk") >= col("lo") && col("rk") < col("hi"))
        .groupBy("r").agg(count(lit(1)), sum(pmod(xxhash64(fields.map(col): _*), lit(2147483647L))))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      ranges.indices.foreach(i => ranges(i) = ranges(i).copy(_3 = byRange.getOrElse(i, (0L, 0L))))
      // half the probes are ids that were written (some since deleted),
      // half odd ids that never existed
      def drawKey(present: Boolean): String = {
        val id = (rnd.nextDouble() * keySpan).toLong * 2
        rowkey(if (present) id else id + 1)
      }
      (0 until 64).foreach(i => getKeys += drawKey(i % 2 == 0))
      (0 until 16).foreach(_ => multiGets += (0 until MultiGetKeys).map(i => drawKey(i % 2 == 0)))
      val probe = (getKeys ++ multiGets.flatten).distinct
      expectRows = model.filter(col("rk").isin(probe.toSeq: _*)).collect()
        .map(r => r.getString(0) -> asMap(r)).toMap
      model.unpersist()
    }
  }

  private def wallMs = run.ops.last.wallMs
  /** Gets walk the probe list, which alternates present and absent keys. */
  private var getCursor = 0

  def cycle(i: Int): Unit = {
    val path = s"$dir/cycle-$i"
    copyTree(base, path)
    val mutationMs = ArrayBuffer.empty[Double]
    var applied = 0L
    (1 to Upserts).foreach { b =>
      val in = spark.read.parquet(upsertIn(b))
      if (b % 2 == 1) mutate("upsert_v2", "graft.connector.write", path)(KvTable.writeV2(in, path, schema))
      else mutate("upsert_v1", "graft.kv", path)(KvTable.write(in, path, schema))
      mutationMs += wallMs; applied += upsertRows(b - 1)
    }
    mutate("delete", "graft.kv", path)(KvTable.delete(spark.read.parquet(input("delete")), path, schema))
    mutationMs += wallMs; applied += deleteRows
    mutateChecked("check_and_put", "graft.kv", path) {
      KvTable.checkAndPut(spark.read.parquet(input("cap")), path, schema, "a_long", col("exp_a_long"))
    } { n => if (n == capApplied) None else Some(s"applied $n updates, want $capApplied") }
    mutationMs += wallMs; applied += capApplied
    ingestRate += applied / (mutationMs.sum / 1e3)

    mutate("stream", "graft.streaming", path) {
      spark.readStream.schema(spark.read.parquet(input("stream")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input("stream"))
        .writeStream.format("kvtable")
        .option("kvschema", schema.toJson)
        .option("checkpointLocation", s"$dir/ckpt-$i")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start(path)
        .awaitTermination()
    }
    streamRate += streamRows / (wallMs / 1e3)

    reads(path, i)

    val filesBefore = files(path).size
    mutate("compact_minor", "graft.kv", path)(KvTable.compactMinor(spark, path))
    val minorMs = wallMs
    mutate("compact_major", "graft.kv", path)(KvTable.compactBucketed(spark, path, Buckets))
    compactS += (minorMs + wallMs) / 1e3
    if (run.traced) {
      run.layer.add("compact.minor_s", minorMs / 1e3)
      run.layer.add("compact.major_s", wallMs / 1e3)
      run.layer.add("compact.files_before", filesBefore)
      run.layer.add("compact.files_after", files(path).size)
      run.layer.add("live_bytes", dirBytes(s"$path/data").toDouble)
    }
    read("verify", path, digestRead(KvTable.readV2(spark, path)), expectAll._1)(checkDigest(_, expectAll))
    bytesPerRow += dirBytes(path) / math.max(1L, expectAll._1).toDouble
    deleteTree(path)
    deleteTree(s"$dir/ckpt-$i")
  }

  /** The read phase, in a seeded order. */
  private def reads(path: String, i: Int): Unit = {
    val kinds = Seq("scan", "range", "multiget") ++ Seq.fill(Gets)("get")
    new scala.util.Random(seed * 7919 + i).shuffle(kinds).foreach {
      case "scan" =>
        read("scan", path, digestRead(KvTable.readV2(spark, path)), expectAll._1)(checkDigest(_, expectAll))
          .foreach(d => scanRate += d._1 / (wallMs / 1e3))
      case "range" =>
        val (lo, hi, want) = ranges(i % ranges.size)
        read("range", path, digestRead(KvTable.readV2(spark, path)
          .filter(col("rk") >= lo && col("rk") < hi)), want._1)(checkDigest(_, want))
          .foreach(_ => rangeMs += wallMs)
      case "get" =>
        val k = getKeys(getCursor % getKeys.size); getCursor += 1
        val want = expectRows.get(k).toSeq
        read("get", path, rowsRead(KvTable.get(spark, path, k)), want.size.toLong) { got =>
          if (got == want) None else Some(s"get $k returned $got, want $want")
        }.foreach(_ => getMs += wallMs)
      case "multiget" =>
        val ks = multiGets(i % multiGets.size)
        val want = ks.flatMap(expectRows.get)
        read("multiget", path, rowsRead(KvTable.readV2(spark, path).filter(col("rk").isin(ks: _*))),
          want.size.toLong) { got =>
          if (got.toSet == want.toSet && got.size == want.size) None
          else Some(s"multiget returned ${got.size} rows, want ${want.size}")
        }
    }
  }

  private def digestRead(df: => DataFrame) =
    () => { val (d, rows) = run.query("graft.kv")(digest(df)); (d, digestOf(rows(0))) }

  private def rowsRead(df: => DataFrame) =
    () => { val (d, rows) = run.query("graft.kv")(df); (d, rows.map(asMap).toSeq) }

  private def checkDigest(got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"(rows, checksum) = $got, want $want")

  /** One read op; on traced cycles it also adds the connector's scan
    * counts: row groups in the manifest and planned, rows the scan
    * produced and rows the read returned. */
  private def read[T](kind: String, path: String, body: () => (DataFrame, T), rowsReturned: Long)(
      check: T => Option[String]): Option[T] = {
    val res = run.op(kind)(body()) { case (_, v) => check(v) }
    res.foreach { case (df, _) =>
      if (run.traced) {
        val (planned, produced) = run.scanCounts(df)
        val total = KvStats.read(path, spark.sparkContext.hadoopConfiguration)
          .map(_.files.map(_.groups.size.toLong).sum).getOrElse(0L)
        run.layer.add("scan.row_groups_total", total.toDouble)
        run.layer.add("scan.row_groups_planned", planned.toDouble)
        run.layer.add("scan.rows_read", produced.toDouble)
        run.layer.add("scan.rows_returned", rowsReturned.toDouble)
        run.lastTrace.foreach(t => run.layer.add("scan.task_s", t.stageSum("task_ms") / 1e3))
      }
    }
    res.map(_._2)
  }

  /** One mutation op: the call is a span of `layer`; on traced cycles
    * the files it adds and the split of its time between Spark jobs and
    * the driver-side commit are counted. */
  private def mutateChecked[T](kind: String, layer: String, path: String)(call: => T)(
      check: T => Option[String]): Unit = {
    val before = if (run.traced) files(path) else Map.empty[String, Long]
    run.op(kind)(run.tracer.span(layer, "call")(call))(check)
    if (run.traced) {
      val added = files(path).filter { case (f, _) => !before.contains(f) }
      val bytes = added.values.sum.toDouble
      if (kind.startsWith("compact")) run.layer.add("compact.bytes_rewritten", bytes)
      else {
        run.layer.add("write.files_added", added.size)
        run.layer.add("write.bytes_written", bytes)
        run.lastTrace.foreach { t =>
          t.spans.find(_.name == "call").foreach { c =>
            val jobNs = t.jobNsWithin(c)
            run.layer.add("write.job_s", jobNs / 1e9)
            run.layer.add("write.commit_s", (c.dur - jobNs) / 1e9)
          }
        }
      }
    }
  }

  private def mutate(kind: String, layer: String, path: String)(call: => Unit): Unit =
    mutateChecked[Unit](kind, layer, path)(call)(_ => None)

  def detail(): Seq[(String, Double, String)] = {
    def med(xs: ArrayBuffer[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    val (p, tail) = if (getMs.isEmpty) (0.0, 0.0) else Stats.tail(getMs.toSeq)
    Seq(
      ("scan_rows_per_s", med(scanRate), "rows/s"),
      ("range_p50_ms", med(rangeMs), "ms"),
      ("get_p50_ms", med(getMs), "ms"),
      ("get_tail_ms", tail, "ms"),
      ("get_tail_percentile", p, "pct"),
      ("get_samples", getMs.size.toDouble, "count"),
      ("ingest_rows_per_s", med(ingestRate), "rows/s"),
      ("stream_rows_per_s", med(streamRate), "rows/s"),
      ("compact_s", med(compactS), "s"),
      ("stored_bytes_per_live_row", med(bytesPerRow), "B/row"))
  }
}
