package graft.connector

import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestSpark}
import graft.kv.{KvSchema, KvTable, SinkMode}

class KvTableSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeTwoBatches(): String = {
    val path = TestSpark.scratch("v2-table")
    val schema = KvSchema.of("k", "v" -> ("f", "v"), "n" -> ("f", "n"))
    // Two writes -> at least two files with disjoint key ranges.
    val low = Seq(("a1", "x", 1L), ("a2", "y", 2L)).toDF("k", "v", "n").coalesce(1)
    val high = Seq(("z8", "p", 8L), ("z9", "q", 9L)).toDF("k", "v", "n").coalesce(1)
    KvTable.write(low, path, schema, SinkMode.Replace)
    KvTable.write(high, path, schema, SinkMode.Append)
    path
  }

  test("limit pushdown truncates planning to the covering row groups; " +
    "filtered scans never truncate") {
    val path = writeTwoBatches()
    val df = spark.read.format("kvtable").load(path)
    val all = df.rdd.getNumPartitions
    assert(all >= 2)
    // builder-level: a pushed limit of 1 plans exactly the first group
    val b = new KvScanBuilder(path, df.schema)
    assert(!b.pushLimit(1)) // PARTIAL push: Spark keeps its own Limit
    val planned = b.build().asInstanceOf[KvScan].planInputPartitions()
    assert(planned.length === 1)
    // a filter disables truncation even if a limit were pushed
    val bf = new KvScanBuilder(path, df.schema)
    bf.pushFilters(Array(org.apache.spark.sql.sources.GreaterThanOrEqual("k", "z")))
    bf.pushLimit(1)
    val plannedF = bf.build().asInstanceOf[KvScan].planInputPartitions()
    assert(plannedF.nonEmpty) // the z-file group, NOT truncated-to-wrong
    // end-to-end: LIMIT answers correctly through the V2 path
    assert(df.limit(3).count() === 3)
    assert(df.orderBy("k").limit(2).select("k").as[String].collect()
      === Array("a1", "a2"))
  }

  test("top-N pushdown plans only the covering key-ordered groups on " +
    "disjoint layouts; overlap or non-key sorts decline") {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val path = writeTwoBatches() // disjoint ranges: a-file, z-file
    val df = spark.read.format("kvtable").load(path)
    def builder() = new KvScanBuilder(path, df.schema)
    val asc = Expressions.sort(Expressions.column("k"), SortDirection.ASCENDING)
    val desc = Expressions.sort(Expressions.column("k"), SortDirection.DESCENDING)

    val b = builder()
    assert(b.pushTopN(Array(asc), 2))
    val pAsc = b.build().asInstanceOf[KvScan].planInputPartitions()
    assert(pAsc.length === 1) // the low-key group alone covers n=2

    val b2 = builder()
    assert(b2.pushTopN(Array(desc), 2))
    val pDesc = b2.build().asInstanceOf[KvScan].planInputPartitions()
    assert(pDesc.length === 1)
    assert(pDesc(0).asInstanceOf[KvInputPartition].file
      !== pAsc(0).asInstanceOf[KvInputPartition].file) // other end

    // a batch spanning the whole key range makes groups overlap ->
    // truncation declines (full plan), the query stays correct
    val schema = KvSchema.of("k", "v" -> ("f", "v"), "n" -> ("f", "n"))
    KvTable.write(Seq(("a0", "w", 0L), ("z7", "r", 7L))
      .toDF("k", "v", "n").coalesce(1), path, schema)
    val b3 = builder()
    assert(b3.pushTopN(Array(asc), 1))
    val p3 = b3.build().asInstanceOf[KvScan].planInputPartitions()
    assert(p3.length === 3) // every group: overlap detected

    // e2e ordered limit through the V2 path
    assert(spark.read.format("kvtable").load(path).orderBy("k").limit(2)
      .select("k").as[String].collect() === Array("a0", "a1"))

    // a sort on a non-key column is not accepted at all
    assert(!builder().pushTopN(
      Array(Expressions.sort(Expressions.column("v"),
        SortDirection.ASCENDING)), 1))

    // NULL rowkeys are rejected at WRITE time (HBase throws on null
    // row keys; a null key would also break the non-nullable V2 read
    // schema) — the write fails, the table keeps its prior state, and
    // top-N truncation additionally requires a recorded ZERO key null
    // count per group (defense in depth for pre-guard data)
    val path2 = TestSpark.scratch("v2-topn-null")
    KvTable.write(Seq(("a1", "x", 1L), ("a2", "y", 2L))
      .toDF("k", "v", "n").coalesce(1), path2, schema, SinkMode.Replace)
    val ex = intercept[Exception] { // SparkRuntimeException when the
      // literal null constant-folds driver-side, SparkException when a
      // task hits it — either way the write must fail with the message
      KvTable.write(Seq(("z8", "p", 8L), (null.asInstanceOf[String], "q", 9L))
        .toDF("k", "v", "n").coalesce(1), path2, schema)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("null rowkey")))
    assert(spark.read.format("kvtable").load(path2).count() === 2)
  }

  test("compacted table reports rowkey ordering: sortWithinPartitions " +
    "on the key plans NO Sort; unverified layouts keep the Sort") {
    val path = TestSpark.scratch("v2-ordered")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    // write UNSORTED within the input partition -> observed order false
    KvTable.write(Seq(("b2", 2L), ("a1", 1L), ("c3", 3L))
      .toDF("k", "v").coalesce(1), path, schema, SinkMode.Replace)
    def sortNodes(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Sort ".r.findAllIn(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head).size
    }
    val before = sortNodes(spark.read.format("kvtable").load(path)
      .sortWithinPartitions("k"))
    assert(before > 0, "unverified layout must keep its local sort")
    KvTable.compact(spark, path) // key-sorts files, records sorted=true
    val after = sortNodes(spark.read.format("kvtable").load(path)
      .sortWithinPartitions("k"))
    assert(after === 0,
      "compacted layout must satisfy the local sort from reported ordering")
    // the report is per-partition only: a GLOBAL orderBy read stays
    // correct (content identical to the sorted collect)
    assert(spark.read.format("kvtable").load(path).orderBy("k")
      .select("k").as[String].collect() === Array("a1", "b2", "c3"))
  }

  test("invalid-UTF8 rowkeys decline the sorted claim (rendering is " +
    "not byte-faithful): the scan keeps a required local Sort") {
    val path = TestSpark.scratch("v2-unfaithful")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    // raw key order is DESCENDING (0xFF > 0xEF 0xBF 0xBE) but both keys
    // render U+FFFD/U+FFFE — ASCENDING — so a toString-based order
    // observation would record sorted=true for an order the raw bytes
    // don't have, and the scan would drop a Sort the query requires.
    val rows = Seq(
      (Array(0xff.toByte), 1L),
      (Array(0xef.toByte, 0xbf.toByte, 0xbe.toByte), 2L))
    KvTable.write(
      rows.toDF("b", "v").select($"b".cast("string").as("k"), $"v")
        .coalesce(1),
      path, schema, SinkMode.Replace)
    val rd = spark.read.format("kvtable").load(path).sortWithinPartitions("k")
    rd.collect()
    val sorts = "Sort ".r.findAllIn(rd.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head).size
    assert(sorts > 0,
      "non-byte-faithful keys must not let the scan report an ordering")
  }

  test("format(kvtable) reads the raw log with engine columns") {
    val path = writeTwoBatches()
    val df = spark.read.format("kvtable").load(path)
    assert(df.columns.toSet ===
      Set("k", "v", "n", "__version", "__seq", "__tombstone"))
    val rows = df.select("k", "v", "n").orderBy("k")
      .as[(String, String, Long)].collect()
    assert(rows === Array(("a1", "x", 1L), ("a2", "y", 2L),
      ("z8", "p", 8L), ("z9", "q", 9L)))
    // matches Spark's own parquet read of the data files exactly
    val viaParquet = spark.read.parquet(s"$path/data")
      .select("k", "v", "n").orderBy("k").as[(String, String, Long)].collect()
    assert(rows === viaParquet)
  }

  test("an unbucketed raw scan packs unsorted single-group appends into " +
    "as many tasks as Spark's file source plans over the same files") {
    val path = TestSpark.scratch("v2-packing")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    val n = 12
    // key-descending rows: no file is recorded key-sorted
    (0 until n).foreach(i => KvTable.write(
      Seq((f"k$i%02d-b", s"v$i"), (f"k$i%02d-a", s"w$i")).toDF("k", "v").coalesce(1),
      path, schema))
    val raw = KvTable.readRaw(spark, path)
    val files = spark.read.parquet(s"$path/data")
    val tasks = raw.rdd.getNumPartitions
    assert(tasks === files.rdd.getNumPartitions)
    assert(tasks < n, s"$n single-group files planned $tasks tasks")
    val cols = Seq("k", "v", "__version", "__seq", "__tombstone").map(col)
    val got = raw.select(cols: _*)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      files.select(cols: _*).collect().map(_.toString).sorted.toSeq)
    val scan = KvMergeFixtures.nodes(got.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.metrics(KvScanMetrics.RowGroupsPlanned).value === n.toLong)
  }

  test("key-range filter prunes whole files from the plan (region pruning)") {
    val path = writeTwoBatches()
    val df = spark.read.format("kvtable").load(path)
    def partitions(d: org.apache.spark.sql.DataFrame): Int =
      d.rdd.getNumPartitions
    val all = partitions(df.select("k", "v"))
    val pruned = partitions(df.filter($"k" >= "z").select("k", "v"))
    assert(all >= 2)
    assert(pruned < all) // the low-key file never becomes a partition
    // correctness of the residual filter
    assert(df.filter($"k" >= "z").select("k").as[String].collect().sorted ===
      Array("z8", "z9"))
    // closed-open boundary: filter INSIDE a file's range keeps the file
    assert(df.filter($"k" >= "a2" && $"k" < "z9").select("k")
      .as[String].collect().sorted === Array("a2", "z8"))
  }

  test("column pruning reaches the scan description") {
    val path = writeTwoBatches()
    val df = spark.read.format("kvtable").load(path)
      .filter($"k" >= "z").select("v")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters"))
    assert(df.as[String].collect().sorted === Array("p", "q"))
  }

  test("V2 write path: append + overwrite-truncate round trip") {
    val path = TestSpark.scratch("v2-write")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.writeV2(Seq(("a", "1"), ("b", "2")).toDF("k", "v"), path, schema,
      graft.kv.SinkMode.Replace)
    assert(KvTable.read(spark, path).count() === 2)
    // append: upsert b, add c
    KvTable.writeV2(Seq(("b", "2x"), ("c", "3")).toDF("k", "v"), path, schema)
    val rows = KvTable.read(spark, path).orderBy("k")
      .as[(String, String)].collect()
    assert(rows === Array(("a", "1"), ("b", "2x"), ("c", "3")))
    // overwrite truncates driver-side: only the new generation remains
    KvTable.writeV2(Seq(("z", "9")).toDF("k", "v"), path, schema,
      graft.kv.SinkMode.Replace)
    assert(KvTable.read(spark, path).as[(String, String)].collect() ===
      Array(("z", "9")))
    // V2-written files are readable through the V2 scan too
    assert(KvTable.readV2(spark, path).as[(String, String)].collect() ===
      Array(("z", "9")))
  }

  test("V2 write stages invisibly and publishes atomically; Replace may change schema") {
    val path = TestSpark.scratch("v2-staging")
    val s1 = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.writeV2(Seq(("a", "1")).toDF("k", "v"), path, s1,
      graft.kv.SinkMode.Replace)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"$path/.staging")
    // after commit the staging area holds no files
    assert(!fs.exists(staging) || fs.listStatus(staging).forall(!_.isFile))
    // Replace with a DIFFERENT schema succeeds (drop + recreate contract)
    val s2 = KvSchema.of("k", "w" -> ("g", "w"))
    KvTable.writeV2(Seq(("x", 5L)).toDF("k", "w"), path, s2,
      graft.kv.SinkMode.Replace)
    assert(KvTable.readSchema(spark, path) === s2)
    assert(KvTable.read(spark, path).as[(String, Long)].collect() ===
      Array(("x", 5L)))
  }

  test("point get casts the probe to the stored key type (Int vs Long)") {
    val path = TestSpark.scratch("v2-getcast")
    val s = KvSchema.of("id", "v" -> ("f", "v"))
    KvTable.write((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"),
      path, s, graft.kv.SinkMode.Replace)
    KvTable.compactBucketed(spark, path, 8)
    // probe with a Scala Int against the LongType key column
    assert(KvTable.get(spark, path, 42).as[(Long, String)].collect() ===
      Array((42L, "v42")))
    assert(KvTable.get(spark, path, 42L).as[(Long, String)].collect() ===
      Array((42L, "v42")))
  }

  test("bucketed readV2 plans WITHOUT a shuffle (reported partitioning)") {
    val path = TestSpark.scratch("v2-bucketed-nx")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.write((1 to 200).map(i => (s"k$i", s"v$i")).toDF("k", "v"),
      path, schema, SinkMode.Replace)
    KvTable.compactBucketed(spark, path, buckets = 4)
    val lww = KvTable.readV2(spark, path)
    val plan = lww.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"bucketed LWW read should not shuffle:\n$plan")
    // and the values are identical to the v1 parquet-path read
    assert(lww.orderBy("k").as[(String, String)].collect() ===
      KvTable.read(spark, path).orderBy("k").as[(String, String)].collect())
  }

  test("V2 appends to a bucket-compacted table stay bucket-aligned; " +
    "deleteV2 dispatches tombstones through the same writer") {
    val path = TestSpark.scratch("v2-bucketed-append")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.write((1 to 40).map(i => (s"k$i", s"v$i")).toDF("k", "v"),
      path, schema, SinkMode.Replace)
    KvTable.compactBucketed(spark, path, buckets = 4)
    // V2 append upserts an existing key and adds a new one
    KvTable.writeV2(Seq(("k7", "V7"), ("new", "N")).toDF("k", "v"), path, schema)
    // appended files landed inside __bucket=N dirs (no stray root files)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val stray = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(stray.isEmpty, s"unbucketed files after V2 append: ${stray.mkString}")
    // point-get still prunes to one bucket and sees the upsert
    assert(KvTable.get(spark, path, "k7").as[(String, String)].collect() ===
      Array(("k7", "V7")))
    assert(KvTable.get(spark, path, "new").as[(String, String)].collect() ===
      Array(("new", "N")))
    // tombstone through the V2 writer hides the key on both read paths
    KvTable.deleteV2(Seq("k7").toDF("k"), path, schema)
    assert(KvTable.read(spark, path).filter($"k" === "k7").count() === 0)
    assert(KvTable.readV2(spark, path).filter($"k" === "k7").count() === 0)
    assert(KvTable.readV2(spark, path).count() === 40L) // 40 + new - k7
  }

  test("V2 write declares its distribution: an append lands at most one " +
    "file per bucket regardless of input partitioning") {
    val path = TestSpark.scratch("v2-dist")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.write((1 to 40).map(i => (s"k$i", s"v$i")).toDF("k", "v"),
      path, schema, SinkMode.Replace)
    KvTable.compactBucketed(spark, path, buckets = 3)
    val before = countDataFiles(path)
    // 8 input partitions, keys spanning every bucket: without the
    // declared clustering each of the 8 tasks could open a writer in
    // every bucket it touches (up to 24 files, B row-group buffers per
    // task); with RequiresDistributionAndOrdering Spark shuffles into
    // exactly 3 key-clustered partitions -> at most one file per bucket
    KvTable.writeV2(
      (1 to 40).map(i => (s"k$i", s"u$i")).toDF("k", "v").repartition(8),
      path, schema)
    val added = countDataFiles(path) - before
    assert(added <= 3, s"append produced $added files (expected <= 3 buckets)")
    assert(KvTable.get(spark, path, "k7").as[(String, String)].collect() ===
      Array(("k7", "u7")))
  }

  private def countDataFiles(path: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val entries = fs.listStatus(p)
      entries.filter(_.isFile).toSeq ++
        entries.filter(_.isDirectory).flatMap(d => walk(d.getPath))
    }
    walk(new org.apache.hadoop.fs.Path(s"$path/data"))
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  test("joinBucketed: scans, LWW collapses AND the join all plan with " +
    "ZERO Exchange (storage-partitioned join)") {
    val pa = TestSpark.scratch("spj-a")
    val pb = TestSpark.scratch("spj-b")
    val sa = KvSchema.of("k", "va" -> ("f", "a"))
    val sb = KvSchema.of("k", "vb" -> ("f", "b"))
    KvTable.write((1 to 40).map(i => (s"k$i", s"a$i")).toDF("k", "va"),
      pa, sa, SinkMode.Replace)
    KvTable.write((1 to 20).map(i => (s"k$i", s"b$i")).toDF("k", "vb"),
      pb, sb, SinkMode.Replace)
    // an upsert + delete so both LWW collapses have real work to do
    KvTable.write(Seq(("k3", "a3x")).toDF("k", "va"), pa, sa)
    KvTable.delete(Seq("k4").toDF("k"), pb, sb)
    KvTable.compactBucketed(spark, pa, 3)
    KvTable.compactBucketed(spark, pb, 3)
    val j = KvTable.joinBucketed(spark, pa, pb)
    val rows = j.orderBy("k").as[(String, String, String)].collect()
    assert(rows.length === 19) // 20 shared keys minus deleted k4
    assert(rows.contains(("k3", "a3x", "b3")))
    assert(!rows.exists(_._1 == "k4"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"expected a shuffle-free storage-partitioned join plan:\n$plan")
    // mismatched bucket counts are rejected with guidance, not silently shuffled
    val pc = TestSpark.scratch("spj-c")
    KvTable.write(Seq(("k1", "c1")).toDF("k", "vb"), pc, sb, SinkMode.Replace)
    KvTable.compactBucketed(spark, pc, 5)
    intercept[IllegalArgumentException] {
      KvTable.joinBucketed(spark, pa, pc)
    }
  }

  test("one InputPartition per parquet ROW GROUP (big files still parallelize)") {
    val path = TestSpark.scratch("v2-rowgroups")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    // tiny row groups: one file, many groups
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 4096)
    hc.setInt("parquet.page.size", 1024)
    try KvTable.write(
      (1 to 5000).map(i => (f"k$i%05d", "x" * 40)).toDF("k", "v").coalesce(1),
      path, schema, SinkMode.Replace)
    finally { hc.unset("parquet.block.size"); hc.unset("parquet.page.size") }
    val df = spark.read.format("kvtable").load(path)
    val nFiles = KvV2Util.dataFiles(path, new org.apache.hadoop.conf.Configuration()).size
    assert(nFiles === 1)
    assert(df.rdd.getNumPartitions > 1,
      s"expected multiple row-group splits from a single file")
    assert(df.count() === 5000L)
    // row-group pruning: a narrow key range reads fewer partitions
    assert(df.filter($"k" >= "k04990").rdd.getNumPartitions <
      df.rdd.getNumPartitions)
    assert(df.filter($"k" >= "k04990").count() === 11L)
  }

  test("segmented manifest: per-append manifest bytes are O(new files), " +
    "independent of table size; fold compacts and preserves the view") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = KvSchema.of("k", "n" -> ("f", "n"))
    // the same lifecycle for each appender: a batch write per append,
    // and the streaming sink with one epoch commit per append
    def check(label: String)(open: String => Seq[(String, Long)] => Unit): Unit = {
      val path = TestSpark.scratch(s"v2-seg-manifest-$label")
      def segSizes: Seq[Long] = {
        val d = Paths.get(KvStats.segDir(path))
        if (!Files.isDirectory(d)) Seq.empty
        else Files.list(d).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".json")) // skip .crc files
          .sortBy(_.getFileName.toString).map(Files.size(_))
      }
      KvTable.write(Seq(("a", 1L)).toDF("k", "n").coalesce(1),
        path, schema, SinkMode.Replace) // first write -> base manifest
      val append = open(path)
      val appends = 6
      (1 to appends).foreach(i => append(Seq((s"k$i", i.toLong))))
      val sizes = segSizes
      assert(sizes.length === appends, s"$label: one segment per append, got $sizes")
      // each append's manifest write covers ONLY its own (single) new
      // file: segment sizes must stay flat, not grow with accumulated
      // file count
      assert(sizes.max <= sizes.min * 2,
        s"$label: segment sizes should be ~constant, got $sizes")
      // merged view == full per-file coverage (every file has stats entries)
      val merged = KvStats.read(path, conf).get
      assert(merged.files.length === KvV2Util.dataFiles(path, conf).length)
      // the schema-only read agrees with the merged manifest's schema
      assert(merged.schema.nonEmpty &&
        KvStats.readSchema(path, conf) === Some(merged.schema))
      // fold: lowering the threshold makes the next append compact segments
      System.setProperty("graft.kvstats.foldSegments", "2")
      try {
        append(Seq(("zz", 99L)))
        assert(segSizes.isEmpty, s"$label: fold must absorb all segments into the base")
        val folded = KvStats.read(path, conf).get
        assert(folded.files.length === KvV2Util.dataFiles(path, conf).length)
        assert(KvStats.readSchema(path, conf) === Some(folded.schema))
      } finally System.clearProperty("graft.kvstats.foldSegments")
      // the LWW view is intact through segment + fold lifecycles
      assert(KvTable.read(spark, path).count() === appends + 2)
    }
    check("write") { path => rows =>
      KvTable.write(rows.toDF("k", "n").coalesce(1), path, schema,
        SinkMode.Append)
    }
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try check("stream") { path =>
      q = input.toDF().toDF("k", "n").writeStream.format("kvtable")
        .option("kvschema", schema.toJson)
        .option("checkpointLocation", s"$path-ckpt")
        .outputMode("append")
        .start(path)
      rows => { input.addData(rows); q.processAllAvailable() }
    } finally if (q != null) q.stop()
  }

  test("IN-list point lookup on a bucketed table prunes to the keys' " +
    "bucket directories (multi-Get region routing)") {
    val path = TestSpark.scratch("v2-inlist-bucket")
    val schema = KvSchema.of("k", "n" -> ("f", "n"))
    val df = (1 to 64).map(i => (s"key$i", i.toLong)).toDF("k", "n")
    KvTable.write(df, path, schema, SinkMode.Replace)
    KvTable.compactBucketed(spark, path, buckets = 8)
    val raw = spark.read.format("kvtable").load(path)
    val all = raw.select("k", "n").rdd.getNumPartitions
    assert(all === 8, "one partition per bucket after compaction")
    // IN-list over 2 keys -> at most 2 bucket directories planned
    val probe = raw.filter(col("k").isin("key3", "key40")).select("k", "n")
    assert(probe.rdd.getNumPartitions <= 2)
    assert(probe.select("k").as[String].collect().sorted ===
      Array("key3", "key40"))
    // point EqualTo -> exactly 1
    val one = raw.filter(col("k") === "key7").select("k", "n")
    assert(one.rdd.getNumPartitions === 1)
    assert(one.select("n").as[Long].head() === 7L)
  }

  test("readers never plan a writer's uncommitted files under " +
    "data/_temporary/") {
    val path = TestSpark.scratch("v2-uncommitted")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.bulkLoad((0 until 50).map(i => (f"k$i%02d", s"v$i")).toDF("k", "v"),
      path, schema, buckets = 4)
    val before = KvTable.readV2(spark, path).count()
    // keys the table does not hold, all routed to one bucket, staged
    // where a v1 write attempt stages its files until the job commits
    val bucketer = new KeyBucketer(org.apache.spark.sql.types.StringType, 4)
    val (b, keys) = (0 until 40).map(i => s"new$i")
      .groupBy(k => bucketer.bucketOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(k)))
      .maxBy(_._2.size)
    keys.map(k => (k, "uncommitted", 99L, 0L, false))
      .toDF("k", "v", KvTable.VersionCol, KvTable.SeqCol, KvTable.TombstoneCol)
      .coalesce(1).write
      .parquet(s"$path/data/_temporary/0/t/${KvV2Util.BucketCol}=$b")
    assert(KvTable.readV2(spark, path).count() === before)
    assert(KvTable.get(spark, path, keys.head).count() === 0)
  }

  test("prefix (StringStartsWith) and IN-list filters prune row groups " +
    "via manifest stats; IsNotNull prunes all-null groups") {
    val path = TestSpark.scratch("v2-prune-wide")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    // two files with disjoint key prefixes; the second has an all-null v
    KvTable.write(Seq(("aa1", "x"), ("ab2", "y")).toDF("k", "v").coalesce(1),
      path, schema, SinkMode.Replace)
    KvTable.write(Seq(("zz1", null.asInstanceOf[String]),
      ("zz2", null.asInstanceOf[String])).toDF("k", "v").coalesce(1),
      path, schema, SinkMode.Append)
    val raw = spark.read.format("kvtable").load(path)
    val all = raw.select("k", "v").rdd.getNumPartitions
    assert(all === 2)
    // prefix filter keeps only the matching file's row group
    assert(raw.filter(col("k").startsWith("a")).select("k", "v")
      .rdd.getNumPartitions === 1)
    assert(raw.filter(col("k").startsWith("zz")).select("k", "v")
      .rdd.getNumPartitions === 1)
    // IN-list against key stats
    assert(raw.filter(col("k").isin("aa1", "ab2")).select("k", "v")
      .rdd.getNumPartitions === 1)
    // IsNotNull on v prunes the all-null group entirely
    assert(raw.filter(col("v").isNotNull).select("k", "v")
      .rdd.getNumPartitions === 1)
    assert(raw.filter(col("v").isNotNull).select("k").as[String]
      .collect().sorted === Array("aa1", "ab2"))
  }

  test("runtime (join-probe) filters prune bucket partitions on the " +
    "Scan directly (SupportsRuntimeFiltering)") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val path = TestSpark.scratch("v2-runtime-filter")
    val schema = KvSchema.of("k", "n" -> ("f", "n"))
    KvTable.write((1 to 64).map(i => (s"key$i", i.toLong)).toDF("k", "n"),
      path, schema, SinkMode.Replace)
    KvTable.compactBucketed(spark, path, buckets = 8)
    val conf = spark.sparkContext.hadoopConfiguration
    val fullSchema = KvV2Util.inferSchema(path, new org.apache.hadoop.conf.Configuration())
    val scan = new KvScanBuilder(path, fullSchema).build()
      .asInstanceOf[KvScan]
    assert(scan.filterAttributes().map(_.describe()).toSet ===
      Set("__bucket", "k"), "scan must advertise bucket + rowkey for DPP")
    assert(scan.planInputPartitions().length === 8)
    // a probe-side IN-list on the rowkey arrives at execution time:
    // partitions shrink to the probed keys' buckets
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("k", Array("key3", "key40"))))
    assert(scan.planInputPartitions().length <= 2)
    // a direct bucket filter works too
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In(KvV2Util.BucketCol, Array(Int.box(0), Int.box(1), Int.box(2)))))
    assert(scan.planInputPartitions().length <= 3)
    // clearing filters restores the full plan
    scan.filter(Array.empty[org.apache.spark.sql.sources.Filter])
    assert(scan.planInputPartitions().length === 8)
  }

  test("planning a pruned scan does ZERO driver footer reads (manifest)") {
    val path = writeTwoBatches()
    val before = KvV2Util.footerOpens.get()
    val df = spark.read.format("kvtable").load(path)
    val got = df.filter($"k" >= "z").select("k", "v")
      .as[(String, String)].collect()
    assert(got.sorted === Array(("z8", "p"), ("z9", "q")))
    assert(KvV2Util.footerOpens.get() === before,
      "planning/reading opened parquet footers despite the stats manifest")
  }

  test("V2 scan decodes INT96 timestamps from v1-written (Spark-default) files") {
    val path = TestSpark.scratch("v2-int96")
    val schema = KvSchema.of("k", "t" -> ("f", "t"))
    KvTable.write(
      Seq(("a", "2021-03-15 12:34:56.789"), ("b", "1969-12-31 23:59:59.5"))
        .toDF("k", "ts").select($"k", $"ts".cast("timestamp").as("t")),
      path, schema, SinkMode.Replace)
    // compaction rewrites through Spark's parquet writer, whose default
    // timestamp encoding is INT96 — checked in the footer, so the test
    // cannot silently read some other timestamp encoding instead
    KvTable.compact(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = KvV2Util.dataFiles(path, conf)
    assert(files.nonEmpty)
    files.foreach { f =>
      val r = KvV2Util.openFooter(f.getPath, conf)
      val fileSchema = r.getFooter.getFileMetaData.getSchema
      try assert(fileSchema.getType(fileSchema.getFieldIndex("t"))
        .asPrimitiveType().getPrimitiveTypeName ===
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
      finally r.close()
    }
    val v1 = KvTable.read(spark, path).orderBy("k")
      .as[(String, java.sql.Timestamp)].collect()
    val v2 = KvTable.readV2(spark, path).orderBy("k")
      .as[(String, java.sql.Timestamp)].collect()
    assert(v2 === v1)
    assert(v1.map(_._2.toInstant.toString) ===
      Array("2021-03-15T12:34:56.789Z", "1969-12-31T23:59:59.500Z"))
  }

  test("long-key tables prune by numeric footer stats") {
    val path = TestSpark.scratch("v2-longkey")
    val schema = KvSchema.of("id", "v" -> ("f", "v"))
    KvTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1),
      path, schema, SinkMode.Replace)
    KvTable.write(Seq((100L, "c"), (200L, "d")).toDF("id", "v").coalesce(1),
      path, schema, SinkMode.Append)
    val df = spark.read.format("kvtable").load(path)
    assert(df.filter($"id" > 50L).rdd.getNumPartitions <
      df.rdd.getNumPartitions)
    assert(df.filter($"id" > 50L).select("v").as[String].collect().sorted ===
      Array("c", "d"))
  }

  test("COUNT(*) is answered from the manifest: no data scan, no footers") {
    val path = TestSpark.scratch("v2-countstar")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.write((1 to 500).map(i => (s"k$i", s"v$i")).toDF("k", "v"),
      path, schema, SinkMode.Replace)
    KvTable.write((1 to 200).map(i => (s"k$i", s"w$i")).toDF("k", "v"),
      path, schema, SinkMode.Append)
    val df = spark.read.format("kvtable").load(path)

    val counted = df.groupBy().count()
    // the plan carries the metadata-only scan, not a parquet read
    assert(counted.queryExecution.executedPlan.treeString
      .contains("kvtable-count"))
    val before = KvV2Util.footerOpens.get()
    assert(counted.as[Long].head() === 700L) // raw log: 500 + 200
    assert(KvV2Util.footerOpens.get() === before,
      "metadata count opened parquet footers")

    // a FILTERED count must NOT be metadata-answered (filters are
    // residuals here, so the aggregate stays above a real scan)
    val filtered = df.filter($"k" === "k7").groupBy().count()
    assert(!filtered.queryExecution.executedPlan.treeString
      .contains("kvtable-count"))
    assert(filtered.as[Long].head() === 2L)
  }

  test("per-file rowkey blooms prune point gets across overlapping " +
    "append files (min/max can't); no-bloom files are never skipped") {
    val path = TestSpark.scratch("v2-bloom")
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    // two V2 appends with fully OVERLAPPING key ranges (even/odd split):
    // min/max stats cannot separate them, only the blooms can
    KvTable.writeV2((1 to 200 by 2).map(i => (f"k$i%04d", s"odd$i"))
      .toDF("k", "v"), path, schema, SinkMode.Replace)
    KvTable.writeV2((2 to 200 by 2).map(i => (f"k$i%04d", s"even$i"))
      .toDF("k", "v"), path, schema, SinkMode.Append)
    val df = spark.read.format("kvtable").load(path)
    def partsFor(key: String): Int =
      df.filter(col("k") === key).rdd.getNumPartitions
    val all = df.rdd.getNumPartitions
    assert(all >= 2)
    // a key present only in the odd file plans fewer partitions than
    // the full scan — the even file's bloom excluded it
    assert(partsFor("k0033") < all, s"bloom did not prune (all=$all)")
    assert(df.filter(col("k") === "k0033").select("v")
      .as[String].collect() === Array("odd33"))
    // IN-list over keys from both files keeps both
    assert(df.filter(col("k").isin("k0033", "k0034")).count() === 2)
    // a file placed outside the writer has NO bloom and must never be
    // skipped, also next to a bloomed append that excludes the probed key:
    // one such file replaces the log's two (their keys are disjoint)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val placed = s"$path/.placed-tmp"
    spark.read.parquet(s"$path/data").coalesce(1).write.parquet(placed)
    KvV2Util.dataFiles(path, conf).foreach(f => fs.delete(f.getPath, false))
    fs.listStatus(new org.apache.hadoop.fs.Path(placed))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(s"$path/data/placed.parquet")))
    Seq(placed, KvStats.statsFile(path), KvStats.segDir(path))
      .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    KvStats.refresh(path, conf)
    KvTable.write(Seq(("k0501", "late")).toDF("k", "v"), path, schema)
    val blooms = KvStats.read(path, spark.sparkContext.hadoopConfiguration)
      .get.files.map(_.bloom.isDefined)
    assert(blooms.contains(false) && blooms.contains(true),
      s"bloom presence per file: $blooms")
    val df2 = spark.read.format("kvtable").load(path)
    assert(df2.filter(col("k") === "k0034").select("v")
      .as[String].collect() === Array("even34"))
    assert(df2.filter(col("k") === "k0501").select("v")
      .as[String].collect() === Array("late"))
    // tombstone safety: the delete's file bloom CONTAINS the key, so
    // the get sees the tombstone and the row stays deleted
    KvTable.deleteV2(Seq("k0033").toDF("k"), path, schema)
    assert(KvTable.readV2(spark, path).filter(col("k") === "k0033").count() === 0)
  }

  test("a new table's first write, batch or streaming, records its " +
    "files' rowkey Bloom and observed key order") {
    val schema = KvSchema.of("k", "v" -> ("f", "v"))
    val rows = (1 to 50).map(i => (f"k$i%03d", s"v$i")).toDF("k", "v").coalesce(1)
    val batch = TestSpark.scratch("v2-first-write")
    KvTable.write(rows, batch, schema, SinkMode.Replace)
    val stream = TestSpark.scratch("v2-first-epoch")
    val in = TestSpark.scratch("v2-first-epoch-in")
    rows.write.parquet(in)
    spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
      .writeStream.format("kvtable")
      .option("kvschema", schema.toJson)
      .option("checkpointLocation", TestSpark.scratch("v2-first-epoch-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(stream).awaitTermination()
    for (path <- Seq(batch, stream)) {
      val files = KvStats.read(path, spark.sparkContext.hadoopConfiguration).get.files
      assert(files.size === 1, path)
      assert(files.head.bloom.isDefined && files.head.sorted, s"$path: ${files.head}")
    }
  }

  test("MIN/MAX over stats-covered int/long columns are metadata-" +
    "answered; string and filtered variants are not") {
    val path = TestSpark.scratch("v2-minmax")
    val schema = KvSchema.of("k", "n" -> ("f", "n"), "s" -> ("f", "s"))
    KvTable.write((1 to 300).map(i => (i.toLong, i * 10L, s"x$i"))
      .toDF("k", "n", "s"), path, schema, SinkMode.Replace)
    KvTable.write((1 to 50).map(i => (i.toLong + 1000, i - 60L, s"y$i"))
      .toDF("k", "n", "s"), path, schema, SinkMode.Append)
    val df = spark.read.format("kvtable").load(path)

    val q = df.groupBy().agg(min($"n"), max($"n"), count(lit(1)), max($"k"))
    assert(q.queryExecution.executedPlan.treeString.contains("kvtable-count"),
      q.queryExecution.executedPlan.treeString)
    val before = KvV2Util.footerOpens.get()
    assert(q.as[(Long, Long, Long, Long)].head() === ((-59L, 3000L, 350L, 1050L)))
    assert(KvV2Util.footerOpens.get() === before,
      "metadata min/max opened parquet footers")

    // string min/max: no reliable stats contract -> real scan
    val qs = df.groupBy().agg(min($"s"))
    assert(!qs.queryExecution.executedPlan.treeString.contains("kvtable-count"))
    assert(qs.as[String].head() === "x1")
    // filtered min: residual filter -> real scan
    val qf = df.filter($"n" > 0).groupBy().agg(min($"n"))
    assert(!qf.queryExecution.executedPlan.treeString.contains("kvtable-count"))
    assert(qf.as[Long].head() === 10L)
  }

  test("DATE columns surface as dates through the V2 reader, not raw " +
    "day counts") {
    val path = TestSpark.scratch("v2-date")
    val schema = KvSchema.of("k", "d" -> ("f", "d"))
    val rows = Seq(("k1", java.sql.Date.valueOf("2024-02-29")),
      ("k2", java.sql.Date.valueOf("1969-12-31")))
    // the connector's writer, and Spark's parquet writer via compaction
    for (write <- Seq[(org.apache.spark.sql.DataFrame, String) => Unit](
      (df, p) => KvTable.write(df, p, schema, SinkMode.Replace),
      (df, p) => {
        KvTable.write(df, p, schema, SinkMode.Replace)
        KvTable.compact(spark, p)
      })) {
      write(rows.toDF("k", "d"), path)
      val got = graft.kv.KvTable.lwwView(
          spark.read.format("kvtable").load(path),
          KvTable.readSchema(spark, path))
        .as[(String, java.sql.Date)].collect().sortBy(_._1)
      assert(got === rows.sortBy(_._1).toArray)
    }
  }

  test("DECIMAL columns round-trip SCALED through both write paths and " +
    "both read paths") {
    // the V2 reader must decode the logical decimal, not the unscaled
    // INT32/INT64/FIXED payload (an unscaled read is a silent 10^scale
    // inflation — caught by stream_matview's oracle)
    def dec(s: String, p: Int, sc: Int) =
      new java.math.BigDecimal(s)
    val rows = Seq(
      ("k1", "12345.67", "1234567890123.45", "123456789012345678901234.567"),
      ("k2", "-0.01", "-9999999999999.99", "-123456789012345678901234.567"))
    val df = rows.toDF("k", "small", "mid", "big").select($"k",
      $"small".cast("decimal(9,2)"), $"mid".cast("decimal(18,2)"),
      $"big".cast("decimal(27,3)"))
    val schema = KvSchema.of("k", "small" -> ("f", "s"),
      "mid" -> ("f", "m"), "big" -> ("f", "b"))

    // the connector's writer, and Spark's parquet writer via compaction
    for ((label, write) <- Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)](
      "connector" -> ((d, p) => KvTable.write(d, p, schema, SinkMode.Replace)),
      "compacted" -> ((d, p) => {
        KvTable.write(d, p, schema, SinkMode.Replace)
        KvTable.compact(spark, p)
      }))) {
      val path = TestSpark.scratch(s"decimal-$label")
      write(df, path)
      val expect = rows.map { case (k, s, m, b) =>
        (k, dec(s, 9, 2), dec(m, 18, 2), dec(b, 27, 3)) }.sortBy(_._1)
      // V2 reader (format kvtable)
      val gotV2 = graft.kv.KvTable.lwwView(
          spark.read.format("kvtable").load(path),
          KvTable.readSchema(spark, path))
        .as[(String, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal)]
        .collect().sortBy(_._1)
      // v1 reader (Spark parquet)
      val gotV1 = KvTable.read(spark, path)
        .as[(String, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal)]
        .collect().sortBy(_._1)
      for ((got, reader) <- Seq(gotV2 -> "v2", gotV1 -> "v1");
           ((gk, gs, gm, gb), (ek, es, em, eb)) <- got.zip(expect)) {
        assert(gk == ek, s"$label/$reader key")
        assert(gs.compareTo(es) == 0 && gm.compareTo(em) == 0 &&
          gb.compareTo(eb) == 0,
          s"$label write / $reader read: ($gs,$gm,$gb) != ($es,$em,$eb)")
      }
    }
  }

  private type LegacyRow = (String, java.sql.Timestamp, java.sql.Date,
    java.math.BigDecimal, Option[Long])

  test("tables holding files of the earlier Group-codec writer stay " +
    "readable: readV2, get, read and a row-level UPDATE agree") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    // the shapes that writer gave a file: every column optional, INT64
    // micros timestamps, DATE, fixed-length decimal(27,3), engine columns
    val legacy = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary k (STRING);
        |  optional int64 t (TIMESTAMP(MICROS,true));
        |  optional int32 d (DATE);
        |  optional fixed_len_byte_array(12) big (DECIMAL(27,3));
        |  optional int64 n;
        |  optional int64 __version;
        |  optional int64 __seq;
        |  optional boolean __tombstone;
        |}""".stripMargin)
    def fixed12(d: java.math.BigDecimal): Binary = {
      val raw = d.unscaledValue().toByteArray
      val out = Array.fill[Byte](12)(if (d.signum() < 0) -1 else 0)
      System.arraycopy(raw, 0, out, 12 - raw.length, raw.length)
      Binary.fromConstantByteArray(out)
    }
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def dec(s: String) = new java.math.BigDecimal(s)
    val fresh: Seq[LegacyRow] = Seq(
      ("k1", ts("2021-03-15T12:34:56.789Z"), java.sql.Date.valueOf("2024-02-29"),
        dec("123456789012345678901234.567"), Some(1L)),
      ("k2", ts("1969-12-31T23:59:59.500Z"), java.sql.Date.valueOf("1969-12-31"),
        dec("-0.001"), Some(2L)))
    // k2 is an OLDER version here (superseded by the fresh file); k3 and
    // k4 exist only here, k4 with a null `n`
    val old: Seq[(LegacyRow, Long)] = Seq(
      (("k2", ts("2000-01-01T00:00:00Z"), java.sql.Date.valueOf("2000-01-01"),
        dec("1.000"), Some(-2L)), 0L),
      (("k3", ts("2038-01-19T03:14:07.999999Z"), java.sql.Date.valueOf("1900-06-01"),
        dec("-123456789012345678901234.567"), Some(3L)), 1L),
      (("k4", ts("1970-01-01T00:00:00.000001Z"), java.sql.Date.valueOf("1970-01-01"),
        dec("0.000"), None), 1L))
    val expected: Seq[LegacyRow] = fresh ++ old.map(_._1).filter(_._1 != "k2")
    val schema = KvSchema.of("k", "t" -> ("f", "t"), "d" -> ("f", "d"),
      "big" -> ("f", "b"), "n" -> ("f", "n"))
    // decimal(27,3) does not fit the encoder's default decimal(38,18)
    val df = fresh.map { case (k, t, d, big, n) => (k, t, d, big.toPlainString, n) }
      .toDF("k", "t", "d", "big", "n")
      .withColumn("big", $"big".cast("decimal(27,3)")).coalesce(1)
    def writeLegacy(dir: String): Unit = {
      val factory = new SimpleGroupFactory(legacy)
      val w = ExampleParquetWriter.builder(new Path(s"$dir/part-legacy.parquet"))
        .withType(legacy).build()
      try old.zipWithIndex.foreach { case (((k, t, d, big, n), ver), i) =>
        val g = factory.newGroup()
          .append("k", k)
          .append("t", t.toInstant.getEpochSecond * 1000000L +
            t.toInstant.getNano / 1000)
          .append("d", d.toLocalDate.toEpochDay.toInt)
          .append("big", fixed12(big))
        n.foreach(v => g.append("n", v))
        g.append("__version", ver).append("__seq", i.toLong)
          .append("__tombstone", false)
        w.write(g)
      } finally w.close()
    }
    def rows(d: org.apache.spark.sql.DataFrame): Seq[LegacyRow] =
      d.select("k", "t", "d", "big", "n").as[LegacyRow].collect().toSeq.sortBy(_._1)

    // an unbucketed table: one file of the current writer, one legacy file
    val path = TestSpark.scratch("v2-legacy-codec")
    KvTable.write(df, path, schema, SinkMode.Replace)
    writeLegacy(s"$path/data")
    assert(KvV2Util.dataFiles(path, spark.sparkContext.hadoopConfiguration)
      .size === 2)
    assert(rows(KvTable.readV2(spark, path)) === expected)
    assert(rows(KvTable.read(spark, path)) === expected)
    for (e <- expected)
      assert(rows(KvTable.get(spark, path, e._1)) === Seq(e))

    // a bucket-compacted copy, the legacy file inside its bucket
    // directory, read and rewritten by a row-level UPDATE
    spark.conf.set("spark.sql.catalog.cat_legacy", "graft.connector.KvCatalog")
    val warehouse = TestSpark.scratch("v2-legacy-wh")
    spark.conf.set("spark.sql.catalog.cat_legacy.warehouse", warehouse)
    val bucketed = s"$warehouse/t"
    KvTable.bulkLoad(df, bucketed, schema, buckets = 1, SinkMode.Replace)
    writeLegacy(s"$bucketed/data/${KvV2Util.BucketCol}=0")
    assert(rows(KvTable.readV2(spark, bucketed)) === expected)
    spark.sql("UPDATE cat_legacy.t SET n = coalesce(n, 0) + 10")
    assert(rows(KvTable.readV2(spark, bucketed)) ===
      expected.map(e => e.copy(_5 = Some(e._5.getOrElse(0L) + 10))))
  }
}
