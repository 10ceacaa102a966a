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
    // matches the parquet-path read exactly
    val viaParquet = KvTable.readRaw(spark, path)
      .select("k", "v", "n").orderBy("k").as[(String, String, Long)].collect()
    assert(rows === viaParquet)
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
    val path = TestSpark.scratch("v2-seg-manifest")
    val schema = KvSchema.of("k", "n" -> ("f", "n"))
    def segSizes: Seq[Long] = {
      val d = Paths.get(KvStats.segDir(path))
      if (!Files.isDirectory(d)) Seq.empty
      else Files.list(d).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".json")) // skip .crc files
        .sortBy(_.getFileName.toString).map(Files.size(_))
    }
    KvTable.write(Seq(("a", 1L)).toDF("k", "n").coalesce(1),
      path, schema, SinkMode.Replace) // first write -> base manifest
    val appends = 6
    (1 to appends).foreach { i =>
      KvTable.write(Seq((s"k$i", i.toLong)).toDF("k", "n").coalesce(1),
        path, schema, SinkMode.Append)
    }
    val sizes = segSizes
    assert(sizes.length === appends, s"one segment per append, got $sizes")
    // each append's manifest write covers ONLY its own (single) new file:
    // segment sizes must stay flat, not grow with accumulated file count
    assert(sizes.max <= sizes.min * 2,
      s"segment sizes should be ~constant, got $sizes")
    // merged view == full per-file coverage (every file has stats entries)
    val merged = KvStats.read(path, conf).get
    assert(merged.files.length === KvV2Util.dataFiles(path, conf).length)
    // fold: lowering the threshold makes the next append compact segments
    System.setProperty("graft.kvstats.foldSegments", "2")
    try {
      KvTable.write(Seq(("zz", 99L)).toDF("k", "n").coalesce(1),
        path, schema, SinkMode.Append)
      assert(segSizes.isEmpty, "fold must absorb all segments into the base")
      val folded = KvStats.read(path, conf).get
      assert(folded.files.length === KvV2Util.dataFiles(path, conf).length)
    } finally System.clearProperty("graft.kvstats.foldSegments")
    // the LWW view is intact through segment + fold lifecycles
    assert(KvTable.read(spark, path).count() === appends + 2)
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
    // v1 write path -> Spark parquet writer -> INT96 timestamp encoding
    KvTable.write(
      Seq(("a", "2021-03-15 12:34:56.789"), ("b", "1969-12-31 23:59:59.5"))
        .toDF("k", "ts").select($"k", $"ts".cast("timestamp").as("t")),
      path, schema, SinkMode.Replace)
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
    // a v1-written file has NO bloom and must never be skipped
    KvTable.write(Seq(("k0501", "late")).toDF("k", "v"), path, schema)
    val df2 = spark.read.format("kvtable").load(path)
    assert(df2.filter(col("k") === "k0501").select("v")
      .as[String].collect() === Array("late"))
    // tombstone safety: the delete's file bloom CONTAINS the key, so
    // the get sees the tombstone and the row stays deleted
    KvTable.deleteV2(Seq("k0033").toDF("k"), path, schema)
    assert(KvTable.readV2(spark, path).filter(col("k") === "k0033").count() === 0)
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
    for (write <- Seq[(org.apache.spark.sql.DataFrame, String) => Unit](
      (df, p) => KvTable.write(df, p, schema, SinkMode.Replace),
      (df, p) => KvTable.writeV2(df, p, schema, SinkMode.Replace))) {
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

    for ((label, write) <- Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)](
      "v1" -> ((d, p) => KvTable.write(d, p, schema, SinkMode.Replace)),
      "v2" -> ((d, p) => KvTable.writeV2(d, p, schema, SinkMode.Replace)))) {
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
}
