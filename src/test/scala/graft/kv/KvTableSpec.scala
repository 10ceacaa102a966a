package graft.kv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestSpark}
import graft.ops.Ops

/** Value-level parity tests for the KV table, reproducing the reference's
  * two E2E scenarios (SURVEY.md §5) but asserting cell values, not just
  * counts (stronger than the reference's count-only `verifySink`,
  * `HBaseTestCase.java:46-61`).
  */
class KvTableSpec extends SparkSpec {
  import spark.implicits._

  /** The reference fixture, verbatim (`src/test/data/small.txt:1-13`):
    * 13 space-delimited `num lower upper` lines, 5 distinct keys. */
  val smallTxt: Seq[String] = Seq(
    "1 a A", "1 b B", "1 c C", "2 b B", "2 c C", "2 d D", "3 c C",
    "4 b B", "4 c C", "4 d D", "5 a A", "5 b B", "5 e E")

  val schema: KvSchema = KvSchema.of("num",
    "lower" -> ("left", "lower"),
    "upper" -> ("right", "upper"))

  def parsed: DataFrame = {
    val lines = spark.createDataset(smallTxt).toDF("line").coalesce(1)
    Ops.regexSplitter("line", " ", Seq("num", "lower", "upper"))(lines)
  }

  test("file -> table upsert collapses 13 lines to 5 rows, last write wins") {
    val path = TestSpark.scratch("kv-upsert")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    val rows = KvTable.read(spark, path).orderBy("num")
      .as[(String, String, String)].collect()
    assert(rows.length === 5) // MultiFamilyHBaseTest.java:71
    // Last line per key in file order wins — HBase Put overwrite semantics.
    assert(rows === Array(
      ("1", "c", "C"), ("2", "d", "D"), ("3", "c", "C"),
      ("4", "d", "D"), ("5", "e", "E")))
  }

  test("round trip table -> table preserves values (fixes the reference's " +
    "byte[]-write ClassCastException asymmetry)") {
    val p1 = TestSpark.scratch("kv-rt1")
    val p2 = TestSpark.scratch("kv-rt2")
    KvTable.write(parsed, p1, schema, SinkMode.Replace)
    val readBack = KvTable.read(spark, p1)
    KvTable.write(readBack, p2, schema, SinkMode.Replace)
    val rows = KvTable.read(spark, p2).orderBy("num")
      .as[(String, String, String)].collect()
    assert(rows.length === 5) // MultiFamilyHBaseTest.java:84
    assert(rows.map(_._1) === Array("1", "2", "3", "4", "5"))
  }

  test("binary cell values round-trip byte-for-byte") {
    // The reference casts every sink value to String and would
    // ClassCastException on a byte[] write-back (HBaseScheme.java:120);
    // here BinaryType cells are first-class.
    val path = TestSpark.scratch("kv-binary")
    val s = KvSchema.of("k", "payload" -> ("f", "payload"))
    val data = Seq(("a", Array[Byte](0, 1, -1, 127)), ("b", Array[Byte]()))
      .toDF("k", "payload")
    KvTable.write(data, path, s, SinkMode.Replace)
    val back = KvTable.read(spark, path)
    KvTable.write(back, path + "-copy", s, SinkMode.Replace)
    val rows = KvTable.read(spark, path + "-copy").orderBy("k")
      .as[(String, Array[Byte])].collect()
    assert(rows.map(_._1) === Array("a", "b"))
    assert(rows(0)._2.toSeq === Seq[Byte](0, 1, -1, 127))
    assert(rows(1)._2.toSeq === Seq.empty)
  }

  test("APPEND accumulates distinct keys: 13 then 26 rows") {
    // MultiFamilyCascadeHBaseTest.java:89-104, with deterministic unique
    // keys instead of the reference's Math.random().
    val path = TestSpark.scratch("kv-append")
    val unique1 = parsed.withColumn("num",
      concat(lit("a-"), monotonically_increasing_id().cast("string")))
    val unique2 = parsed.withColumn("num",
      concat(lit("b-"), monotonically_increasing_id().cast("string")))
    KvTable.write(unique1, path, schema, SinkMode.Replace)
    assert(KvTable.read(spark, path).count() === 13)
    KvTable.write(unique2, path, schema, SinkMode.Append)
    assert(KvTable.read(spark, path).count() === 26)
  }

  test("newer version wins regardless of write order (versionFrom)") {
    val path = TestSpark.scratch("kv-version")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    val newer = Seq(("k1", "new", 10L)).toDF("k", "v", "ver")
    val older = Seq(("k1", "old", 5L)).toDF("k", "v", "ver")
    KvTable.write(newer, path, s, SinkMode.Replace, Some(col("ver")))
    KvTable.write(older, path, s, SinkMode.Append, Some(col("ver")))
    val rows = KvTable.read(spark, path).as[(String, String)].collect()
    assert(rows === Array(("k1", "new")))
  }

  test("readAsOf returns the exact snapshot before later upserts and deletes") {
    val path = TestSpark.scratch("kv-asof")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.write(Seq(("a", "v1"), ("b", "v1"), ("c", "v1")).toDF("k", "v"),
      path, s, SinkMode.Replace)                       // batch 1
    KvTable.write(Seq(("b", "v2")).toDF("k", "v"), path, s) // batch 2
    KvTable.delete(Seq("c").toDF("k"), path, s)            // batch 3
    def view(asOf: Long) = KvTable.readAsOf(spark, path, asOf)
      .orderBy("k").as[(String, String)].collect()
    assert(view(1L) === Array(("a", "v1"), ("b", "v1"), ("c", "v1")))
    assert(view(2L) === Array(("a", "v1"), ("b", "v2"), ("c", "v1")))
    assert(view(3L) === Array(("a", "v1"), ("b", "v2"))) // == read()
    assert(KvTable.read(spark, path).orderBy("k")
      .as[(String, String)].collect() === view(3L))
  }

  test("readChanges replays the mutation stream after a version " +
    "checkpoint, deletes flagged") {
    val path = TestSpark.scratch("kv-changes")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.write(Seq(("a", "v1"), ("b", "v1")).toDF("k", "v"),
      path, s, SinkMode.Replace)                         // version 1
    KvTable.write(Seq(("b", "v2")).toDF("k", "v"), path, s) // version 2
    KvTable.delete(Seq("a").toDF("k"), path, s)             // version 3
    def feed(after: Long) = KvTable.readChanges(spark, path, after)
      .select("k", "version", "is_delete")
      .as[(String, Long, Boolean)].collect()
    assert(feed(0L).toSet ===
      Set(("a", 1L, false), ("b", 1L, false), ("b", 2L, false),
        ("a", 3L, true)))
    // incremental poll from a checkpoint sees only newer mutations
    assert(feed(2L) === Array(("a", 3L, true)))
    assert(feed(3L).isEmpty)
  }

  test("readTtl expires old cells (rows vanish when their newest cell " +
    "is expired) and compact(expireBelow) makes it physical") {
    val path = TestSpark.scratch("kv-ttl")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    val batch1 = Seq(("a", "old", 10L), ("b", "old", 10L)).toDF("k", "v", "ver")
    val batch2 = Seq(("b", "new", 20L)).toDF("k", "v", "ver")
    KvTable.write(batch1, path, s, SinkMode.Replace, Some(col("ver")))
    KvTable.write(batch2, path, s, SinkMode.Append, Some(col("ver")))
    // cutoff 15: a's only cell expired -> row gone; b's newest survives
    def ttlView = KvTable.readTtl(spark, path, 15L)
      .orderBy("k").as[(String, String)].collect()
    assert(ttlView === Array(("b", "new")))
    // an expired tombstone stops masking nothing (delete below cutoff)
    KvTable.delete(Seq("b").toDF("k"), path, s, version = Some(12L))
    assert(ttlView === Array(("b", "new")))
    // physical expiry: compaction drops expired cells; plain read then
    // equals the TTL view, and the log holds only surviving cells
    KvTable.compact(spark, path, expireBelow = Some(15L))
    assert(KvTable.read(spark, path).orderBy("k")
      .as[(String, String)].collect() === Array(("b", "new")))
    assert(KvTable.readRaw(spark, path).count() === 1L)
  }

  test("tombstone delete removes a key; re-upsert resurrects it") {
    val path = TestSpark.scratch("kv-tomb")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    KvTable.delete(Seq("2").toDF("num"), path, schema)
    assert(KvTable.read(spark, path).orderBy("num")
      .select("num").as[String].collect() === Array("1", "3", "4", "5"))
    KvTable.write(parsed.filter($"num" === "2"), path, schema, SinkMode.Append)
    assert(KvTable.read(spark, path).count() === 5)
  }

  test("range scan is closed-open [lower, upper)") {
    val path = TestSpark.scratch("kv-range")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    val got = KvTable.readRange(spark, path, Some("2"), Some("4"))
      .select("num").as[String].collect().sorted
    assert(got === Array("2", "3")) // 4 excluded: fixes reference tail-split bug
  }

  test("Keep mode refuses to overwrite an existing table") {
    val path = TestSpark.scratch("kv-keep")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    intercept[IllegalStateException] {
      KvTable.write(parsed, path, schema, SinkMode.Keep)
    }
  }

  test("schema persists with the table and derives families") {
    val path = TestSpark.scratch("kv-schema")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    val loaded = KvTable.readSchema(spark, path)
    assert(loaded === schema)
    assert(loaded.families === Seq("left", "right")) // HBaseScheme.java:170-177
    // (family, qualifier) metadata survives onto read columns
    val md = KvTable.read(spark, path).schema("lower").metadata
    assert(md.getString(KvSchema.FamilyKey) === "left")
    assert(md.getString(KvSchema.QualifierKey) === "lower")
  }

  test("readVersions surfaces version history, newest first, " +
    "tombstone hides older versions") {
    val path = TestSpark.scratch("kv-versions")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    def put(k: String, v: String, ver: Long): Unit =
      KvTable.write(Seq((k, v, ver)).toDF("k", "v", "ver"), path,
        s, if (KvTable.exists(spark, path)) SinkMode.Append else SinkMode.Replace,
        Some(col("ver")))
    put("a", "v1", 1); put("a", "v2", 2); put("a", "v3", 3); put("b", "x", 1)
    val hist = KvTable.readVersions(spark, path, 2)
      .orderBy("k", "version_rank")
      .select("k", "v", "version_rank").as[(String, String, Int)].collect()
    assert(hist === Array(("a", "v3", 1), ("a", "v2", 2), ("b", "x", 1)))
    // delete at version 10 hides everything older; a later put resurrects
    KvTable.delete(Seq("a").toDF("k"), path, s, version = Some(10L))
    assert(KvTable.readVersions(spark, path, 5).filter($"k" === "a").count() === 0)
    put("a", "v4", 11)
    val after = KvTable.readVersions(spark, path, 5).filter($"k" === "a")
      .select("v").as[String].collect()
    assert(after === Array("v4"))
  }

  test("bucketed compaction: point lookups prune to one bucket; " +
    "appends stay bucket-aligned") {
    val path = TestSpark.scratch("kv-bucketed")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    KvTable.compactBucketed(spark, path, buckets = 4)
    assert(KvTable.numBuckets(spark, path) === 4)
    // LWW view unchanged by the layout rewrite
    assert(KvTable.read(spark, path).orderBy("num")
      .as[(String, String, String)].collect() === Array(
      ("1", "c", "C"), ("2", "d", "D"), ("3", "c", "C"),
      ("4", "d", "D"), ("5", "e", "E")))
    // point lookup returns exactly the key's row and prunes to the
    // key's bucket directory inside the V2 scan (bucketSetFor routing:
    // 1 planned partition, not one per bucket)
    val got = KvTable.get(spark, path, "2")
    assert(got.as[(String, String, String)].collect() === Array(("2", "d", "D")))
    val raw = spark.read.format("kvtable").load(path)
    assert(raw.filter($"num" === "2")
      .select("num", "lower", "upper").rdd.getNumPartitions === 1)
    // appends after bucketing keep working and stay visible
    KvTable.write(Seq(("2", "z", "Z")).toDF("num", "lower", "upper"),
      path, schema, SinkMode.Append)
    assert(KvTable.get(spark, path, "2").as[(String, String, String)]
      .collect() === Array(("2", "z", "Z")))
    assert(KvTable.read(spark, path).count() === 5)
  }

  test("compaction preserves versionFrom LWW ordering (no version reset)") {
    val path = TestSpark.scratch("kv-compact-ver")
    def putAt(row: (String, String, String), ts: Long): Unit =
      KvTable.write(Seq(row).toDF("num", "lower", "upper")
          .withColumn("ts", lit(ts)),
        path, schema, SinkMode.Append, versionFrom = Some(col("ts")))
    KvTable.drop(spark, path)
    putAt(("1", "a", "A"), 100L)
    KvTable.compact(spark, path)
    // an append carrying an OLDER event time must NOT win post-compaction
    putAt(("1", "b", "B"), 50L)
    assert(KvTable.read(spark, path).as[(String, String, String)]
      .collect() === Array(("1", "a", "A")))
    // a genuinely newer event time still wins
    putAt(("1", "c", "C"), 150L)
    assert(KvTable.read(spark, path).as[(String, String, String)]
      .collect() === Array(("1", "c", "C")))
    // same invariant through the bucketed compaction path
    KvTable.compactBucketed(spark, path, buckets = 2)
    putAt(("1", "d", "D"), 120L)
    assert(KvTable.read(spark, path).as[(String, String, String)]
      .collect() === Array(("1", "c", "C")))
  }

  test("compaction cleans a stale .data-old from a prior crash and " +
    "leaves no aside copy on success") {
    val path = TestSpark.scratch("kv-compact-crash")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // simulate a crash between rename-aside and cleanup
    val stale = new org.apache.hadoop.fs.Path(s"$path/.data-old")
    fs.mkdirs(stale)
    fs.create(new org.apache.hadoop.fs.Path(stale, "junk.parquet"), true).close()
    KvTable.compact(spark, path)
    assert(!fs.exists(stale), "stale .data-old not cleaned")
    assert(KvTable.read(spark, path).count() === 5)
  }

  test("a crash between swap renames self-heals on the next READ " +
    "(not only the next compaction)") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    for (buckets <- Seq(0, 2)) {
      val path = TestSpark.scratch(s"kv-swap-crash-read-$buckets")
      KvTable.write(parsed, path, schema, SinkMode.Replace)
      if (buckets > 0) KvTable.compactBucketed(spark, path, buckets)
      val (data, old) = (new org.apache.hadoop.fs.Path(s"$path/data"),
        new org.apache.hadoop.fs.Path(s"$path/.data-old"))
      // the raw log: 13 cells, or 5 after the compaction
      val cells = KvTable.readRaw(spark, path).count()
      val reads: Seq[(String, Long, () => Long)] = Seq(
        ("read", 5L, () => KvTable.read(spark, path).count()),
        ("readV2", 5L, () => KvTable.readV2(spark, path).count()),
        ("readRange", 2L, () => KvTable.readRange(spark, path, Some("2"), Some("4")).count()),
        ("get", 1L, () => KvTable.get(spark, path, "3").count()),
        ("readAsOf", 5L, () => KvTable.readAsOf(spark, path, 1L).count()),
        ("readTtl", 5L, () => KvTable.readTtl(spark, path, 0L).count()),
        ("readVersions", 5L, () => KvTable.readVersions(spark, path, 1).count()),
        ("readChanges", cells, () => KvTable.readChanges(spark, path, 0L).count()),
        ("readRaw", cells, () => KvTable.readRaw(spark, path).count()),
        ("format(kvtable)", cells, () =>
          spark.read.format("kvtable").load(path).select("num").collect().length.toLong),
        ("openForRead", 5L, () => KvTable.openForRead(spark, path).size.toLong))
      for ((name, want, rows) <- reads) {
        // simulate the crash window exactly between the two renames:
        // data/ moved aside, replacement never published
        assert(fs.rename(data, old))
        assert(rows() === want, s"$name on buckets=$buckets")
        assert(fs.exists(data) && !fs.exists(old), s"$name on buckets=$buckets")
      }
    }
  }

  test("a delete with a regressed version cannot regress the meta " +
    "counter (later auto-versioned writes still win deterministically)") {
    val path = TestSpark.scratch("kv-ver-regress")
    KvTable.write(Seq(("1", "a", "A")).toDF("num", "lower", "upper"),
      path, schema, SinkMode.Replace) // batch version 1
    // tombstone explicitly versioned BELOW the live cells: a no-op for
    // LWW, and it must NOT pull the meta counter back to 0
    KvTable.delete(Seq("1").toDF("num"), path, schema, version = Some(0L))
    KvTable.write(Seq(("1", "b", "B")).toDF("num", "lower", "upper"),
      path, schema) // must get version 2, strictly above the live cell
    val rows = KvTable.readVersions(spark, path, 1)
      .select("num", "lower", "version").as[(String, String, Long)].collect()
    assert(rows === Array(("1", "b", 2L)))
  }

  test("a delete versioned ABOVE the meta counter raises it (later " +
    "auto-versioned writes still dominate the tombstone)") {
    for ((label, del, put) <- Seq[(String,
        (DataFrame, String, Option[Long]) => Unit, (DataFrame, String) => Unit)](
      ("delete", (k, p, v) => KvTable.delete(k, p, schema, v),
        (d, p) => KvTable.write(d, p, schema)),
      ("deleteV2", (k, p, v) => KvTable.deleteV2(k, p, schema, v),
        (d, p) => KvTable.writeV2(d, p, schema)))) {
      val path = TestSpark.scratch(s"kv-ver-ahead-$label")
      KvTable.write(Seq(("a", "x", "X")).toDF("num", "lower", "upper"),
        path, schema, SinkMode.Replace)
      del(Seq("a").toDF("num"), path, Some(100L))
      assert(KvTable.read(spark, path).count() === 0, label)
      put(Seq(("a", "y", "Y")).toDF("num", "lower", "upper"), path)
      val rows = KvTable.readVersions(spark, path, 1)
        .select("num", "lower", "version").as[(String, String, Long)].collect()
      assert(rows === Array(("a", "y", 101L)), label)
    }
  }

  test("a zero-row append to a new table leaves it readable, " +
    "compactable and deletable") {
    for ((label, put) <- Seq[(String, (DataFrame, String, SinkMode) => Unit)](
      "write" -> ((d, p, m) => KvTable.write(d, p, schema, m)),
      "writeV2" -> ((d, p, m) => KvTable.writeV2(d, p, schema, m)))) {
      val path = TestSpark.scratch(s"kv-empty-append-$label")
      put(Seq.empty[(String, String, String)].toDF("num", "lower", "upper"),
        path, SinkMode.Replace)
      assert(KvTable.exists(spark, path), label)
      assert(KvTable.read(spark, path).count() === 0, label)
      KvTable.compact(spark, path)
      assert(KvTable.read(spark, path).count() === 0, label)
      KvTable.delete(Seq("1").toDF("num"), path, schema)
      put(Seq(("2", "b", "B")).toDF("num", "lower", "upper"), path,
        SinkMode.Append)
      assert(KvTable.read(spark, path).select("num", "lower")
        .as[(String, String)].collect() === Array(("2", "b")), label)
    }
  }

  test("minor compaction merges small files losslessly: raw log " +
    "identical, version history intact, large files untouched") {
    val path = TestSpark.scratch("kv-minor")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    // four appends -> >= 4 small files; one delete -> tombstones too
    (1 to 4).foreach { i =>
      KvTable.write(Seq((s"k${i % 2}", s"v$i")).toDF("k", "v"), path, s,
        if (i == 1) SinkMode.Replace else SinkMode.Append)
    }
    KvTable.delete(Seq("k0").toDF("k"), path, s)
    def rawRows = KvTable.readRaw(spark, path)
      .select("k", "v", KvTable.VersionCol, KvTable.SeqCol, KvTable.TombstoneCol)
      .collect().toSet
    def dataFiles = {
      val f = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      f.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
        .filter(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
    }
    val before = rawRows
    val nBefore = dataFiles.length
    assert(nBefore >= 5)
    // threshold below every file size: nothing qualifies, nothing merged
    assert(KvTable.compactMinor(spark, path, smallFileBytes = 1L) === 0)
    assert(dataFiles.length === nBefore)
    // real run: all small files merge into one; bytes are preserved
    assert(KvTable.compactMinor(spark, path) === 1)
    assert(dataFiles.length === 1)
    assert(rawRows === before)
    // LWW view and multi-version history unchanged
    assert(KvTable.read(spark, path).orderBy("k")
      .as[(String, String)].collect() === Array(("k1", "v3")))
    assert(KvTable.readVersions(spark, path, 10)
      .select("k", "v").as[(String, String)].collect().toSet ===
      Set(("k1", "v1"), ("k1", "v3")))
  }

  test("minor compaction on a bucketed table merges per bucket and " +
    "keeps region pruning") {
    val path = TestSpark.scratch("kv-minor-bucketed")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.write((1 to 20).map(i => (s"k$i", s"v$i")).toDF("k", "v"),
      path, s, SinkMode.Replace)
    KvTable.compactBucketed(spark, path, buckets = 3)
    // two appends spread over every bucket -> small files per bucket dir
    KvTable.write((1 to 20).map(i => (s"k$i", s"u$i")).toDF("k", "v"), path, s)
    KvTable.write((1 to 20).map(i => (s"k$i", s"w$i")).toDF("k", "v"), path, s)
    val merged = KvTable.compactMinor(spark, path)
    assert(merged === 3, s"expected one merge per bucket, got $merged")
    assert(KvTable.numBuckets(spark, path) === 3)
    assert(KvTable.get(spark, path, "k7").as[(String, String)].collect() ===
      Array(("k7", "w7")))
    assert(KvTable.read(spark, path).count() === 20)
    // merged files must NOT carry a physical __bucket column (it is a
    // directory coordinate; an all-null physical copy would poison
    // bucket-predicate stats and manifest schema rebuilds)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val mergedFile = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/data/__bucket=0"))
      .filter(_.getPath.getName.startsWith("minor-")).head.getPath
    assert(!spark.read.parquet(mergedFile.toString)
      .schema.fieldNames.contains("__bucket"))
    // V2 read path stays green after the per-bucket merges
    assert(KvTable.readV2(spark, path).count() === 20)
  }

  test("compactMinor on an empty (created-but-never-written) table " +
    "is a no-op, not a crash") {
    val path = TestSpark.scratch("kv-minor-empty")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    // mimic catalog CREATE TABLE: schema + meta, no data dir
    new java.io.File(path).mkdirs()
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$path/_kvschema.json"), true)
    out.write(s.toJson.getBytes("UTF-8")); out.close()
    graft.connector.KvV2Util.writeMeta(path,
      spark.sparkContext.hadoopConfiguration, 0L, 0)
    assert(KvTable.compactMinor(spark, path) === 0)
  }

  test("compactMinor on a bucketed table merges every bucket in ONE " +
    "Spark write job") {
    import graft.connector.KvMergeFixtures.jobs
    val path = TestSpark.scratch("kv-minor-one-job")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    KvTable.bulkLoad((1 to 400).map(i => (f"k$i%04d", s"v$i")).toDF("k", "v"),
      path, s, buckets = 6)
    (1 to 2).foreach(a => KvTable.write(
      (1 to 400 by 7).map(i => (f"k$i%04d", s"u$a")).toDF("k", "v"), path, s))
    val before = KvTable.readRaw(spark, path).collect().map(_.toString).toSet
    var merged = 0
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val perTask = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(perTask)
    try assert(jobs(spark) { merged = KvTable.compactMinor(spark, path) } === 1)
    finally spark.sparkContext.removeSparkListener(perTask)
    assert(merged === 6)
    assert(tasks.get === 6, "one task per bucket")
    assert(KvTable.readRaw(spark, path).collect().map(_.toString).toSet === before)
    val conf = graft.connector.KvHadoopConf(spark)
    assert(graft.connector.KvV2Util.dataFiles(path, conf).map(_.getPath.getName)
      .forall(_.startsWith("minor-")))
    assert(graft.connector.KvV2Util.mergeable(path, conf))
  }

  test("a replayed minor-compaction journal publishes the rest of its " +
    "scratch table and keeps every other file's manifest entry") {
    import graft.connector.{KvHadoopConf, KvStats, KvV2Util}
    import org.apache.hadoop.fs.{Path => HPath}
    val path = TestSpark.scratch("kv-minor-replay")
    val s = KvSchema.of("k", "v" -> ("f", "v"))
    val conf = KvHadoopConf(spark)
    val fs = new HPath(path).getFileSystem(conf)
    KvTable.bulkLoad((1 to 2000).map(i => (f"k$i%05d", s"v$i")).toDF("k", "v"),
      path, s, buckets = 4)
    val bulk = KvV2Util.dataFiles(path, conf).map(_.getPath)
    (1 to 2).foreach(a => KvTable.write(
      (1 to 40).map(i => (f"k${i * 37}%05d", s"u$a-$i")).toDF("k", "v"), path, s))
    def raw = KvTable.readRaw(spark, path).collect().map(_.toString).toSet
    val before = raw
    val appended = KvV2Util.dataFiles(path, conf).filterNot(f => bulk.contains(f.getPath))
    // only the appends are small
    val small = KvV2Util.dataFiles(path, conf).filter(f => bulk.contains(f.getPath))
      .map(_.getLen).min
    assert(appended.nonEmpty && appended.forall(_.getLen < small))
    assert(KvTable.stageMinor(spark, path, small, 2) === 4)
    // crash after the first of the four merged files was published
    val first = KvStats.read(s"$path/.minor-tmp", conf).get.files.head.path
    val cut = first.lastIndexOf('/') + 1
    assert(fs.rename(new HPath(s"$path/.minor-tmp/$first"),
      new HPath(s"$path/${first.take(cut)}minor-${first.drop(cut)}")))
    // the next run replays the journal; nothing is left to merge after it
    assert(KvTable.compactMinor(spark, path, smallFileBytes = small) === 0)
    assert(appended.forall(f => !fs.exists(f.getPath)), "an original survived")
    assert(!fs.exists(new HPath(s"$path/_minorlog.json")))
    assert(!fs.exists(new HPath(s"$path/.minor-tmp")))
    assert(raw === before)
    assert(KvV2Util.mergeable(path, conf))
    val entries = KvStats.read(path, conf).get.files
    assert(entries.size === 8)
    assert(entries.forall(e => e.bloom.isDefined && e.sorted), entries.map(_.path))
    assert(bulk.forall(b => entries.exists(e => b.toString.endsWith(e.path))))
  }

  test("a crashed compaction's scratch table and its lock stall no " +
    "compaction") {
    import org.apache.hadoop.fs.{Path => HPath}
    val path = TestSpark.scratch("kv-stale-scratch")
    val s = KvSchema.of("k", "v" -> ("f", "v"), "n" -> ("f", "n"))
    val fs = new HPath(path).getFileSystem(graft.connector.KvHadoopConf(spark))
    (1 to 3).foreach(a => KvTable.write((1 to 30).map(i => (f"k$i%02d", s"v$a", i.toLong * a))
      .toDF("k", "v", "n"), path, s, if (a == 1) SinkMode.Replace else SinkMode.Append))
    def lww = KvTable.read(spark, path).collect().map(_.toString).toSet
    val want = lww
    /** A stale scratch table at each compaction's scratch path, with the
      * (fresh) lock its commit would have left. */
    def plant(at: String): Unit = Seq(".compact-tmp", ".minor-tmp").foreach { d =>
      fs.mkdirs(new HPath(s"$at/$d/data"))
      fs.create(new HPath(s"$at/$d/data/part-0.parquet")).close()
      fs.create(new HPath(s"$at/$d.kvlock")).close()
    }
    def prompt(name: String)(op: => Unit): Unit = {
      val t0 = System.nanoTime()
      op
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 30, s"$name took $secs s")
    }
    for ((name, op) <- Seq[(String, () => Unit)](
        "compactMinor" -> (() => assert(KvTable.compactMinor(spark, path) === 1)),
        "compact" -> (() => KvTable.compact(spark, path)),
        "compactBucketed" -> (() => KvTable.compactBucketed(spark, path, 3)),
        "compactZOrder" -> (() => KvTable.compactZOrder(spark, path, Seq("n"))))) {
      plant(path)
      prompt(name)(op())
      assert(lww === want, name)
    }
    val counter = TestSpark.scratch("kv-stale-scratch-counter")
    KvCounter.increment(Seq(("a", 1L), ("b", 2L)).toDF("k", KvCounter.DeltaCol),
      counter, "k", SinkMode.Replace)
    KvCounter.increment(Seq(("a", 5L)).toDF("k", KvCounter.DeltaCol), counter, "k")
    plant(counter)
    prompt("KvCounter.compact")(KvCounter.compact(spark, counter))
    assert(KvCounter.read(spark, counter).as[(String, Long)].collect().toMap ===
      Map("a" -> 6L, "b" -> 2L))
    val appends = TestSpark.scratch("kv-stale-scratch-append")
    KvAppend.appendTo(Seq(("a", "x")).toDF("k", KvAppend.PieceCol), appends, "k",
      SinkMode.Replace)
    KvAppend.appendTo(Seq(("a", "y")).toDF("k", KvAppend.PieceCol), appends, "k")
    plant(appends)
    prompt("KvAppend.compact")(KvAppend.compact(spark, appends))
    assert(KvAppend.read(spark, appends).as[(String, String)].collect().toMap ===
      Map("a" -> "xy"))
  }

  test("compact preserves the LWW view") {
    val path = TestSpark.scratch("kv-compact")
    KvTable.write(parsed, path, schema, SinkMode.Replace)
    KvTable.delete(Seq("5").toDF("num"), path, schema)
    val before = KvTable.read(spark, path).orderBy("num")
      .as[(String, String, String)].collect()
    KvTable.compact(spark, path)
    val after = KvTable.read(spark, path).orderBy("num")
      .as[(String, String, String)].collect()
    assert(after === before)
    assert(KvTable.readRaw(spark, path).count() === before.length)
  }

  test("a delete launches no more Spark jobs than a write of the same keys " +
    "(the tombstones' value types come from the manifest, not a job)") {
    val path = TestSpark.scratch("kv-delete-jobs")
    val s = KvSchema.of("k", "v" -> ("f", "v"), "n" -> ("f", "n"))
    val keys = (1 to 50).map(i => f"k$i%03d")
    KvTable.write(keys.map(k => (k, "x", 1L)).toDF("k", "v", "n"), path, s,
      SinkMode.Replace)
    val sc = spark.sparkContext
    def jobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.graftbridge.ListenerFlush(sc)
      sc.addSparkListener(listener)
      try { body; org.apache.spark.graftbridge.ListenerFlush(sc) }
      finally sc.removeSparkListener(listener)
      n.get
    }
    val writeJobs = jobs(KvTable.write(
      keys.map(k => (k, "y", 2L)).toDF("k", "v", "n"), path, s))
    val deleteJobs = jobs(KvTable.delete(keys.toDF("k"), path, s))
    assert(deleteJobs <= writeJobs, s"delete $deleteJobs jobs, write $writeJobs")
    assert(KvTable.read(spark, path).count() === 0)
  }

  test("building readRaw and readAsOf launches no Spark job, and compactMinor " +
    "runs only its merge write (the schema is declared, not inferred)") {
    import graft.connector.KvMergeFixtures.jobs
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val path = TestSpark.scratch("kv-raw-jobs")
    val s = KvSchema.of("k", "v" -> ("f", "v"), "n" -> ("f", "n"))
    KvTable.write(Seq(("a", "x", 1L)).toDF("k", "v", "n"), path, s, SinkMode.Replace)
    KvTable.write(Seq(("b", "y", 2L)).toDF("k", "v", "n").coalesce(1), path, s)
    assert(jobs(spark)(KvTable.readRaw(spark, path)) === 0)
    assert(jobs(spark)(KvTable.readAsOf(spark, path, 1L)) === 0)
    assert(jobs(spark)(KvTable.compactMinor(spark, path,
      smallFileBytes = Long.MaxValue)) === 1)
    KvTable.compactBucketed(spark, path, 2)
    KvTable.write(Seq(("c", "z", 3L)).toDF("k", "v", "n"), path, s)
    assert(jobs(spark)(KvTable.readRaw(spark, path)) === 0)
    val raw = KvTable.readRaw(spark, path)
    // the bucket directory coordinate keeps its type and last position
    assert(raw.schema.last === StructField("__bucket", IntegerType, nullable = true))
    assert(raw.select("k", "__bucket").as[(String, Int)].collect().map(_._1).sorted ===
      Array("a", "b", "c"))
    assert(KvTable.readAsOf(spark, path, 2L).as[(String, String, Long)].collect()
      .sortBy(_._1) === Array(("a", "x", 1L), ("b", "y", 2L)))
  }
}

class KvSchemaSpec extends SparkSpec {
  test("single-key invariant and name collisions rejected") {
    // HBaseScheme.java:151-155 analog
    intercept[IllegalArgumentException] {
      KvSchema.of("k", "k" -> ("f", "q"))
    }
    intercept[IllegalArgumentException] {
      KvSchema.of("k", "v" -> ("f", "q"), "v" -> ("g", "q"))
    }
    intercept[IllegalArgumentException] { KvSchema("k", Nil) }
    // engine-column collisions rejected (write() would silently clobber)
    intercept[IllegalArgumentException] {
      KvSchema.of("__version", "v" -> ("f", "q"))
    }
    intercept[IllegalArgumentException] {
      KvSchema.of("k", "__tombstone" -> ("f", "q"))
    }
  }

  test("json round trip") {
    val s = KvSchema.of("key",
      "a" -> ("fam1", "q1"), "b" -> ("fam1", "q2"), "c" -> ("fam2", "q1"))
    assert(KvSchema.fromJson(s.toJson) === s)
    assert(s.families === Seq("fam1", "fam2"))
    assert(s.fieldNames === Seq("key", "a", "b", "c"))
  }
}
