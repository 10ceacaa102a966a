package graft.connector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{AppendDataExec, BatchScanExec}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.kv.{KvSchema, KvTable, SinkMode}
import KvMergeFixtures._

/** Merge-on-read LWW: on a bucket-compacted table whose files are all
  * recorded key-sorted, `KvTable`'s reads, Gets, bucketed joins and
  * same-n bucketed compaction read through the connector's merge scan,
  * with no aggregation, sort or shuffle; every other table keeps the
  * aggregate collapse. */
class KvMergeScanSpec extends SparkSpec {
  import spark.implicits._

  private val schema = KvSchema.of("k", "v" -> ("f", "v"))
  private def key(i: Int) = f"k$i%04d"

  /** `n` keys bulk-loaded into 4 buckets, then `appends` upserts of
    * every key: each bucket holds 1 + `appends` overlapping sorted runs. */
  private def table(name: String, n: Int, appends: Int): String = {
    val path = TestSpark.scratch(name)
    KvTable.bulkLoad((0 until n).map(i => (key(i), "v0")).toDF("k", "v"), path,
      schema, buckets = 4)
    (1 to appends).foreach { a =>
      KvTable.write((0 until n).map(i => (key(i), s"v$a")).toDF("k", "v"), path, schema)
    }
    path
  }

  private def mergeable(path: String) =
    KvV2Util.mergeable(path, KvHadoopConf(spark))

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    nodes(df.queryExecution.executedPlan).collect { case b: BatchScanExec => b }

  test("bucketed readV2, read, get, joinBucketed and a same-n compactBucketed " +
    "plan no Aggregate, Sort or Exchange between the scan and their consumer") {
    val path = table("merge-plan", 200, 2)
    KvTable.delete(Seq(key(3)).toDF("k"), path, schema)
    assert(mergeable(path))
    val want = (0 until 200).filter(_ != 3).map(i => (key(i), "v2")).toSet
    for ((name, df) <- Seq(
        "readV2" -> KvTable.readV2(spark, path),
        "read" -> KvTable.read(spark, path),
        "readRange" -> KvTable.readRange(spark, path, Some(key(10)), Some(key(20))),
        "get" -> KvTable.get(spark, path, key(7)))) {
      val got = collectRows(df)
      assert(got === want.filter { case (k, _) => name match {
        case "readRange" => k >= key(10) && k < key(20)
        case "get" => k == key(7)
        case _ => true
      }}, name)
      assert(blocking(df.queryExecution.executedPlan).isEmpty,
        s"$name:\n${df.queryExecution.executedPlan}")
      assert(scans(df).forall(_.scan.description().contains("LwwMerge")), name)
    }

    val other = TestSpark.scratch("merge-plan-b")
    KvTable.bulkLoad((0 until 200 by 2).map(i => (key(i), s"w$i")).toDF("k", "w"), other,
      KvSchema.of("k", "w" -> ("g", "w")), buckets = 4)
    val j = KvTable.joinBucketed(spark, path, other)
    assert(j.collect().length === 100) // the even keys
    assert(blocking(j.queryExecution.executedPlan).isEmpty,
      j.queryExecution.executedPlan.toString)

    val plans = executedPlans(spark)(KvTable.compactBucketed(spark, path, 4))
    val writes = plans.filter(p => nodes(p).exists(_.isInstanceOf[AppendDataExec]))
    assert(writes.nonEmpty, plans.mkString("\n"))
    writes.foreach(p => assert(blocking(p).isEmpty, p.toString))
    assert(collectRows(KvTable.readV2(spark, path)) === want)
    assert(mergeable(path), "compaction must record its files sorted")
  }

  test("a bucketed table keyed by a date or a double keeps the merge scan " +
    "after compactBucketed: its writer observes the key order") {
    for ((name, key) <- Seq("date" -> expr("date_add(date'2024-01-01', cast(id as int))"),
        "double" -> expr("id * 1.5 - 20"))) {
      val path = TestSpark.scratch(s"merge-key-$name")
      val rows = spark.range(40).select(key.as("k"), col("id").cast("string").as("v"))
      KvTable.write(rows, path, schema, SinkMode.Replace)
      KvTable.compactBucketed(spark, path, 4)
      assert(mergeable(path), name)
      val df = KvTable.read(spark, path)
      assert(df.count() === 40, name)
      assert(scans(df).forall(_.scan.description().contains("LwwMerge")), name)
    }
  }

  test("unbucketed tables and a table with a file not recorded sorted keep " +
    "the aggregate") {
    val flat = TestSpark.scratch("merge-flat")
    KvTable.write(Seq(("a", "1"), ("b", "2")).toDF("k", "v"), flat, schema, SinkMode.Replace)
    KvTable.write(Seq(("a", "3")).toDF("k", "v"), flat, schema)
    assert(!mergeable(flat))
    val f = KvTable.readV2(spark, flat)
    assert(collectRows(f) === Set(("a", "3"), ("b", "2")))
    assert(blocking(f.queryExecution.executedPlan).exists(_.contains("Aggregate")))

    val path = table("merge-unsorted", 40, 1)
    appendUnsorted(spark, path, schema, Seq(key(5) -> Some("u"), key(1) -> None), 3L)
    assert(!mergeable(path))
    val want = (0 until 40).filter(_ != 1)
      .map(i => (key(i), if (i == 5) "u" else "v1")).toSet
    for (df <- Seq(KvTable.readV2(spark, path), KvTable.read(spark, path))) {
      assert(collectRows(df) === want)
      assert(blocking(df.queryExecution.executedPlan).exists(_.contains("Aggregate")))
    }
  }

  test("scan metrics: 3 overlapping appends of N keys decode 3N rows and " +
    "emit N; row groups planned counts the bucket runs") {
    val n = 300
    val path = table("merge-metrics", n, 2)
    val df = KvTable.readV2(spark, path)
    assert(df.collect().length === n)
    val scan = scans(df).head
    val groups = KvStats.read(path, KvHadoopConf(spark)).get.files.map(_.groups.size).sum
    assert(scan.metrics(KvScanMetrics.RowsDecoded).value === 3L * n)
    assert(scan.metrics(KvScanMetrics.RowsEmitted).value === n.toLong)
    assert(scan.metrics(KvScanMetrics.RowGroupsPlanned).value === groups.toLong)
    assert(scan.metrics("numOutputRows").value === n.toLong)
    // the raw log scan emits every decoded row
    val raw = spark.read.format("kvtable").load(path)
    assert(raw.collect().length === 3 * n)
    assert(scans(raw).head.metrics(KvScanMetrics.RowsEmitted).value === 3L * n)
  }

  test("filters on non-key columns never prune row groups before the merge") {
    val path = table("merge-nonkey", 40, 1) // every key: v0 at version 1, v1 at 2
    val old = KvTable.readV2(spark, path).filter($"v" === "v0")
    assert(old.count() === 0, "a superseded version must not resurface")
    val desc = scans(old).head.scan.description()
    assert(!desc.contains("v0"), s"non-key filter reached pruning: $desc")
    // a key filter prunes (and stays correct)
    val k = KvTable.readV2(spark, path).filter($"k" === key(9))
    assert(collectRows(k) === Set((key(9), "v1")))
    assert(scans(k).head.scan.description().contains(key(9)))
    // builder level: every filter is returned as a residual
    val full = KvV2Util.inferSchema(path, KvHadoopConf(spark))
    val b = new KvScanBuilder(path, full, hadoopConf = KvHadoopConf(spark), lww = true)
    val fs = Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("v", "v0"),
      org.apache.spark.sql.sources.EqualTo("k", key(9)),
      org.apache.spark.sql.sources.LessThan(KvTable.VersionCol, 2L))
    assert(b.pushFilters(fs) === fs)
    assert(b.pushedFilters().toSeq === Seq(fs(1)))
  }

  test("LIMIT, top-N and aggregate pushdown are declined; each is computed " +
    "on merged rows") {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val path = table("merge-limit", 100, 2)
    KvTable.delete((0 until 50).map(key).toDF("k"), path, schema)
    val full = KvV2Util.inferSchema(path, KvHadoopConf(spark))
    def builder() = new KvScanBuilder(path, full, hadoopConf = KvHadoopConf(spark),
      lww = true)
    val all = builder().build().toBatch.planInputPartitions().length
    val bl = builder()
    assert(!bl.pushLimit(1))
    assert(bl.build().toBatch.planInputPartitions().length === all)
    assert(!builder().pushTopN(Array(Expressions.sort(Expressions.column("k"),
      SortDirection.ASCENDING)), 1))
    val agg = new org.apache.spark.sql.connector.expressions.aggregate.Aggregation(
      Array(new org.apache.spark.sql.connector.expressions.aggregate.CountStar()),
      Array.empty)
    assert(!builder().supportCompletePushDown(agg))
    assert(!builder().pushAggregation(agg))

    val v = KvTable.readV2(spark, path)
    assert(v.count() === 50)
    assert(v.limit(7).collect().length === 7)
    assert(v.orderBy("k").limit(3).select("k").as[String].collect() ===
      Array(key(50), key(51), key(52)))
    assert(v.agg(max("k")).as[String].collect() === Array(key(99)))
    assert(!v.queryExecution.executedPlan.treeString.contains("kvtable-count"))
  }

  test("the VERSION AS OF ceiling applies before the merge") {
    val path = TestSpark.scratch("merge-asof")
    KvTable.bulkLoad(Seq(("a", "a1"), ("b", "b1"), ("c", "c1")).toDF("k", "v"), path,
      schema, buckets = 2) // version 1
    KvTable.write(Seq(("a", "a2")).toDF("k", "v"), path, schema) // 2
    KvTable.delete(Seq("b").toDF("k"), path, schema) // 3
    KvTable.write(Seq(("b", "b4"), ("c", "c4")).toDF("k", "v"), path, schema) // 4
    assert(mergeable(path))
    def at(v: Long) = mergeAsOf(spark, path, v, Seq("k", "v"))
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(at(1) === Set(("a", "a1"), ("b", "b1"), ("c", "c1")))
    assert(at(2) === Set(("a", "a2"), ("b", "b1"), ("c", "c1")))
    assert(at(3) === Set(("a", "a2"), ("c", "c1"))) // the tombstone at the ceiling
    assert(at(4) === Set(("a", "a2"), ("b", "b4"), ("c", "c4")))
    (1L to 4L).foreach { v =>
      assert(at(v) === collectRows(KvTable.readAsOf(spark, path, v)), s"as of $v")
    }
  }

  test("a bucket with a run not recorded sorted is merged by hash: correct, " +
    "and the scan reports no ordering") {
    val path = table("merge-hash", 60, 1)
    appendUnsorted(spark, path, schema,
      Seq(key(59) -> Some("u59"), key(2) -> None, key(7) -> Some("u7")), 3L)
    val view = KvBatchTable.lwwView(spark, path)
    val want = (0 until 60).filter(_ != 2).map(i =>
      (key(i), i match { case 59 => "u59"; case 7 => "u7"; case _ => "v1" })).toSet
    assert(collectRows(view.select("k", "v")) === want)
    val sorted = view.select("k", "v").sortWithinPartitions("k")
    sorted.collect()
    assert(nodes(sorted.queryExecution.executedPlan).exists(_.nodeName == "Sort"))
    // the compaction reads through the aggregate (the table is not
    // mergeable) and leaves every file sorted again
    KvTable.compactBucketed(spark, path, 4)
    assert(mergeable(path))
    assert(collectRows(KvTable.readV2(spark, path)) === want)
  }

  test("every file a bucketed table's appends, deletes, checkAndPut, stream " +
    "epochs and minor compaction write is recorded sorted") {
    val path = table("merge-sources", 50, 1)
    KvTable.delete(Seq(key(1)).toDF("k"), path, schema)
    assert(KvTable.checkAndPut(Seq((key(2), "cap")).toDF("k", "v"), path, schema,
      "v", lit("v1")) === 1L)
    val in = TestSpark.scratch("merge-sources-in")
    Seq((key(3), "s3"), (key(70), "s70"), (key(4), "s4")).toDF("k", "v")
      .coalesce(1).write.parquet(in)
    spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
      .writeStream.format("kvtable")
      .option("kvschema", schema.toJson)
      .option("checkpointLocation", TestSpark.scratch("merge-sources-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(path).awaitTermination()
    assert(mergeable(path))
    KvTable.compactMinor(spark, path, smallFileBytes = Long.MaxValue)
    assert(mergeable(path))
    val want = (0 until 50).filter(_ != 1).map(i => (key(i), i match {
      case 2 => "cap"; case 3 => "s3"; case 4 => "s4"; case _ => "v1"
    })).toSet + ((key(70), "s70"))
    assert(collectRows(KvTable.readV2(spark, path)) === want)
    assert(collectRows(KvTable.read(spark, path)) === want)
  }
}
