package graft.kv

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestSpark}
import graft.connector.{KvMergeFixtures, KvScanMetrics}

class KvZOrderSpec extends SparkSpec {
  import spark.implicits._

  private val schema = KvSchema.of("k",
    "x" -> ("f", "x"), "y" -> ("f", "y"), "tag" -> ("f", "t"))

  /** 32x32 grid in random key order: x and y are independent, so a
    * single-column sort could only ever serve one of them. */
  private def grid() = {
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 1024).toList)
      .map(i => (i.toLong, (i % 32).toLong, (i / 32).toLong, s"t$i"))
      .toDF("k", "x", "y", "tag")
  }

  test("z-order clustering prunes selective scans on BOTH dimensions " +
    "and preserves the LWW view") {
    val path = TestSpark.scratch("zorder")
    KvTable.write(grid(), path, schema, SinkMode.Replace)
    val before = KvTable.read(spark, path)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)

    KvTable.compactZOrder(spark, path, Seq("x", "y"), cells = 16,
      files = 16)

    // correctness: identical live view after the rewrite
    val after = KvTable.read(spark, path)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(after === before)

    // pruning: a narrow predicate on EITHER dimension must drop most
    // row groups (each file covers a compact z-range = a small x AND y
    // rectangle; 16 files over a 16x16-cell curve -> a 2-cell-wide
    // slice in one dimension intersects few files). Counted by the
    // scan's metric: the scan packs small groups into fewer tasks.
    val raw = spark.read.format("kvtable").load(path)
    def groupsPlanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      KvMergeFixtures.nodes(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec => b.metrics(KvScanMetrics.RowGroupsPlanned).value
      }.sum
    }
    val total = groupsPlanned(raw.select("k", "x", "y"))
    assert(total >= 8, s"expected >=8 row groups planned, got $total")
    val px = groupsPlanned(raw.filter($"x" >= 30).select("k", "x", "y"))
    val py = groupsPlanned(raw.filter($"y" >= 30).select("k", "x", "y"))
    assert(px <= total / 2, s"x-predicate kept $px of $total row groups")
    assert(py <= total / 2, s"y-predicate kept $py of $total row groups")
    // and the pruned scans still return exactly the right rows
    assert(raw.filter($"x" >= 30).count() === 2 * 32)
    assert(raw.filter($"y" >= 30).count() === 2 * 32)
  }

  test("quantile quantization is skew-proof: a hot value does not " +
    "collapse the curve") {
    val path = TestSpark.scratch("zorder-skew")
    // 90% of x mass on one value; y uniform
    val rows = (0 until 1000).map { i =>
      val x = if (i % 10 == 0) i.toLong else 42L
      (i.toLong, x, (i % 50).toLong, s"t$i")
    }
    KvTable.write(rows.toDF("k", "x", "y", "tag"), path, schema,
      SinkMode.Replace)
    KvTable.compactZOrder(spark, path, Seq("x", "y"), cells = 16,
      files = 8)
    val raw = spark.read.format("kvtable").load(path)
    val total = raw.select("k", "y").rdd.getNumPartitions
    // y predicates must still prune despite x's skew
    val py = raw.filter($"y" >= 45).select("k", "y").rdd.getNumPartitions
    assert(py < total, s"y-predicate kept all $total partitions")
    assert(raw.filter($"y" >= 45).count() === 100)
  }

  test("date and timestamp columns are rankable (days / seconds since " +
    "epoch)") {
    val path = TestSpark.scratch("zorder-date")
    val s2 = KvSchema.of("k", "d" -> ("f", "d"), "x" -> ("f", "x"))
    val rows = (0 until 100)
      .map(i => (i.toLong, java.sql.Date.valueOf(f"2024-${i % 12 + 1}%02d-15"),
        (i % 10).toLong))
      .toDF("k", "d", "x")
    KvTable.write(rows, path, s2, SinkMode.Replace)
    val before = KvTable.read(spark, path)
      .as[(Long, java.sql.Date, Long)].collect().sortBy(_._1)
    KvTable.compactZOrder(spark, path, Seq("d", "x"), cells = 8)
    val after = KvTable.read(spark, path)
      .as[(Long, java.sql.Date, Long)].collect().sortBy(_._1)
    assert(after === before)
  }

  test("z-order survives tombstones, keeps versions, and rejects " +
    "non-rankable columns") {
    val path = TestSpark.scratch("zorder-lifecycle")
    KvTable.write(grid(), path, schema, SinkMode.Replace)
    // upsert + delete, then cluster: history must collapse to the live
    // view with original versions (same contract as compact())
    KvTable.write(Seq((5L, 99L, 99L, "updated")).toDF("k", "x", "y", "tag"),
      path, schema, SinkMode.Append)
    KvTable.delete(Seq(6L, 7L).toDF("k"), path, schema)
    val expect = KvTable.read(spark, path)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    KvTable.compactZOrder(spark, path, Seq("x", "y"), cells = 16)
    val got = KvTable.read(spark, path)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got === expect)
    assert(!got.exists(r => r._1 == 6L || r._1 == 7L))
    assert(got.find(_._1 == 5L).get._4 === "updated")

    intercept[IllegalArgumentException] {
      KvTable.compactZOrder(spark, path, Seq("tag"))
    }
  }
}
