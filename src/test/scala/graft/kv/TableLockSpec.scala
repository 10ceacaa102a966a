package graft.kv

import graft.{SparkSpec, TestSpark}
import org.apache.hadoop.fs.{Path => HPath}

class TableLockSpec extends SparkSpec {
  import spark.implicits._

  private def schema = KvSchema.of("k", "v" -> ("f", "v"))

  test("concurrent appends serialize: every batch gets a distinct LWW version") {
    // The ADVICE hazard: two uncoordinated appends both compute
    // prevVer + 1 and share a version, demoting LWW to seq ties. With
    // the table lock spanning allocation→publish, N racing writers must
    // produce N distinct versions.
    for ((label, write) <- Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)](
      "write" -> ((d, p) => KvTable.write(d, p, schema)),
      "writeV2" -> ((d, p) => KvTable.writeV2(d, p, schema)))) {
      val path = TestSpark.scratch(s"lock-concurrent-$label")
      KvTable.write(Seq((0L, "seed")).toDF("k", "v"), path, schema,
        SinkMode.Replace)
      val threads = (1 to 4).map { i =>
        new Thread(() => write(Seq((i.toLong, s"t$i")).toDF("k", "v"), path))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val raw = spark.read.parquet(s"$path/data")
      assert(raw.select(KvTable.VersionCol).distinct().count() === 5, label)
      assert(KvTable.read(spark, path).count() === 5, label)
    }
  }

  test("a stale lock from a crashed writer is stolen, not deadlocked") {
    val path = TestSpark.scratch("lock-stale")
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = new HPath(path + ".kvlock")
    val fs = lock.getFileSystem(conf)
    fs.mkdirs(lock.getParent)
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 3600L * 1000, -1) // 1h old
    KvTable.write(Seq((1L, "a")).toDF("k", "v"), path, schema,
      SinkMode.Replace)
    assert(KvTable.read(spark, path).count() === 1)
    assert(!fs.exists(lock)) // released after the write
  }

  test("a live lock blocks a second writer until released") {
    val path = TestSpark.scratch("lock-live")
    val conf = spark.sparkContext.hadoopConfiguration
    @volatile var locked = false
    val holder = new Thread(() =>
      TableLock.withLock(path, conf) { locked = true; Thread.sleep(800) })
    holder.start()
    while (!locked) Thread.sleep(10)
    val t0 = System.nanoTime()
    KvTable.write(Seq((1L, "a")).toDF("k", "v"), path, schema,
      SinkMode.Replace)
    val waitedMs = (System.nanoTime() - t0) / 1000000
    holder.join()
    assert(waitedMs >= 300,
      s"writer should have waited for the live lock holder (${waitedMs}ms)")
    assert(KvTable.read(spark, path).count() === 1)
  }

  test("a nested withLock on the same table in the same thread runs at once") {
    val path = TestSpark.scratch("lock-reentrant")
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = new HPath(path + ".kvlock")
    val fs = lock.getFileSystem(conf)
    val t0 = System.nanoTime()
    // the inner call names the table by its qualified path: the held
    // set is keyed by the qualified lock file, not the caller's string
    val out = TableLock.withLock(path, conf, waitMs = 2000) {
      val inner = TableLock.withLock(fs.makeQualified(new HPath(path)).toString,
        conf, waitMs = 2000)(42)
      assert(fs.exists(lock), "the inner call must not release the outer lock")
      inner
    }
    val tookMs = (System.nanoTime() - t0) / 1000000
    assert(out === 42)
    assert(tookMs < 2000, s"nested withLock waited ${tookMs}ms")
    assert(!fs.exists(lock))
  }
}
