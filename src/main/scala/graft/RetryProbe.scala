package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

import graft.kv.{KvField, KvSchema, KvTable, SinkMode}

/** Chaos probe for the fault-tolerance claims of SURVEY §2 row 4: runs
  * KV mutations under `local[8, 4]` (4 task attempts) with injected
  * task failures and asserts the claims the scaladoc makes —
  *
  *  1. a task that dies MID-ITERATOR on its first attempt (after
  *     consuming and emitting part of its partition) retries to a
  *     byte-exact table: no missing rows, no duplicated rows, no
  *     version drift (the reference's record reader instead SKIPS one
  *     row per restart, `TableInputFormatWrap.java:171` — the bug this
  *     engine deliberately does not copy);
  *  2. a write whose partitions exhaust ALL attempts publishes
  *     NOTHING: the manifest/meta are untouched, the previous live
  *     view and maxVersion survive byte-exact, and the table lock is
  *     released so the next writer proceeds (atomic publish — failed
  *     jobs leave no trace for 100 TB retries to trip on);
  *  3. version allocation is exactly-once across retried mutations:
  *     maxVersion advances by exactly one per successful mutation no
  *     matter how many task attempts ran.
  *
  * Run via `tools/retry_probe.sh` (own JVM: the shared test session is
  * `local[4]` = maxFailures 1, so retry semantics need this probe).
  * Exits nonzero on any violation; prints one PASS line per claim.
  */
object RetryProbe {

  /** Dies on the first attempt after `at` rows of the partition have
    * flowed through — the retried attempt sees attemptNumber > 0 and
    * runs clean. Partial output of the dead attempt must never surface. */
  private def flaky(at: Int): ((String, Long)) => (String, Long) = {
    var seen = 0
    kv => {
      seen += 1
      if (seen == at && TaskContext.get().attemptNumber() == 0)
        throw new RuntimeException(s"injected failure at row $at, attempt 0")
      kv
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.builder("graft-retry-probe", cores = 8)
      .master("local[8, 4]")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val path = args.headOption.getOrElse("target/kvscratch/retry_probe")
    KvTable.drop(spark, path)
    val schema = KvSchema("k", Seq(KvField("v", "f", "val")))
    val n = 10000L
    def base = spark.range(0, n).select(
        concat(lit("k"), lpad($"id".cast("string"), 6, "0")).as("k"),
        ($"id" * 7).as("v"))
      .as[(String, Long)].repartition(8)

    def liveChecksum(): (Long, Long, Long) = {
      val r = KvTable.read(spark, path)
        .agg(count("*"), sum(hash(col("k"), col("v")).cast("long")))
        .head()
      (r.getLong(0), r.getLong(1), KvTable.maxVersion(spark, path))
    }

    // -- claim 1: mid-iterator first-attempt death, every partition ----
    KvTable.write(base.map(flaky(137)).toDF("k", "v"), path, schema)
    val clean = base.toDF("k", "v")
      .agg(count("*"), sum(hash(col("k"), col("v")).cast("long"))).head()
    val (c1, h1, v1) = liveChecksum()
    require(c1 == clean.getLong(0) && h1 == clean.getLong(1),
      s"retried write diverged: rows $c1 vs ${clean.getLong(0)}, " +
        s"checksum $h1 vs ${clean.getLong(1)}")
    println(s"PASS retried-write-exact rows=$c1 version=$v1")

    // LWW overwrite under the same chaos: update every key, die again.
    KvTable.write(
      base.map { case (k, v) => (k, v + 1) }.map(flaky(411)).toDF("k", "v"),
      path, schema)
    val (c2, _, v2) = liveChecksum()
    require(c2 == n && v2 == v1 + 1,
      s"retried overwrite drifted: rows $c2, version $v1 -> $v2 (want +1)")
    val probeRow = KvTable.get(spark, path, "k000042").head()
    require(probeRow.getLong(1) == 42L * 7 + 1,
      s"LWW lost the retried update: ${probeRow.getLong(1)}")
    println(s"PASS retried-overwrite-lww version=$v2")

    // -- claim 2: all attempts exhausted -> nothing published ----------
    val before = liveChecksum()
    val fatal = base.map { kv =>
      if (true) throw new RuntimeException("injected: every attempt dies")
      kv
    }.toDF("k", "v")
    val failed =
      try { KvTable.write(fatal, path, schema); false }
      catch { case _: Exception => true }
    require(failed, "a write whose tasks always die must fail the job")
    require(liveChecksum() == before,
      s"failed write leaked state: $before -> ${liveChecksum()}")
    // the lock must be released: a clean follow-up write succeeds
    KvTable.write(Seq(("k999999", 1L)).toDF("k", "v"), path, schema)
    val (c3, _, v3) = liveChecksum()
    require(c3 == n + 1 && v3 == before._3 + 1,
      s"post-failure write broken: rows $c3, version ${before._3} -> $v3")
    println(s"PASS failed-write-atomic version=$v3")

    // -- claim 3: retried delete tombstones exactly once ---------------
    val delKeys = base.filter(_._2 % 70 == 0).map(flaky(29))
      .map(_._1).toDF("k")
    KvTable.delete(delKeys, path, schema)
    val (c4, _, v4) = liveChecksum()
    require(c4 == n + 1 - (n / 10) && v4 == v3 + 1,
      s"retried delete drifted: rows $c4 (want ${n + 1 - n / 10}), " +
        s"version $v3 -> $v4 (want +1)")
    println(s"PASS retried-delete-exact rows=$c4 version=$v4")

    KvTable.drop(spark, path)
    println("RETRY_PROBE_OK")
    spark.stop()
  }
}
