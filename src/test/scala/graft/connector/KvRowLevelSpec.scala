package graft.connector

import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestSpark}
import graft.kv.KvTable

/** SQL UPDATE / MERGE INTO / arbitrary-predicate DELETE through the
  * delta-based row-level operation: every mutation is an APPEND (puts +
  * tombstones into bucket directories), the target scan presents the
  * live LWW view region-locally (one partition per bucket), and
  * unbucketed tables fail with compaction guidance.
  */
class KvRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = TestSpark.scratch("kvrowlevel-wh")

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.cat_rl", "graft.connector.KvCatalog")
    spark.conf.set("spark.sql.catalog.cat_rl.warehouse", warehouse)
  }

  private def makeTable(name: String, buckets: Option[Int]): String = {
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS cat_rl.$name")
    spark.sql(
      s"""CREATE TABLE cat_rl.$name (k STRING, v STRING, n BIGINT)
         |USING kvtable TBLPROPERTIES ('kv.key'='k')""".stripMargin)
    spark.sql(s"INSERT INTO cat_rl.$name (k, v, n) VALUES " +
      "('a','1',10), ('b','2',20), ('c','3',30), ('d','4',40)")
    buckets.foreach(b =>
      spark.sql(s"CALL cat_rl.system.compact('$name', $b)"))
    s"$warehouse/$name"
  }

  private def live(name: String, path: String) =
    KvTable.lwwView(spark.table(s"cat_rl.$name"),
      KvTable.readSchema(spark, path)).orderBy("k")

  test("UPDATE with a non-key predicate appends new versions") {
    val path = makeTable("u1", Some(2))
    spark.sql("UPDATE cat_rl.u1 SET v = concat(v, '!'), n = n + 1 " +
      "WHERE n >= 30")
    assert(live("u1", path).as[(String, String, Long)].collect() === Array(
      ("a", "1", 10L), ("b", "2", 20L), ("c", "3!", 31L), ("d", "4!", 41L)))
    // mutation was an append: original versions still in the log
    assert(spark.table("cat_rl.u1").count() === 4 + 2)
    spark.sql("DROP TABLE cat_rl.u1")
  }

  test("DELETE with a non-key predicate appends tombstones") {
    val path = makeTable("d1", Some(2))
    spark.sql("DELETE FROM cat_rl.d1 WHERE n > 15 AND v <> '4'")
    assert(live("d1", path).as[(String, String, Long)].collect() === Array(
      ("a", "1", 10L), ("d", "4", 40L)))
    assert(spark.table("cat_rl.d1")
      .filter(col(KvTable.TombstoneCol)).count() === 2)
    spark.sql("DROP TABLE cat_rl.d1")
  }

  test("MERGE INTO: matched update, matched-conditional delete, not-matched insert") {
    val path = makeTable("m1", Some(3))
    Seq(("a", "A", 100L), ("c", "C", 300L), ("e", "E", 500L))
      .toDF("k", "v", "n").createOrReplaceTempView("src_m1")
    spark.sql(
      """MERGE INTO cat_rl.m1 t USING src_m1 s ON t.k = s.k
        |WHEN MATCHED AND s.n >= 300 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n + t.n
        |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)
        |""".stripMargin)
    assert(live("m1", path).as[(String, String, Long)].collect() === Array(
      ("a", "A", 110L), // matched update reads LIVE target values
      ("b", "2", 20L),  // untouched
      ("d", "4", 40L),  // untouched
      ("e", "E", 500L)))// not-matched insert; c deleted
    spark.sql("DROP TABLE cat_rl.m1")
  }

  test("MERGE sees the LIVE view: superseded versions never match stale") {
    val path = makeTable("m2", Some(2))
    // upsert a newer version of 'a' AFTER compaction (bucket-aligned
    // append) — the log now holds TWO versions of 'a' in one bucket
    spark.sql("INSERT INTO cat_rl.m2 (k, v, n) VALUES ('a', '9', 90)")
    Seq(("a", "X", 1L)).toDF("k", "v", "n").createOrReplaceTempView("src_m2")
    spark.sql(
      """MERGE INTO cat_rl.m2 t USING src_m2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET n = t.n + 1
        |""".stripMargin)
    // the update computed from the LIVE n (90), not the stale 10
    assert(live("m2", path).filter(col("k") === "a")
      .as[(String, String, Long)].collect() === Array(("a", "9", 91L)))
    spark.sql("DROP TABLE cat_rl.m2")
  }

  test("a bucketed compaction of a table with no live rows keeps the " +
      "bucket layout, so row-level ops still run on it") {
    val path = makeTable("e1", None)
    spark.sql("DELETE FROM cat_rl.e1 WHERE k IN ('a', 'b', 'c', 'd')")
    spark.sql("CALL cat_rl.system.compact('e1', 2)")
    assert(live("e1", path).count() === 0)
    spark.sql("DELETE FROM cat_rl.e1 WHERE n >= 15")
    spark.sql("UPDATE cat_rl.e1 SET n = n + 1 WHERE v = '1'")
    Seq(("a", "A", 1L)).toDF("k", "v", "n").createOrReplaceTempView("src_e1")
    spark.sql(
      """MERGE INTO cat_rl.e1 t USING src_e1 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
        |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)
        |""".stripMargin)
    assert(live("e1", path).as[(String, String, Long)].collect() ===
      Array(("a", "A", 1L)))
    spark.sql("DROP TABLE cat_rl.e1")
  }

  test("row-level ops on an unbucketed table fail with compaction guidance") {
    makeTable("u2", None)
    val e = intercept[Exception] {
      spark.sql("UPDATE cat_rl.u2 SET n = 0 WHERE v = '1'")
    }
    assert(e.getMessage.contains("compact"))
    spark.sql("DROP TABLE cat_rl.u2")
  }
}
