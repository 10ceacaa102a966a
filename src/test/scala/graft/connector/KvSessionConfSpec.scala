package graft.connector

import java.net.URI

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkSpec, TestSpark}
import graft.kv.{KvSchema, KvTable}

/** [[StubLocFileSystem]] under a scheme that no `core-site.xml` names:
  * it resolves only where the session's Hadoop settings reach. */
class SessionOnlyFileSystem extends StubLocFileSystem {
  override def getScheme: String = "sessfs"
  override def getUri: URI = URI.create("sessfs:///")
}

/** Hadoop settings made on the session (`spark.conf.set`) apply to the
  * kvtable connector and the KV store the way they apply to Spark's own
  * file sources: every driver-side plan and commit and every task-side
  * reader and writer runs on the session's configuration. */
class KvSessionConfSpec extends SparkSpec {
  import spark.implicits._

  test("a filesystem registered only through spark.conf serves every " +
    "kvtable read, write, stream and compaction") {
    val settings = Seq(
      "fs.sessfs.impl" -> classOf[SessionOnlyFileSystem].getName,
      // a fresh instance per lookup: a filesystem cached by one caller
      // cannot hide another caller that lacks the setting
      "fs.sessfs.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val path = "sessfs:" + TestSpark.scratch("kv-sessfs")
      val schema = KvSchema.of("k", "v" -> ("f", "v"))
      val base = (0 until 40).map(i => (f"k$i%02d", s"v$i")).toDF("k", "v")
      KvTable.bulkLoad(base, path, schema, buckets = 2)
      KvTable.writeV2(Seq(("k01", "w1"), ("k50", "w50")).toDF("k", "v"),
        path, schema)
      KvTable.delete(Seq("k02").toDF("k"), path, schema)

      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, String)]
      val q = input.toDF().toDF("k", "v")
        .writeStream
        .format("kvtable")
        .option("kvschema", schema.toJson)
        .option("checkpointLocation", TestSpark.scratch("kv-sessfs-ckpt"))
        .outputMode("append")
        .start(path)
      try {
        input.addData(("k03", "s3"))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.exception.isEmpty, q.exception.toString)

      val expected = (0 until 40).map(i => f"k$i%02d" -> s"v$i").toMap -
        "k02" ++ Map("k01" -> "w1", "k50" -> "w50", "k03" -> "s3")
      def live = KvTable.readV2(spark, path).as[(String, String)]
        .collect().toMap
      assert(live === expected)
      assert(KvTable.get(spark, path, "k01").as[(String, String)].collect()
        === Array(("k01", "w1")))

      assert(KvTable.compactMinor(spark, path) >= 1)
      assert(live === expected)
    } finally settings.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
