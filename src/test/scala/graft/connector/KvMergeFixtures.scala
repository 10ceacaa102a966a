package graft.connector

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.kv.{KvSchema, KvTable}

/** Shared helpers of the merge-on-read specs and properties. */
object KvMergeFixtures {

  /** Every physical operator of `plan`, adaptive stages included. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p => p }

  /** Names of the Aggregate, Sort and Exchange operators in `plan`. */
  def blocking(plan: SparkPlan): Seq[String] = nodes(plan).collect {
    case p if p.nodeName.contains("Aggregate") || p.nodeName == "Sort" ||
      p.nodeName.contains("Exchange") => p.nodeName
  }

  /** Appends `rows` (key, value or None for a tombstone) at `version` as
    * key-DESCENDING parquet files placed straight into their bucket
    * directories, recorded unsorted in the manifest — the file a writer
    * that does not sort would leave. Advances the meta counter to
    * `version`. */
  def appendUnsorted(spark: SparkSession, path: String, schema: KvSchema,
                     rows: Seq[(String, Option[String])], version: Long): Unit = {
    import spark.implicits._
    val conf = KvHadoopConf(spark)
    val buckets = KvV2Util.readBuckets(path, conf)
    require(buckets > 0, s"$path is not bucketed")
    val valueField = schema.valueFields.head.name
    val tmp = s"$path/.unsorted-tmp"
    rows.zipWithIndex.map { case ((k, v), i) => (k, v.orNull, i.toLong, v.isEmpty) }
      .toDF(schema.keyField, valueField, KvTable.SeqCol, KvTable.TombstoneCol)
      .select(col(schema.keyField), col(valueField), lit(version).as(KvTable.VersionCol),
        col(KvTable.SeqCol), col(KvTable.TombstoneCol),
        pmod(hash(col(schema.keyField)), lit(buckets)).as(KvV2Util.BucketCol))
      .repartition(1).sortWithinPartitions(desc(schema.keyField))
      .write.partitionBy(KvV2Util.BucketCol).parquet(tmp)
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new HPath(tmp)).filter(_.isDirectory).foreach { dir =>
      val target = new HPath(s"$path/data/${dir.getPath.getName}")
      fs.mkdirs(target)
      fs.listStatus(dir.getPath).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath,
          new HPath(target, s"unsorted-$version-${f.getPath.getName}")))
    }
    fs.delete(new HPath(tmp), true)
    KvStats.refresh(path, conf)
    KvV2Util.writeMeta(path, conf, math.max(version,
      KvV2Util.readMeta(path, conf)._1), buckets)
  }

  /** The merge scan's rows at `VERSION AS OF asOf`, read on the driver
    * through the scan's own partitions and reader. */
  def mergeAsOf(spark: SparkSession, path: String, asOf: Long,
                columns: Seq[String]): Seq[Row] = {
    val conf = KvHadoopConf(spark)
    val full = KvV2Util.inferSchema(path, conf)
    val b = new KvScanBuilder(path, full, Some(asOf), conf, lww = true)
    b.pruneColumns(StructType(columns.map(full(_))))
    val scan = b.build().toBatch
    val factory = scan.createReaderFactory()
    scan.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[InternalRow]
      try while (r.next()) out += r.get().copy() finally r.close()
      out.result()
    }.map(r => Row.fromSeq(columns.indices.map(i =>
      r.get(i, full(columns(i)).dataType) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case x => x
      })))
  }

  /** The executed plans of the queries `body` runs. */
  def executedPlans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.graftbridge.ListenerFlush(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Spark jobs `body` launches. */
  def jobs(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerFlush(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.graftbridge.ListenerFlush(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  def collectRows(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet
}
