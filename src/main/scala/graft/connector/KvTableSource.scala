package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 provider for the KV table log: `format("kvtable")`.
  *
  * This is the engine's analog of the reference's table-scan input
  * format (`TableInputFormatWrap.java`), re-expressed V2-style:
  *
  *  - one `InputPartition` per parquet ROW GROUP = one split per region
  *    (`getSplits`, `TableInputFormatWrap.java:40-82`), planned from the
  *    persisted stats manifest ([[KvStats]]) with no driver footer IO;
  *  - rowkey-range row-group pruning from manifest min/max statistics =
  *    region pruning against `[startRow, stopRow)`
  *    (`TableInputFormatWrap.java:55-65`) — with CORRECT closed-open
  *    boundary handling (a group whose range straddles the bound is
  *    kept; the reference drops regions containing startRow and
  *    force-extends the tail split, SURVEY.md §2b);
  *  - `preferredLocations` from HDFS block locations = the split's
  *    region-server hostname pin (`TableSplitWrap.java:7-17`);
  *  - column pruning pushed into the parquet reader = the improvement
  *    over the reference's client-side full-row projection
  *    (`HBaseScheme.java:96-103`);
  *  - key filters are used for pruning and ALSO returned to Spark as
  *    residuals, so correctness never depends on reader-side filtering.
  *
  * The relation exposes the RAW log (engine columns included) — the
  * last-write-wins collapse is an aggregation, which V2 scans cannot
  * express; `KvTable.read` applies it on top. Fault tolerance comes
  * from Spark task retry over immutable files (the reference's
  * restart-and-skip-one-row scanner heuristic, which can drop or
  * duplicate a row, is deliberately NOT reproduced).
  *
  * Supported column types: string, binary, boolean, int, long, double,
  * float, and timestamps in BOTH physical parquet encodings — INT64
  * micros (the V2 writer's output) and INT96 nanos+julian-day (what
  * Spark's own parquet writer emits by default, i.e. every v1-written
  * table) — decoded per file.
  */
class KvTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kvtable"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "kvtable requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KvV2Util.inferSchema(path(options),
      KvHadoopConf.active(options.asCaseSensitiveMap.asScala.toMap))

  /** Writes supply their own schema (a brand-new table has no files to
    * infer from). */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KvBatchTable(properties.get("path"), schema,
      hadoopConf = KvHadoopConf.active(properties.asScala.toMap))
}

/** `asOf`: a time-travel snapshot bound — scans see only log rows with
  * `__version <= asOf` (version-ceiling row filter in the reader,
  * row-group pruning from the manifest's `__version` min/max). The
  * snapshot is read-only. SQL: `SELECT ... FROM t VERSION AS OF <v>`
  * via [[KvCatalog.loadTable(ident, version)]]. `hadoopConf` is the
  * session configuration every scan and write of this table uses. */
class KvBatchTable(path: String, tableSchema0: StructType,
                   asOf: Option[Long] = None,
                   hadoopConf: Configuration)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  // The rowkey is structurally non-null (single-key invariant,
  // `HBaseScheme.java:151-155`); declaring it so also satisfies the
  // row-level API, whose row ID attributes must be non-nullable.
  private val tableSchema: StructType =
    KvV2Util.readKeyField(path, hadoopConf)
      .map(k => StructType(tableSchema0.fields.map(f =>
        if (f.name == k) f.copy(nullable = false) else f)))
      .getOrElse(tableSchema0)

  override def name(): String =
    s"kvtable($path${asOf.map(v => s" VERSION AS OF $v").getOrElse("")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    if (asOf.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path, tableSchema, asOf, hadoopConf)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty, s"kvtable snapshot $name is read-only")
    new KvWriteBuilder(path, info, hadoopConf)
  }

  /** SQL `DELETE FROM t WHERE <rowkey predicate>` — the reference's
    * Delete-mutation dispatch (`TableOutputFormatWrap.java:79-84`)
    * surfaced through SQL. Supported shapes are exactly the HBase
    * Delete(rowkey) addressing: EqualTo/In (and OR-trees of them) on
    * the key column — the delete then APPENDS tombstones through the
    * same V2 writer as any other mutation, never rewriting data files.
    * An unconditional `DELETE FROM t` truncates. Any non-key predicate
    * makes `canDeleteWhere` return false, failing analysis loudly
    * instead of silently scanning-and-rewriting (which a log-structured
    * table cannot do atomically).
    */
  /** SQL `UPDATE` / `MERGE INTO` / arbitrary-predicate `DELETE` via the
    * delta-based row-level API (see [[KvRowLevelOperationBuilder]]) —
    * requires a bucket-compacted table so the operation's target scan
    * can present the live view region-locally. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty, s"kvtable snapshot $name is read-only")
    new KvRowLevelOperationBuilder(path, tableSchema, info, hadoopConf)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    KvV2Util.deleteTarget(path, filters, hadoopConf).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    KvV2Util.deleteTarget(path, filters, hadoopConf) match {
      case Some(None) =>
        // unconditional: truncate the log (driver-side, like REPLACE)
        KvV2Util.truncateData(path, hadoopConf)
      case Some(Some(keys)) if keys.nonEmpty =>
        val schema = graft.kv.KvTable.readSchema(spark, path)
        val keyType = tableSchema.fields.find(_.name == schema.keyField)
          .map(_.dataType).getOrElse(StringType)
        val rows = keys.toSeq.map(k => org.apache.spark.sql.Row(k))
        val df = spark.createDataFrame(
          new util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
          StructType(Seq(StructField(schema.keyField, keyType))))
        graft.kv.KvTable.deleteV2(df, path, schema)
      case _ => () // empty key set: nothing to delete
    }
  }
}

class KvScanBuilder(path: String, fullSchema: StructType,
                    asOf: Option[Long] = None,
                    hadoopConf: Configuration = KvHadoopConf.active())
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  /** LIMIT pushdown (HBase `PageFilter`): remember the limit so
    * planning can stop adding row groups once the manifest row counts
    * cover it — `LIMIT 10` against a 10^5-file table plans one
    * partition, not one per row group. Returns false (PARTIAL push):
    * the scan may emit up to a full row group, Spark's own Limit
    * finishes the job. Spark only pushes a limit when every filter
    * below it was fully pushed — this connector keeps all filters as
    * residuals, so a filtered scan never truncates wrongly (the
    * planning guard repeats the check defensively). */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false
  }

  private var topN: Option[(Boolean, Int)] = None

  /** ORDER BY rowkey LIMIT n (the HBase ordered scan + PageFilter):
    * accepted for a single sort on the table's key; planning then takes
    * row groups in key-range order until the manifest counts cover `n`
    * — sound ONLY when the groups' key ranges are pairwise disjoint
    * (bucket-unpartitioned compacted/bulk-loaded layouts), which the
    * scan verifies from the manifest and otherwise declines to
    * truncate. Always PARTIAL: Spark re-sorts and limits whatever the
    * scan emits, so a declined truncation is merely unoptimized, never
    * wrong. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val keyName = KvV2Util.readKeyField(path, hadoopConf)
    val ok = orders.length == 1 && keyName.nonEmpty &&
      (orders(0).expression() match {
        case nr: NamedReference =>
          nr.fieldNames().length == 1 && nr.fieldNames()(0) == keyName.get
        case _ => false
      })
    if (ok)
      topN = Some((orders(0).direction() == SortDirection.ASCENDING, n))
    ok
  }

  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Keep every filter as a Spark-side residual (return value) while
    * remembering the ones usable for file pruning (pushedFilters). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(KvV2Util.prunable)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Metadata-only aggregates: `COUNT(*)` plus `MIN`/`MAX` over
    * int/long columns the manifest has complete row-group stats for —
    * an unfiltered, ungrouped query of these never touches a data
    * file; the answer is one driver-side JSON read (footer fallback
    * only for unmanifested files). Safety: Spark only attempts
    * aggregate pushdown when the scan has no residual filters, and
    * this connector keeps EVERY filter as a residual, so a filtered
    * aggregate can never be wrongly answered from metadata;
    * time-travel snapshots decline too (their bound filters rows).
    * MIN/MAX is deliberately limited to integral types (parquet
    * float/double stats are unreliable around NaN) and declines
    * unless EVERY non-empty row group carries stats for the column
    * (all-NULL groups participate as "no value", matching MIN/MAX
    * null-skipping). The values answered are over the RAW log —
    * exactly what the same SQL over the catalog's raw-log view
    * computes. */
  private def tryMetadataAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty || asOf.nonEmpty)
      return None
    def named(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val parsed: Seq[Option[(String, String)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(("count", null))
        case m: Min => named(m.column).map(("min", _))
        case m: Max => named(m.column).map(("max", _))
        case _ => None
      }
    if (parsed.exists(_.isEmpty)) return None
    val specs = parsed.flatten
    def sparkType(c: String) = fullSchema.fields.find(_.name == c).map(_.dataType)
    val typesOk = specs.forall {
      case ("count", _) => true
      case (_, c) => sparkType(c).exists {
        case IntegerType | LongType => true
        case _ => false
      }
    }
    if (!typesOk) return None
    val conf = hadoopConf
    val byRel: Map[String, KvStats.FileStat] =
      KvStats.read(path, conf)
        .map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
    val groups = KvV2Util.dataFiles(path, conf).flatMap { f =>
      val rel = KvStats.relativize(path, f.getPath, conf)
      byRel.get(rel).filter(_.len == f.getLen)
        .getOrElse(KvStats.fromFooter(f.getPath, rel, f.getLen, conf))
        .groups
    }
    def covered(c: String): Boolean = groups.forall(g =>
      g.rows == 0 || g.stats.get(c).exists(cs => cs.t == "l" || cs.t == "n"))
    if (!specs.forall { case (k, c) => k == "count" || covered(c) })
      return None
    val fields = specs.map {
      case ("count", _) => StructField("count(*)", LongType, nullable = false)
      case (k, c) => StructField(s"$k($c)", sparkType(c).get)
    }
    val values: Array[Any] = specs.map {
      case ("count", _) => groups.map(_.rows).sum
      case (kind, c) =>
        val vals = groups.filter(_.rows > 0)
          .flatMap(g => g.stats.get(c)).filter(_.t == "l")
        if (vals.isEmpty) null
        else {
          val v =
            if (kind == "min") vals.map(_.mn.toLong).min
            else vals.map(_.mx.toLong).max
          sparkType(c).get match {
            case IntegerType => v.toInt
            case _ => v
          }
        }
    }.toArray
    Some((StructType(fields), values))
  }

  private var aggResult: Option[(StructType, Array[Any])] = None
  private var aggMemo: AnyRef = null

  // Spark calls supportCompletePushDown then pushAggregation with the
  // same Aggregation — memoize per instance so the driver-side listing
  // + manifest read (+ footer fallback) runs once, not twice
  private def metadataAggFor(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] = {
    if (!(aggMemo eq agg)) {
      aggResult = tryMetadataAgg(agg)
      aggMemo = agg
    }
    aggResult
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAggFor(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAggFor(agg).isDefined

  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new KvAggScan(path, schema, values)
    case None =>
      new KvScan(path, fullSchema, required, pushed, asOf, limit, topN,
        hadoopConf)
  }
}

/** One-row scan answering COUNT(*)/MIN/MAX from the manifest (see
  * [[KvScanBuilder.tryMetadataAgg]]; description keeps the
  * `kvtable-count` marker plan audits grep for). */
class KvAggScan(path: String, schema: StructType, values: Array[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"kvtable-count/minmax($path) metadata-only"

  override def planInputPartitions(): Array[InputPartition] =
    Array(KvAggPartition(values))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(p.asInstanceOf[KvAggPartition].values)
          override def close(): Unit = ()
        }
    }
}

case class KvAggPartition(values: Array[Any]) extends InputPartition

/** V2 scan over the KV log.
  *
  * Scale properties (all load-bearing at 100 TB):
  *  - planning reads the persisted stats manifest ([[KvStats]]) — no
  *    per-file driver footer IO (footer fallback only for files missing
  *    from the manifest, e.g. hand-placed ones);
  *  - one `InputPartition` per parquet ROW GROUP (not per file), so one
  *    giant file still parallelizes — the analog of the reference's one
  *    split per region (`TableInputFormatWrap.java:40-82`);
  *  - row groups are pruned by manifest min/max before tasks launch;
  *  - bucket-compacted tables report `KeyGroupedPartitioning(__bucket)`
  *    ([[org.apache.spark.sql.connector.read.SupportsReportPartitioning]])
  *    so a LWW collapse grouped on (__bucket, key) runs WITHOUT a
  *    shuffle — the engine's region-local scan
  *    (`TableInputFormatWrap.java:74-78`). Requires
  *    `spark.sql.sources.v2.bucketing.enabled=true`.
  */
class KvScan(path: String, fullSchema: StructType, required: StructType,
             pushed: Array[Filter], asOf: Option[Long] = None,
             limit: Option[Int] = None,
             topN: Option[(Boolean, Int)] = None,
             hadoopConf: Configuration)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportOrdering
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"kvtable($path) PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}" +
      asOf.map(v => s", VersionAsOf: $v").getOrElse("") +
      limit.map(n => s", PushedLimit: $n").getOrElse("") +
      topN.map { case (asc, n) =>
        s", PushedTopN: key ${if (asc) "ASC" else "DESC"} LIMIT $n"
      }.getOrElse("")

  // The snapshot bound participates in row-group pruning like any other
  // long comparison (the manifest tracks __version min/max): groups
  // written entirely after the snapshot never reach a task.
  private def planFilters: Array[Filter] =
    pushed ++ asOf.map(v =>
      LessThanOrEqual(graft.kv.KvTable.VersionCol, v): Filter)

  private lazy val planned: Array[KvInputPartition] = {
    val all = KvV2Util.planPartitions(path, hadoopConf,
      KvV2Util.dataFiles(path, hadoopConf), planFilters, fullSchema)
    (topN, limit) match {
      // truncate ONLY the unfiltered case (Spark already restricts
      // limit/top-N pushdown to fully-pushed filters; this connector's
      // filters are always residual, so any filter present means no
      // push call — the guard is defense in depth)
      case (Some((asc, n)), _) if planFilters.isEmpty =>
        orderedTruncate(all, asc, n)
      case (_, Some(n)) if planFilters.isEmpty =>
        cumTruncate(all, n)
      case _ => all
    }
  }

  private def cumTruncate(all: Array[KvInputPartition],
                          n: Int): Array[KvInputPartition] = {
    var cum = 0L
    all.takeWhile { p =>
      val need = cum < n
      cum += p.rows
      need
    }
  }

  /** Top-N planning: take row groups in key-range order until the
    * manifest row counts cover `n`. Sound only when every planned
    * group has typed key stats of one type with a RECORDED ZERO null
    * count (a null key would sort before/after every real key, so a
    * group that might hold one can never be safely skipped; unknown
    * null counts — pre-existing manifests — decline) and the ranges
    * are pairwise STRICTLY disjoint (compacted / bulk-loaded
    * unbucketed layouts — boundary-key ties decline too); anything
    * else returns the full plan, which the partial push makes merely
    * unoptimized. Key stats ride the partitions themselves (see
    * [[KvInputPartition.keyStat]]), so no re-read and no staleness. */
  private def orderedTruncate(all: Array[KvInputPartition], asc: Boolean,
                              n: Int): Array[KvInputPartition] = {
    val entries = all.map { p =>
      p.keyStat match {
        case Some(cs) if (cs.t == "s" || cs.t == "l" || cs.t == "d") &&
          cs.nulls == 0L => (p, cs)
        case _ => return all // missing/all-null/possibly-null key stats
      }
    }
    val types = entries.map(_._2.t).distinct
    if (types.length != 1) return all
    val t = types(0)
    def cmp(a: String, b: String): Int = t match {
      case "s" =>
        val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        java.util.Arrays.compareUnsigned(x, y)
      case "l" => java.lang.Long.compare(a.toLong, b.toLong)
      case _ => java.lang.Double.compare(a.toDouble, b.toDouble)
    }
    val byMin = entries.sortWith((x, y) => cmp(x._2.mn, y._2.mn) < 0)
    val disjoint = byMin.iterator.zip(byMin.iterator.drop(1)).forall {
      case ((_, a), (_, b)) => cmp(a.mx, b.mn) < 0
    }
    if (!disjoint) return all
    val ordered = if (asc) byMin else byMin.reverse
    cumTruncate(ordered.map(_._1), n)
  }

  /** Streaming read over the same log: new data files become
    * micro-batches (see [[KvMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new KvMicroBatchStream(path, required, pushed, fullSchema, hadoopConf)

  // --- runtime (join-probe) filtering: a broadcast-join probe side or
  // DPP subquery delivers In/EqualTo filters on the rowkey or __bucket
  // at execution time; they prune bucket directories exactly like the
  // static path. Stats-level pruning is not re-run here (partitions no
  // longer carry their stats), so this is pure partition pruning.
  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val conf = hadoopConf
    val cols = Seq.newBuilder[org.apache.spark.sql.connector.expressions.NamedReference]
    if (KvV2Util.readBuckets(path, conf) > 0) {
      cols += org.apache.spark.sql.connector.expressions.Expressions
        .column(KvV2Util.BucketCol)
      KvV2Util.readKeyField(path, conf).foreach(k =>
        cols += org.apache.spark.sql.connector.expressions.Expressions.column(k))
    }
    cols.result().toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    runtimeBuckets =
      KvV2Util.bucketSetFor(path, hadoopConf, filters, fullSchema)
  }

  override def planInputPartitions(): Array[InputPartition] =
    runtimeBuckets match {
      case Some(bs) =>
        planned.filter(p => p.bucket < 0 || bs.contains(p.bucket))
          .map(p => p: InputPartition)
      case None => planned.map(p => p: InputPartition)
    }

  /** Per-bucket grouped partitioning for bucket-compacted tables. Only
    * reported when the query keeps `__bucket` in the read schema (the
    * identity transform must resolve against the scan output) and every
    * planned partition belongs to a bucket. */
  override def outputPartitioning(): partitioning.Partitioning = {
    val bucketed = required.fieldNames.contains(KvV2Util.BucketCol) &&
      planned.nonEmpty && planned.forall(_.bucket >= 0)
    if (bucketed) {
      val distinct = planned.map(_.bucket).distinct.length
      new partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity(KvV2Util.BucketCol)), distinct)
    } else new partitioning.UnknownPartitioning(planned.length)
  }

  /** Per-partition rowkey ordering, reported when EVERY planned
    * partition's file is recorded key-sorted in the manifest (V2
    * writers observe the order as rows stream through; compaction
    * records the sort it just performed) and the key survives into the
    * read schema. A partition is one row group of a sorted file, so
    * its rows are ascending in the key; Spark then drops the local
    * Sort under windows / merge joins / sortWithinPartitions on
    * compacted layouts. False on any unknown file — never wrong. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val key = KvV2Util.readKeyField(path, hadoopConf)
    val ok = key.exists(k => required.fieldNames.contains(k)) &&
      planned.nonEmpty && planned.forall(_.sorted)
    if (ok)
      Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions
          .identity(key.get),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(required, KvHadoopConf.broadcast(hadoopConf), asOf)
}

/** One parquet row group: `[start, start+length)` byte range. `bucket`
  * is the `__bucket=N` partition-directory value (-1 when unbucketed);
  * `rows` is the group's manifest row count and `keyStat` its rowkey
  * column stats (limit / top-N planning — carried from the SAME
  * manifest-or-footer source planning trusted, so truncation can never
  * consult staler stats than the plan itself). */
case class KvInputPartition(file: String, start: Long, length: Long,
                            hostnames: Array[String], bucket: Int,
                            rows: Long = 0L,
                            keyStat: Option[KvStats.ColStat] = None,
                            sorted: Boolean = false)
    extends InputPartition with HasPartitionKey {
  override def preferredLocations(): Array[String] = hostnames
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

class KvReaderFactory(required: StructType,
                      conf: Broadcast[SerializableConfiguration],
                      asOf: Option[Long] = None)
    extends PartitionReaderFactory {
  // Per-executor projection cache keyed by file: a file with G row
  // groups yields G partitions that all need the IDENTICAL projection —
  // without the cache each would re-open and parse the footer.
  @transient private lazy val projectionCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvPartitionReader(partition.asInstanceOf[KvInputPartition], required,
      projectionCache, conf.value.value, asOf)
}

/** `sharedConf` is the scan's broadcast configuration: read, never set. */
class KvPartitionReader(part: KvInputPartition, required: StructType,
                        projectionCache: java.util.concurrent.ConcurrentHashMap[String, String],
                        sharedConf: Configuration,
                        asOf: Option[Long] = None)
    extends PartitionReader[InternalRow] {

  // Time-travel reads need `__version` to evaluate the snapshot bound
  // even when the query projects it away: widen the FILE projection
  // (output rows still carry only `required`).
  private val readFields: StructType =
    if (asOf.isEmpty ||
        required.fieldNames.contains(graft.kv.KvTable.VersionCol)) required
    else required.add(graft.kv.KvTable.VersionCol, LongType)

  // Cut the column projection from THIS file's own schema, task-side:
  // parquet requires the requested repetition to match the file exactly,
  // and the log legitimately mixes provenance (Spark-written files mark
  // non-null columns `required`; the V2 writer marks everything
  // `optional`), so no single driver-computed projection fits all files.
  // Cached per (executor, file): the other row-group partitions of this
  // file reuse it instead of re-parsing the footer.
  private val projection: String =
    projectionCache.computeIfAbsent(part.file, { file =>
      val r = KvV2Util.openFooter(new HPath(file), sharedConf)
      val full = try r.getFooter.getFileMetaData.getSchema finally r.close()
      val kept: Seq[org.apache.parquet.schema.Type] =
        readFields.fieldNames.toSeq.flatMap { n =>
          if (full.containsField(n)) Some(full.getType(Seq(n): _*)) else None
        }
      if (kept.isEmpty) ""
      else new MessageType("spark_schema",
        new util.ArrayList[org.apache.parquet.schema.Type](kept.asJava)).toString
    })

  // withFileRange selects exactly the row groups whose midpoint falls in
  // [start, start+length) — this partition's single group.
  private val reader: ParquetReader[Group] = {
    val conf =
      if (projection.isEmpty) sharedConf
      else {
        val own = KvHadoopConf.copy(sharedConf)
        own.set(ReadSupport.PARQUET_READ_SCHEMA, projection)
        own
      }
    KvV2Util.groupReader(new HPath(part.file), conf)
      .withFileRange(part.start, part.start + part.length)
      .build()
  }

  private var current: Group = _

  /** Snapshot-bound check (trivially true for non-time-travel reads):
    * rows versioned after the bound are invisible. */
  private def visible(g: Group): Boolean = asOf.forall { v =>
    !g.getType.containsField(graft.kv.KvTable.VersionCol) || {
      val idx = g.getType.getFieldIndex(graft.kv.KvTable.VersionCol)
      g.getFieldRepetitionCount(idx) == 0 || g.getLong(idx, 0) <= v
    }
  }

  override def next(): Boolean = {
    current = reader.read()
    while (current != null && !visible(current)) current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val name = required(i).name
      // __bucket lives in the directory name, not the file — synthesize
      // it from the partition (same as Spark's parquet partition columns)
      if (name == KvV2Util.BucketCol) {
        row.update(i, if (part.bucket >= 0) part.bucket else null)
      } else if (!current.getType.containsField(name)) {
        // the log legitimately mixes file schemas (delta tombstones
        // carry only the key + engine columns): absent column = null
        row.update(i, null)
      } else {
        val gIdx = current.getType.getFieldIndex(name)
        if (current.getFieldRepetitionCount(gIdx) == 0) row.update(i, null)
        else row.update(i, KvV2Util.readValue(current, gIdx, required(i).dataType))
      }
      i += 1
    }
    row
  }

  override def close(): Unit = reader.close()
}

object KvV2Util {

  val BucketCol = "__bucket"

  /** Driver-side parquet footer opens — observable so tests can assert
    * the manifest-planned path does ZERO of them. */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `__bucket=N` partition-directory value from a relative path, -1 if
    * unbucketed. */
  def bucketOf(relPath: String): Int =
    "__bucket=(\\d+)/".r.findFirstMatchIn(relPath)
      .map(_.group(1).toInt).getOrElse(-1)

  /** (lastVersion, buckets) from `_kvmeta.json` — the ONE parser for the
    * table-meta format (KvTable delegates FS handles but shares the
    * regexes via this entry point for connector-side callers). */
  def readMeta(path: String, conf: Configuration): (Long, Int) = {
    val f = new HPath(s"$path/_kvmeta.json")
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) (0L, 0)
    else {
      val in = fs.open(f)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (("\"lastVersion\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong).getOrElse(0L)),
        ("\"buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
          .map(_.group(1).toInt).getOrElse(0)))
    }
  }

  def writeMeta(path: String, conf: Configuration, version: Long,
                buckets: Int): Unit = {
    val f = new HPath(s"$path/_kvmeta.json")
    val out = f.getFileSystem(conf).create(f, true)
    try out.write(
      s"""{"lastVersion":$version,"buckets":$buckets}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** Bucket count from `_kvmeta.json` (0 = unbucketed). */
  def readBuckets(path: String, conf: Configuration): Int =
    readMeta(path, conf)._2

  /** The committed data files, path-sorted. Recursive (bucket-compacted
    * tables nest files under `__bucket=N/`), skipping what Spark's file
    * index skips: `.`-prefixed entries and `_`-prefixed ones without
    * `=` — among them `_temporary/`, where a v1 write stages its attempt
    * files until the job commits. */
  def dataFiles(path: String, conf: Configuration): Seq[FileStatus] = {
    val dir = new HPath(s"$path/data")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else leafFiles(fs, dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
  }

  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** Listing in the shape of Spark's `HadoopFSUtils`: HDFS returns block
    * locations with the directory listing; elsewhere each file's status
    * is rebuilt WITHOUT permissions, because the local filesystem's
    * permission loader forks `ls -ld` per file. */
  private def leafFiles(fs: FileSystem, dir: HPath): Seq[LocatedFileStatus] = {
    val entries: Seq[FileStatus] = fs match {
      case _: org.apache.hadoop.hdfs.DistributedFileSystem =>
        val it = fs.listLocatedStatus(dir)
        val buf = Seq.newBuilder[FileStatus]
        while (it.hasNext) buf += it.next()
        buf.result()
      case _ => fs.listStatus(dir).toSeq
    }
    entries.filterNot(e => hidden(e.getPath.getName)).flatMap {
      case d if d.isDirectory => leafFiles(fs, d.getPath)
      case f: LocatedFileStatus => Seq(f)
      case f =>
        Seq(new LocatedFileStatus(f.getLen, false, f.getReplication,
          f.getBlockSize, f.getModificationTime, 0L, null, null, null, null,
          f.getPath, f.hasAcl, f.isEncrypted, f.isErasureCoded,
          fs.getFileBlockLocations(f, 0, f.getLen)))
    }
  }

  def hosts(f: FileStatus, conf: Configuration): Array[String] = f match {
    // dataFiles returns LocatedFileStatus — block locations came WITH
    // the listing. Reuse them: a second per-file getFileBlockLocations
    // RPC at plan time would be 10^5 extra namenode calls at 100 TB.
    case lf: org.apache.hadoop.fs.LocatedFileStatus =>
      lf.getBlockLocations.flatMap(_.getHosts).distinct.filterNot(_ == "localhost")
    case _ =>
      val fs = f.getPath.getFileSystem(conf)
      fs.getFileBlockLocations(f, 0, f.getLen)
        .flatMap(_.getHosts).distinct.filterNot(_ == "localhost")
  }

  /** StructType from the stats manifest (preferred — no footer IO) or
    * the first data file's parquet footer. Bucket-compacted tables get a
    * synthesized `__bucket` column (the partition-directory value), like
    * Spark's own parquet partition-column discovery. */
  def inferSchema(path: String, conf: Configuration): StructType = {
    val msg = KvStats.read(path, conf).map(_.schema).filter(_.nonEmpty) match {
      case Some(s) =>
        org.apache.parquet.schema.MessageTypeParser.parseMessageType(s)
      case None =>
        val files = dataFiles(path, conf)
        require(files.nonEmpty, s"kvtable at $path has no data files")
        footerSchema(files.head, conf)
    }
    val base = StructType(msg.getFields.asScala.map { f =>
      val p = f.asPrimitiveType()
      StructField(f.getName, sparkType(p), nullable = true)
    }.toSeq)
    if (readBuckets(path, conf) > 0)
      base.add(StructField(BucketCol, IntegerType, nullable = true))
    else base
  }

  private[connector] def footerSchema(f: FileStatus, conf: Configuration): MessageType = {
    footerOpens.incrementAndGet()
    val r = openFooter(f.getPath, conf)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  /** Open a parquet file's footer on `conf`. The one-argument
    * `ParquetFileReader.open` would build its read options on a default
    * `Configuration`, re-parsing Hadoop's XML defaults per file. */
  def openFooter(file: HPath, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  /** Row reader over one parquet file on `conf`. parquet-mr's path-based
    * `ParquetReader.builder` parses a default `Configuration` of its own
    * even when `.withConf` follows; this constructor takes ours. */
  def groupReader(file: HPath, conf: Configuration): ParquetReader.Builder[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf),
        new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport()
    }

  def sparkType(p: PrimitiveType): DataType = p.getLogicalTypeAnnotation match {
    // DECIMAL first, whatever its physical encoding (INT32/INT64 for
    // precision <= 9/18 — Spark's writer default — or FIXED/BINARY
    // beyond): mapping the physical type alone would silently surface
    // the UNSCALED value (a 100x error at scale 2)
    case d: DecimalLogicalTypeAnnotation =>
      DecimalType(d.getPrecision, d.getScale)
    case _ => p.getPrimitiveTypeName match {
      case BINARY if p.getLogicalTypeAnnotation.isInstanceOf[StringLogicalTypeAnnotation] =>
        StringType
      case BINARY => BinaryType
      case BOOLEAN => BooleanType
      case INT32 if p.getLogicalTypeAnnotation
          .isInstanceOf[DateLogicalTypeAnnotation] =>
        DateType // days-since-epoch payload; surfacing int would
                 // silently change the column's semantics
      case INT32 => IntegerType
      case INT64 if p.getLogicalTypeAnnotation.isInstanceOf[TimestampLogicalTypeAnnotation] =>
        TimestampType
      case INT64 => LongType
      case INT96 => TimestampType // Spark's default parquet timestamp encoding
      case DOUBLE => DoubleType
      case FLOAT => FloatType
      case other =>
        throw new IllegalArgumentException(s"kvtable: unsupported parquet type $other")
    }
  }

  /** Decode a parquet INT96 timestamp (12 bytes little-endian: 8-byte
    * nanos-of-day + 4-byte Julian day) to catalyst micros — the encoding
    * Spark's own parquet writer emits by default
    * (`spark.sql.parquet.outputTimestampType=INT96`). */
  def int96ToMicros(b: Binary): Long = {
    val buf = java.nio.ByteBuffer.wrap(b.getBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong(0)
    val julianDay = buf.getInt(8)
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  def readValue(g: Group, idx: Int, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
    case BinaryType => g.getBinary(idx, 0).getBytes
    case BooleanType => g.getBoolean(idx, 0)
    case IntegerType | DateType => g.getInteger(idx, 0) // date = int days
    case LongType => g.getLong(idx, 0)
    case TimestampType =>
      // physical encoding varies by writer: v1/Spark files use INT96,
      // the V2 writer INT64 micros — branch on the file's own type
      if (g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName == INT96)
        int96ToMicros(g.getInt96(idx, 0))
      else g.getLong(idx, 0) // parquet micros == catalyst micros
    case DoubleType => g.getDouble(idx, 0)
    case FloatType => g.getFloat(idx, 0)
    case dt: DecimalType =>
      g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
        case INT32 => Decimal(g.getInteger(idx, 0).toLong, dt.precision, dt.scale)
        case INT64 => Decimal(g.getLong(idx, 0), dt.precision, dt.scale)
        case _ => // FIXED_LEN_BYTE_ARRAY / BINARY: big-endian unscaled
          Decimal(BigDecimal(BigInt(g.getBinary(idx, 0).getBytes), dt.scale),
            dt.precision, dt.scale)
      }
    case other =>
      throw new IllegalArgumentException(s"kvtable: unsupported read type $other")
  }

  /** Filters usable for manifest min/max pruning: comparisons and
    * IN-lists against string/long columns, null-presence checks, and
    * string prefix matches. Anything else stays a Spark-side residual
    * only (every pushed filter is ALSO returned as a residual, so
    * widening this list can only prune more, never change results). */
  def prunable(f: Filter): Boolean = f match {
    case GreaterThan(_, _: String) | GreaterThanOrEqual(_, _: String) |
         LessThan(_, _: String) | LessThanOrEqual(_, _: String) |
         EqualTo(_, _: String) => true
    case GreaterThan(_, _: Long) | GreaterThanOrEqual(_, _: Long) |
         LessThan(_, _: Long) | LessThanOrEqual(_, _: Long) |
         EqualTo(_, _: Long) => true
    case In(_, vs) => vs.forall(v => v.isInstanceOf[String] || v.isInstanceOf[Long])
    case IsNotNull(_) => true
    case StringStartsWith(_, _) => true
    case _ => false
  }

  /** Rowkey filters -> bucket-directory set on a bucket-compacted table:
    * EqualTo/In on the key column hash to exactly the directories that
    * can hold them (the HBase region-addressing step of a Get / multi
    * Get). None = no key filter, scan all buckets. */
  def bucketSetFor(path: String, conf: Configuration,
                   filters: Array[Filter], schema: StructType): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
    val buckets = readBuckets(path, conf)
    if (buckets <= 0) return None
    val keyField = readKeyField(path, conf).getOrElse(return None)
    val keyType = schema.fields.find(_.name == keyField)
      .map(_.dataType).getOrElse(return None)
    def bucketOfValue(v: Any): Int =
      Pmod(Murmur3Hash(Seq(Cast(Literal.create(v), keyType)), 42),
        Literal(buckets)).eval().asInstanceOf[Int]
    val sets = filters.collect {
      case EqualTo(c, v) if c == keyField && v != null => Set(bucketOfValue(v))
      case In(c, vs) if c == keyField =>
        vs.filter(_ != null).map(bucketOfValue).toSet
      case EqualTo(c, v: Integer) if c == BucketCol => Set(v.toInt)
      case In(c, vs) if c == BucketCol =>
        vs.collect { case i: Integer => i.toInt }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Plan row-group partitions for `files` of the table at `path`:
    * manifest-stats group pruning (footer fallback per unknown file),
    * bucket-directory routing for key filters. Shared by the batch scan
    * and the micro-batch stream (which plans only each batch's NEW
    * files). */
  def planPartitions(path: String, conf: Configuration,
                     files: Seq[FileStatus], pushed: Array[Filter],
                     fullSchema: StructType): Array[KvInputPartition] = {
    val byRel: Map[String, KvStats.FileStat] =
      KvStats.read(path, conf)
        .map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
    // EqualTo/In on the rowkey of a bucket-compacted table address their
    // bucket directories directly (HBase Get/multi-Get region routing):
    // other buckets are dropped before any stats are consulted.
    val buckets = bucketSetFor(path, conf, pushed, fullSchema)
    // rowkey point probes, for per-file BLOOM pruning (HBase's ROW
    // bloom): a file whose bloom excludes every probed key is skipped
    // whole — the win min/max can't deliver when append files'
    // key ranges overlap. Bloom false negatives are impossible, so a
    // tombstone-bearing file can never be wrongly skipped.
    val keyName = readKeyField(path, conf)
    val keyProbes: Seq[Seq[Any]] = pushed.toSeq.collect {
      case org.apache.spark.sql.sources.EqualTo(a, v)
        if keyName.contains(a) && v != null => Seq(v)
      case org.apache.spark.sql.sources.In(a, vs)
        if keyName.contains(a) && vs.nonEmpty && !vs.contains(null) =>
        vs.toSeq
    }
    def bloomPasses(st: KvStats.FileStat): Boolean =
      st.bloom.forall(b64 => keyProbes.forall(vs =>
        vs.exists(v => KvBloom.mightContain(b64, v.toString))))
    files.flatMap { f =>
      val rel = KvStats.relativize(path, f.getPath, conf)
      val bucket = bucketOf(rel)
      if (buckets.exists(bs => bucket >= 0 && !bs.contains(bucket))) Seq.empty
      else {
        val hosts = KvV2Util.hosts(f, conf)
        val (groups, fileSorted) = byRel.get(rel).filter(_.len == f.getLen) match {
          case Some(st) =>
            (if (bloomPasses(st)) st.groups else Seq.empty, st.sorted)
          case None => // not in manifest: one footer read (the slow path)
            (KvStats.fromFooter(f.getPath, rel, f.getLen, conf).groups, false)
        }
        groups.collect {
          case g if KvStats.groupPasses(g.stats, pushed) =>
            KvInputPartition(f.getPath.toString, g.start, g.len, hosts,
              bucket, g.rows, keyName.flatMap(k => g.stats.get(k)),
              sorted = fileSorted)
        }
      }
    }.toArray
  }

  /** Classify a SQL DELETE's filters for [[KvBatchTable.deleteWhere]].
    * Returns None = unsupported (some predicate is not key-membership);
    * Some(None) = unconditional delete (truncate); Some(Some(keys)) =
    * delete exactly these rowkeys. AND-ed key filters intersect; OR
    * trees of EqualTo/In union — the full addressable surface of an
    * HBase Delete/multi-Delete. */
  def deleteTarget(path: String, filters: Array[Filter],
                   conf: Configuration): Option[Option[Set[Any]]] = {
    val keyField = readKeyField(path, conf).getOrElse(return None)
    def keySet(f: Filter): Option[Set[Any]] = f match {
      case EqualTo(c, v) if c == keyField && v != null => Some(Set(v))
      case EqualNullSafe(c, v) if c == keyField && v != null => Some(Set(v))
      case In(c, vs) if c == keyField => Some(vs.filter(_ != null).toSet)
      case Or(a, b) => for { x <- keySet(a); y <- keySet(b) } yield x ++ y
      case _ => None
    }
    val rest = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (rest.isEmpty) Some(None) // DELETE FROM t (or WHERE true)
    else {
      val sets = rest.map(keySet)
      if (sets.exists(_.isEmpty)) None
      else Some(Some(sets.flatten.reduce(_ intersect _)))
    }
  }

  /** Driver-side truncation of the data log outside a write job (SQL
    * `DELETE FROM t` / TRUNCATE): removes the data files, resets the
    * stats manifest to empty, bumps the version counter, and drops any
    * bucket-layout marker — the same post-state as a truncating V2
    * commit with zero task files. Serialized by the table lock. */
  def truncateData(path: String, conf: Configuration): Unit =
    graft.kv.TableLock.withLock(path, conf) {
      val fs = new HPath(path).getFileSystem(conf)
      dataFiles(path, conf).foreach(f => fs.delete(f.getPath, false))
      val schemaStr = KvStats.read(path, conf).map(_.schema).getOrElse("")
      KvStats.write(path, KvStats.Manifest(schemaStr, Seq.empty), conf)
      val (prevVer, _) = readMeta(path, conf)
      writeMeta(path, conf, prevVer + 1, 0)
    }

  /** The table's declared rowkey column, if a `_kvschema.json` exists. */
  def readKeyField(path: String, conf: Configuration): Option[String] = {
    val f = new HPath(s"$path/_kvschema.json")
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      try Some(graft.kv.KvSchema.fromJson(s).keyField)
      catch { case _: Exception => None }
    }
  }

}
