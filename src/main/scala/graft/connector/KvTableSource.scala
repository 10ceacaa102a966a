package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 provider for the KV table log: `format("kvtable")`.
  *
  * This is the engine's analog of the reference's table-scan input
  * format (`TableInputFormatWrap.java`), re-expressed V2-style:
  *
  *  - one split per parquet ROW GROUP = one split per region
  *    (`getSplits`, `TableInputFormatWrap.java:40-82`), planned from the
  *    persisted stats manifest ([[KvStats]]) with no driver footer IO;
  *    an unbucketed scan packs small splits into tasks the way Spark's
  *    file source packs small files (see [[KvScan]]);
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
  * The relation exposes the RAW log (engine columns included); every
  * `KvTable` read is built on it (`KvTable.readRaw`).
  * [[KvBatchTable.lwwView]] is the LWW view of a bucket-compacted table
  * instead: each live key's newest raw row, merged per bucket by the
  * scan ([[KvMergeReader]]); `KvTable` selects that view when every file
  * is recorded key-sorted and applies the aggregate otherwise. Fault tolerance comes
  * from Spark task retry over immutable files (the reference's
  * restart-and-skip-one-row scanner heuristic, which can drop or
  * duplicate a row, is deliberately NOT reproduced).
  *
  * Rows are decoded by Spark's own parquet reader and written by its
  * parquet writer (appends and compactions alike), so every parquet type
  * Spark reads is supported, including files of the earlier
  * hand-written encoder (INT64-micros timestamps, all-optional columns).
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
  * session configuration every scan and write of this table uses.
  * `lww`: the table is the read-only LWW view ([[KvBatchTable.lwwView]]). */
class KvBatchTable(path: String, tableSchema0: StructType,
                   asOf: Option[Long] = None,
                   hadoopConf: Configuration,
                   lww: Boolean = false)
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
    s"kvtable($path${asOf.map(v => s" VERSION AS OF $v").getOrElse("")}" +
      s"${if (lww) " LWW" else ""})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    if (asOf.isDefined || lww) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path, tableSchema, asOf, hadoopConf, lww)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty && !lww, s"kvtable view $name is read-only")
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
    require(asOf.isEmpty && !lww, s"kvtable view $name is read-only")
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
        graft.kv.KvTable.delete(df, path, schema)
      case _ => () // empty key set: nothing to delete
    }
  }
}

/** `lww`: build the merge-on-read scan of the LWW view (see [[KvScan]]).
  * Its output rows are merged, so it declines LIMIT, top-N and
  * aggregate pushdown, and only filters that cannot change a key's
  * winner prune row groups ([[KvV2Util.mergeSafe]]). */
object KvBatchTable {
  /** The LWW view of the bucket-compacted table at `path`: each live
    * key's newest raw row (engine columns included), served by the
    * merge scan, `VERSION AS OF` `asOf` when given. `KvTable` builds it
    * — only for a table [[KvV2Util.mergeable]] admits, so the merge
    * keeps its order. */
  def lwwView(spark: SparkSession, path: String,
              asOf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val conf = KvHadoopConf(spark)
    org.apache.spark.sql.graftbridge.V2Frame(spark,
      new KvBatchTable(path, KvV2Util.inferSchema(path, conf), asOf, conf,
        lww = true))
  }
}

class KvScanBuilder(path: String, fullSchema: StructType,
                    asOf: Option[Long] = None,
                    hadoopConf: Configuration = KvHadoopConf.active(),
                    lww: Boolean = false)
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
    if (!lww) limit = Some(n)
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
    val ok = !lww && orders.length == 1 && keyName.nonEmpty &&
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
    lazy val key = KvV2Util.readKeyField(path, hadoopConf)
    pushed = filters.filter(f => KvV2Util.prunable(f) &&
      (!lww || KvV2Util.mergeSafe(f, key)))
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
    if (lww || agg.groupByExpressions.nonEmpty || pushed.nonEmpty ||
        asOf.nonEmpty)
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
        hadoopConf, lww)
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
  *  - one split per parquet ROW GROUP (not per file), so one giant
  *    file still parallelizes — the analog of the reference's one split
  *    per region (`TableInputFormatWrap.java:40-82`); an unbucketed scan
  *    packs the splits into tasks with Spark's file-source rule, so many
  *    small appends do not each cost a task;
  *  - the listing restores a data dir a crashed compaction left aside
  *    ([[KvV2Util.restoreIfStranded]]);
  *  - row groups are pruned by manifest min/max before tasks launch;
  *  - bucket-compacted tables report `KeyGroupedPartitioning(__bucket)`
  *    ([[org.apache.spark.sql.connector.read.SupportsReportPartitioning]])
  *    so a LWW collapse grouped on (__bucket, key) runs WITHOUT a
  *    shuffle — the engine's region-local scan
  *    (`TableInputFormatWrap.java:74-78`). Requires
  *    `spark.sql.sources.v2.bucketing.enabled=true`.
  *
  * With `lww` the scan serves the LWW view by merge-on-read, the way an
  * LSM store merges its key-sorted runs: ONE partition per bucket,
  * whose reader ([[KvMergeReader]]) k-way merges the bucket's planned
  * row groups by rowkey and emits each live key's newest row, key
  * ordered. The merge needs every version of a key in one partition,
  * so it requires a bucket-compacted table. It replaces the Sort,
  * SortAggregate and Exchange a `groupBy(key).agg(max_by(...))`
  * collapse costs.
  */
class KvScan(path: String, fullSchema: StructType, required: StructType,
             pushed: Array[Filter], asOf: Option[Long] = None,
             limit: Option[Int] = None,
             topN: Option[(Boolean, Int)] = None,
             hadoopConf: Configuration,
             lww: Boolean = false)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportOrdering
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // every reader is row-based: planning need not build the reader
  // factory (it broadcasts the Hadoop configuration) just to ask
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED
  override def description(): String =
    s"kvtable($path)${if (lww) " LwwMerge" else ""} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
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

  // only columns the scan outputs: Spark resolves them against it
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (KvV2Util.readBuckets(path, hadoopConf) <= 0) Array.empty
    else (KvV2Util.BucketCol +: KvV2Util.readKeyField(path, hadoopConf).toSeq)
      .filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtimeBuckets =
      KvV2Util.bucketSetFor(path, hadoopConf, filters, fullSchema)
  }

  /** The merge scan's partitions: one per bucket, its row groups
    * grouped into one run per file. */
  private lazy val merged: Array[KvRunsPartition] =
    planned.groupBy(_.bucket).toArray.sortBy(_._1).map { case (b, groups) =>
      KvRunsPartition(b, KvRun.of(groups), groups.flatMap(_.hostnames).distinct,
        groups.length)
    }

  /** The raw scan's tasks. An unbucketed scan packs its planned row
    * groups the way Spark's file source packs files — each group one
    * split, `FilePartition.maxSplitBytes` and `getFilePartitions` on the
    * session's `spark.sql.files.maxPartitionBytes` and `openCostInBytes`
    * — so many small appends read in a few tasks, not one task each. A
    * bucketed scan keeps one task per group (each reports its bucket),
    * and so does a layout whose every group is recorded key-sorted
    * (each task then reports key order, see [[outputOrdering]]). */
  private lazy val tasks: Array[KvPartition] =
    if (planned.exists(_.bucket >= 0) || planned.forall(_.sorted))
      planned.map(p => p: KvPartition)
    else {
      val spark = SparkSession.active
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val maxSplit = FilePartition.maxSplitBytes(spark,
        planned.map(_.length + openCost).sum)
      // largest first, as the file source orders its splits
      val splits = planned.sortBy(-_.length).toSeq.map(g => PartitionedFile(
        InternalRow.empty, SparkPath.fromPathString(g.file), g.start, g.length,
        g.hostnames, fileSize = g.fileSize) -> g)
      val byStart = splits.map { case (f, g) => (f.filePath, f.start) -> g }.toMap
      FilePartition.getFilePartitions(spark, splits.map(_._1), maxSplit).toArray.map { fp =>
        fp.files.map(f => byStart((f.filePath, f.start))) match {
          case Array(one) => one
          case groups =>
            KvRunsPartition(-1, KvRun.of(groups), fp.preferredLocations(), groups.length)
        }
      }
    }

  // row groups the last planInputPartitions handed to tasks
  @volatile private var groupsPlanned = 0L

  override def planInputPartitions(): Array[InputPartition] = {
    val parts: Array[KvPartition] =
      if (lww) {
        require(KvV2Util.readBuckets(path, hadoopConf) > 0,
          s"kvtable($path): the LWW view (row-level UPDATE/MERGE, non-key " +
            "DELETE) needs a bucket-compacted table so it merges " +
            "region-locally — run CALL <cat>.system.compact(table, buckets) " +
            "first; DELETE by rowkey equality/IN works on any table")
        require(planned.forall(_.bucket >= 0),
          s"kvtable($path): unbucketed files in a bucket-compacted table")
        merged.map(p => p: KvPartition)
      } else tasks
    val kept = parts.filter(p =>
      p.bucket < 0 || runtimeBuckets.forall(_.contains(p.bucket)))
    groupsPlanned = kept.map(_.groups.toLong).sum
    kept.map(p => p: InputPartition)
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    KvScanMetrics.supported

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(KvScanMetrics.value(KvScanMetrics.RowGroupsPlanned, groupsPlanned))

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
    } else new partitioning.UnknownPartitioning(if (lww) merged.length else tasks.length)
  }

  /** Per-partition rowkey ordering, reported when EVERY planned
    * partition's file is recorded key-sorted in the manifest (the V2
    * writer observes the order as rows stream through, compaction
    * output included) and the key survives into the
    * read schema. A partition is one row group of a sorted file, or
    * one bucket's merge of sorted runs, so its rows are ascending in
    * the key; Spark then drops the local Sort under windows / merge
    * joins / sortWithinPartitions on compacted layouts. A merge
    * partition is one bucket, so when `__bucket` is read the order is
    * (`__bucket`, key): a bucket-partitioned write or a join on
    * (`__bucket`, key) then needs no Sort either. False on any unknown
    * file — never wrong. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val key = KvV2Util.readKeyField(path, hadoopConf)
    val ok = key.exists(k => required.fieldNames.contains(k)) &&
      planned.nonEmpty && planned.forall(_.sorted)
    val bucketFirst = lww && required.fieldNames.contains(KvV2Util.BucketCol)
    if (ok)
      ((if (bucketFirst) Seq(KvV2Util.BucketCol) else Nil) :+ key.get).map(c =>
        Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
    else Array.empty
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (lww) KvMergeReaderFactory(required, fullSchema,
      KvV2Util.readKeyField(path, hadoopConf).getOrElse(
        throw new IllegalStateException(s"kvtable($path): no rowkey declared")),
      hadoopConf, asOf)
    else KvReaderFactory(required, hadoopConf, asOf)
}

/** What one task of a kvtable scan reads: `groups` planned row groups,
  * as per-file [[KvRun]]s, of `bucket` (-1 when unbucketed). */
sealed trait KvPartition extends InputPartition with HasPartitionKey {
  def bucket: Int
  def runs: Array[KvRun]
  def groups: Int
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Several planned row groups in one task: one bucket of a merge scan,
  * or a pack of an unbucketed raw scan (see [[KvScan]]). */
case class KvRunsPartition(bucket: Int, runs: Array[KvRun],
                           hostnames: Array[String], groups: Int)
    extends KvPartition {
  override def preferredLocations(): Array[String] = hostnames
}

/** The planned row groups of one file, as byte-range splits in file
  * order (adjacent groups joined into one split). `sorted`: the manifest
  * records the file key-sorted. */
case class KvRun(file: String, fileSize: Long, splits: Array[(Long, Long)],
                 sorted: Boolean)

object KvRun {
  def of(groups: Array[KvInputPartition]): Array[KvRun] =
    groups.groupBy(_.file).toArray.sortBy(_._1).map { case (file, gs) =>
      val splits = gs.sortBy(_.start).foldLeft(List.empty[(Long, Long)]) {
        case ((s, l) :: rest, g) if s + l == g.start => (s, l + g.length) :: rest
        case (acc, g) => (g.start, g.length) :: acc
      }.reverse.toArray
      KvRun(file, gs.head.fileSize, splits, gs.forall(_.sorted))
    }
}

/** One parquet row group: `[start, start+length)` byte range of a file
  * `fileSize` bytes long — the group's bytes, widened to the file's
  * start for its first group and to its end for the last (parquet reads
  * the groups whose midpoints fall in a split). `bucket` is the `__bucket=N`
  * partition-directory value (-1 when unbucketed);
  * `rows` is the group's manifest row count and `keyStat` its rowkey
  * column stats (limit / top-N planning — carried from the SAME
  * manifest-or-footer source planning trusted, so truncation can never
  * consult staler stats than the plan itself). */
case class KvInputPartition(file: String, start: Long, length: Long,
                            fileSize: Long,
                            hostnames: Array[String], bucket: Int,
                            rows: Long = 0L,
                            keyStat: Option[KvStats.ColStat] = None,
                            sorted: Boolean = false)
    extends KvPartition {
  override def preferredLocations(): Array[String] = hostnames
  override def runs: Array[KvRun] = KvRun.of(Array(this))
  override def groups: Int = 1
}

/** Spark's parquet row reader over a kvtable's files, built once on the
  * driver (Spark broadcasts `conf` with it). A read yields the data
  * columns of `fields` in order, then `__bucket` — the file's partition
  * value — when `fields` holds it. Spark clips each file's schema to
  * the request, so a column a file lacks reads as null whatever wrote
  * the file. Rows are the reader's reused buffers: copy one to keep it. */
case class KvRowReader(fields: StructType,
                       read: PartitionedFile => Iterator[InternalRow]) {
  private val bucketed = fields.fieldNames.contains(KvV2Util.BucketCol)

  /** Output column names, in row order. */
  val names: IndexedSeq[String] =
    fields.fieldNames.filterNot(_ == KvV2Util.BucketCol).toIndexedSeq ++
      (if (bucketed) Seq(KvV2Util.BucketCol) else Nil)

  /** The row groups of `file` whose midpoints fall in
    * `[start, start+length)` — parquet's split rule. */
  def open(file: String, start: Long, length: Long, fileSize: Long,
           bucket: Int): Iterator[InternalRow] =
    read(PartitionedFile(
      if (bucketed) InternalRow(if (bucket >= 0) bucket else null)
      else InternalRow.empty,
      SparkPath.fromPathString(file), start, length, fileSize = fileSize))

  /** A reusable view of a read row as the columns of `out`. */
  def project(out: StructType): ProjectingInternalRow =
    ProjectingInternalRow(out, out.fieldNames.toIndexedSeq.map(n => names.indexOf(n)))
}

object KvRowReader {
  def apply(fields: StructType, conf: Configuration): KvRowReader = {
    val (bucket, data) = fields.fields.map(_.copy(nullable = true))
      .partition(_.name == KvV2Util.BucketCol)
    KvRowReader(fields, new ParquetFileFormat().buildReaderWithPartitionValues(
      SparkSession.active, StructType(data), StructType(bucket),
      StructType(data), Nil,
      // Spark sets its read keys on the conf it is given: a copy
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), KvHadoopConf.copy(conf)))
  }
}

class KvReaderFactory(required: StructType, reader: KvRowReader,
                      asOf: Option[Long])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvPartitionReader(partition.asInstanceOf[KvPartition], required,
      reader, asOf)
}

object KvReaderFactory {
  /** Time-travel reads need `__version` to evaluate the snapshot bound
    * even when the query projects it away: the FILE projection is
    * widened (output rows still carry only `required`). */
  def apply(required: StructType, conf: Configuration,
            asOf: Option[Long] = None): KvReaderFactory = {
    val readFields =
      if (asOf.isEmpty ||
          required.fieldNames.contains(graft.kv.KvTable.VersionCol)) required
      else required.add(graft.kv.KvTable.VersionCol, LongType)
    new KvReaderFactory(required, KvRowReader(readFields, conf), asOf)
  }
}

/** Reads a partition's runs through Spark's parquet reader, one split
  * at a time, dropping the rows above the `VERSION AS OF` ceiling, and
  * reports its [[KvScanMetrics]] row counts. A grouped partition
  * (several row groups of one bucket in one task) reads through several
  * readers; each starts from the counts of the one before. */
abstract class KvRunsReader(part: KvPartition, reader: KvRowReader,
                            asOf: Option[Long])
    extends PartitionReader[InternalRow] {
  protected var decoded, emitted = 0L
  private val verIdx = reader.names.indexOf(graft.kv.KvTable.VersionCol)
  private val ceiling = asOf.getOrElse(Long.MaxValue)
  private val opened = scala.collection.mutable.ArrayBuffer.empty[Iterator[InternalRow]]

  override def initMetricsValues(
      metrics: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric]): Unit =
    metrics.foreach { m =>
      if (m.name == KvScanMetrics.RowsDecoded) decoded += m.value
      else if (m.name == KvScanMetrics.RowsEmitted) emitted += m.value
    }

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    KvScanMetrics.rows(decoded, emitted)

  /** The rows of one split of `run`, closed by [[close]]. The reader
    * reuses its row buffers: a row is valid only until its split
    * advances. */
  protected def open(run: KvRun, split: (Long, Long)): Iterator[InternalRow] = {
    val it = reader.open(run.file, split._1, split._2, run.fileSize, part.bucket)
    opened += it
    it
  }

  /** Counts `r` as decoded; whether it is at or below the `VERSION AS
    * OF` ceiling. */
  protected def visible(r: InternalRow): Boolean = {
    decoded += 1
    asOf.isEmpty || r.isNullAt(verIdx) || r.getLong(verIdx) <= ceiling
  }

  /** A run's visible rows, valid until the run advances. */
  protected def rows(run: KvRun): Iterator[InternalRow] =
    run.splits.iterator.flatMap(open(run, _)).filter(visible)

  override def close(): Unit = opened.foreach {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }
}

/** The raw log rows of a partition's row groups. */
class KvPartitionReader(part: KvPartition, required: StructType,
                        reader: KvRowReader, asOf: Option[Long] = None)
    extends KvRunsReader(part, reader, asOf) {

  private val splits = part.runs.iterator.flatMap(run => run.splits.iterator.map((run, _)))
  private var split: Iterator[InternalRow] = Iterator.empty
  // the reader puts `__bucket` last and may carry the widened `__version`
  private val projected: Option[ProjectingInternalRow] =
    if (required.fieldNames.toSeq == reader.names) None
    else Some(reader.project(required))

  private var current: InternalRow = _

  // a loop, not an iterator chain over the splits: it runs once per row
  override def next(): Boolean = {
    while (true) {
      while (split.hasNext) {
        current = split.next()
        if (visible(current)) { emitted += 1; return true }
      }
      if (!splits.hasNext) return false
      val (run, range) = splits.next()
      split = open(run, range)
    }
    false
  }

  override def get(): InternalRow = projected match {
    case Some(p) => p.project(current); p
    case None => current
  }
}

/** Merge-on-read of one bucket (the HBase region read): each key's
  * newest (`__version`, `__seq`) row, tombstones dropped; rows above the
  * `VERSION AS OF` ceiling are dropped BEFORE the merge, so they can
  * neither win nor mask. Runs the manifest records key-sorted are k-way
  * merged by rowkey and stream out in key order, holding one row per
  * run. A bucket with any run not recorded sorted (a file written
  * between the view's choice and planning) is collapsed in a hash map
  * instead: correct, unordered, memory bounded by the bucket's keys. */
class KvMergeReader(part: KvRunsPartition, required: StructType,
                    keyField: String, reader: KvRowReader,
                    asOf: Option[Long])
    extends KvRunsReader(part, reader, asOf) {
  import graft.kv.KvTable.{SeqCol, TombstoneCol, VersionCol}

  private def idx(name: String) = reader.names.indexOf(name)
  private val keyIdx = idx(keyField)
  private val keyType = reader.fields(keyField).dataType
  private val (verIdx, seqIdx, tombIdx) = (idx(VersionCol), idx(SeqCol), idx(TombstoneCol))
  // Spark's ascending order of the key type: the order sorted files hold
  private val keyOrd = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(keyType)
  private val out = reader.project(required)

  private def long(r: InternalRow, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getLong(i)
  private def live(r: InternalRow): Boolean =
    r.isNullAt(tombIdx) || !r.getBoolean(tombIdx)
  // null keys first, as Spark sorts ascending
  private def cmpKeys(a: Any, b: Any): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else keyOrd.compare(a, b)

  private def merged: Iterator[InternalRow] = new Iterator[InternalRow] {
    private val its = part.runs.map(rows)
    private val heads = new Array[InternalRow](its.length)
    private val keys = new Array[Any](its.length)
    private val heap = new java.util.PriorityQueue[Integer](
      math.max(1, its.length), (a: Integer, b: Integer) => cmpKeys(keys(a), keys(b)))
    private def step(r: Int): Unit =
      if (its(r).hasNext) {
        heads(r) = its(r).next()
        keys(r) = heads(r).get(keyIdx, keyType)
      } else heads(r) = null
    its.indices.foreach { r => step(r); if (heads(r) != null) heap.add(r) }

    private var pending: InternalRow = _

    /** The next key's winner, or null when every run is drained. */
    private def winner(): InternalRow = {
      val key = InternalRow.copyValue(keys(heap.peek()))
      var best: InternalRow = null
      var (bv, bs) = (0L, 0L)
      while (!heap.isEmpty && cmpKeys(keys(heap.peek()), key) == 0) {
        val r: Int = heap.poll()
        while (heads(r) != null && cmpKeys(keys(r), key) == 0) {
          val row = heads(r)
          val (v, s) = (long(row, verIdx), long(row, seqIdx))
          if (best == null || v > bv || (v == bv && s >= bs)) {
            best = row.copy(); bv = v; bs = s
          }
          step(r)
        }
        if (heads(r) != null) heap.add(r)
      }
      best
    }

    override def hasNext: Boolean = {
      while (pending == null && !heap.isEmpty) {
        val w = winner()
        if (live(w)) pending = w
      }
      pending != null
    }
    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }
  }

  private def hashed: Iterator[InternalRow] = {
    // key -> (version, seq, row); a kept row is copied, the raw key
    // serves only lookups
    val best = new java.util.HashMap[Any, (Long, Long, InternalRow)]()
    part.runs.foreach(run => rows(run).foreach { r =>
      val (ver, seq) = (long(r, verIdx), long(r, seqIdx))
      val prev = best.get(r.get(keyIdx, keyType))
      if (prev == null || ver > prev._1 || (ver == prev._1 && seq >= prev._2)) {
        val kept = r.copy()
        best.put(kept.get(keyIdx, keyType), (ver, seq, kept))
      }
    })
    best.values().iterator().asScala.map(_._3).filter(live)
  }

  private val winners: Iterator[InternalRow] =
    if (part.runs.forall(_.sorted)) merged else hashed

  override def next(): Boolean =
    if (winners.hasNext) { out.project(winners.next()); emitted += 1; true }
    else false

  override def get(): InternalRow = out
}

class KvMergeReaderFactory(required: StructType, keyField: String,
                           reader: KvRowReader, asOf: Option[Long])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvMergeReader(partition.asInstanceOf[KvRunsPartition], required,
      keyField, reader, asOf)
}

object KvMergeReaderFactory {
  /** The merge reads the key and engine columns whatever the query
    * projects: the read projection is widened, output rows carry only
    * `required`. */
  def apply(required: StructType, fullSchema: StructType, keyField: String,
            conf: Configuration, asOf: Option[Long]): KvMergeReaderFactory = {
    import graft.kv.KvTable.{SeqCol, TombstoneCol, VersionCol}
    val readFields = Seq(keyField, VersionCol, SeqCol, TombstoneCol)
      .filterNot(required.fieldNames.contains)
      .foldLeft(required) { (s, n) =>
        s.add(fullSchema.fields.find(_.name == n).getOrElse(
          StructField(n, if (n == TombstoneCol) BooleanType else LongType)))
      }
    new KvMergeReaderFactory(required, keyField, KvRowReader(readFields, conf), asOf)
  }
}

/** The scan's Spark SQL metrics: rows the parquet reader decoded and
  * rows the scan emitted (per task, summed), and row groups planned
  * (driver side). On a merge scan decoded / emitted is the read
  * amplification the merge absorbs. */
object KvScanMetrics {
  val RowsDecoded = "rowsDecoded"
  val RowsEmitted = "rowsEmitted"
  val RowGroupsPlanned = "rowGroupsPlanned"

  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new KvRowsDecodedMetric, new KvRowsEmittedMetric, new KvRowGroupsPlannedMetric)

  def value(n: String, v: Long): org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }

  def rows(decoded: Long, emitted: Long)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(value(RowsDecoded, decoded), value(RowsEmitted, emitted))
}

class KvRowsDecodedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = KvScanMetrics.RowsDecoded
  override def description(): String = "rows decoded"
}

class KvRowsEmittedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = KvScanMetrics.RowsEmitted
  override def description(): String = "rows emitted"
}

class KvRowGroupsPlannedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = KvScanMetrics.RowGroupsPlanned
  override def description(): String = "row groups planned"
}

object KvV2Util {

  val BucketCol = "__bucket"

  /** Whether the table at `path` serves its LWW view by merge-on-read:
    * it is bucket-compacted and the manifest records every data file,
    * at its current length, as key-sorted. */
  def mergeable(path: String, conf: Configuration): Boolean =
    readBuckets(path, conf) > 0 && {
      val byRel = KvStats.read(path, conf)
        .map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
      dataFiles(path, conf).forall { f =>
        val rel = KvStats.relativize(path, f.getPath, conf)
        bucketOf(rel) >= 0 && byRel.get(rel).exists(s => s.len == f.getLen && s.sorted)
      }
    }

  /** Whether a filter may prune row groups under the merge: one on the
    * rowkey or `__bucket` (every version of a key shares both), or a
    * lower bound on `__version` (a group wholly below it holds no
    * winner the bound keeps). Any other predicate on a superseded
    * version could drop the newer row that shadows an older match, so
    * it stays a residual after the merge only. */
  def mergeSafe(f: Filter, keyField: Option[String]): Boolean = f match {
    case GreaterThan(graft.kv.KvTable.VersionCol, _) |
         GreaterThanOrEqual(graft.kv.KvTable.VersionCol, _) => true
    case _ => f.references.forall(c => c == BucketCol || keyField.contains(c))
  }

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
    * `=` — among them `_temporary/`, where a Spark write stages its attempt
    * files until the job commits. */
  def dataFiles(path: String, conf: Configuration): Seq[FileStatus] = {
    val dir = new HPath(s"$path/data")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir) && !restoreIfStranded(path, conf)) Seq.empty
    else leafFiles(fs, dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
  }

  /** Restore a data dir stranded aside by a crash between a compaction's
    * two renames (`KvTable.swapData`): `.data-old` moves back to `data/`.
    * The listing calls it only when `data/` is missing, so every reader
    * and every compaction heals the table and a healthy one pays nothing.
    * True when `data/` exists afterwards. */
  def restoreIfStranded(path: String, conf: Configuration): Boolean = {
    val (data, old) = (new HPath(s"$path/data"), new HPath(s"$path/.data-old"))
    val fs = data.getFileSystem(conf)
    if (!fs.exists(data) && fs.exists(old))
      require(fs.rename(old, data), s"kvtable $path: could not restore stranded $old")
    fs.exists(data)
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
    val msg = KvStats.readSchema(path, conf) match {
      case Some(s) =>
        org.apache.parquet.schema.MessageTypeParser.parseMessageType(s)
      case None =>
        val files = dataFiles(path, conf)
        require(files.nonEmpty, s"kvtable at $path has no data files")
        footerSchema(files.head, conf)
    }
    val base = StructType(new ParquetToSparkSchemaConverter(SQLConf.get)
      .convert(msg).fields.map(_.copy(nullable = true)))
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
        // the first group's split starts at byte 0 and the last one's
        // ends at the file's end, so a one-group file is one whole-file
        // split, as Spark's file source plans it
        groups.zipWithIndex.collect {
          case (g, i) if KvStats.groupPasses(g.stats, pushed) =>
            val start = if (i == 0) 0L else g.start
            val end = if (i == groups.size - 1) f.getLen else g.start + g.len
            KvInputPartition(f.getPath.toString, start, end - start, f.getLen,
              hosts, bucket, g.rows, keyName.flatMap(k => g.stats.get(k)),
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
      val schemaStr = KvStats.readSchema(path, conf).getOrElse("")
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
