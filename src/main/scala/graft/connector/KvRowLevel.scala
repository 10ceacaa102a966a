package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.kv.KvTable.{SeqCol, TombstoneCol, VersionCol}

/** SQL row-level mutations — `UPDATE`, `MERGE INTO`, and
  * arbitrary-predicate `DELETE` — via Spark's DELTA-based row-level
  * operation API, which matches the log-structured table exactly: the
  * rewrite appends only the touched rows (puts + tombstones), never
  * rewriting data files, so a MERGE is physically the same thing as
  * the reference's batched Put/Delete mutation stream
  * (`TableOutputFormatWrap.java:79-84`).
  *
  * The operation's target-table scan must present the LIVE view (a
  * MERGE that matched superseded versions would compute updates from
  * stale values), and a leaf scan cannot shuffle — so row-level ops
  * require a BUCKET-COMPACTED table: every version of a key lives in
  * one `__bucket=N` directory (compaction + bucket-aligned appends),
  * and the scan plans ONE partition per bucket whose reader collapses
  * the bucket's rows to last-write-wins in memory. That is the HBase
  * region read: region-local merge of store files, live cells out.
  * Memory is bounded by one bucket's live set — the bucket count
  * chosen at compaction is the knob, exactly like region sizing.
  */
class KvRowLevelOperationBuilder(path: String, tableSchema: StructType,
                                 info: RowLevelOperationInfo,
                                 conf: Configuration)
    extends RowLevelOperationBuilder {
  // NOTE: the bucket-layout requirement is checked at SCAN PLANNING
  // (KvLiveScan), not here — Spark builds the row-level plan during
  // analysis even for DELETEs it will then optimize into the cheaper
  // SupportsDelete metadata path, so failing here would break
  // key-equality DELETE on unbucketed tables.
  override def build(): RowLevelOperation =
    new KvRowLevelOperation(path, tableSchema, info.command, conf)
}

class KvRowLevelOperation(path: String, tableSchema: StructType,
                          cmd: RowLevelOperation.Command,
                          conf: Configuration)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] = {
    val key = KvV2Util.readKeyField(path, conf)
      .getOrElse(throw new IllegalStateException(
        s"kvtable($path): no _kvschema.json — cannot identify the rowkey"))
    Array(Expressions.column(key))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvLiveScanBuilder(path, tableSchema, conf)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite
          with RequiresDistributionAndOrdering {
        // Row-level ops REQUIRE a bucket-compacted table (enforced at
        // scan planning), so declare the same write distribution the
        // plain V2 write does: clustered by rowkey into exactly
        // `buckets` partitions — each task then feeds ONE bucket's
        // writer instead of holding an open row-group buffer per bucket
        // it happens to touch. Skipped when the delta write schema
        // doesn't carry the key (pure-DELETE plans project no data
        // columns; their tombstone volume is the matched-row count,
        // routed row-at-a-time without memory risk).
        private val distBuckets = KvV2Util.readBuckets(path, conf)
        private val distKey: Option[String] =
          KvV2Util.readKeyField(path, conf)
            .filter(k => distBuckets > 0 &&
              info.schema().fieldNames.contains(k))

        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder}

        override def requiredDistribution(): Distribution =
          distKey.fold(Distributions.unspecified(): Distribution)(k =>
            Distributions.clustered(Array(Expressions.identity(k))))
        override def requiredNumPartitions(): Int =
          if (distKey.isDefined) distBuckets else 0
        override def requiredOrdering(): Array[SortOrder] =
          distKey.fold(Array.empty[SortOrder])(k =>
            Array(Expressions.sort(Expressions.identity(k),
              SortDirection.ASCENDING)))

        override def toBatch: DeltaBatchWrite =
          new KvDeltaBatchWrite(path, tableSchema,
            distBuckets, info.schema(), conf)
      }
    }
}

/** Scan of the LIVE view: column pruning only (predicates stay Spark-
  * side residuals — the rewrite plans them above the scan anyway). */
class KvLiveScanBuilder(path: String, fullSchema: StructType,
                        conf: Configuration)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new KvLiveScan(path, fullSchema, required, conf)
}

class KvLiveScan(path: String, fullSchema: StructType, required: StructType,
                 conf: Configuration)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"kvtable-live($path) ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    require(KvV2Util.readBuckets(path, conf) > 0,
      s"kvtable($path): row-level UPDATE/MERGE and non-key DELETE need a " +
        "bucket-compacted table so the live view scans region-locally — " +
        "run CALL <cat>.system.compact(table, buckets) first; DELETE by " +
        "rowkey equality/IN works on any table")
    val byBucket = KvV2Util.dataFiles(path, conf).groupBy { f =>
      KvV2Util.bucketOf(KvStats.relativize(path, f.getPath, conf))
    }
    require(!byBucket.contains(-1),
      s"kvtable($path): unbucketed files in a bucket-compacted table")
    byBucket.toArray.map { case (b, files) =>
      KvBucketPartition(b, files.map(_.getPath.toString).toArray): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvLiveReaderFactory(path, fullSchema, required,
      KvHadoopConf.broadcast(conf))
}

case class KvBucketPartition(bucket: Int, files: Array[String])
    extends InputPartition

class KvLiveReaderFactory(path: String, fullSchema: StructType,
                          required: StructType,
                          conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvBucketLiveReader(path, partition.asInstanceOf[KvBucketPartition],
      fullSchema, required, conf.value.value)
}

/** Region-style bucket read: merge every file of the bucket, keep the
  * max-(version, seq) cell per key, drop tombstones, emit live rows
  * projected to `required`. */
class KvBucketLiveReader(path: String, part: KvBucketPartition,
                         fullSchema: StructType, required: StructType,
                         conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val keyField: String =
    KvV2Util.readKeyField(path, conf).getOrElse(
      throw new IllegalStateException(s"kvtable($path): no rowkey declared"))

  // columns the collapse needs beyond the projection
  private val readFields: StructType = {
    val names = required.fieldNames.toSet
    var s = required
    Seq(keyField, VersionCol, SeqCol, TombstoneCol).foreach { n =>
      if (!names.contains(n))
        s = s.add(fullSchema.fields.find(_.name == n).getOrElse(
          StructField(n, if (n == TombstoneCol) BooleanType else LongType)))
    }
    s
  }

  private def fieldValue(g: org.apache.parquet.example.data.Group,
                         name: String, dt: DataType): Any = {
    if (!g.getType.containsField(name)) return null
    val idx = g.getType.getFieldIndex(name)
    if (g.getFieldRepetitionCount(idx) == 0) null
    else KvV2Util.readValue(g, idx, dt)
  }

  private val live: Iterator[InternalRow] = {
    // key -> (version, seq, values-in-readFields-order)
    val best = new java.util.HashMap[Any, (Long, Long, Array[Any])]()
    part.files.foreach { file =>
      val reader = KvV2Util.groupReader(new HPath(file), conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val vals = new Array[Any](readFields.length)
          var i = 0
          while (i < readFields.length) {
            val f = readFields(i)
            vals(i) =
              if (f.name == KvV2Util.BucketCol) part.bucket
              else fieldValue(g, f.name, f.dataType)
            i += 1
          }
          val key = vals(readFields.fieldIndex(keyField))
          val ver = vals(readFields.fieldIndex(VersionCol)) match {
            case l: java.lang.Long => l.longValue(); case _ => 0L
          }
          val seq = vals(readFields.fieldIndex(SeqCol)) match {
            case l: java.lang.Long => l.longValue(); case _ => 0L
          }
          val prev = best.get(key)
          if (prev == null || ver > prev._1 ||
              (ver == prev._1 && seq >= prev._2))
            best.put(key, (ver, seq, vals))
          g = reader.read()
        }
      } finally reader.close()
    }
    val tombIdx = readFields.fieldIndex(TombstoneCol)
    val outIdx = required.fieldNames.map(readFields.fieldIndex)
    best.values().iterator().asScala
      .filter(e => e._3(tombIdx) != java.lang.Boolean.TRUE)
      .map(e => new GenericInternalRow(outIdx.map(e._3)): InternalRow)
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (live.hasNext) { current = live.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Delta write: every mutation is an append. `insert`/`update` become
  * puts, `delete` becomes a key tombstone — all stamped with one
  * driver-assigned batch version and routed to their key's bucket
  * directory by the shared [[KeyBucketer]], so the table stays
  * region-organized after any number of MERGEs.
  *
  * The write schema varies by command (a pure DELETE ships only the
  * rowId projection), so the key's name/type come from the TABLE
  * schema, never from the incoming rows. */
class KvDeltaBatchWrite(path: String, tableSchema: StructType,
                        buckets: Int,
                        writeSchema: StructType,
                        conf: Configuration)
    extends DeltaBatchWrite {

  private val assignedVersion =
    KvV2Util.readMeta(path, conf)._1 + 1

  // append-only job commit, shared with the plain V2 write path; the
  // commit's manifest schema is the TABLE's file layout (the write
  // schema of a pure DELETE is empty)
  private val inner = new KvBatchWrite(path,
    StructType(tableSchema.fields.filterNot(_.name == KvV2Util.BucketCol)),
    assignedVersion, kvSchemaJson = None, truncate = false, conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new KvDeltaWriterFactory(path, tableSchema, buckets, writeSchema,
      assignedVersion, KvHadoopConf.broadcast(conf))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    inner.commit(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    inner.abort(messages)
}

class KvDeltaWriterFactory(path: String, tableSchema: StructType,
                           buckets: Int, writeSchema: StructType,
                           assignedVersion: Long,
                           conf: Broadcast[SerializableConfiguration])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new KvDeltaWriter(path, tableSchema, buckets, writeSchema,
      assignedVersion, partitionId, taskId, conf.value.value)
}

class KvDeltaWriter(path: String, tableSchema: StructType, buckets: Int,
                    writeSchema: StructType, assignedVersion: Long,
                    partitionId: Int, taskId: Long, conf: Configuration)
    extends DeltaWriter[InternalRow] {

  private val keyField: String =
    KvV2Util.readKeyField(path, conf).getOrElse(
      throw new IllegalStateException(s"kvtable($path): no rowkey declared"))
  private val keyType: DataType =
    tableSchema.fields.find(_.name == keyField)
      .map(_.dataType).getOrElse(StringType)

  private val engineNames =
    Set(VersionCol, SeqCol, TombstoneCol, KvV2Util.BucketCol)

  // sink layout: key + data columns + engine columns; the sink writer
  // routes each row to its key's bucket directory (KeyBucketer)
  private val dataFields: Array[StructField] = {
    val incoming = writeSchema.fields.filterNot(f => engineNames(f.name))
    if (incoming.exists(_.name == keyField)) incoming
    else StructField(keyField, keyType, nullable = false) +: incoming
  }
  private val sinkSchema: StructType = StructType(dataFields)
    .add(VersionCol, LongType).add(SeqCol, LongType)
    .add(TombstoneCol, BooleanType)
  private val keyPos = dataFields.indexWhere(_.name == keyField)
  // incoming index per sink data field (-1 when the write schema lacks
  // it — only possible for DELETE-only plans, which never call put)
  private val srcIdx: Array[Int] =
    dataFields.map(f => writeSchema.fieldNames.indexOf(f.name))

  private val sink = new KvDataWriter(path, sinkSchema, assignedVersion,
    partitionId, taskId, conf, routeBuckets = buckets,
    routeKeyField = Some(keyField))

  private var seq: Long = partitionId.toLong << 33

  private def emit(vals: Array[Any], tombstone: Boolean): Unit = {
    val out = new GenericInternalRow(sinkSchema.length)
    var i = 0
    while (i < vals.length) { out.update(i, vals(i)); i += 1 }
    val n = sinkSchema.length
    out.update(n - 3, assignedVersion)
    out.update(n - 2, seq)
    out.update(n - 1, tombstone)
    seq += 1
    sink.write(out)
  }

  private def put(row: InternalRow): Unit = {
    val vals = new Array[Any](dataFields.length)
    var i = 0
    while (i < dataFields.length) {
      val s = srcIdx(i)
      vals(i) =
        if (s < 0 || row.isNullAt(s)) null
        else row.get(s, dataFields(i).dataType)
      i += 1
    }
    emit(vals, tombstone = false)
  }

  override def insert(row: InternalRow): Unit = put(row)

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = put(row)

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    // id carries the rowId projection (the key); synthesize a tombstone
    val vals = new Array[Any](dataFields.length)
    vals(keyPos) = id.get(0, keyType)
    emit(vals, tombstone = true)
  }

  override def commit(): WriterCommitMessage = sink.commit()
  override def abort(): Unit = sink.abort()
  override def close(): Unit = sink.close()
}
