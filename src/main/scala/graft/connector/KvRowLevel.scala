package graft.connector

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
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
  * and the scan is the connector's LWW merge scan ([[KvScan]] with
  * `lww`): ONE partition per bucket whose reader merges the bucket's
  * runs to last-write-wins ([[KvMergeReader]]). That is the HBase
  * region read: region-local merge of store files, live cells out.
  */
class KvRowLevelOperationBuilder(path: String, tableSchema: StructType,
                                 info: RowLevelOperationInfo,
                                 conf: Configuration)
    extends RowLevelOperationBuilder {
  // NOTE: the bucket-layout requirement is checked at SCAN PLANNING
  // (KvScan.planInputPartitions), not here — Spark builds the row-level
  // plan during analysis even for DELETEs it will then optimize into the cheaper
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
    new KvScanBuilder(path, tableSchema, hadoopConf = conf, lww = true)

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

  private val keyField: String =
    KvV2Util.readKeyField(path, conf).getOrElse(
      throw new IllegalStateException(s"kvtable($path): no rowkey declared"))

  // sink layout: key + data columns + engine columns; the sink writer
  // routes each row to its key's bucket directory (KeyBucketer)
  private val sinkSchema: StructType = {
    val engineNames = Set(VersionCol, SeqCol, TombstoneCol, KvV2Util.BucketCol)
    val incoming = writeSchema.fields.filterNot(f => engineNames(f.name))
    val keyType = tableSchema.fields.find(_.name == keyField)
      .map(_.dataType).getOrElse(StringType)
    StructType(
      if (incoming.exists(_.name == keyField)) incoming
      else StructField(keyField, keyType, nullable = false) +: incoming)
      .add(VersionCol, LongType).add(SeqCol, LongType)
      .add(TombstoneCol, BooleanType)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new KvDeltaWriterFactory(path, buckets, writeSchema, keyField, sinkSchema,
      assignedVersion, KvWriteUtil.writeConf(conf, sinkSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    inner.commit(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    inner.abort(messages)
}

class KvDeltaWriterFactory(path: String, buckets: Int, writeSchema: StructType,
                           keyField: String, sinkSchema: StructType,
                           assignedVersion: Long,
                           conf: Broadcast[SerializableConfiguration])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new KvDeltaWriter(path, buckets, writeSchema, keyField, sinkSchema,
      assignedVersion, partitionId, taskId, conf.value.value)
}

class KvDeltaWriter(path: String, buckets: Int, writeSchema: StructType,
                    keyField: String, sinkSchema: StructType,
                    assignedVersion: Long, partitionId: Int, taskId: Long,
                    conf: Configuration)
    extends DeltaWriter[InternalRow] {

  private val keyType: DataType = sinkSchema(keyField).dataType
  // the sink's key + data columns (the engine columns are its last three)
  private val dataFields: Array[StructField] = sinkSchema.fields.dropRight(3)
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
