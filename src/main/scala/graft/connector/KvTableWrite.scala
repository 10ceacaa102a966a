package graft.connector

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** V2 write path for `format("kvtable")` (see [[KvTableProvider]] for
  * the read path). The sink appends immutable parquet files to the log;
  * `SaveMode.Overwrite` arrives as V2 `SupportsTruncate` and the
  * truncation happens exactly once, DRIVER-side, at commit — the
  * semantics the reference guards with its `mapred.task.partition ==
  * null` check (`HBaseTap.java:123-127`). Each task buffers into its
  * own uniquely-named file (the `setAutoFlush(false)` + flush-at-close
  * batching of `TableOutputFormatWrap.java:35-69`, done properly:
  * rename-free, abortable).
  *
  * Contract: the incoming rows are RAW log rows (key + values +
  * `__version/__seq/__tombstone`) — every `KvTable` mutation prepares
  * them and passes the logical schema via the `kvschema` option.
  */
class KvWriteBuilder(path: String, info: LogicalWriteInfo,
                     hadoopConf: Configuration)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    // Writes into a bucket-compacted table DECLARE their distribution:
    // clustered by rowkey into exactly `buckets` partitions (Catalyst's
    // hash partitioning pmod(murmur3(key), n) is the same function
    // KeyBucketer routes files with, so each task receives exactly one
    // bucket's rows) and key-sorted within partitions. This bounds every
    // append path — SQL INSERT, df.write, streaming epochs — to ONE open
    // ParquetWriter per task (a task spanning B buckets would hold B
    // full row-group buffers) and produces key-sorted row groups, which
    // is what keeps manifest min/max pruning tight after appends.
    // Truncating writes reset the layout to unbucketed, so they need no
    // distribution; neither do writes that don't carry the key column.
    private val routeBuckets: Int =
      if (doTruncate) 0
      else KvV2Util.readMeta(path, hadoopConf)._2
    private val routeKey: Option[String] =
      if (routeBuckets <= 0) None
      else KvWriteUtil.keyField(path, Option(info.options.get("kvschema")),
          hadoopConf)
        .filter(k => info.schema().fieldNames.contains(k))

    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

    override def requiredDistribution(): Distribution =
      routeKey.fold(Distributions.unspecified(): Distribution)(k =>
        Distributions.clustered(Array(Expressions.identity(k))))
    override def requiredNumPartitions(): Int =
      if (routeKey.isDefined) routeBuckets else 0
    override def requiredOrdering(): Array[SortOrder] =
      routeKey.fold(Array.empty[SortOrder])(k =>
        Array(Expressions.sort(Expressions.identity(k),
          SortDirection.ASCENDING)))
    override def toBatch: BatchWrite = {
      // Rows arriving without engine-column VALUES (SQL `INSERT INTO`
      // via the catalog — columns absent, or present-but-NULL when the
      // INSERT names only the logical columns; plain
      // `df.write.format("kvtable")`) get them synthesized task-side:
      // one driver-assigned batch version for the whole job (the HBase
      // cell-timestamp analog KvTable.write computes), per-task monotone
      // seq, tombstone=false. Prepared raw rows (KvTable's mutations)
      // carry explicit values and pass through untouched.
      val assignedVersion =
        KvV2Util.readMeta(path, hadoopConf)._1 + 1
      new KvBatchWrite(path, info.schema(), assignedVersion,
        Option(info.options.get("kvschema")), doTruncate, hadoopConf)
    }

    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!doTruncate,
        "kvtable streaming sink is append-only: use outputMode append/update")
      new KvStreamingWrite(path, info.schema(),
        Option(info.options.get("kvschema")), info.queryId(), hadoopConf)
    }
  }
}

/** Native streaming sink: `df.writeStream.format("kvtable")` — every
  * micro-batch epoch is one append commit into the log, the streaming
  * generalization of the reference's flow-at-a-time APPEND
  * (`MultiFamilyCascadeHBaseTest.java:94-104`; each APPEND flow run ≡
  * one epoch). Each epoch gets its own monotone LWW version (assigned
  * driver-side when the epoch's writer factory is created), so readers
  * see last-write-wins across epochs exactly as across batch writes —
  * a stream of HBase Puts.
  *
  * Epoch replay after a crash is DEDUPLICATED: the commit records
  * (queryId, epochId) in `_kvepochs.json` inside the same table-lock
  * scope as the meta/manifest publish, and a commit whose epoch is
  * already recorded for this query skips the publish and deletes the
  * replayed task files — exactly-once for the committed-then-replayed
  * case (the Delta/Iceberg streaming-sink txn-id pattern; epoch ids
  * are stable across restarts because they come from the query's own
  * checkpoint). The one remaining at-least-once window is a crash
  * INSIDE the commit after the meta publish but before the epoch
  * record; a replay then re-appends under a new version, and the LWW
  * collapse makes it value-identical for upsert streams. Distinct
  * concurrent queries (different queryId) never dedupe each other.
  */
class KvStreamingWrite(path: String, schema: StructType,
                       kvSchemaJson: Option[String],
                       queryId: String,
                       hadoopConf: Configuration = KvHadoopConf.active())
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  // one prepared writer configuration for the query's life, not one per
  // epoch
  private lazy val sharedConf = KvWriteUtil.writeConf(hadoopConf, schema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    // per-epoch version: planned on the driver at epoch start, same
    // counter the batch path bumps at its commit
    val (lastVer, buckets) = KvV2Util.readMeta(path, hadoopConf)
    val routeKey = KvWriteUtil.keyField(path, kvSchemaJson, hadoopConf)
    new KvStreamingWriterFactory(path, schema, lastVer + 1, sharedConf,
      buckets, routeKey)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit =
    // identical driver-side commit as a batch append: publish stats
    // segment, bump version counter — under the table lock, with the
    // epoch recorded in the same locked scope (replays are skipped)
    new KvBatchWrite(path, schema, 0L, kvSchemaJson, truncate = false,
        hadoopConf, epochTag = Some((queryId, epochId)))
      .commit(messages)

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    new KvBatchWrite(path, schema, 0L, kvSchemaJson, truncate = false,
        hadoopConf).abort(messages)
}

class KvStreamingWriterFactory(path: String, schema: StructType,
                               assignedVersion: Long,
                               conf: Broadcast[SerializableConfiguration],
                               routeBuckets: Int = 0,
                               routeKey: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    // streaming epochs can REPLAY: defer the publish rename to the
    // driver commit, whose epoch-dedup check runs first
    new KvDataWriter(path, schema, assignedVersion, partitionId, taskId,
      conf.value.value, routeBuckets, routeKey, deferPublish = true)
}

/** Task-commit message: published file paths plus their stats, extracted
  * TASK-side from the just-written footer — the driver merges them into
  * the [[KvStats]] manifest without opening any footer itself (the 100 TB
  * path: stats cost is distributed across writers, planning is one JSON
  * read). */
case class KvCommitMessage(files: Seq[String],
                           stats: Seq[KvStats.FileStat],
                           staged: Seq[String] = Seq.empty)
    extends WriterCommitMessage

/** Driver-side commit for the V2 sink.
  *
  * CONCURRENCY CONTRACT — single writer per table (exactly HBase's
  * one-region-server-owns-a-region model, and the same contract
  * Delta/Iceberg enforce with a log lock): job commit read-modify-writes
  * `_kvmeta.json` and the stats manifest under the table lock, but the
  * LWW version is assigned at job start. `KvTable`'s mutations hold the
  * lock across both; two plain SQL INSERTs or streaming queries
  * appending at once could both compute `prevVer + 1` and share one
  * version (ties decided by arbitrary seq). Serialize those per table;
  * concurrent READS are always safe (immutable files, atomic rename
  * publish).
  */
class KvBatchWrite(path: String, schema: StructType,
                   assignedVersion: Long,
                   kvSchemaJson: Option[String], truncate: Boolean,
                   conf: Configuration,
                   epochTag: Option[(String, Long)] = None)
    extends BatchWrite {

  // Snapshot the pre-job files on the DRIVER at job start; commit-time
  // truncation removes exactly these (task files are new unique names).
  private val preExisting: Seq[org.apache.hadoop.fs.FileStatus] =
    KvV2Util.dataFiles(path, conf)

  // bucket layout + rowkey resolved ONCE, driver-side: appends to a
  // bucket-compacted table route rows by key hash (a truncating write
  // resets the layout, so it never routes)
  private val routeBuckets: Int =
    if (truncate) 0 else KvV2Util.readMeta(path, conf)._2
  // resolved unconditionally: bucket routing needs it when bucketed,
  // and the per-file rowkey BLOOM and key order need it on every table
  private val routeKey: Option[String] =
    KvWriteUtil.keyField(path, kvSchemaJson, conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KvWriterFactory(path, schema, assignedVersion,
      KvWriteUtil.writeConf(conf, schema), routeBuckets, routeKey,
      deferPublish = epochTag.isDefined)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // Serialize the commit's meta + manifest read-modify-write against
    // other committers: a concurrent committer can no longer drop this
    // job's manifest segment or race the counter bump. KvTable's
    // mutations hold this lock from version allocation through this
    // commit (which then runs inline), so their versions are distinct.
    // Plain SQL INSERTs and streaming epochs take it only here — their
    // version is assigned at job START, so two of them running at once
    // may share a version; the single-writer contract below remains the
    // guidance for strict cross-job LWW ordering there.
    graft.kv.TableLock.withLock(path, conf) {
    val fs = new HPath(path).getFileSystem(conf)
    // streaming epoch replay: if this (queryId, epochId) already
    // committed, drop the replayed task files and publish nothing —
    // the check and the record below share this lock scope, so two
    // replays cannot both pass
    if (epochTag.exists { case (q, e) =>
        KvEpochs.committed(path, conf, q, e) }) {
      // epoch-tagged tasks DEFER publish (files still under .staging/),
      // so a replay is dropped before any reader could observe it —
      // no transient raw-log/CDC visibility window
      messages.foreach {
        case KvCommitMessage(files, _, staged) =>
          (files ++ staged).foreach(f => fs.delete(new HPath(f), false))
        case _ => ()
      }
    } else {
    // publish deferred task files (epoch-tagged writes) now that the
    // replay check passed — rename is per-file atomic, and the manifest
    // /meta bump below happens in this same locked scope
    messages.foreach {
      case KvCommitMessage(files, _, staged) if staged.nonEmpty =>
        staged.zip(files).foreach { case (s, f) =>
          val dst = new HPath(f)
          fs.mkdirs(dst.getParent)
          if (!fs.rename(new HPath(s), dst))
            throw new java.io.IOException(s"kvtable: failed to publish $s")
        }
      case _ => ()
    }
    if (truncate) preExisting.foreach(f => fs.delete(f.getPath, false))
    kvSchemaJson.foreach { json =>
      val out = fs.create(new HPath(s"$path/_kvschema.json"), true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
    // Publish task-extracted stats as ONE manifest segment (folded into
    // the base every KvStats.foldThreshold segments): zero driver footer
    // IO for the files THIS job wrote, O(new files) manifest bytes per
    // commit. Pre-existing files missing from the manifest (legacy
    // tables) are back-filled into the same segment, once. A truncating
    // write rewrites the base whole (dropping segments) — the old
    // entries describe deleted files.
    val newStats = messages.toSeq.flatMap {
      case KvCommitMessage(_, stats, _) => stats
      case _ => Seq.empty
    }
    val schemaStr = new SparkToParquetSchemaConverter(SQLConf.get)
      .convert(KvWriteUtil.fileSchema(schema)).toString
    if (truncate)
      KvStats.write(path, KvStats.Manifest(schemaStr, newStats), conf)
    else {
      val prior = KvStats.read(path, conf)
      val priorByRel: Map[String, KvStats.FileStat] =
        prior.map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
      val backfill = preExisting.flatMap { f =>
        val rel = KvStats.relativize(path, f.getPath, conf)
        if (priorByRel.get(rel).exists(_.len == f.getLen)) None
        else Some(KvStats.fromFooter(f.getPath, rel, f.getLen, conf))
      }
      KvStats.append(path, schemaStr, prior, backfill ++ newStats, conf)
    }
    // bump the batch counter; preserve an existing bucket layout marker
    // UNLESS this write truncated the table (a truncating write resets
    // the layout to unbucketed)
    val (prevVer, prevBuckets) = KvV2Util.readMeta(path, conf)
    KvV2Util.writeMeta(path, conf, prevVer + 1,
      if (truncate) 0 else prevBuckets)
    epochTag.foreach { case (q, e) => KvEpochs.record(path, conf, q, e) }
    }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(path).getFileSystem(conf)
    messages.foreach {
      case KvCommitMessage(files, _, staged) =>
        (files ++ staged).foreach(f => fs.delete(new HPath(f), false))
      case _ => ()
    }
  }
}

class KvWriterFactory(path: String, schema: StructType,
                      assignedVersion: Long,
                      conf: Broadcast[SerializableConfiguration],
                      routeBuckets: Int = 0,
                      keyField: Option[String] = None,
                      deferPublish: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, schema, assignedVersion, partitionId, taskId,
      conf.value.value, routeBuckets, keyField, deferPublish)
}

/** Per-task buffered writer: each row goes through Spark's
  * `ParquetOutputWriter`, on the write's configuration as Spark's
  * `prepareWrite` set it up on the driver ([[KvWriteUtil.writeConf]]),
  * so files encode as Spark's own parquet source would write them. Rows
  * carrying a `__bucket` column (a compaction's bucketed output) are
  * routed to per-bucket files under `data/__bucket=N/` (the column is a
  * DIRECTORY coordinate, excluded from the parquet schema). Rows
  * WITHOUT the column are routed by hashing the rowkey when the table is
  * bucket-compacted (`routeBuckets` > 0, from the meta at job start) — so
  * a plain SQL `INSERT INTO` keeps the region layout too. Unbucketed tables write
  * one file, as before. `conf` is the write's broadcast configuration:
  * read, never set.
  */
class KvDataWriter(path: String, schema: StructType,
                   assignedVersion: Long, partitionId: Int,
                   taskId: Long, conf: Configuration,
                   routeBuckets: Int = 0,
                   routeKeyField: Option[String] = None,
                   deferPublish: Boolean = false)
    extends DataWriter[InternalRow] {

  import graft.kv.KvTable.{SeqCol, TombstoneCol, VersionCol}

  private val bucketIdx: Int = schema.fieldNames.indexOf(KvV2Util.BucketCol)

  // key-hash routing for bucket-compacted tables when rows carry no
  // explicit __bucket (SQL INSERT, delta mutations)
  private val routeKeyIdx: Int =
    routeKeyField.map(k => schema.fieldNames.indexOf(k)).getOrElse(-1)
  // the bucket COLUMN may exist but hold null (SQL INSERT null-fills
  // it like any other unnamed column) — key-hash routing covers both
  // the absent and the null case
  private val bucketer: KeyBucketer =
    if (routeBuckets > 0 && routeKeyIdx >= 0)
      new KeyBucketer(schema(routeKeyIdx).dataType, routeBuckets)
    else null
  // each row is projected into the file schema: `__bucket` dropped,
  // engine columns the rows lack (-1) or hold null synthesized
  private val fileSchema: StructType = KvWriteUtil.fileSchema(schema)
  private val srcIdx: Array[Int] = fileSchema.fieldNames.map(n => schema.fieldNames.indexOf(n))
  private val fileRow = new GenericInternalRow(fileSchema.length)
  private lazy val context = new TaskAttemptContextImpl(conf, new TaskAttemptID())

  // Per-task seq for synthesized engine columns: partition-prefixed,
  // row-order monotone — the same shape monotonically_increasing_id
  // gives the prepared-row path.
  private var seq: Long = partitionId.toLong << 33

  /** Synthesized value for an engine column arriving NULL (a SQL INSERT
    * naming only the logical columns null-fills the rest), or absent;
    * null for any other column. */
  private def synthValue(name: String): Any = name match {
    case VersionCol => assignedVersion
    case SeqCol => seq
    case TombstoneCol => false
    case _ => null
  }

  // Stage outside data/ so readers never see uncommitted or torn files
  // (a hard task kill leaves only invisible staging garbage); the task
  // commit publishes with one rename per file.
  private def newName() =
    s"part-v2-$partitionId-$taskId-${UUID.randomUUID().toString.take(8)}.parquet"

  /** bucket (-1 = unbucketed) -> (staged path, published path, writer) */
  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[Int, (String, String, ParquetOutputWriter)]

  // per-FILE rowkey bloom (HBase per-store-file bloom), built while the
  // rows stream through this writer. Disabled for a file if any row's
  // key is null/unsupported (a bloom missing a key would let pruning
  // skip a file that matters — false negatives are not an option).
  private val blooms = scala.collection.mutable.LinkedHashMap
    .empty[Int, (java.util.BitSet, Array[Boolean])]
  private def bloomFor(bucket: Int) =
    blooms.getOrElseUpdate(bucket, (new java.util.BitSet(KvBloom.Bits),
      Array(true)))

  // OBSERVED per-file key order: true while every key this writer sent
  // to the file was >= its predecessor under Spark's ordering of the key
  // type (the order a sort produces and the merge scan merges by; raw
  // bytes for strings). Recorded in the manifest and the basis for
  // the scan's SupportsReportOrdering — observation, not assumption, so
  // unsorted inputs (plain unbucketed appends) simply record false.
  private lazy val keyOrd = org.apache.spark.sql.catalyst.types.PhysicalDataType
    .ordering(schema(routeKeyIdx).dataType)
  private val keyOrder = scala.collection.mutable.LinkedHashMap
    .empty[Int, (Array[Any], Array[Boolean])]
  private def observeKey(bucket: Int, row: InternalRow): Unit = {
    val (last, ok) = keyOrder.getOrElseUpdate(bucket, (Array[Any](null), Array(true)))
    if (routeKeyIdx < 0 || row.isNullAt(routeKeyIdx)) ok(0) = false // unknown
    else if (ok(0)) {
      val k = InternalRow.copyValue(row.get(routeKeyIdx, schema(routeKeyIdx).dataType))
      if (last(0) != null && keyOrd.compare(last(0), k) > 0) ok(0) = false
      last(0) = k
    }
  }
  private def keyRendering(row: InternalRow): String =
    if (routeKeyIdx < 0 || row.isNullAt(routeKeyIdx)) null
    else schema(routeKeyIdx).dataType match {
      case StringType => row.getUTF8String(routeKeyIdx).toString
      case LongType => row.getLong(routeKeyIdx).toString
      case IntegerType => row.getInt(routeKeyIdx).toString
      case _ => null
    }

  private def writerFor(bucket: Int) = writers.getOrElseUpdate(bucket, {
    val name = newName()
    val sub = if (bucket >= 0) s"${KvV2Util.BucketCol}=$bucket/" else ""
    val staged = s"$path/.staging/$sub$name"
    val file = s"$path/data/$sub$name"
    (staged, file, new ParquetOutputWriter(staged, context))
  })

  override def write(row: InternalRow): Unit = {
    val bucket =
      if (bucketIdx >= 0 && !row.isNullAt(bucketIdx)) row.getInt(bucketIdx)
      else if (bucketer != null && !row.isNullAt(routeKeyIdx))
        bucketer.bucketOf(row.get(routeKeyIdx, schema(routeKeyIdx).dataType))
      else -1
    var j = 0
    while (j < srcIdx.length) {
      val i = srcIdx(j)
      fileRow.update(j,
        if (i >= 0 && !row.isNullAt(i)) row.get(i, fileSchema(j).dataType)
        else synthValue(fileSchema(j).name))
      j += 1
    }
    seq += 1
    val (bits, valid) = bloomFor(bucket)
    val kr = keyRendering(row)
    if (kr == null) valid(0) = false else KvBloom.add(bits, kr)
    observeKey(bucket, row)
    writerFor(bucket)._3.write(fileRow)
  }

  override def commit(): WriterCommitMessage = {
    val fs = new HPath(path).getFileSystem(conf)
    // Epoch-tagged (streaming) tasks DEFER the publish rename to the
    // driver commit: the replay check there runs before any file
    // reaches data/, so a replayed epoch is never reader-visible, even
    // transiently (raw-log/CDC consumers included). Batch tasks publish
    // here as before — their job-level replay cannot happen.
    val published = writers.toSeq.map { case (bucket, (staged, file, w)) =>
      w.close() // single buffered flush per task, like flushCommits()
      if (!deferPublish) {
        fs.mkdirs(new HPath(file).getParent)
        if (!fs.rename(new HPath(staged), new HPath(file)))
          throw new java.io.IOException(s"kvtable: failed to publish $staged")
      }
      (bucket, file, staged)
    }
    // Extract this task's file stats from the footers IT just wrote —
    // distributed stats collection, merged driver-side at job commit —
    // and attach the rowkey bloom built while the rows streamed through.
    // In defer mode the footer is read at the STAGED path; the recorded
    // manifest path is the publish target (rename preserves content).
    val stats = published.map { case (bucket, file, staged) =>
      val actual = new HPath(if (deferPublish) staged else file)
      val len = fs.getFileStatus(actual).getLen
      val st0 = KvStats.fromFooter(actual,
        KvStats.relativize(path, new HPath(file), conf), len, conf)
      val st = st0.copy(sorted = keyOrder.get(bucket).exists(_._2(0)))
      blooms.get(bucket) match {
        case Some((bits, valid)) if valid(0) =>
          st.copy(bloom = Some(KvBloom.encode(bits)))
        case _ => st
      }
    }
    KvCommitMessage(published.map(_._2), stats,
      if (deferPublish) published.map(_._3) else Seq.empty)
  }

  override def abort(): Unit = {
    val fs = new HPath(path).getFileSystem(conf)
    writers.values.foreach { case (staged, _, w) =>
      w.close()
      fs.delete(new HPath(staged), false)
    }
  }

  override def close(): Unit = ()
}

object KvWriteUtil {
  /** The rowkey a write into `path` routes, Blooms and orders by: the
    * write's `kvschema` option, else the table's `_kvschema.json`. The
    * option comes first because a new table's first commit creates that
    * file only after its tasks have written. */
  def keyField(path: String, kvSchemaJson: Option[String],
               conf: Configuration): Option[String] =
    kvSchemaJson.map(graft.kv.KvSchema.fromJson(_).keyField)
      .orElse(KvV2Util.readKeyField(path, conf))

  /** On-disk schema of a data file, every column nullable: the incoming
    * columns minus the `__bucket` directory coordinate, plus the engine
    * columns when the rows arrive without `__version` (the writer
    * synthesizes them). */
  def fileSchema(incoming: StructType): StructType = {
    val base = StructType(incoming.fields
      .filterNot(_.name == KvV2Util.BucketCol).map(_.copy(nullable = true)))
    if (incoming.fieldNames.contains(graft.kv.KvTable.VersionCol)) base
    else base
      .add(graft.kv.KvTable.VersionCol, LongType)
      .add(graft.kv.KvTable.SeqCol, LongType)
      .add(graft.kv.KvTable.TombstoneCol, BooleanType)
  }

  /** The configuration a write's tasks hand Spark's parquet writer, for
    * rows of `incoming`: Spark's `prepareWrite` sets it up once on the
    * driver from the session's SQL conf — timestamp encoding,
    * compression, row-group and page sizes follow the same settings as
    * Spark's parquet source — and it is broadcast to the tasks. */
  def writeConf(conf: Configuration, incoming: StructType)
      : Broadcast[SerializableConfiguration] = {
    val job = Job.getInstance(conf) // a copy: `conf` itself is not set
    new ParquetFileFormat().prepareWrite(SparkSession.active, job, Map.empty,
      fileSchema(incoming))
    KvHadoopConf.broadcast(job.getConfiguration)
  }
}

/** Streaming-epoch commit ledger (`_kvepochs.json`): the highest epoch
  * committed per streaming query id. Read and written ONLY inside the
  * table lock's scope (KvBatchWrite.commit), so the replayed-epoch
  * check and the record are atomic. One entry per query that ever wrote
  * the table — bounded by writer count, not by epochs. */
object KvEpochs {
  private def file(path: String) = new HPath(s"$path/_kvepochs.json")

  private def readAll(path: String, conf: Configuration): Map[String, Long] = {
    val fs = file(path).getFileSystem(conf)
    if (!fs.exists(file(path))) return Map.empty
    val in = fs.open(file(path))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val it = node.fields()
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong }
    b.result()
  }

  def committed(path: String, conf: Configuration,
                queryId: String, epochId: Long): Boolean =
    readAll(path, conf).get(queryId).exists(_ >= epochId)

  def record(path: String, conf: Configuration,
             queryId: String, epochId: Long): Unit = {
    val all = readAll(path, conf) + (queryId -> epochId)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = all.map { case (q, e) => s""""${esc(q)}":$e""" }
      .mkString("{", ",", "}")
    val fs = file(path).getFileSystem(conf)
    val out = fs.create(file(path), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }
}

/** Spark-compatible key→bucket hashing (`pmod(hash(key), n)` with the
  * same Murmur3 seed Catalyst uses), evaluated row-at-a-time in
  * writers so every append path — prepared writes, SQL INSERT, delta
  * mutations, streaming epochs — lands rows in the same bucket
  * directory the readers will probe. */
class KeyBucketer(keyType: org.apache.spark.sql.types.DataType, buckets: Int) {
  private val hashExpr =
    new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, keyType, nullable = true)), 42)
  private val keyRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)

  def bucketOf(key: Any): Int = {
    keyRow.update(0, key)
    val h = hashExpr.eval(keyRow).asInstanceOf[Int]
    ((h % buckets) + buckets) % buckets
  }
}
