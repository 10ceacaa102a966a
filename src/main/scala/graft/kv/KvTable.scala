package graft.kv

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.KvHadoopConf

/** Sink lifecycle modes, mirroring the reference's Cascading `SinkMode`
  * handling (`HBaseTap.java:32-35` default APPEND; `:123-132` REPLACE
  * drops the table driver-side before tasks write).
  */
sealed trait SinkMode
object SinkMode {
  /** Fail if the table already exists. */
  case object Keep extends SinkMode
  /** Drop + recreate. The drop happens exactly once, driver-side, before
    * any task writes — the semantics the reference guards with its
    * `mapred.task.partition == null` check (`HBaseTap.java:124`). */
  case object Replace extends SinkMode
  /** Accumulate (the reference default, `HBaseTap.java:33`); duplicate
    * keys collapse at read time, newest version wins. */
  case object Append extends SinkMode
}

/** A parquet-backed sorted-KV table with HBase-style semantics:
  * upsert-by-rowkey (last write wins), versioned cells, tombstone
  * deletes, APPEND/REPLACE lifecycle.
  *
  * Storage model (log-structured, like HBase's MemStore+HFile flow):
  * every write APPENDS immutable parquet files under `<path>/data/`
  * carrying three engine columns — `__version` (writer-assigned batch
  * number or user-supplied column, e.g. an event time), `__seq`
  * (intra-batch tiebreak), `__tombstone` (delete marker). The read view
  * collapses to last-write-wins per key with a single partial-aggregating
  * shuffle: `groupBy(key).agg(max_by(struct(*), struct(version, seq)))`.
  *
  * Scale notes (100 TB): appends are pure file adds (no read-modify-write,
  * no shuffle on the write path beyond what the producing query needs);
  * the LWW read is one hash aggregation with map-side partial combine —
  * Spark's partial `max_by` keeps only one row per key per input
  * partition before the shuffle, so shuffle volume is bounded by
  * |distinct keys touched per partition|, not by table size. Key-range
  * scans push a parquet min/max filter on the key column before the
  * aggregation. Compaction (`compact`) rewrites the log to a single
  * current version per key, which also restores pushdown-friendly
  * parquet statistics after many small appends.
  *
  * The reference's behavior being modeled, per test evidence: 13 input
  * lines with 5 distinct keys produce a 5-row table
  * (`MultiFamilyHBaseTest.java:71`); APPEND re-run accumulates 13 -> 26
  * (`MultiFamilyCascadeHBaseTest.java:94-104`).
  */
object KvTable {
  val VersionCol = "__version"
  val SeqCol = "__seq"
  val TombstoneCol = "__tombstone"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(KvHadoopConf(spark))

  private def dataDir(path: String) = s"$path/data"
  private def schemaFile(path: String) = s"$path/_kvschema.json"

  /** `admin.tableExists` analog (`HBaseTap.java:95-101`). */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new HPath(schemaFile(path)))

  /** disable+delete analog (`HBaseTap.java:44-59`). */
  def drop(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new HPath(path), true)

  def readSchema(spark: SparkSession, path: String): KvSchema = {
    val f = fs(spark, path)
    val in = f.open(new HPath(schemaFile(path)))
    try KvSchema.fromJson(new String(in.readAllBytes(), "UTF-8"))
    finally in.close()
  }

  private def writeString(spark: SparkSession, file: String, s: String): Unit = {
    val out = fs(spark, file).create(new HPath(file), true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  // one parser/writer for the meta format — lives in KvV2Util so the
  // connector's driver-side commit shares it
  private def readMeta(spark: SparkSession, path: String): (Long, Int) =
    graft.connector.KvV2Util.readMeta(path,
      KvHadoopConf(spark))

  private[kv] def readMetaVersion(spark: SparkSession, path: String): Long =
    readMeta(spark, path)._1

  /** Bucket count of a bucket-compacted table (0 = unbucketed). */
  def numBuckets(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._2

  val BucketCol = "__bucket"

  private def writeMeta(spark: SparkSession, path: String, version: Long,
                        buckets: Int): Unit =
    graft.connector.KvV2Util.writeMeta(path,
      KvHadoopConf(spark), version, buckets)

  /** Write `df` (whose columns must include the schema's key + value
    * fields) into the table at `path`.
    *
    * @param versionFrom optional column providing the LWW version (e.g. an
    *   event-time); default is a driver-allocated, monotonically increasing
    *   batch number — each write is one "flush", newest flush wins, the
    *   engine analog of HBase's cell timestamp.
    */
  def write(df: DataFrame, path: String, schema: KvSchema,
            mode: SinkMode = SinkMode.Append,
            versionFrom: Option[Column] = None): Unit = {
    val spark = df.sparkSession
    // The lock spans version ALLOCATION through meta/manifest publish:
    // two concurrent appends can no longer both compute prevVer + 1
    // (which would collapse their LWW ordering to arbitrary seq ties).
    TableLock.withLock(path, KvHadoopConf(spark)) {
      writeLocked(df, path, schema, mode, versionFrom)
    }
  }

  /** [[write]]'s body without the lock, for compound mutations that hold
    * the lock across a read-check-write span ([[checkAndPut]]). */
  private def writeLocked(df: DataFrame, path: String, schema: KvSchema,
                          mode: SinkMode,
                          versionFrom: Option[Column]): Unit = {
    val spark = df.sparkSession
    mode match {
      case SinkMode.Keep if exists(spark, path) =>
        throw new IllegalStateException(s"KvTable $path exists and mode is Keep")
      case SinkMode.Replace => drop(spark, path) // driver-only truncate
      case _ => ()
    }
    if (exists(spark, path)) {
      val existing = readSchema(spark, path)
      require(existing == schema,
        s"KvTable $path schema mismatch: $existing vs $schema")
    }
    val batch = readMetaVersion(spark, path) + 1
    val version = versionFrom.getOrElse(lit(batch)).cast("long")
    // Compute the version BEFORE projecting to the schema columns — it may
    // reference input columns (e.g. an event-time) that the schema drops.
    val cols = schema.fieldNames.map(col)
    val out = df
      .withColumn(VersionCol, version)
      .select(cols :+ col(VersionCol): _*)
      // Intra-batch tiebreak: later rows win within one write, the HBase
      // "last Put in the buffer wins" behavior. Partition-local ids are
      // monotone in row order per partition; cross-partition ties are as
      // undefined as they are in HBase.
      .withColumn(SeqCol, monotonically_increasing_id())
      .withColumn(TombstoneCol, lit(false))
    appendRaw(out, path, schema, batch)
  }

  /** Conditional mutation — HBase `checkAndPut` as a batch CAS. Each
    * update row (key + all value fields) is applied iff the table's
    * CURRENT live value of `checkField` for that key is null-safe-equal
    * to the row's `expected` expression: `lit(null)` expected means
    * "apply only while the key is absent (or its check cell is null)" —
    * HBase's if-absent form; otherwise the put lands only when the
    * stored cell still holds the expected value (optimistic concurrency
    * on a version/balance column).
    *
    * Atomic as a BATCH, stronger than HBase's per-row CAS: the check
    * snapshot is planned and the survivors are materialized inside the
    * table's single-writer lock, so no other writer can interleave
    * between check and put. Scale shape: one shuffle joining the
    * updates against the LWW view (AQE broadcasts small update
    * batches); survivors are localCheckpoint-materialized so the check
    * evaluates exactly once, before any append becomes visible.
    *
    * @return number of updates applied (rows failing their check are
    *         dropped silently, like the boolean-false HBase return)
    *
    * The update batch should be KEY-UNIQUE: duplicate keys that both
    * pass their check land at one version and fall to intra-batch seq
    * ties (cross-partition order undefined) — the same contract as
    * [[bulkLoad]], and the batch analog of two HBase checkAndPuts
    * racing on one row.
    */
  def checkAndPut(updates: DataFrame, path: String, schema: KvSchema,
                  checkField: String, expected: Column,
                  versionFrom: Option[Column] = None): Long = {
    val spark = updates.sparkSession
    require(schema.fieldNames.contains(checkField),
      s"checkField $checkField is not a field of $schema")
    TableLock.withLock(path, KvHadoopConf(spark)) {
      require(exists(spark, path), s"KvTable $path does not exist")
      val k = schema.keyField
      val cur = read(spark, path)
        .select(col(k), col(checkField).as("__kv_cur"))
      val survivors = updates
        .withColumn("__kv_expected", expected)
        .join(cur, Seq(k), "left")
        .filter(col("__kv_cur") <=> col("__kv_expected"))
        .drop("__kv_cur", "__kv_expected")
        .localCheckpoint() // evaluate the check BEFORE the append lands
      val applied = survivors.count()
      if (applied > 0) writeLocked(survivors, path, schema,
        SinkMode.Append, versionFrom)
      applied
    }
  }

  /** HBase bulk load (`completebulkload`): create a bucket-compacted
    * table DIRECTLY from a DataFrame in ONE job — no log replay, no
    * after-the-fact compaction. The bucketed layout is declared in the
    * table meta first, so the V2 writer's
    * `RequiresDistributionAndOrdering` plans the single clustered
    * shuffle into `buckets` key-ranges (regions), key-sorts each, and
    * writes one sorted file per bucket with task-side stats and rowkey
    * blooms shipped into the manifest. This is how 100 TB lands in a
    * KV store: sort once into region-aligned store files and adopt
    * them, never pushing the firehose through the write path.
    *
    * The input should be key-unique (or carry a `versionFrom` domain to
    * disambiguate) — bulk-loaded cells share one version, so duplicate
    * keys fall to intra-batch seq ties, exactly like duplicate rowkeys
    * inside one HBase bulk-load HFile set. Not crash-atomic: a failure
    * can leave a partial table — re-run with `SinkMode.Replace`
    * (HBase's bulk load shares the retry-the-load recovery model).
    */
  def bulkLoad(df: DataFrame, path: String, schema: KvSchema, buckets: Int,
               mode: SinkMode = SinkMode.Keep,
               versionFrom: Option[Column] = None): Unit = {
    require(buckets > 0, s"bulkLoad needs a positive bucket count, got $buckets")
    val spark = df.sparkSession
    mode match {
      case SinkMode.Replace => drop(spark, path)
      case _ => require(!exists(spark, path),
        s"KvTable $path exists: bulkLoad creates tables (use SinkMode.Replace)")
    }
    // Declare the layout BEFORE the write: the V2 writer reads the
    // bucket count from meta to plan its clustered+sorted distribution.
    writeString(spark, schemaFile(path), schema.toJson)
    writeMeta(spark, path, 0L, buckets)
    writeV2(df, path, schema, SinkMode.Append, versionFrom)
  }

  /** Delete by key: append tombstone markers (`Delete` mutations,
    * `TableOutputFormatWrap.java:79-84`); rows disappear from the LWW
    * read view. `keys` must contain the key column.
    *
    * Version domains must be consistent, exactly like HBase cell
    * timestamps: if the table is written with a custom `versionFrom`
    * (e.g. event time), pass a `version` in the same domain that is
    * newer than the cells to delete — the default batch counter only
    * dominates batch-counter-versioned writes.
    */
  def delete(keys: DataFrame, path: String, schema: KvSchema,
             version: Option[Long] = None): Unit = {
    val spark = keys.sparkSession
    TableLock.withLock(path, KvHadoopConf(spark)) {
    require(exists(spark, path), s"KvTable $path does not exist")
    val batch = version.getOrElse(readMetaVersion(spark, path) + 1)
    // Tombstone rows must carry the TABLE's value types: parquet reads
    // resolve the schema from an arbitrary file footer, so a marker file
    // with differently-typed null columns would poison the whole log.
    val dataSchema = readRaw(spark, path).schema
    var out = keys.select(col(schema.keyField))
    schema.valueFields.foreach { f =>
      out = out.withColumn(f.name, lit(null).cast(dataSchema(f.name).dataType))
    }
    out = out
      .withColumn(VersionCol, lit(batch))
      .withColumn(SeqCol, monotonically_increasing_id())
      .withColumn(TombstoneCol, lit(true))
    appendRaw(out, path, schema, batch)
    }
  }

  /** Reject null rowkeys ROW-LOCALLY at write time — HBase throws
    * `IllegalArgumentException` on null/empty row keys at `Put`
    * construction, and a null key here would poison the table instead
    * (the V2 read schema's non-nullable key makes every later scan
    * fail). The `assert_true` rides the write's filter so Catalyst
    * cannot prune it. */
  private def requireKeys(df: DataFrame, keyField: String): DataFrame =
    df.filter(assert_true(col(keyField).isNotNull,
      lit(s"kvtable: null rowkey in '$keyField' — HBase rejects " +
        "null/empty row keys; filter them out before writing")).isNull)

  private def appendRaw(df0: DataFrame, path: String, schema: KvSchema,
                        batch: Long): Unit = {
    val df = requireKeys(df0, schema.keyField)
    val spark = df.sparkSession
    val (prevVer, buckets) = readMeta(spark, path)
    if (buckets > 0)
      // bucketed layout: appends stay aligned with the compacted buckets
      df.withColumn(BucketCol, pmod(hash(col(schema.keyField)), lit(buckets)))
        .write.mode("append").partitionBy(BucketCol).parquet(dataDir(path))
    else
      df.write.mode("append").parquet(dataDir(path))
    writeString(spark, schemaFile(path), schema.toJson)
    // The meta counter must never regress: a caller-supplied delete
    // version BELOW the current counter would otherwise let a later
    // auto-versioned write reuse a version equal to existing live cells,
    // demoting LWW to arbitrary seq ties.
    writeMeta(spark, path, math.max(prevVer, batch), buckets)
    // back-fill the stats manifest for the files this write added (the
    // V2 write path extracts stats task-side instead; see KvStats)
    graft.connector.KvStats.refresh(path,
      KvHadoopConf(spark))
  }

  /** Restore a data dir stranded aside by a crash between [[swapData]]'s
    * two renames. Called only when the data dir is MISSING (zero
    * filesystem overhead on the normal path) — this is the documented
    * self-healing entry point, reachable from every read/compact, not
    * just the next compaction attempt. */
  private def restoreIfStranded(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val data = new HPath(dataDir(path))
    val old = new HPath(s"$path/.data-old")
    if (!f.exists(data) && f.exists(old)) {
      require(f.rename(old, data),
        s"KvTable $path: could not restore stranded $old")
      true
    } else false
  }

  /** Raw log scan (all versions + tombstones), for debugging/compaction.
    * Self-heals a crash-stranded `.data-old` generation before resolving
    * the data dir (the failure-path check costs nothing when the table
    * is healthy — it only runs after the read fails to resolve).
    *
    * A table whose every key was tombstoned and then COMPACTED has a
    * data dir with zero parquet files (nothing survives the collapse),
    * so schema inference fails — the stats manifest still remembers the
    * file layout, and an empty frame with that schema is the correct
    * read (found by the KvLifecycleProps random-op sequences). */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(dataDir(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        if (restoreIfStranded(spark, path)) spark.read.parquet(dataDir(path))
        else if (e.getCondition == "UNABLE_TO_INFER_SCHEMA" && exists(spark, path)) {
          val schema = graft.connector.KvV2Util.inferSchema(path,
            KvHadoopConf(spark))
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        } else throw e
    }

  /** The last-write-wins read view: one row per live key, newest
    * (version, seq) wins, tombstones filtered out. Value columns carry
    * (family, qualifier) metadata like the reference's fieldMap.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readRange(spark, path, None, None)

  /** Write through the V2 connector's BatchWrite path instead of the
    * parquet writer: per-task buffered files, driver-side commit, V2
    * truncate for REPLACE. Same log layout — readable by both read
    * paths. */
  def writeV2(df: DataFrame, path: String, schema: KvSchema,
              mode: SinkMode = SinkMode.Append,
              versionFrom: Option[Column] = None): Unit = {
    val spark = df.sparkSession
    mode match {
      case SinkMode.Keep if exists(spark, path) =>
        throw new IllegalStateException(s"KvTable $path exists and mode is Keep")
      case _ => ()
    }
    // Replace drops the old table, so only Append must match its schema
    // (same contract as the v1 write path).
    if (mode != SinkMode.Replace && exists(spark, path)) {
      val existing = readSchema(spark, path)
      require(existing == schema,
        s"KvTable $path schema mismatch: $existing vs $schema")
    }
    val batch = readMetaVersion(spark, path) + 1
    val version = versionFrom.getOrElse(lit(batch)).cast("long")
    val out = df
      .withColumn(VersionCol, version)
      .select(schema.fieldNames.map(col) :+ col(VersionCol): _*)
      .withColumn(SeqCol, monotonically_increasing_id())
      .withColumn(TombstoneCol, lit(false))
    rawV2Write(out, path, schema, mode)
  }

  /** Delete by key through the V2 connector: the same writer dispatches
    * Put-rows and Delete-tombstones (`TableOutputFormatWrap.java:79-84`'s
    * single-writer mutation dispatch). Version-domain contract matches
    * [[delete]]. */
  def deleteV2(keys: DataFrame, path: String, schema: KvSchema,
               version: Option[Long] = None): Unit = {
    val spark = keys.sparkSession
    require(exists(spark, path), s"KvTable $path does not exist")
    val batch = version.getOrElse(readMetaVersion(spark, path) + 1)
    val dataSchema = readRaw(spark, path).schema
    var out = keys.select(col(schema.keyField))
    schema.valueFields.foreach { f =>
      out = out.withColumn(f.name, lit(null).cast(dataSchema(f.name).dataType))
    }
    out = out
      .withColumn(VersionCol, lit(batch))
      .withColumn(SeqCol, monotonically_increasing_id())
      .withColumn(TombstoneCol, lit(true))
    rawV2Write(out, path, schema, SinkMode.Append)
  }

  /** Shared V2 sink tail: bucket-compacted tables get the `__bucket`
    * routing column (same murmur3 bucketing as the v1 path — the writer
    * turns it into `__bucket=N/` directories), then the connector's
    * BatchWrite stages, publishes and commits.
    *
    * Bucketed appends REPARTITION by `__bucket` first (mirroring
    * `compactBucketed`): each task then writes few buckets instead of
    * holding one open ParquetWriter — a full row-group buffer each —
    * per bucket it happens to see, which for a large bucket count would
    * multiply task memory by the bucket fan-out. */
  private def rawV2Write(out1: DataFrame, path: String, schema: KvSchema,
                         mode: SinkMode): Unit = {
    val out0 = requireKeys(out1, schema.keyField)
    // Bucket alignment needs no explicit repartition here: the V2 Write
    // declares its distribution (RequiresDistributionAndOrdering —
    // clustered by rowkey into exactly `buckets` partitions, key-sorted),
    // so Spark plans the single aligned shuffle and each task writes one
    // bucket directory via KeyBucketer. Declaring it once in the
    // connector covers every append path (this one, SQL INSERT, delta
    // mutations, streaming epochs) instead of only this API call.
    out0.write.format("kvtable")
      .option("kvschema", schema.toJson)
      .mode(if (mode == SinkMode.Replace) "overwrite" else "append")
      .save(path)
  }

  /** LWW view over the custom V2 connector (`format("kvtable")`,
    * graft.connector) instead of the built-in parquet source: same
    * result, but split planning, manifest-stats pruning and locality go
    * through the engine's own region-scan analog.
    *
    * On a bucket-compacted table the collapse groups by (`__bucket`,
    * key): the bucket is a pure function of the key so the result is
    * identical, but the scan's reported per-bucket KeyGroupedPartitioning
    * then satisfies the aggregation's distribution and the plan runs
    * with NO shuffle (with `spark.sql.sources.v2.bucketing.enabled`) —
    * the region-local scan of `TableInputFormatWrap.java:74-78`. */
  def readV2(spark: SparkSession, path: String): DataFrame = {
    val schema = readSchema(spark, path)
    lwwView(spark.read.format("kvtable").load(path), schema)
  }

  /** LWW collapse over an externally-obtained raw log DataFrame — e.g. a
    * catalog SQL read (`spark.table("graft_kv.ns.t")`, see
    * [[graft.connector.KvCatalog]]), which exposes the raw log because a
    * V2 scan cannot express the collapse aggregation. Bucketed reads
    * group by (`__bucket`, key) so the scan's KeyGroupedPartitioning
    * keeps the plan shuffle-free, same as [[readV2]]. */
  def lwwView(raw: DataFrame, schema: KvSchema): DataFrame =
    if (raw.columns.contains(BucketCol))
      collapse(raw, schema, groupExtra = Seq(col(BucketCol)))
    else collapse(raw, schema)

  private def collapse(raw: DataFrame, schema: KvSchema,
                       groupExtra: Seq[Column] = Nil,
                       keepExtra: Boolean = false): DataFrame = {
    val payload = struct(
      (col(TombstoneCol) +: schema.valueFields.map(f => col(f.name))): _*)
    val kept = if (keepExtra) groupExtra else Nil
    raw.groupBy(groupExtra :+ col(schema.keyField): _*)
      .agg(max_by(payload, struct(col(VersionCol), col(SeqCol))).as("__row"))
      .filter(!col("__row")(TombstoneCol))
      .select(kept ++ (col(schema.keyField) +:
        schema.valueFields.map(f => col("__row")(f.name).as(f.name, f.metadata))): _*)
  }

  /** Co-located (storage-partitioned) join of two BUCKET-COMPACTED
    * tables on their rowkeys — the bucketing payoff: both sides scan
    * region-locally (`KeyGroupedPartitioning(__bucket)`), each side's
    * LWW collapse runs partition-local, and the join matches bucket
    * partitions directly, so the WHOLE plan — two scans, two
    * collapses, one join — has ZERO Exchange (spec-asserted). The
    * bucket equality in the join condition is semantically redundant
    * (bucket is a pure function of the key and both tables must share
    * a bucket count — enforced) but is what lets Spark prove
    * co-partitioning. Requires
    * `spark.sql.sources.v2.bucketing.enabled=true` and
    * `spark.sql.requireAllClusterKeysForCoPartition=false` (partition
    * keys are a subset of the join keys); without them the same query
    * is correct with ordinary shuffles.
    *
    * At 100 TB this is the difference between a fact-to-fact join
    * shuffling both tables and one that moves nothing: pre-bucket both
    * tables once (`compactBucketed`, same n), join for free forever —
    * the HBase analog of aligned region ranges.
    */
  def joinBucketed(spark: SparkSession, pathA: String, pathB: String,
                   joinType: String = "inner"): DataFrame = {
    val (sa, sb) = (readSchema(spark, pathA), readSchema(spark, pathB))
    val (na, nb) = (numBuckets(spark, pathA), numBuckets(spark, pathB))
    require(na > 0 && na == nb,
      s"joinBucketed needs both tables bucket-compacted with the same " +
        s"bucket count (got $na and $nb) — run compactBucketed(n) on both")
    val overlap = (sb.valueFields.map(_.name).toSet + sb.keyField)
      .intersect(sa.valueFields.map(_.name).toSet + sa.keyField)
    // a shared KEY name is fine (both sides rename it); any other
    // shared column would make the joined output ambiguous
    val allowed: Set[String] =
      if (sa.keyField == sb.keyField) Set(sa.keyField) else Set.empty
    require((overlap -- allowed).isEmpty,
      s"column collision between the two tables: " +
        s"${(overlap -- allowed).mkString(", ")}")
    def side(path: String, s: KvSchema, suffix: String) =
      collapse(spark.read.format("kvtable").load(path), s,
        groupExtra = Seq(col(BucketCol)), keepExtra = true)
        .withColumnRenamed(BucketCol, s"${BucketCol}$suffix")
        .withColumnRenamed(s.keyField, s"${s.keyField}$suffix")
    val a = side(pathA, sa, "__a")
    val b = side(pathB, sb, "__b")
    a.join(b,
        col(s"${sa.keyField}__a") === col(s"${sb.keyField}__b") &&
          col(s"${BucketCol}__a") === col(s"${BucketCol}__b"),
        joinType)
      .withColumn(sa.keyField,
        coalesce(col(s"${sa.keyField}__a"), col(s"${sb.keyField}__b")))
      .drop(s"${sa.keyField}__a", s"${sb.keyField}__b",
        s"${BucketCol}__a", s"${BucketCol}__b")
      .select(col(sa.keyField) +:
        (sa.valueFields.map(f => col(f.name)) ++
          sb.valueFields.map(f => col(f.name))): _*)
  }

  /** Rowkey-range scan (`Scan(startRow, stopRow)` analog,
    * `HBaseScheme.java:61-71`): closed-open `[lower, upper)` — fixing the
    * reference's two boundary bugs (SURVEY.md §2b). The predicate lands on
    * the raw parquet scan (min/max pruning) BEFORE the LWW aggregation.
    */
  def readRange(spark: SparkSession, path: String,
                lower: Option[Any], upper: Option[Any]): DataFrame = {
    val schema = readSchema(spark, path)
    val key = schema.keyField
    var raw = readRaw(spark, path)
    lower.foreach(l => raw = raw.filter(col(key) >= lit(l)))
    upper.foreach(u => raw = raw.filter(col(key) < lit(u)))
    collapse(raw, schema)
  }

  /** Multi-version read: the newest `n` live versions per key, newest
    * first (`version_rank` = 1 is the LWW row). Goes beyond the
    * reference, which never surfaces versions (`row.getValue` returns
    * only the newest cell, `HBaseScheme.java:101`), but matches HBase's
    * own VERSIONS>1 scans: versions older than a key's newest tombstone
    * stay hidden.
    */
  def readVersions(spark: SparkSession, path: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val schema = readSchema(spark, path)
    val key = schema.keyField
    val ord = struct(col(VersionCol), col(SeqCol))
    val wAll = Window.partitionBy(col(key))
    val wRank = Window.partitionBy(col(key))
      .orderBy(col(VersionCol).desc, col(SeqCol).desc)
    readRaw(spark, path)
      .withColumn("__latest_tomb",
        max(when(col(TombstoneCol), ord)).over(wAll))
      .filter(!col(TombstoneCol) &&
        (col("__latest_tomb").isNull || ord > col("__latest_tomb")))
      .withColumn("version_rank", row_number().over(wRank))
      .filter(col("version_rank") <= n)
      .select((col(key) +: schema.valueFields.map(f => col(f.name).as(f.name, f.metadata))) :+
        col(VersionCol).as("version") :+ col("version_rank"): _*)
  }

  /** Time-travel read: the LWW view AS OF `version` — only cells with
    * `__version <= version` participate, so the result is exactly what
    * [[read]] returned when the table's counter stood at `version`.
    * Free on a log-structured table (HBase's `Scan.setTimeRange` upper
    * bound, and the VERSION AS OF snapshot read of Delta/Iceberg): the
    * version predicate lands on the parquet scan and prunes whole
    * append batches via file min/max stats BEFORE the collapse. Note
    * compaction rewrites history into the single current version —
    * as-of reads see through appends, not across compactions (same as
    * HBase: a major compaction discards shadowed cells).
    */
  def readAsOf(spark: SparkSession, path: String, version: Long): DataFrame = {
    val schema = readSchema(spark, path)
    collapse(readRaw(spark, path).filter(col(VersionCol) <= version), schema)
  }

  /** Largest `__version` present in the log (0 for an empty table) —
    * from the stats manifest, footer fallback for unmanifested files;
    * no data IO. This is the right CHECKPOINT for incremental
    * consumers ([[readChanges]], [[graft.kv.KvIndex]].refresh): unlike
    * the meta BATCH counter it lives in the same domain as the rows'
    * versions, so it stays correct for tables written with a custom
    * `versionFrom` (event time). */
  def maxVersion(spark: SparkSession, path: String): Long = {
    import graft.connector.{KvStats, KvV2Util}
    val conf = KvHadoopConf(spark)
    val byRel = KvStats.read(path, conf)
      .map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
    val groups = KvV2Util.dataFiles(path, conf).flatMap { f =>
      val rel = KvStats.relativize(path, f.getPath, conf)
      byRel.get(rel).filter(_.len == f.getLen)
        .getOrElse(KvStats.fromFooter(f.getPath, rel, f.getLen, conf))
        .groups
    }
    val vs = groups.filter(_.rows > 0)
      .flatMap(_.stats.get(VersionCol)).filter(_.t == "l").map(_.mx.toLong)
    if (vs.isEmpty) 0L else vs.max
  }

  /** Incremental change feed (CDC): every mutation with
    * `afterVersion < __version <= toVersion`, in version order — puts
    * with their values, deletes flagged `is_delete` — NOT collapsed:
    * this is the raw mutation stream a downstream consumer replays
    * (the batch dual of the streaming source's offset-tracked read;
    * HBase's WAL-replication surface). A consumer checkpoints the last
    * version it processed and passes it back as `afterVersion`; the
    * version predicate prunes un-changed append batches at the parquet
    * scan via file min/max stats, so an incremental poll costs O(new
    * data), not O(table). Caveat shared with [[readAsOf]]: compaction
    * rewrites history — poll the feed past a version BEFORE compacting
    * across it.
    */
  def readChanges(spark: SparkSession, path: String, afterVersion: Long,
                  toVersion: Long = Long.MaxValue): DataFrame = {
    val schema = readSchema(spark, path)
    readRaw(spark, path)
      .filter(col(VersionCol) > afterVersion && col(VersionCol) <= toVersion)
      .orderBy(col(VersionCol), col(SeqCol))
      .select((col(schema.keyField) +:
        schema.valueFields.map(f => col(f.name).as(f.name, f.metadata))) :+
        col(VersionCol).as("version") :+
        col(TombstoneCol).as("is_delete"): _*)
  }

  /** WAL-apply: append pre-versioned raw mutations — the receiving half
    * of [[graft.kv.KvReplica]] replication. `raw` must carry the
    * schema's key/value columns plus `__version`/`__seq`/`__tombstone`
    * exactly as [[readRaw]] yields them; the triples are preserved so
    * the replica's LWW collapse ties-and-deletes resolve identically to
    * the source's. `counterTo` advances the replica's version counter
    * to the source's (never regressing it), keeping any later DIRECT
    * auto-versioned write to the replica newer than replicated cells.
    */
  private[kv] def applyMutations(raw: DataFrame, path: String,
                                 schema: KvSchema, counterTo: Long): Unit = {
    val spark = raw.sparkSession
    TableLock.withLock(path, KvHadoopConf(spark)) {
      if (exists(spark, path)) {
        val existing = readSchema(spark, path)
        require(existing == schema,
          s"KvTable $path schema mismatch: $existing vs $schema")
      }
      val cols = schema.fieldNames.map(col) :+
        col(VersionCol) :+ col(SeqCol) :+ col(TombstoneCol)
      appendRaw(raw.select(cols: _*), path, schema, counterTo)
    }
  }

  /** TTL read: the LWW view with every cell whose `__version` is below
    * `minVersion` expired — HBase's column-family TTL semantics, where
    * a cell past its TTL is invisible to scans even if it is the key's
    * newest (the row then disappears), and expired tombstones stop
    * masking nothing. The caller computes the cutoff in the table's own
    * version domain (event-time versions: `now - ttl`; batch-counter
    * versions: `counter - n`), the dual of [[readAsOf]]'s upper bound —
    * the predicate lands on the parquet scan and prunes whole append
    * batches via file min/max stats before the collapse.
    */
  def readTtl(spark: SparkSession, path: String, minVersion: Long): DataFrame = {
    val schema = readSchema(spark, path)
    collapse(readRaw(spark, path).filter(col(VersionCol) >= minVersion), schema)
  }

  /** Client-side direct read (`HBaseTap.openForRead` ->
    * `TupleEntryIterator`, `HBaseTap.java:107-113`): a driver-local
    * iterator over the LWW view in key order, streaming partitions one
    * at a time (no full collect). Used by the reference's tests to
    * verify sinks; same role here.
    */
  def openForRead(spark: SparkSession, path: String): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    read(spark, path).orderBy(col(readSchema(spark, path).keyField))
      .toLocalIterator().asScala
  }

  /** LWW collapse that KEEPS each surviving row's original `__version`.
    * Compaction must not renumber versions: a table written with
    * `versionFrom` (event-time versions) would otherwise have any
    * post-compaction append — even one carrying an OLDER event time —
    * win against the reset version and silently invert LWW ordering.
    */
  private def collapseKeepVersion(raw: DataFrame, schema: KvSchema): DataFrame = {
    val payload = struct(
      (col(TombstoneCol) +: col(VersionCol) +:
        schema.valueFields.map(f => col(f.name))): _*)
    raw.groupBy(col(schema.keyField))
      .agg(max_by(payload, struct(col(VersionCol), col(SeqCol))).as("__row"))
      .filter(!col("__row")(TombstoneCol))
      .select((col(schema.keyField) +:
        schema.valueFields.map(f => col("__row")(f.name).as(f.name, f.metadata))) :+
        col("__row")(VersionCol).as(VersionCol): _*)
  }

  /** Rewrite the log so each key holds exactly its current version (the
    * HBase major-compaction analog). Restores tight parquet min/max stats
    * and bounds read amplification after many appends. Original
    * `__version` values and the meta version counter are preserved so
    * LWW ordering survives compaction in every version domain.
    */
  def compact(spark: SparkSession, path: String,
              expireBelow: Option[Long] = None): Unit =
    TableLock.withLock(path, KvHadoopConf(spark)) {
    recoverMinor(spark, path) // BEFORE the read plan lists files
    val schema = readSchema(spark, path)
    val lastVer = readMetaVersion(spark, path)
    val current = collapseKeepVersion(expireRaw(spark, path, expireBelow), schema)
      .withColumn(SeqCol, lit(0L))
      .withColumn(TombstoneCol, lit(false))
      // key-sorted store files (HBase major compaction emits sorted
      // HFiles): tight row-group key stats + the scan can report
      // per-partition rowkey ordering (SupportsReportOrdering)
      .sortWithinPartitions(col(schema.keyField))
    swapData(spark, path, current, buckets = 0, lastVersion = lastVer,
      keySorted = true)
    }

  /** Raw log, optionally with TTL-expired cells dropped — the physical
    * half of HBase's TTL: a major compaction discards expired cells, so
    * after `compact(path, expireBelow = Some(v))` the files hold exactly
    * what [[readTtl]] showed at cutoff `v`. */
  private def expireRaw(spark: SparkSession, path: String,
                        expireBelow: Option[Long]): DataFrame = {
    val raw = readRaw(spark, path)
    expireBelow.fold(raw)(v => raw.filter(col(VersionCol) >= v))
  }

  /** MINOR compaction: merge each region's SMALL files into one, without
    * rewriting the table — the maintenance op that actually runs at
    * scale. [[compact]]/[[compactBucketed]] rewrite the whole log
    * (O(table) IO per run — HBase's MAJOR compaction, correct but a
    * scheduled rarity at 100 TB); an append-heavy table instead
    * accumulates many small files (micro-batches, per-task appends)
    * whose per-file overhead dominates scans. This op concatenates,
    * per bucket directory (per region), every data file smaller than
    * `smallFileBytes` into one merged file and deletes the originals —
    * large files are never read or touched, so the cost is
    * O(small-file bytes), independent of table size.
    *
    * Physically LOSSLESS, deliberately: rows keep their exact
    * (`__version`, `__seq`, tombstone) — unlike major compaction it
    * preserves version history, so [[readAsOf]]/[[readVersions]] are
    * unaffected (HBase's minor compaction likewise keeps delete
    * markers; only a major discards history).
    *
    * Crash safety: each group commit is journaled (`_minorlog.json`:
    * target file + originals) before the publish rename. A crash
    * between publish and the deletes can leave BOTH the merged file
    * and some originals visible — harmless to the LWW view (identical
    * (key, version, seq) rows collapse) but visible to raw-log
    * consumers until the journal is replayed, which happens at the
    * START of the next compactMinor (or any compaction). Single-writer
    * per table, like every mutation (TableLock).
    *
    * @return number of file groups merged
    */
  def compactMinor(spark: SparkSession, path: String,
                   smallFileBytes: Long = 32L * 1024 * 1024,
                   minFiles: Int = 2): Int =
    TableLock.withLock(path, KvHadoopConf(spark)) {
      val conf = KvHadoopConf(spark)
      val f = fs(spark, path)
      recoverMinor(spark, path)
      // merge with the FILE schema: readRaw's schema includes the
      // __bucket PARTITION column (a directory coordinate), which must
      // not become a physical all-null column in merged files — its
      // "all null" footer stats would poison bucket-predicate pruning
      // and a manifest rebuild would then double-add the column.
      // Lazy: an empty table (no data dir) must no-op before any read.
      lazy val dataSchema = org.apache.spark.sql.types.StructType(
        readRaw(spark, path).schema.fields.filterNot(_.name == BucketCol))
      val root = new HPath(dataDir(path))
      val groups: Seq[HPath] =
        if (!f.exists(root)) Seq.empty // created-but-never-written table
        else {
          val entries = f.listStatus(root)
          val bucketDirs = entries.filter(e => e.isDirectory &&
            e.getPath.getName.startsWith(s"$BucketCol="))
          if (bucketDirs.nonEmpty) bucketDirs.map(_.getPath).toSeq
          else Seq(root)
        }
      var merged = 0
      groups.foreach { g =>
        val smalls = f.listStatus(g).filter { e =>
          val n = e.getPath.getName
          e.isFile && n.endsWith(".parquet") && !n.startsWith(".") &&
            !n.startsWith("_") && e.getLen < smallFileBytes
        }
        if (smalls.length >= minFiles) {
          val tmp = s"$path/.minor-tmp"
          f.delete(new HPath(tmp), true)
          spark.read.schema(dataSchema)
            .parquet(smalls.map(_.getPath.toString).toIndexedSeq: _*)
            .coalesce(1)
            .write.parquet(tmp)
          val produced = f.listStatus(new HPath(tmp))
            .filter(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
          require(produced.length == 1,
            s"minor compaction expected one merged file, got ${produced.length}")
          val target = new HPath(g,
            s"minor-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
          // journal BEFORE publishing: lists what to delete once the
          // target exists, replayed by recoverMinor after a crash
          writeString(spark, minorLog(path), minorLogJson(
            relToData(path, target), smalls.map(e => relToData(path, e.getPath))))
          require(f.rename(produced.head.getPath, target),
            s"KvTable $path: minor compaction could not publish $target")
          smalls.foreach(e => f.delete(e.getPath, false))
          f.delete(new HPath(tmp), true)
          // manifest: drop merged-away entries, add the new file's stat
          // (ONE footer read) — O(group) not O(table)
          import graft.connector.KvStats
          KvStats.read(path, conf).foreach { m =>
            // manifest paths are TABLE-root-relative ("data/...") — use
            // the same relativize the writers use, not the journal's
            // data-dir-relative rendering
            val dropped = smalls
              .map(e => KvStats.relativize(path, e.getPath, conf)).toSet
            val tgtLen = f.getFileStatus(target).getLen
            val kept = m.files.filterNot(fs0 => dropped.contains(fs0.path))
            val added = KvStats.fromFooter(target,
              KvStats.relativize(path, target, conf), tgtLen, conf)
            KvStats.clear(path, conf)
            KvStats.write(path, KvStats.Manifest(m.schema, kept :+ added), conf)
          }
          f.delete(new HPath(minorLog(path)), false)
          merged += 1
        }
      }
      merged
    }

  private def minorLog(path: String) = s"$path/_minorlog.json"
  private def relToData(path: String, file: HPath): String = {
    val base = new HPath(dataDir(path)).toUri.getPath
    val p = file.toUri.getPath
    require(p.startsWith(base), s"$p outside $base")
    p.drop(base.length + 1)
  }
  private def minorLogJson(target: String, olds: Seq[String]): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"target":"${esc(target)}","olds":[${olds.map(o => s""""${esc(o)}"""").mkString(",")}]}"""
  }

  /** Replay a crashed minor compaction's journal: if the merged target
    * was published, finish the originals' deletes; if not, discard the
    * temp output. Either way the table returns to a clean state and the
    * journal is removed. */
  private[kv] def recoverMinor(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val log = new HPath(minorLog(path))
    if (!f.exists(log)) return
    val json = {
      val in = f.open(log)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    val target = new HPath(s"${dataDir(path)}/${node.get("target").asText}")
    if (f.exists(target)) {
      val it = node.get("olds").elements()
      while (it.hasNext)
        f.delete(new HPath(s"${dataDir(path)}/${it.next().asText}"), false)
      // entries for deleted files may linger in the manifest; rebuild
      graft.connector.KvStats.clear(path, KvHadoopConf(spark))
      graft.connector.KvStats.refresh(path, KvHadoopConf(spark))
    }
    f.delete(new HPath(s"$path/.minor-tmp"), true)
    f.delete(log, false)
  }

  /** Major compaction INTO a hash-bucketed layout: the log is rewritten
    * as `__bucket=<pmod(hash(key), n)>/...` partition directories, one
    * current version per key, and every later append follows the same
    * bucketing. Point lookups (`get`) and any key-equality scan then
    * touch exactly one bucket directory via ordinary partition pruning —
    * the HBase region-addressing analog for read-mostly tables.
    */
  def compactBucketed(spark: SparkSession, path: String, buckets: Int,
                      expireBelow: Option[Long] = None): Unit =
    TableLock.withLock(path, KvHadoopConf(spark)) {
    require(buckets > 0, "buckets must be positive")
    recoverMinor(spark, path) // BEFORE the read plan lists files
    val schema = readSchema(spark, path)
    val lastVer = readMetaVersion(spark, path)
    val current = collapseKeepVersion(expireRaw(spark, path, expireBelow), schema)
      .withColumn(SeqCol, lit(0L))
      .withColumn(TombstoneCol, lit(false))
      .withColumn(BucketCol, pmod(hash(col(schema.keyField)), lit(buckets)))
      .repartition(buckets, col(BucketCol))
      // key-sorted regions: tight, non-overlapping row-group key
      // min/max inside each bucket file, so range scans and gets prune
      // at ROW-GROUP granularity, not just to the bucket — and the
      // sorted layout matches what the V2 write distribution produces
      // for later appends (HBase stores are key-sorted for the same
      // reason)
      .sortWithinPartitions(col(schema.keyField))
    swapData(spark, path, current, buckets, lastVersion = lastVer,
      keySorted = true)
    }

  /** Major compaction CLUSTERED along a Z-curve over `clusterCols` —
    * multi-dimensional data clustering (the technique behind Delta/
    * Iceberg `OPTIMIZE ZORDER BY`): each clustered column is quantized
    * to its quantile rank (boundaries from one distributed
    * `approxQuantile` sketch — no global sort, no driver data), the
    * ranks are bit-interleaved into a Morton cell id
    * ([[graft.functions.ZValueExpr]], codegen'd), and the rewritten log
    * is range-partitioned + sorted by that id. Rows near each other on
    * the Z-curve are near each other in EVERY clustered dimension, so
    * file/row-group min/max stats become tight for all of them at once
    * and the existing stats pruning ([[graft.connector.KvStats]]) serves
    * selective predicates on ANY clustered column — where a key-sorted
    * layout only prunes on the rowkey. The layout choice is the scan
    * dual of [[compactBucketed]] (which optimizes point gets and
    * co-located joins); pick per table by read pattern.
    *
    * `clusterCols` must be numeric/date/timestamp (quantile-rankable);
    * quantile quantization makes the cells skew-proof — each cell holds
    * ~1/`cells` of the rows regardless of value distribution. NULLs
    * rank below every boundary (cell 0). `cells` bounds the per-column
    * boundary list (driver-held, `cells-1` doubles per column) and the
    * rank resolution; 256 gives 8 bits/column — ample, since pruning
    * granularity is the row group, not the cell.
    *
    * Layouts are exclusive: z-ordering a bucket-compacted table DROPS
    * its bucket layout (meta buckets reset to 0) — point gets fall back
    * to stats/bloom pruning and later appends land unrouted, exactly as
    * on any flat table. Re-run [[compactBucketed]] to switch back.
    */
  def compactZOrder(spark: SparkSession, path: String,
                    clusterCols: Seq[String], cells: Int = 256,
                    files: Int = 0,
                    expireBelow: Option[Long] = None): Unit =
    TableLock.withLock(path, KvHadoopConf(spark)) {
    require(clusterCols.nonEmpty && clusterCols.size <= 8,
      "clusterCols must name 1-8 columns")
    require(cells >= 2 && cells <= 65536, "cells must be in [2, 65536]")
    // every interleaved bit must fit the 64-bit z-value — widths beyond
    // it would silently shift the COARSEST (most significant) rank bits
    // off the top and destroy the clustering
    val widthPerCol = 32 - Integer.numberOfLeadingZeros(cells - 1)
    require(clusterCols.size * widthPerCol <= 63,
      s"${clusterCols.size} columns x $widthPerCol rank bits " +
        s"(cells=$cells) exceed the 64-bit z-value; lower cells or columns")
    recoverMinor(spark, path) // BEFORE the read plan lists files
    val schema = readSchema(spark, path)
    clusterCols.foreach(c => require(schema.fieldNames.contains(c),
      s"$c is not a column of $path"))
    val lastVer = readMetaVersion(spark, path)
    val current = collapseKeepVersion(expireRaw(spark, path, expireBelow), schema)
      .withColumn(SeqCol, lit(0L))
      .withColumn(TombstoneCol, lit(false))
    val asDouble = clusterCols.map { c =>
      val dt = current.schema(c).dataType
      import org.apache.spark.sql.types._
      dt match {
        // DATE has no direct double cast: rank on days-since-epoch
        case DateType => unix_date(col(c)).cast("double")
        case _: NumericType | TimestampType => col(c).cast("double")
        case other => throw new IllegalArgumentException(
          s"compactZOrder: $c has non-rankable type $other " +
            "(numeric/date/timestamp only)")
      }
    }
    // one distributed pass: quantile boundaries for every column. An
    // empty table (or all-null cluster columns) yields empty boundary
    // lists -> constant z-value -> a correct single-cell rewrite; no
    // extra emptiness scan needed.
    val probe = current.select(asDouble.zipWithIndex
      .map { case (c, i) => c.as(s"__zq$i") }: _*)
    val probs = (1 until cells).map(_.toDouble / cells).toArray
    val bounds = probe.stat.approxQuantile(
      clusterCols.indices.map(i => s"__zq$i").toArray, probs,
      1.0 / (4 * cells))
    val boundsLit = array(bounds.map(bs =>
      array(bs.distinct.sorted.map(lit(_)): _*)): _*)
    graft.functions.Native.register(spark)
    val zv = graft.functions.Native.zValue(
      array(asDouble.map(c =>
        coalesce(c, lit(Double.NegativeInfinity))): _*), boundsLit)
    val nOut = if (files > 0) files
               else spark.sessionState.conf.numShufflePartitions
    val clustered = current.withColumn(ZvCol, zv)
      .repartitionByRange(nOut, col(ZvCol))
      .sortWithinPartitions(col(ZvCol))
      .drop(ZvCol)
    swapData(spark, path, clustered, buckets = 0, lastVersion = lastVer)
    }

  private val ZvCol = "__zv"

  /** Swap the rewritten log in with the old generation renamed ASIDE
    * (never deleted first): every rename/delete result is CHECKED — a
    * false return aborts (and the second rename rolls the old generation
    * back into place), so a failure can not leave meta describing a
    * layout the files don't have. A crash exactly between the two
    * renames leaves the old generation intact under `.data-old`
    * (restored by the next compaction attempt's entry check); at no
    * point is the only copy of the data deleted.
    */
  private[kv] def swapData(spark: SparkSession, path: String, current: DataFrame,
                       buckets: Int, lastVersion: Long,
                       keySorted: Boolean = false): Unit = {
    val tmp = s"$path/.compact-tmp"
    val old = s"$path/.data-old"
    val f = fs(spark, path)
    // recover from a crash that stranded the data dir aside
    restoreIfStranded(spark, path)
    val w = current.write.mode("overwrite")
    (if (buckets > 0) w.partitionBy(BucketCol) else w).parquet(tmp)
    // A dynamic-partitioned write of an EMPTY collapse (every key
    // tombstoned) emits NO files at all — unreadable. Rewrite the
    // generation unpartitioned (one empty schema-bearing file) and
    // drop the bucket layout: an empty table has no regions (found by
    // the KvLifecycleProps random-op sequences).
    val effBuckets = {
      def hasParquet: Boolean = {
        val it = f.listFiles(new HPath(tmp), true)
        var found = false
        while (!found && it.hasNext)
          found = it.next().getPath.getName.endsWith(".parquet")
        found
      }
      if (buckets > 0 && !hasParquet) {
        current.drop(BucketCol).write.mode("overwrite").parquet(tmp)
        0
      } else buckets
    }
    if (f.exists(new HPath(old)))
      require(f.delete(new HPath(old), true),
        s"KvTable $path: could not clean stale $old")
    if (!f.rename(new HPath(dataDir(path)), new HPath(old)))
      throw new java.io.IOException(
        s"KvTable $path: compaction could not move data aside")
    if (!f.rename(new HPath(tmp), new HPath(dataDir(path)))) {
      f.rename(new HPath(old), new HPath(dataDir(path))) // roll back
      throw new java.io.IOException(
        s"KvTable $path: compaction could not publish $tmp; old data restored")
    }
    writeMeta(spark, path, lastVersion, effBuckets)
    f.delete(new HPath(old), true)
    // compaction replaced every file: rebuild the stats manifest
    // (base + segments) from scratch
    graft.connector.KvStats.clear(path,
      KvHadoopConf(spark))
    graft.connector.KvStats.refresh(path,
      KvHadoopConf(spark), keySorted = keySorted)
  }

  /** Cells surviving HBase-Delete masking: drop tombstones and every
    * cell whose version is at-or-below its key's newest tombstone. The
    * shared prelude of the accumulating mutation kinds
    * ([[KvCounter]] sums it, [[KvAppend]] concatenates it) — one
    * implementation so the masking rule cannot diverge between them.
    * Plan shape: the tombstone side partial-aggregates to (distinct
    * deleted keys, max version) — tiny — before a left join the cell
    * side flows through once; a following per-key aggregate reuses the
    * join's hash partitioning (one shuffle of the log total). */
  private[kv] def survivingCells(raw: DataFrame, keyField: String): DataFrame = {
    val tomb = raw.filter(col(TombstoneCol))
      .groupBy(col(keyField)).agg(max(col(VersionCol)).as("__tmax"))
    raw.filter(!col(TombstoneCol))
      .join(tomb, Seq(keyField), "left")
      .filter(col("__tmax").isNull || col(VersionCol) > col("__tmax"))
      .drop("__tmax")
  }

  /** Point lookup (the HBase `Get`): the LWW row for one key, through
    * the V2 connector. The scan's bucket routing
    * (`KvV2Util.bucketSetFor`) turns the key-equality filter into a
    * single bucket directory on a bucket-compacted table (the HBase
    * region-addressing step); on an unbucketed table the key predicate
    * prunes row groups via the manifest min/max stats. IN-list
    * multi-gets go the same way: `readV2(...).filter(col(k).isin(...))`.
    */
  def get(spark: SparkSession, path: String, key: Any): DataFrame = {
    val schema = readSchema(spark, path)
    val raw = spark.read.format("kvtable").load(path)
    // Cast the lookup value to the STORED key type — a Scala Int probed
    // against a LongType key would Murmur3-hash to the wrong bucket.
    val keyType = raw.schema(schema.keyField).dataType
    collapse(raw.filter(col(schema.keyField) === lit(key).cast(keyType)),
      schema)
  }
}
