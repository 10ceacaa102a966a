package graft.kv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.KvHadoopConf

import KvTable.{SeqCol, TombstoneCol, VersionCol}

/** Distributed counters over a [[KvTable]] log — the engine analog of
  * HBase `Increment`, the third mutation kind next to the Put/Delete
  * dispatch the reference sink performs (`TableOutputFormatWrap.java:79-84`
  * handles Put and Delete; HBase's `Increment` is the RPC the same
  * ecosystem uses for counters).
  *
  * HBase implements `Increment` as a server-side read-modify-write on a
  * single cell. A log-structured distributed engine must NOT model it
  * that way — per-increment row lookups serialize on the hot key. Instead:
  *
  *  - [[increment]] appends commutative DELTA cells (no read);
  *  - [[read]] sums each key's surviving deltas — a partial-aggregated
  *    (map-side-combined) `sum`, so a hot key costs one combined row per
  *    task, the only counter shape that holds up at 100 TB;
  *  - [[compact]] (major compaction) materializes the totals back to one
  *    cell per key, exactly the single-cell state HBase keeps eagerly.
  *
  * Version semantics mirror HBase cell timestamps:
  *  - each increment batch writes its delta cells at one version (the
  *    table's batch counter, or a caller-supplied `versionFrom` domain);
  *  - [[delete]] appends a tombstone masking every delta cell with
  *    `version <= tombstone.version` (HBase `Delete` masks timestamps
  *    at-or-below its own); deltas appended after restart the counter;
  *  - a key's value is the SUM of its unmasked deltas. A fully-deleted
  *    counter reads as ABSENT; `+5, -5` reads as a present 0-valued
  *    counter — both exactly the HBase cell behavior.
  *
  * Version-domain contract (same as [[KvTable.delete]]): deletes must
  * carry versions at-or-above the cells they are meant to mask. The
  * default (batch-counter) domain always does. A delete aimed BETWEEN
  * a key's live cell versions is honored by the log read but collapses
  * away at the next [[compact]] (the total keeps the key's newest
  * version) — the same "single cell at the newest timestamp" outcome
  * HBase's in-place counter cell gives.
  */
object KvCounter {

  /** Caller-facing delta column of [[increment]] input frames. */
  val DeltaCol = "delta"
  /** Output value column of [[read]]. */
  val ValueCol = "value"

  private def schemaOf(keyField: String): KvSchema =
    KvSchema.of(keyField, DeltaCol -> ("ctr", "delta"))

  /** Append one increment batch: `df` must carry `keyField` and a
    * numeric [[DeltaCol]] (negative deltas decrement, as in HBase).
    * Multiple rows for one key in one batch all count — increments
    * accumulate, they do not overwrite. */
  def increment(df: DataFrame, path: String, keyField: String,
                mode: SinkMode = SinkMode.Append,
                versionFrom: Option[Column] = None): Unit =
    // keep non-schema columns: versionFrom may reference one (the write
    // projects to the schema after computing the version)
    KvTable.write(df.withColumn(DeltaCol, col(DeltaCol).cast("long")),
      path, schemaOf(keyField), mode, versionFrom)

  /** Delete counters: tombstones mask all deltas at-or-below their
    * version (see class doc for the version-domain contract). */
  def delete(keys: DataFrame, path: String,
             version: Option[Long] = None): Unit = {
    val schema = KvTable.readSchema(keys.sparkSession, path)
    KvTable.delete(keys, path, schema, version)
  }

  /** Counter view: `(keyField, value)` — the sum of each key's deltas
    * newer than its latest tombstone. Plan shape: the tombstone side
    * partial-aggregates to (distinct deleted keys) before a left join
    * the delta side flows through once; the final `sum` reuses the
    * join's hash partitioning, so the log is shuffled exactly once and
    * hot keys are map-side combined. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val schema = KvTable.readSchema(spark, path)
    collapseSum(KvTable.readRaw(spark, path), schema.keyField)
      .select(col(schema.keyField), col(DeltaCol).as(ValueCol))
  }

  /** Sum-collapse of a raw counter log: one row per surviving key with
    * the delta sum and (for [[compact]]) the newest surviving version.
    * Tombstone masking shared with [[KvAppend]] via
    * [[KvTable.survivingCells]]. */
  private def collapseSum(raw: DataFrame, keyField: String): DataFrame =
    KvTable.survivingCells(raw, keyField)
      .groupBy(col(keyField))
      .agg(sum(col(DeltaCol)).as(DeltaCol),
        max(col(VersionCol)).as(VersionCol))

  /** Major compaction: rewrite the log to ONE cell per key holding its
    * current total at its newest surviving version; tombstones and
    * masked history are discarded (HBase major compaction drops delete
    * markers the same way). The meta version counter is preserved, so
    * subsequent batch-versioned increments and deletes still dominate.
    * Atomic via the same two-rename swap as [[KvTable.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    TableLock.withLock(path, KvHadoopConf(spark)) {
      KvTable.recoverMinor(spark, path) // replay any minor-compaction journal first
      val schema = KvTable.readSchema(spark, path)
      val lastVer = KvTable.readMetaVersion(spark, path)
      val current = collapseSum(KvTable.readRaw(spark, path), schema.keyField)
        .withColumn(SeqCol, lit(0L))
        .withColumn(TombstoneCol, lit(false))
      KvTable.swapData(spark, path, current, buckets = 0, lastVersion = lastVer)
    }
}
