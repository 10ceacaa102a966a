package graft.kv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.connector.KvHadoopConf

/** Storage SPI for KV tables — the seam where a wire-compatible backend
  * (a real HBase/Bigtable client) would bind.
  *
  * The engine's operators program against KV *semantics*: sorted rowkey
  * scans, last-write-wins on (key, version, seq), tombstone deletes,
  * APPEND/REPLACE sink modes, monotone version counters. This trait
  * captures exactly the transport surface the reference implements over
  * the HBase client — `HBaseTap.openForRead` (client scanner, 107-113),
  * `openForWrite` (buffered mutations, `TableOutputFormatWrap.java:66-69`
  * flushCommits), `createResource`/`deleteResource`/`resourceExists`
  * (admin DDL, `HBaseTap.java:123-150`) — so that every higher-level
  * operator (LWW view, versioned reads, CDC, compaction-independent
  * queries) is backend-agnostic.
  *
  * Contract (enforced by [[KvStoreContract]], which any new backend's
  * spec must extend):
  *  - `scan` returns the LIVE view: one row per rowkey, newest version
  *    wins, tombstoned keys absent;
  *  - `scanRange(start, stop)` is `scan` restricted to start <= key < stop
  *    (both bounds optional), the HBase Scan.setStartRow/setStopRow
  *    semantics;
  *  - `get` is the point read of one rowkey (0 or 1 rows);
  *  - `write` with Append adds cells at a version newer than any live
  *    cell; Replace truncates first; Keep refuses an existing table;
  *  - `delete` writes tombstones that dominate all older versions of
  *    those keys but none written afterwards;
  *  - `maxVersion` is monotone non-decreasing across mutations;
  *  - DDL: `exists` reflects `create`/`drop`; `drop` of a missing table
  *    is a no-op (the reference deletes-if-exists, `HBaseTap.java:135`).
  *
  * `table` is a backend-scoped identifier: a filesystem path for the
  * parquet backend, a namespace-qualified table name for a live HBase.
  */
trait KvStore {

  def exists(spark: SparkSession, table: String): Boolean

  /** Create an empty table with the given schema; no-op if present
    * (create-if-missing, `HBaseTap.createResource`). `types` declares
    * the logical column types (key + values) — HBase itself is
    * type-oblivious, but the engine's scans are typed, so the SPI makes
    * the declaration explicit rather than inferring from first write. */
  def create(spark: SparkSession, table: String, schema: KvSchema,
             types: org.apache.spark.sql.types.StructType): Unit

  /** Drop if present; no-op otherwise. */
  def drop(spark: SparkSession, table: String): Unit

  /** Live LWW view: one row per surviving rowkey, columns = declared
    * key + value fields. Implementations SHOULD return rows such that a
    * rowkey-ordered consumer can avoid a re-sort (the parquet backend
    * reports ordering through its V2 scan), but callers must not assume
    * it — order is an optimization contract, not a correctness one. */
  def scan(spark: SparkSession, table: String): DataFrame

  /** `scan` restricted to start <= rowkey < stop (missing bound =
    * unbounded). Backends push this to their range access path. */
  def scanRange(spark: SparkSession, table: String,
                start: Option[Any], stop: Option[Any]): DataFrame

  /** Point read: 0 or 1 rows. */
  def get(spark: SparkSession, table: String, key: Any): DataFrame

  /** Write rows under a sink mode. `versionFrom` optionally supplies
    * the LWW version from a column (event time); default is the
    * backend's own monotone batch/cell-timestamp allocation. */
  def write(df: DataFrame, table: String, schema: KvSchema,
            mode: SinkMode = SinkMode.Append,
            versionFrom: Option[Column] = None): Unit

  /** Tombstone the given rowkeys at a version dominating current cells. */
  def delete(keys: DataFrame, table: String, schema: KvSchema): Unit

  /** Newest version/cell-timestamp the table has allocated. */
  def maxVersion(spark: SparkSession, table: String): Long
}

/** The engine's own backend: sorted-KV semantics over immutable parquet
  * row groups (see [[KvTable]]). This object is a thin binding — all
  * behavior lives in KvTable so the SPI adds no indirection cost to the
  * hot paths (connector reads don't go through the trait at all; the
  * SPI exists for transport-level portability, not per-row dispatch). */
object ParquetKvStore extends KvStore {

  def exists(spark: SparkSession, table: String): Boolean =
    KvTable.exists(spark, table)

  def create(spark: SparkSession, table: String, schema: KvSchema,
             types: org.apache.spark.sql.types.StructType): Unit =
    if (!KvTable.exists(spark, table)) {
      graft.connector.KvDdl.createEmpty(table, schema, types,
        KvHadoopConf(spark))
      ()
    }

  def drop(spark: SparkSession, table: String): Unit =
    KvTable.drop(spark, table)

  def scan(spark: SparkSession, table: String): DataFrame =
    KvTable.read(spark, table)

  def scanRange(spark: SparkSession, table: String,
                start: Option[Any], stop: Option[Any]): DataFrame =
    KvTable.readRange(spark, table, start, stop)

  def get(spark: SparkSession, table: String, key: Any): DataFrame =
    KvTable.get(spark, table, key)

  def write(df: DataFrame, table: String, schema: KvSchema,
            mode: SinkMode = SinkMode.Append,
            versionFrom: Option[Column] = None): Unit =
    KvTable.write(df, table, schema, mode, versionFrom)

  def delete(keys: DataFrame, table: String, schema: KvSchema): Unit =
    KvTable.delete(keys, table, schema)

  def maxVersion(spark: SparkSession, table: String): Long =
    KvTable.maxVersion(spark, table)
}
