package graft.kv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.KvHadoopConf

import KvTable.{TombstoneCol, VersionCol, SeqCol}

/** HBase `Append` — the in-place cell-value append mutation — over the
  * [[KvTable]] log. Completes the mutation inventory next to Put/Delete
  * ([[KvTable.write]]/[[KvTable.delete]]), Increment ([[KvCounter]])
  * and checkAndPut ([[KvTable.checkAndPut]]).
  *
  * HBase appends server-side: read the cell, concatenate, write back —
  * serializing on the row. The log-structured shape instead writes each
  * fragment as its OWN cell and concatenates at read time in
  * `(version, seq)` order; major compaction ([[compact]]) materializes
  * the joined value back to a single cell, which is exactly the state
  * HBase maintains eagerly.
  *
  * Ordering: fragments joined in `(version, seq)` order — append
  * batches concatenate in write order, and within one batch per-task
  * row order decides (cross-partition ties are as undefined as two
  * HBase Appends racing on one row; give concurrent same-key fragments
  * distinct `versionFrom` values if the order matters).
  *
  * Tombstones mask fragments with `version <= tombstone.version` (same
  * HBase Delete rule as [[KvCounter]]): a deleted key's value restarts
  * from fragments appended after the delete.
  */
object KvAppend {

  /** Caller-facing fragment column of [[appendTo]] input frames. */
  val PieceCol = "piece"
  /** Output value column of [[read]]. */
  val ValueCol = "value"

  private def schemaOf(keyField: String): KvSchema =
    KvSchema.of(keyField, PieceCol -> ("app", "piece"))

  /** Append one batch of fragments: `df` must carry `keyField` and a
    * string [[PieceCol]]. */
  def appendTo(df: DataFrame, path: String, keyField: String,
               mode: SinkMode = SinkMode.Append,
               versionFrom: Option[Column] = None): Unit =
    KvTable.write(df.withColumn(PieceCol, col(PieceCol).cast("string")),
      path, schemaOf(keyField), mode, versionFrom)

  /** Delete keys: the next fragments restart the value (class doc). */
  def delete(keys: DataFrame, path: String,
             version: Option[Long] = None): Unit = {
    val schema = KvTable.readSchema(keys.sparkSession, path)
    KvTable.delete(keys, path, schema, version)
  }

  /** Concatenated view: `(keyField, value)` — each key's surviving
    * fragments joined in `(version, seq)` order. One shuffle of the
    * log; the in-order join runs inside the aggregate via
    * `array_sort(collect_list(struct))`, so no global sort. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val schema = KvTable.readSchema(spark, path)
    collapseConcat(KvTable.readRaw(spark, path), schema.keyField)
      .select(col(schema.keyField), col(PieceCol).as(ValueCol))
  }

  /** Concat-collapse of a raw append log: one row per surviving key
    * with the joined value and its newest surviving version. Tombstone
    * masking shared with [[KvCounter]] via [[KvTable.survivingCells]]. */
  private def collapseConcat(raw: DataFrame, keyField: String): DataFrame =
    KvTable.survivingCells(raw, keyField)
      .groupBy(col(keyField))
      .agg(
        // struct sorts field-by-field: (version, seq) order, then the
        // piece itself as a deterministic last resort for exact ties
        array_join(transform(
          array_sort(collect_list(
            struct(col(VersionCol), col(SeqCol), col(PieceCol)))),
          x => x(PieceCol)), "").as(PieceCol),
        max(col(VersionCol)).as(VersionCol))

  /** Major compaction: one joined cell per key at its newest surviving
    * version (the state HBase's in-place Append keeps eagerly);
    * tombstones and masked fragments are discarded. Meta version
    * counter preserved. Atomic via [[KvTable.swapData]].
    *
    * NOT read-transparent for BETWEEN-version event-time fragments
    * (same caveat as [[KvCounter.compact]]): the merged cell takes the
    * key's newest surviving version, so a fragment arriving LATER with
    * a version between two already-compacted ones sorts before the
    * whole merged cell instead of interleaving ("A"@1,"C"@3 → compact →
    * "B"@2 reads "BAC", not "ABC"). In-place HBase Append behaves the
    * same way — its single cell also sits at the newest timestamp. Under
    * the default batch-counter domain every new fragment is newer than
    * the merged cell, so compaction is always read-transparent there. */
  def compact(spark: SparkSession, path: String): Unit =
    TableLock.withLock(path, KvHadoopConf(spark)) {
      KvTable.recoverMinor(spark, path)
      val schema = KvTable.readSchema(spark, path)
      val lastVer = KvTable.readMetaVersion(spark, path)
      val current = collapseConcat(KvTable.readRaw(spark, path),
          schema.keyField)
        .withColumn(SeqCol, lit(0L))
        .withColumn(TombstoneCol, lit(false))
      KvTable.swapData(spark, path, current, buckets = 0, lastVersion = lastVer)
    }
}
