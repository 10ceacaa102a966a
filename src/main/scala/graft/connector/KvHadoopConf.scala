package graft.connector

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The one place the kvtable connector and the KV store get their Hadoop
  * settings: the active session's Hadoop configuration
  * (`sessionState.newHadoopConfWithOptions`), so session-level settings
  * such as `spark.conf.set("fs.<scheme>.impl", ...)` and per-read
  * options apply, as they do for Spark's own file sources.
  *
  * Building one is a copy of already-parsed properties; a bare
  * `new Configuration()` instead re-reads and re-parses Hadoop's XML
  * defaults. Callers build one per table, scan or write on the driver
  * and reuse it. Tasks get it as a broadcast — writes through
  * [[broadcast]], reads through the one Spark's parquet reader makes —
  * and build none; code that
  * must set a key takes a [[copy]] first, so the shared instance is
  * never mutated.
  */
object KvHadoopConf {

  def apply(spark: SparkSession,
            options: Map[String, String] = Map.empty): Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  /** The active session's configuration (driver side). */
  def active(options: Map[String, String] = Map.empty): Configuration =
    apply(SparkSession.active, options)

  def broadcast(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  /** A private copy to set keys on (clones the parsed properties). */
  def copy(conf: Configuration): Configuration = new Configuration(conf)
}
