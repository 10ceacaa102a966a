package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.kv.KvSchema

/** Seeded KV inputs and the plain-Spark model the results are checked
  * against. A row is a pure function of (seed, batch, key id), so the
  * model recomputes exactly what was written without reading the table. */
object KvData {
  val schema: KvSchema = KvSchema.of("rk",
    "a_long" -> ("a", "long"), "a_dbl" -> ("a", "dbl"), "a_str" -> ("a", "str"),
    "b_long" -> ("b", "long"), "b_dbl" -> ("b", "dbl"), "b_str" -> ("b", "str"))
  val fields: Seq[String] = schema.fieldNames
  val Buckets = 8

  /** Rowkey of key id `id`: zero-padded so string order is id order. */
  def rowkey(id: Long): String = f"k$id%010d"
  def rowkeyCol(id: Column): Column = format_string("k%010d", id)

  /** Key ids in `[0, n)` picked by a seeded hash: `pmod(h, mod) == hit`. */
  def pick(spark: SparkSession, n: Long, seed: Long, tag: Int, mod: Int, hit: Int = 0): DataFrame =
    spark.range(n).toDF("id").filter(pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(mod.toLong)) === hit)

  /** The rows batch `batch` writes for the key ids in column `id`. */
  def rows(ids: DataFrame, seed: Long, batch: Int): DataFrame = {
    def h(tag: Int) = xxhash64(lit(seed), lit(batch), col("id"), lit(tag))
    ids.select(
      rowkeyCol(col("id")).as("rk"),
      h(1).as("a_long"),
      (pmod(h(2), lit(1000000L)) / 100.0).as("a_dbl"),
      concat(lit("a-"), hex(h(3))).as("a_str"),
      pmod(h(4), lit(1000L)).as("b_long"),
      (pmod(h(5), lit(100000L)) / 10.0).as("b_dbl"),
      concat(lit("b-"), hex(h(6)), lit("-"), hex(h(7))).as("b_str"))
  }

  /** Last write wins over `(batch, tombstone, rows)` steps in order:
    * the live view the table must show. */
  def lww(steps: Seq[(Int, Boolean, DataFrame)]): DataFrame = {
    val all = steps.map { case (b, tomb, df) =>
      df.select(fields.map(col) :+ lit(b).as("__b") :+ lit(tomb).as("__t"): _*)
    }.reduce(_ unionByName _)
    all.groupBy("rk")
      .agg(max_by(struct((fields.tail :+ "__t").map(col): _*), col("__b")).as("v"))
      .filter(!col("v.__t"))
      .select(col("rk") +: fields.tail.map(f => col(s"v.$f").as(f)): _*)
  }

  /** Tombstone-only step rows: the key with null values. */
  def tombstones(keys: DataFrame): DataFrame =
    keys.select(col("rk") +: fields.tail.map(f => lit(null).as(f)): _*)

  /** Order-independent (count, checksum) of a frame's key and value columns. */
  def digest(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(fields.map(col): _*), lit(2147483647L))), lit(0L)).as("sum"))

  def digestOf(row: Row): (Long, Long) = (row.getLong(0), row.getLong(1))

  /** A row as field -> value, for exact comparison. */
  def asMap(r: Row): Map[String, Any] = fields.map(f => f -> r.getAs[Any](f)).toMap

  def dirBytes(dir: String): Long = files(dir).values.sum

  /** Data files under a table directory: relative path -> size. */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach((p: Path) => Files.deleteIfExists(p))
      finally s.close()
    }
  }
}
