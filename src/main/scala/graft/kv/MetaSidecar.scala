package graft.kv

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.connector.KvHadoopConf

/** Tiny driver-side JSON sidecar files shared by the incremental
  * consumers ([[KvIndex]] `_kvindexmeta.json`, [[KvMatView]]
  * `_kvmatviewmeta.json` + its refresh journal): one string field, one
  * string-list field, one-or-more long fields. One implementation so
  * the escaping rules (the exact bug class Verify's JSON writer guards
  * against) live in one place.
  */
private[kv] object MetaSidecar {

  private def esc(x: String) =
    x.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def write(spark: SparkSession, file: String,
            scalarKey: String, scalarVal: String,
            listKey: String, listVals: Seq[String],
            longs: (String, Long)*): Unit = {
    val fs = new HPath(file).getFileSystem(
      KvHadoopConf(spark))
    val out = fs.create(new HPath(file), true)
    val list = listVals.map(v => s""""${esc(v)}"""").mkString("[", ",", "]")
    val tail = longs.map { case (k, v) => s""""${esc(k)}":$v""" }
      .mkString(",", ",", "").stripSuffix(",")
    try out.write(
      (s"""{"$scalarKey":"${esc(scalarVal)}","$listKey":$list""" +
        tail + "}").getBytes("UTF-8"))
    finally out.close()
  }

  /** (scalar value, list values, long values in the given key order).
    * Missing list key reads as empty; missing long keys as 0. */
  def read(spark: SparkSession, file: String,
           scalarKey: String, listKey: String,
           longKeys: String*): (String, Seq[String], Seq[Long]) = {
    val fs = new HPath(file).getFileSystem(
      KvHadoopConf(spark))
    val in = fs.open(new HPath(file))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val list = Option(node.get(listKey)).map { arr =>
      val it = arr.elements(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText
      b.result()
    }.getOrElse(Seq.empty)
    (node.get(scalarKey).asText, list,
      longKeys.map(k => Option(node.get(k)).map(_.asLong).getOrElse(0L)))
  }

  def exists(spark: SparkSession, file: String): Boolean = {
    val p = new HPath(file)
    p.getFileSystem(KvHadoopConf(spark)).exists(p)
  }

  def delete(spark: SparkSession, file: String): Unit = {
    val p = new HPath(file)
    p.getFileSystem(KvHadoopConf(spark)).delete(p, false)
  }
}
