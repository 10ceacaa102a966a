package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers the command-line mains share. */
object Mains {

  /** JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make a reader's json.load fail. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `SparkEntry.queries`, narrowed to the comma-separated names in
    * SPARK_GRAFT_ONLY when it is set (fast local iteration; gate runs
    * leave it unset and get every query). */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    select(sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.queries)

  /** `all`, narrowed to the comma-separated names in `only`. A name that
    * is not in `all` fails, naming every unknown entry: a typo must not
    * select nothing and report an empty run as a clean one. */
  def select[Q](only: Option[String], all: Map[String, Q]): Map[String, Q] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) =>
        val unknown = names.filterNot(all.contains)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
        all.filter { case (n, _) => names(n) }
      case None => all
    }
}
