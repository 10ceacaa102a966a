package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** queries: the TPC-H, iterative and expression queries of
  * `SparkEntry.queries` over seeded tables, each run once per pass, in a
  * seeded order, with the cache cleared between queries as `graft.Bench`
  * does. No query reads a kvtable, so this is the workload that bypasses
  * every connector change, while Catalyst, eager construction and native
  * expressions dominate it. Each op collects its result; the first
  * pass's results are written out after the window for the runner to
  * check against `SparkEntry.oracleSql`. */
final class Queries(run: Run) extends Workload {
  private val spark = run.spark
  /** lineitem has 6,000,000 x Scale rows. */
  val Scale = 0.01

  private val all = SparkEntry.queries
  val tpch: Seq[String] = all.keys.filter(_.startsWith("q_tpch_")).toSeq.sorted
  val iterative = Seq("q_pagerank", "dedup_clusters", "dedup_cluster_best", "q_rfm")
  val expr = Seq("text_tfidf", "text_bm25_sql", "q_map_funcs", "q_percentile_approx")
  private val names = tpch ++ iterative ++ expr
  private val dataDir = s"${run.scratch}/data"
  private val passes = ArrayBuffer.empty[Map[String, Double]]
  private val results = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]

  def setup(): Unit = {
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"queries missing from SparkEntry.queries: $missing")
    Files.createDirectories(Paths.get(dataDir))
    QueryData.generate(spark, dataDir, run.seed, Scale)
  }

  def cycle(i: Int): Unit = {
    val times = scala.collection.mutable.Map.empty[String, Double]
    new scala.util.Random(run.seed * 31 + i).shuffle(names).foreach { name =>
      run.op(name)(run.query("graft.queries")(all(name)(spark, dataDir)))(_ => None)
        .foreach { case (df, rows) => if (!results.contains(name)) results(name) = (df.schema, rows) }
      times(name) = run.ops.last.wallMs / 1e3
      spark.catalog.clearCache()
    }
    passes += times.toMap
  }

  /** Writes each query's first result, with the oracle SQL beside it (the
    * layout `tools/check.py` reads). */
  override def finish(): Unit = {
    val out = s"${run.scratch}/verify"
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(s"$out/$name")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
  }

  def detail(): Seq[(String, Double, String)] = {
    def sumOf(group: Seq[String]) =
      if (passes.isEmpty) 0.0 else Stats.median(passes.toSeq.map(p => group.map(p).sum))
    Seq(("tpch_s", sumOf(tpch), "s"), ("iterative_s", sumOf(iterative), "s"),
      ("expr_s", sumOf(expr), "s"), ("tpch_queries", tpch.size.toDouble, "count"))
  }
}
