package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SQL TABLE-function surface for the EXT operators — a real user
  * reaches an engine through SQL, so the pipeline operators that only
  * had a Scala entry point are also registered as table functions:
  *
  *   SELECT * FROM graft_bm25('<dir>/documents.parquet',
  *                            'merge vector slow', 20)
  *   SELECT * FROM graft_passage_dedup('<dir>/documents.parquet', 16)
  *
  * Each builder validates its LITERAL arguments at analysis time and
  * expands to the operator's logical plan (the same plan the
  * DataFrame entry point produces — one operator, two surfaces, so
  * physical shape and oracle results cannot drift between them).
  * Registered per-session by [[register]] and injected globally by
  * [[graft.GraftExtensions]], mirroring [[Native]]'s dual surface.
  */
object TableFns {

  private def litVal(e: Expression, what: String): Any = {
    require(e.foldable, s"graft table function: $what must be a literal")
    val v = e.eval(null)
    require(v != null, s"graft table function: $what must not be NULL")
    v
  }
  private def str(e: Expression, what: String): String =
    String.valueOf(litVal(e, what))
  private def int(e: Expression, what: String): Int =
    litVal(e, what) match {
      case n: java.lang.Number => n.intValue
      case other => other.toString.toInt
    }

  /** The registry both [[register]] and GraftExtensions consume. */
  private[graft] val fns: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "graft_bm25" -> (es => {
      require(es.length == 3,
        "usage: graft_bm25(docsParquetPath, 'term term ...', k)")
      val s = SparkSession.active
      val terms = str(es(1), "terms").split("\\s+").toSeq.filter(_.nonEmpty)
      graft.text.TextOps.bm25TopK(
          s.read.parquet(str(es(0), "docsParquetPath")),
          "doc_id", "text", terms, int(es(2), "k"))
        .queryExecution.analyzed
    }),
    "graft_passage_dedup" -> (es => {
      require(es.length == 2,
        "usage: graft_passage_dedup(docsParquetPath, chunkTokens)")
      val s = SparkSession.active
      Native.register(s)
      graft.dedup.Dedup.passageDedupStats(
          s.read.parquet(str(es(0), "docsParquetPath")),
          "doc_id", "text", int(es(1), "chunkTokens"))
        .queryExecution.analyzed
    }),
    // Top-k similarity search over a persisted IVF index — the
    // operator a retrieval user actually calls, reachable from SQL:
    //   SELECT * FROM graft_ann_topk('<indexPath>', '<queriesParquet>', 4, 5)
    //   SELECT * FROM graft_ann_topk('<indexPath>', 'vec:0.12,-0.3,...', 4, 5)
    // The second argument is either a parquet of (qid, qvec) query
    // rows or ONE literal vector behind an explicit 'vec:' marker
    // (served as qid 0) — an explicit marker, not sniffing for a
    // comma, because a path may legally contain one and a 1-element
    // vector contains none (ADVICE r10). Centroids resolve through
    // the index's ROUTING manifest when present (so the TVF serves
    // appended/rebalanced indexes at their crash-atomic current
    // state — see SimQueries.publishRouting), via the session's
    // Hadoop FS so hdfs://s3a://file: index paths all work; ONLY a
    // genuinely absent manifest falls back to the build-time `cents`
    // set (an unreadable one fails loudly — a silent fallback on a
    // rebalanced index would route probes to GC'd lists). Expands to
    // Similarity.ivfSearchAssigned's plan: broadcast probe join +
    // dynamic partition pruning over the cid-partitioned layout —
    // identical physical shape to the DataFrame surface (SqlSurfaceSpec).
    "graft_ann_topk" -> (es => {
      require(es.length == 4,
        "usage: graft_ann_topk(indexPath, queriesParquetPath | " +
          "'vec:v1,v2,...', nprobe, k)")
      val s = SparkSession.active
      Native.register(s)
      val idx = str(es(0), "indexPath")
      val qarg = str(es(1), "queries")
      val queries =
        if (qarg.startsWith("vec:")) {
          import org.apache.spark.sql.functions.{array, lit}
          val vec = qarg.stripPrefix("vec:").split(",")
            .map(v => lit(v.trim.toDouble))
          s.range(1).select(lit(0L).as("qid"), array(vec.toSeq: _*).as("qvec"))
        } else s.read.parquet(qarg)
      val centsDir =
        graft.queries.SimQueries.routingTarget(s, idx).getOrElse("cents")
      graft.similarity.Similarity.ivfSearchAssigned(
          s.read.parquet(s"$idx/assigned"), queries,
          s.read.parquet(s"$idx/$centsDir"),
          nprobe = int(es(2), "nprobe"), k = int(es(3), "k"))
        .queryExecution.analyzed
    }))

  /** Idempotent per-session registration (the [[Native.register]]
    * pattern for the table-function registry). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.tableFunctionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
