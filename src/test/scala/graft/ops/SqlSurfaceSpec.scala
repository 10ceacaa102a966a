package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** The SQL entry points a user of the engine actually types:
  * session-extension injection (GraftExtensions) must expose BOTH the
  * scalar natives and the EXT table functions without any per-session
  * register call, and the table-function surface must equal the
  * DataFrame surface row-for-row (one operator, two spellings). */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("table functions and the DataFrame operators return identical " +
      "rows (graft_bm25 / graft_passage_dedup)") {
    graft.functions.Native.register(spark)
    graft.functions.TableFns.register(spark)
    val viaSql = spark.sql(
      s"SELECT * FROM graft_bm25('$dir/documents.parquet', " +
        "'merge vector slow', 20)").collect().toSeq
    val viaDf = graft.text.TextOps.bm25TopK(
        spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", Seq("merge", "vector", "slow"), 20)
      .collect().toSeq
    assert(viaSql === viaDf)
    val dedupSql = spark.sql(
      s"SELECT * FROM graft_passage_dedup('$dir/documents.parquet', 16) " +
        "ORDER BY doc_id").collect().toSeq
    val dedupDf = graft.dedup.Dedup.passageDedupStats(
        spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", 16)
      .orderBy("doc_id").collect().toSeq
    assert(dedupSql === dedupDf)
  }

  test("a non-literal table-function argument is rejected with the " +
      "usage message, not a null binding") {
    graft.functions.TableFns.register(spark)
    val ex = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_bm25('$dir/documents.parquet', " +
        "'merge', CAST(rand() * 5 AS INT))").collect()
    }
    assert(ex.getMessage.contains("literal"), ex.getMessage)
  }

  test("GraftExtensions injects scalar AND table functions into a " +
      "fresh extension-configured session") {
    // getOrCreate would hand back the suite's shared session (and
    // ignore withExtensions) while the sessions are set — clear them,
    // build a genuinely NEW session over the existing SparkContext,
    // and NEVER stop it (stop() kills the shared context).
    val defBefore = SparkSession.getDefaultSession
    val actBefore = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = graft.Session.builder("graft-ext-probe", cores = 2)
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark, "probe session must be new or the test is vacuous")
      // scalar native: no register() call anywhere on s2
      val n = s2.sql(
        "SELECT graft_simhash64(array(1L, 2L, 3L)) AS h").collect()
      assert(n.length === 1)
      // table function through plain SQL
      val rows = s2.sql(
        s"SELECT * FROM graft_passage_dedup('$dir/documents.parquet', 16)")
        .collect()
      assert(rows.length > 0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      defBefore.foreach(SparkSession.setDefaultSession)
      actBefore.foreach(SparkSession.setActiveSession)
    }
  }

  test("graft_ann_topk serves a persisted IVF index from SQL with the " +
      "rows the DataFrame surface returns, and accepts one literal " +
      "vector as the query argument") {
    import org.apache.spark.sql.functions.col
    graft.functions.Native.register(spark)
    graft.functions.TableFns.register(spark)
    // build a tiny served index (the graft_ann_topk layout contract:
    // assigned/ partitioned by cid + a centroid dir)
    val idx = graft.TestSpark.scratch("ann_tvf_idx")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = graft.similarity.Similarity.kmeansCentroids(corpus, k = 4,
      iters = 2)
    cents.write.parquet(s"$idx/cents")
    graft.similarity.Similarity.ivfAssign(corpus, cents)
      .write.partitionBy("cid").parquet(s"$idx/assigned")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    queries.write.parquet(s"$idx/queries")

    val viaSql = spark.sql(
      s"SELECT * FROM graft_ann_topk('$idx', '$idx/queries', 2, 3) " +
        "ORDER BY qid, rank").collect().toSeq
    val viaDf = graft.similarity.Similarity.ivfSearchAssigned(
        spark.read.parquet(s"$idx/assigned"), queries,
        spark.read.parquet(s"$idx/cents"), nprobe = 2, k = 3)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(viaSql === viaDf)

    // one literal vector (served as qid 0, no self-exclusion since the
    // external query is not a corpus row): row-identical to the
    // DataFrame surface given the same single-query frame
    import org.apache.spark.sql.functions.{array, lit}
    val q0 = e.filter(col("vec_id") === 3)
      .select(col("embedding")).head.getSeq[Any](0)
    val lit0 = q0.map(_.toString).mkString(",")
    val viaLit = spark.sql(
      s"SELECT * FROM graft_ann_topk('$idx', 'vec:$lit0', 2, 3) " +
        "ORDER BY rank").collect().toSeq
    val oneQuery = spark.range(1).select(lit(0L).as("qid"),
      array(lit0.split(",").map(v => lit(v.trim.toDouble)).toSeq: _*).as("qvec"))
    val expect = graft.similarity.Similarity.ivfSearchAssigned(
        spark.read.parquet(s"$idx/assigned"), oneQuery,
        spark.read.parquet(s"$idx/cents"), nprobe = 2, k = 3)
      .orderBy(col("rank")).collect().toSeq
    assert(viaLit === expect)
    // the query vector IS corpus row 3, so the index must surface it
    // at rank 1 — proves the literal actually reached the search
    assert(viaLit.head.getLong(1) === 3L)

    // one operator, two spellings, ONE plan: the TVF expands to the
    // DataFrame surface's logical plan, so the optimized plans must be
    // structurally identical (modulo expression ids — sameResult is
    // over-strict with lambda-bearing custom expressions, so compare
    // id-stripped tree strings). A drift between the surfaces
    // (different nprobe, lost dynamic pruning, extra exchange) fails
    // here even if the rows happen to agree.
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.treeString
        .replaceAll("#\\d+", "").replaceAll("x_\\d+", "x_")
    val sqlShape = shape(spark.sql(
      s"SELECT * FROM graft_ann_topk('$idx', '$idx/queries', 2, 3)"))
    val dfShape = shape(graft.similarity.Similarity.ivfSearchAssigned(
      spark.read.parquet(s"$idx/assigned"),
      spark.read.parquet(s"$idx/queries"),
      spark.read.parquet(s"$idx/cents"), nprobe = 2, k = 3))
    assert(sqlShape === dfShape,
      s"TVF and DataFrame plans diverged:\n$sqlShape\nvs\n$dfShape")
  }
}
