package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over embedding
  * columns (north-star EXT).
  *
  * Numeric design: embeddings are quantized to integers
  * (round(x * 10000)) before any reduction. Dot products and norms are
  * then exact 64-bit integer sums — order-independent, reproducible on
  * any engine and any partitioning (a float sum would drift with Spark's
  * partition-dependent reduction order). 64 dims × |q| ≤ ~10^5 keeps
  * every partial < 2^53, so even a DOUBLE-summing oracle agrees bit-for-
  * bit. Cosine then needs one sqrt + one divide per pair — both exact
  * IEEE single-ops.
  *
  * Scale design: brute-force top-k broadcasts only the QUERY side and
  * streams the corpus (linear scan, embarrassingly parallel — the right
  * baseline when queries are few). The LSH path buckets the corpus by
  * 8 deterministic random-hyperplane sign bits, so pair generation is an
  * equi-join within buckets (~N²/256 instead of N²), the standard
  * angular-LSH recipe.
  */
object Similarity {

  val Scale = 10000L

  /** Quantize a float/double vector to exact longs. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Cosine similarity from quantized vectors (exact up to quantization). */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b) / (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** Brute-force exact top-k cosine neighbors.
    * `queries`: (qid, qvec raw float array); `corpus`: (id, vec).
    * Returns (qid, id, cosine, rank) with rank 1..k, deterministic
    * tiebreak by id. The corpus is scanned once; queries are broadcast.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    broadcastTopK(queries, corpus, k, Nil, Nil, col("qid") =!= col("id"))

  /** Shared broadcast-topk skeleton: quantized query side broadcast,
    * corpus scanned once, exclusions in the JOIN CONDITION (excluded
    * pairs are never materialized), per-query window rank ≤ k with
    * the deterministic id tiebreak. `qExtra`/`cExtra` carry label-ish
    * columns through; `cond` is evaluated on the joined row. */
  private def broadcastTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                            qExtra: Seq[String], cExtra: Seq[String],
                            cond: Column): DataFrame = {
    graft.functions.Native.register(corpus.sparkSession)
    val q = broadcast(queries.select(
      col("qid") +: quantize(col("qvec")).as("qq") +: qExtra.map(col): _*))
    val c = corpus.select(
      col("id") +: quantize(col("vec")).as("cq") +: cExtra.map(col): _*)
    val scored = c.join(q, cond)
      .withColumn("cosine", graft.functions.Native.cosineQ(col("qq"), col("cq")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("qid") ++ qExtra ++ Seq("id") ++ cExtra ++
        Seq("cosine", "rank")).map(col): _*)
  }

  /** Hard-negative mining — for each query vector, the top-k most
    * cosine-similar corpus vectors with a DIFFERENT label (the
    * contrastive-training primitive: near-misses make the strongest
    * negatives; same-label rows are positives and must be excluded,
    * as must the query itself). Same shape as [[bruteForceTopK]]:
    * queries broadcast, corpus scanned ONCE, and the label exclusion
    * lives in the broadcast-join CONDITION, so excluded pairs are
    * never materialized and no exchange ever carries them — at 100 TB
    * the scan stays embarrassingly parallel and the window ranks only
    * |queries|·k-ish survivors per partition boundary. For huge query
    * sets compose with the IVF router ([[ivfTopK]]) exactly as
    * top-k does; this exact form is the baseline that calibrates it.
    * `queries`: (qid, qvec, qlabel); `corpus`: (id, vec, label).
    * Returns (qid, qlabel, id, label, cosine, rank), rank 1..k,
    * deterministic tiebreak by id. Shares [[broadcastTopK]]'s
    * skeleton with [[bruteForceTopK]] — only the exclusion condition
    * and the carried label columns differ. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    broadcastTopK(queries, corpus, k, Seq("qlabel"), Seq("label"),
      col("qid") =!= col("id") && col("qlabel") =!= col("label"))

  /** Maximal-marginal-relevance re-ranking — the RAG retrieval
    * diversifier: from each query's top-`pool` cosine candidates,
    * greedily pick `k` where each pick maximizes
    * 0.7·relevance − 0.3·(max cosine to anything already picked)
    * (ties by id). The greedy recurrence is UNROLLED into k
    * declarative steps (the q_pagerank discipline for iterative
    * algorithms), each a join of the bounded candidate/pair tables —
    * so the DuckDB oracle can mirror it CTE-for-CTE and the whole
    * lossy-looking re-ranker stays hash-gate exact (relevance and
    * pairwise sims are the already-pinned quantized cosine; the MMR
    * combination is two double multiplies both engines spell
    * identically — note 0.7 and 0.3 are BOTH literals: deriving one
    * as 1−λ in Scala yields 0.30000000000000004 and a red gate).
    * Scale shape: retrieval is the distributed broadcast-topk scan;
    * everything after runs on qid×pool rows (bounded, checkpointed
    * once for the pair build + k step reuses). Returns
    * (qid, mmr_rank 1..k, id, rel). */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
                k: Int, pool: Int): DataFrame = {
    graft.functions.Native.register(corpus.sparkSession)
    val q = broadcast(queries.select(
      col("qid"), quantize(col("qvec")).as("qq")))
    val c = corpus.select(col("id"), quantize(col("vec")).as("cq"))
    val wRel = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("id"))
    val cand = c.join(q, col("qid") =!= col("id"))
      .withColumn("rel",
        graft.functions.Native.cosineQ(col("qq"), col("cq")))
      .withColumn("rk", row_number().over(wRel))
      .filter(col("rk") <= pool)
      .select(col("qid"), col("id"), col("cq"), col("rel"))
    mmrRerankPool(cand, k)
  }

  /** [[mmrRerank]]'s greedy unroll over a PRE-BUILT candidate pool
    * (qid, id, cq: quantized vector, rel) — the entry the 100 TB path
    * uses: draw the pool from the served IVF index (a broadcast probe
    * + DPP-pruned read of only the probed lists, see `ann_mmr_ivf`)
    * so the only corpus-sized work is the index probe; everything
    * here runs on qid×pool rows. Semantics identical to the
    * brute-force-pooled form, which delegates to this. */
  def mmrRerankPool(candIn: DataFrame, k: Int): DataFrame = {
    // Round 12 (guide §2, barrier removal): the k-step declarative
    // unroll cost 7 driver-synchronized localCheckpoint jobs per run —
    // each existed only to bound plan depth, not to move data. The pool
    // is bounded (<=`pool` rows per qid by construction), so the greedy
    // recurrence now runs in ONE pass: hash-partition the pool rows by
    // qid, sort within partitions by (qid, id), and run the selection
    // loop per group in a mapPartitions closure. The closure replicates
    // the unrolled plan's arithmetic EXACTLY:
    //  - pair sims are CosineQExpr.nullSafeEval's long-accumulate /
    //    sqrt·sqrt kernel, verbatim;
    //  - score = 0.7*rel - 0.3*maxSim in that literal order;
    //  - ranking = java.lang.Double.compare desc with ascending-id
    //    tie-break (rows arrive id-sorted, so first-wins == lowest id),
    //    the same total order Spark's row_number gave.
    // Output proven bit-identical to the unrolled form at 3 SFs
    // (OPTIMIZATION_r12.md item 3) and oracle-gated; the DuckDB CTE
    // mirror is unchanged.
    // At any scale the shuffle carries only qid-pool rows, as before —
    // minus the 7 materialization barriers.
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val cand = candIn.select(col("qid"), col("id"), col("cq"), col("rel"))
    val inS = cand.schema
    val outSchema = StructType(Seq(
      inS("qid"), inS("id"),
      StructField("mmr_rank", IntegerType, nullable = false),
      inS("rel")))
    def cos(x: Array[Long], y: Array[Long]): Double = {
      val n = math.min(x.length, y.length)
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < n) {
        val xi = x(i); val yi = y(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
      }
      dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    def greedy(rows: IndexedSeq[org.apache.spark.sql.Row])
        : Iterator[org.apache.spark.sql.Row] = {
      val n = rows.length
      val cq = Array.tabulate(n)(i => rows(i).getSeq[Long](2).toArray)
      val rel = Array.tabulate(n)(i => rows(i).getDouble(3))
      val picked = new Array[Boolean](n)
      val ms = Array.fill(n)(Double.NegativeInfinity)
      val order = Seq.newBuilder[Int]
      var first = -1
      var i = 0
      while (i < n) { // argmax rel, ascending-id tie-break (first wins)
        if (first < 0 || java.lang.Double.compare(rel(i), rel(first)) > 0)
          first = i
        i += 1
      }
      picked(first) = true; order += first
      var last = first
      var t = 2
      while (t <= k && t <= n) {
        var best = -1
        var bestScore = 0.0
        var j = 0
        while (j < n) {
          if (!picked(j)) {
            val s = cos(cq(j), cq(last))
            if (java.lang.Double.compare(s, ms(j)) > 0) ms(j) = s
            val score = 0.7 * rel(j) - 0.3 * ms(j)
            if (best < 0 || java.lang.Double.compare(score, bestScore) > 0) {
              best = j; bestScore = score
            }
          }
          j += 1
        }
        picked(best) = true; order += best; last = best
        t += 1
      }
      order.result().iterator.zipWithIndex.map { case (idx, r) =>
        org.apache.spark.sql.Row(rows(idx).get(0), rows(idx).get(1),
          r + 1, rel(idx))
      }
    }
    cand.repartition(col("qid"))
      .sortWithinPartitions(col("qid"), col("id"))
      .mapPartitions { it =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[
          org.apache.spark.sql.Row]
        new Iterator[org.apache.spark.sql.Row] {
          private var out: Iterator[org.apache.spark.sql.Row] =
            Iterator.empty
          private def refill(): Unit = {
            while (!out.hasNext && (it.hasNext || buf.nonEmpty)) {
              if (!it.hasNext) { out = greedy(buf.toIndexedSeq); buf.clear() }
              else {
                val r = it.next()
                if (buf.nonEmpty && buf.head.get(0) != r.get(0)) {
                  out = greedy(buf.toIndexedSeq); buf.clear()
                }
                buf += r
              }
            }
          }
          def hasNext: Boolean = { refill(); out.hasNext }
          def next(): org.apache.spark.sql.Row = { refill(); out.next() }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .orderBy(col("qid"), col("mmr_rank"))
  }

  /** Brute-force cosine RANGE (radius) search: every corpus vector
    * with cosine ≥ `minCosine` to a query — top-k's fixed-radius
    * sibling (the ε-NN primitive retrieval and dedup candidate
    * generation build on). Same shape as [[bruteForceTopK]]: queries
    * broadcast, corpus scanned ONCE, and the threshold filter runs
    * BEFORE any exchange, so the shuffle carries only the (sparse)
    * matches — at 100 TB the scan is embarrassingly parallel and the
    * output is bounded by the radius selectivity, not the corpus. The
    * scale path for huge query sets is the IVF variant (probe only
    * lists whose centroid can beat `minCosine`); this exact form is
    * the baseline the approximate one is judged against. */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
                  minCosine: Double): DataFrame = {
    graft.functions.Native.register(corpus.sparkSession)
    val q = broadcast(queries.select(col("qid"), quantize(col("qvec")).as("qq")))
    val c = corpus.select(col("id"), quantize(col("vec")).as("cq"))
    c.join(q, col("qid") =!= col("id"))
      .withColumn("cosine", graft.functions.Native.cosineQ(col("qq"), col("cq")))
      .filter(col("cosine") >= lit(minCosine))
      .select(col("qid"), col("id"), col("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * 1-based dim i): an integer in [-999, 999]. Pure non-negative int
    * arithmetic so any engine reproduces it bit-for-bit.
    *
    * The seed is run through a 32-bit avalanche mixer (two
    * xorshift-multiply rounds, hash-prospector-class constants kept
    * below 2^30 so every product fits a signed 64-bit lane on engines
    * that overflow-check). A plain LCG lattice here
    * (`(p*A + i*B) % 1999`) makes CONSECUTIVE planes near
    * anti-correlated — adjacent signature bits flip together, so huge
    * vector populations collapse into the two alternating-bit buckets
    * (0b0101.. / 0b1010..) no matter how many bits the signature has;
    * measured 18% of a 22k corpus in two buckets, turning bucketed
    * pair expansion quadratic. Mixing restores plane independence and
    * the N/2^bits occupancy math. */
  private def planeW(p: Column, i: Column): Column = {
    val m = lit(4294967296L)
    val x0 = (p * lit(73856093L) + i * lit(19349663L)) % m
    val x1 = (x0.bitwiseXOR(shiftright(x0, 16)) * lit(741103597L)) % m
    val x2 = (x1.bitwiseXOR(shiftright(x1, 16)) * lit(695847673L)) % m
    x2.bitwiseXOR(shiftright(x2, 16)) % lit(1999L) - lit(999L)
  }

  /** 8-bit angular LSH signature of a quantized vector: bit p is the
    * sign of the dot product with deterministic hyperplane p. Exact
    * integer arithmetic throughout. */
  def hyperplaneSig(qvec: Column, dims: Int, bits: Int = 8): Column =
    aggregate(sequence(lit(0), lit(bits - 1)), lit(0),
      (acc, p) => acc * 2 + when(
        aggregate(sequence(lit(1), lit(dims)), lit(0L),
          (s, i) => s + element_at(qvec, i) * planeW(p, i)) >= 0L,
        1).otherwise(0))

  /** IVF-flat approximate top-k: the corpus is partitioned into inverted
    * lists by nearest centroid; a query probes only its `nprobe` nearest
    * lists, scanning |corpus|·nprobe/|centroids| vectors instead of all.
    *
    * Centroid "training" is pluggable; here the caller passes centroids
    * (the tests/queries use a deterministic subset of the corpus — a
    * k-means step would slot in without changing the search). All
    * assignment/scoring is quantized-integer cosine, so results are
    * engine-reproducible. Ties (assignment and ranking) break by id.
    *
    * Scale shape: centroids and queries broadcast; the corpus is scanned
    * once to build assignments (at 100 TB the assignment would be
    * precomputed and stored, making search a partition-pruned read).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              nprobe: Int, k: Int): DataFrame =
    ivfSearchAssigned(ivfAssign(corpus, centroids), queries, centroids,
      nprobe, k)

  private def quantCentroids(centroids: DataFrame): DataFrame =
    broadcast(centroids.select(col("cid"), quantize(col("cvec")).as("cq")))

  /** n nearest centroids per row of `df` (ties break by cid). */
  private def nearestLists(df: DataFrame, cents: DataFrame, vecCol: String,
                           idCol: String, n: Int): DataFrame = {
    val cosine = graft.functions.Native.cosineQ _
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__ccos").desc, col("cid"))
    df.crossJoin(cents)
      .withColumn("__ccos", cosine(col(vecCol), col("cq")))
      .withColumn("__crank", row_number().over(w))
      .filter(col("__crank") <= n)
      .drop("__ccos", "__crank", "cq")
  }

  /** IVF-pruned EXACT range search — [[rangeSearch]]'s scale path:
    * instead of scanning the whole corpus per query, scan only the
    * inverted lists that CAN contain a match. List pruning uses the
    * spherical triangle inequality: with cqc = cos(query, centroid)
    * and r = the list's cosine radius (MIN member cosine to its own
    * centroid), every member x satisfies
    *   cos(q, x) ≤ 1                          if cqc ≥ r
    *   cos(q, x) ≤ cqc·r + √((1−cqc²)(1−r²))  otherwise (= cos(θqc−θmax))
    * so a list whose bound is below `minCosine` is never scanned. The
    * bound uses only IEEE-exact ops (·, −, √) on values both engines
    * derive from the same integer dot products, and r/cqc are clamped
    * to [-1, 1] before the √ (a quantized cosine can land an ulp past
    * either end, and a NaN bound would silently prune the list). Pruning is EXACT — the result equals [[rangeSearch]]
    * row-for-row (spec-pinned), which is exactly what the oracle gate
    * checks it against: a pruning bug LOSES rows and goes red.
    *
    * At 100 TB the assignment table is persisted
    * `write.partitionBy("cid")` (see [[ivfAssign]]) and the broadcast
    * probe join partition-prunes to the probed lists — the range-query
    * analogue of [[ivfSearchAssigned]]'s DPP path. */
  def ivfRangeSearch(queries: DataFrame, corpus: DataFrame,
                     centroids: DataFrame, minCosine: Double): DataFrame = {
    graft.functions.Native.register(corpus.sparkSession)
    val cosine = graft.functions.Native.cosineQ _
    val assigned = ivfAssign(corpus, centroids)
    val cq = quantCentroids(centroids)
    // per-list cosine radius: one skinny partial-agg pass
    // clamp BOTH ends: an ulp past +1 would NaN the sqrt (and silently
    // prune a list — losing rows from an exact search), and an ulp past
    // -1 does the same through the (1 - x²) < 0 path
    def clamp(c: Column): Column =
      greatest(least(c, lit(1.0)), lit(-1.0))
    val radii = assigned.join(cq, Seq("cid"))
      .select(col("cid"), cosine(col("vq"), col("cq")).as("cc"))
      .groupBy(col("cid")).agg(clamp(min(col("cc"))).as("r"))
    val qq = broadcast(
      queries.select(col("qid"), quantize(col("qvec")).as("qq")))
    val probes = qq.crossJoin(cq.join(radii, Seq("cid")))
      .withColumn("cqc", clamp(cosine(col("qq"), col("cq"))))
      .withColumn("bound", when(col("cqc") >= col("r"), lit(1.0))
        .otherwise(col("cqc") * col("r") +
          sqrt((lit(1.0) - col("cqc") * col("cqc")) *
            (lit(1.0) - col("r") * col("r")))))
      .filter(col("bound") >= lit(minCosine))
      .select(col("qid"), col("qq"), col("cid"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .withColumn("cosine", cosine(col("qq"), col("vq")))
      .filter(col("cosine") >= lit(minCosine))
      .select(col("qid"), col("id"), col("cosine"))
  }

  /** Build the IVF inverted lists: one corpus pass assigning each vector
    * to its nearest centroid → (cid, id, vq). At 100 TB this is the
    * table you PERSIST, `write.partitionBy("cid")`, so that searches
    * become partition-pruned reads of only the probed lists (see
    * [[ivfSearchAssigned]]); `ivfTopK` recomputes it inline for
    * self-contained use.
    *
    * Assignment is a lexicographic `max(struct(cosine, -cid))` partial
    * aggregation, NOT [[nearestLists]]'s row_number window: the window
    * shuffles and sorts all n·|cents| vector-carrying rows (measured
    * 4.8 GB of spill at 20k×500), while the partial agg folds each
    * vector's candidates map-side and shuffles n one-struct rows. Same
    * tie-break as the window (highest cosine, then lowest cid).
    *
    * PRECONDITION: `corpus.id` must be unique. The final join-back that
    * re-attaches the quantized vector emits one row per matching corpus
    * row; a duplicated id would yield duplicate assignment rows (the
    * pre-r5 `first(vq)` aggregate collapsed them silently — this shape
    * surfaces the input defect instead). All callers pass `vec_id`-keyed
    * tables; SimilaritySpec pins the contract. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.Native.register(corpus.sparkSession)
    val cosine = graft.functions.Native.cosineQ _
    val corpusQ = corpus.select(col("id"), quantize(col("vec")).as("vq"))
    // The aggregation runs over SKINNY (id, {cosine, negcid}) rows: the
    // cosine is computed in the projection right after the broadcast
    // cross join and vq is dropped before the agg. Carrying vq through
    // the agg (the former `first(vq)` shape) put the whole quantized
    // vector into every candidate row AND every hash-map entry — at
    // n·|cents| candidate volume the partial agg overflowed to
    // sort-based fallback over ~KB-wide rows (11.6 GB spill, 5.6× at
    // 2× rows in the sf2 scale run). The one extra equi-join to
    // re-attach vq shuffles only n narrow rows.
    val best = corpusQ.crossJoin(quantCentroids(centroids))
      .select(col("id"), struct(cosine(col("vq"), col("cq")).as("c"),
        (-col("cid")).as("negcid")).as("cand"))
      .groupBy(col("id"))
      .agg(max(col("cand")).as("m"))
      .select(col("id"), (-col("m.negcid")).as("cid"))
    best.join(corpusQ, Seq("id"))
      .select(col("cid"), col("id"), col("vq"))
  }

  /** Search a (possibly persisted) assignment table: each query probes
    * its `nprobe` nearest lists only. When `assigned` is a parquet read
    * partitioned by `cid`, the broadcast probe join triggers dynamic
    * partition pruning — only probed list directories are scanned. */
  def ivfSearchAssigned(assigned: DataFrame, queries: DataFrame,
                        centroids: DataFrame, nprobe: Int, k: Int,
                        keepVec: Boolean = false): DataFrame = {
    graft.functions.Native.register(assigned.sparkSession)
    val cosine = graft.functions.Native.cosineQ _
    val queriesQ = broadcast(
      nearestLists(queries.select(col("qid"), quantize(col("qvec")).as("qq")),
        quantCentroids(centroids), "qq", "qid", nprobe))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id"))
    val ranked = assigned.join(queriesQ, Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .withColumn("cosine", cosine(col("qq"), col("vq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // keepVec hands downstream re-rankers (MMR) the result rows'
    // quantized vectors without a second corpus-sized fetch join
    if (keepVec)
      ranked.select(col("qid"), col("id"), col("cosine"), col("rank"),
        col("vq"))
    else ranked.select(col("qid"), col("id"), col("cosine"), col("rank"))
  }

  /** Deterministic Lloyd's k-means over the quantized vectors — the IVF
    * centroid-training step [[ivfTopK]]'s scaladoc declares pluggable.
    *
    * Determinism (required for the oracle/hash gates): init picks the k
    * corpus vectors with the smallest `xxhash64(id)` (a reproducible
    * pseudo-random spread, one TakeOrdered pass); assignment breaks
    * cosine ties by cid; per-dimension means are exact 64-bit integer
    * sums divided once — no partition-order-dependent float reduction
    * anywhere.
    *
    * Scale shape: the per-iteration driver state is k×dims longs (the
    * centroids — bounded, like any k-means driver loop), broadcast back
    * each round; each iteration is one corpus scan + one (cid, dim)
    * partial-aggregated shuffle of size k×dims. Empty clusters keep
    * their previous centroid. Returns (cid, cvec: array<double>) ready
    * for [[ivfTopK]]/[[ivfAssign]] (re-quantizing reproduces the
    * trained integer centroids exactly).
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = corpus.sparkSession
    graft.functions.Native.register(spark)
    val cosine = graft.functions.Native.cosineQ _
    val corpusQ = corpus.select(col("id"), quantize(col("vec")).as("vq"))
    var cents: Seq[(Int, Seq[Long])] = corpusQ
      .withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(k)
      .select(col("vq")).collect()
      .toSeq.zipWithIndex.map { case (r, i) => i -> r.getSeq[Long](0) }
    require(cents.nonEmpty, "kmeansCentroids: empty corpus")
    for (_ <- 1 to iters) {
      val centsDf = broadcast(
        spark.createDataFrame(cents).toDF("cid", "cq"))
      // Same skinny argmax shape as [[ivfAssign]] (r11): the former
      // per-id row_number window sorted n·k candidate rows CARRYING
      // the full quantized vector; max(struct(cosine, -cid)) is the
      // identical argmax (ties to the lowest cid) as a partial-
      // aggregated narrow-row pass, and vq is re-attached by one
      // n-row equi-join.
      val best = corpusQ.crossJoin(centsDf)
        .select(col("id"), struct(cosine(col("vq"), col("cq")).as("c"),
          (-col("cid")).as("negcid")).as("cand"))
        .groupBy(col("id"))
        .agg(max(col("cand")).as("m"))
        .select(col("id"), (-col("m.negcid")).as("cid"))
      val assigned = best.join(corpusQ, Seq("id"))
      val means: Map[Int, Seq[Long]] = assigned
        .select(col("cid"), posexplode(col("vq")).as(Seq("dim", "v")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(sort_array(collect_list(struct(col("dim"), col("s"), col("n"))))
          .as("sums"))
        .collect().map { r =>
          val cid = r.getInt(0)
          cid -> r.getSeq[Row](1).map(t =>
            math.round(t.getLong(1).toDouble / t.getLong(2)))
        }.toMap
      cents = cents.map { case (cid, prev) =>
        cid -> means.getOrElse(cid, prev) // empty cluster: keep centroid
      }
    }
    spark.createDataFrame(
      cents.map { case (cid, cq) => (cid, cq.map(_ / Scale.toDouble)) })
      .toDF("cid", "cvec")
  }

  // --- Product quantization (PQ) ---------------------------------------

  /** Train PQ codebooks: the vector space splits into `m` contiguous
    * subspaces and each runs the deterministic [[kmeansCentroids]] on
    * its slice of the corpus. Returns `codebooks(s)(c)` = quantized
    * sub-centroid `c` of subspace `s` — model parameters (m·k·subDim
    * longs, a few KB), legitimately driver-side like any trained model.
    *
    * At 100 TB: training cost is `m` passes over a SAMPLE (PQ codebooks
    * converge on samples; pass a sampled corpus), encode is one full
    * pass, and the resulting code table is dims·4/m× smaller than the
    * vectors — the scan-side win that makes billion-vector ANN
    * memory-bandwidth-feasible.
    */
  def pqTrain(corpus: DataFrame, m: Int, k: Int,
              iters: Int = 2): Seq[Seq[Seq[Long]]] = {
    val dims = corpus.select(size(col("vec"))).head.getInt(0)
    require(dims % m == 0, s"dims $dims not divisible into $m subspaces")
    val sub = dims / m
    (0 until m).map { s =>
      kmeansCentroids(corpus.select(col("id"),
          slice(col("vec"), s * sub + 1, sub).as("vec")), k, iters)
        .orderBy(col("cid")).collect()
        .map(_.getSeq[Double](1).map(v => math.round(v * Scale)).toSeq)
        .toSeq
    }
  }

  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Encode each vector as `m` sub-centroid codes (nearest by exact
    * integer L2² in each subspace, ties to the lowest code). One
    * codegen'd corpus pass; codebooks travel as a literal, no join. */
  def pqEncode(corpus: DataFrame, codebooks: Seq[Seq[Seq[Long]]]): DataFrame = {
    val m = codebooks.length
    val k = codebooks.head.length
    val sub = codebooks.head.head.length
    val cb = typedlit(codebooks)
    val vq = quantize(col("vec"))
    val codes = transform(sequence(lit(0), lit(m - 1)), s => {
      val subv = slice(vq, s * lit(sub) + lit(1), lit(sub))
      aggregate(sequence(lit(0), lit(k - 1)),
        struct(lit(-1).cast("int").as("c"), lit(Long.MaxValue).as("d")),
        (acc, c) => {
          val d = sqDist(subv, element_at(element_at(cb, s + lit(1)), c + lit(1)))
          when(d < acc.getField("d"),
            struct(c.cast("int").as("c"), d.as("d"))).otherwise(acc)
        }).getField("c")
    })
    corpus.select(col("id"), codes.as("codes"))
  }

  /** PQ approximate top-k with exact rerank (asymmetric distance
    * computation): per query, a small table of sub-dot-products against
    * every sub-centroid is precomputed once; scanning a vector then
    * costs `m` table lookups instead of `dims` multiplies, and the
    * approximate cosine uses the RECONSTRUCTED corpus norm (a second,
    * query-independent lookup table). The top-`rerank` candidates join
    * their real vectors back for an exact integer-cosine rerank — the
    * standard IVF-PQ refinement step, here over the full code table.
    * Engine-specific compression → rows-only driver check; recall vs
    * the exact scan is spec-asserted (SimilaritySpec).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             codebooks: Seq[Seq[Seq[Long]]], rerank: Int, k: Int): DataFrame =
    pqSearchEncoded(queries, pqEncode(corpus, codebooks), corpus,
      codebooks, rerank, k)

  /** Query-side ADC lookup table: dtab(s)(c) = <q_s, cb(s)(c)> (exact
    * longs) — scanning a coded vector then costs `m` lookups instead of
    * `dims` multiplies. */
  private def pqDtab(qv: Column, codebooks: Seq[Seq[Seq[Long]]]): Column = {
    val m = codebooks.length
    val nCent = codebooks.head.length
    val sub = codebooks.head.head.length
    val cb = typedlit(codebooks)
    transform(sequence(lit(0), lit(m - 1)), s =>
      transform(sequence(lit(0), lit(nCent - 1)), c =>
        dotQ(slice(qv, s * lit(sub) + lit(1), lit(sub)),
          element_at(element_at(cb, s + lit(1)), c + lit(1)))))
  }

  /** Reconstructed self-dot |x̂|² of a coded vector from the
    * query-independent per-centroid norm table. */
  private def pqSelfQ(codes: Column, codebooks: Seq[Seq[Seq[Long]]]): Column = {
    val ntab = typedlit(codebooks.map(_.map(c => c.map(x => x * x).sum)))
    aggregate(sequence(lit(0), lit(codebooks.length - 1)), lit(0L),
      (acc, s) => acc +
        element_at(element_at(ntab, s + lit(1)),
          element_at(codes, s + lit(1)) + lit(1)))
  }

  /** ADC approximate dot: m lookups into the query's dtab. */
  private def pqAdot(dtab: Column, codes: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
      (acc, s) => acc +
        element_at(element_at(dtab, s + lit(1)),
          element_at(codes, s + lit(1)) + lit(1)))

  /** Exact integer-cosine rerank of `(qid, id, qq)` candidates against
    * their real vectors — the refinement tail shared by the PQ paths. */
  private def exactRerank(cands: DataFrame, corpus: DataFrame,
                          k: Int): DataFrame = {
    val vecs = corpus.select(col("id"), quantize(col("vec")).as("cq"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    cands.join(vecs, "id")
      .withColumn("cosine", graft.functions.Native.cosineQ(col("qq"), col("cq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("cosine"), col("rank"))
  }

  /** PQ search over a PRE-BUILT code table — the serving path: at scale
    * the `(id, codes)` table is the persisted index (built once by
    * [[pqEncode]], like the IVF assignment table), and a search touches
    * codes + the `rerank` candidate vectors only. */
  def pqSearchEncoded(queries: DataFrame, codeTable: DataFrame,
                      corpus: DataFrame, codebooks: Seq[Seq[Seq[Long]]],
                      rerank: Int, k: Int): DataFrame = {
    graft.functions.Native.register(queries.sparkSession)
    val qv = quantize(col("qvec"))
    val q = broadcast(queries.select(col("qid"), qv.as("qq"),
      pqDtab(qv, codebooks).as("dtab")))
    // selfq is query-independent: compute it on the code table BEFORE
    // the query join, once per vector instead of once per (q, vector)
    val codeTab = codeTable
      .withColumn("selfq", pqSelfQ(col("codes"), codebooks))
    val approx = codeTab.join(q, col("qid") =!= col("id"))
      .withColumn("adot", pqAdot(col("dtab"), col("codes"), codebooks.length))
      .withColumn("ascore",
        col("adot").cast("double") / sqrt(col("selfq").cast("double")))
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("ascore").desc, col("id"))
    val cands = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= rerank)
      .select(col("qid"), col("id"), col("qq"))
    exactRerank(cands, corpus, k)
  }

  /** IVF-PQ — the production ANN serving shape (FAISS `IVFx,PQy`): IVF
    * routing prunes the scan to each query's `nprobe` inverted lists,
    * the in-list scan is PQ ADC (m table lookups per vector), and the
    * exact integer-cosine rerank restores precision on the shortlist.
    * Cost per query ≈ |probed lists| × m lookups + `rerank` real-vector
    * cosines — against a persisted `(cid, id, codes)` index table
    * partitioned by `cid`, searches are partition-pruned reads of the
    * probed lists only (same layout contract as [[ivfSearchAssigned]]).
    * Engine-specific compression → rows-only gate, recall spec-asserted
    * like the flat-PQ path. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                codebooks: Seq[Seq[Seq[Long]]], nprobe: Int, rerank: Int,
                k: Int): DataFrame = {
    val listCodes = ivfAssign(corpus, centroids).select(col("cid"), col("id"))
      .join(pqEncode(corpus, codebooks), "id")
    ivfPqSearchEncoded(queries, listCodes, corpus, centroids, codebooks,
      nprobe, rerank, k)
  }

  /** IVF-PQ search over a PRE-BUILT `(cid, id, codes)` list-code table
    * (the persisted index). */
  def ivfPqSearchEncoded(queries: DataFrame, listCodes: DataFrame,
                         corpus: DataFrame, centroids: DataFrame,
                         codebooks: Seq[Seq[Seq[Long]]], nprobe: Int,
                         rerank: Int, k: Int): DataFrame = {
    graft.functions.Native.register(queries.sparkSession)
    val qBase = nearestLists(
      queries.select(col("qid"), quantize(col("qvec")).as("qq")),
      quantCentroids(centroids), "qq", "qid", nprobe)
    val q = broadcast(qBase.withColumn("dtab", pqDtab(col("qq"), codebooks)))
    val scored = listCodes
      .withColumn("selfq", pqSelfQ(col("codes"), codebooks))
      .join(q, Seq("cid")) // routing join: only probed lists are scanned
      .filter(col("qid") =!= col("id"))
      .withColumn("adot", pqAdot(col("dtab"), col("codes"), codebooks.length))
      .withColumn("ascore",
        col("adot").cast("double") / sqrt(col("selfq").cast("double")))
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("ascore").desc, col("id"))
    val cands = scored.withColumn("r", row_number().over(wA))
      .filter(col("r") <= rerank)
      .select(col("qid"), col("id"), col("qq"))
    exactRerank(cands, corpus, k)
  }

  /** Near-duplicate pairs by cosine ≥ `minCosine`, bucketed by the LSH
    * signature (colinear vectors always share a signature, so exact
    * duplicates are never missed; near-dups are found with the usual
    * LSH recall).
    *
    * `bits` sizes the signature space (2^bits buckets): at corpus scale
    * raise it so expected bucket size N/2^bits stays in the hundreds —
    * 8 bits is right for 10^4..10^5 vectors, 20+ for 10^9. Buckets above
    * `maxBucket` are dropped before pair expansion (one degenerate
    * bucket — e.g. the zero vector — would otherwise do O(m²) work in a
    * single task); buckets in (`starBucket`, `maxBucket`] expand to STAR
    * pairs (pivot ↔ member, O(m)) instead of all pairs — a hot
    * near-identical cluster (27% of a skewed corpus in one bucket =
    * 17.6M all-pairs, measured 33× the uniform runtime) stays CONNECTED
    * for clustering consumers at linear cost, and every star pair still
    * passes the exact-cosine verify. Both degradations are observable
    * via the `graft_lsh_buckets` observe metric
    * (dropped_buckets / star_buckets / max_bucket).
    */
  def lshNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                      dims: Int, minCosine: Double, bits: Int = 8,
                      maxBucket: Int = graft.dedup.Dedup.DefaultMaxBucket,
                      tables: Int = 1,
                      persistBase: Boolean = true,
                      starBucket: Int = graft.dedup.Dedup.DefaultStarBucket)
      : DataFrame = {
    import graft.functions.Native
    import graft.ops.Ops.materializedColumn
    Native.register(vectors.sparkSession)
    // Pin the quantized vector behind a generator barrier: the signature
    // reads it once per (plane, dim) — inlined, the whole quantize
    // transform would re-run per element_at (dims × bits × per row).
    // `tables` > 1 = OR amplification: each table hashes with an
    // INDEPENDENT hyperplane family (plane offset = table·bits); a pair
    // is a candidate if it collides in ANY table. Recall rises
    // monotonically with tables; precision is unaffected because every
    // candidate is verified by exact cosine.
    val base0 = materializedColumn(
      vectors.select(col(idCol).as("id"), col(vecCol).as("v")),
      "q", quantize(col("v")))
      .select(col("id"), col("q"))
    val base =
      if (persistBase)
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    // Bucket and pair on IDS ONLY — the same shape as the MinHash
    // pipeline. Carrying the quantized vectors through collect_list /
    // pair expansion / (tables>1) distinct would copy dims longs per
    // struct per expression step — O(pairs · dims) allocation, and a
    // shuffle of vector payloads per dedup exchange. Ids keep the band
    // shuffle O(rows), the pair dedup O(pairs · 16 bytes), and the
    // vectors are joined back exactly once per side AFTER dedup (an
    // 11k-vector corpus auto-broadcasts; at 10^9 rows this becomes two
    // hash joins keyed on id — still linear in candidates, never in
    // candidates × dims).
    val sigs = base.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        Native.hyperplaneSig(col("q"), bits, t * bits)): _*))
        .as(Seq("tbl", "sig")))
    val cand0 = graft.dedup.Dedup.capBuckets(
      sigs
        .groupBy(col("tbl"), col("sig"))
        .agg(collect_list(col("id")).as("ids")),
      size(col("ids")), "graft_lsh_buckets", maxBucket, starBucket)
      .select(explode(
        when(size(col("ids")) <= lit(starBucket),
          graft.dedup.Dedup.pairsFromIds(col("ids")))
          .otherwise(graft.dedup.Dedup.starPairsFromIds(col("ids")))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
    // same pair can collide in several tables -> dedup before the verify
    val cand = if (tables > 1) cand0.distinct() else cand0
    // `base` is referenced by the sig branch and both join sides; the
    // default persist above makes that ONE corpus scan (ContextCleaner
    // reclaims the blocks when the caller drops the result; a caller
    // holding the result releases them via Dedup.releaseCache — or pass
    // persistBase=false to own the lifecycle, e.g. pre-written indexes).
    cand
      .join(base.select(col("id").as("id1"), col("q").as("q1")), Seq("id1"))
      .join(base.select(col("id").as("id2"), col("q").as("q2")), Seq("id2"))
      .withColumn("cosine", Native.cosineQ(col("q1"), col("q2")))
      .filter(col("cosine") >= minCosine)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (the published method:
    * cluster embeddings with k-means, then prune near-duplicates
    * WITHIN each cluster — clustering bounds the candidate space so
    * the quadratic pair work never crosses cluster borders). Every
    * corpus row comes back flagged: (id, cid, ccos, kept) where ccos
    * is the quantized cosine to the assigned centroid and `kept` is
    * decided by a deterministic, order-free dominance rule: a vector
    * drops iff some same-cluster vector with quantized cosine >=
    * `minCosine` to it is MORE CENTRAL (higher ccos; ties keep the
    * lower id). Unlike the paper's greedy sweep this needs no
    * sequential pass — it is one pair join + partial-aggregated
    * distinct, and it is exactly mirrorable in SQL.
    *
    * Scale shape: assignment is [[ivfAssign]]'s one linear corpus pass
    * (centroids broadcast, skinny agg). Clusters are candidate buckets
    * in exactly the LSH pipeline's three regimes — all-pairs up to
    * `starBucket`, O(m) pivot pairs to `maxBucket`, dropped (and
    * counted via `graft_semdedup_clusters` observe metrics) above.
    * Pair expansion carries IDS ONLY; vectors join back once per side.
    * At 100 TB the knobs are the ones the paper itself turns: train k
    * on a sample, grow k with the corpus so cluster occupancy stays
    * bounded, persist the assignment `partitionBy(cid)` and prune per
    * cluster.
    *
    * PRECONDITION: `corpus.id` unique (inherited from [[ivfAssign]]).
    * Callers own releasing the internal cache via
    * [[graft.dedup.Dedup.releaseCache]] once the result is consumed. */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
                    minCosine: Double,
                    maxBucket: Int = graft.dedup.Dedup.DefaultMaxBucket,
                    starBucket: Int = graft.dedup.Dedup.DefaultStarBucket)
      : DataFrame = {
    import graft.functions.Native
    Native.register(corpus.sparkSession)
    val cos = Native.cosineQ _
    val assigned = ivfAssign(corpus, centroids)
      .join(quantCentroids(centroids), Seq("cid"))
      .select(col("cid"), col("id"), col("vq"),
        cos(col("vq"), col("cq")).as("ccos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = graft.dedup.Dedup.capBuckets(
        assigned.groupBy(col("cid")).agg(collect_list(col("id")).as("ids")),
        size(col("ids")), "graft_semdedup_clusters", maxBucket, starBucket)
      .select(explode(
        when(size(col("ids")) <= lit(starBucket),
          graft.dedup.Dedup.pairsFromIds(col("ids")))
          .otherwise(graft.dedup.Dedup.starPairsFromIds(col("ids")))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
    // Of an over-threshold pair the LESS central member drops (tie: the
    // higher id). The dominance rule is monotone — extra pairs can only
    // re-confirm drops — so the star regime degrades recall (only
    // pivot-adjacent pairs examined), never correctness.
    val dropped = pairs
      .join(assigned.select(col("id").as("id1"), col("vq").as("q1"),
        col("ccos").as("c1")), Seq("id1"))
      .join(assigned.select(col("id").as("id2"), col("vq").as("q2"),
        col("ccos").as("c2")), Seq("id2"))
      .filter(cos(col("q1"), col("q2")) >= lit(minCosine))
      .select(when(col("c1") < col("c2") ||
          (col("c1") === col("c2") && col("id1") > col("id2")), col("id1"))
        .otherwise(col("id2")).as("id"))
      .distinct()
    assigned
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cid"), col("ccos"),
        coalesce(col("__drop"), lit(false)).unary_!.as("kept"))
  }
}
