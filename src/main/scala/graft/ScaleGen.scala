package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up replicator for the driver's testdata: builds an sf(0.1×F)
  * directory from sf0.1 by F-way replication with DISJOINT key spaces,
  * so every join keeps its per-shard selectivity and the scaling shape
  * of a query is exactly "same plan, F× the rows" — the property the
  * 100×-scale bench evidence needs. Layout matches the driver's
  * (one flat `<table>.parquet` file each, readable by both Spark and
  * DuckDB's `read_parquet`), so Bench/Verify/check.py run unmodified
  * against the output.
  *
  * Copy-decorrelation, so similarity workloads scale linearly instead
  * of discovering F exact copies of everything:
  *  - `documents.text` goes through a per-copy alphabet rotation
  *    (token boundaries, lengths and within-copy duplicate structure
  *    are preserved; shingle sets across copies are disjoint);
  *  - `embeddings.embedding` gets deterministic per-(copy,id,dim)
  *    noise (±0.2), decorrelating cross-copy cosine while keeping
  *    within-copy neighborhoods.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <dstDir> <factor> [skew|skeworder]
  *
  * The optional `skew` mode replaces uniform replication with a zipf-ish
  * shape (hot join/group keys, one dominant text block, a hot embedding
  * cluster — see the skew-mode comment in `main`) for the degradation
  * campaigns; copy 0 stays pristine and keyspaces stay disjoint.
  *
  * The `skeworder` mode heats GROUP SIZE instead of value frequency:
  * 30% of each replicated copy's lineitem rows collapse onto copy-0's
  * first orderkey — one mega-order holding ~27% of the fact table, the
  * per-group-expansion killer (q_pagerank's co-occurrence derivation,
  * any per-order clique) that `skew` mode never makes because it heats
  * l_partkey/l_suppkey under unchanged orderkeys. FK joins still
  * resolve (the hot order exists in copy-0's orders).
  *
  * The `dim` mode inflates DIMENSION cardinality instead of fact
  * volume: customer/supplier/part/orders/lineitem replicate F-way with
  * disjoint keys (so distinct custkeys/partkeys — the window inputs of
  * q_rfm / q_pareto_abc and every dimension-sized join side — grow
  * F×, each customer keeping its sparse handful of orders), per-copy
  * cent-offsets decorrelate l_extendedprice so value-domain-keyed
  * shuffles (q_profile_numeric's exact-ndv pass) grow with the corpus
  * instead of collapsing onto a fixed 583k-value domain, and the
  * corpus tables (events/documents/embeddings) pass through untouched.
  * Fact-scaling replicas exercise "same dims, F× the rows"; this one
  * exercises "F× the dimension" — the shape where a global window or
  * a broadcast of 'the small side' dies first. Factor may exceed 26
  * here (no alphabet rotation is consumed).
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val (srcDir, dstDir, fStr, mode) = args match {
      case Array(s, d, f)    => (s, d, f, "")
      case Array(s, d, f, m) if Set("skew", "skeworder", "dim")(m) =>
        (s, d, f, m)
      case _ =>
        sys.error("usage: ScaleGen <srcSfDir> <dstDir> <factor> [skew|skeworder|dim]")
    }
    val skew = mode == "skew"
    val orderSkew = mode == "skeworder"
    val dimMode = mode == "dim"
    val factor = fStr.toInt
    // 26: alphabet rotations (dim mode leaves documents untouched)
    require(factor >= 1 && factor <= (if (dimMode) 64 else 26),
      s"factor must be in [1,${if (dimMode) 64 else 26}]")
    val spark = Session.builder("graft-scalegen").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(dstDir))

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    // Keys are 0-based, so the disjoint-copy stride is max+1 — a stride
    // of max would overlap each copy's key 0 with the previous copy's
    // max (9 duplicate orderkeys at factor 10, which a MERGE source
    // rightly rejects as a cardinality violation).
    def maxOf(t: String, c: String): Long =
      src(t).agg(max(col(c)).cast("long")).head.getLong(0) + 1L

    val maxCust = maxOf("customer", "c_custkey")
    val maxSupp = maxOf("supplier", "s_suppkey")
    val maxPart = maxOf("part", "p_partkey")
    val maxOrd = maxOf("orders", "o_orderkey")
    val maxEvent = maxOf("events", "event_id")
    val maxUser = maxOf("events", "user_id")
    val maxDoc = maxOf("documents", "doc_id")
    val maxVec = maxOf("embeddings", "vec_id")

    /** F copies of `t`, copy i transformed by `f(df, i)`. Copy 0 is the
      * untouched original, so sf0.1 is a strict subset of the output. */
    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = src(t)
      (0 until factor).map(i => f(base, i)).reduce(_ unionByName _)
    }
    def shift(df: DataFrame, c: String, by: Long): DataFrame =
      df.withColumn(c, (col(c) + lit(by)).cast(df.schema(c).dataType))

    val lower = "abcdefghijklmnopqrstuvwxyz"
    def rot(s: String, i: Int) = s.drop(i) + s.take(i)

    // ---- skew mode -------------------------------------------------
    // Uniform replication proves "same plan, F x the rows"; real corpora
    // are zipf. `skew` keeps copy 0 pristine and, in copies i>=1,
    // collapses a deterministic slice of each distribution onto ONE hot
    // value, producing the shapes a 100 TB cluster actually fights:
    //  - hot JOIN/GROUP keys (30% of replicated lineitem rows on one
    //    partkey/suppkey, orders on one custkey, events on one user_id
    //    => one hash partition carries ~27% of the fact table; AQE's
    //    skew-split must absorb the join side, and windows/groupBys
    //    over the key see a giant single group);
    //  - a dominant text block (80% of replicated documents forced to
    //    one lang+source => blocking keys built from metadata go hot;
    //    the capped-bucket metrics must REPORT drops, not die);
    //  - a hot embedding cluster (30% of replicated vectors collapsed
    //    onto copy-0's first vector +-0.001 noise => one LSH bucket /
    //    IVF list holds a third of the corpus).
    // The hot values come from copy 0, so FK joins still resolve and
    // every copy's keyspace stays disjoint.
    def minOf(t: String, c: String): Long =
      src(t).agg(min(col(c)).cast("long")).head.getLong(0)
    lazy val hotPart = minOf("part", "p_partkey")
    lazy val hotOrd = minOf("orders", "o_orderkey")
    lazy val hotSupp = minOf("supplier", "s_suppkey")
    lazy val hotCust = minOf("customer", "c_custkey")
    lazy val hotUser = minOf("events", "user_id")
    lazy val hotSource = src("documents").select(col("source"))
      .orderBy(col("source")).head.getString(0)
    lazy val hotVec: Seq[Float] =
      src("embeddings").orderBy(col("vec_id")).select(col("embedding"))
        .head.getSeq[Float](0)
    /** 30%-slice predicate, decorrelated per copy and per column role. */
    def slice(keyCol: String, i: Int, role: Int, pct: Int) =
      pmod(hash(col(keyCol), lit(i * 7 + role)), lit(100)) < lit(pct)
    def hotIf(df: DataFrame, keyCol: String, target: String, hot: Long,
              i: Int, role: Int, pct: Int = 30): DataFrame =
      if (!skew || i == 0) df
      else df.withColumn(target,
        when(slice(keyCol, i, role, pct), lit(hot)).otherwise(col(target)))

    // dim mode: replicate only the star-schema tables (disjoint keys,
    // same FK integrity), decorrelate prices by a per-copy cent offset
    // (exact at DECIMAL(12,2): doubles hold cents exactly at these
    // magnitudes), leave the corpus tables at source size.
    if (dimMode) {
      val tables: Seq[(String, DataFrame)] = Seq(
        "region" -> src("region"),
        "nation" -> src("nation"),
        "customer" -> replicate("customer")((d, i) =>
          shift(d, "c_custkey", i * maxCust)),
        "supplier" -> replicate("supplier")((d, i) =>
          shift(d, "s_suppkey", i * maxSupp)),
        "part" -> replicate("part")((d, i) =>
          shift(d, "p_partkey", i * maxPart)),
        "orders" -> replicate("orders")((d, i) =>
          shift(shift(d, "o_orderkey", i * maxOrd), "o_custkey", i * maxCust)),
        "lineitem" -> replicate("lineitem") { (d, i) =>
          val keyed = shift(shift(shift(d, "l_orderkey", i * maxOrd),
            "l_partkey", i * maxPart), "l_suppkey", i * maxSupp)
          if (i == 0) keyed
          else keyed.withColumn("l_extendedprice",
            col("l_extendedprice") + lit(i * 0.01))
        },
        "events" -> src("events"),
        "documents" -> src("documents"),
        "embeddings" -> src("embeddings"))
      write(tables, dstDir)
      spark.stop()
      return
    }

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> replicate("customer")((d, i) => shift(d, "c_custkey", i * maxCust)),
      "supplier" -> replicate("supplier")((d, i) => shift(d, "s_suppkey", i * maxSupp)),
      "part" -> replicate("part")((d, i) => shift(d, "p_partkey", i * maxPart)),
      "orders" -> replicate("orders") { (d, i) =>
        val base = shift(shift(d, "o_orderkey", i * maxOrd), "o_custkey", i * maxCust)
        hotIf(base, "o_orderkey", "o_custkey", hotCust, i, role = 1)
      },
      "lineitem" -> replicate("lineitem") { (d, i) =>
        val base = shift(shift(shift(d, "l_orderkey", i * maxOrd),
          "l_partkey", i * maxPart), "l_suppkey", i * maxSupp)
        val valueHot =
          hotIf(hotIf(base, "l_orderkey", "l_partkey", hotPart, i, role = 2),
            "l_orderkey", "l_suppkey", hotSupp, i, role = 3)
        // skeworder: one mega-ORDER (group-size skew) — 30% of this
        // copy's rows join the hot orderkey; sliced on l_partkey so
        // the slice stays deterministic after l_orderkey moves
        if (!orderSkew || i == 0) valueHot
        else valueHot.withColumn("l_orderkey",
          when(slice("l_partkey", i, role = 7, pct = 30), lit(hotOrd))
            .otherwise(col("l_orderkey")))
      },
      "events" -> replicate("events") { (d, i) =>
        val base = shift(shift(d, "event_id", i * maxEvent), "user_id", i * maxUser)
        hotIf(base, "event_id", "user_id", hotUser, i, role = 4)
      },
      "documents" -> replicate("documents") { (d, i) =>
        val base = shift(d, "doc_id", i * maxDoc).withColumn("text",
          translate(col("text"),
            lower + lower.toUpperCase, rot(lower, i) + rot(lower, i).toUpperCase))
        if (!skew || i == 0) base
        else base
          .withColumn("lang",
            when(slice("doc_id", i, 5, 80), lit("en")).otherwise(col("lang")))
          .withColumn("source",
            when(slice("doc_id", i, 5, 80), lit(hotSource)).otherwise(col("source")))
      },
      "embeddings" -> replicate("embeddings") { (d, i) =>
        val noisy =
          if (i == 0) d
          else d.withColumn("embedding", expr(
            s"""transform(embedding, (x, j) ->
               |  cast(x + (pmod(hash(vec_id, j, $i), 2001) - 1000) / 5000.0
               |       as float))""".stripMargin))
        val clustered =
          if (!skew || i == 0) noisy
          else {
            // 30% of this copy's vectors collapse onto copy-0's first
            // vector plus per-(row,dim) noise of +-0.001 — one near-dup
            // cluster holding ~27% of the corpus, the hot-LSH-bucket /
            // hot-IVF-list shape.
            val hotArr = hotVec.map(v => s"cast($v as float)")
              .mkString("array(", ",", ")")
            noisy.withColumn("embedding",
              when(slice("vec_id", i, 6, 30),
                expr(s"""transform($hotArr, (x, j) ->
                        |  cast(x + (pmod(hash(vec_id, j), 21) - 10) / 10000.0
                        |       as float))""".stripMargin))
                .otherwise(col("embedding")))
          }
        shift(clustered, "vec_id", i * maxVec)
      }
    )

    write(tables, dstDir)
    spark.stop()
  }

  private def write(tables: Seq[(String, DataFrame)], dstDir: String): Unit =
    tables.foreach { case (t, df) =>
      val tmp = s"$dstDir/_tmp_$t"
      // Small row groups (4 MB uncompressed buffer vs the 128 MB
      // default): a Spark scan can parallelize at most one task per row
      // group, and the coalesce(1) flat file would otherwise carry a
      // handful of giant groups — sf2 orders measured 6 groups, capping
      // every per-row-heavy query at 6 of 32 cores and masquerading as
      // super-linear scaling. Real cluster tables have thousands of
      // groups; this makes the local evidence runs representative.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 4L * 1024 * 1024)
        .parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $t"))
      Files.move(part, Paths.get(s"$dstDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // drop the now-empty staging dir (and its _SUCCESS marker)
      Files.list(Paths.get(tmp)).iterator().asScala.foreach(Files.delete)
      Files.delete(Paths.get(tmp))
      println(s"[scalegen] $t -> $dstDir/$t.parquet")
    }

  private implicit class IterWrap[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }
}
