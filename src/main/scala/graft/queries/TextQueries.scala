package graft.queries

import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Text-analysis EXT queries over the documents table. Regex patterns
  * are restricted to the RE2 ∩ java.util.regex common subset so the
  * DuckDB oracle computes byte-identical results; DuckDB's
  * regexp_replace needs the 'g' flag to match Spark's replace-all
  * default.
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "of", "and", "is")

  /** sf-dir of the most recent BPE train in this JVM — same dynamic-
    * oracle mechanism as SimQueries' trained-ANN sidecars: Verify runs
    * every query before dumping oracleSql, so by dump time the trained
    * merges exist and ride into the mirror as literal replacements. */
  @volatile private var lastDir: Option[String] = None

  /** The model sidecars are tab-separated, newline-delimited text: a
    * trained token containing either separator would round-trip
    * corrupt (and a quote is handled by [[esc]] at SQL-embed time, not
    * here). Reject LOUDLY at write time — the `Bpe.train` overflow-
    * guard discipline — rather than persist a silently-broken model. */
  private def sidecarSafe(what: String, t: String): String = {
    require(!t.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"$what token '${t.take(40)}' contains a tab/newline — " +
        "unrepresentable in the TSV model sidecar")
    t
  }

  /** Train the BPE merge table once and persist it — the production
    * split a tokenizer assumes: fit OFFLINE on the corpus, tokenize
    * online. Bench trains untimed via `prepares`; Verify rebuilds
    * every run (no reuse marker), so the oracle gate covers training. */
  private def bpeModel(s: org.apache.spark.sql.SparkSession,
                       dir: String): Seq[(String, String)] = {
    import java.nio.file.{Files, Paths}
    val path = scratchDir("bpe_model", dir)
    val file = Paths.get(path, "merges.txt")
    lastDir = Some(dir)
    ensureSetup(path) {
      val m = graft.text.Bpe.train(table(s, dir, "documents"), "text",
        merges = 24, maxVocab = 100000)
      Files.createDirectories(file.getParent)
      Files.writeString(file,
        m.map { case (l, r) =>
          s"${sidecarSafe("bpe", l)}\t${sidecarSafe("bpe", r)}"
        }.mkString("\n"))
    }
    Files.readString(file).split('\n').toSeq.filter(_.nonEmpty).map { ln =>
      val Array(l, r) = ln.split('\t'); (l, r)
    }
  }

  private def readBpeSidecar(dir: String): Option[Seq[(String, String)]] = {
    val f = java.nio.file.Paths.get(scratchDir("bpe_model", dir), "merges.txt")
    if (!java.nio.file.Files.exists(f)) None
    else Some(java.nio.file.Files.readString(f).split('\n').toSeq
      .filter(_.nonEmpty).map { ln =>
        val Array(l, r) = ln.split('\t'); (l, r)
      })
  }

  /** Train the perplexity-filter bigram LM once on the REFERENCE slice
    * (doc_id % 5 != 0 — the CCNet shape: fit on curated data, score
    * the crawl) and persist it; held-out docs then exercise the
    * backoff path value-level. Same train/serve split as bpeModel. */
  private def lmModel(s: org.apache.spark.sql.SparkSession,
                      dir: String): graft.text.Lm.BigramModel = {
    import java.nio.file.{Files, Paths}
    val path = scratchDir("lm_model", dir)
    val file = Paths.get(path, "lm.txt")
    lastDir = Some(dir)
    ensureSetup(path) {
      val ref = table(s, dir, "documents").filter(col("doc_id") % 5 =!= 0)
      val m = graft.text.Lm.train(ref, "text", maxBigrams = 200000)
      Files.createDirectories(file.getParent)
      val lines =
        Seq(s"V\t${m.floorLp}") ++
          m.bigrams.map { case (a, b, lp) =>
            s"B\t${sidecarSafe("lm", a)}\t${sidecarSafe("lm", b)}\t$lp" } ++
          m.histories.map { case (a, lp) =>
            s"H\t${sidecarSafe("lm", a)}\t$lp" }
      Files.writeString(file, lines.mkString("\n"))
    }
    readLmSidecar(dir).get
  }

  private def readLmSidecar(dir: String): Option[graft.text.Lm.BigramModel] = {
    val f = java.nio.file.Paths.get(scratchDir("lm_model", dir), "lm.txt")
    if (!java.nio.file.Files.exists(f)) None
    else {
      val lines = java.nio.file.Files.readString(f).split('\n')
        .filter(_.nonEmpty).toSeq
      val floor = lines.collectFirst {
        case l if l.startsWith("V\t") => l.split('\t')(1).toLong
      }.get
      val bgs = lines.collect { case l if l.startsWith("B\t") =>
        val Array(_, a, b, lp) = l.split('\t'); (a, b, lp.toLong)
      }
      val hs = lines.collect { case l if l.startsWith("H\t") =>
        val Array(_, a, lp) = l.split('\t'); (a, lp.toLong)
      }
      Some(graft.text.Lm.BigramModel(bgs, hs, floor))
    }
  }

  /** Train the NB log-count-ratio language classifier once on the
    * labeled slice (doc_id % 5 != 0; y = lang = 'en' — the fastText
    * language-ID shape) and persist it. Same train/serve split and
    * sidecar-to-oracle mechanism as bpeModel/lmModel. */
  private def clsModel(s: org.apache.spark.sql.SparkSession,
                       dir: String): graft.text.Classifier.NbModel = {
    import java.nio.file.{Files, Paths}
    val path = scratchDir("cls_model", dir)
    val file = Paths.get(path, "cls.txt")
    lastDir = Some(dir)
    ensureSetup(path) {
      val labeled = table(s, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0)
        .withColumn("y", col("lang") === "en")
      val m = graft.text.Classifier.train(labeled, "text", "y",
        maxVocab = 50000)
      Files.createDirectories(file.getParent)
      val lines = Seq(s"B\t${m.bias}", s"D\t${m.defaultW}") ++
        m.weights.map { case (t, w) => s"W\t${sidecarSafe("cls", t)}\t$w" }
      Files.writeString(file, lines.mkString("\n"))
    }
    readClsSidecar(dir).get
  }

  private def readClsSidecar(dir: String)
      : Option[graft.text.Classifier.NbModel] = {
    val f = java.nio.file.Paths.get(scratchDir("cls_model", dir), "cls.txt")
    if (!java.nio.file.Files.exists(f)) None
    else {
      val lines = java.nio.file.Files.readString(f).split('\n')
        .filter(_.nonEmpty).toSeq
      def one(p: String): Long = lines.collectFirst {
        case l if l.startsWith(p) => l.split('\t')(1).toLong
      }.get
      val ws = lines.collect { case l if l.startsWith("W\t") =>
        val Array(_, t, w) = l.split('\t'); (t, w.toLong)
      }
      Some(graft.text.Classifier.NbModel(ws, one("D\t"), one("B\t")))
    }
  }

  val prepares: Map[String, (org.apache.spark.sql.SparkSession, String) => Unit] =
    checked("text_bpe_train" -> ((s, d) => { bpeModel(s, d); () }),
      "text_perplexity" -> ((s, d) => { lmModel(s, d); () }),
      "text_classify" -> ((s, d) => { clsModel(s, d); () }))

  val defs: Map[String, Q] = checked(
    // TRAINED tokenizer: learn a BPE merge table from the corpus
    // (distributed word-count pass + driver merge loop over the
    // bounded vocabulary — see graft.text.Bpe), then tokenize every
    // document with it. The oracle re-applies the trained merges as
    // nested literal replacements, so the APPLICATION is verified
    // value-level at any scale while the merge table itself is pinned
    // by hand-computed unit tests on the reference corpus.
    // Perplexity filter (the published reference-LM curation step):
    // score every document with a pruned bigram LM trained on the
    // reference slice. All logs are quantized to integer micro-nats at
    // train time, so the statistical score is hash-gate exact; the
    // held-out docs (doc_id % 5 = 0) exercise the backoff path.
    "text_perplexity" -> { (s, dir) =>
      val model = lmModel(s, dir)
      graft.text.Lm.score(table(s, dir, "documents"), "doc_id", "text", model)
        .orderBy(col("doc_id"))
    },

    // TRAINED text classifier (fastText-style curation filter): NB
    // log-count-ratio weights fit on the labeled slice, scoring every
    // document — held-out docs (doc_id % 5 = 0) exercise generalization
    // and the OOV default-weight path. Weights are integer micro-logits
    // (see graft.text.Classifier), so the statistical score is pure
    // integer join+sum on both engines and hash-gate exact.
    "text_classify" -> { (s, dir) =>
      val model = clsModel(s, dir)
      graft.text.Classifier.score(table(s, dir, "documents"), "doc_id",
          "text", model)
        .orderBy(col("doc_id"))
    },

    "text_bpe_train" -> { (s, dir) =>
      val merges = bpeModel(s, dir)
      // Fused application (r11): canonical() + |merges| replace()
      // passes + two length() scans made every document pay ~26 full-
      // string traversals with allocation; BpeStatsExpr does the same
      // merge discipline over per-word symbol arrays in one pass
      // (bit-equal by construction on '/'-free BMP text, exact
      // replace-chain fallback otherwise — BpeFusedProps pins both
      // paths against the original column composition). The oracle
      // mirror (nested replace() SQL) is unchanged.
      graft.functions.Native.register(s)
      import graft.ops.Ops.materializedColumn
      val withS = materializedColumn(table(s, dir, "documents"), "bs",
        graft.functions.Native.bpeStats(col("text"),
          lit(merges.map(_._1).toArray), lit(merges.map(_._2).toArray)))
      withS.select(col("doc_id"), col("bs.n_words").as("n_words"),
          col("bs.n_bpe_tokens").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    // Token statistics: counts + average token length. The token array
    // is pinned behind a generator barrier (materializedColumn) so the
    // tokenize runs ONCE per row — inlined, each of the four projections
    // would re-tokenize, and subexpression elimination does not reach
    // into the higher-order-function lambdas.
    // Sequence PACKING for training: concatenate documents in doc_id
    // order and cut every 2048 tokens — the index a data loader needs:
    // each doc's global token offset, its sequence id, and its offset
    // within that sequence (concat-and-chunk, the standard packing used
    // when short documents would otherwise waste context window).
    // The global prefix sum rides [[RelationalQueries.shardedPrefix]]
    // (r11, closing the r10 verdict's item 6): the former hand-rolled
    // two-phase form cut fixed 1000-doc shards, so its upper cumsum
    // window carried corpus/1000 rows through ONE task — fine to ~1e9
    // docs but the exact funnel shape q15 paid to remove. shardedPrefix
    // range-shards to spark.sql.shuffle.partitions, so the only
    // unpartitioned window rides a CLUSTER-sized row count (one row per
    // shard) at any corpus size. Bit-identical output: doc_id is a
    // total order and Long addition is associative; the inclusive
    // running sum minus the row's own count is the exclusive offset.
    "text_pack" -> { (s, dir) =>
      val seqLen = 2048L
      // pinned: range-bound sampling and the shuffle itself both
      // consume the projection — tokenize once, 2 longs per doc
      val docs = table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .localCheckpoint()
      RelationalQueries.shardedPrefix(docs, Seq(col("doc_id")),
          rankOut = "__rank", sums = Seq((col("n_tokens"), "__run")))
        .withColumn("start_offset", col("__run") - col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          expr(s"start_offset DIV $seqLen").as("seq_id"),
          pmod(col("start_offset"), lit(seqLen)).as("offset_in_seq"))
        .orderBy(col("doc_id"))
    },

    // One fused native byte pass (TokenStatsExpr) computes the token
    // count and char total; the former shape pinned the token array,
    // built EVERY trigram string just to count them (n_shingles =
    // max(n-2, 0) by construction — wordShingles yields n-2 grams when
    // n >= 3, else empty), and ran two interpreted aggregate-HOF walks
    // for the char totals.
    "text_tokens" -> { (s, dir) =>
      import graft.ops.Ops.materializedColumn
      graft.functions.Native.register(s)
      val withS = materializedColumn(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "st", TextOps.tokenStatsFused(col("text")))
      withS.select(col("doc_id"),
          col("st.n_tokens").as("n_tokens"),
          greatest(col("st.n_tokens") - 2, lit(0)).as("n_shingles"),
          col("st.total_chars").as("total_chars"),
          (col("st.total_chars").cast("double") / col("st.n_tokens"))
            .as("avg_token_len"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: stopword dominance + garbage ratio + length
    // credit. Tokens pinned once (generator barrier) — the four
    // projections would otherwise tokenize ~6x per row.
    // CAPSTONE curation pipeline — the composition a real corpus run
    // executes as ONE declarative plan: quality-score filter (length ×
    // stopword × garbage credits) → exact dedup on the normalized-text
    // fingerprint (min-id keeper beats the planted copies) → per-
    // language stratified cap via census broadcast + exact integer
    // hash threshold. Every stage is an already-oracle-proven
    // component; composing them costs two partial-agg shuffles
    // (fingerprint groups, language census) over one corpus scan.
    "text_curation_pipeline" -> { (s, dir) =>
      import graft.ops.Ops.materializedColumn
      graft.functions.Native.register(s)
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val corpus = d.unionByName(d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      // quality via the fused single-pass TextQualityExpr (the tokens
      // were only ever consumed by the quality score here)
      val q = materializedColumn(corpus, "m",
          TextOps.qualityMetrics(col("text"), stopwords))
        .withColumn("quality", col("m.quality"))
        .filter(col("quality") >= 0.5)
      // project BEFORE the dedup group-by: the fingerprint shuffle
      // then moves (id, lang, quality, fp), not the document payloads
      val deduped = graft.dedup.Dedup.exactKeepMin(
        q.withColumn("fp", TextOps.fingerprint(col("text")))
          .select(col("doc_id"), col("lang"), col("quality"), col("fp")),
        col("fp"), col("doc_id"))
      graft.dedup.Dedup.stratifiedCap(deduped, col("lang"),
          col("doc_id"), cap = 30)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // One fused native pass (TextQualityExpr) replaces the r3 shape's
    // four interpreted HOF walks + two regexp scans per row — same
    // oracle, ~10x the throughput on the suite's former slowest query.
    "text_quality" -> { (s, dir) =>
      import graft.ops.Ops.materializedColumn
      graft.functions.Native.register(s)
      val withM = materializedColumn(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "m", TextOps.qualityMetrics(col("text"), stopwords))
      withM.select(col("doc_id"),
          col("m.n_tokens").as("n_tokens"),
          col("m.stop_ratio").as("stop_ratio"),
          col("m.nonalnum_ratio").as("nonalnum_ratio"),
          col("m.quality").as("quality"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition filters (Rae et al. 2021 §A1.1): top/
    // duplicate n-gram fractions and a keep flag at corpus-calibrated
    // thresholds. ONE fused native byte pass per row (GopherStatsExpr)
    // computes the whole family — ZERO shuffle, no explode, no shingle
    // strings materialized: the 100 TB shape is a pure map over the
    // corpus scan. Bit-identical to the pinned-HOF formulation the
    // oracle mirrors (ExtSpec proves it). (The documents corpus has no
    // newlines, so Gopher's line-level metrics are vacuous here; the
    // n-gram family is the discriminating one.)
    "text_gopher_quality" -> { (s, dir) =>
      import graft.ops.Ops.materializedColumn
      graft.functions.Native.register(s)
      val withG = materializedColumn(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "g", TextOps.gopherMetrics(col("text")))
      withG.select(col("doc_id"),
          col("g.n_tokens").as("n_tokens"),
          col("g.dup_token_frac").as("dup_token_frac"),
          col("g.top_bigram_frac").as("top_bigram_frac"),
          col("g.dup_bigram_frac").as("dup_bigram_frac"),
          col("g.top_trigram_frac").as("top_trigram_frac"))
        .withColumn("keep",
          col("top_bigram_frac") <= 0.05 && col("dup_bigram_frac") <= 0.05 &&
            col("top_trigram_frac") <= 0.04)
        .orderBy(col("doc_id"))
    },

    // Stopword-profile language ID (deterministic heuristic). ALL
    // profile scores come from ONE fused native tokenize pass
    // (LangScoresExpr) pinned as an array<int>; the winner is picked
    // from O(1) element_at reads of the pinned array (the former shape
    // pinned the token array and ran one interpreted filter-HOF walk
    // per profile).
    "text_langid" -> { (s, dir) =>
      import graft.ops.Ops.materializedColumn
      graft.functions.Native.register(s)
      val withSc = materializedColumn(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "sc", TextOps.langScoresFused(col("text")))
      val pinned = TextOps.langProfiles.zipWithIndex.map { case ((l, _), i) =>
        l -> element_at(col("sc"), i + 1)
      }
      withSc.select(
          (col("doc_id") +:
            TextOps.langIdFromScores(pinned).as("lang_guess") +:
            pinned.map { case (l, c) => c.as(s"s_$l") }): _*)
        .orderBy(col("doc_id"))
    },

    // FLAGSHIP composition: the training-corpus preparation pipeline a
    // 100 TB data job runs end-to-end — exact dedup (full corpus, must
    // see every copy) → deterministic hash sample (cheap gate BEFORE
    // paying per-doc scoring) → pinned single tokenize → quality gate →
    // language gate → corpus stats. Every stage is one of the engine's
    // verified building blocks; the whole composition is value-checked
    // against DuckDB.
    "pipeline_corpus" -> { (s, dir) =>
      import graft.ops.Ops.materializedColumn
      import graft.dedup.Dedup
      graft.functions.Native.register(s)
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val deduped = Dedup.exactKeepMin(corpus,
        TextOps.fingerprint(col("text")), col("doc_id"))
      val sampled = deduped.filter(
        Dedup.hash60(col("doc_id").cast("string")) % 10 < 3)
      // both per-doc passes are fused native single-pass expressions:
      // quality rides TextQualityExpr, the language scores ride
      // LangScoresExpr — no token array is ever materialized
      val withM = materializedColumn(sampled, "m",
        TextOps.qualityMetrics(col("text"), stopwords))
      val withS = materializedColumn(withM, "sc",
        TextOps.langScoresFused(col("text")))
      val pinned = TextOps.langProfiles.zipWithIndex.map { case ((l, _), i) =>
        l -> element_at(col("sc"), i + 1)
      }
      withS
        .filter(col("m.quality") >= 0.2 &&
          TextOps.langIdFromScores(pinned) === "en")
        .select(col("doc_id"),
          col("m.n_tokens").as("n_tokens"),
          col("m.quality").as("quality"),
          TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // md5 fingerprint of whitespace-normalized lowercase text.
    "text_fingerprint" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // Deterministic ~10% sample by content-independent key hash — the
    // reproducible way to sample training data at scale: `df.sample` is
    // partitioning/seed-plumbing dependent, while a hash-threshold
    // sample selects the SAME rows on any engine, any partitioning, any
    // rerun (and composes: a 1% sample is a subset of the 10% one when
    // thresholds nest).
    "text_sample" -> { (s, dir) =>
      val bucket = graft.dedup.Dedup.hash60(col("doc_id").cast("string")) % 10
      table(s, dir, "documents")
        .filter(bucket === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Stratified (per-group) sampling — corpus BALANCING: cap every
    // language at ~50 docs by downsampling overrepresented groups at
    // rate 50/|group| (en is ~3x the other langs in this corpus). One
    // tiny census aggregate broadcast back onto the corpus, then the
    // same engine-independent hash threshold text_sample uses; the
    // keep decision is EXACT integer arithmetic (h·n < cap·P — no
    // float rounding at the rate boundary), so any engine keeps the
    // identical rows, and re-running after the corpus grows keeps a
    // subset-stable sample per group (thresholds nest).
    "text_stratified_sample" -> { (s, dir) =>
      graft.dedup.Dedup.stratifiedCap(table(s, dir, "documents"),
          col("lang"), col("doc_id"), cap = 50)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },

    // Temperature-weighted source MIXING — the α-smoothed multinomial
    // data-mixture pass of multilingual/multi-source pretraining:
    // sample source s at rate ∝ n_s^α / n_s with α = 1/2 and a total
    // budget of half the corpus, so overrepresented sources downsample
    // toward the smoothed weights and small sources keep everything
    // (no upsampling). All arithmetic is engine-exact: the only float
    // op is per-source floor(sqrt(n)) (correctly-rounded IEEE on an
    // exact integer input — order-free, unlike a double weight SUM),
    // and the keep rule is multiplied out — keep iff h·n_s·W < B·w_s·P
    // — so there is no division and no rounding boundary anywhere.
    // Census is a |sources|-row partial agg broadcast back; one corpus
    // scan; decimals keep the triple product overflow-safe at 100 TB
    // row counts (same reasoning as stratifiedCap).
    "text_mixture_sample" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val census = docs.groupBy(col("source").as("__src"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__wsrc", floor(sqrt(col("__n").cast("double"))).cast("long"))
      val tot = census.agg(
        floor(sum(col("__n")) / 2).cast("decimal(38,0)").as("__budget"),
        sum(col("__wsrc")).cast("decimal(38,0)").as("__wtot"))
      val h = graft.dedup.Dedup.hash60(col("doc_id").cast("string"))
        .cast("decimal(38,0)")
      docs.join(broadcast(census), col("source") === col("__src"))
        .crossJoin(broadcast(tot))
        .filter(h * col("__n").cast("decimal(38,0)") * col("__wtot") <
          col("__budget") * col("__wsrc").cast("decimal(38,0)") *
            lit(graft.dedup.Dedup.MinHashP).cast("decimal(38,0)"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // Content-defined chunking by rolling hash: a 3-token rolling hash
    // (the same base-31 poly roll the dedup pipeline uses) marks a chunk
    // boundary wherever hash % 8 == 0 — boundaries move with content,
    // not position, so an insertion only reshapes neighboring chunks
    // (the rsync/CDC trick, here for document-level incremental dedup).
    "text_chunks" -> { (s, dir) =>
      graft.functions.Native.register(s)
      import graft.functions.Native
      import graft.ops.Ops.materializedColumn
      // Each stage pinned behind a generator barrier: `rh` referenced
      // from inside the boundary lambda would otherwise re-run the
      // whole tokenize+hash chain per element (O(tokens²) per doc), and
      // `bs` is read by three projections.
      val withRh = materializedColumn(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "rh", Native.shingleHashes(
          Native.tokenHashes(TextOps.tokens(col("text"))), 3))
      // guard: sequence(1, 0) counts DOWN for empty rh (docs < 3 tokens)
      val boundaries = when(size(col("rh")) > 0,
        filter(
          transform(sequence(lit(1), size(col("rh"))),
            i => when(element_at(col("rh"), i) % 8 === 0, i).otherwise(-1)),
          x => x > 0))
        .otherwise(array().cast("array<int>"))
      materializedColumn(withRh, "bs", boundaries)
        .select(col("doc_id"),
          size(col("bs")).as("n_boundaries"),
          (size(col("bs")) + 1).as("n_chunks"),
          try_element_at(col("bs"), lit(1)).cast("int").as("first_boundary"))
        .orderBy(col("doc_id"))
    },

    // Token counting with a BPE-ish regex (letter runs / digit runs /
    // single other-symbols) alongside whitespace tokens — the RE2 ∩
    // java.util.regex common subset so both engines extract identically.
    "text_bpe_tokens" -> { (s, dir) =>
      val bpe = regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(bpe).as("n_bpe"),
          size(array_distinct(bpe)).as("n_bpe_distinct"),
          size(TextOps.tokens(col("text"))).as("n_ws"))
        .orderBy(col("doc_id"))
    },

    // Lexicon (sentiment-style) scoring with a map-literal lookup.
    "text_sentiment" -> { (s, dir) =>
      val lex = Map("fast" -> 2, "big" -> 1, "slow" -> -2, "small" -> -1)
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.lexiconScore(TextOps.tokens(col("text")), lex).as("score"))
        .orderBy(col("doc_id"))
    },

    // Global top-20 bigrams by frequency (native shingle expression).
    // TF-IDF-style distinctive terms, kept integer-exact: top-3 tokens
    // per document ranked by (term frequency DESC, document frequency
    // ASC, token) — the same ordering tf·log(N/df) induces for fixed tf,
    // without cross-engine float log hazards. Round 12 (guide §2.4):
    // per-doc term frequencies are computed MAP-SIDE by TokenCountsExpr
    // (one byte pass per doc) instead of explode -> groupBy(doc, token)
    // — the (doc, token) exchange + hash aggregate over every token
    // occurrence is gone; the exploded (doc, token, tf) rows are the
    // identical multiset (row equality at 3 SFs: OPTIMIZATION_r12.md
    // item 5a).
    // Shape at scale: one tokenize pass per consumer, df aggregates the
    // already-counted rows (partial-agg collapses to the vocab
    // map-side), and the df join back is broadcast when the vocab
    // fits, SHJ otherwise.
    "text_tfidf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.Native.register(s)
      val tf = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Native.tokenCounts(col("text"))).as("e"))
        .select(col("doc_id"), col("e.token").as("token"),
          col("e.tf").as("tf"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      tf.join(df, "token")
        .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("token"))))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // Okapi BM25 (k1=1.2, b=0.75) ranked retrieval for a fixed 3-term
    // query — the retrieval scorer a RAG / data-curation pipeline runs
    // over the corpus. Per-term tf is a LOCAL array count on each
    // doc's own tokens (no per-token explode, no (doc, token)
    // shuffle); the corpus statistics (N, Σdl, per-term df) collapse
    // into ONE 1-row partial aggregate broadcast back via cross join;
    // the final top-20 is TakeOrderedAndProject (per-partition heads
    // + driver merge — never a global sort). idf is the log-free
    // Robertson ratio (N−df+0.5)/(df+0.5) — rank-equivalent to the
    // log form for fixed terms, and it keeps every op an exactly-
    // rounded IEEE +,·,/ both engines reproduce bit-for-bit (ln is
    // not correctly rounded cross-engine); scores are floored to
    // integer micro-units so the hash gate compares integers. At
    // 100 TB: two scans of a 2-column projection (stats, then score)
    // and a 20-row result — scan-bound, embarrassingly parallel.
    "text_bm25" -> { (s, dir) =>
      TextOps.bm25TopK(table(s, dir, "documents"), "doc_id", "text",
        Seq("merge", "vector", "slow"), k = 20)
    },

    // The SAME retrieval reached the way a real user reaches an
    // engine: through SQL. `graft_bm25` is a registered TABLE function
    // (graft.functions.TableFns / GraftExtensions) whose builder
    // expands to bm25TopK's logical plan at analysis — so SQL users
    // get the identical scan-bound physical shape, and the gate runs
    // the identical oracle as text_bm25 end-to-end through
    // spark.sql(...).
    "text_bm25_sql" -> { (s, dir) =>
      graft.functions.TableFns.register(s)
      s.sql(s"SELECT * FROM graft_bm25('$dir/documents.parquet', " +
        "'merge vector slow', 20)")
    },

    // Collocation mining — top-20 bigrams by PMI-style LIFT
    // c(ab)·N / (c1(a)·c2(b)) over first/second-position counts (all
    // counts sum to N, so the ratio is the PMI exponent). Exact
    // integer arithmetic end-to-end: the score is a DECIMAL(38,0)
    // integral divide in micro-units — no log, no doubles, so the
    // hash gate compares exact integers (headroom to N ≈ 10^15 pairs;
    // c·N·10^6 ≤ 10^36 < 10^38). Shape at scale: ONE tokenize pass →
    // (w1,w2) partial-agg count (collapses to observed-bigram
    // cardinality map-side); the position marginals and the total
    // derive from the PERSISTED bigram table, never from a second
    // corpus scan; the support filter (c(ab) ≥ 5) prunes the hapax
    // tail before any join.
    "text_collocations" -> { (s, dir) =>
      val t = TextOps.tokens(col("text"))
      val pairs = table(s, dir, "documents")
        .select(t.as("t"))
        .select(col("t"), posexplode(
          slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0)))))
        .select(col("col").as("w1"),
          element_at(col("t"), col("pos") + 2).as("w2"))
      val cab = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c1 = cab.groupBy("w1").agg(sum(col("cab")).as("c1"))
      val c2 = cab.groupBy("w2").agg(sum(col("cab")).as("c2"))
      val nbi = cab.agg(sum(col("cab")).as("nbi"))
      cab.filter(col("cab") >= 5)
        .join(c1, "w1").join(c2, "w2")
        .crossJoin(broadcast(nbi))
        .withColumn("lift_micro", expr(
          "CAST(CAST(cab AS DECIMAL(38,0)) * nbi * 1000000" +
            " DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"))
        .select(col("w1"), col("w2"), col("cab"), col("lift_micro"))
        .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
        .limit(20)
    },

    "text_ngrams" -> { (s, dir) =>
      graft.functions.Native.register(s)
      val t = TextOps.tokens(col("text"))
      table(s, dir, "documents")
        .select(explode(graft.functions.Native.wordShingles(t, 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    },

    // PII detection + redaction — the scrub stage every training-data
    // pipeline runs before release (emails / IPv4s / phone numbers →
    // typed placeholders). Patterns live in the RE2 ∩ java.util.regex
    // common subset so DuckDB extracts/replaces byte-identically. The
    // synthetic corpus carries no PII, so the query PLANTS deterministic
    // doc_id-derived PII into a third of the docs first (mirrored in the
    // oracle) — counts and the scrubbed-text fingerprint are then
    // value-level, not vacuously zero. Per-row regex map over one scan —
    // no shuffle; the 100 TB shape is scan-bound.
    "text_pii_scrub" -> { (s, dir) =>
      import graft.ops.Ops.materializedColumn
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipPat = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      val phonePat = "\\+[0-9]{1,2} \\([0-9]{3}\\) [0-9]{3}-[0-9]{4}"
      val planted = when(col("doc_id") % 4 === 0,
          concat(lit(" reach user"), col("doc_id").cast("string"),
            lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string"), lit(" up")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" call +1 (555) 010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today")))
        .otherwise(lit(""))
      // pin the planted text: five regex passes reference it
      val withT = materializedColumn(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "t2", concat(col("text"), planted))
      withT.select(col("doc_id"),
          // regexp_count scans without materializing the match arrays
          // (len(regexp_extract_all) on the DuckDB side — same value)
          regexp_count(col("t2"), lit(emailPat)).cast("int").as("n_emails"),
          regexp_count(col("t2"), lit(ipPat)).cast("int").as("n_ips"),
          regexp_count(col("t2"), lit(phonePat)).cast("int").as("n_phones"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t2"),
            emailPat, "<EMAIL>"), ipPat, "<IP>"), phonePat, "<PHONE>"))
            .as("scrub_fp"))
        .orderBy(col("doc_id"))
    }
  )

  private val toks = raw"string_split_regex(trim(text), '\s+')"

  /** The BM25 mirror, shared verbatim by `text_bm25` (DataFrame API)
    * and `text_bm25_sql` (the spark.sql table-function surface): one
    * operator, two entry points, one oracle. */
  private lazy val bm25MirrorSql: String = {
    val terms = Seq("merge", "vector", "slow")
    val tfCols = terms.indices.map(i =>
      s"CAST(len(list_filter(t, x -> x = '${terms(i)}')) AS BIGINT) AS tf$i")
      .mkString(",\n         |    ")
    val dfAggs = terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(", ")
    val termScores = terms.indices.map { i =>
      s"""(((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         |      / (CAST(df$i AS DOUBLE) + 0.5))
         |    * ((CAST(tf$i AS DOUBLE) * 2.2)
         |      / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))))"""
        .stripMargin
    }.mkString("\n         |  + ")
    s"""WITH f AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, $toks AS t FROM documents)),
       |g AS (
       |  SELECT CAST(SUM(dl) AS BIGINT) AS sumdl, COUNT(*) AS n, $dfAggs
       |  FROM f),
       |s AS (
       |  SELECT doc_id, tf0, tf1, tf2, dl,
       |    CAST(floor((
       |  $termScores
       |    ) * 1000000.0) AS BIGINT) AS score_micro
       |  FROM f, g
       |  WHERE tf0 + tf1 + tf2 > 0)
       |SELECT doc_id, tf0, tf1, tf2, dl, score_micro, rank FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    ORDER BY score_micro DESC, doc_id) AS INT) AS rank FROM s)
       |WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** Mirror of the trained-BPE application: the same canonical form
    * and the same rank-ordered literal replacements, with the trained
    * merges embedded from the sidecar. */
  /** Single-quote-escape a trained token for embedding in oracle SQL —
    * every trained literal (BPE merges, LM tokens, classifier weights)
    * goes through this, so a corpus token containing `'` cannot break
    * or inject the generated DuckDB query. */
  private def esc(t: String): String = t.replace("'", "''")

  private def bpeSql(merges: Seq[(String, String)]): String = {
    val applied = merges.foldLeft("c") { case (e, (l, r)) =>
      s"replace($e, '/${esc(l)}/${esc(r)}/', '/${esc(l)}${esc(r)}/')"
    }
    s"""WITH canon AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |    array_to_string(list_transform(string_split(text, ' '),
       |      w -> '/' || regexp_replace(w || '_', '(.)', '\\1/', 'g')),
       |      ' ') AS c
       |  FROM documents)
       |SELECT doc_id, CAST(n_words AS INT) AS n_words,
       |  CAST(length(m) - length(replace(m, '/', '')) - n_words AS INT)
       |    AS n_bpe_tokens
       |FROM (SELECT doc_id, n_words, $applied AS m FROM canon)
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of trained-LM scoring: the model tables ride in as VALUES
    * literals; scoring is integer join+sum, so the mirror is exact. */
  private def lmSql(m: graft.text.Lm.BigramModel): String = {
    val bgv = m.bigrams
      .map { case (a, b, lp) => s"('${esc(a)}','${esc(b)}',CAST($lp AS BIGINT))" }
      .mkString(", ")
    val hv = m.histories
      .map { case (a, lp) => s"('${esc(a)}',CAST($lp AS BIGINT))" }.mkString(", ")
    s"""WITH bgm(w1, w2, lp) AS (VALUES $bgv),
       |hm(w1, lp0) AS (VALUES $hv),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |  FROM toks CROSS JOIN UNNEST(range(1, len(t))) AS u(i)),
       |scored AS (
       |  SELECT bg.doc_id, COALESCE(m.lp, h.lp0, ${m.floorLp}) AS lp
       |  FROM bg LEFT JOIN bgm m ON bg.w1 = m.w1 AND bg.w2 = m.w2
       |  LEFT JOIN hm h ON bg.w1 = h.w1),
       |agg AS (SELECT doc_id, count(*) AS nb, sum(lp) AS s
       |  FROM scored GROUP BY doc_id)
       |SELECT t.doc_id, CAST(COALESCE(nb, 0) AS INT) AS n_bigrams,
       |  CAST(COALESCE(s, 0) AS BIGINT) AS lp_micro
       |FROM toks t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  /** Mirror of trained-classifier scoring: the weight table rides in
    * as VALUES literals; scoring is integer join+sum, so the mirror is
    * exact (same mechanism as [[lmSql]]). */
  private def clsSql(m: graft.text.Classifier.NbModel): String = {
    val wv = m.weights
      .map { case (t, w) => s"('${esc(t)}',CAST($w AS BIGINT))" }
      .mkString(", ")
    s"""WITH w(t, wq) AS (VALUES $wv),
       |tok AS (SELECT doc_id, t FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |    FROM documents) WHERE t <> ''),
       |sc AS (
       |  SELECT tok.doc_id, count(*) AS n,
       |    sum(COALESCE(w.wq, ${m.defaultW})) AS s
       |  FROM tok LEFT JOIN w USING (t) GROUP BY tok.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(n, 0) AS INT) AS n_tokens,
       |  CAST(COALESCE(s, 0) + ${m.bias} AS BIGINT) AS score_micro,
       |  (COALESCE(s, 0) + ${m.bias}) >= 0 AS pred
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Static mirrors + (when the trained-model sidecars for the current
    * sf-dir exist) the exact mirrors of the trained-BPE, trained-LM
    * and trained-classifier paths. */
  def oracles: Map[String, String] = {
    val dyn: Map[String, String] = lastDir match {
      case None => Map.empty
      case Some(dir) =>
        readBpeSidecar(dir).map(m => "text_bpe_train" -> bpeSql(m)).toMap ++
          readLmSidecar(dir).map(m => "text_perplexity" -> lmSql(m)).toMap ++
          readClsSidecar(dir).map(m => "text_classify" -> clsSql(m)).toMap
    }
    staticOracles ++ dyn
  }

  private val staticOracles: Map[String, String] = checked(
    "pipeline_corpus" ->
      raw"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
           |  WHERE doc_id % 7 = 0),
           |dedup AS (
           |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
           |  FROM corpus
           |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))),
           |sampled AS (
           |  SELECT * FROM dedup
           |  WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
           |           AS BIGINT) % 1000000007) % 10 < 3),
           |scored AS (
           |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t
           |  FROM sampled),
           |gated AS (
           |  SELECT doc_id, text, t,
           |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS INT) AS s_en,
           |    CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS INT) AS s_de,
           |    CAST(len(list_filter(t, x -> x IN ('el','la','los','y','es'))) AS INT) AS s_es,
           |    CAST(len(list_filter(t, x -> x IN ('le','les','et','est','une'))) AS INT) AS s_fr,
           |    least(1.0, CAST(len(t) AS DOUBLE) / 100.0)
           |      * (1.0 - CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(t))
           |      * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
           |      AS quality
           |  FROM scored)
           |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens, quality,
           |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           |FROM gated
           |WHERE quality >= 0.2 AND greatest(s_en, s_de, s_es, s_fr) > 0
           |  AND s_en = greatest(s_en, s_de, s_es, s_fr)
           |ORDER BY doc_id""".stripMargin,
    "text_pack" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS start_offset
         |  FROM d WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, start_offset,
         |  CAST(start_offset // 2048 AS BIGINT) AS seq_id,
         |  CAST(start_offset % 2048 AS BIGINT) AS offset_in_seq
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(t) AS INT) AS n_tokens,
         |  CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS INT) AS n_shingles,
         |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS total_chars,
         |  CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS avg_token_len
         |FROM (SELECT doc_id, $toks AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_curation_pipeline" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, lang FROM documents
         |  WHERE doc_id % 7 = 0),
         |scored AS (
         |  SELECT doc_id, text, lang,
         |    least(1.0, CAST(len(t) AS DOUBLE) / 100.0)
         |      * (1.0 - CAST(len(list_filter(t,
         |            x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
         |          / len(t))
         |      * (1.0 - CAST(length(regexp_replace(lower(text),
         |            '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
         |      AS quality
         |  FROM (SELECT doc_id, text, lang, $toks AS t FROM corpus)),
         |q AS (SELECT * FROM scored WHERE quality >= 0.5),
         |deduped AS (
         |  SELECT doc_id, lang, quality FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY md5(lower(trim(
         |        regexp_replace(text, '\\s+', ' ', 'g'))))
         |      ORDER BY doc_id) AS rn
         |    FROM q) WHERE rn = 1),
         |census AS (SELECT lang, COUNT(*) AS n_lang FROM deduped GROUP BY 1)
         |SELECT doc_id, lang, quality
         |FROM deduped JOIN census USING (lang)
         |WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |         AS BIGINT) % 1000000007) * n_lang
         |      < CAST(30 AS BIGINT) * 1000000007
         |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(t) AS INT) AS n_tokens,
         |  CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
         |    / len(t) AS stop_ratio,
         |  CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |    / length(text) AS nonalnum_ratio,
         |  least(1.0, CAST(len(t) AS DOUBLE) / 100.0)
         |    * (1.0 - CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(t))
         |    * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
         |    AS quality
         |FROM (SELECT doc_id, text, $toks AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_gopher_quality" ->
      s"""WITH s AS (SELECT doc_id, $toks AS t FROM documents),
         |g AS (SELECT doc_id, t,
         |  CASE WHEN len(t) >= 2 THEN list_transform(
         |      generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
         |    ELSE CAST([] AS VARCHAR[]) END AS bg,
         |  CASE WHEN len(t) >= 3 THEN list_transform(
         |      generate_series(1, len(t)-2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END AS tg
         |  FROM s),
         |m AS (SELECT doc_id,
         |  CAST(len(t) AS INT) AS n_tokens,
         |  CASE WHEN len(t) > 0 THEN
         |    CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t)
         |    ELSE 0.0 END AS dup_token_frac,
         |  CASE WHEN len(bg) > 0 THEN
         |    CAST(list_max(list_transform(list_distinct(bg),
         |      d -> len(list_filter(bg, y -> y = d)))) AS DOUBLE) / len(bg)
         |    ELSE 0.0 END AS top_bigram_frac,
         |  CASE WHEN len(bg) > 0 THEN
         |    CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
         |    ELSE 0.0 END AS dup_bigram_frac,
         |  CASE WHEN len(tg) > 0 THEN
         |    CAST(list_max(list_transform(list_distinct(tg),
         |      d -> len(list_filter(tg, y -> y = d)))) AS DOUBLE) / len(tg)
         |    ELSE 0.0 END AS top_trigram_frac
         |  FROM g)
         |SELECT *,
         |  top_bigram_frac <= CAST(0.05 AS DOUBLE)
         |    AND dup_bigram_frac <= CAST(0.05 AS DOUBLE)
         |    AND top_trigram_frac <= CAST(0.04 AS DOUBLE) AS keep
         |FROM m
         |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id,
         |  CASE WHEN m > 0 AND s_en = m THEN 'en'
         |       WHEN m > 0 AND s_de = m THEN 'de'
         |       WHEN m > 0 AND s_es = m THEN 'es'
         |       WHEN m > 0 AND s_fr = m THEN 'fr'
         |       ELSE 'und' END AS lang_guess,
         |  s_en, s_de, s_es, s_fr
         |FROM (SELECT doc_id, s_en, s_de, s_es, s_fr,
         |        greatest(s_en, s_de, s_es, s_fr) AS m
         |      FROM (SELECT doc_id,
         |        CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS INT) AS s_en,
         |        CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS INT) AS s_de,
         |        CAST(len(list_filter(t, x -> x IN ('el','la','los','y','es'))) AS INT) AS s_es,
         |        CAST(len(list_filter(t, x -> x IN ('le','les','et','est','une'))) AS INT) AS s_fr
         |      FROM (SELECT doc_id, $toks AS t FROM documents)))
         |ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      raw"""SELECT doc_id,
           |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,
    "text_sample" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1000000007) % 10 = 0
        |ORDER BY doc_id""".stripMargin,
    "text_stratified_sample" ->
      """WITH census AS (SELECT lang, COUNT(*) AS n_lang FROM documents
        |  GROUP BY 1)
        |SELECT doc_id, lang, source
        |FROM documents JOIN census USING (lang)
        |WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1000000007) * n_lang
        |      < CAST(50 AS BIGINT) * 1000000007
        |ORDER BY doc_id""".stripMargin,
    "text_mixture_sample" ->
      """WITH census AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS ws
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(n) // 2 AS bgt, SUM(ws) AS wt FROM census)
        |SELECT doc_id, source, lang
        |FROM documents JOIN census USING (source), tot
        |WHERE CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |          AS BIGINT) % 1000000007) AS HUGEINT) * n * wt
        |      < CAST(bgt AS HUGEINT) * ws * 1000000007
        |ORDER BY doc_id""".stripMargin,
    "text_chunks" ->
      s"""SELECT doc_id,
         |  CAST(len(b) AS INT) AS n_boundaries,
         |  CAST(len(b) + 1 AS INT) AS n_chunks,
         |  CAST(b[1] AS INT) AS first_boundary
         |FROM (
         |  SELECT doc_id,
         |    list_filter(list_transform(range(1, len(rh) + 1),
         |      i -> CASE WHEN rh[i] % 8 = 0 THEN i ELSE -1 END),
         |      x -> x > 0) AS b
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(th) >= 3
         |        THEN list_transform(range(1, len(th)-1),
         |               i -> (th[i]*961 + th[i+1]*31 + th[i+2]) % 1000000007)
         |        ELSE [] END AS rh
         |    FROM (
         |      SELECT doc_id,
         |        list_transform($toks,
         |          x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1000000007) AS th
         |      FROM documents)))
         |ORDER BY doc_id""".stripMargin,
    "text_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(b) AS INT) AS n_bpe,
         |  CAST(len(list_distinct(b)) AS INT) AS n_bpe_distinct,
         |  CAST(len($toks) AS INT) AS n_ws
         |FROM (SELECT doc_id, text,
         |        regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS b
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_sentiment" ->
      s"""SELECT doc_id,
         |  CAST(COALESCE(list_sum(list_transform(t, x ->
         |    CASE WHEN x='fast' THEN 2 WHEN x='big' THEN 1
         |         WHEN x='slow' THEN -2 WHEN x='small' THEN -1
         |         ELSE 0 END)), 0) AS BIGINT) AS score
         |FROM (SELECT doc_id, $toks AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM tok GROUP BY doc_id, token),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
         |SELECT doc_id, token, tf, df, rk FROM (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, df.df ASC, tf.token) AS INT) AS rk
         |  FROM tf JOIN df USING (token))
         |WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin,
    // Same fixed-order arithmetic as the engine: per-term scores sum
    // left-to-right, every op an exactly-rounded IEEE double +,·,/
    // on integers both engines derive exactly — so the floored
    // micro-unit scores are bit-identical. The SQL-surface twin runs
    // the IDENTICAL mirror: same operator, same result, reached via
    // spark.sql over the registered table function.
    "text_bm25" -> bm25MirrorSql,
    "text_bm25_sql" -> bm25MirrorSql,
    // Same integral arithmetic in HUGEINT (int128 ⊇ the engine's
    // DECIMAL(38,0) range); `cab` is MATERIALIZED — it is referenced
    // four times, and DuckDB inlines plain CTEs per reference (the
    // recorded r8 pagerank-oracle lesson).
    "text_collocations" ->
      s"""WITH bg AS (
         |  SELECT unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i+1])) AS b
         |  FROM (SELECT $toks AS t FROM documents)),
         |cab AS MATERIALIZED (
         |  SELECT string_split(b, ' ')[1] AS w1,
         |         string_split(b, ' ')[2] AS w2, COUNT(*) AS cab
         |  FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, SUM(cab) AS c1 FROM cab GROUP BY 1),
         |c2 AS (SELECT w2, SUM(cab) AS c2 FROM cab GROUP BY 1),
         |tot AS (SELECT SUM(cab) AS nbi FROM cab)
         |SELECT w1, w2, cab, lift_micro FROM (
         |  SELECT cab.w1, cab.w2, cab.cab AS cab,
         |    CAST(CAST(cab.cab AS HUGEINT) * nbi * 1000000
         |      // (CAST(c1.c1 AS HUGEINT) * c2.c2) AS BIGINT) AS lift_micro
         |  FROM cab JOIN c1 USING (w1) JOIN c2 USING (w2), tot
         |  WHERE cab.cab >= 5)
         |ORDER BY lift_micro DESC, w1, w2 LIMIT 20""".stripMargin,
    "text_ngrams" ->
      s"""SELECT bigram, COUNT(*) AS cnt
         |FROM (SELECT unnest(list_transform(range(1, len(t)),
         |        i -> t[i] || ' ' || t[i+1])) AS bigram
         |      FROM (SELECT $toks AS t FROM documents))
         |GROUP BY bigram
         |ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
    "text_pii_scrub" ->
      raw"""WITH p AS (SELECT doc_id, text ||
           |  CASE WHEN doc_id % 4 = 0 THEN ' reach user' ||
           |         CAST(doc_id AS VARCHAR) || '@example.com now'
           |       WHEN doc_id % 4 = 1 THEN ' host 10.' ||
           |         CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
           |         CAST(doc_id % 250 AS VARCHAR) || ' up'
           |       WHEN doc_id % 4 = 2 THEN ' call +1 (555) 010-' ||
           |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
           |       ELSE '' END AS t2 FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t2,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
           |    AS n_emails,
           |  CAST(len(regexp_extract_all(t2,
           |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
           |  CAST(len(regexp_extract_all(t2,
           |    '\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}')) AS INT)
           |    AS n_phones,
           |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
           |    '\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
           |    AS scrub_fp
           |FROM p ORDER BY doc_id""".stripMargin
  )
}
