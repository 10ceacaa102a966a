package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's array-heavy hot paths.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * CodegenFallback and evaluate interpreted — per-element boxing and
  * lambda dispatch dominate MinHash/SimHash/cosine pipelines. Each
  * expression here replaces a whole nested-HOF composition with one
  * tight single-pass loop over ArrayData (10-40× per row), while
  * computing BIT-IDENTICAL results to the HOF formulations (and
  * therefore to the DuckDB oracle SQL mirrors).
  *
  * Registered in the session function registry (so they are also
  * SQL-callable) and exposed as Columns via call_function.
  */
object Native {

  val P: Long = 1000000007L

  /** The complete native-function registry — the single source both
    * [[register]] (per-session temp functions) and
    * [[graft.GraftExtensions]] (session-extension injection) consume,
    * so the two surfaces can never drift. */
  private[graft] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_token_hashes" -> (es => TokenHashes60(es.head)),
    "graft_token_hashes_raw" -> (es => TokenHashesRaw60(es.head)),
    "graft_shingle_hashes" -> (es => PolyShingleHashes(es(0), es(1))),
    "graft_substr_fps" -> (es => SubstrFingerprints(es(0), es(1))),
    "graft_chunk_fps" -> (es => AlignedChunkFingerprints(es(0), es(1))),
    "graft_minhash_sig" -> (es => MinHashSig(es(0), es(1))),
    "graft_simhash64" -> (es => SimHash64Expr(es.head)),
    "graft_hyperplane_sig" -> (es =>
      HyperplaneSigExpr(es(0), es(1),
        if (es.length > 2) es(2)
        else org.apache.spark.sql.catalyst.expressions.Literal(0))),
    "graft_cosine_q" -> (es => CosineQExpr(es(0), es(1))),
    "graft_word_shingles" -> (es => WordShinglesExpr(es(0), es(1))),
    "graft_zvalue" -> (es => ZValueExpr(es(0), es(1))),
    "graft_top_freq" -> (es => TopFreqExpr(es.head)),
    "graft_text_quality" -> (es => TextQualityExpr(es(0), es(1))),
    "graft_bpe_stats" -> (es => BpeStatsExpr(es(0), es(1), es(2))),
    "graft_gopher_stats" -> (es => GopherStatsExpr(es.head)),
    "graft_token_stats" -> (es => TokenStatsExpr(es.head)),
    "graft_token_counts" -> (es => TokenCountsExpr(es.head)),
    "graft_lang_scores" -> (es => LangScoresExpr(es(0), es(1))),
    "graft_bloom_might_contain" -> (es => BloomMightContain(es(0), es(1))))

  /** Idempotent per-session registration; call before analysis of any
    * plan using these columns. Names the session already binds are
    * left alone, so repeated calls neither re-register nor log Spark's
    * "replaced a previously registered function" warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  def tokenHashes(toks: Column): Column =
    call_function("graft_token_hashes", toks)
  /** 60-bit raw token hashes — NOT reduced mod [[P]]. These are fine
    * for direct equality keys but MUST NOT be fed to the modular
    * pipeline ([[shingleHashes]]/[[substrFingerprints]]), whose
    * arithmetic is only overflow-safe for inputs < [[P]] (~2^30):
    * `drop * b^(k-1) mod P` on a 60-bit `drop` overflows a long
    * SILENTLY and produces wrong fingerprints. Use [[tokenHashes]]
    * for anything polynomial. */
  def tokenHashesRaw(toks: Column): Column =
    call_function("graft_token_hashes_raw", toks)
  /** Input contract: elements of `th` must be < [[P]] — i.e. come from
    * [[tokenHashes]], never [[tokenHashesRaw]] (see there). */
  def shingleHashes(th: Column, n: Int): Column =
    call_function("graft_shingle_hashes", th, org.apache.spark.sql.functions.lit(n))
  /** Input contract: elements of `th` must be < [[P]] — i.e. come from
    * [[tokenHashes]], never [[tokenHashesRaw]] (see there). */
  def substrFingerprints(th: Column, k: Int): Column =
    call_function("graft_substr_fps", th, org.apache.spark.sql.functions.lit(k))
  /** Input contract: elements of `th` must be < [[P]] — i.e. come from
    * [[tokenHashes]], never [[tokenHashesRaw]] (see there). */
  def chunkFingerprints(th: Column, k: Int): Column =
    call_function("graft_chunk_fps", th, org.apache.spark.sql.functions.lit(k))
  def minHashSig(sh: Column, k: Int): Column =
    call_function("graft_minhash_sig", sh, org.apache.spark.sql.functions.lit(k))
  def simHash64(hashes: Column): Column =
    call_function("graft_simhash64", hashes)
  def hyperplaneSig(q: Column, bits: Int, planeOffset: Int = 0): Column =
    call_function("graft_hyperplane_sig", q,
      org.apache.spark.sql.functions.lit(bits),
      org.apache.spark.sql.functions.lit(planeOffset))
  def cosineQ(a: Column, b: Column): Column =
    call_function("graft_cosine_q", a, b)
  def wordShingles(toks: Column, n: Int): Column =
    call_function("graft_word_shingles", toks, org.apache.spark.sql.functions.lit(n))
  def zValue(values: Column, boundaries: Column): Column =
    call_function("graft_zvalue", values, boundaries)
  def topFreq(arr: Column): Column =
    call_function("graft_top_freq", arr)
  def textQuality(text: Column, stops: Column): Column =
    call_function("graft_text_quality", text, stops)
  def bpeStats(text: Column, mergesL: Column, mergesR: Column): Column =
    call_function("graft_bpe_stats", text, mergesL, mergesR)
  def gopherStats(text: Column): Column =
    call_function("graft_gopher_stats", text)
  def tokenStats(text: Column): Column =
    call_function("graft_token_stats", text)
  def tokenCounts(text: Column): Column =
    call_function("graft_token_counts", text)
  def langScores(text: Column, profiles: Column): Column =
    call_function("graft_lang_scores", text, profiles)
  /** `serialized` must be a literal (BloomFilter.writeTo bytes). */
  def bloomMightContain(serialized: Column, key: Column): Column =
    call_function("graft_bloom_might_contain", serialized, key)

  /** Static eval for [[TextQualityExpr]]: token count, stopword ratio,
    * non-alphanumeric ratio, and the composite quality score in ONE
    * pass over the text bytes — bit-identical to the HOF formulation
    * (`split(trim(text),"\\s+")` + filter/array_contains +
    * `regexp_replace(lower(text),"[a-z0-9 ]","")`), which the DuckDB
    * oracle mirrors. Token semantics replicated exactly: trim strips
    * 0x20 only (Spark `trim`), separators are Java regex `\s`
    * ([ \t\n\x0B\f\r]), Java split keeps leading/trailing empty fields
    * the way limit=-1 does, and "" yields a single empty token.
    * Char counts are codepoints (UTF8String.numChars); every non-ASCII
    * codepoint counts non-alnum. CONTRACT: bit-identity with the HOF
    * formulation assumes no codepoint whose lowercase mapping crosses
    * into ASCII — the two exceptions (U+212A KELVIN SIGN -> 'k',
    * U+0130 'İ' -> 'i') would be alnum after `lower()` yet non-alnum
    * here. Neither occurs in the test corpus; text containing them gets
    * a conservative (higher) nonalnum_ratio, not a crash. */
  def textQualityEval(text: UTF8String,
                      stops: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    var n = 0
    var stopCnt = 0
    if (lo >= hi) n = 1 // trimmed-empty: split yields [""]
    else {
      if (isWs(bytes(lo))) n += 1 // leading empty field (e.g. "\tab")
      var i = lo
      while (i < hi) {
        if (isWs(bytes(i))) i += 1
        else {
          val start = i
          while (i < hi && !isWs(bytes(i))) i += 1
          n += 1
          // frequency (not distinct) stopword hit, byte-compare
          val len = i - start
          var k = 0
          val ns = stops.numElements()
          var hit = false
          while (k < ns && !hit) {
            val st = stops.getUTF8String(k)
            if (st.numBytes == len) {
              val sb = st.getBytes
              var m = 0
              while (m < len && sb(m) == bytes(start + m)) m += 1
              hit = m == len
            }
            k += 1
          }
          if (hit) stopCnt += 1
        }
      }
      if (isWs(bytes(hi - 1))) n += 1 // trailing empty field
    }
    var chars = 0
    var nonAl = 0
    var j = 0
    while (j < bytes.length) {
      val b = bytes(j) & 0xff
      if (b < 0x80) {
        val c = if (b >= 'A' && b <= 'Z') b + 32 else b
        if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' '))
          nonAl += 1
        chars += 1
        j += 1
      } else {
        nonAl += 1
        chars += 1
        j += (if (b >= 0xf0) 4 else if (b >= 0xe0) 3 else 2)
      }
    }
    val stopRatio = stopCnt.toDouble / n
    val nonAlRatio = nonAl.toDouble / chars // 0-length text -> NaN, like x/0d
    val quality = math.min(1.0, n.toDouble / 100.0) *
      (1.0 - stopRatio) * (1.0 - nonAlRatio)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, stopRatio, nonAlRatio, quality))
  }

  /** Static eval for [[GopherStatsExpr]]: the whole Gopher repetition-
    * metric family — token count, duplicate-token fraction, top/dup
    * bigram fractions, top trigram fraction — in ONE pass over the text
    * bytes. Bit-identical to the HOF formulation the DuckDB oracle
    * mirrors (`split(trim(text),"\\s+")` tokens, `wordShingles(t,2/3)`
    * space-joined grams, `array_distinct` / topFreq counting):
    * tokenization replicates Spark's trim (0x20 only) + Java regex
    * split with limit -1 (leading/trailing empty fields kept, "" yields
    * [""]), exactly like [[textQualityEval]]. Gram equality: tokens can
    * contain no whitespace, so space-joined n-gram strings are equal
    * iff the token tuples are equal — tokens are interned to dense int
    * ids and grams counted under packed-id keys with ZERO string
    * concatenation (the former shape built every bigram+trigram string,
    * ~2× the corpus bytes in allocations, behind three generator
    * barriers). */
  def gopherStatsEval(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    // Token id sequence, interned by exact byte content.
    val intern = new java.util.HashMap[UTF8String, Integer](64)
    var idSeq = new Array[Int](32)
    var n = 0
    @inline def add(tok: UTF8String): Unit = {
      var id = intern.get(tok)
      if (id == null) { id = Integer.valueOf(intern.size); intern.put(tok, id) }
      if (n == idSeq.length) idSeq = java.util.Arrays.copyOf(idSeq, n * 2)
      idSeq(n) = id.intValue(); n += 1
    }
    if (lo >= hi) add(UTF8String.EMPTY_UTF8) // trimmed-empty: split -> [""]
    else {
      if (isWs(bytes(lo))) add(UTF8String.EMPTY_UTF8) // leading empty field
      var i = lo
      while (i < hi) {
        if (isWs(bytes(i))) i += 1
        else {
          val start = i
          while (i < hi && !isWs(bytes(i))) i += 1
          add(UTF8String.fromBytes(bytes, start, i - start))
        }
      }
      if (isWs(bytes(hi - 1))) add(UTF8String.EMPTY_UTF8) // trailing empty field
    }
    val dupTokFrac = (n - intern.size).toDouble / n
    // Bigram counts under (id,id) packed-long keys.
    val nbg = if (n >= 2) n - 1 else 0
    var topBg = 0
    var distinctBg = 0
    if (nbg > 0) {
      val m = new java.util.HashMap[java.lang.Long, Integer](Math.max(16, nbg * 2))
      var i = 0
      while (i < nbg) {
        val key = java.lang.Long.valueOf(
          (idSeq(i).toLong << 32) | (idSeq(i + 1).toLong & 0xffffffffL))
        val prev = m.get(key)
        val c = if (prev == null) 1 else prev.intValue() + 1
        m.put(key, c)
        if (c > topBg) topBg = c
        i += 1
      }
      distinctBg = m.size
    }
    // Trigram top count under 21-bit-packed (id,id,id) keys; a document
    // with >= 2^21 DISTINCT tokens (>2M-token doc) falls back to tuple
    // keys rather than miscounting.
    val ntg = if (n >= 3) n - 2 else 0
    var topTg = 0
    if (ntg > 0) {
      if (intern.size < (1 << 21)) {
        val m = new java.util.HashMap[java.lang.Long, Integer](Math.max(16, ntg * 2))
        var i = 0
        while (i < ntg) {
          val key = java.lang.Long.valueOf(
            (idSeq(i).toLong << 42) | (idSeq(i + 1).toLong << 21) | idSeq(i + 2).toLong)
          val prev = m.get(key)
          val c = if (prev == null) 1 else prev.intValue() + 1
          m.put(key, c)
          if (c > topTg) topTg = c
          i += 1
        }
      } else {
        val m = scala.collection.mutable.HashMap.empty[(Int, Int, Int), Int]
        var i = 0
        while (i < ntg) {
          val key = (idSeq(i), idSeq(i + 1), idSeq(i + 2))
          val c = m.getOrElse(key, 0) + 1
          m.update(key, c)
          if (c > topTg) topTg = c
          i += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      n,
      dupTokFrac,
      if (nbg > 0) topBg.toDouble / nbg else 0.0,
      if (nbg > 0) (nbg - distinctBg).toDouble / nbg else 0.0,
      if (ntg > 0) topTg.toDouble / ntg else 0.0))
  }

  /** Static eval for [[TokenStatsExpr]]: token count + total token
    * codepoints in ONE byte pass — bit-identical to
    * `size(tokens(text))` / `aggregate(transform(toks, length), 0L, +)`
    * (the [[graft.text.TextOps.tokenChars]] HOF chain). Split/trim
    * semantics exactly as [[textQualityEval]]; char counts are
    * codepoints (non-continuation UTF-8 bytes), and empty fields
    * contribute 0 chars. */
  def tokenStatsEval(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    var n = 0
    var chars = 0L
    if (lo >= hi) n = 1 // trimmed-empty: split -> [""], 0 chars
    else {
      if (isWs(bytes(lo))) n += 1 // leading empty field
      var i = lo
      while (i < hi) {
        if (isWs(bytes(i))) i += 1
        else {
          n += 1
          while (i < hi && !isWs(bytes(i))) {
            if ((bytes(i) & 0xc0) != 0x80) chars += 1 // codepoint start
            i += 1
          }
        }
      }
      if (isWs(bytes(hi - 1))) n += 1 // trailing empty field
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, chars))
  }

  /** Static eval for [[TokenCountsExpr]]: per-document token
    * frequencies in ONE byte pass — the multiset of
    * `(token, count)` pairs is exactly what
    * `explode(tokens(text))` + `groupBy(doc, token).count` produces
    * for the document's row. Split/trim semantics exactly as
    * [[tokenStatsEval]] (space-only trim, `\s` field class, with the
    * leading/trailing/trimmed-empty empty-field tokens split(-1)
    * emits). Entries come out in first-occurrence order
    * (deterministic from the text); consumers that need a different
    * order must sort. Distinct-token keys are copied out of the
    * input buffer, so the result owns its bytes. */
  def tokenCountsEval(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    @inline def add(start: Int, len: Int): Unit = {
      val view = UTF8String.fromBytes(bytes, start, len)
      val prev = m.get(view)
      if (prev == null) m.put(view.clone(), Array(1L)) else prev(0) += 1L
    }
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    if (lo >= hi) add(lo, 0) // trimmed-empty: split -> [""]
    else {
      if (isWs(bytes(lo))) add(lo, 0) // leading empty field
      var i = lo
      while (i < hi) {
        if (isWs(bytes(i))) i += 1
        else {
          val start = i
          while (i < hi && !isWs(bytes(i))) i += 1
          add(start, i - start)
        }
      }
      if (isWs(bytes(hi - 1))) add(hi, 0) // trailing empty field
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var idx = 0
    while (it.hasNext) {
      val e = it.next()
      out(idx) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      idx += 1
    }
    new GenericArrayData(out)
  }

  /** Static eval for [[LangScoresExpr]]: per-profile stopword-hit
    * counts (frequency, not distinct) in ONE tokenize pass —
    * bit-identical to [[graft.text.TextOps.langScores]]'s per-profile
    * `size(filter(toks, t => array_contains(profile, t)))` HOF walks.
    * Profiles arrive as a literal array-of-arrays; the result is the
    * count array in profile order. */
  def langScoresEval(text: UTF8String, profiles: ArrayData): GenericArrayData = {
    val bytes = text.getBytes
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    val np = profiles.numElements()
    val counts = new Array[Int](np)
    // leading/trailing/trimmed-empty fields are empty tokens — profile
    // words are non-empty, so empty tokens can never hit; skip them.
    var i = lo
    while (i < hi) {
      if (isWs(bytes(i))) i += 1
      else {
        val start = i
        while (i < hi && !isWs(bytes(i))) i += 1
        val len = i - start
        var p = 0
        while (p < np) {
          val words = profiles.getArray(p)
          val nw = words.numElements()
          var w = 0
          var hit = false
          while (w < nw && !hit) {
            val st = words.getUTF8String(w)
            if (st.numBytes == len) {
              val sb = st.getBytes
              var m = 0
              while (m < len && sb(m) == bytes(start + m)) m += 1
              hit = m == len
            }
            w += 1
          }
          if (hit) counts(p) += 1
          p += 1
        }
      }
    }
    new GenericArrayData(counts.map(c => c: Any))
  }

  /** Static eval for [[TopFreqExpr]]: count of the most frequent
    * element in one O(n) hash pass (0 for empty; elements must be
    * non-null — gram arrays are `containsNull = false`). The map keys
    * are the array's own UTF8String views, valid for the duration of
    * the call. */
  def topFreqEval(arr: ArrayData): Long = {
    val n = arr.numElements()
    var best = 0
    if (n > 0) {
      val m = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, Integer](
        Math.max(16, n * 2))
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        val prev = m.get(s)
        val c = if (prev == null) 1 else prev.intValue() + 1
        m.put(s, c)
        if (c > best) best = c
        i += 1
      }
    }
    best.toLong
  }

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes) mod P — identical to
    * conv(substr(md5(s),1,15),16,10) % P (7 full bytes + the high nibble
    * of byte 7). */
  def md5Hash60(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v = (v << 4) | ((h(7) & 0xffL) >>> 4)
    v % P
  }

  /** Deterministic hyperplane weight for (plane p, 1-based dim i):
    * the (p,i) seed through a 32-bit avalanche mixer, then mapped to
    * [-999, 999]. Must stay bit-identical to Similarity.planeW and the
    * DuckDB oracle mirror. The mixer (vs a raw LCG lattice) keeps
    * planes independent — see Similarity.planeW's scaladoc for the
    * mega-bucket failure mode it prevents. */
  def planeWeight(p: Long, i: Long): Long = {
    val x0 = (p * 73856093L + i * 19349663L) & 0xFFFFFFFFL
    val x1 = ((x0 ^ (x0 >>> 16)) * 741103597L) & 0xFFFFFFFFL
    val x2 = ((x1 ^ (x1 >>> 16)) * 695847673L) & 0xFFFFFFFFL
    ((x2 ^ (x2 >>> 16)) % 1999L) - 999L
  }

  // Plane weights are data-independent: materialize each
  // (bits, offset, dims) family once per JVM instead of re-deriving
  // dims×bits weights per row. Key packs the three small ints.
  private val planeWCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()

  private def planeWeights(bits: Int, offset: Int, dims: Int): Array[Long] = {
    val key = (bits.toLong << 40) | (offset.toLong << 20) | dims.toLong
    var ws = planeWCache.get(key)
    if (ws == null) {
      ws = Array.tabulate(bits * dims) { j =>
        planeWeight(offset + j / dims, 1L + j % dims)
      }
      planeWCache.putIfAbsent(key, ws)
    }
    ws
  }

  /** Static eval for [[HyperplaneSigExpr]]'s codegen path: angular-LSH
    * sign bits of a quantized vector for planes [offset, offset+bits). */
  def hyperplaneSigEval(q: ArrayData, bits: Int, offset: Int): Int = {
    val dims = q.numElements()
    val ws = planeWeights(bits, offset, dims)
    var acc = 0
    var p = 0
    while (p < bits) {
      var s = 0L
      var i = 0
      val base = p * dims
      while (i < dims) {
        s += q.getLong(i) * ws(base + i)
        i += 1
      }
      acc = acc * 2 + (if (s >= 0L) 1 else 0)
      p += 1
    }
    acc
  }

  /** Static eval for [[WordShinglesExpr]]'s codegen path. */
  def wordShinglesEval(toks: ArrayData, n: Int): GenericArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val strs = new Array[UTF8String](len)
    var i = 0
    while (i < len) { strs(i) = toks.getUTF8String(i); i += 1 }
    val out = new Array[Any](len - n + 1)
    val space = UTF8String.fromString(" ")
    i = 0
    while (i <= len - n) {
      var s = strs(i)
      var j = 1
      while (j < n) { s = UTF8String.concat(s, space, strs(i + j)); j += 1 }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Static eval for [[ZValueExpr]]'s codegen path: per-column quantile
    * rank (count of boundaries <= value, by binary search) bit-interleaved
    * MSB-first round-robin into one long — the Morton/Z-curve cell id.
    * Columns may carry different boundary counts; a column contributes
    * only at bit positions below its own width. */
  def zValueEval(values: ArrayData, bounds: ArrayData): Long = {
    val n = values.numElements()
    val ranks = new Array[Int](n)
    val widths = new Array[Int](n)
    var maxBits = 0
    var c = 0
    while (c < n) {
      val bs = bounds.getArray(c)
      val v = values.getDouble(c)
      var lo = 0
      var hi = bs.numElements()
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (bs.getDouble(m) <= v) lo = m + 1 else hi = m
      }
      ranks(c) = lo
      widths(c) = 32 - Integer.numberOfLeadingZeros(bs.numElements())
      if (widths(c) > maxBits) maxBits = widths(c)
      c += 1
    }
    var z = 0L
    var b = maxBits - 1
    while (b >= 0) {
      c = 0
      while (c < n) {
        if (b < widths(c)) z = (z << 1) | ((ranks(c) >>> b) & 1L)
        c += 1
      }
      b -= 1
    }
    z
  }

  /** Raw first-60-bits of md5 (NO mod P) — identical to
    * conv(substr(md5(s),1,15),16,10). Full 60-bit spread, needed where
    * individual BITS carry signal (SimHash votes); the mod-P variant
    * would zero bits 30-59. */
  def md5Hash60Raw(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v << 4) | ((h(7) & 0xffL) >>> 4)
  }
}

/** array<string> -> array<long>: md5-derived 60-bit hash mod P per
  * token. Mirrors Dedup.tokenHashes / the oracle's
  * `CAST('0x'||substr(md5(x),1,15) AS BIGINT) % P`. Participates in
  * whole-stage codegen (the generated loop calls the static hash
  * helper). */
case class TokenHashes60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = Native.md5Hash60(arr.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |final long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = graft.functions.Native.md5Hash60(
         |    $a.getUTF8String($i).getBytes());
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): TokenHashes60 = copy(c)
}

/** array<string> -> array<long>: RAW 60-bit md5 hash per token (no
  * mod P) — mirrors `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`. Used
  * by SimHash, where every BIT must carry signal. */
case class TokenHashesRaw60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = Native.md5Hash60Raw(arr.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |final long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = graft.functions.Native.md5Hash60Raw(
         |    $a.getUTF8String($i).getBytes());
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): TokenHashesRaw60 = copy(c)
}

/** array<long> -> array<long>: base-31 polynomial n-gram combine mod P.
  * Mirrors Dedup.shingleHashes. */
case class PolyShingleHashes(child: Expression, nExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = nExpr
  private lazy val n: Int = nExpr.eval().asInstanceOf[Int]
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val len = ctx.freshName("len")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val terms = (0 until n).map(j =>
        s"$a.getLong($i + $j) * ${math.pow(31, n - 1 - j).toLong}L")
        .mkString(" + ")
      s"""
         |final int $len = $a.numElements();
         |final long[] $out = new long[$len < $n ? 0 : $len - $n + 1];
         |for (int $i = 0; $i + $n <= $len; $i++) {
         |  final long $acc = $terms;
         |  $out[$i] = $acc % ${Native.P}L;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override def nullSafeEval(v: Any, ignored: Any): Any = {
    val th = v.asInstanceOf[ArrayData]
    val len = th.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val pow = Array.tabulate(n)(j => math.pow(31, n - 1 - j).toLong)
    val out = new Array[Long](len - n + 1)
    var i = 0
    while (i <= len - n) {
      var acc = 0L
      var j = 0
      while (j < n) { acc += th.getLong(i + j) * pow(j); j += 1 }
      out(i) = acc % Native.P
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(child = l, nExpr = r)
}

/** array<long> -> array<long>: 60-bit window fingerprints for the
  * ExactSubstr-style duplicated-substring pass (Lee et al. 2021) —
  * fp(i) = h31(i) * P + h37(i), where h_b(i) is the base-b polynomial
  * of the k token hashes starting at i, mod P. Two independent bases
  * lift the collision space from P (~2^30) to ~2^60 while every
  * intermediate stays in 63 bits. Computed as a TRUE rolling
  * Rabin-Karp — O(tokens) per document, not O(tokens × k): the first
  * window is a Horner fold, each subsequent one drops the leading
  * term (h + P - th*b^(k-1) mod P keeps the accumulator nonnegative)
  * and shifts. The oracle mirrors the mathematically-equal nested
  * Horner form; RollingFpSpec pins rolling == Horner. Docs shorter
  * than k yield an empty array.
  *
  * INPUT CONTRACT: elements must be < P (~2^30), i.e. produced by
  * [[TokenHashes60]] — the rolling drop term `drop * b^(k-1) mod P`
  * overflows a long silently on [[TokenHashesRaw60]]'s 60-bit values.
  * The interpreted eval path (tests, codegen fallback) enforces the
  * contract; the codegen hot path trusts it. */
case class SubstrFingerprints(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = kExpr
  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  private lazy val pow31: Long =
    BigInt(31).modPow(k - 1, Native.P).toLong
  private lazy val pow37: Long =
    BigInt(37).modPow(k - 1, Native.P).toLong
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val len = ctx.freshName("len")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val v = ctx.freshName("v")
      val drop = ctx.freshName("drop")
      val P = Native.P
      s"""
         |final int $len = $a.numElements();
         |final int $m = $len < $k ? 0 : $len - $k + 1;
         |final long[] $out = new long[$m];
         |if ($m > 0) {
         |  long $h1 = 0L, $h2 = 0L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    final long $v = $a.getLong($j);
         |    $h1 = ($h1 * 31L + $v) % ${P}L;
         |    $h2 = ($h2 * 37L + $v) % ${P}L;
         |  }
         |  $out[0] = $h1 * ${P}L + $h2;
         |  for (int $i = 1; $i < $m; $i++) {
         |    final long $drop = $a.getLong($i - 1);
         |    final long $v = $a.getLong($i + $k - 1);
         |    $h1 = (($h1 + ${P}L - $drop * ${pow31}L % ${P}L) * 31L + $v) % ${P}L;
         |    $h2 = (($h2 + ${P}L - $drop * ${pow37}L % ${P}L) * 37L + $v) % ${P}L;
         |    $out[$i] = $h1 * ${P}L + $h2;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override def nullSafeEval(thv: Any, ignored: Any): Any = {
    val th = thv.asInstanceOf[ArrayData]
    val len = th.numElements()
    if (len < k) return new GenericArrayData(Array.emptyLongArray)
    val P = Native.P
    var ci = 0
    while (ci < len) {
      require(th.getLong(ci) < P,
        s"graft_substr_fps input ${th.getLong(ci)} >= $P — feed " +
          "graft_token_hashes (mod-P), not graft_token_hashes_raw")
      ci += 1
    }
    val out = new Array[Long](len - k + 1)
    var h1 = 0L; var h2 = 0L
    var j = 0
    while (j < k) {
      val v = th.getLong(j)
      h1 = (h1 * 31L + v) % P
      h2 = (h2 * 37L + v) % P
      j += 1
    }
    out(0) = h1 * P + h2
    var i = 1
    while (i < out.length) {
      val drop = th.getLong(i - 1)
      val v = th.getLong(i + k - 1)
      h1 = ((h1 + P - drop * pow31 % P) * 31L + v) % P
      h2 = ((h2 + P - drop * pow37 % P) * 37L + v) % P
      out(i) = h1 * P + h2
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(child = l, kExpr = r)
}

/** array<long> -> array<long>: 60-bit fingerprints of the ALIGNED
  * k-token chunks (stride k, the passage-dedup chunking — not
  * [[SubstrFingerprints]]'s stride-1 windows): chunk j covers tokens
  * [j·k, min((j+1)·k, n)), the last one short if k does not divide n.
  * fp = h31 · P + h37, each base's plain Horner fold over the chunk
  * mod P — the exact value `list_reduce(chunk, (a,x) -> (a·b+x) % P)`
  * computes in the oracle (list_reduce seeds with the first element;
  * Horner from 0 is identical because elements are already < P).
  * Grouping passages by this 8-byte value instead of their text moves
  * ~8 bytes per chunk through the winners exchange instead of the
  * ~100-byte chunk string; a ~2^60 collision can only MERGE two
  * distinct passages (over-dedup by one), the accepted fingerprint-
  * dedup trade, identical on both engines because the oracle groups by
  * the same value.
  *
  * INPUT CONTRACT: elements < P (use [[TokenHashes60]]), enforced on
  * the interpreted path like [[SubstrFingerprints]]. */
case class AlignedChunkFingerprints(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = kExpr
  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val len = ctx.freshName("len")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val e = ctx.freshName("e")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val v = ctx.freshName("v")
      val P = Native.P
      s"""
         |final int $len = $a.numElements();
         |final int $m = ($len + ${k - 1}) / $k;
         |final long[] $out = new long[$m];
         |for (int $c = 0; $c < $m; $c++) {
         |  final int $e = Math.min(($c + 1) * $k, $len);
         |  long $h1 = 0L, $h2 = 0L;
         |  for (int $j = $c * $k; $j < $e; $j++) {
         |    final long $v = $a.getLong($j);
         |    $h1 = ($h1 * 31L + $v) % ${P}L;
         |    $h2 = ($h2 * 37L + $v) % ${P}L;
         |  }
         |  $out[$c] = $h1 * ${P}L + $h2;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override def nullSafeEval(thv: Any, ignored: Any): Any = {
    val th = thv.asInstanceOf[ArrayData]
    val len = th.numElements()
    val P = Native.P
    var ci = 0
    while (ci < len) {
      require(th.getLong(ci) < P,
        s"graft_chunk_fps input ${th.getLong(ci)} >= $P — feed " +
          "graft_token_hashes (mod-P), not graft_token_hashes_raw")
      ci += 1
    }
    val m = (len + k - 1) / k
    val out = new Array[Long](m)
    var c = 0
    while (c < m) {
      val e = math.min((c + 1) * k, len)
      var h1 = 0L; var h2 = 0L
      var j = c * k
      while (j < e) {
        val v = th.getLong(j)
        h1 = (h1 * 31L + v) % P
        h2 = (h2 * 37L + v) % P
        j += 1
      }
      out(c) = h1 * P + h2
      c += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(child = l, kExpr = r)
}

/** array<long> -> array<long>(k): MinHash signature under
  * h_i(x) = ((i*7919+1)x + i*104729) mod P, single pass maintaining k
  * minima. Mirrors Dedup.minHashSignature. */
case class MinHashSig(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = kExpr
  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val len = ctx.freshName("len")
      val mins = ctx.freshName("mins")
      val boxed = ctx.freshName("boxed")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h = ctx.freshName("h")
      val hp = ctx.freshName("hp")
      s"""
         |final int $len = $a.numElements();
         |final long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $len; $i++) {
         |  final long $h = $a.getLong($i);
         |  for (int $p = 0; $p < $k; $p++) {
         |    final long $hp = (($p * 7919L + 1L) * $h + $p * 104729L) % ${Native.P}L;
         |    if ($hp < $mins[$p]) $mins[$p] = $hp;
         |  }
         |}
         |final Object[] $boxed = new Object[$k];
         |for (int $p = 0; $p < $k; $p++) {
         |  $boxed[$p] = ($len == 0) ? null : (Object) java.lang.Long.valueOf($mins[$p]);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
       """.stripMargin
    })
  override def nullSafeEval(v: Any, ignored: Any): Any = {
    val sh = v.asInstanceOf[ArrayData]
    val len = sh.numElements()
    if (len == 0) return new GenericArrayData(Array.fill[Any](k)(null))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < len) {
      val h = sh.getLong(i)
      var p = 0
      while (p < k) {
        val hp = ((p * 7919L + 1L) * h + p * 104729L) % Native.P
        if (hp < mins(p)) mins(p) = hp
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(child = l, kExpr = r)
}

/** array<long> -> long: 64-bit SimHash, one pass accumulating all 64
  * bit-votes. Mirrors Dedup.simHash64FromHashes. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |final int $n = $a.numElements();
         |final int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] >= 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })
  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) >= 0) fp |= (1L << b); b += 1 }
    fp
  }
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(c)
}

/** array<long> -> int: angular-LSH signature, bit p = sign of the dot
  * product with deterministic hyperplane p. Mirrors
  * Similarity.hyperplaneSig (i is 1-based in the weight formula). */
case class HyperplaneSigExpr(child: Expression, bitsExpr: Expression,
                             offsetExpr: Expression)
    extends TernaryExpression {
  override def first: Expression = child
  override def second: Expression = bitsExpr
  override def third: Expression = offsetExpr
  private lazy val bits: Int = bitsExpr.eval().asInstanceOf[Int]
  // Plane-index offset: multi-table LSH (OR amplification) uses an
  // independent hyperplane family per table via offset = table * bits.
  private lazy val offset: Int = offsetExpr.eval().asInstanceOf[Int]
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any, ignored: Any, ignored2: Any): Any =
    Native.hyperplaneSigEval(v.asInstanceOf[ArrayData], bits, offset)
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (q, b, o) =>
      s"${ev.value} = graft.functions.Native.hyperplaneSigEval($q, $b, $o);")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(child = f, bitsExpr = s, offsetExpr = t)
}

/** array<string> -> array<string>: word n-gram shingles joined by a
  * single space, one pass with a reused StringBuilder. Mirrors
  * TextOps.wordShingles (HOF) byte-for-byte. */
case class WordShinglesExpr(child: Expression, nExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = nExpr
  private lazy val n: Int = nExpr.eval().asInstanceOf[Int]
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any, ignored: Any): Any =
    Native.wordShinglesEval(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (t, nn) =>
      s"${ev.value} = graft.functions.Native.wordShinglesEval($t, $nn);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(child = l, nExpr = r)
}

/** (array<long>, array<long>) -> double: cosine similarity of quantized
  * vectors — dot, |a|², |b|² in one pass, then dot/(√|a|²·√|b|²).
  * Mirrors Similarity.cosineQ (all intermediates exact: < 2^53).
  * Generates a primitive loop under whole-stage codegen. */
case class CosineQExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L, $na = 0L, $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt((double) $na)
         |  * java.lang.Math.sqrt((double) $nb));
       """.stripMargin
    })
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val xi = x.getLong(i)
      val yi = y.getLong(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** (array<double> values, array<array<double>> quantile boundaries) ->
  * long: Morton/Z-curve cell id — each column's quantile rank (binary
  * search over its boundary list), bit-interleaved round-robin. Drives
  * [[graft.kv.KvTable.compactZOrder]]: rows sorted by this value give
  * every file/row group a tight min/max range on EVERY clustered column
  * simultaneously, so stats pruning works for predicates on any of them
  * (single-column sort only serves its leading column). The boundary
  * argument is a broadcast-sized literal (cells-1 doubles per column);
  * the per-row work is one binary search per column under whole-stage
  * codegen. */
case class ZValueExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b) =>
      s"${ev.value} = graft.functions.Native.zValueEval($v, $b);")
  override def nullSafeEval(v: Any, b: Any): Any =
    Native.zValueEval(v.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** array<string> -> long: count of the single most frequent element —
  * the native engine of the Gopher top-n-gram repetition signal
  * ([[graft.text.TextOps.topGramFrac]]). ONE O(n) hash-count pass per
  * row, replacing the O(n log n) sort-and-longest-run HOF chain (and
  * the quadratic count-per-distinct shape before it); runs inside
  * whole-stage codegen via the static eval. */
case class TopFreqExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Native.topFreqEval(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Native.topFreqEval($a);")
  override protected def withNewChildInternal(c: Expression): TopFreqExpr =
    copy(c)
}

/** text string -> struct<n_tokens:int, dup_token_frac:double,
  * top_bigram_frac:double, dup_bigram_frac:double,
  * top_trigram_frac:double>: the Gopher repetition-filter metric family
  * (Rae et al. 2021 §A1.1) in ONE byte pass ([[Native.gopherStatsEval]])
  * — replaces a tokenize + two shingle materializations + two
  * array_distinct walks + two topFreq hash passes behind three
  * generator barriers. Pin the struct behind a generator barrier and
  * select its fields. */
case class GopherStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("dup_token_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false),
    StructField("dup_bigram_frac", DoubleType, nullable = false),
    StructField("top_trigram_frac", DoubleType, nullable = false)))
  override def nullSafeEval(t: Any): Any =
    Native.gopherStatsEval(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Native.gopherStatsEval($t);")
  override protected def withNewChildInternal(c: Expression): GopherStatsExpr =
    copy(c)
}

/** text string -> struct<n_tokens:int, total_chars:long>: token count
  * and total token codepoints in ONE byte pass
  * ([[Native.tokenStatsEval]]) — replaces a tokenize + interpreted
  * aggregate/transform HOF walk per referencing projection. Pin the
  * struct behind a generator barrier and select its fields. */
case class TokenStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("total_chars", LongType, nullable = false)))
  override def nullSafeEval(t: Any): Any =
    Native.tokenStatsEval(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Native.tokenStatsEval($t);")
  override protected def withNewChildInternal(c: Expression): TokenStatsExpr =
    copy(c)
}

/** text string -> array<struct<token:string, tf:bigint>>: per-document
  * token frequencies in ONE byte pass ([[Native.tokenCountsEval]]) —
  * computed map-side, it replaces the
  * `explode(tokens(text))` -> `groupBy(doc, token).count()` exchange +
  * hash aggregate with a per-row expression: the (doc, token, tf) rows
  * it explodes to are the exact multiset the aggregate produced, so a
  * downstream per-token aggregate or join sees identical input with
  * one whole exchange removed (guide §2.4). */
case class TokenCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(t: Any): Any =
    Native.tokenCountsEval(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Native.tokenCountsEval($t);")
  override protected def withNewChildInternal(c: Expression): TokenCountsExpr =
    copy(c)
}

/** (text string, profiles array<array<string>>) -> array<int>: count
  * of tokens hitting each profile's word list, in profile order, ONE
  * tokenize pass ([[Native.langScoresEval]]) — replaces one
  * interpreted filter/array_contains HOF walk per profile. Pin the
  * array behind a generator barrier and element_at the entries. */
case class LangScoresExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(t: Any, p: Any): Any =
    Native.langScoresEval(t.asInstanceOf[UTF8String], p.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (t, p) =>
      s"${ev.value} = graft.functions.Native.langScoresEval($t, $p);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** (text string, stopwords array<string>) -> struct<n_tokens:int,
  * stop_ratio:double, nonalnum_ratio:double, quality:double>: the whole
  * text-quality metric family in ONE byte pass ([[Native.textQualityEval]])
  * — replaces a tokenize + two interpreted HOF walks + two
  * regexp_replace scans per row. Pin the struct behind a generator
  * barrier and select its fields (field extraction re-evaluates the
  * source expression otherwise). */
case class TextQualityExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("stop_ratio", DoubleType, nullable = false),
    StructField("nonalnum_ratio", DoubleType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))
  override def nullSafeEval(t: Any, s: Any): Any =
    Native.textQualityEval(t.asInstanceOf[UTF8String], s.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"${ev.value} = graft.functions.Native.textQualityEval($t, $s);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** (serialized bloom filter binary LITERAL, key long) -> boolean:
  * membership probe against a broadcast-sized Bloom sketch — the
  * runtime-filter probe (q_bloom_semijoin) as a whole-stage-codegen
  * expression instead of a per-row Scala UDF (which boxes every key
  * and fences codegen). The filter is deserialized ONCE per expression
  * instance (driver and each task deserialize their own copy from the
  * plan's literal) and installed as a codegen reference object; the
  * per-row work is mightContainLong on an unboxed long. The first
  * child must be FOLDABLE — a non-literal filter would silently bind
  * to a null input row — which checkInputDataTypes enforces. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "the serialized bloom filter must be a foldable BINARY literal")
    else if (left.dataType != BinaryType || right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"expected (BINARY, BIGINT), got (${left.dataType}, ${right.dataType})")
    else if (left.eval(null) == null)
      // a foldable NULL would otherwise NPE inside BloomFilter.readFrom
      // at first evaluation — fail at analysis time instead
      TypeCheckResult.TypeCheckFailure(
        "the serialized bloom filter must be a foldable non-NULL BINARY literal")
    else TypeCheckResult.TypeCheckSuccess
  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        left.eval(null).asInstanceOf[Array[Byte]]))
  override def nullSafeEval(bf: Any, key: Any): Any =
    filter.mightContainLong(key.asInstanceOf[Long])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode = {
    val bfRef = ctx.addReferenceObj("bloomFilter", filter,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (_, k) =>
      s"${ev.value} = $bfRef.mightContainLong($k);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** (text string, mergeLefts array<string> LITERAL, mergeRights
  * array<string> LITERAL) -> struct<n_words:int, n_bpe_tokens:int>:
  * the whole `text_bpe_train` application — canonicalize, apply the
  * trained merges in rank order, count words and post-merge tokens —
  * in ONE pass over per-word symbol ARRAYS instead of 1 (canonical
  * split-per-char + join) + |merges| (string replace) full-string
  * passes per document.
  *
  * BIT-EQUIVALENCE to the replace-chain formulation
  * (`Bpe.canonical` → `Bpe.applyMerges` → `Bpe.tokenCount`, which the
  * DuckDB oracle mirrors as nested replace()): on '/'-free BMP text,
  * every '/' in the canonical form is a separator, so a string match
  * of "/l/r/" exists iff adjacent SYMBOLS (l, r) exist, and both
  * replace() and the in-place array merge consume matches
  * left-to-right without overlap — the trainer's own
  * [[graft.text.Bpe.mergePair]] discipline. Text containing '/' (a
  * literal separator char: string matches may then cross symbol
  * boundaries) or astral codepoints (split("") is codepoint-aware;
  * charAt is not) falls back to an exact reimplementation of the
  * replace chain for that document. BpeFusedProps pins equality
  * against the original column composition on adversarial and random
  * inputs (both paths). */
case class BpeStatsExpr(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_bpe_tokens", IntegerType, nullable = false)))
  // merge tables come from foldable literal children: extract once
  @transient private lazy val (mergeL, mergeR, mergeLR) = {
    def arr(e: Expression): Array[String] =
      e.eval(null).asInstanceOf[ArrayData].toObjectArray(StringType)
        .map(_.asInstanceOf[UTF8String].toString)
    val l = arr(second); val r = arr(third)
    require(l.length == r.length,
      s"merge tables differ in length: ${l.length} vs ${r.length}")
    (l, r, l.indices.map(i => l(i) + r(i)).toArray)
  }

  def evalText(t: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = t.toString
    if (s.indexOf('/') >= 0 || s.exists(Character.isSurrogate))
      return fallback(s)
    val words = splitSpaces(s)
    var total = 0L
    var wi = 0
    val scratch = new Array[String](64)
    while (wi < words.length) {
      val w = words(wi)
      val n = w.length + 1
      val syms = if (n <= scratch.length) scratch else new Array[String](n)
      var i = 0
      while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
      syms(w.length) = graft.text.Bpe.Eow
      var len = n
      var m = 0
      while (m < mergeL.length) {
        val l = mergeL(m); val r = mergeR(m)
        // String-replace semantics, NOT the trainer's mergePair: a
        // match consumes its trailing '/', which is the NEXT symbol's
        // leading '/', so the symbol right after a merge can never
        // START the next match in the same pass ("/a/a/a/a/" merges
        // ONE pair, not two). Track that consumed slash explicitly.
        var read = 0; var write = 0
        var hasSlash = true
        while (read < len) {
          if (hasSlash && read < len - 1 &&
              syms(read) == l && syms(read + 1) == r) {
            syms(write) = mergeLR(m); read += 2; hasSlash = false
          } else { syms(write) = syms(read); read += 1; hasSlash = true }
          write += 1
        }
        len = write
        m += 1
      }
      total += len
      wi += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](words.length, total.toInt))
  }

  /** Exact replace-chain reimplementation for text the fast path's
    * alignment argument does not cover ('/' or astral codepoints):
    * identical to canonical()+applyMerges()+tokenCount() — Spark's
    * split/replace on literals are the codepoint-aware java.util.regex
    * split and LTR non-overlapping literal replace used here. */
  private def fallback(s: String): org.apache.spark.sql.catalyst.InternalRow = {
    val words = splitSpaces(s)
    val sb = new java.lang.StringBuilder
    var wi = 0
    while (wi < words.length) {
      if (wi > 0) sb.append(' ')
      sb.append('/')
      val w = words(wi) + graft.text.Bpe.Eow
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        sb.appendCodePoint(cp).append('/')
        i += Character.charCount(cp)
      }
      wi += 1
    }
    var canon = sb.toString
    var m = 0
    while (m < mergeL.length) {
      canon = canon.replace("/" + mergeL(m) + "/" + mergeR(m) + "/",
        "/" + mergeLR(m) + "/")
      m += 1
    }
    var slashes = 0L
    var i = 0
    while (i < canon.length) {
      if (canon.charAt(i) == '/') slashes += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](words.length, (slashes - words.length).toInt))
  }

  /** split(s, " ", -1) with empty fields kept — Spark's split(text,
    * " ") semantics on the single-space pattern. */
  private def splitSpaces(s: String): Array[String] = {
    var n = 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') n += 1; i += 1 }
    val out = new Array[String](n)
    var start = 0
    var k = 0
    i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') { out(k) = s.substring(start, i); k += 1; start = i + 1 }
      i += 1
    }
    out(k) = s.substring(start)
    out
  }

  override def nullSafeEval(t: Any, l: Any, r: Any): Any =
    evalText(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode = {
    val ref = ctx.addReferenceObj("bpeStats", this,
      classOf[BpeStatsExpr].getName)
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"${ev.value} = $ref.evalText($t);")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(first = f, second = s, third = t)
}
