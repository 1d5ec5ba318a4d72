package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Deterministic scalar functions of the engine (SURVEY.md §2.8).
  *
  * Everything here is pure and seed-free so that stage re-runs are
  * idempotent. Where the reference calls an external service (tiktoken,
  * OpenAI embeddings, Jina reranker) we substitute a deterministic,
  * self-contained function with the same role; where it is plain string
  * math (non-alpha ratio, reference reader.py:188-224) we express it in
  * Spark built-ins so it stays inside whole-stage codegen.
  */
object TextFns {

  /** Token estimator (stand-in for tiktoken cl100k_base,
    * reference builder/reader/reader.py:226-238): hybrid of word count and
    * chars/4, always >= 1 for non-empty text. Word = maximal run matched
    * by splitting on the REGEX \s+ — deliberately the same charset as the
    * column twin (Java regex \s, NOT Character.isWhitespace, which also
    * matches U+2028 etc. and would silently diverge the two forms). */
  def estimateTokens(text: String): Int = {
    if (text == null || text.isEmpty) 0
    else {
      // allocation-free count of maximal non-whitespace runs — identical
      // to split("\\s+").count(_.nonEmpty) but without the per-call
      // Pattern compile + token-array allocation (this runs once per span
      // AND once per chunk across the whole corpus). Whitespace = the Java
      // regex \s charset exactly: [ \t\n\f\r].
      var words = 0
      var inWord = false
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
        if (ws) inWord = false
        else if (!inWord) { words += 1; inWord = true }
        i += 1
      }
      math.max(words, (text.length + 3) / 4)
    }
  }

  /** Column version of the token estimator — pure built-ins (codegen'd):
    * greatest(non-empty-token count, ceil(len/4)). Must agree with
    * [[estimateTokens]]: counting NON-EMPTY split pieces (instead of
    * trimming first) makes leading/trailing whitespace of ANY kind — tabs,
    * newlines — agree between the two forms and with the DuckDB oracle
    * (trim() strips only ASCII spaces on both engines). */
  def estimateTokensCol(c: Column): Column = {
    val words = size(filter(split(c, "\\s+"), w => w =!= ""))
    when(c.isNull, lit(0))
      .otherwise(greatest(words, ceil(length(c) / lit(4.0)).cast("int")))
  }

  /** Non-alpha ratio with whitespace removed (reference chunk filter,
    * reader.py:188-224): share of non-[A-Za-z] chars among non-whitespace. */
  def nonAlphaRatioCol(c: Column): Column = {
    val noWs = regexp_replace(c, "\\s+", "")
    val alpha = regexp_replace(noWs, "[A-Za-z]", "")
    when(length(noWs) === 0, lit(1.0))
      .otherwise(length(alpha).cast("double") / length(noWs).cast("double"))
  }

  /** Chunk keep-filter: len >= 100 and nonAlphaRatio <= 0.4
    * (reference reader.py:188-224). */
  def chunkKeep(c: Column): Column =
    length(c) >= 100 && nonAlphaRatioCol(c) <= 0.4

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup / provenance identity. THE canonical definition:
    * ops.TextAnalysis, the SQL registry's doc_fingerprint, and the
    * streaming dedup state key all route here so the identity can never
    * fork between surfaces. */
  def fingerprintCol(c: Column): Column =
    md5(regexp_replace(trim(lower(c)), "\\s+", " "))

  /** The dedup-family word tokenization as a COLUMN: non-empty lowercase
    * alphanumeric runs (split on `[^a-zA-Z0-9]+`). THE canonical column
    * definition — Importance (DSIR), LangModel (perplexity), Ranking
    * (BM25), and TextAnalysis.tfidfTopTerms all route here, and every
    * DuckDB oracle mirrors it verbatim — so cross-operator token identity
    * can never fork (DSIR and the LM disagreeing on what a token is would
    * silently skew both signals). Null text yields an empty array. Scala
    * twin: [[normTokens]] (unsorted form: the `shingles`/`simhash64`
    * tokenizer), kept charset-identical by construction. */
  def tokensCol(c: Column): Column =
    filter(split(lower(regexp_replace(coalesce(c, lit("")),
      "[^a-zA-Z0-9]+", " ")), " "), t => t =!= "")

  // ---------------------------------------------------------------------
  // Fuzzy name matching (reference tools/fuzzy_matcher.py:48-58 —
  // fuzzywuzzy token_set_ratio; we use a Levenshtein-based ratio which is
  // identical at the >=95 threshold for the subset-alias cases that matter).
  // ---------------------------------------------------------------------

  // Precompiled: String.replaceAll/split compile their Pattern on EVERY
  // call — normTokens runs twice per candidate pair in the linking hot
  // path (tens of millions of calls per build).
  private val NonAlnum = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** Lowercased word tokens via the precompiled pattern (String.split(regex)
    * recompiles per call; these run per row across the corpus). */
  private def splitNonAlnum(text: String): Array[String] =
    NonAlnum.split(text.toLowerCase).filter(_.nonEmpty)

  def normTokens(s: String): Array[String] = {
    val cleaned = NonAlnum.matcher(s.toLowerCase).replaceAll(" ").trim
    if (cleaned.isEmpty) Array.empty[String]
    else {
      val out = cleaned.split(' ')
      java.util.Arrays.sort(out.asInstanceOf[Array[AnyRef]])
      out
    }
  }

  private def levenshtein(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  /** Levenshtein similarity ratio in [0,100]. */
  def ratio(a: String, b: String): Int = {
    val lensum = a.length + b.length
    if (lensum == 0) 100
    else math.round(100.0 * (lensum - levenshtein(a, b)) / lensum).toInt
  }

  /** token_set_ratio(a,b): max ratio among (inter, inter+diffA),
    * (inter, inter+diffB), (inter+diffA, inter+diffB) on sorted-token
    * strings. Subset token sets score 100 exactly as in fuzzywuzzy. */
  def tokenSetRatio(a: String, b: String): Int = {
    val ta = normTokens(a)
    val tb = normTokens(b)
    if (ta.isEmpty && tb.isEmpty) return 100
    val sa = ta.toSet
    val sb = tb.toSet
    // subset/equal token sets score 100 exactly (s1 == inter == one of the
    // combined strings) — the dominant alias case in the linking hot path;
    // returning early skips three Levenshtein runs per pair
    if (sa.subsetOf(sb) || sb.subsetOf(sa)) return 100
    val inter = (sa intersect sb).toArray.sorted.mkString(" ")
    val da = (sa diff sb).toArray.sorted.mkString(" ")
    val db = (sb diff sa).toArray.sorted.mkString(" ")
    val s1 = inter
    val s2 = if (da.isEmpty) inter else if (inter.isEmpty) da else inter + " " + da
    val s3 = if (db.isEmpty) inter else if (inter.isEmpty) db else inter + " " + db
    math.max(ratio(s1, s2), math.max(ratio(s1, s3), ratio(s2, s3)))
  }

  // ---------------------------------------------------------------------
  // Deterministic embedding + rerank score (stand-ins for OpenAI
  // text-embedding-3-large and Jina rerank; reference
  // agents/providers/openai.py:175-203, agents/providers/jina.py:33-84).
  // ---------------------------------------------------------------------

  val EmbedDim = 64

  /** Feature-hashed bag-of-words embedding, L2-normalized. String.hashCode
    * is spec-fixed so this is deterministic across JVMs. */
  def embed(text: String): Array[Float] = {
    val v = new Array[Float](EmbedDim)
    if (text != null) {
      val toks = splitNonAlnum(text)
      var i = 0
      while (i < toks.length) {
        val h = toks(i).hashCode
        val idx = java.lang.Math.floorMod(h, EmbedDim)
        val sign = if (((h >>> 16) & 1) == 0) 1.0f else -1.0f
        v(idx) += sign
        i += 1
      }
    }
    var norm = 0.0
    var i = 0
    while (i < EmbedDim) { norm += v(i).toDouble * v(i); i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < EmbedDim) { v(i) *= inv; i += 1 }
    }
    v
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic rerank score: token-overlap cosine in [0,1]. */
  def rerankScore(query: String, text: String): Double = {
    val q = normTokens(query).toSet
    val t = normTokens(text).toSet
    if (q.isEmpty || t.isEmpty) 0.0
    else (q intersect t).size / math.sqrt(q.size.toDouble * t.size.toDouble)
  }

  // ---------------------------------------------------------------------
  // Hashing primitives for dedup / fingerprinting (64-bit FNV-1a — stable,
  // allocation-free, same everywhere).
  // ---------------------------------------------------------------------

  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Seeded variant for minhash permutations. */
  def fnv1a64(s: String, seed: Int): Long = {
    var h = 0xcbf29ce484222325L ^ (seed.toLong * 0x9e3779b97f4a7c15L)
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over word tokens. */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    val toks = if (text == null) Array.empty[String]
      else splitNonAlnum(text)
    var i = 0
    while (i < toks.length) {
      val h = fnv1a64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Word-level k-shingles ("a b c" windows) for minhash/jaccard. */
  def shingles(text: String, k: Int): Array[String] = {
    val toks = if (text == null) Array.empty[String]
      else splitNonAlnum(text)
    if (toks.length < k) { if (toks.isEmpty) Array.empty else Array(toks.mkString(" ")) }
    else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" ")).toArray
  }

  /** FNV-1a of the window `toks(start..start+len)` joined with single
    * spaces, WITHOUT materializing the joined string — char-identical to
    * `fnv1a64(toks.slice(start, start+len).mkString(" "))`. */
  private def fnvWindow(toks: Array[String], start: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < len) {
      if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
      val t = toks(start + j)
      var i = 0
      while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      j += 1
    }
    h
  }

  /** The DISTINCT set of `fnv1a64(shingle)` values of [[shingles]], as a
    * sorted array — exactly `shingles(text, k).distinct.map(fnv1a64)` as
    * a set, computed without building any shingle string (one rolling
    * FNV per window over the token chars, sort + in-place dedup instead
    * of boxed distinct). This is the per-document feature of the
    * ngram-Jaccard verification paths, which consume it purely as a set
    * (sizes and intersections), so element order is free. */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val toks = if (text == null) Array.empty[String] else splitNonAlnum(text)
    if (toks.isEmpty) return Array.empty[Long]
    if (toks.length < k) return Array(fnvWindow(toks, 0, toks.length))
    val n = toks.length - k + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = fnvWindow(toks, i, k); i += 1 }
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted run
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == n) hs else java.util.Arrays.copyOf(hs, w)
  }

  /** |a ∩ b| of two arrays sorted ascending and distinct, as
    * [[shingleHashes]] returns them: one merge pass over the unsafe arrays,
    * no hash set and no result array (what `array_intersect` builds per
    * row). */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** MinHash signature of `numPerm` 64-bit minima over shingles. */
  def minhash(text: String, k: Int, numPerm: Int): Array[Long] = {
    val sh = shingles(text, k)
    val sig = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var p = 0
      while (p < numPerm) {
        val h = fnv1a64(sh(i), p)
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }
}
