package graft.ops

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All are narrow
  * per-row projections built from codegen'd built-ins (no shuffle, fully
  * pushdown-friendly); only language ID uses a scalar UDF over a small
  * static profile table.
  */
object TextAnalysis {

  /** Stopword list used by the quality score (fixed, shared with oracle SQL). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Fraction threshold rendered as zero-padded lowercase hex of
    * floor(f * 2^32): same-length hex strings order numerically, so
    * `bucket_hash < hexAt(f)` keeps exactly the f-fraction of a uniform
    * 32-bit hash. f >= 1.0 returns the sentinel "g" (sorts after every
    * hex string) so a rate-1.0 stratum keeps EVERY row — capping at
    * "ffffffff" would strictly-compare away the ~2^-32 of ids whose hash
    * is exactly ffffffff (real occurrences at 1e12-doc scale). Shared by
    * [[hashSplit]] and [[stratifiedSample]]; oracle SQL mirrors the same
    * rendering. */
  private[ops] def hexAt(f: Double): String =
    if (f >= 1.0) "g"
    else f"${(f * 4294967296.0).toLong}%08x"

  /** First 8 hex chars of md5(id:salt) — uniform on [0, 2^32), portable
    * SQL (the DuckDB oracles are the same expression verbatim). */
  private[ops] def saltedHashCol(id: Column, salt: String): Column =
    substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 8)

  /** Quality features per document:
    * n_words, n_chars, avg_word_len, stopword_ratio, non_alpha_ratio,
    * all ratios rounded to 4 decimals (shared rounding with the oracle).
    * Words are NON-EMPTY \s+ split pieces — `split(trim(..))` would count
    * 1 word for an empty document and a phantom token after a leading tab
    * (trim strips only ASCII spaces). Empty documents report n_words=0 and
    * 0.0 ratios on both the engine and oracle sides. Stopword membership
    * uses the Column API, not an interpolated SQL string — a column name
    * needing backticks would break an `expr(...)` form. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")
    val nWords = size(words)
    val nStop = size(filter(words, w => w.isInCollection(Stopwords)))
    def ratio(num: Column): Column =
      when(nWords === 0, lit(0.0)).otherwise(round(num.cast("double") / nWords, 4))
    df.select(
      col(idCol).as("id"),
      nWords.cast("long").as("n_words"),
      length(col(textCol)).cast("long").as("n_chars"),
      ratio(length(regexp_replace(col(textCol), "\\s+", ""))).as("avg_word_len"),
      ratio(nStop).as("stopword_ratio"),
      round(TextFns.nonAlphaRatioCol(col(textCol)), 4).as("non_alpha_ratio"))
  }

  /** Per-document Shannon character entropy (bits/char) — the standard
    * gibberish / low-information-content signal (random keyboard mash and
    * binary-pasted-as-text sit far from natural language's ~4 bits/char).
    * H = log2(n) − (Σ c·log2 c)/n over the per-character counts c — the
    * algebraic form of −Σ p·log2 p whose ln inputs are INTEGERS, so the
    * DuckDB oracle replays the exact doubles.
    *
    * 100 TB shape: one explode → two partial-agg-friendly groupBys (the
    * (id, ch) histogram collapses ~alphabet-fold before the per-doc
    * rollup); nothing corpus-sized leaves the aggregation tree. A char is
    * a UTF-16 code unit on the Spark side (Java split semantics) — the
    * fixture corpora are BMP-only, where unit == code point. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hist = df
      .select(col(idCol).as("id"),
        explode(filter(split(coalesce(col(textCol), lit("")), ""), c => c =!= "")).as("ch"))
      .groupBy("id", "ch").agg(count(lit(1)).as("cnt"))
    val ent = hist.groupBy("id").agg(
      sum("cnt").as("n"),
      count(lit(1)).as("distinct_chars"),
      sum(col("cnt").cast("double") * log(2.0, col("cnt").cast("double"))).as("slc"))
    df.select(col(idCol).as("id")).join(ent, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n"), lit(0L)).as("n_chars"),
        coalesce(col("distinct_chars"), lit(0L)).as("distinct_chars"),
        round(when(coalesce(col("n"), lit(0L)) === 0, lit(0.0))
          .otherwise(log(2.0, col("n").cast("double")) - col("slc") / col("n")), 4)
          .as("entropy"))
  }

  /** Token count (the engine's deterministic estimator, F2). */
  def tokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      TextFns.estimateTokensCol(col(textCol)).cast("long").as("n_tokens"))

  /** Document fingerprint — the canonical [[TextFns.fingerprintCol]] (one
    * definition across the ops layer, the SQL registry and the streaming
    * dedup state key). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextFns.fingerprintCol(col(textCol)).as("fingerprint"))

  /** Language-ID heuristic: character/stopword n-gram profiles for a small
    * language set; returns best-scoring language with its score. Profiles
    * are tiny and ship in the closure (broadcast-by-value). */
  private val profiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Set("el", "la", "de", "que", "y", "es", "en", "los"),
    "fr" -> Set("le", "la", "de", "et", "est", "les", "des", "une"),
    "zh" -> Set.empty) // CJK detected by script, not stopwords

  private val langUdf = udf((t: String) => {
    if (t == null || t.isEmpty) "und"
    else {
      val cjk = t.count(c => Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN)
      if (cjk > t.length / 10) "zh"
      else {
        val toks = t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
        if (toks.isEmpty) "und"
        else {
          val scores = profiles.collect { case (l, sw) if sw.nonEmpty =>
            l -> toks.count(sw.contains).toDouble / toks.length
          }
          val (best, sc) = scores.maxBy { case (l, s) => (s, l) }
          if (sc == 0.0) "und" else best
        }
      }
    }
  })

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), langUdf(col(textCol)).as("lang_pred"))

  /** Column form of the language-ID heuristic — lets a composed pipeline
    * (the curation funnel) evaluate the gate IN the scan that produces its
    * input instead of computing a separate (id, lang_pred) projection and
    * semi-joining it back on id (an id-keyed shuffle join per gate). */
  def langPredCol(textCol: Column): Column = langUdf(textCol)

  /** Deterministic train/val/test assignment by salted id hash — the
    * reproducible corpus-split a training pipeline needs: assignment is a
    * pure function of (id, salt), so it is stable under corpus growth
    * (adding documents never reassigns existing ones), identical across
    * runs/clusters, and needs no shuffle or global ordering — a narrow
    * codegen projection even at 100 TB.
    *
    * The first 8 hex chars of md5(id:salt) are uniform on [0, 2^32);
    * comparing them LEXICOGRAPHICALLY against the fraction thresholds
    * rendered as zero-padded lowercase hex is equivalent to a numeric
    * compare (same-length hex strings order numerically) and keeps the
    * whole operator portable SQL — the DuckDB oracle is the same three
    * expressions verbatim.
    * Returns (id, bucket_hash, split). */
  def hashSplit(df: DataFrame, idCol: String,
                trainFrac: Double = 0.8, valFrac: Double = 0.1,
                salt: String = "split-v1"): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      s"invalid split fractions: train=$trainFrac val=$valFrac")
    val t1 = hexAt(trainFrac)
    val t2 = hexAt(trainFrac + valFrac)
    val h = saltedHashCol(col(idCol), salt)
    df.select(col(idCol).as("id"), h.as("bucket_hash"),
      when(h < lit(t1), lit("train"))
        .when(h < lit(t2), lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Repetition signals per document (the Gopher/MassiveText-style
    * repetitiousness filters a pre-training pipeline applies): over the
    * document's word n-grams (lowercased, `\s+`-split non-empty words),
    *   - n_grams: total n-gram occurrences,
    *   - top_gram / top_gram_count / top_gram_frac: the most frequent
    *     n-gram (ties broken by lexicographically GREATEST gram — the
    *     struct-max order, mirrored by the oracle's ORDER BY c DESC,
    *     gram DESC) and the fraction of occurrences it covers,
    *   - dup_gram_frac: fraction of occurrences that are repeats
    *     (1 - distinct/total).
    * Documents with fewer than n words emit no row (they have no n-grams).
    *
    * 100 TB shape: both aggregation keys carry the document id, so ONE
    * repartition by id — moving compact document text, not the ~10×
    * larger exploded gram stream — satisfies the clustering of BOTH
    * aggregations (HashPartitioning(id) clusters (id, gram) too): the
    * grams explode, count, and roll up entirely partition-locally, and no
    * key can be hotter than one document's gram set. The n-gram array
    * itself comes out of one native-expression pass
    * ([[graft.functions.WordGrams]]), no UDF. */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    // gram construction is a native expression (functions/WordGramsExpr):
    // one compiled pass per document — the nested-HOF form it replaced
    // (transform(sequence) x concat_ws(slice)) evaluated interpreted per
    // gram and dominated the query's wall at sf0.1
    val cnt = df.select(col(idCol).as("id"), col(textCol).as("_t"))
      .repartition(col("id"))
      .select(col("id"),
        explode(graft.functions.WordGramsFn(coalesce(col("_t"), lit("")), n)).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("c"))
    cnt.groupBy("id").agg(
      sum("c").as("n_grams"),
      count(lit(1)).as("n_distinct"),
      max(struct(col("c"), col("gram"))).as("top"))
      .select(
        col("id"),
        col("n_grams"),
        col("top").getField("gram").as("top_gram"),
        col("top").getField("c").as("top_gram_count"),
        round(col("top").getField("c") / col("n_grams"), 4).as("top_gram_frac"),
        round((col("n_grams") - col("n_distinct")) / col("n_grams"), 4)
          .as("dup_gram_frac"))
  }

  /** Gopher-style quality-filter verdict (Rae et al. 2021, arXiv:2112.11446
    * Appendix A, the subset expressible without a language model): per
    * document, the rule flags AND the final keep decision —
    *   - word count in [minWords, maxWords]
    *   - mean word length in [3, 10]
    *   - symbol-to-word ratio ('#' or '...') < 0.1
    *   - >= 80% of words contain an alphabetic character
    *   - at least 2 distinct stopwords present
    * Unlike [[quality]] (which reports features), this is the DECISION
    * operator a curation pipeline runs before export.
    *
    * 100 TB shape: a single narrow codegen projection — no UDF, no
    * shuffle, filter-pushdown friendly. Every rule input is an integer
    * count, so the ratio doubles (and the boundary comparisons) are
    * bit-identical across partitionings and vs the DuckDB oracle.
    * Returns (id, n_words, avg_word_len, symbol_ratio, alpha_frac,
    * n_stop_hits, keep); ratios rounded to 4 for reporting, thresholds
    * compared on the unrounded values. */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lt = lower(t)
    // Every rule input is a compiled-regex pass or an array_contains probe
    // — NO lambda higher-order functions: ArrayFilter/ArrayTransform/
    // ArrayAggregate run INTERPRETED with per-element boxing (the pattern
    // profiling showed dominating the repetition/dup-span queries before
    // their native expressions), while regexp_count/rlike/array_contains
    // stay inside whole-stage codegen. Equivalences to the word-list form
    // (word = maximal non-\s run of the lowercased text, the \s+-split
    // non-empty pieces):
    //   n_words  == count of \S+ runs
    //   sum(len) == count of non-\s chars
    //   n_alpha  == count of runs containing an ascii letter ("\S*[a-z]\S*"
    //               consumes a whole run per match, so each run counts <= 1)
    //   stopword membership: empty split pieces can never equal a stopword,
    //               so the unfiltered split array probes identically
    val nWords = regexp_count(lt, lit("\\S+")).cast("long")
    val sumLen = length(regexp_replace(lt, "\\s+", "")).cast("long")
    val awl = when(nWords === 0, lit(0.0))
      .otherwise(sumLen.cast("double") / nWords)
    val nSym = (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))).cast("long")
    val symRatio = when(nWords === 0, lit(0.0))
      .otherwise(nSym.cast("double") / nWords)
    val nAlpha = regexp_count(lt, lit("\\S*[a-z]\\S*")).cast("long")
    val alphaFrac = when(nWords === 0, lit(0.0))
      .otherwise(nAlpha.cast("double") / nWords)
    val rawWords = split(lt, "\\s+")
    val nStop = Stopwords.map(sw =>
      when(array_contains(rawWords, sw), 1L).otherwise(0L)).reduce(_ + _)
    val keep = nWords >= minWords && nWords <= maxWords &&
      awl >= 3.0 && awl <= 10.0 &&
      symRatio < 0.1 && alphaFrac >= 0.8 && nStop >= 2L
    df.select(
      col(idCol).as("id"),
      nWords.as("n_words"),
      round(awl, 4).as("avg_word_len"),
      round(symRatio, 4).as("symbol_ratio"),
      round(alphaFrac, 4).as("alpha_frac"),
      nStop.as("n_stop_hits"),
      keep.as("keep"))
  }

  /** Top-k TF-IDF terms per document — the keyword/topic fingerprint a
    * curation pipeline uses for corpus exploration and domain labeling.
    * score(t, D) = tf(t, D) * ln((N + 1) / (df_t + 1)) (add-one smoothed
    * idf), ties broken by term ascending.
    *
    * 100 TB shape: tokens are exploded ONCE, on the map side of the
    * (id, term) aggregation exchange (partial aggregation collapses
    * repeated terms before the shuffle, and both downstream consumers
    * reuse that one exchange); document frequencies are a partial-agg
    * rollup of the already-slim (id, term, tf) relation; N is a one-row
    * broadcast. The final top-k
    * window partitions by id — partition size is bounded by per-document
    * distinct terms, never by corpus size, so there is no hot-key window
    * hazard. All score inputs are integers, so the double scores (and
    * hence the rank order) are bit-identical across partitionings and vs
    * the DuckDB oracle. Returns (id, rnk, term, tf, tfidf). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    require(k >= 1, s"top-k must be >= 1, got $k")
    val words = TextFns.tokensCol(col("_t"))
    val n1 = broadcast(df.agg(count(lit(1)).as("_n")))
    // explode BELOW the aggregation exchange, not below a repartition(id):
    // `tf` has two consumers (the df rollup and the score join), and with
    // the old repartition-by-id layout only the (id, text) exchange was
    // reusable — each consumer re-ran the explode + token count above it
    // (measured as two full Generate+HashAggregate subtrees in the plan).
    // groupBy's own (id, term) exchange puts explode + partial agg on the
    // map side — computed once, reused by both consumers, with only the
    // cheap final agg duplicated. Partial aggregation also collapses
    // repeated terms before the shuffle, and the composite key spreads a
    // hot term across documents (no skewed partition at corpus scale).
    val tf = df.select(col(idCol).as("id"), col(textCol).as("_t"))
      .select(col("id"), explode(words).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("_df"))
    val scored = tf.join(dfq, Seq("term")).crossJoin(n1)
      .withColumn("_s", col("tf").cast("double") *
        log((col("_n").cast("double") + 1.0) / (col("_df").cast("double") + 1.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("_s").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("id"), col("rnk").cast("long").as("rnk"), col("term"),
        col("tf"), round(col("_s"), 4).as("tfidf"))
  }

  /** PII-signal regexes shared verbatim with the DuckDB oracle — plain
    * ASCII classes only, so Java regex and RE2 agree on every match. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII scan: per-document counts of email / phone / IPv4 literals — the
    * redaction-or-drop signal a training pipeline computes before export.
    * A narrow codegen projection (`regexp_count` built-in, no UDF, no
    * shuffle); at 100 TB this is a single pushdown-friendly map over the
    * text column. Returns (id, n_emails, n_phones, n_ipv4, n_pii). */
  def piiScan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val email = regexp_count(t, lit(EmailRe))
    val phone = regexp_count(t, lit(PhoneRe))
    val ipv4 = regexp_count(t, lit(Ipv4Re))
    df.select(col(idCol).as("id"),
      email.cast("long").as("n_emails"),
      phone.cast("long").as("n_phones"),
      ipv4.cast("long").as("n_ipv4"),
      (email + phone + ipv4).cast("long").as("n_pii"))
  }

  /** Line-level boilerplate removal (the C4 / CCNet corpus-cleaning step):
    * drop every line whose whitespace-normalized lowercase form occurs in
    * more than `maxDf` distinct documents (headers, footers, nav chrome,
    * cookie banners), preserving the order of surviving lines. Returns
    * (id, n_lines, n_kept, clean_text); a document whose every line is
    * boilerplate keeps an empty clean_text.
    *
    * 100 TB shape: the document-frequency aggregation shuffles a 16-byte
    * md5 of the normalized line, never the line text, and both the
    * (id, hash) distinct and the (hash) count are partial-aggregation
    * friendly. The hot-line set it produces is by definition tiny (lines
    * repeated across >maxDf documents), so AQE broadcasts it back against
    * the line table; the only full-text shuffle is the per-document
    * reassembly, whose key (id) is bounded by one document's lines. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDf: Long = 10L): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      // the canonical fingerprint identity (TextFns.fingerprintCol) — the
      // line-level hash MUST be the same definition as the document-level
      // one or a normalization change silently forks the two surfaces
      .withColumn("h", TextFns.fingerprintCol(col("line")))
    val hot = lines.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") > maxDf)
      .select(col("h"), lit(true).as("hot"))
    lines.join(hot, Seq("h"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("hot").isNull, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the null branch of the `when`, so only kept
        // lines enter; array_sort on (pos, line) structs restores order
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("hot").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("clean_text"))
  }

  /** Deterministic stratified sampling: keep a document iff the first 8
    * hex chars of md5(id:salt) fall below its stratum's rate threshold —
    * the reproducible quality- or source-weighted downsampling step of a
    * training-data mix. Same hash-vs-hex-threshold construction as
    * [[hashSplit]] (uniform on [0, 2^32), lexicographic compare ==
    * numeric compare), so membership is a pure function of (id, salt):
    * stable under corpus growth, identical across runs, and a narrow
    * codegen projection + filter with no shuffle at any scale. Strata
    * absent from `rates` fall back to `defaultRate`.
    * Returns the sampled rows as (id, stratum, bucket_hash). */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double = 1.0,
                       salt: String = "sample-v1"): DataFrame = {
    require((rates.values.toSeq :+ defaultRate).forall(r => r >= 0 && r <= 1),
      s"sample rates must be in [0, 1]: $rates default=$defaultRate")
    val h = saltedHashCol(col(idCol), salt)
    val threshold = rates.foldLeft(lit(hexAt(defaultRate))) { case (acc, (stratum, rate)) =>
      when(col(strataCol) === stratum, lit(hexAt(rate))).otherwise(acc)
    }
    df.select(col(idCol).as("id"), col(strataCol).as("stratum"),
        h.as("bucket_hash"))
      .filter(col("bucket_hash") < threshold)
  }

  /** Control/invisible chars stripped by [[cleanText]]: C0 controls except
    * tab/newline/CR (which carry document structure), DEL, zero-width
    * space/joiners, and the BOM. ASCII-plus-explicit-codepoint class only,
    * shared semantics with the RE2 form in the DuckDB oracle. */
  val CtrlRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\u200B-\\u200D\\uFEFF]"

  /** Text cleaning — the normalization pass a corpus pipeline runs BEFORE
    * any dedup/fingerprint/tokenize step: Unicode NFC (decomposed accents
    * and compatibility variants of the same visible string must hash
    * identically — a native expression, [[graft.functions.NfcNormalize]]),
    * then strip control and zero-width characters (tab/newline/CR kept:
    * they carry the line structure lineDedup consumes). A narrow codegen
    * projection, no UDF, no shuffle; NFC short-circuits on already-
    * normalized (e.g. all-ASCII) text without allocating.
    * Returns (id, text_clean, changed). */
  def cleanText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val cleaned = regexp_replace(
      graft.functions.NfcNormalizeFn(t), CtrlRe, "")
    df.select(col(idCol).as("id"), cleaned.as("text_clean"),
      (cleaned =!= t).as("changed"))
  }

  /** URL literal: scheme + everything up to whitespace/quote/angle-bracket.
    * Plain ASCII classes only (Java regex and RE2 agree on every match);
    * shared verbatim with the DuckDB oracle. */
  val UrlRe = "https?://[^\\s\"'<>]+"
  /** Host part of a URL: the authority between the scheme and the first
    * `/`, `?`, or `#` (ports and userinfo stay attached — curation
    * blocklists operate on the raw authority). */
  val HostRe = "https?://([^/?#\\s\"'<>]+)"

  /** URL scan: per-document URL mentions — total URL literals, distinct
    * referenced hosts, and the lexicographically first host (a scalar the
    * driver's hash compare handles; the full host set is `urlHosts`). The
    * counting pass is `regexp_count`/`regexp_extract_all` built-ins; the
    * per-doc host dedup is a transform over that doc's own (tiny) match
    * array, never a shuffle. Returns (id, n_urls, n_hosts, first_host —
    * empty string when no URL). */
  def urlScan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val hosts = array_distinct(transform(
      regexp_extract_all(t, lit(UrlRe), lit(0)),
      u => regexp_extract(u, HostRe, 1)))
    df.select(
      col(idCol).as("id"),
      regexp_count(t, lit(UrlRe)).cast("long").as("n_urls"),
      size(hosts).cast("long").as("n_hosts"),
      coalesce(array_min(hosts), lit("")).as("first_host"))
  }

  /** Distinct hosts referenced per document, one row per (id, host) — the
    * exploded relation [[domainStats]] and joins against host blocklists
    * consume. */
  def urlHosts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    df.select(col(idCol).as("id"),
        explode(array_distinct(transform(
          regexp_extract_all(t, lit(UrlRe), lit(0)),
          u => regexp_extract(u, HostRe, 1)))).as("host"))
  }

  /** Per-host corpus composition over a source-URL column — the
    * domain-level audit (and downsampling input) of a web corpus: document
    * count and corpus share per host, host extracted from each document's
    * own source URL. One narrow projection + one partial-agg groupBy —
    * a boilerplate host hot in millions of documents collapses map-side;
    * the corpus total rides a 1-row broadcast cross join, never a collect.
    * Returns (host, n_docs, share) with share rounded to 4 decimals. */
  def domainStats(df: DataFrame, urlCol: String): DataFrame = {
    val host = regexp_extract(coalesce(col(urlCol), lit("")), HostRe, 1)
    val perHost = df.select(host.as("host"))
      .groupBy("host").agg(count(lit(1)).as("n_docs"))
    val total = broadcast(df.agg(count(lit(1)).as("_n")))
    perHost.crossJoin(total)
      .select(col("host"), col("n_docs"),
        round(col("n_docs").cast("double") / col("_n"), 4).as("share"))
  }

  /** Host blocklist filter over a source-URL column: keep a document iff
    * its source host is NOT on the blocklist — the C4/RefinedWeb-style
    * source-level exclusion step. The blocklist is a bounded literal set
    * (isin — codegen, no join, filter-pushdown friendly); rows whose URL
    * yields no host (malformed source) are KEPT and flagged by the
    * returned host column so the caller can quarantine them explicitly
    * rather than having them vanish. Returns the kept rows + `host`. */
  def domainFilter(df: DataFrame, urlCol: String,
                   blockedHosts: Seq[String]): DataFrame = {
    require(blockedHosts.nonEmpty, "empty blocklist: nothing to filter")
    val host = regexp_extract(coalesce(col(urlCol), lit("")), HostRe, 1)
    df.withColumn("host", host).filter(!col("host").isin(blockedHosts: _*))
  }

  /** Benchmark-contamination scan: for each corpus document, count how many
    * of a benchmark set's distinct k-gram shingles it contains (token
    * k-grams, same tokenization as the n-gram dedup family) — the
    * eval-leakage check a training pipeline runs before shipping a corpus.
    *
    * 100 TB shape: the benchmark side is eval sets (tiny) — its distinct
    * shingle set is broadcast, so the corpus scans ONCE with a map-side
    * hash probe and the only shuffle is the per-doc hit-count aggregate
    * over matching (doc, shingle) rows, a vanishing fraction of the
    * corpus. Returns (id, n_hits) for contaminated documents only. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    k: Int = 3): DataFrame = {
    val shUdf = udf((t: String, kk: Int) => TextFns.shingles(t, kk).distinct)
    val docSh = docs.select(col(idCol).as("id"),
      explode(shUdf(col(textCol), lit(k))).as("g"))
    val benchSh = broadcast(
      bench.select(explode(shUdf(col(benchTextCol), lit(k))).as("g")).distinct())
    docSh.join(benchSh, Seq("g"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
  }
}
