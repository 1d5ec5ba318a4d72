package graft.ops

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-based bigram language-model perplexity — the CCNet-style quality
  * signal (Wenzek et al. 2020, arXiv:1911.00359: score every crawl page
  * with an LM trained on a clean slice, keep the low-perplexity head).
  * CCNet uses a KenLM 5-gram; this is the distributed count-model analog
  * a Spark curation pipeline can train and apply in one job, with no
  * external model artifact:
  *
  *   - TRAIN: bigram counts c(w1,w2) and context counts c(w1) over a
  *     reference corpus (e.g. a trusted source slice), vocabulary V =
  *     its distinct tokens. Each document is one sequence prepended with
  *     the synthetic start symbol `<s>` (tokenization strips non-alnum,
  *     so no real token can collide with it).
  *   - SCORE: every document's tokens, OOV-mapped to `<unk>`, under
  *     add-k smoothing p(w2|w1) = (c(w1,w2)+k) / (c(w1)+k*(V+1)) — the
  *     +1 outcome is `<unk>`. Per doc: avg_logprob = mean ln p over its
  *     token occurrences (each token is scored exactly once: as the w2
  *     of its bigram), ppl = exp(-avg_logprob).
  *
  * 100 TB shape: token/bigram counting is partial-agg-friendly groupBy
  * over one exploded pair scan; the model tables (vocab, bigram counts,
  * context counts) are corpus-VOCABULARY-sized, orders of magnitude
  * smaller than the corpus, so the scoring joins on token keys broadcast
  * when small and hash-join otherwise (AQE decides — no forced
  * broadcast, since a 100 TB train slice can have ~10^8 bigrams). The
  * only scalar is the 1-row vocab-size aggregate, carried by a broadcast
  * cross join, never collected. Per-doc reduction is one map-side-
  * combinable groupBy(id).
  *
  * Determinism/oracle: integer counts make every ln input identical
  * across engines (ln(cb+k) − ln(cu+k*(V+1)), the DSIR-proven form);
  * results round to 4 decimals for the hash compare, thresholds belong
  * to the caller on unrounded values. Docs with no tokens report
  * (0, 0, 0.0, 0.0).
  */
object LangModel {

  /** One row per bigram occurrence: (id, w1, w2), with `<s>` prepended so
    * every real token occurs as w2 exactly once. sequence() is guarded —
    * Spark's sequence(1, 0) counts DOWN, so single-`<s>` (empty) docs
    * must short-circuit to no pairs. */
  private def pairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = array_insert(TextFns.tokensCol(col(textCol)), lit(1), lit("<s>"))
    df.select(col(idCol).as("id"), ws.as("ws"))
      .select(col("id"), explode(when(size(col("ws")) <= 1, array())
        .otherwise(transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("w1"),
                 element_at(col("ws"), i + 1).as("w2"))))).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** Per-document perplexity of `df` under a bigram model trained on
    * `train`. Returns (id, n_tokens, n_oov, avg_logprob, ppl), one row
    * per input document, ratios rounded to 4 decimals.
    *
    * The bigram-count model table is cached (it is vocabulary-sized, the
    * thing worth caching) and registers with the caller's
    * [[graft.core.Materialize.Scope]] (lineage kept: consumers after it
    * closes recompute instead of failing). */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                       train: DataFrame, trainTextCol: String,
                       addK: Double = 1.0): DataFrame = {
    val tp = pairs(train, trainTextCol, trainTextCol)
      .select("w1", "w2")
    // ONE train scan: the bigram-count aggregate is materialized
    // (vocabulary-sized — orders of magnitude smaller than the train
    // corpus) and every other model table is an exact integer rollup of
    // it: context counts c(w1) = sum of its bigram counts, and — because
    // the <s> prepend makes every real token occur as w2 exactly once —
    // distinct w2 IS the train vocabulary, so `<s>` can never leak in.
    // The previous shape derived vocab/bc/cc from three independent lazy
    // scans of the exploded pair stream.
    val bc = graft.core.Materialize.stageCut(
      tp.groupBy("w1", "w2").agg(count(lit(1)).as("cb")))
    val vocab = bc.select(col("w2").as("w")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val cc = bc.groupBy("w1").agg(sum("cb").as("cu"))

    val v1 = vocab.select(col("w").as("w1"), lit(1).as("i1"))
    val v2 = vocab.select(col("w").as("w2"), lit(1).as("i2"))
    val sp = pairs(df, idCol, textCol)
      .join(v1, Seq("w1"), "left")
      .join(v2, Seq("w2"), "left")
      .select(col("id"),
        when(col("w1") === "<s>" || col("i1").isNotNull, col("w1"))
          .otherwise(lit("<unk>")).as("m1"),
        when(col("i2").isNotNull, col("w2")).otherwise(lit("<unk>")).as("m2"),
        col("i2").isNull.cast("long").as("oov"))

    val scored = sp
      .join(bc.select(col("w1").as("m1"), col("w2").as("m2"), col("cb")),
        Seq("m1", "m2"), "left")
      .join(cc.select(col("w1").as("m1"), col("cu")), Seq("m1"), "left")
      .crossJoin(broadcast(vsize))
      .select(col("id"), col("oov"),
        (log(coalesce(col("cb"), lit(0L)) + lit(addK))
          - log(coalesce(col("cu"), lit(0L)).cast("double")
            + (col("v") + lit(1)).cast("double") * lit(addK))).as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum("oov").as("n_oov"),
        sum("lp").as("s"))

    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(coalesce(col("s") / col("n_tokens"), lit(0.0)), 4).as("avg_logprob"),
        round(coalesce(exp(-(col("s") / col("n_tokens"))), lit(0.0)), 4).as("ppl"))
  }
}
