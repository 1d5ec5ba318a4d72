package graft.ops

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive-Bayes document classifier — the distributed analog of
  * the fastText-style linear classifiers public LLM curation pipelines use
  * to select or route documents (Joulin et al. 2016, arXiv:1607.01759;
  * GPT-3's quality filter and CCNet/RedPajama's source classifiers are the
  * published uses). Trained and applied in one Spark job, no external
  * model artifact:
  *
  *   - TRAIN: per-class document counts (priors) and per-(class, token)
  *     occurrence counts over a labeled slice; vocabulary V = the slice's
  *     distinct tokens.
  *   - SCORE: for every document and class c,
  *       score(d,c) = ln n_c − ln n
  *                  + Σ_{t ∈ tokens(d) ∩ V} tf(d,t)·ln(cnt(c,t)+k)
  *                  + n_oov(d)·ln(k)
  *                  − n(d)·ln(cnt(c)+k·(V+1))
  *     (add-k smoothing, OOV mapped to a shared `<unk>` outcome), then
  *     pred = argmax_c, ties toward the lexicographically smaller class.
  *
  * 100 TB shape: both train aggregates are partial-agg-friendly groupBys
  * over one exploded token scan; the model tables are CLASS×VOCABULARY-
  * sized, orders of magnitude smaller than the corpus, so scoring joins
  * on token keys (AQE broadcasts them when small). The corpus side is
  * scanned once, collapsed to per-doc term frequencies BEFORE any
  * class-expansion, and the class expansion multiplies by |C| (single
  * digits) only on the vocabulary-intersected tf rows. Per-class scalar
  * constants travel as a |C|-row broadcast relation, never collected.
  *
  * Determinism/oracle: integer counts make every ln input identical
  * across engines (the same DSIR/LangModel-proven form); the reported
  * score rounds to 4 decimals, argmax runs on unrounded values.
  * Token-less documents carry every-class-equal likelihoods, so their
  * pred is the max-prior class (ties lexicographic), n_tokens = 0.
  */
object Classifier {

  /** Train on `train(labelCol, trainTextCol)`, score every row of `df`.
    * Returns (id, pred, n_tokens, n_oov, score), one row per document,
    * score = the winning class's unnormalized log-posterior (4 dp). The
    * one cache, the class-token count model, registers with the caller's
    * [[graft.core.Materialize.Scope]] (lineage kept: consumers after it
    * closes recompute instead of failing). */
  def naiveBayes(df: DataFrame, idCol: String, textCol: String,
                 train: DataFrame, labelCol: String, trainTextCol: String,
                 addK: Double = 1.0): DataFrame = {
    val tr = train.select(col(labelCol).cast("string").as("c"),
      TextFns.tokensCol(col(trainTextCol)).as("ws"))

    // priors: per-class doc counts + the 1-row corpus total (|C| rows;
    // broadcast-joined to every doc-class score below)
    val nc = tr.groupBy("c").agg(count(lit(1)).as("n_c"))
    val n = nc.agg(sum("n_c").as("n"))

    // ONE train token scan: (class, token) occurrence counts; class totals
    // and the global vocabulary are exact rollups of the materialized
    // aggregate, not extra corpus passes
    val ct = graft.core.Materialize.stageCut(
      tr.select(col("c"), explode(col("ws")).as("t"))
        .groupBy("c", "t").agg(count(lit(1)).as("cnt")))
    val ctot = ct.groupBy("c").agg(sum("cnt").as("cnt_c"))
    val vocab = ct.select(col("t")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))

    // corpus side: one scan, collapsed to per-doc tf before any join
    val tf = df.select(col(idCol).as("id"), explode(TextFns.tokensCol(col(textCol))).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("tf"))
    val marked = tf.join(vocab.select(col("t"), lit(1).as("iv")), Seq("t"), "left")
    // per-doc totals: length and OOV mass (class-independent)
    val docTot = marked.groupBy("id").agg(
      sum("tf").as("n_d"), sum(when(col("iv").isNull, col("tf")).otherwise(lit(0L))).as("n_oov"))
    // in-vocab likelihood mass per (doc, class): expand by |C| only here
    val inv = marked.filter(col("iv").isNotNull)
      .crossJoin(broadcast(nc.select(col("c"))))
      .join(ct, Seq("c", "t"), "left")
      .groupBy("id", "c")
      .agg(sum(col("tf").cast("double") * log(coalesce(col("cnt"), lit(0L)) + lit(addK))).as("s1"))

    // assemble: every (doc, class) — including token-less docs, whose
    // likelihood terms vanish and whose pred is therefore the prior argmax
    val scored = df.select(col(idCol).as("id"))
      .join(docTot, Seq("id"), "left")
      .na.fill(0L, Seq("n_d", "n_oov"))
      .crossJoin(broadcast(nc.select(col("c"))))
      .join(inv, Seq("id", "c"), "left")
      .join(broadcast(nc), Seq("c"))
      // LEFT: a class whose training slice contributes zero tokens has no
      // ctot row but keeps its prior — an inner join would silently delete
      // it from every document's candidate set
      .join(broadcast(ctot), Seq("c"), "left")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(vsize))
      .select(col("id"), col("c"), col("n_d"), col("n_oov"),
        (log(col("n_c").cast("double")) - log(col("n").cast("double"))
          + coalesce(col("s1"), lit(0.0))
          + col("n_oov").cast("double") * log(lit(addK))
          - col("n_d").cast("double")
            * log(coalesce(col("cnt_c"), lit(0L)).cast("double")
              + (col("v") + lit(1)).cast("double") * lit(addK)))
          .as("s"))

    // argmax with deterministic ties: min of (−s, c) picks the highest
    // score, then the lexicographically smaller class — no window shuffle
    scored.groupBy("id")
      .agg(min(struct((-col("s")).as("ns"), col("c"), col("n_d"), col("n_oov"), col("s"))).as("w"))
      .select(col("id"), col("w.c").as("pred"),
        col("w.n_d").as("n_tokens"), col("w.n_oov").as("n_oov"),
        round(col("w.s"), 4).as("score"))
  }
}
