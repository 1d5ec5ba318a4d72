package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed curation funnel — the end-to-end pipeline a pre-training
  * data team runs over a raw crawl, chained from the individual operators
  * this package ships (each of which is oracle- or spec-gated on its own):
  *
  *   clean (NFC + control strip) → language gate → quality gate
  *   (length + non-alpha ratio) → exact dedup → MinHash-LSH near-dedup
  *   → deterministic train split → token count → sequence packing.
  *
  * This is the curation analog of the KG build's `kg_build_e2e`: one
  * benchmarkable number for the whole funnel, plus a per-stage retention
  * report. Every stage is the operator's own plan — nothing here adds a
  * shuffle beyond what the stages themselves need; the two fan-in points
  * (post-quality corpus, exact-dedup survivors) are materialized exactly
  * once because multiple stages consume them.
  *
  * 100 TB shape: inherits each stage's (all gates are narrow codegen
  * projections + semi joins on id; both dedups are banded/blocked; the
  * packer is the two-pass distributed prefix sum). The stats report is
  * O(#stages) rows.
  */
object Curation {

  /** Run the funnel. Returns (packed, stats):
    *
    * '''Id contract''': `idCol` must be castable to LONG — the funnel
    * normalizes ids to long at entry (the packer's deterministic
    * ORDER BY id and the split hash both use the numeric form, matching
    * the funnel's oracle). Non-numeric ids fail the ANSI cast loudly at
    * the first action rather than corrupting ordering silently; corpora
    * with opaque string ids should map them to a dense long surrogate
    * before entering (a zipWithIndex-style assignment, or a 64-bit
    * fingerprint column if collision risk is acceptable).
    *   packed — (id, n_tokens, tok_offset, bin), the training-shard layout
    *   of every surviving train-split document;
    *   stats — (stage, n) retention counts per funnel stage, in order.
    * The two funnel caches and each stage operator's working sets register
    * with the caller's [[graft.core.Materialize.Scope]] (lineage kept:
    * consumers after it closes recompute, never fail). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             budget: Long = 2048, lang: String = "en"): (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      coalesce(col(textCol), lit("")).as("text"))

    // gates: row-wise FILTERS fused into the cleaning scan (guide §2.4 —
    // remove shuffles outright). The language and quality gates are pure
    // functions of the cleaned row, so the previous shape (compute an
    // (id, flag) projection, semi-join it back on id) paid one id-keyed
    // shuffle JOIN per gate for a predicate the scan itself can evaluate.
    // Same row sets by construction: langId/quality are row-wise over
    // text_clean, and the filter predicates are the operators' own
    // column expressions (langPredCol; length + rounded nonAlphaRatio,
    // exactly the n_chars / non_alpha_ratio columns quality() reports).
    val cleaned = TextAnalysis.cleanText(base, "id", "text")
      .select(col("id"), col("text_clean"))
    val langKept = cleaned.filter(
      TextAnalysis.langPredCol(col("text_clean")) === lang)
    val qKept = langKept.filter(
      length(col("text_clean")) >= 100 &&
        round(graft.functions.TextFns.nonAlphaRatioCol(col("text_clean")), 4) <= 0.4)
    // fan-in 1: the quality-surviving corpus feeds exact dedup AND the
    // survivor semi join
    val qc = graft.core.Materialize.stageCut(qKept)

    val ex = qc.join(
      Dedup.exact(qc, "id", "text_clean").filter(col("keep")).select("id"),
      Seq("id"), "left_semi")
    // fan-in 2: exact survivors feed LSH pair generation, cluster
    // formation, and the survivor semi join
    val exc = graft.core.Materialize.stageCut(ex)

    val pairs = Dedup.minhashLshPairs(exc, "id", "text_clean")
    val clusters = Dedup.dedupClusters(exc, "id", pairs)
    // dedupClusters emits STRING ids (CC labels are strings); cast them
    // back to the funnel's long ids EXPLICITLY — leaving the cross-type
    // equi-join to implicit coercion is exact under ANSI but degrades to
    // DOUBLE=DOUBLE with ansi off, where ids >= 2^53 can collide and
    // silently keep/drop the wrong near-dup survivors. The cast is safe
    // by construction: cluster ids are the string forms of exc's longs.
    val nearKept = exc.join(
      clusters.filter(col("keep")).select(col("id").cast("long").as("id")),
      Seq("id"), "left_semi")

    // train-split gate: hashSplit is a pure function of id (salted md5
    // prefix), so filter in place — the same fusion as the gates above
    // (split == "train" ⇔ bucket_hash < hexAt(trainFrac); thresholds and
    // salt mirror hashSplit's defaults, which the funnel's oracle replays)
    val trainDocs = nearKept.filter(
      TextAnalysis.saltedHashCol(col("id"), "split-v1") < lit(TextAnalysis.hexAt(0.8)))

    val toks = trainDocs.select(col("id"),
      graft.functions.TextFns.estimateTokensCol(col("text_clean"))
        .cast("long").as("n_tokens"))
    val packed = Packing.pack(toks, "id", "n_tokens", budget)

    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n")).select(lit(name).as("stage"), col("n"))
    val stats = stage("input", base)
      .unionByName(stage("lang_kept", langKept))
      .unionByName(stage("quality_kept", qc))
      .unionByName(stage("exact_kept", exc))
      .unionByName(stage("neardup_kept", nearKept))
      .unionByName(stage("train_split", trainDocs))
      .unionByName(stage("packed", packed))
    (packed, stats)
  }
}
