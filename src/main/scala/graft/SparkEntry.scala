package graft

import graft.core.Corpus
import graft.extract.DeterministicExtractor
import graft.ops.{Classifier, Dedup, Events, Importance, LangModel, Packing, Ranking, Similarity, TextAnalysis}
import graft.pipeline.BuildPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one entry per implemented operator (SURVEY.md §2),
  * with an ANSI-SQL DuckDB oracle wherever the semantics are
  * SQL-expressible on the sfDir parquet tables. KG-pipeline stages run on
  * the deterministic synthetic interleaved corpus (shaped by BASELINE.json
  * input_hint) and are gated by the ScalaTest parity suite instead
  * (`sbt -batch test`), so they carry rows-only checks here. */
object SparkEntry {

  /** One KG build per (session, sfDir): the driver's Verify loop runs
    * queries sequentially in one session, so stage results are shared.
    * Keying on the SESSION too (not just the dir) keeps the memo correct
    * when a second SparkSession appears in the JVM (tests, or a restart
    * after spark.stop) — frames bound to a stopped session would fail. */
  private val kgCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), BuildPipeline.BuildResult]()

  def kg(spark: SparkSession, sfDir: String): BuildPipeline.BuildResult = {
    // entries keyed by a STOPPED session are dead weight by construction
    // (their frames are unusable — that is why the memo keys on the
    // session at all); evict them on access so a long-lived JVM that
    // cycles sessions doesn't pin every dead session's stage frames
    kgCache.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(kgCache.remove)
    kgCache.getOrElseUpdate((spark, sfDir), {
      val n = Corpus.docsForSfDir(sfDir)
      BuildPipeline.run(Corpus.docs(spark, n), new DeterministicExtractor)
    })
  }

  private def t(sfDir: String, name: String) = s"$sfDir/$name.parquet"

  /** Fixed side-write location for the KG build's stage outputs.
    *
    * [[exportForOracles]] (called by [[graft.Verify]] before the query
    * loop) dumps the build's stage tables here so the DuckDB oracles can
    * externally REPLAY the downstream algebra over them with
    * `read_parquet()` on absolute paths — the same side-channel trick
    * q_jsonl_roundtrip uses. This converts the kg_* entries from
    * rows-only self-refereed checks into hash-compared external oracles:
    * kg_mapping replays the ENTIRE linker (mention agg → prefix blocking
    * → token_set_ratio ≥ 95 → recursive-CTE connected components →
    * maximality resolution → rerank assignment) in pure SQL from the logs
    * export alone; kg_triples / kg_nodes replay the materializer's
    * resolve + self-loop + dedup algebra over logs + the (itself
    * oracle-verified) mapping; kg_documents / kg_estimate replay the
    * registry/estimator aggregations over the chunks export;
    * kg_stats / kg_entity_catalog replay the dashboard and salted-catalog
    * rollups over the final tables; kg_pagerank unrolls the fixed power
    * iterations as chained aggregating CTEs over the edges export;
    * kg_chunks_txt replays the character-recursive splitter's merge fold
    * via prefix sums + a window-start-only recursive CTE. Only
    * extraction itself remains spec-gated.
    *
    * One fixed path, overwritten per Verify run — the verify process
    * builds exactly one sfDir, and oracles run after all queries. */
  // PID-scoped: the oracle SQL strings embed this path at class-init in
  // the SAME JVM that exports (Verify), and the harness reads the path
  // back out of oracle_sql.json — so per-process scoping round-trips
  // cleanly while making two concurrent Verify runs on one host unable
  // to wipe or overwrite each other's exports mid-run.
  val OracleExportDir =
    s"/tmp/graft-oracle-export-${ProcessHandle.current().pid()}"

  def exportForOracles(spark: SparkSession, sfDir: String): Unit = {
    // clear the fixed path FIRST: a partial export on top of a previous
    // run's tables would otherwise hand the kg_* oracles a silent mix of
    // two runs — either confusing failures or, worse, a vacuous pass
    // against stale data. After the wipe, any table missing from an
    // aborted export makes its oracle fail LOUDLY (no files to read).
    val root = new java.io.File(OracleExportDir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (root.exists()) rm(root)
    val r = kg(spark, sfDir)
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(4).write.mode("overwrite").parquet(s"$OracleExportDir/$name")
    w(r.logs, "logs"); w(r.mapping, "mapping"); w(r.chunks, "chunks")
    w(r.nodes, "nodes"); w(r.edges, "edges"); w(r.properties, "properties")
    // ANN replay side-tables: the seeded hyperplanes and the trained IVF
    // centroids are deterministic but not SQL-derivable — exporting them
    // lets DuckDB replay bucketing / probing / exact cosine externally,
    // flipping q_ann_lsh / q_ann_ivf from rows-only to hash-compared.
    import spark.implicits._
    // search replay inputs: the index (embeddings included) and the raw
    // interleaved corpus (spans — for visual content recovery)
    w(r.searchIndex, "search_index")
    w(Corpus.docs(spark, Corpus.docsForSfDir(sfDir)).toDF(), "docs")
    w(Similarity.lshPlanesRows().toDF("tbl", "bit", "plane"), "lsh_planes")
    val emb = spark.read.parquet(t(sfDir, "embeddings"))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Similarity.trainCentroids(emb, "id", "vec")
    w(cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.map(_.toDouble).toSeq) }
      .toDF("cluster", "centroid"), "ivf_centroids")
  }

  /** `read_parquet` over a stage export (see [[OracleExportDir]]). */
  private def rp(name: String) = s"read_parquet('$OracleExportDir/$name/*.parquet')"

  /** Closed-form cluster oracle for the planted-duplicate corpus, shared
    * verbatim by q_dedup_clusters and q_cc_bigstar, the two names of
    * [[dedupClustersQuery]]. */
  private val dedupClustersOracleSql: String =
    """WITH c AS (
      |  SELECT vec_id FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id FROM embeddings WHERE vec_id < 20
      |)
      |SELECT CAST(vec_id AS VARCHAR) AS id,
      |  CASE WHEN vec_id < 20
      |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id + 1000000 AS VARCHAR))
      |       WHEN vec_id >= 1000000
      |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id - 1000000 AS VARCHAR))
      |       ELSE CAST(vec_id AS VARCHAR) END AS group_id,
      |  CAST(vec_id AS VARCHAR) = CASE WHEN vec_id < 20
      |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id + 1000000 AS VARCHAR))
      |       WHEN vec_id >= 1000000
      |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id - 1000000 AS VARCHAR))
      |       ELSE CAST(vec_id AS VARCHAR) END AS keep
      |FROM c""".stripMargin

  /** Memoized curation funnel per (session, sf-dir) — q_curate_pack and
    * q_curate_stats read the same run (the funnel eagerly materializes
    * its two fan-in corpora; building it once per session is the same
    * sharing discipline as [[kg]]). No scope is open here, so the
    * caches live for the session, and loops that sweep (Bench) only force
    * a lineage recompute, never a failure. Keyed by
    * the session like [[kgCache]], so a later session in the same JVM
    * never receives frames bound to a stopped one. */
  private val curateCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String),
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]()
  private def curated(s: SparkSession, d: String) = {
    // same stopped-session eviction as [[kg]]
    curateCache.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(curateCache.remove)
    curateCache.getOrElseUpdate((s, d),
      graft.ops.Curation.curate(s.read.parquet(t(d, "documents")), "doc_id", "text"))
  }

  /** Synthesized per-document source URL for the domain-curation entries
    * (the synthetic corpus has no URL column): doc_id % 10 buckets map to
    * four hosts with uneven shares — 0-5 common, 6-7 alpha, 8 beta,
    * 9 gamma. Mirrored verbatim in the q_domain_* oracle SQL. */
  private def srcUrl: org.apache.spark.sql.Column = {
    val b = pmod(col("doc_id"), lit(10))
    concat(lit("https://"),
      when(b <= 5, lit("common.example"))
        .when(b <= 7, lit("alpha.example"))
        .when(b === 8, lit("beta.example"))
        .otherwise(lit("gamma.example")),
      lit("/p/"), col("doc_id").cast("string"))
  }

  /** Flagship: end-to-end KG build on a small corpus → canonical triples. */
  def entry(spark: SparkSession): DataFrame =
    kg(spark, "/root/testdata/sf0.001").triples

  /** Near-dup clusters over the embeddings plus exact copies of the first
    * 20 vectors (id + 1e6): q_dedup_clusters and q_cc_bigstar. */
  private def dedupClustersQuery(s: SparkSession, d: String): DataFrame = {
    val emb = s.read.parquet(t(d, "embeddings"))
    val planted = emb.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val corpus = emb.unionByName(planted)
    val pairs = Dedup.embeddingCosinePairs(corpus, "vec_id", "embedding", threshold = 0.95)
    Dedup.dedupClusters(corpus, "vec_id", pairs)
      .withColumnRenamed("group", "group_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- relational core (A4/A5/J1/J2-analogs on the TPC-H-ish tables) ---
    "q_agg_pricing" -> ((s, d) => {
      s.read.parquet(t(d, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    "q_join_agg" -> ((s, d) => {
      val o = s.read.parquet(t(d, "orders"))
      val c = s.read.parquet(t(d, "customer"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
    }),
    "q_topk_degree" -> ((s, d) => {
      s.read.parquet(t(d, "orders"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("o_custkey").asc)
        .limit(5)
    }),
    "q_window_top1" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      s.read.parquet(t(d, "customer"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
    }),
    "q_anti_join" -> ((s, d) => {
      val p = s.read.parquet(t(d, "part"))
      val l = s.read.parquet(t(d, "lineitem")).select(col("l_partkey"))
      p.join(l, p("p_partkey") === l("l_partkey"), "left_anti").select(col("p_partkey"))
    }),
    "q_semi_join" -> ((s, d) => {
      val c = s.read.parquet(t(d, "customer"))
      val o = s.read.parquet(t(d, "orders")).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q_events_stats" -> ((s, d) => {
      s.read.parquet(t(d, "events"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"),
          round(min(col("value")), 4).as("min_value"), round(max(col("value")), 4).as("max_value"))
    }),

    // ----- scalar/projection family (F1-F4, documents table) --------------
    "q_chunk_filter" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      docs.filter(graft.functions.TextFns.chunkKeep(col("text")))
        .select(col("doc_id"), col("n_chars"))
    }),
    "q_token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    "q_name_norm" -> ((s, d) => {
      s.read.parquet(t(d, "part"))
        .select(lower(trim(col("p_name"))).as("name_norm")).distinct()
    }),
    "q_text_format" -> ((s, d) => {
      s.read.parquet(t(d, "customer"))
        .select(col("c_custkey"), concat_ws(", ", col("c_name"), col("c_mktsegment")).as("embed_text"))
    }),
    "q_group_concat" -> ((s, d) => {
      val sup = s.read.parquet(t(d, "supplier"))
      val nat = s.read.parquet(t(d, "nation"))
      sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",").as("suppliers"))
    }),
    // tag stats (reference doc_tags counts): tags derived deterministically
    // from document columns — every doc gets a lang tag, long docs also a
    // long_doc tag, so the per-key counts differ
    "q_tag_stats" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
        .withColumn("tags", map_concat(
          map(lit("lang"), col("lang")),
          when(col("n_chars") > 300, map(lit("long_doc"), lit("true")))
            .otherwise(map().cast("map<string,string>"))))
      graft.query.GraphOps.tagStats(docs.select(col("doc_id"), col("tags")))
    }),
    "q_dedup_groups" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("source")).as("first_source"),
          min(col("n_chars")).as("min_chars"))
    }),

    // ----- dedup family -----------------------------------------------------
    "q_exact_dedup" -> ((s, d) =>
      Dedup.exact(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    "q_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    // rare-first prefix-filtered self-join (on the per-bucket pair kernel,
    // one bucket per prefix shingle), verified on the full shingle sets:
    // the exact pair relation the oracle computes, on any corpus.
    // no scope is open here, so the single-shingle-pass cache stays until
    // a sweep: Bench sweeps all persisted RDDs after each query and Verify
    // exits after one pass, so nothing pins past its use
    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(s.read.parquet(t(d, "documents")), "doc_id", "text",
        k = 3, threshold = 0.8)),
    // oracle-checkable: candidates are verified with the EXACT shingle
    // Jaccard (no spurious pairs, values exact), so the only assumption the
    // exact-set oracle adds is banding recall 1.0 at J>=0.8. That is
    // EMPIRICAL, not structural (candidate probability at J=0.8 with
    // numPerm=16/bands=4 is ~0.88) — so it is asserted EXPLICITLY: the
    // DedupSpec recall tests recompute approx-vs-exact equality on the
    // driver's own sf0.01 corpus every `sbt test`, and app.OracleCheck
    // audits sf0.01 + sf0.1. A corpus where recall drops below 1.0 fails
    // the test suite, not silently the oracle hash. Lazy, no cache: the
    // shared band core (Dedup.bandedJaccard) size-prunes in the pair
    // kernel's condition, per (band, key) bucket.
    "q_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(s.read.parquet(t(d, "documents")), "doc_id", "text",
        k = 3, numPerm = 16, bands = 4, threshold = 0.8)),
    // same contract as q_minhash_lsh: simhash-banded candidates (16x4-bit
    // bands, Hamming<=15 — the Hamming net is structurally complete by
    // pigeonhole, and wide because J=0.8 pairs reach Hamming 13 on the
    // audited corpora; Jaccard recall audited 1.0 and test-asserted),
    // exact Jaccard verification — output equals the exact pair relation.
    // Same band core as q_minhash_lsh (the pair kernel walks each of the
    // 16x16 band buckets once); its one stage cut is the (id, sig, n)
    // table the candidate-volume valve reads before any pair is walked.
    "q_simhash" -> ((s, d) =>
      Dedup.simhashVerifiedPairs(s.read.parquet(t(d, "documents")), "doc_id", "text",
        k = 3, threshold = 0.8)),
    // the PRODUCTION simhash near-duplicate detector: 4x16-bit bands,
    // exact Hamming <= 3 — the ham<=3 / J>=0.95 territory simhash is the
    // right tool for at scale (narrow bands keep buckets tiny, so the
    // candidate join stays linear). q_simhash above is the oracle-exact
    // J>=0.8 bridge whose wide Hamming net is inherently join-heavy on a
    // homogeneous corpus (hot 4-bit buckets hold most docs); it gates
    // correctness at verify scale while THIS entry is the one a 100 TB
    // pipeline runs — Bench times this one for the near-dup simhash cost.
    "q_simhash_ham" -> ((s, d) =>
      Dedup.simhashPairs(s.read.parquet(t(d, "documents")), "doc_id", "text",
        maxHamming = 3, bandBits = 16)),
    "q_embed_neardup" -> ((s, d) => {
      // the synthetic embeddings carry no natural near-dups (max pairwise
      // cosine ~0.5), so plant exact duplicates of the first 20 vectors
      // (id + 1e6) — the operator must find exactly those pairs.
      val emb = s.read.parquet(t(d, "embeddings"))
      val planted = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      Dedup.embeddingCosinePairs(
        emb.unionByName(planted), "vec_id", "embedding", threshold = 0.95)
    }),

    "q_dedup_clusters" -> dedupClustersQuery,
    // the same call as q_dedup_clusters (there is one CC plan); a separate
    // entry only because the 80-query/oracle set is frozen
    "q_cc_bigstar" -> dedupClustersQuery,
    // SemDeDup (cluster-scoped semantic dedup): oracle-reproducible seed
    // centroids — the embeddings of vec_id 0..7, so centroid index ==
    // vec_id and DuckDB can replay the assignment argmax exactly (same
    // double arithmetic as the q_embed_neardup cosine oracle). Production
    // uses trainCentroids (bounded-sample k-means) via Dedup.semanticDedup;
    // SemDedupSpec proves the trained path finds the same planted dups.
    "q_semantic_dedup" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
      val planted = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      val corpus = emb.unionByName(planted)
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect().map(_.getAs[Seq[Float]](0).toArray)
      Dedup.semanticDedup(corpus, "vec_id", "embedding", Some(seeds), threshold = 0.95)
        .withColumnRenamed("group", "group_id")
    }),

    // ----- text analysis ----------------------------------------------------
    "q_quality" -> ((s, d) =>
      TextAnalysis.quality(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    "q_lang_id" -> ((s, d) =>
      TextAnalysis.langId(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    // Shannon character entropy (bits/char) — gibberish/low-information
    // signal; integer-count ln arithmetic, exactly SQL-replayable
    "q_entropy" -> ((s, d) =>
      TextAnalysis.charEntropy(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    // corpus profile: exact per-source length percentiles via the
    // histogram + cumulative-window shape (never buffers a group)
    "q_profile" -> ((s, d) =>
      graft.ops.Profile.percentiles(s.read.parquet(t(d, "documents")), "source", "n_chars")),
    // deterministic salted-hash train/val/test assignment — stable under
    // corpus growth, no shuffle; the oracle is the same md5-prefix compare
    "q_hash_split" -> ((s, d) =>
      TextAnalysis.hashSplit(s.read.parquet(t(d, "documents")), "doc_id")),
    // eval-leakage scan: corpus docs containing any 3-gram of the
    // "benchmark" set (stood in by docs 0-4); benchmark shingles broadcast
    "q_contamination" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      TextAnalysis.contamination(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text")
    }),
    // Gopher-style repetitiousness signals over word bigrams
    "q_repetition" -> ((s, d) =>
      TextAnalysis.repetition(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    // Lee-et-al span-level dedup signal: fraction of each document's
    // 20-token windows whose hash occurs >= 2 times corpus-wide
    "q_dup_spans" -> ((s, d) =>
      Dedup.dupSpanStats(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    // Lee-et-al span-level dedup REMOVAL: drop every non-first occurrence
    // of a corpus-duplicated 20-token window, re-emit the kept tokens
    "q_dupspan_removal" -> ((s, d) =>
      Dedup.dupSpanRemoval(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    // BM25 keyword retrieval against a fixed term query (the lexical
    // companion to the ANN search path)
    "q_bm25" -> ((s, d) =>
      Ranking.bm25(s.read.parquet(t(d, "documents")), "doc_id", "text",
        Seq("spark", "query", "join"))),
    // top-3 TF-IDF terms per document (smoothed idf, term-asc ties)
    "q_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(s.read.parquet(t(d, "documents")), "doc_id", "text")),
    // Gopher-rules keep/drop verdict; the synthetic corpus is uniformly
    // clean, so docs 0-3 are planted (mirrored in the oracle) to trip each
    // rule: word count, mean word length, symbol ratio, alpha fraction
    "q_gopher" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      val planted = docs.withColumn("text",
        when(col("doc_id") === 0, lit("tiny doc here"))
          .when(col("doc_id") === 1, repeat(lit("the of and to in is on for with a "), 6))
          .when(col("doc_id") === 2, repeat(lit("data point # value ... "), 15))
          .when(col("doc_id") === 3, repeat(lit("12345 67890 24680 13579 99999 "), 12))
          .otherwise(col("text")))
      TextAnalysis.gopherFilter(planted, "doc_id", "text")
    }),
    // the synthetic corpus carries no PII, so plant deterministic email /
    // ipv4 / phone literals on docs 0-9 (mirrored in the oracle SQL) —
    // the operator must count exactly those
    "q_pii_scan" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      val planted = docs.withColumn("text",
        when(col("doc_id") < 10, concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 call 555-867-530"), (col("doc_id") % 10).cast("string")))
          .otherwise(col("text")))
      TextAnalysis.piiScan(planted, "doc_id", "text")
    }),
    // text cleaning: plant decomposed accents, zero-width/control chars,
    // a BOM and a DEL on docs 0-2 (doc 3 and the rest are already clean)
    // — mirrored in the oracle via chr() codepoints
    "q_clean_text" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      val planted = docs.withColumn("text",
        when(col("doc_id") === 0, lit("cafe\u0301 con\u200Btrol"))
          .when(col("doc_id") === 1,
            lit("line1\u0001\u0002 ok\ttab kept\nnewline kept"))
          .when(col("doc_id") === 2, lit("\uFEFFstart del\u007Fend"))
          .when(col("doc_id") === 3, lit("nothing to clean here"))
          .otherwise(col("text")))
      TextAnalysis.cleanText(planted, "doc_id", "text")
    }),
    // URL scan: the synthetic corpus carries no URLs, so plant
    // deterministic literals on docs 0-3 exercising dup hosts, quote/angle
    // termination and a URL-free doc (mirrored in the oracle)
    "q_url_scan" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      val planted = docs.withColumn("text",
        when(col("doc_id") === 0, lit("see https://alpha.example/a and " +
          "http://beta.example/b?q=1 plus https://alpha.example/c"))
          .when(col("doc_id") === 1, lit("no urls in this document at all"))
          .when(col("doc_id") === 2, lit("dup https://gamma.example/x " +
            "https://gamma.example/y trailing https://delta.example/z."))
          .when(col("doc_id") === 3, lit("quoted \"https://eps.example/q\" " +
            "and <https://zeta.example/r>"))
          .otherwise(col("text")))
      TextAnalysis.urlScan(planted, "doc_id", "text")
    }),
    // per-host corpus composition over a synthesized source-URL column
    // (doc_id % 10 buckets -> 4 hosts with uneven shares, mirrored in the
    // oracle)
    "q_domain_stats" -> ((s, d) =>
      TextAnalysis.domainStats(
        s.read.parquet(t(d, "documents")).withColumn("src_url", srcUrl),
        "src_url")),
    // host blocklist filter over the same synthesized source URLs
    "q_domain_filter" -> ((s, d) =>
      TextAnalysis.domainFilter(
        s.read.parquet(t(d, "documents")).withColumn("src_url", srcUrl),
        "src_url", Seq("common.example", "gamma.example"))
        .select(col("doc_id").as("id"), col("host"))),
    // C4/CCNet line-level boilerplate removal: the synthetic corpus has no
    // line structure, so plant a shared header and a per-source footer
    // (mirrored in the oracle) that the operator must strip while keeping
    // each document's unique body line
    "q_line_dedup" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      val planted = docs.withColumn("text", concat(
        lit("corpus header v1\n"), col("text"), lit("\nfooter "), col("source")))
      TextAnalysis.lineDedup(planted, "doc_id", "text", maxDf = 10L)
    }),
    // distributed exclusive-prefix-sum packing into 2048-token bins
    "q_pack" -> ((s, d) =>
      Packing.pack(
        TextAnalysis.tokenCount(s.read.parquet(t(d, "documents")), "doc_id", "text"),
        "id", "n_tokens", budget = 2048L)),
    // deterministic stratified downsampling by source
    "q_strat_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(s.read.parquet(t(d, "documents")),
        "doc_id", "source",
        rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25))),
    // CCNet-analog bigram-LM perplexity: model trained on the src0 slice,
    // every document scored under add-one smoothing with <unk> OOV mapping
    "q_lm_ppl" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      LangModel.bigramPerplexity(docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text")
    }),
    // the composed curation funnel (clean -> lang -> quality -> exact
    // dedup -> near-dedup -> train split -> pack): one oracle covering
    // the chained semantics of six already-oracled stages plus a
    // recursive-CTE replay of cluster formation
    "q_curate_pack" -> ((s, d) => curated(s, d)._1),
    "q_curate_stats" -> ((s, d) => curated(s, d)._2),
    // fastText-style source classifier: multinomial NB trained on the
    // even-doc_id half, every document scored and argmax-labeled —
    // integer-count arithmetic, fully SQL-replayable
    "q_nb_classify" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      Classifier.naiveBayes(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "source", "text")
    }),
    // DSIR importance weights: target distribution = the src0 slice,
    // raw = the whole corpus; hashed-token bucket models, Laplace(+1),
    // per-doc sum of log ratios — deterministic and fully SQL-replayable
    "q_dsir_weights" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      Importance.importanceWeights(docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text", buckets = 256)
    }),
    // stateful Structured Streaming exact dedup, run as one AvailableNow
    // pass (one input file -> one micro-batch -> survivor = min id per
    // fingerprint, which is what the oracle expresses)
    "q_stream_dedup" -> ((s, d) =>
      graft.streaming.StreamingOps.dedupStreamOnce(s, t(d, "documents"),
        "doc_id", "text")),
    // event-time windowed arrival stats (complete mode for determinism)
    "q_stream_window" -> ((s, d) =>
      graft.streaming.StreamingOps.windowStatsOnce(s, t(d, "documents"))),
    // gap-based sessions over the event stream (native session_window)
    "q_sessionize" -> ((s, d) =>
      Events.sessionize(s.read.parquet(t(d, "events")), "user_id", "ts")),
    // as-of join: each click matched to the latest view at-or-before it
    "q_asof_join" -> ((s, d) => {
      val ev = s.read.parquet(t(d, "events"))
      Events.asofJoin(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"), "user_id", "ts", "event_id")
    }),
    // JSONL source/sink: export the corpus as 8 JSONL shards, read it back
    // through the quarantining source — the round-trip must be lossless
    "q_jsonl_roundtrip" -> ((s, d) => {
      val docs = s.read.parquet(t(d, "documents"))
      val dir = s"/tmp/graft-jsonl-rt-${d.hashCode & Int.MaxValue}"
      graft.io.DocSources.writeJsonl(docs, dir, shards = 8)
      graft.io.DocSources.jsonl(s, dir)._1
    }),

    // ----- similarity search -------------------------------------------------
    "q_cosine_topk" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(emb, emb.filter(col("id") < 20), k = 5)
    }),
    "q_ann_lsh" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(emb, emb.filter(col("id") < 20), k = 5)
    }),
    "q_ann_ivf" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(emb, emb.filter(col("id") < 20), k = 5)
    }),

    // ----- multimodal plumbing (opaque binary payloads + typed metadata;
    // decode step stubbed deterministically — see ops/Multimodal.scala).
    // The stub arithmetic is all fnv1a64/LCG mod-2^64, so both media
    // queries carry exact DuckDB oracles (mediaFeaturesSql replays the
    // checksum fold byte-by-byte in a recursive CTE). ----
    "q_media_features" -> ((s, d) => {
      import graft.ops.Multimodal
      val spark = s; import spark.implicits._
      val media = Multimodal.payloadFromRef(
        s.read.parquet(t(d, "documents"))
          .select(concat(lit("img://doc-"), col("doc_id"), lit("/fig-0.png")).as("media_ref"),
            col("doc_id").cast("string").as("media_id")),
        "media_ref")
        .select(col("media_id"), col("kind"), col("payload"), col("width"), col("height"), col("format"))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("width"), col("height"), col("checksum"))
    }),

    // ----- S2/F8: PDF layout source + bbox math (sources/PdfLayout.scala) --
    // F8 — polygon→bbox, order-normalize + page clamp, 300-DPI crop pixels
    // (reference multi_modal_parser.py:152-165,266-312) over polygons derived
    // deterministically from events; full DuckDB oracle (pure arithmetic).
    "q_bbox_crop" -> ((s, d) => {
      import graft.sources.PdfLayout
      val base = s.read.parquet(t(d, "events")).select(col("event_id"),
        ((col("event_id") * 7 % 700) - 20).cast("double").as("x0"),
        ((col("event_id") * 13 % 850) - 20).cast("double").as("y0"),
        ((col("event_id") * 7 % 700) - 20 + (col("event_id") * 31 % 300) + 40).cast("double").as("x1"),
        ((col("event_id") * 13 % 850) - 20 + (col("event_id") * 17 % 200) + 30).cast("double").as("y1"))
      // polygon vertex order varies by row (reversed x / y runs) so the
      // swap-normalization path is exercised; %11 rows get a degenerate
      // 2-point polygon → null bbox (parser returns None under 6 coords)
      val poly = when(col("event_id") % 11 === 0, array(col("x0"), col("y0")))
        .when(col("event_id") % 3 === 0,
          array(col("x1"), col("y0"), col("x0"), col("y0"), col("x0"), col("y1"), col("x1"), col("y1")))
        .when(col("event_id") % 5 === 0,
          array(col("x0"), col("y1"), col("x1"), col("y1"), col("x1"), col("y0"), col("x0"), col("y0")))
        .otherwise(
          array(col("x0"), col("y0"), col("x1"), col("y0"), col("x1"), col("y1"), col("x0"), col("y1")))
      val clamped = PdfLayout.clampBbox(
        PdfLayout.bboxFromPolygon(poly), lit(612.0), lit(792.0))
      val px = PdfLayout.cropPixels(clamped)
      base.select(col("event_id"),
        element_at(clamped, 1).as("bx0"), element_at(clamped, 2).as("by0"),
        element_at(clamped, 3).as("bx1"), element_at(clamped, 4).as("by1"),
        element_at(px, 1).as("px0"), element_at(px, 2).as("py0"),
        element_at(px, 3).as("px1"), element_at(px, 4).as("py1"))
    }),
    // Multimodal resize planning — aspect-fit/never-upscale math over
    // dimensions derived deterministically from events; exact DuckDB oracle
    "q_resize_plan" -> ((s, d) => {
      import graft.ops.Multimodal
      val dims = s.read.parquet(t(d, "events")).select(col("event_id"),
        ((col("event_id") * 29 % 4096) + 1).cast("double").as("w"),
        ((col("event_id") * 37 % 2160) + 1).cast("double").as("h"))
      dims.select(col("event_id"),
        Multimodal.resizePlan(col("w"), col("h"), 512, 512).as("r"))
        .select(col("event_id"), col("r.out_w").as("out_w"), col("r.out_h").as("out_h"))
    }),
    // Frame sampling over stub video payloads (every 3rd frame, 32 B/frame;
    // oracle needs only the seed-derived payload length — mediaFramesSql)
    "q_media_frames" -> ((s, d) => {
      import graft.ops.Multimodal
      val media = Multimodal.payloadFromRef(
        s.read.parquet(t(d, "documents"))
          .select(concat(lit("vid://doc-"), col("doc_id"), lit("/clip-0.mp4")).as("media_ref"),
            col("doc_id").cast("string").as("media_id")),
        "media_ref")
      Multimodal.frameSample(media, everyNth = 3)
        .select(col("media_id"), col("frame_idx"), col("frame_off"),
          length(col("frame_bytes")).as("frame_len"))
    }),
    // S3 — table → markdown visual-element content
    // (multi_modal_parser.py:93-96,196-228) over cell grids synthesized
    // deterministically from events; exact string oracle in DuckDB. The
    // (1,2) cell is deliberately absent → "" in the grid.
    "q_table_markdown" -> ((s, d) => {
      import graft.sources.PdfLayout
      val e = s.read.parquet(t(d, "events")).select(
        col("event_id"), col("event_type"),
        col("user_id").cast("string").as("u"),
        floor(col("value")).cast("long").cast("string").as("v"))
      val cells = array(
        struct(lit(0).as("row_index"), lit(0).as("column_index"), lit("metric").as("content")),
        struct(lit(0).as("row_index"), lit(1).as("column_index"), col("event_type").as("content")),
        struct(lit(0).as("row_index"), lit(2).as("column_index"), lit("unit").as("content")),
        struct(lit(1).as("row_index"), lit(0).as("column_index"), col("v").as("content")),
        struct(lit(1).as("row_index"), lit(1).as("column_index"), col("u").as("content")))
      e.select(col("event_id"),
        PdfLayout.tableContent(
          concat(lit("Table "), col("event_id").cast("string")),
          lit(2), lit(3), cells).as("content"))
    }),
    // S2 — layout tokens → typed segments → canonical spans → chunks: the
    // full PDF-source path over a deterministic synthetic token table (the
    // LightGBM classifiers are stubbed; assembly fold gated by PdfLayoutSpec
    // — rows-only here, like the other pipeline stages)
    "q_pdf_layout" -> ((s, d) => {
      import graft.sources.PdfLayout
      val toks = PdfLayout.syntheticTokens(
        s.read.parquet(t(d, "documents")).select(col("doc_id"), col("text")))
      val docRows = PdfLayout.toDocRows(PdfLayout.segments(toks))
      graft.build.Chunker.chunks(docRows.as[graft.core.DocRow](
        org.apache.spark.sql.Encoders.product[graft.core.DocRow])).toDF()
    }),

    // ----- KG pipeline stages (synthetic interleaved corpus). All carry
    // composed DuckDB oracles replaying the stage algebra over the
    // Verify-time exports (see OracleExportDir); the ScalaTest parity
    // suite additionally gates extraction end-to-end. ----------
    "kg_chunks" -> ((s, d) => kg(s, d).chunks),
    // S1 TXT path: character-recursive splitter over the plain-text
    // documents table, run at 160/40 so the greedy merge + sliding overlap
    // window + keep-filter id gaps are all actually exercised (the corpus
    // maxes at 558 chars, so the production 1500/300 defaults — golden-
    // cased in ChunkerSpec — would trivially emit one chunk per doc here).
    // DuckDB oracle: prefix-summed pieces + a recursive CTE carrying only
    // the window-start; the post-emit advance loop lands at
    // greatest(old_lo, minsat(i)) where minsat depends only on i.
    "kg_chunks_txt" -> ((s, d) =>
      graft.build.Chunker.txtChunks(s.read.parquet(t(d, "documents")),
        chunkSize = 160, overlap = 40).toDF()),
    "kg_logs" -> ((s, d) => kg(s, d).logs
      .select(col("doc_id"), col("chunk_id"), col("is_visual"),
        size(col("nodes")).as("n_nodes"), size(col("edges")).as("n_edges"),
        size(col("properties")).as("n_properties"))),
    "kg_mapping" -> ((s, d) => kg(s, d).mapping),
    "kg_triples" -> ((s, d) => kg(s, d).triples),
    "kg_nodes" -> ((s, d) => kg(s, d).nodes
      .select(col("id"), col("name"), col("level"), col("is_visual"), col("community_id"))),
    "kg_documents" -> ((s, d) => kg(s, d).documents.drop("tags")),
    "kg_search" -> ((s, d) =>
      graft.query.Search.quickSearch(kg(s, d).searchIndex, "who collaborates with Vertex Analytics")),
    "kg_global_search" -> ((s, d) =>
      graft.query.Search.globalSearch(kg(s, d).searchIndex, "which network includes Vertex Analytics")),
    // Q3 visuals selection: hits with visual provenance -> their visual
    // parent nodes, with the visual's TEXT CONTENT recovered by joining
    // media_ref back to the spans table (reference MetadataVisual.content
    // semantics, persistence/metadata.py:10-22; dormant in the reference;
    // oracle replays search + visual selection + content recovery in SQL)
    "kg_visuals" -> ((s, d) => {
      val r = kg(s, d)
      val hits = graft.query.Search.quickSearch(r.searchIndex, "which entity is depicted with a figure")
      graft.query.Search.visualContent(
        graft.query.Search.suitableVisuals(
          graft.query.Search.enrich(hits, r.nodes, r.edges, r.properties),
          r.nodes, r.edges, r.properties),
        Corpus.docs(s, Corpus.docsForSfDir(d)).toDF())
    }),
    // F5 community CSV render: the two prompt-context CSV strings per
    // community (oracle replays the CSV assembly; CommunitySpec gates the
    // crossing-edge invariants)
    "kg_community_csv" -> ((s, d) => {
      val r = kg(s, d)
      graft.community.Communities.communityCsv(r.nodes, r.edges, r.properties)
    }),
    "kg_stats" -> ((s, d) => {
      val r = kg(s, d)
      graft.query.GraphOps.stats(r.nodes, r.edges, r.properties)
    }),
    // PageRank centrality over the materialized graph — iterative
    // DataFrame self-joins, dangling mass redistributed, rank mass
    // conserved at 1; gated by CentralitySpec (power-iteration
    // cross-check) AND DuckDB-oracled: a per-iteration aggregation cannot
    // live inside a recursive CTE, but the iteration count is a fixed
    // constant, so the oracle UNROLLS the 10 power iterations as chained
    // aggregating CTEs over the edges export (see pageRankSql).
    "kg_pagerank" -> ((s, d) =>
      graft.query.Centrality.pageRank(kg(s, d).edges.toDF())),
    // Pre-build cost/time estimate (reference tools/estimator.py analog):
    // one narrow agg over the chunks table; formulas gated by ChunkerSpec
    // against the reference's published numbers; the oracle replays the
    // aggregation + cost/time formulas over the chunks export.
    "kg_estimate" -> ((s, d) => {
      val e = graft.pipeline.Estimator.estimate(kg(s, d).chunks.toDF())
      import s.implicits._
      Seq((e.numChunks, e.totalTokens, e.model, e.estimatedCostUsd, e.estimatedTime))
        .toDF("num_chunks", "total_tokens", "model", "estimated_cost_usd", "estimated_time")
    }),
    // Visualizer data prep (level slice + degree + level-internal edges) —
    // the distributed half of viz/Visualizer; HTML render gated by
    // VisualizerSpec; the level-slice/degree-cap half is oracle-replayed.
    "kg_viz_nodes" -> ((s, d) => {
      val r = kg(s, d)
      graft.viz.Visualizer.visualData(r.nodes, r.edges, level = 0, maxNodes = 2000)._1
    }),
    // array columns are flattened to strings for the dump: the driver's
    // pandas sort/hash can't digest ndarray cells (CORRECTNESS_r01 err).
    "kg_entity_catalog" -> ((s, d) =>
      graft.materialize.GlobalCatalog.entityCatalog(kg(s, d).nodes)
        .withColumn("sample_doc_ids", array_join(col("sample_doc_ids"), ","))),
    "kg_search_enriched" -> ((s, d) => {
      val r = kg(s, d)
      graft.query.Search.enrich(
        graft.query.Search.quickSearch(r.searchIndex, "who collaborates with Vertex Analytics"),
        r.nodes, r.edges, r.properties)
        .withColumn("parent_names", array_join(col("parent_names"), ","))
    })
  )

  // ---------------------------------------------------------------------
  // Composed KG oracles over the Verify-time stage exports (see
  // OracleExportDir). Shared CTE fragments are built once here.
  // ---------------------------------------------------------------------

  /** Two-tier name resolution (GraphTables.resolveNames twin): doc-level
    * default (chunk_id = -1) with per-chunk override. Emits CTEs `map_d`
    * and `map_c` over the mapping export. */
  private lazy val mappingTiersCte: String =
    s"""map_d AS (SELECT doc_id, name_norm, canonical_norm, canonical
       |  FROM ${rp("mapping")} WHERE chunk_id = -1),
       |map_c AS (SELECT doc_id, chunk_id, name_norm, canonical_norm, canonical
       |  FROM ${rp("mapping")} WHERE chunk_id <> -1)""".stripMargin

  /** Node-mention resolution (GraphTables node path twin): per-mention
    * canonical + is_visual flag, then the level-0 node grouping. Emits
    * `nres` (resolved node mentions) and `l0` (level-0 nodes with the
    * engine's md5 ids). */
  private lazy val level0NodesCte: String =
    s"""$mappingTiersCte,
       |nmen AS (
       |  SELECT doc_id, chunk_id,
       |    lower(trim(n.name)) AS name_norm,
       |    coalesce(is_visual AND lower(trim(main_visual_entity)) = lower(trim(n.name)), false) AS viz
       |  FROM (SELECT doc_id, chunk_id, is_visual, main_visual_entity, unnest(nodes) AS n
       |        FROM ${rp("logs")})),
       |nres AS (
       |  SELECT m.doc_id,
       |    coalesce(c.canonical_norm, d.canonical_norm) AS canonical_norm,
       |    coalesce(c.canonical, d.canonical) AS canonical,
       |    m.viz
       |  FROM nmen m
       |  LEFT JOIN map_d d ON m.doc_id = d.doc_id AND m.name_norm = d.name_norm
       |  LEFT JOIN map_c c ON m.doc_id = c.doc_id AND m.chunk_id = c.chunk_id
       |    AND m.name_norm = c.name_norm),
       |l0 AS (
       |  SELECT md5('node' || chr(1) || doc_id || chr(1) || canonical_norm || chr(1) || '0') AS id,
       |    doc_id, canonical_norm, min(canonical) AS name, 0 AS level, max(viz) AS is_visual
       |  FROM nres GROUP BY doc_id, canonical_norm)""".stripMargin

  /** kg_triples replay: edge mentions resolved through the two-tier
    * mapping, self-loops excluded, endpoints required to have a NODE row
    * (node mentions only), directional distinct — GraphTables'
    * edge/triple algebra in SQL. */
  private lazy val kgTriplesSql: String =
    s"""WITH $level0NodesCte,
       |emen AS (
       |  SELECT doc_id, chunk_id, e.relationship AS pred,
       |    lower(trim(e.source)) AS sn, lower(trim(e.target)) AS dn
       |  FROM (SELECT doc_id, chunk_id, unnest(edges) AS e FROM ${rp("logs")})),
       |eres AS (
       |  SELECT m.doc_id, m.pred,
       |    coalesce(cs.canonical_norm, ds.canonical_norm) AS s_cn,
       |    coalesce(cs.canonical, ds.canonical) AS s_c,
       |    coalesce(cd.canonical_norm, dd.canonical_norm) AS d_cn,
       |    coalesce(cd.canonical, dd.canonical) AS d_c
       |  FROM emen m
       |  LEFT JOIN map_d ds ON m.doc_id = ds.doc_id AND m.sn = ds.name_norm
       |  LEFT JOIN map_c cs ON m.doc_id = cs.doc_id AND m.chunk_id = cs.chunk_id AND m.sn = cs.name_norm
       |  LEFT JOIN map_d dd ON m.doc_id = dd.doc_id AND m.dn = dd.name_norm
       |  LEFT JOIN map_c cd ON m.doc_id = cd.doc_id AND m.chunk_id = cd.chunk_id AND m.dn = cd.name_norm),
       |nset AS (SELECT DISTINCT doc_id, canonical_norm FROM l0)
       |SELECT DISTINCT e.doc_id, e.s_c AS subj, e.pred, e.d_c AS obj
       |FROM eres e
       |JOIN nset ns ON e.doc_id = ns.doc_id AND e.s_cn = ns.canonical_norm
       |JOIN nset nd ON e.doc_id = nd.doc_id AND e.d_cn = nd.canonical_norm
       |WHERE e.s_cn IS NOT NULL AND e.d_cn IS NOT NULL AND e.s_cn <> e.d_cn""".stripMargin

  /** kg_nodes replay: level-0 identity/name/level/is_visual recomputed
    * from logs + mapping; community_id (Leiden output — not
    * SQL-expressible) and the level ≥ 1 community/document rows are taken
    * from the nodes export (any drift in the level-0 set breaks the inner
    * join row count, so the recomputed part stays load-bearing). */
  private lazy val kgNodesSql: String =
    s"""WITH $level0NodesCte,
       |expn AS (SELECT id, name, level, is_visual, community_id FROM ${rp("nodes")})
       |SELECT l0.id, l0.name, l0.level, l0.is_visual, e.community_id
       |FROM l0 JOIN expn e ON l0.id = e.id
       |UNION ALL
       |SELECT id, name, level, is_visual, community_id FROM expn WHERE level >= 1""".stripMargin

  // --- search-family replay ---------------------------------------------
  // The query string is a compile-time literal, so its deterministic
  // embedding and rerank token set are computed HERE (Scala) and inlined
  // into the SQL as literals — the oracle then replays retrieve (level
  // slice → cosine top-N → rerank → threshold → rank) over the exported
  // search_index entirely in DuckDB. Floats are inlined via their exact
  // double widening (f.toDouble.toString round-trips bit-exactly).

  private def sqlDoubleArray(xs: Seq[Double]): String =
    xs.map(_.toString).mkString("[", ", ", "]") + "::DOUBLE[]"
  private def sqlStringList(xs: Seq[String]): String =
    xs.map(s => "'" + s.replace("'", "''") + "'").mkString("[", ", ", "]")

  /** CTEs `sidx` → `hits` → `sc` → `shits` replaying Search.retrieve for
    * one literal query. */
  private def searchHitsCtes(query: String, level: Int, topN: Int,
                             threshold: Double): String = {
    val qv = graft.functions.TextFns.embed(query).map(_.toDouble).toSeq
    val qt = graft.functions.TextFns.normTokens(query).distinct.toSeq
    s"""sidx AS (
       |  SELECT id, text, type, document_id, embedding::DOUBLE[] AS emb
       |  FROM ${rp("search_index")} WHERE level = $level),
       |hits AS (
       |  SELECT id, text, type, document_id,
       |    -list_cosine_similarity(${sqlDoubleArray(qv)}, emb) AS distance
       |  FROM sidx ORDER BY distance ASC, id ASC LIMIT $topN),
       |sc AS (
       |  SELECT id, text, type, document_id,
       |    CASE WHEN len(tt) = 0 THEN 0.0
       |         ELSE len(list_intersect(${sqlStringList(qt)}, tt))
       |              / sqrt(${qt.length}.0 * len(tt)) END AS score
       |  FROM (SELECT *, list_distinct(list_filter(regexp_split_to_array(
       |      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
       |      x -> x <> '')) AS tt FROM hits)),
       |shits AS (
       |  SELECT id, text, type, document_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS INT) AS rn
       |  FROM sc WHERE score > $threshold)""".stripMargin
  }

  /** CTE `enr` replaying Search.enrich over the exported graph tables. */
  private def enrichCte: String =
    s"""nname AS (SELECT id AS nid, name FROM ${rp("nodes")}),
       |enr AS (
       |  SELECT h.id, h.type, h.text, h.score, h.document_id,
       |    n.name AS subject, n.description AS detail, [n.name] AS parent_names
       |  FROM shits h JOIN ${rp("nodes")} n ON h.id = n.id WHERE h.type = 'node'
       |  UNION ALL
       |  SELECT h.id, h.type, h.text, h.score, h.document_id,
       |    nf.name || ' ↔ ' || nt.name, e.description, [nt.name, nf.name]
       |  FROM shits h JOIN ${rp("edges")} e ON h.id = e.id
       |  JOIN nname nf ON e.frm = nf.nid JOIN nname nt ON e."to" = nt.nid
       |  WHERE h.type = 'edge'
       |  UNION ALL
       |  SELECT h.id, h.type, h.text, h.score, h.document_id,
       |    own.name, p.description, [own.name]
       |  FROM shits h JOIN ${rp("properties")} p ON h.id = p.id
       |  JOIN nname own ON p.node_id = own.nid
       |  WHERE h.type = 'property')""".stripMargin

  private lazy val kgSearchSql: String =
    s"""WITH ${searchHitsCtes("who collaborates with Vertex Analytics", 0, 40, 0.1)}
       |SELECT id, text, type, document_id, score, rn FROM shits""".stripMargin

  private lazy val kgGlobalSearchSql: String =
    s"""WITH ${searchHitsCtes("which network includes Vertex Analytics", 1, 15, 0.0)}
       |SELECT id, text, type, document_id, score, rn FROM shits""".stripMargin

  private lazy val kgSearchEnrichedSql: String =
    s"""WITH ${searchHitsCtes("who collaborates with Vertex Analytics", 0, 40, 0.1)},
       |$enrichCte
       |SELECT id, type, text, score, document_id, subject, detail,
       |  array_to_string(parent_names, ',') AS parent_names
       |FROM enr""".stripMargin

  /** kg_visuals replay: enriched hits → visual-provenance parents →
    * is_visual level-0 node probe → span-content recovery. */
  private lazy val kgVisualsSql: String =
    s"""WITH ${searchHitsCtes("which entity is depicted with a figure", 0, 40, 0.1)},
       |$enrichCte,
       |meta_of AS (
       |  SELECT id, metadata FROM ${rp("nodes")}
       |  UNION ALL SELECT id, metadata FROM ${rp("edges")}
       |  UNION ALL SELECT id, metadata FROM ${rp("properties")}),
       |vhp AS (
       |  SELECT DISTINCT document_id, lower(trim(pname)) AS pname_norm
       |  FROM (
       |    SELECT e.document_id, unnest(e.parent_names) AS pname
       |    FROM enr e JOIN meta_of m ON e.id = m.id
       |    WHERE len(list_filter(m.metadata, x -> x.visual IS NOT NULL)) > 0)),
       |vnodes AS (
       |  SELECT n.id, n.name, n.description,
       |    n.metadata[1].document_id AS document_id,
       |    list_filter(n.metadata, x -> x.visual IS NOT NULL)[1].visual.media_ref AS media_ref
       |  FROM ${rp("nodes")} n WHERE n.is_visual AND n.level = 0),
       |sv AS (
       |  SELECT DISTINCT v.id, v.name, v.description, v.document_id, v.media_ref
       |  FROM vnodes v JOIN vhp ON v.document_id = vhp.document_id
       |    AND lower(trim(v.name)) = vhp.pname_norm),
       |vspans AS (
       |  SELECT doc_id, s.media_ref AS media_ref, s.text AS content
       |  FROM (SELECT doc_id, unnest(spans) AS s FROM ${rp("docs")})
       |  WHERE s.media_ref <> '')
       |SELECT sv.id, sv.name, sv.description, sv.document_id, sv.media_ref, sp.content
       |FROM sv JOIN vspans sp ON sv.document_id = sp.doc_id
       |  AND sv.media_ref = sp.media_ref""".stripMargin

  /** kg_mapping replay: the ENTIRE linker in SQL from the logs export —
    * single-scan mention aggregation (Linker.mentionAgg), doc-level name
    * table, 6-char token-prefix blocking, Levenshtein-based
    * token_set_ratio ≥ 95 (TextFns.tokenSetRatio twin on DuckDB
    * `levenshtein`), recursive-CTE connected components, token-subset
    * maximality resolution (Linker.resolveCluster), containment-gathered
    * candidate context, and the deterministic rerank (token-overlap
    * cosine) for ambiguous doc-level defaults + per-chunk overrides. */
  private lazy val kgMappingSql: String = {
    // token list of an arbitrary string s: lowercase alnum runs, distinct
    def rtoks(s: String) =
      s"""list_distinct(list_filter(regexp_split_to_array(
         |      regexp_replace(lower($s), '[^a-z0-9]+', ' ', 'g'), ' '), t -> t <> ''))""".stripMargin
    def ratio(x: String, y: String) =
      s"""CASE WHEN length($x) + length($y) = 0 THEN 100
         |  ELSE CAST(floor(100.0 * (length($x) + length($y) - levenshtein($x, $y))
         |    / (length($x) + length($y)) + 0.5) AS INT) END""".stripMargin
    s"""WITH RECURSIVE
       |men AS (
       |  SELECT doc_id, chunk_id, n.name AS display, n.description AS description, false AS is_prop
       |  FROM (SELECT doc_id, chunk_id, unnest(nodes) AS n FROM ${rp("logs")})
       |  UNION ALL
       |  SELECT doc_id, chunk_id, e.source, e.relationship, false
       |  FROM (SELECT doc_id, chunk_id, unnest(edges) AS e FROM ${rp("logs")})
       |  UNION ALL
       |  SELECT doc_id, chunk_id, e.target, e.relationship, false
       |  FROM (SELECT doc_id, chunk_id, unnest(edges) AS e FROM ${rp("logs")})
       |  UNION ALL
       |  SELECT doc_id, chunk_id, p.entity_name, array_to_string(p.properties, ' '), true
       |  FROM (SELECT doc_id, chunk_id, unnest(properties) AS p FROM ${rp("logs")})),
       |m2 AS (
       |  SELECT doc_id, chunk_id, display, description, is_prop,
       |    lower(trim(display)) AS name_norm
       |  FROM men WHERE lower(trim(display)) <> ''),
       |ca AS (
       |  SELECT doc_id, chunk_id, name_norm, min(display) AS display,
       |    list_sort(list_distinct(list(description))) AS descs_set,
       |    list_distinct(list(description) FILTER (WHERE NOT is_prop)) AS ne_set,
       |    list_distinct(list(description) FILTER (WHERE is_prop)) AS prop_set
       |  FROM m2 GROUP BY doc_id, chunk_id, name_norm),
       |nm AS (
       |  SELECT doc_id, name_norm, min(display) AS display,
       |    array_to_string(list_sort(list_distinct(flatten(list(descs_set)))), ' ') AS descs,
       |    array_to_string(list_sort(list_distinct(flatten(list(ne_set)))), ' ') AS ne_descs,
       |    array_to_string(list_sort(list_distinct(flatten(list(prop_set)))), ' ') AS prop_descs
       |  FROM ca GROUP BY doc_id, name_norm),
       |tk AS (
       |  SELECT doc_id, name_norm, list_sort(${rtoks("name_norm")}) AS ts
       |  FROM nm),
       |pt AS (
       |  SELECT DISTINCT doc_id, name_norm, unnest(list_distinct(list_transform(
       |    list_filter(regexp_split_to_array(
       |      regexp_replace(name_norm, '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> ''),
       |    t -> t[1:6]))) AS tok
       |  FROM nm),
       |pr0 AS (
       |  SELECT a.doc_id, a.name_norm AS a, b.name_norm AS b
       |  FROM pt a JOIN pt b ON a.doc_id = b.doc_id AND a.tok = b.tok AND a.name_norm < b.name_norm
       |  GROUP BY ALL),
       |pr1 AS (
       |  SELECT p.doc_id, p.a, p.b,
       |    (list_has_all(tb.ts, ta.ts) OR list_has_all(ta.ts, tb.ts)) AS subs,
       |    array_to_string(list_sort(list_filter(ta.ts, x -> list_contains(tb.ts, x))), ' ') AS si,
       |    array_to_string(list_sort(list_filter(ta.ts, x -> NOT list_contains(tb.ts, x))), ' ') AS dda,
       |    array_to_string(list_sort(list_filter(tb.ts, x -> NOT list_contains(ta.ts, x))), ' ') AS ddb
       |  FROM pr0 p
       |  JOIN tk ta ON p.doc_id = ta.doc_id AND p.a = ta.name_norm
       |  JOIN tk tb ON p.doc_id = tb.doc_id AND p.b = tb.name_norm),
       |pr2 AS (
       |  SELECT doc_id, a, b, subs, si,
       |    CASE WHEN dda = '' THEN si WHEN si = '' THEN dda ELSE si || ' ' || dda END AS s2,
       |    CASE WHEN ddb = '' THEN si WHEN si = '' THEN ddb ELSE si || ' ' || ddb END AS s3
       |  FROM pr1),
       |prs AS (
       |  SELECT doc_id, a, b FROM pr2
       |  WHERE subs OR greatest(
       |    ${ratio("si", "s2")},
       |    ${ratio("si", "s3")},
       |    ${ratio("s2", "s3")}) >= 95),
       |ed AS (SELECT doc_id, a, b FROM prs UNION ALL SELECT doc_id, b AS a, a AS b FROM prs),
       |reach AS (
       |  SELECT doc_id, name_norm AS id, name_norm AS comp FROM nm
       |  UNION
       |  SELECT e.doc_id, e.a AS id, r.comp
       |  FROM ed e JOIN reach r ON e.doc_id = r.doc_id AND e.b = r.id),
       |cmp AS (SELECT doc_id, id AS name_norm, min(comp) AS component FROM reach GROUP BY doc_id, id),
       |mem AS (
       |  SELECT c.doc_id, c.component, c.name_norm, n.display, n.descs, t.ts
       |  FROM cmp c
       |  JOIN nm n ON c.doc_id = n.doc_id AND c.name_norm = n.name_norm
       |  JOIN tk t ON c.doc_id = t.doc_id AND c.name_norm = t.name_norm),
       |mx AS (
       |  SELECT m.doc_id, m.component, m.name_norm, m.display, m.ts FROM mem m
       |  WHERE NOT EXISTS (SELECT 1 FROM mem o
       |    WHERE o.doc_id = m.doc_id AND o.component = m.component
       |      AND o.name_norm <> m.name_norm
       |      AND list_has_all(o.ts, m.ts) AND o.ts <> m.ts)),
       |nonmax AS (
       |  SELECT m.* FROM mem m
       |  WHERE NOT EXISTS (SELECT 1 FROM mx x
       |    WHERE x.doc_id = m.doc_id AND x.component = m.component
       |      AND x.name_norm = m.name_norm)),
       |cnd0 AS (
       |  SELECT m.doc_id, m.name_norm, x.name_norm AS cand_norm, x.display AS cand_display,
       |    list_has_all(x.ts, m.ts) AS is_sup
       |  FROM nonmax m JOIN mx x ON m.doc_id = x.doc_id AND m.component = x.component),
       |cnd1 AS (
       |  SELECT *, sum(CASE WHEN is_sup THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id, name_norm) AS n_sup
       |  FROM cnd0),
       |cnd AS (
       |  SELECT doc_id, name_norm, cand_norm, cand_display FROM cnd1
       |  WHERE (n_sup > 0 AND is_sup) OR n_sup = 0),
       |cnt AS (SELECT doc_id, name_norm, count(*) AS n_c FROM cnd GROUP BY 1, 2),
       |unamb AS (
       |  SELECT doc_id, -1 AS chunk_id, name_norm, name_norm AS canonical_norm, display AS canonical
       |  FROM mx
       |  UNION ALL
       |  SELECT c.doc_id, -1, c.name_norm, c.cand_norm, c.cand_display
       |  FROM cnd c JOIN cnt ON c.doc_id = cnt.doc_id AND c.name_norm = cnt.name_norm
       |  WHERE cnt.n_c = 1),
       |amb AS (
       |  SELECT c.* FROM cnd c JOIN cnt ON c.doc_id = cnt.doc_id AND c.name_norm = cnt.name_norm
       |  WHERE cnt.n_c > 1),
       |cn AS (SELECT DISTINCT doc_id, cand_norm FROM amb),
       |gp AS (
       |  SELECT cn.doc_id, cn.cand_norm,
       |    trim(concat_ws(' ',
       |      CASE WHEN contains(n.name_norm, cn.cand_norm) THEN n.ne_descs END,
       |      CASE WHEN n.name_norm = cn.cand_norm THEN n.prop_descs END)) AS piece
       |  FROM cn JOIN nm n ON cn.doc_id = n.doc_id),
       |g2 AS (
       |  SELECT doc_id, cand_norm,
       |    array_to_string(list_sort(list_distinct(list(piece))), ' ') AS cand_descs
       |  FROM gp WHERE piece <> '' GROUP BY 1, 2),
       |ambx AS (
       |  SELECT a.doc_id, a.name_norm, a.cand_norm, a.cand_display,
       |    coalesce(g2.cand_descs, '') AS cand_descs
       |  FROM amb a LEFT JOIN g2 ON a.doc_id = g2.doc_id AND a.cand_norm = g2.cand_norm),
       |da1 AS (
       |  SELECT x.doc_id, x.name_norm, x.cand_norm, x.cand_display,
       |    ${rtoks("n.descs")} AS qt,
       |    ${rtoks("x.cand_descs || ' ' || x.cand_norm")} AS tt
       |  FROM ambx x JOIN nm n ON x.doc_id = n.doc_id AND x.name_norm = n.name_norm),
       |da2 AS (
       |  SELECT doc_id, name_norm, cand_norm, cand_display,
       |    CASE WHEN len(qt) = 0 OR len(tt) = 0 THEN 0.0
       |         ELSE len(list_intersect(qt, tt)) / sqrt(len(qt) * 1.0 * len(tt)) END AS score
       |  FROM da1),
       |docamb AS (
       |  SELECT doc_id, -1 AS chunk_id, name_norm, cand_norm AS canonical_norm,
       |    cand_display AS canonical
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, name_norm
       |          ORDER BY score DESC, cand_norm DESC) AS rn FROM da2)
       |  WHERE rn = 1),
       |oc AS (SELECT doc_id, chunk_id, name_norm,
       |         array_to_string(descs_set, ' ') AS odescs FROM ca),
       |ov1 AS (
       |  SELECT o.doc_id, o.chunk_id, o.name_norm, x.cand_norm, x.cand_display,
       |    ${rtoks("o.odescs")} AS qt,
       |    ${rtoks("x.cand_descs || ' ' || x.cand_norm")} AS tt
       |  FROM oc o JOIN ambx x ON o.doc_id = x.doc_id AND o.name_norm = x.name_norm),
       |ov2 AS (
       |  SELECT doc_id, chunk_id, name_norm, cand_norm, cand_display,
       |    CASE WHEN len(qt) = 0 OR len(tt) = 0 THEN 0.0
       |         ELSE len(list_intersect(qt, tt)) / sqrt(len(qt) * 1.0 * len(tt)) END AS score
       |  FROM ov1),
       |ovr AS (
       |  SELECT doc_id, chunk_id, name_norm, cand_norm AS canonical_norm,
       |    cand_display AS canonical
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, chunk_id, name_norm
       |          ORDER BY score DESC, cand_norm DESC) AS rn FROM ov2)
       |  WHERE rn = 1)
       |SELECT doc_id, chunk_id, name_norm, canonical_norm, canonical FROM unamb
       |UNION ALL SELECT doc_id, chunk_id, name_norm, canonical_norm, canonical FROM docamb
       |UNION ALL SELECT doc_id, chunk_id, name_norm, canonical_norm, canonical FROM ovr""".stripMargin
  }

  /** Shared CTE chain of the curation-funnel replay (clean -> lang ->
    * quality -> exact dedup -> near-dedup closure -> train split ->
    * token count -> packing prefix sum) - q_curate_pack selects the
    * packed layout from it, q_curate_stats the per-stage counts. */
  private lazy val curateCtes: String =
      """WITH RECURSIVE base AS (
        |  SELECT doc_id AS id, coalesce(text, '') AS t FROM documents
        |), cln AS (
        |  SELECT id,
        |    regexp_replace(nfc_normalize(t),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]', '', 'g') AS tc
        |  FROM base
        |), ltoks AS (
        |  SELECT id, list_filter(regexp_split_to_array(lower(tc), '[^a-z]+'), x -> x <> '') AS tk
        |  FROM cln
        |), lsc AS (
        |  SELECT id, len(tk) AS ntk,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('the','and','of','to','is','in','that','with')))*1.0/len(tk) END AS s_en,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','mit','ein')))*1.0/len(tk) END AS s_de,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('el','la','de','que','y','es','en','los')))*1.0/len(tk) END AS s_es,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('le','la','de','et','est','les','des','une')))*1.0/len(tk) END AS s_fr
        |  FROM ltoks
        |), lk AS (
        |  SELECT cln.id, tc FROM cln JOIN lsc ON cln.id = lsc.id
        |  WHERE ntk > 0 AND greatest(s_en, s_de, s_es, s_fr) > 0
        |    AND list_max([{'s': s_en, 'l': 'en'}, {'s': s_de, 'l': 'de'},
        |                  {'s': s_es, 'l': 'es'}, {'s': s_fr, 'l': 'fr'}])['l'] = 'en'
        |), qk AS (
        |  SELECT id, tc FROM (
        |    SELECT id, tc, regexp_replace(tc, '\s+', '', 'g') AS no_ws FROM lk)
        |  WHERE length(tc) >= 100
        |    AND (CASE WHEN length(no_ws) = 0 THEN 1.0
        |         ELSE round(length(regexp_replace(no_ws, '[A-Za-z]', '', 'g')) * 1.0
        |           / length(no_ws), 4) END) <= 0.4
        |), ek AS (
        |  SELECT id, tc FROM (
        |    SELECT id, tc, min(id) OVER (PARTITION BY md5(tc)) AS mid FROM qk)
        |  WHERE id = mid
        |), w AS (
        |  SELECT id, list_filter(
        |    regexp_split_to_array(lower(regexp_replace(tc, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
        |    x -> x <> '') AS toks
        |  FROM ek
        |), sh AS (
        |  SELECT id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) END AS s
        |  FROM w
        |), e AS (SELECT id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        |prs AS (
        |  SELECT a.id AS ida, b.id AS idb, count(*) AS inter,
        |    min(a.n_sh) AS na, min(b.n_sh) AS nb
        |  FROM e a JOIN e b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2
        |), pp AS (
        |  SELECT ida, idb FROM prs WHERE inter * 1.0 / (na + nb - inter) >= 0.8
        |), edges2 AS (
        |  SELECT ida AS a, idb AS b FROM pp UNION ALL SELECT idb, ida FROM pp
        |), reach AS (
        |  -- cluster labels are STRING ids in the operator (lexicographic
        |  -- min member), so the closure must compare VARCHARs
        |  SELECT id, CAST(id AS VARCHAR) AS comp FROM ek
        |  UNION
        |  SELECT e2.a AS id, r.comp FROM edges2 e2 JOIN reach r ON e2.b = r.id
        |), grp AS (
        |  SELECT id, min(comp) AS g FROM reach GROUP BY 1
        |), nk AS (
        |  SELECT ek.id, tc FROM ek JOIN grp ON ek.id = grp.id
        |  WHERE CAST(ek.id AS VARCHAR) = grp.g
        |), tr AS (
        |  SELECT id, tc FROM nk
        |  WHERE substr(md5(CAST(id AS VARCHAR) || ':split-v1'), 1, 8) < 'cccccccc'
        |), tok AS (
        |  SELECT id,
        |    CAST(greatest(len(list_filter(regexp_split_to_array(tc, '\s+'), x -> x <> '')),
        |      CAST(ceil(length(tc) / 4.0) AS INT)) AS BIGINT) AS n_tokens
        |  FROM tr
        |), packed AS (
        |  SELECT id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM tok
        |)""".stripMargin

  /** q_pdf_layout replay: the ENTIRE stub PDF path in SQL — synthetic
    * token grid, per-page upper-median font, token classification
    * (header/bullet/formula heuristics), the sequential line fold and
    * segment fold as per-(doc,page) recursive CTEs, reading-order span
    * assembly, and the chunk-packing fold (same recursive shape as the
    * kg_chunks oracle). MATERIALIZED CTE hints keep the recursive terms
    * from re-evaluating their upstream chain per level. */
  /** kg_pagerank replay: Centrality.pageRank runs a FIXED number of power
    * iterations (10, damping 0.85), and a DuckDB recursive CTE cannot
    * aggregate per level — so the oracle unrolls the iterations as a
    * chain of aggregating CTEs generated by the same loop shape as the
    * Spark implementation: per iteration a dangling-mass one-row
    * aggregate d_k, an inflow aggregation i_k (rank/outdeg summed per
    * destination), and the rank update r_k with uniform teleport.
    * MATERIALIZED hints keep the chain from inlining the upstream plan
    * once per level (which re-opens the parquet glob exponentially). */
  private lazy val pageRankSql: String = {
    val head =
      s"""WITH e AS MATERIALIZED (
         |  SELECT frm AS src, "to" AS dst FROM ${rp("edges")}
         |  WHERE frm IS NOT NULL AND "to" IS NOT NULL),
         |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         |vd AS MATERIALIZED (SELECT v.id, deg.deg FROM v LEFT JOIN deg USING (id)),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM vd),
         |r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM vd)""".stripMargin
    val iters = (1 to 10).map { k =>
      val p = k - 1
      s"""d$k AS MATERIALIZED (
         |  SELECT coalesce(sum(CASE WHEN vd.deg IS NULL THEN r.rank END), 0.0) AS dm
         |  FROM r$p r JOIN vd USING (id)),
         |i$k AS (
         |  SELECT e.dst AS id, sum(r.rank / vd.deg) AS inflow
         |  FROM r$p r JOIN vd USING (id) JOIN e ON e.src = r.id
         |  WHERE vd.deg IS NOT NULL GROUP BY e.dst),
         |r$k AS MATERIALIZED (
         |  SELECT vd.id,
         |    0.15 / (SELECT n FROM nn) + 0.85 * (coalesce(i$k.inflow, 0.0) + (SELECT dm FROM d$k) / (SELECT n FROM nn)) AS rank
         |  FROM vd LEFT JOIN i$k USING (id))""".stripMargin
    }
    (head +: iters).mkString(",\n") + "\nSELECT id, round(rank, 6) AS rank FROM r10"
  }

  /** fnv1a64(ref) in DuckDB HUGEINT mod-2^64 arithmetic (same fold as the
    * q_simhash_ham oracle: chars are < 2^16, so the XOR touches only the
    * low 16 bits and splits off exactly). */
  private val fnvRefSql: String =
    """list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |    list_transform(string_split(ref, ''), c -> CAST(unicode(c) AS HUGEINT))),
      |  (h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + h - (h % 65536))
      |             * 1099511628211) % 18446744073709551616)""".stripMargin

  /** q_media_features replay: seed = fnv1a64(ref); geometry closed-form;
    * checksum = FNV-1a fold over the LCG byte stream, advanced in
    * lockstep by a recursive CTE (one level per byte). */
  private lazy val mediaFeaturesSql: String =
    s"""WITH RECURSIVE
       |m AS MATERIALIZED (
       |  SELECT CAST(doc_id AS VARCHAR) AS media_id,
       |         'img://doc-' || doc_id || '/fig-0.png' AS ref
       |  FROM documents),
       |f AS MATERIALIZED (
       |  SELECT media_id, $fnvRefSql AS fnv FROM m),
       |g AS MATERIALIZED (
       |  SELECT media_id, fnv,
       |    CAST(fnv % CAST(9223372036854775808 AS HUGEINT) AS BIGINT) AS a
       |  FROM f),
       |geo AS MATERIALIZED (
       |  SELECT media_id, fnv, CAST(64 + a % 192 AS INT) AS n,
       |    CAST(a % 1920 + 64 AS INT) AS width, CAST((a // 7) % 1080 + 64 AS INT) AS height
       |  FROM g),
       |rec AS (
       |  SELECT media_id, 0 AS i, fnv AS h,
       |    CAST(14695981039346656037 AS HUGEINT) AS cs, n
       |  FROM geo
       |  UNION ALL
       |  SELECT media_id, i + 1, h2,
       |    (CAST(xor(
       |       CAST(CASE WHEN r.cs >= CAST(9223372036854775808 AS HUGEINT)
       |            THEN r.cs - CAST(18446744073709551616 AS HUGEINT) ELSE r.cs END AS BIGINT),
       |       CAST(CASE WHEN ub >= 128
       |            THEN ub - 256 ELSE ub END AS BIGINT)) AS HUGEINT)
       |     % 18446744073709551616 + 18446744073709551616) % 18446744073709551616
       |     * 1099511628211 % 18446744073709551616 AS cs,
       |    n
       |  FROM rec r,
       |  LATERAL (SELECT (r.h * 6364136223846793005 + 1442695040888963407)
       |                  % 18446744073709551616 AS h2) q1,
       |  LATERAL (SELECT CAST(h2 // 72057594037927936 AS BIGINT) AS ub) q2
       |  WHERE r.i < r.n)
       |SELECT r.media_id, 'image' AS kind, r.n AS n_bytes, geo.width, geo.height,
       |  CAST(CASE WHEN r.cs >= CAST(9223372036854775808 AS HUGEINT)
       |       THEN r.cs - CAST(18446744073709551616 AS HUGEINT) ELSE r.cs END AS BIGINT) AS checksum
       |FROM rec r JOIN geo USING (media_id) WHERE r.i = r.n""".stripMargin

  /** q_media_frames replay: only the payload LENGTH matters (closed-form
    * in the seed); stride enumeration via range(). Frame bytes are whole
    * 32-byte windows by construction (n_frames = n // 32), so frame_len
    * is the least() for form only. */
  private lazy val mediaFramesSql: String =
    s"""WITH
       |m AS (SELECT CAST(doc_id AS VARCHAR) AS media_id,
       |        'vid://doc-' || doc_id || '/clip-0.mp4' AS ref
       |      FROM documents),
       |f AS (SELECT media_id, $fnvRefSql AS fnv FROM m),
       |g AS (SELECT media_id,
       |        64 + CAST(fnv % CAST(9223372036854775808 AS HUGEINT) AS BIGINT) % 192 AS n
       |      FROM f)
       |SELECT media_id, CAST(k AS BIGINT) AS frame_idx, CAST(k * 32 AS BIGINT) AS frame_off,
       |  CAST(least(32, n - k * 32) AS INT) AS frame_len
       |FROM g, LATERAL (SELECT unnest(range(0, CAST(n // 32 AS BIGINT), 3)) AS k) s""".stripMargin

  private lazy val pdfLayoutSql: String =
    """WITH RECURSIVE
       |wl AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, list_filter(regexp_split_to_array(coalesce(text,''), '\s+'), x -> x <> '')[1:160] AS ws FROM documents),
       |tk0 AS (SELECT doc_id, unnest(list_zip(ws, range(len(ws)))) AS z FROM wl),
       |tk AS (
       |  SELECT doc_id, z[1] AS word, CAST(z[2] AS INT) AS i,
       |    CAST(z[2] AS INT) // 8 AS line0,
       |    (CAST(z[2] AS INT) // 8) % 7 = 0 AS hdr
       |  FROM tk0),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, word, i,
       |    line0 // 40 + 1 AS page,
       |    40.0 + (i % 8) * 70.0 AS lft,
       |    60.0 + (line0 % 40) * 16.0 AS top,
       |    60.0 AS w,
       |    CASE WHEN hdr THEN 14.0 ELSE 12.0 END AS h,
       |    CASE WHEN hdr THEN 14.0 ELSE 10.0 END AS fs,
       |    hdr AS bold
       |  FROM tk),
       |-- per-page upper-median font (Scala: sortedFonts(length/2), 0-based)
       |medf AS (
       |  SELECT doc_id, page, fs AS med FROM (
       |    SELECT doc_id, page, fs,
       |      row_number() OVER (PARTITION BY doc_id, page ORDER BY fs) AS rf,
       |      count(*) OVER (PARTITION BY doc_id, page) AS nf
       |    FROM toks)
       |  WHERE rf = nf // 2 + 1),
       |-- reading order rank per (doc,page)
       |rt AS MATERIALIZED (
       |  SELECT t.*, row_number() OVER (PARTITION BY doc_id, page ORDER BY top, lft, i) AS r,
       |    count(*) OVER (PARTITION BY doc_id, page) AS np
       |  FROM toks t),
       |-- line fold: new line when t.top >= cur_bottom - 0.3*t.height
       |lrec AS (
       |  SELECT doc_id, page, r, 0 AS line_id, top + h AS cur_bottom
       |  FROM rt WHERE r = 1
       |  UNION ALL
       |  SELECT x.doc_id, x.page, x.r,
       |    CASE WHEN brk THEN l.line_id + 1 ELSE l.line_id END,
       |    CASE WHEN brk THEN x.top + x.h ELSE greatest(l.cur_bottom, x.top + x.h) END
       |  FROM lrec l JOIN rt x ON x.doc_id = l.doc_id AND x.page = l.page AND x.r = l.r + 1,
       |  LATERAL (SELECT x.top >= l.cur_bottom - 0.3 * x.h AS brk) q),
       |ltok AS (
       |  SELECT rt.doc_id, rt.page, lrec.line_id, rt.word, rt.lft, rt.top, rt.w, rt.h, rt.fs, rt.bold, rt.i,
       |    row_number() OVER (PARTITION BY rt.doc_id, rt.page, lrec.line_id ORDER BY rt.lft, rt.r) AS pos
       |  FROM rt JOIN lrec ON rt.doc_id = lrec.doc_id AND rt.page = lrec.page AND rt.r = lrec.r),
       |-- token classification
       |ctok AS MATERIALIZED (
       |  SELECT lt.*, m.med,
       |    CASE WHEN lt.bold AND lt.fs >= 1.15 * m.med THEN 'SECTION_HEADER'
       |         WHEN regexp_matches(lt.word, '^(?:[•●*\-]|\(?[0-9]{1,2}[.)])') THEN 'LIST_ITEM'
       |         WHEN regexp_matches(lt.word, '[=^∑∫±≤≥√]') THEN 'FORMULA'
       |         ELSE 'TEXT' END AS cls
       |  FROM ltok lt JOIN medf m ON lt.doc_id = m.doc_id AND lt.page = m.page),
       |-- line type: bullet head else majority (ties -> earliest position)
       |ltyc AS (
       |  SELECT doc_id, page, line_id, cls, count(*) AS n, min(pos) AS first_pos
       |  FROM ctok GROUP BY 1,2,3,4),
       |lhead AS (
       |  SELECT doc_id, page, line_id,
       |    regexp_matches(word, '^(?:[•●*\-]|\(?[0-9]{1,2}[.)])') AS head_bullet
       |  FROM ctok WHERE pos = 1),
       |lty AS (
       |  SELECT c.doc_id, c.page, c.line_id,
       |    CASE WHEN h.head_bullet THEN 'LIST_ITEM' ELSE c.cls END AS lt
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, page, line_id
       |          ORDER BY n DESC, first_pos ASC) AS rn FROM ltyc) c
       |  JOIN lhead h ON c.doc_id = h.doc_id AND c.page = h.page AND c.line_id = h.line_id
       |  WHERE c.rn = 1),
       |-- per-line geometry + text
       |lgeo AS (
       |  SELECT c.doc_id, c.page, c.line_id,
       |    min(CASE WHEN pos = 1 THEN top END) AS head_top,
       |    max(top + h) AS bot, max(h) AS lh,
       |    min(lft) AS x0, min(top) AS y0, max(lft + w) AS x1, max(top + h) AS y1,
       |    string_agg(word, ' ' ORDER BY pos) AS ltext
       |  FROM ctok c GROUP BY 1,2,3),
       |lline AS MATERIALIZED (
       |  SELECT g.*, t.lt,
       |    row_number() OVER (PARTITION BY g.doc_id, g.page ORDER BY g.line_id) AS lr
       |  FROM lgeo g JOIN lty t ON g.doc_id = t.doc_id AND g.page = t.page AND g.line_id = t.line_id),
       |-- segment fold over lines
       |srec AS (
       |  SELECT doc_id, page, lr, 0 AS seg_id, lt AS seg_type, bot AS prev_bot, lh AS prev_lh
       |  FROM lline WHERE lr = 1
       |  UNION ALL
       |  SELECT x.doc_id, x.page, x.lr,
       |    CASE WHEN brk THEN s.seg_id + 1 ELSE s.seg_id END,
       |    CASE WHEN brk THEN x.lt ELSE s.seg_type END,
       |    x.bot, x.lh
       |  FROM srec s JOIN lline x ON x.doc_id = s.doc_id AND x.page = s.page AND x.lr = s.lr + 1,
       |  LATERAL (SELECT x.lt <> s.seg_type OR x.head_top - s.prev_bot > 0.8 * s.prev_lh AS brk) q),
       |segs AS (
       |  SELECT l.doc_id, l.page, s.seg_id,
       |    min(l.x0) AS x0, min(l.y0) AS y0, max(l.x1) AS x1, max(l.y1) AS y1,
       |    string_agg(l.ltext, ' ' ORDER BY l.lr) AS stext,
       |    min(s.seg_type) AS seg_type
       |  FROM lline l JOIN srec s ON l.doc_id = s.doc_id AND l.page = s.page AND l.lr = s.lr
       |  GROUP BY 1,2,3),
       |-- toDocRows: reading-order spans (sort by page, top=y0, left=x0), kind map
       |spans AS (
       |  SELECT doc_id,
       |    CASE WHEN seg_type IN ('TEXT','LIST_ITEM','FORMULA') THEN 'text'
       |         WHEN seg_type = 'SECTION_HEADER' THEN 'section_header'
       |         WHEN seg_type = 'TABLE' THEN 'table'
       |         WHEN seg_type IN ('PICTURE','FIGURE') THEN 'figure'
       |         ELSE 'page_furniture' END AS kind,
       |    stext AS text,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY page, y0, x0) AS sord
       |  FROM segs),
       |-- chunker fold over the spans (same as kg_chunks)
       |sp AS MATERIALIZED (
       |  SELECT doc_id, kind, text,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY sord) AS i
       |  FROM spans WHERE kind IN ('text', 'section_header')),
       |nsp AS MATERIALIZED (SELECT doc_id, max(i) AS m FROM sp GROUP BY doc_id),
       |crec AS (
       |  SELECT doc_id, 0 AS i, 0 AS chunk_id, 0 AS buf_tokens, '' AS buf,
       |    CAST(NULL AS INT) AS emit_id, CAST(NULL AS VARCHAR) AS emit_text, CAST(NULL AS INT) AS emit_tokens
       |  FROM nsp
       |  UNION ALL
       |  SELECT r.doc_id, s.i,
       |    CASE WHEN brk THEN r.chunk_id + 1 ELSE r.chunk_id END,
       |    CASE WHEN brk THEN tok ELSE r.buf_tokens + tok END,
       |    CASE WHEN brk OR r.buf = '' THEN s.text ELSE r.buf || chr(10) || s.text END,
       |    CASE WHEN brk THEN r.chunk_id END,
       |    CASE WHEN brk THEN r.buf END,
       |    CASE WHEN brk THEN r.buf_tokens END
       |  FROM crec r JOIN sp s ON s.doc_id = r.doc_id AND s.i = r.i + 1,
       |  LATERAL (SELECT greatest(len(list_filter(regexp_split_to_array(s.text, '\s+'), x -> x <> '')),
       |                  CAST(ceil(length(s.text) / 4.0) AS INT)) AS tok) t,
       |  LATERAL (SELECT (s.kind = 'section_header' AND r.buf_tokens > 280)
       |                  OR (r.buf_tokens > 0 AND r.buf_tokens + tok > 400) AS brk) b),
       |emitted AS (
       |  SELECT doc_id, emit_id AS chunk_id, emit_text AS text, emit_tokens AS token_num
       |  FROM crec WHERE emit_id IS NOT NULL
       |  UNION ALL
       |  SELECT r.doc_id, r.chunk_id, r.buf, r.buf_tokens
       |  FROM crec r JOIN nsp ON r.doc_id = nsp.doc_id AND r.i = nsp.m
       |  WHERE r.buf <> '')
       |SELECT doc_id, chunk_id, text, token_num FROM (
       |  SELECT *, regexp_replace(text, '\s+', '', 'g') AS no_ws FROM emitted)
       |WHERE length(text) >= 100 AND length(no_ws) > 0
       |  AND length(regexp_replace(no_ws, '[A-Za-z]', '', 'g')) * 1.0 / length(no_ws) <= 0.4""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // F8 bbox math: same derived rectangles; min/max commutes past the
    // polygon vertex-order variants, so the oracle needs no CASE on them
    "q_bbox_crop" ->
      """WITH b AS (
        |  SELECT event_id,
        |    CAST((event_id*7 % 700) - 20 AS DOUBLE) AS x0,
        |    CAST((event_id*13 % 850) - 20 AS DOUBLE) AS y0,
        |    CAST((event_id*7 % 700) - 20 + (event_id*31 % 300) + 40 AS DOUBLE) AS x1,
        |    CAST((event_id*13 % 850) - 20 + (event_id*17 % 200) + 30 AS DOUBLE) AS y1
        |  FROM events),
        |c AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 11 = 0 THEN NULL
        |         ELSE greatest(0.0, least(least(x0, x1), 612.0)) END AS bx0,
        |    CASE WHEN event_id % 11 = 0 THEN NULL
        |         ELSE greatest(0.0, least(least(y0, y1), 792.0)) END AS by0,
        |    CASE WHEN event_id % 11 = 0 THEN NULL
        |         ELSE greatest(0.0, least(greatest(x0, x1), 612.0)) END AS bx1,
        |    CASE WHEN event_id % 11 = 0 THEN NULL
        |         ELSE greatest(0.0, least(greatest(y0, y1), 792.0)) END AS by1
        |  FROM b)
        |SELECT event_id, bx0, by0, bx1, by1,
        |  CAST(round(bx0*300) AS BIGINT) AS px0, CAST(round(by0*300) AS BIGINT) AS py0,
        |  CAST(round(bx1*300) AS BIGINT) AS px1, CAST(round(by1*300) AS BIGINT) AS py1
        |FROM c""".stripMargin,
    // resize planning: identical IEEE-754 double math both sides
    // stub media payloads are pure mod-2^64 arithmetic seeded by
    // fnv1a64(ref) (see Multimodal.payloadFromRef): byte count and
    // width/height are closed-form in the seed; the checksum is a
    // lockstep recursive CTE advancing the LCG byte stream and the
    // FNV-1a fold together (one level per payload byte, ≤ 255 levels,
    // all media advance in parallel per level). XORs that span the full
    // 64 bits round-trip through signed BIGINT (DuckDB xor is 64-bit);
    // the payload byte is sign-extended exactly as Scala's Byte→Long.
    "q_media_features" -> mediaFeaturesSql,
    "q_media_frames" -> mediaFramesSql,
    "q_resize_plan" ->
      """WITH d AS (SELECT event_id,
        |    CAST((event_id*29 % 4096) + 1 AS DOUBLE) AS w,
        |    CAST((event_id*37 % 2160) + 1 AS DOUBLE) AS h FROM events),
        |s AS (SELECT event_id, w, h, least(512.0/w, 512.0/h, 1.0) AS sc FROM d)
        |SELECT event_id,
        |  greatest(1, CAST(floor(w*sc) AS BIGINT)) AS out_w,
        |  greatest(1, CAST(floor(h*sc) AS BIGINT)) AS out_h
        |FROM s""".stripMargin,
    // S3 table→markdown: exact string twin of the grid algorithm on the
    // same synthesized 2×3 cells (missing (1,2) cell → empty column)
    "q_table_markdown" ->
      """SELECT event_id,
        |  'Table ' || CAST(event_id AS VARCHAR) || chr(10) ||
        |  '| metric | ' || coalesce(event_type, '') || ' | unit |' || chr(10) ||
        |  '| --- | --- | --- |' || chr(10) ||
        |  '| ' || coalesce(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), '') ||
        |  ' | ' || coalesce(CAST(user_id AS VARCHAR), '') || ' |  |' || chr(10)
        |    AS content
        |FROM events""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin,
    "q_topk_degree" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 ORDER BY n_orders DESC, o_custkey ASC LIMIT 5""".stripMargin,
    "q_window_top1" ->
      """SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn FROM customer
        |) WHERE rn = 1""".stripMargin,
    "q_anti_join" ->
      "SELECT p_partkey FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)",
    "q_semi_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
    "q_events_stats" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        |  round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_chunk_filter" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE length(text) >= 100 AND (
        |  length(regexp_replace(regexp_replace(text, '\s+', '', 'g'), '[A-Za-z]', '', 'g')) * 1.0
        |  / length(regexp_replace(text, '\s+', '', 'g'))) <= 0.4""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id AS id,
        |  CASE WHEN text IS NULL THEN 0 ELSE
        |    greatest(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')),
        |             CAST(ceil(length(text) / 4.0) AS INT)) END AS n_tokens
        |FROM documents""".stripMargin,
    "q_name_norm" ->
      "SELECT DISTINCT lower(trim(p_name)) AS name_norm FROM part",
    "q_text_format" ->
      "SELECT c_custkey, concat(c_name, ', ', c_mktsegment) AS embed_text FROM customer",
    "q_group_concat" ->
      """SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1""".stripMargin,
    "q_dedup_groups" ->
      """SELECT lang, count(*) AS n_docs, min(source) AS first_source,
        |  min(n_chars) AS min_chars FROM documents GROUP BY 1""".stripMargin,
    "q_tag_stats" ->
      """SELECT tag, count(*) AS n_docs FROM (
        |  SELECT 'lang' AS tag FROM documents
        |  UNION ALL
        |  SELECT 'long_doc' AS tag FROM documents WHERE n_chars > 300
        |) GROUP BY 1""".stripMargin,
    "q_exact_dedup" ->
      """SELECT doc_id AS id, md5(text) AS content_hash,
        |  count(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |FROM documents""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id AS id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), toks2 AS (
        |  SELECT doc_id, list_filter(toks, x -> x <> '') AS toks FROM w
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) END AS s
        |  FROM toks2
        |), e AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter,
        |    min(a.n_sh) AS na, min(b.n_sh) AS nb
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT ida, idb, round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
        |FROM pairs WHERE inter * 1.0 / (na + nb - inter) >= 0.8""".stripMargin,
    "q_minhash_lsh" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), toks2 AS (
        |  SELECT doc_id, list_filter(toks, x -> x <> '') AS toks FROM w
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) END AS s
        |  FROM toks2
        |), e AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter,
        |    min(a.n_sh) AS na, min(b.n_sh) AS nb
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT ida, idb, round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
        |FROM pairs WHERE inter * 1.0 / (na + nb - inter) >= 0.8""".stripMargin,
    // simhash-banded + exact-Jaccard-verified == the exact pair relation
    // (Hamming net structurally complete for ham<=7; Jaccard recall 1.0
    // audited by app.OracleCheck and asserted by DedupSpec) — same oracle
    // as q_ngram_jaccard/q_minhash_lsh
    "q_simhash" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), toks2 AS (
        |  SELECT doc_id, list_filter(toks, x -> x <> '') AS toks FROM w
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) END AS s
        |  FROM toks2
        |), e AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter,
        |    min(a.n_sh) AS na, min(b.n_sh) AS nb
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT ida, idb, round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
        |FROM pairs WHERE inter * 1.0 / (na + nb - inter) >= 0.8""".stripMargin,
    "q_quality" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS words,
        |    regexp_replace(text, '\s+', '', 'g') AS no_ws
        |  FROM documents
        |)
        |SELECT doc_id AS id,
        |  len(words) AS n_words,
        |  length(text) AS n_chars,
        |  CASE WHEN len(words) = 0 THEN 0.0
        |    ELSE round(length(no_ws) * 1.0 / len(words), 4) END AS avg_word_len,
        |  CASE WHEN len(words) = 0 THEN 0.0
        |    ELSE round(len(list_filter(words,
        |      x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) * 1.0
        |      / len(words), 4) END AS stopword_ratio,
        |  CASE WHEN length(no_ws) = 0 THEN 1.0
        |    ELSE round(length(regexp_replace(no_ws, '[A-Za-z]', '', 'g')) * 1.0
        |      / length(no_ws), 4) END AS non_alpha_ratio
        |FROM w""".stripMargin,
    "q_profile" ->
      """SELECT source AS stratum, count(*)::BIGINT AS n_rows,
        |  round(avg(n_chars::DOUBLE), 4) AS mean,
        |  round(quantile_cont(n_chars::DOUBLE, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars::DOUBLE, 0.95), 4) AS p95
        |FROM documents GROUP BY 1""".stripMargin,
    "q_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(coalesce(text, ''), ''), c -> c <> '')) AS ch
        |  FROM documents
        |), hist AS (
        |  SELECT doc_id, ch, count(*)::BIGINT AS cnt FROM ch GROUP BY 1, 2
        |), ent AS (
        |  SELECT doc_id, sum(cnt)::BIGINT AS n, count(*)::BIGINT AS dc,
        |    sum(cnt::DOUBLE * (ln(cnt::DOUBLE) / ln(2.0::DOUBLE))) AS slc
        |  FROM hist GROUP BY 1
        |)
        |SELECT d.doc_id AS id,
        |  coalesce(e.n, 0)::BIGINT AS n_chars,
        |  coalesce(e.dc, 0)::BIGINT AS distinct_chars,
        |  round(CASE WHEN coalesce(e.n, 0) = 0 THEN 0.0::DOUBLE
        |    ELSE (ln(e.n::DOUBLE) / ln(2.0::DOUBLE)) - e.slc / e.n END, 4) AS entropy
        |FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id""".stripMargin,
    "q_embed_neardup" ->
      """WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 20
        |)
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.95""".stripMargin,
    "q_dedup_clusters" -> dedupClustersOracleSql,
    // the same query as q_dedup_clusters, so one shared string
    "q_cc_bigstar" -> dedupClustersOracleSql,
    // assignment replayed exactly: seed centroids are the vec_id<8
    // embeddings, so argmax-cosine (ties toward the lower seed id) is the
    // same double arithmetic both engines run; groups use the planted-dup
    // closed form (the only cos>=0.95 pairs are the planted identical
    // copies, and an identical copy always co-clusters with its original)
    "q_semantic_dedup" ->
      """WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 20
        |), seeds AS (
        |  SELECT vec_id AS sid, embedding::DOUBLE[] AS sv FROM embeddings WHERE vec_id < 8
        |), scored AS (
        |  SELECT c.vec_id, s.sid,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(c.v, s.sv) DESC, s.sid ASC) AS rn
        |  FROM c CROSS JOIN seeds s
        |)
        |SELECT CAST(vec_id AS VARCHAR) AS id, sid AS cluster,
        |  CASE WHEN vec_id < 20
        |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id + 1000000 AS VARCHAR))
        |       WHEN vec_id >= 1000000
        |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id - 1000000 AS VARCHAR))
        |       ELSE CAST(vec_id AS VARCHAR) END AS group_id,
        |  CAST(vec_id AS VARCHAR) = CASE WHEN vec_id < 20
        |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id + 1000000 AS VARCHAR))
        |       WHEN vec_id >= 1000000
        |         THEN least(CAST(vec_id AS VARCHAR), CAST(vec_id - 1000000 AS VARCHAR))
        |       ELSE CAST(vec_id AS VARCHAR) END AS keep
        |FROM scored WHERE rn = 1""".stripMargin,
    "q_hash_split" ->
      """SELECT doc_id AS id,
        |  substr(md5(CAST(doc_id AS VARCHAR) || ':split-v1'), 1, 8) AS bucket_hash,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split-v1'), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split-v1'), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), toks2 AS (
        |  SELECT doc_id, list_filter(toks, x -> x <> '') AS toks FROM w
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) END AS s
        |  FROM toks2
        |), e0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |-- the engine emits NO shingle for an empty-token document; this CTE
        |-- form emits one '' — drop it so both sides agree
        |e AS (SELECT doc_id, g FROM e0 WHERE g <> ''),
        |b AS (SELECT DISTINCT g FROM e WHERE doc_id < 5)
        |SELECT e.doc_id AS id, count(*) AS n_hits
        |FROM e JOIN b ON e.g = b.g
        |GROUP BY 1""".stripMargin,
    "q_repetition" ->
      """WITH w AS (
        |  SELECT doc_id AS id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS words
        |  FROM documents
        |), tok AS (
        |  SELECT id, unnest(words) AS word, generate_subscripts(words, 1) AS ord FROM w
        |), bg AS (
        |  SELECT id, word || ' ' || lead(word) OVER (PARTITION BY id ORDER BY ord) AS gram FROM tok
        |), cnt AS (
        |  SELECT id, gram, count(*) AS c FROM bg WHERE gram IS NOT NULL GROUP BY id, gram
        |), top AS (
        |  SELECT id, gram AS top_gram, c AS top_gram_count FROM cnt
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, gram DESC) = 1
        |), agg AS (
        |  SELECT id, sum(c) AS n_grams, count(*) AS n_distinct FROM cnt GROUP BY id
        |)
        |SELECT a.id, a.n_grams::BIGINT AS n_grams, t.top_gram,
        |  t.top_gram_count::BIGINT AS top_gram_count,
        |  round(t.top_gram_count / a.n_grams, 4) AS top_gram_frac,
        |  round((a.n_grams - a.n_distinct) / a.n_grams, 4) AS dup_gram_frac
        |FROM agg a JOIN top t USING (id)""".stripMargin,
    "q_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks
        |  FROM documents
        |), idx AS (
        |  SELECT id, toks, unnest(generate_series(1, len(toks) - 19)) AS i
        |  FROM w WHERE len(toks) >= 20
        |), wins AS (
        |  SELECT id, md5(array_to_string(toks[i:i+19], ' ')) AS h FROM idx
        |), cnt AS (SELECT h, count(*) AS c FROM wins GROUP BY h)
        |SELECT id, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows,
        |  round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_span_frac
        |FROM wins JOIN cnt USING (h)
        |GROUP BY id""".stripMargin,
    // Same tokenization/windows as q_dup_spans; survivor of each duplicated
    // window = first occurrence by (id, pos) — rn=1 in the window below,
    // matching Spark's min(struct(id, pos)). Coverage/interval union is the
    // per-token indexed-lambda filter.
    "q_dupspan_removal" ->
      """WITH w AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(regexp_replace(coalesce(text, ''), '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks
        |  FROM documents
        |), idx AS (
        |  SELECT id, toks, unnest(generate_series(1, len(toks) - 19)) AS i
        |  FROM w WHERE len(toks) >= 20
        |), occ AS (
        |  SELECT id, i - 1 AS pos,
        |    row_number() OVER (PARTITION BY array_to_string(toks[i:i+19], ' ') ORDER BY id, i) AS rn
        |  FROM idx
        |), rem AS (
        |  SELECT id, list(pos ORDER BY pos) AS ps FROM occ WHERE rn > 1 GROUP BY id
        |), kept AS (
        |  SELECT w.id, w.toks,
        |    list_filter(w.toks, (x, ti) -> len(list_filter(coalesce(rem.ps, []::BIGINT[]), p -> (ti - 1) >= p AND (ti - 1) < p + 20)) = 0) AS kt
        |  FROM w LEFT JOIN rem USING (id)
        |)
        |SELECT id, len(toks)::BIGINT AS n_tokens,
        |  (len(toks) - len(kt))::BIGINT AS n_removed,
        |  coalesce(array_to_string(kt, ' '), '') AS text_deduped
        |FROM kept""".stripMargin,
    // BM25 (Lucene +1-inside-log idf), k1=1.2 b=0.75, terms spark/query/join.
    // FP parity: doc lengths / tfs / dfs are integers (exact in double any
    // partitioning), the per-term formula is written with identical
    // association on both sides, and composite constants are spelled as the
    // same arithmetic ((1.2 + 1.0), not 2.2 — the two parse to DIFFERENT
    // doubles at the tie boundary).
    "q_bm25" ->
      """WITH w AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks
        |  FROM documents
        |), per AS (
        |  SELECT id, len(toks)::BIGINT AS dl,
        |    len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf0,
        |    len(list_filter(toks, x -> x = 'query'))::BIGINT AS tf1,
        |    len(list_filter(toks, x -> x = 'join'))::BIGINT AS tf2
        |  FROM w
        |), st AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(dl)::DOUBLE / count(*) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |  FROM per
        |)
        |SELECT id, round(
        |    ln((n - df0 + 0.5::DOUBLE) / (df0 + 0.5::DOUBLE) + 1.0::DOUBLE) * (tf0 * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf0 + ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * dl / avgdl) * 1.2::DOUBLE)
        |  + ln((n - df1 + 0.5::DOUBLE) / (df1 + 0.5::DOUBLE) + 1.0::DOUBLE) * (tf1 * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf1 + ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * dl / avgdl) * 1.2::DOUBLE)
        |  + ln((n - df2 + 0.5::DOUBLE) / (df2 + 0.5::DOUBLE) + 1.0::DOUBLE) * (tf2 * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf2 + ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * dl / avgdl) * 1.2::DOUBLE), 4) AS bm25
        |FROM per, st
        |WHERE tf0 + tf1 + tf2 > 0""".stripMargin,
    // Gopher rules: all ratio inputs are integer counts, so the boundary
    // comparisons (awl in [3,10], sym < 0.1, alpha >= 0.8) see identical
    // doubles on both engines; thresholds compare UNROUNDED values
    "q_gopher" ->
      """WITH d AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id = 0 THEN 'tiny doc here'
        |         WHEN doc_id = 1 THEN repeat('the of and to in is on for with a ', 6)
        |         WHEN doc_id = 2 THEN repeat('data point # value ... ', 15)
        |         WHEN doc_id = 3 THEN repeat('12345 67890 24680 13579 99999 ', 12)
        |         ELSE coalesce(text, '') END AS t
        |  FROM documents
        |), w AS (
        |  SELECT id, t,
        |    list_filter(regexp_split_to_array(lower(t), '\s+'), x -> x <> '') AS ws
        |  FROM d
        |), f AS (
        |  SELECT id,
        |    len(ws)::BIGINT AS n_words,
        |    CASE WHEN len(ws) = 0 THEN 0.0::DOUBLE
        |         ELSE coalesce(list_sum(list_transform(ws, x -> len(x))), 0)::DOUBLE / len(ws) END AS awl,
        |    CASE WHEN len(ws) = 0 THEN 0.0::DOUBLE
        |         ELSE (length(regexp_extract_all(t, '#')) + length(regexp_extract_all(t, '\.\.\.')))::DOUBLE / len(ws) END AS sym_ratio,
        |    CASE WHEN len(ws) = 0 THEN 0.0::DOUBLE
        |         ELSE len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(ws) END AS alpha_frac,
        |    (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'in') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'is') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'on') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'for') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END)::BIGINT AS n_stop
        |  FROM w
        |)
        |SELECT id, n_words,
        |  round(awl, 4) AS avg_word_len,
        |  round(sym_ratio, 4) AS symbol_ratio,
        |  round(alpha_frac, 4) AS alpha_frac,
        |  n_stop AS n_stop_hits,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND awl >= 3.0::DOUBLE AND awl <= 10.0::DOUBLE
        |   AND sym_ratio < 0.1::DOUBLE AND alpha_frac >= 0.8::DOUBLE
        |   AND n_stop >= 2) AS keep
        |FROM f""".stripMargin,
    // smoothed TF-IDF top-3; rank order is FP-safe: integer tf/df/N make
    // both engines compute bit-identical double scores, ties term-asc
    "q_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks
        |  FROM documents
        |), tf AS (
        |  SELECT id, term, count(*)::BIGINT AS tf
        |  FROM (SELECT id, unnest(toks) AS term FROM w)
        |  GROUP BY id, term
        |), dfq AS (SELECT term, count(*)::BIGINT AS dft FROM tf GROUP BY term),
        |nn AS (SELECT count(*)::BIGINT AS n FROM w),
        |sc AS (
        |  SELECT id, term, tf, tf * ln((n + 1.0::DOUBLE) / (dft + 1.0::DOUBLE)) AS s
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nn
        |)
        |SELECT id, rnk::BIGINT AS rnk, term, tf, round(s, 4) AS tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, term ASC) AS rnk FROM sc)
        |WHERE rnk <= 3""".stripMargin,
    "q_clean_text" ->
      """WITH d AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id = 0 THEN 'cafe' || chr(769) || ' con' || chr(8203) || 'trol'
        |         WHEN doc_id = 1 THEN 'line1' || chr(1) || chr(2) || ' ok' || chr(9) || 'tab kept' || chr(10) || 'newline kept'
        |         WHEN doc_id = 2 THEN chr(65279) || 'start del' || chr(127) || 'end'
        |         WHEN doc_id = 3 THEN 'nothing to clean here'
        |         ELSE coalesce(text, '') END AS t
        |  FROM documents
        |), c AS (
        |  SELECT id, t,
        |    regexp_replace(nfc_normalize(t),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]', '', 'g') AS text_clean
        |  FROM d
        |)
        |SELECT id, text_clean, text_clean <> t AS changed FROM c""".stripMargin,
    "q_url_scan" ->
      """WITH d AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id = 0 THEN 'see https://alpha.example/a and http://beta.example/b?q=1 plus https://alpha.example/c'
        |         WHEN doc_id = 1 THEN 'no urls in this document at all'
        |         WHEN doc_id = 2 THEN 'dup https://gamma.example/x https://gamma.example/y trailing https://delta.example/z.'
        |         WHEN doc_id = 3 THEN 'quoted "https://eps.example/q" and <https://zeta.example/r>'
        |         ELSE coalesce(text, '') END AS t
        |  FROM documents
        |), u AS (
        |  SELECT id, regexp_extract_all(t, 'https?://[^\s"''<>]+') AS urls FROM d
        |), h AS (
        |  SELECT id, urls,
        |    list_distinct(list_transform(urls,
        |      x -> regexp_extract(x, 'https?://([^/?#\s"''<>]+)', 1))) AS hosts
        |  FROM u
        |)
        |SELECT id, len(urls)::BIGINT AS n_urls, len(hosts)::BIGINT AS n_hosts,
        |  CASE WHEN len(hosts) = 0 THEN '' ELSE list_sort(hosts)[1] END AS first_host
        |FROM h""".stripMargin,
    "q_domain_stats" ->
      """WITH d AS (
        |  SELECT CASE WHEN doc_id % 10 <= 5 THEN 'common.example'
        |              WHEN doc_id % 10 <= 7 THEN 'alpha.example'
        |              WHEN doc_id % 10 = 8 THEN 'beta.example'
        |              ELSE 'gamma.example' END AS host
        |  FROM documents
        |), nn AS (SELECT count(*)::BIGINT AS n FROM d)
        |SELECT host, count(*)::BIGINT AS n_docs,
        |  round(count(*)::DOUBLE / any_value(n), 4) AS share
        |FROM d CROSS JOIN nn GROUP BY host""".stripMargin,
    "q_domain_filter" ->
      """SELECT doc_id AS id, host FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 <= 5 THEN 'common.example'
        |         WHEN doc_id % 10 <= 7 THEN 'alpha.example'
        |         WHEN doc_id % 10 = 8 THEN 'beta.example'
        |         ELSE 'gamma.example' END AS host
        |  FROM documents
        |) WHERE host NOT IN ('common.example', 'gamma.example')""".stripMargin,
    "q_pii_scan" ->
      """WITH p AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id < 10 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.7 call 555-867-530' || CAST(doc_id % 10 AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents
        |)
        |SELECT id,
        |  length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  length(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phones,
        |  length(regexp_extract_all(text, '\b(\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
        |  (length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   + length(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
        |   + length(regexp_extract_all(text, '\b(\d{1,3}\.){3}\d{1,3}\b')))::BIGINT AS n_pii
        |FROM p""".stripMargin,
    "q_line_dedup" ->
      """WITH p AS (
        |  SELECT doc_id AS id,
        |    'corpus header v1' || chr(10) || text || chr(10) || 'footer ' || source AS text
        |  FROM documents
        |), l AS (
        |  SELECT id, unnest(string_split(text, chr(10))) AS line,
        |         generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM p
        |), n AS (
        |  SELECT id, pos, line,
        |         regexp_replace(trim(lower(line)), '\s+', ' ', 'g') AS norm
        |  FROM l
        |), d AS (
        |  SELECT norm, count(DISTINCT id) AS ndocs FROM n GROUP BY 1
        |)
        |SELECT n.id, count(*)::BIGINT AS n_lines,
        |  sum(CASE WHEN d.ndocs <= 10 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  COALESCE(string_agg(CASE WHEN d.ndocs <= 10 THEN n.line END,
        |                      chr(10) ORDER BY n.pos), '') AS clean_text
        |FROM n JOIN d USING (norm)
        |GROUP BY n.id""".stripMargin,
    "q_pack" ->
      """WITH tok AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN text IS NULL THEN 0 ELSE
        |      greatest(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')),
        |               CAST(ceil(length(text) / 4.0) AS INT)) END AS n_tokens
        |  FROM documents
        |)
        |SELECT id, n_tokens::BIGINT AS n_tokens,
        |  COALESCE(sum(n_tokens) OVER (ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_offset,
        |  (COALESCE(sum(n_tokens) OVER (ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048)::BIGINT AS bin
        |FROM tok""".stripMargin,
    "q_strat_sample" ->
      """WITH h AS (
        |  SELECT doc_id AS id, source AS stratum,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':sample-v1'), 1, 8) AS bucket_hash
        |  FROM documents
        |)
        |SELECT id, stratum, bucket_hash FROM h
        |WHERE bucket_hash < CASE stratum
        |  WHEN 'src1' THEN '80000000'
        |  WHEN 'src2' THEN '40000000'
        |  ELSE 'g' END""".stripMargin,
    // same tokenization as the dedup family; feature hash = first 8 md5
    // hex chars as an integer mod 256 (Spark conv(...,16,10) == DuckDB
    // CAST('0x'|| AS BIGINT)); Laplace(+1) bucket models; weight = sum of
    // ln-prob ratios over the doc's token occurrences
    // bigram LM: integer counts feed every ln (DSIR-proven FP form
    // ln(cb+1) - ln(cu + (V+1))); vocab = distinct w2 of train pairs
    // (the <s> prepend makes each real token a w2 exactly once)
    "q_lm_ppl" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    list_prepend('<s>', list_filter(
        |      regexp_split_to_array(lower(regexp_replace(coalesce(text, ''), '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
        |      x -> x <> '')) AS ws
        |  FROM documents
        |), tp AS (
        |  SELECT doc_id, source, p.w1 AS w1, p.w2 AS w2 FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(1, len(ws)), i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS p
        |    FROM tok)
        |), vocab AS (
        |  SELECT DISTINCT w2 AS w FROM tp WHERE source = 'src0'
        |), vs AS (SELECT count(*) AS v FROM vocab),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM tp WHERE source = 'src0' GROUP BY 1, 2),
        |cc AS (SELECT w1, count(*) AS cu FROM tp WHERE source = 'src0' GROUP BY 1),
        |sp AS (
        |  SELECT tp.doc_id,
        |    CASE WHEN tp.w1 = '<s>' OR v1.w IS NOT NULL THEN tp.w1 ELSE '<unk>' END AS m1,
        |    CASE WHEN v2.w IS NOT NULL THEN tp.w2 ELSE '<unk>' END AS m2,
        |    CASE WHEN v2.w IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tp
        |  LEFT JOIN vocab v1 ON tp.w1 = v1.w
        |  LEFT JOIN vocab v2 ON tp.w2 = v2.w
        |), sc AS (
        |  SELECT sp.doc_id, count(*)::BIGINT AS n, sum(oov)::BIGINT AS n_oov,
        |    sum(ln(coalesce(bc.cb, 0) + 1.0::DOUBLE)
        |      - ln(coalesce(cc.cu, 0)::DOUBLE + (vs.v + 1)::DOUBLE * 1.0::DOUBLE)) AS s
        |  FROM sp
        |  LEFT JOIN bc ON sp.m1 = bc.w1 AND sp.m2 = bc.w2
        |  LEFT JOIN cc ON sp.m1 = cc.w1
        |  CROSS JOIN vs
        |  GROUP BY 1
        |)
        |SELECT d.doc_id AS id,
        |  coalesce(sc.n, 0)::BIGINT AS n_tokens,
        |  coalesce(sc.n_oov, 0)::BIGINT AS n_oov,
        |  round(coalesce(sc.s / sc.n, 0.0::DOUBLE), 4) AS avg_logprob,
        |  round(coalesce(exp(-(sc.s / sc.n)), 0.0::DOUBLE), 4) AS ppl
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    // the whole funnel replayed: per-stage forms are the proven oracles of
    // q_clean_text / q_lang_id / q_quality / q_exact_dedup /
    // q_ngram_jaccard / q_hash_split / q_token_count, chained; cluster
    // formation is a recursive-CTE transitive closure (min-label), and
    // packing is the exclusive running sum the distributed prefix-sum
    // operator computes. Near-dup candidate recall 1.0 is the same audited
    // assumption q_minhash_lsh's oracle makes.
    "q_curate_pack" -> (curateCtes +
      "\nSELECT id, n_tokens, tok_offset, tok_offset // 2048 AS bin FROM packed"),
    // stage-retention counts: the same CTE chain, one count per stage —
    // the intermediate cardinalities of the q_curate_pack replay
    "q_curate_stats" -> (curateCtes + """
      |SELECT 'input' AS stage, CAST(count(*) AS BIGINT) AS n FROM base
      |UNION ALL SELECT 'lang_kept', count(*) FROM lk
      |UNION ALL SELECT 'quality_kept', count(*) FROM qk
      |UNION ALL SELECT 'exact_kept', count(*) FROM ek
      |UNION ALL SELECT 'neardup_kept', count(*) FROM nk
      |UNION ALL SELECT 'train_split', count(*) FROM tr
      |UNION ALL SELECT 'packed', count(*) FROM packed""".stripMargin),
    "q_nb_classify" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    list_filter(
        |      regexp_split_to_array(lower(regexp_replace(coalesce(text, ''), '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
        |      x -> x <> '') AS ws
        |  FROM documents
        |), nc AS (
        |  SELECT source AS c, count(*)::BIGINT AS n_c FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
        |), n AS (SELECT sum(n_c)::BIGINT AS n FROM nc),
        |ct AS (
        |  SELECT source AS c, t, count(*)::BIGINT AS cnt
        |  FROM (SELECT source, unnest(ws) AS t FROM tok WHERE doc_id % 2 = 0) GROUP BY 1, 2
        |), ctot AS (SELECT c, sum(cnt)::BIGINT AS cnt_c FROM ct GROUP BY 1),
        |vocab AS (SELECT DISTINCT t FROM ct),
        |vs AS (SELECT count(*)::BIGINT AS v FROM vocab),
        |tf AS (
        |  SELECT doc_id, t, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS t FROM tok) GROUP BY 1, 2
        |), marked AS (
        |  SELECT tf.doc_id, tf.t, tf.tf, vocab.t IS NOT NULL AS iv
        |  FROM tf LEFT JOIN vocab ON tf.t = vocab.t
        |), doctot AS (
        |  SELECT doc_id, sum(tf)::BIGINT AS n_d,
        |    sum(CASE WHEN iv THEN 0 ELSE tf END)::BIGINT AS n_oov
        |  FROM marked GROUP BY 1
        |), inv AS (
        |  SELECT m.doc_id, nc.c,
        |    sum(m.tf::DOUBLE * ln(coalesce(ct.cnt, 0) + 1.0::DOUBLE)) AS s1
        |  FROM marked m CROSS JOIN nc
        |  LEFT JOIN ct ON ct.c = nc.c AND ct.t = m.t
        |  WHERE m.iv GROUP BY 1, 2
        |), scored AS (
        |  SELECT d.doc_id, nc.c,
        |    coalesce(dt.n_d, 0)::BIGINT AS n_d, coalesce(dt.n_oov, 0)::BIGINT AS n_oov,
        |    ln(nc.n_c::DOUBLE) - ln(n.n::DOUBLE)
        |      + coalesce(inv.s1, 0.0::DOUBLE)
        |      + coalesce(dt.n_oov, 0)::DOUBLE * ln(1.0::DOUBLE)
        |      - coalesce(dt.n_d, 0)::DOUBLE * ln(coalesce(ctot.cnt_c, 0)::DOUBLE + (vs.v + 1)::DOUBLE * 1.0::DOUBLE) AS s
        |  FROM documents d
        |  CROSS JOIN nc
        |  LEFT JOIN doctot dt ON d.doc_id = dt.doc_id
        |  LEFT JOIN inv ON inv.doc_id = d.doc_id AND inv.c = nc.c
        |  LEFT JOIN ctot ON ctot.c = nc.c
        |  CROSS JOIN n CROSS JOIN vs
        |), ranked AS (
        |  SELECT doc_id, c, n_d, n_oov, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, c ASC) AS rn
        |  FROM scored
        |)
        |SELECT doc_id AS id, c AS pred, n_d AS n_tokens, n_oov,
        |  round(s, 4) AS score
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
        |    x -> x <> '')) AS tok
        |  FROM documents
        |), tb AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b FROM tok
        |), ttok AS (
        |  SELECT CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM (
        |    SELECT unnest(list_filter(
        |      regexp_split_to_array(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
        |      x -> x <> '')) AS tok
        |    FROM documents WHERE source = 'src0')
        |), rc AS (SELECT b, count(*) AS cnt FROM tb GROUP BY 1),
        |tc AS (SELECT b, count(*) AS cnt FROM ttok GROUP BY 1),
        |ratio AS (
        |  SELECT rc.b,
        |    ln(COALESCE(tc.cnt, 0) + 1.0) - ln((SELECT count(*) FROM ttok) + 256.0)
        |    - (ln(rc.cnt + 1.0) - ln((SELECT count(*) FROM tb) + 256.0)) AS lr
        |  FROM rc LEFT JOIN tc ON rc.b = tc.b
        |), sums AS (
        |  SELECT tb.doc_id, count(*) AS n_tokens, sum(ratio.lr) AS w
        |  FROM tb JOIN ratio ON tb.b = ratio.b GROUP BY 1
        |)
        |SELECT d.doc_id AS id, COALESCE(s.n_tokens, 0) AS n_tokens,
        |  round(COALESCE(s.w, 0.0), 4) AS weight
        |FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id""".stripMargin,
    "q_stream_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
        |  min(doc_id) AS id
        |FROM documents GROUP BY 1""".stripMargin,
    "q_stream_window" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    (doc_id * 60 // 3600) * 3600 AS win_start,
        |    CASE WHEN text IS NULL THEN 0 ELSE
        |      greatest(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')),
        |               CAST(ceil(length(text) / 4.0) AS INT)) END AS n_tokens
        |  FROM documents
        |)
        |SELECT win_start::BIGINT AS win_start, source,
        |  count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
        |FROM tok GROUP BY 1, 2""".stripMargin,
    "q_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // session_window merges events with diff <= gap (gap-inclusive), so a
    // new session opens only at diff STRICTLY > gap
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value, event_id FROM events
        |), f AS (
        |  SELECT user_id, ts_us, value, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), s AS (
        |  SELECT user_id, ts_us, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS snum
        |  FROM f
        |)
        |SELECT user_id, min(ts_us)::BIGINT AS session_start_us,
        |  max(ts_us)::BIGINT AS session_end_us, count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, snum""".stripMargin,
    "q_asof_join" ->
      """WITH v AS (
        |  SELECT user_id AS key, epoch_us(ts) AS ts_us, max(event_id) AS rid
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |), c AS (
        |  SELECT event_id AS id, user_id AS key, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT c.id, c.key, c.ts_us, v.rid AS right_id,
        |  v.ts_us AS right_ts_us, c.ts_us - v.ts_us AS lag_us
        |FROM c ASOF LEFT JOIN v ON c.key = v.key AND v.ts_us <= c.ts_us""".stripMargin,
    "q_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS tk
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, len(tk) AS ntk,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('the','and','of','to','is','in','that','with')))*1.0/len(tk) END AS s_en,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','mit','ein')))*1.0/len(tk) END AS s_de,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('el','la','de','que','y','es','en','los')))*1.0/len(tk) END AS s_es,
        |    CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN ('le','la','de','et','est','les','des','une')))*1.0/len(tk) END AS s_fr
        |  FROM toks
        |)
        |SELECT doc_id AS id,
        |  CASE WHEN ntk = 0 THEN 'und'
        |       WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
        |       ELSE list_max([{'s': s_en, 'l': 'en'}, {'s': s_de, 'l': 'de'},
        |                      {'s': s_es, 'l': 'es'}, {'s': s_fr, 'l': 'fr'}])['l']
        |  END AS lang_pred
        |FROM sc""".stripMargin,
    // ----- KG pipeline: composed oracles over the Verify-time stage
    // exports (see OracleExportDir scaladoc for the verification chain) ---
    "kg_mapping" -> kgMappingSql,
    "kg_triples" -> kgTriplesSql,
    "kg_nodes" -> kgNodesSql,
    // chunk-packing replay: the one order-dependent fold of the pipeline,
    // expressed as a per-doc recursive CTE stepping span-by-span with the
    // carried (chunk_id, buf_tokens, buf) state — emits on the header-break
    // and budget-overflow rules, final flush, then the keep filter
    "kg_chunks" ->
      s"""WITH RECURSIVE sp AS (
         |  SELECT doc_id, s.kind AS kind, s.text AS text,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY s.offset) AS i
         |  FROM (SELECT doc_id, unnest(spans) AS s FROM ${rp("docs")})
         |  WHERE s.kind IN ('text', 'section_header')),
         |nsp AS (SELECT doc_id, max(i) AS m FROM sp GROUP BY doc_id),
         |rec AS (
         |  SELECT doc_id, 0 AS i, 0 AS chunk_id, 0 AS buf_tokens, '' AS buf,
         |    CAST(NULL AS INT) AS emit_id, CAST(NULL AS VARCHAR) AS emit_text,
         |    CAST(NULL AS INT) AS emit_tokens
         |  FROM nsp
         |  UNION ALL
         |  SELECT r.doc_id, s.i,
         |    CASE WHEN brk THEN r.chunk_id + 1 ELSE r.chunk_id END,
         |    CASE WHEN brk THEN tok ELSE r.buf_tokens + tok END,
         |    CASE WHEN brk OR r.buf = '' THEN s.text ELSE r.buf || chr(10) || s.text END,
         |    CASE WHEN brk THEN r.chunk_id END,
         |    CASE WHEN brk THEN r.buf END,
         |    CASE WHEN brk THEN r.buf_tokens END
         |  FROM rec r JOIN sp s ON s.doc_id = r.doc_id AND s.i = r.i + 1,
         |  LATERAL (SELECT greatest(len(list_filter(regexp_split_to_array(s.text, '\\s+'), x -> x <> '')),
         |                  CAST(ceil(length(s.text) / 4.0) AS INT)) AS tok) t,
         |  LATERAL (SELECT (s.kind = 'section_header' AND r.buf_tokens > 280)
         |                  OR (r.buf_tokens > 0 AND r.buf_tokens + tok > 400) AS brk) b),
         |emitted AS (
         |  SELECT doc_id, emit_id AS chunk_id, emit_text AS text, emit_tokens AS token_num
         |  FROM rec WHERE emit_id IS NOT NULL
         |  UNION ALL
         |  SELECT r.doc_id, r.chunk_id, r.buf, r.buf_tokens
         |  FROM rec r JOIN nsp ON r.doc_id = nsp.doc_id AND r.i = nsp.m
         |  WHERE r.buf <> '')
         |SELECT doc_id, chunk_id, text, token_num FROM (
         |  SELECT *, regexp_replace(text, '\\s+', '', 'g') AS no_ws FROM emitted)
         |WHERE length(text) >= 100 AND length(no_ws) > 0
         |  AND length(regexp_replace(no_ws, '[A-Za-z]', '', 'g')) * 1.0 / length(no_ws) <= 0.4""".stripMargin,
    // S1 TXT-path replay at 160/40: space-separator pieces with the
    // separator re-attached to the following piece (the corpus carries no
    // newlines and no word reaches chunkSize, so the recursive descent
    // bottoms out in one mergePieces fold). The fold's post-emit
    // window-advance loop stops at the first window start l satisfying
    // (total <= overlap AND (total + nextLen <= chunkSize OR total = 0));
    // since total = cum(i-1) - cum(l-1), that minimal l — minsat(i) —
    // depends only on i and is precomputed from prefix sums, so the
    // recursion carries just the window start and emits (lo, hi) bounds:
    // lo_new = greatest(lo_old, minsat). Chunk text is reassembled from
    // the bounds, then the reference keep-filter (pre-filter enumerate
    // ids, so dropped chunks leave gaps) and the token estimator apply.
    "kg_chunks_txt" ->
      """WITH RECURSIVE
        |doc AS (SELECT doc_id, trim(coalesce(text,'')) AS t FROM documents
        |        WHERE trim(coalesce(text,'')) <> ''),
        |w0 AS (SELECT doc_id, string_split(t, ' ') AS ws FROM doc),
        |p0 AS (SELECT doc_id, unnest(list_zip(ws, range(len(ws)))) AS z FROM w0),
        |p1 AS (SELECT doc_id, CAST(z[2] AS INT) AS idx,
        |         CASE WHEN CAST(z[2] AS INT) = 0 THEN z[1] ELSE ' ' || z[1] END AS piece
        |       FROM p0),
        |pieces AS MATERIALIZED (
        |  SELECT doc_id, piece, length(piece) AS len,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS i,
        |    sum(length(piece)) OVER (PARTITION BY doc_id ORDER BY idx) AS cum
        |  FROM p1 WHERE piece <> ''),
        |np AS MATERIALIZED (SELECT doc_id, max(i) AS n FROM pieces GROUP BY doc_id),
        |minsat AS MATERIALIZED (
        |  SELECT x.doc_id, x.i, min(l.i) AS ms
        |  FROM pieces x
        |  JOIN pieces prev ON prev.doc_id = x.doc_id AND prev.i = x.i - 1
        |  JOIN pieces l ON l.doc_id = x.doc_id AND l.i <= x.i
        |  WHERE prev.cum - (l.cum - l.len) <= 40
        |    AND (prev.cum - (l.cum - l.len) + x.len <= 160 OR prev.cum = (l.cum - l.len))
        |  GROUP BY x.doc_id, x.i),
        |rec AS (
        |  SELECT doc_id, 1 AS i, 1 AS lo,
        |    CAST(NULL AS BIGINT) AS emit_lo, CAST(NULL AS BIGINT) AS emit_hi
        |  FROM np
        |  UNION ALL
        |  SELECT r.doc_id, r.i + 1,
        |    CASE WHEN emit THEN greatest(r.lo, m.ms) ELSE r.lo END,
        |    CASE WHEN emit THEN r.lo END,
        |    CASE WHEN emit THEN r.i END
        |  FROM rec r
        |  JOIN pieces x ON x.doc_id = r.doc_id AND x.i = r.i + 1
        |  JOIN pieces prev ON prev.doc_id = r.doc_id AND prev.i = r.i
        |  JOIN pieces lop ON lop.doc_id = r.doc_id AND lop.i = r.lo
        |  JOIN minsat m ON m.doc_id = r.doc_id AND m.i = r.i + 1,
        |  LATERAL (SELECT prev.cum - (lop.cum - lop.len) + x.len > 160
        |                  AND r.lo <= r.i AS emit) e),
        |bounds AS (
        |  SELECT doc_id, emit_lo AS lo, emit_hi AS hi FROM rec WHERE emit_lo IS NOT NULL
        |  UNION ALL
        |  SELECT r.doc_id, r.lo, r.i FROM rec r JOIN np ON r.doc_id = np.doc_id AND r.i = np.n),
        |chunks0 AS (
        |  SELECT b.doc_id, b.lo, b.hi,
        |    trim(string_agg(p.piece, '' ORDER BY p.i)) AS text
        |  FROM bounds b JOIN pieces p ON p.doc_id = b.doc_id AND p.i BETWEEN b.lo AND b.hi
        |  GROUP BY b.doc_id, b.lo, b.hi),
        |chunks1 AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY hi, lo) - 1 AS chunk_id, text
        |  FROM chunks0 WHERE text <> '')
        |SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(chunk_id AS INT) AS chunk_id, text,
        |  CAST(greatest(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')),
        |       CAST(ceil(length(text) / 4.0) AS INT)) AS INT) AS token_num
        |FROM (SELECT *, regexp_replace(text, '\\s+', '', 'g') AS no_ws FROM chunks1)
        |WHERE length(text) >= 100 AND length(no_ws) > 0
        |  AND length(regexp_replace(no_ws, '[A-Za-z]', '', 'g')) * 1.0 / length(no_ws) <= 0.4""".stripMargin,
    // production simhash replay: FNV-1a64 token hashes and the 64-bit
    // majority signature in HUGEINT mod-2^64 arithmetic, 4x16-bit banded
    // join, Hamming <= 3 — the linear-scale detector, now hash-compared
    "q_simhash_ham" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(
        |    regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, tok,
        |    list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS HUGEINT))),
        |      (h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + h - (h % 65536))
        |                 * 1099511628211) % 18446744073709551616) AS fnv
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, b.b AS bit,
        |    sum(CASE WHEN CAST((fnv // (CAST(1 AS HUGEINT) << b.b)) % 2 AS INT) = 1
        |        THEN 1 ELSE -1 END) AS acc
        |  FROM th, (SELECT unnest(range(0, 64)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sigs0 AS (
        |  SELECT doc_id, sum(CASE WHEN acc > 0 THEN (CAST(1 AS HUGEINT) << bit)
        |    ELSE CAST(0 AS HUGEINT) END) AS usig
        |  FROM bits GROUP BY doc_id),
        |-- LEFT JOIN from the full document set: a doc with NO alphanumeric
        |-- tokens produces zero `toks` rows and would vanish here, but the
        |-- engine gives it sig=0 and (correctly) pairs empty docs with each
        |-- other as trivial duplicates — coalesce keeps that semantics
        |sigs AS (
        |  SELECT d.doc_id AS id,
        |    CAST(CASE WHEN coalesce(usig, CAST(0 AS HUGEINT)) >= CAST(9223372036854775808 AS HUGEINT)
        |         THEN coalesce(usig, CAST(0 AS HUGEINT)) - CAST(18446744073709551616 AS HUGEINT)
        |         ELSE coalesce(usig, CAST(0 AS HUGEINT)) END AS BIGINT) AS sig
        |  FROM documents d LEFT JOIN sigs0 ON d.doc_id = sigs0.doc_id),
        |banded AS (
        |  SELECT id, sig, b.b AS band,
        |    CAST((CASE WHEN sig >= 0 THEN CAST(sig AS HUGEINT)
        |          ELSE CAST(sig AS HUGEINT) + CAST(18446744073709551616 AS HUGEINT) END
        |          // (CAST(1 AS HUGEINT) << (b.b * 16))) % 65536 AS BIGINT) AS bv
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS b) b),
        |pairs AS (
        |  SELECT DISTINCT l.id AS ida, r.id AS idb,
        |    CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
        |  FROM banded l JOIN banded r ON l.band = r.band AND l.bv = r.bv AND l.id < r.id
        |  WHERE bit_count(xor(l.sig, r.sig)) <= 3)
        |SELECT ida, idb, hamming FROM pairs""".stripMargin,
    "q_pdf_layout" -> pdfLayoutSql,
    "kg_pagerank" -> pageRankSql,
    "kg_search" -> kgSearchSql,
    "kg_global_search" -> kgGlobalSearchSql,
    "kg_search_enriched" -> kgSearchEnrichedSql,
    "kg_visuals" -> kgVisualsSql,
    // logs projection replay (array sizes) — verifies export fidelity +
    // the projection; extraction itself stays spec-gated
    "kg_logs" ->
      s"""SELECT doc_id, chunk_id, is_visual,
         |  CAST(len(nodes) AS INT) AS n_nodes,
         |  CAST(len(edges) AS INT) AS n_edges,
         |  CAST(len(properties) AS INT) AS n_properties
         |FROM ${rp("logs")}""".stripMargin,
    // documents registry replay: per-doc chunk/token rollup + engine id
    "kg_documents" ->
      s"""SELECT md5('doc' || chr(1) || doc_id) AS id, doc_id AS name,
         |  CAST(count(*) AS INT) AS chunk_num,
         |  CAST(sum(token_num) AS INT) AS token_num
         |FROM ${rp("chunks")} GROUP BY doc_id""".stripMargin,
    // estimator replay: one aggregation + the reference's cost/time math
    "kg_estimate" ->
      s"""WITH a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(coalesce(sum(token_num), 0) AS BIGINT) AS tok
         |  FROM ${rp("chunks")}),
         |c AS (
         |  SELECT n, tok,
         |    floor((tok / 1e6 * 5.0 + (tok / 1e6 * 15.0) / 4) * 2.5 * 1e4 + 0.5) / 1e4 AS cost,
         |    (CASE WHEN n <= 2 THEN 4
         |          ELSE (n // 2) * 4 + CASE WHEN n % 2 > 0 THEN 4 ELSE 0 END END)
         |      + n * 4 + n * 4 AS secs
         |  FROM a)
         |SELECT n AS num_chunks, tok AS total_tokens, 'gpt-4o' AS model,
         |  cost AS estimated_cost_usd,
         |  CASE WHEN secs > 60 THEN
         |    CAST(floor(secs / 60.0 * 1000 + 0.5) / 1000 AS VARCHAR) || ' minute' ||
         |      CASE WHEN floor(secs / 60.0 * 1000 + 0.5) / 1000 > 1 THEN 's' ELSE '' END
         |  ELSE CAST(secs AS VARCHAR) || ' seconds' END AS estimated_time
         |FROM c""".stripMargin,
    // dashboard stats replay over the final tables
    "kg_stats" ->
      s"""WITH n AS (SELECT * FROM ${rp("nodes")}),
         |e AS (SELECT * FROM ${rp("edges")}),
         |p AS (SELECT * FROM ${rp("properties")}),
         |tot AS (
         |  SELECT 'total' AS section, 'nodes' AS key, CAST(count(*) AS BIGINT) AS value FROM n
         |  UNION ALL SELECT 'total', 'edges', count(*) FROM e
         |  UNION ALL SELECT 'total', 'properties', count(*) FROM p),
         |lv AS (
         |  SELECT 'nodes_at_level' AS section, CAST(level AS VARCHAR) AS key,
         |    CAST(count(*) AS BIGINT) AS value
         |  FROM n GROUP BY level),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS value
         |  FROM (SELECT frm AS id FROM e UNION ALL SELECT "to" FROM e) GROUP BY id),
         |top AS (
         |  SELECT 'top_degree' AS section, name AS key, value
         |  FROM n JOIN deg USING (id) WHERE level = 0
         |  ORDER BY value DESC, name ASC LIMIT 5)
         |SELECT * FROM tot UNION ALL SELECT * FROM lv UNION ALL SELECT * FROM top""".stripMargin,
    // salted two-phase catalog replay as the naive one-phase SQL rollup
    // (the spec proves salted ≡ naive; this proves naive ≡ exported run)
    "kg_entity_catalog" ->
      s"""WITH l0 AS (
         |  SELECT lower(trim(name)) AS name_norm, name AS display,
         |    metadata[1].document_id AS doc_id, CAST(len(metadata) AS BIGINT) AS n_mentions
         |  FROM ${rp("nodes")} WHERE level = 0)
         |SELECT name_norm, min(display) AS display,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
         |  array_to_string(list_sort(list_distinct(list(doc_id)))[1:8], ',') AS sample_doc_ids
         |FROM l0 GROUP BY name_norm""".stripMargin,
    // F5 community-CSV replay over the final tables: the two prompt-context
    // CSV strings per community, byte-identical string assembly in SQL
    "kg_community_csv" ->
      s"""WITH members AS (
         |  SELECT id AS node_id, name, community_id
         |  FROM ${rp("nodes")} WHERE level = 0 AND community_id <> ''),
         |plines AS (
         |  SELECT m.community_id,
         |    array_to_string(list_sort(list(m.name || ',' || p.description)), chr(10)) AS plines
         |  FROM members m JOIN ${rp("properties")} p ON m.node_id = p.node_id
         |  GROUP BY m.community_id),
         |names AS (SELECT id, name FROM ${rp("nodes")} WHERE level = 0),
         |withn AS (
         |  SELECT e.id, e.frm, e."to", nf.name AS frm_name, nt.name AS to_name, e.description
         |  FROM ${rp("edges")} e
         |  JOIN names nf ON e.frm = nf.id
         |  JOIN names nt ON e."to" = nt.id),
         |touching0 AS (
         |  SELECT m.community_id, w.id,
         |    w.frm_name || ',' || w.to_name || ',' || w.description AS line
         |  FROM withn w JOIN members m ON w.frm = m.node_id
         |  UNION ALL
         |  SELECT m.community_id, w.id,
         |    w.frm_name || ',' || w.to_name || ',' || w.description
         |  FROM withn w JOIN members m ON w."to" = m.node_id),
         |touching AS (
         |  SELECT community_id, id, min(line) AS line FROM touching0 GROUP BY 1, 2),
         |elines AS (
         |  SELECT community_id,
         |    array_to_string(list_sort(list(line)), chr(10)) AS elines
         |  FROM touching GROUP BY 1)
         |SELECT c.community_id,
         |  'node_name,property' ||
         |    CASE WHEN coalesce(p.plines, '') <> '' THEN chr(10) || p.plines ELSE '' END AS prop_csv,
         |  'from,to,description' ||
         |    CASE WHEN coalesce(el.elines, '') <> '' THEN chr(10) || el.elines ELSE '' END AS edge_csv
         |FROM (SELECT DISTINCT community_id FROM members) c
         |LEFT JOIN plines p USING (community_id)
         |LEFT JOIN elines el USING (community_id)""".stripMargin,
    // visualizer level-slice replay: degree + deterministic cap
    "kg_viz_nodes" ->
      s"""WITH lvl AS (
         |  SELECT id, name, description, community_id FROM ${rp("nodes")} WHERE level = 0),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT frm AS id FROM ${rp("edges")}
         |        UNION ALL SELECT "to" FROM ${rp("edges")}) GROUP BY 1)
         |SELECT l.id, l.name, l.description, l.community_id,
         |  coalesce(d.degree, 0) AS degree
         |FROM lvl l LEFT JOIN deg d USING (id)
         |ORDER BY degree DESC, name ASC, id ASC LIMIT 2000""".stripMargin,
    // LSH ANN replay from the exported hyperplanes: coder (sign of plane
    // dot), per-table cells, query Hamming-1 probes, exact cosine top-k
    "q_ann_lsh" ->
      s"""WITH pl AS (SELECT tbl, bit, plane FROM ${rp("lsh_planes")}),
         |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |codes AS (
         |  SELECT id, tbl,
         |    CAST(sum(CASE WHEN dot > 0 THEN (1 << bit) ELSE 0 END) AS INT) AS code
         |  FROM (SELECT e.id, p.tbl, p.bit, list_dot_product(p.plane, e.v) AS dot
         |        FROM e CROSS JOIN pl p)
         |  GROUP BY id, tbl),
         |ccell AS (SELECT id, tbl * 65536 + code AS cell FROM codes),
         |qcodes AS (SELECT * FROM codes WHERE id < 20),
         |qprobe AS (
         |  SELECT id AS qid, tbl * 65536 + code AS cell FROM qcodes
         |  UNION ALL
         |  SELECT q.id, q.tbl * 65536 + xor(q.code, 1 << b.b)
         |  FROM qcodes q, (SELECT unnest(range(0, 6)) AS b) b),
         |cand AS (
         |  SELECT DISTINCT q.qid, c.id
         |  FROM ccell c JOIN qprobe q ON c.cell = q.cell WHERE c.id <> q.qid),
         |scored AS (
         |  SELECT cand.qid, cand.id,
         |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
         |  FROM cand JOIN e ec ON cand.id = ec.id JOIN e eq ON cand.qid = eq.id),
         |ranked AS (
         |  SELECT qid, id, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
         |  FROM scored)
         |SELECT qid, id, cosine, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin,
    // IVF ANN replay from the exported trained centroids: nearest-list
    // assignment (ties to lower index), nProbe=8 query probing, exact
    // cosine top-k inside probed lists only
    "q_ann_ivf" ->
      s"""WITH ct AS (SELECT cluster, centroid FROM ${rp("ivf_centroids")}),
         |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |arank AS (
         |  SELECT e.id, e.v, c.cluster,
         |    row_number() OVER (PARTITION BY e.id
         |      ORDER BY list_cosine_similarity(c.centroid, e.v) DESC, c.cluster ASC) AS rn
         |  FROM e CROSS JOIN ct c),
         |assigned AS (SELECT id, v, cluster FROM arank WHERE rn = 1),
         |probed AS (
         |  SELECT id AS qid, v AS qv, cluster FROM arank WHERE id < 20 AND rn <= 8),
         |scored AS (
         |  SELECT p.qid, a.id, round(list_cosine_similarity(p.qv, a.v), 4) AS cosine
         |  FROM assigned a JOIN probed p ON a.cluster = p.cluster WHERE a.id <> p.qid),
         |ranked AS (
         |  SELECT qid, id, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
         |  FROM scored)
         |SELECT qid, id, cosine, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin,
    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT qid, id, round(list_cosine_similarity(qv, cv), 4) AS cosine
        |  FROM q CROSS JOIN c WHERE id <> qid
        |), ranked AS (
        |  SELECT qid, id, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        |  FROM scored
        |)
        |SELECT qid, id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin
  )
}
