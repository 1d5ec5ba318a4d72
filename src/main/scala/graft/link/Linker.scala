package graft.link

import graft.core._
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Entity linking + canonicalization (reference
  * eschergraph/tools/fuzzy_matcher.py + tools/node_matcher.py).
  *
  * The reference brute-forces all-pairs token_set_ratio over a document's
  * unique entity names (O(n²), fuzzy_matcher.py:27-45) then DFS-clusters
  * matches (:79-131), resolves each cluster with an LLM (L7) and assigns
  * ambiguous mentions with a reranker (L11). Here:
  *
  *   1. blocking join — names exploded by normalized token, self-joined on
  *      (doc_id, token); a token_set_ratio >= 95 match requires a shared
  *      token, so blocking loses nothing while killing the O(n²);
  *   2. connected components over the match graph: a per-document
  *      [[UnionFind]] inside the same doc-keyed cogroup that resolves
  *      the clusters (one exchange per input, no iterative joins);
  *   3. deterministic cluster resolution mirroring the reference prompt's
  *      rules (identifying_nodes.jinja): canonical entities are the
  *      cluster's maximal names (token set not strictly contained in
  *      another member's); non-maximal mentions go to the unique canonical
  *      when the cluster is unambiguous, else to the candidate with the
  *      best deterministic rerank score vs the mention's gathered
  *      descriptions (L11 analog, node_matcher.py:81-102).
  *
  * All keys carry doc_id (the reference links per document — its name index
  * is dict[doc_id][name], simple_repository.py:73), so shuffles partition
  * by (doc_id, *) and hot global entity names cause no skew here.
  */
object Linker {

  val MatchThreshold = 95

  /** Hot path: native codegen expression, not a UDF (see TokenSetRatioExpr). */
  private def tokenSetRatioCol(a: Column, b: Column): Column =
    graft.functions.TokenSetRatio(a, b)

  /** Per-(doc, chunk, name) mention aggregation — the SINGLE scan of the
    * logs that both the doc-level name table and the per-occurrence
    * contexts derive from (the engine used to scan + shuffle the full
    * mention stream twice, once keyed (doc,name) and once
    * (doc,chunk,name); stage 2 of the two-level aggregation now runs over
    * the already-collapsed chunk-level rows). All four mention projections
    * (node names, edge sources, edge targets, property owners) are
    * concatenated inside the row before exploding — one pass, no 4-way
    * union. */
  def mentionAgg(logs: Dataset[ExtractionLog]): DataFrame =
    mentionsRaw(logs)
      .groupBy(col("doc_id"), col("chunk_id"), col("name_norm"))
      .agg(
        min(col("display")).as("display"),
        collect_set(col("description")).as("descs_set"),
        // type-split gatherings for A6 containment assignment (reference
        // node_matcher.py:118-142: node/edge names match by containment,
        // property owners by exact name)
        collect_set(when(!col("is_prop"), col("description"))).as("ne_set"),
        collect_set(when(col("is_prop"), col("description"))).as("prop_set"))

  /** `concat` returns NULL if ANY input array is null — which would silently
    * drop every mention of a log row with e.g. a null `properties` column
    * (possible for externally persisted ExtractionLog tables). Degrade a
    * null array to empty instead. */
  private def nn(mentions: Column,
                 tpe: String = "array<struct<display:string,description:string>>"): Column =
    coalesce(mentions, array().cast(tpe))

  private val MentionTpe3 =
    "array<struct<display:string,description:string,is_prop:boolean>>"

  /** The exploded mention stream itself: (doc_id, chunk_id, display,
    * description, is_prop, name_norm), one row per mention occurrence —
    * shared by the desc-bearing chunk aggregation ([[mentionAgg]]) and the
    * desc-FREE slim name rollup ([[uniqueNamesSlim]]; column pruning drops
    * the description column from that plan's scan and shuffle).
    *
    * Deliberately ONE pass (transform×4 + concat + explode), not a 4-way
    * union of per-array explode branches: the HOF chain is interpreted
    * (CodegenFallback), but the branch union was measured WORSE at scale —
    * union concatenates the branches' partitions, so a (doc, name) seen by
    * several branches never collapses in the same map-side partial
    * aggregation, and the name-rollup exchange grew ~9% at 96k docs
    * (build shuffle write) while the interpreted explode itself profiled at only
    * ~0.2 s per full pass at sf0.1. */
  def mentionsRaw(logs: Dataset[ExtractionLog]): DataFrame = {
    def m(display: Column, description: Column, isProp: Boolean) =
      struct(display.as("display"), description.as("description"),
        lit(isProp).as("is_prop"))
    logs.toDF()
      .select(col("doc_id"), col("chunk_id"), explode(concat(
        nn(transform(col("nodes"), n => m(n.getField("name"), n.getField("description"), isProp = false)), MentionTpe3),
        nn(transform(col("edges"), e => m(e.getField("source"), e.getField("relationship"), isProp = false)), MentionTpe3),
        nn(transform(col("edges"), e => m(e.getField("target"), e.getField("relationship"), isProp = false)), MentionTpe3),
        nn(transform(col("properties"),
          p => m(p.getField("entity_name"), array_join(p.getField("properties"), " "), isProp = true)), MentionTpe3)
      )).as("mention"))
      .select(col("doc_id"), col("chunk_id"),
        col("mention.display").as("display"),
        col("mention.description").as("description"),
        col("mention.is_prop").as("is_prop"))
      .withColumn("name_norm", lower(trim(col("display"))))
      .filter(col("name_norm") =!= "")
  }

  /** SLIM doc-level name table: (doc_id, name_norm, display) — the only
    * columns the prefix-blocking join, connected components, and cluster
    * resolution actually read — computed WITHOUT the desc-bearing chunk
    * aggregation: one desc-free shuffle of (doc_id, name_norm, display)
    * with map-side combine. The display is the same min(display) a
    * [[mentionAgg]] rollup gives — the global min is the min of the
    * per-chunk mins — but the description payloads (KBs per name on real
    * corpora — the dominant linker shuffle bytes) never enter ANY
    * corpus-wide shuffle; [[canonicalMappingResult]] re-derives them from
    * the (materialized) logs for the ambiguous ~2% of documents only. */
  def uniqueNamesSlim(logs: Dataset[ExtractionLog]): DataFrame =
    mentionsRaw(logs)
      .select(col("doc_id"), col("name_norm"), col("display"))
      .groupBy(col("doc_id"), col("name_norm"))
      .agg(min(col("display")).as("display"))

  /** Unique normalized names per doc with a deterministic display form and
    * the gathered descriptions of the mentions (A6: used for ambiguous
    * assignment). Stage 2 over [[mentionAgg]]: a doc-wide distinct-desc
    * set is the union of the per-chunk sets, so sort + join give exactly
    * the strings the single-level aggregation produced. */
  def uniqueNamesFrom(agg: DataFrame): DataFrame = {
    def joined(c: Column) = array_join(array_sort(array_distinct(flatten(c))), " ")
    agg.groupBy(col("doc_id"), col("name_norm"))
      .agg(
        min(col("display")).as("display"),
        joined(collect_list(col("descs_set"))).as("descs"),
        joined(collect_list(col("ne_set"))).as("ne_descs"),
        joined(collect_list(col("prop_set"))).as("prop_descs"))
  }

  /** Candidate pairs via token-PREFIX blocking, scored with token_set_ratio.
    *
    * The blocking key is each token's first 6 characters (the whole token
    * when shorter): a superset of plain shared-token blocking that also
    * reaches single-token spelling variants ("internationalization" /
    * "internationalisation" score 95 with DISJOINT token sets — shared-token
    * blocking never pairs them, the reference's O(n²) matcher does). Pairs
    * agreeing on no 6-char token prefix remain out of blocking reach — the
    * documented trade against the quadratic scan, which cannot scale.
    * The join stays doc-scoped, so prefix hot keys fan out within one
    * document only.
    *
    * Deliberately NOT deduplicated: two names sharing k prefixes emit the
    * pair k times, but the consumer is union-find, where redundant edges
    * are free — cheaper than the extra full shuffle a distinct() costs
    * (names are a handful of tokens, so k is tiny). `array_distinct` on
    * the per-name prefix list keeps within-name repeats out. */
  def matchedPairs(names: DataFrame): DataFrame = {
    val toks = names
      .select(col("doc_id"), col("name_norm"),
        explode(array_distinct(transform(
          split(regexp_replace(col("name_norm"), "[^a-z0-9]+", " "), " "),
          t => substring(t, 1, 6)))).as("tok"))
      .filter(col("tok") =!= "")
    val a = toks.select(col("doc_id"), col("tok"), col("name_norm").as("a"))
    val b = toks.select(col("doc_id").as("doc_id2"), col("tok").as("tok2"), col("name_norm").as("b"))
    a.join(b, col("doc_id") === col("doc_id2") && col("tok") === col("tok2") && col("a") < col("b"))
      .select(col("doc_id"), col("a"), col("b"))
      .filter(tokenSetRatioCol(col("a"), col("b")) >= MatchThreshold)
  }

  /** [[matchedPairs]] with dictionary-encoded OUTPUT: the blocking join is
    * byte-identical to the string path (the token_set_ratio filter needs
    * the name strings at the join, so they ride it — adding the id as a
    * join payload was measured NET-NEGATIVE: +8 bytes across the two fat
    * tok-join sides outweighs every downstream saving). The ids appear
    * only in the final projection — `xxhash64` of each matched name — so
    * the union-find shuffle consumes `(doc_id, long, long)` rows at zero
    * added cost upstream. Same non-dedup contract as [[matchedPairs]]:
    * a pair sharing k prefixes is emitted k times; union-find absorbs
    * duplicates for free. */
  def matchedPairIds(names: DataFrame): DataFrame =
    matchedPairs(names)
      .select(col("doc_id"), xxhash64(col("a")).as("a"), xxhash64(col("b")).as("b"))

  /** Per-occurrence mention contexts: (doc_id, chunk_id, name_norm,
    * descs) — the per-chunk description text an ambiguous occurrence is
    * re-ranked against (the "mention's description" of
    * node_matcher.py:81-102), from a [[mentionAgg]] scan. */
  def mentionOccurrencesFrom(agg: DataFrame): DataFrame =
    agg.select(col("doc_id"), col("chunk_id"), col("name_norm"),
      array_join(array_sort(col("descs_set")), " ").as("odescs"))


  private val rerankUdf = udf((q: String, t: String) => TextFns.rerankScore(q, t))

  /** `mapping` is the name → canonical mapping:
    * (doc_id, chunk_id, name_norm, canonical_norm, canonical).
    * chunk_id = -1 rows are the doc-level default (one per unique name);
    * chunk_id >= 0 rows are per-chunk overrides, emitted ONLY for members
    * of ambiguous clusters (several maximal candidates), re-ranked against
    * the occurrence's own chunk context — the reference's per-log
    * assignment (node_matcher.py:199-296).
    * `cleanup` frees the linker's internal materializations (names /
    * resolved / ambiguous and the ambiguous-doc desc slices) — call it
    * once the mapping stage itself is materialized. Freeing them after the mapping checkpoint exists cuts
    * the live heap for all downstream stages (shared-heap GC pressure was
    * the largest local-mode anti-scaling term at 96k docs). */
  case class LinkResult(mapping: DataFrame, cleanup: () => Unit)

  /** PRECONDITION: `logs` must be MATERIALIZED (checkpointed/persisted) or
    * at least a deterministic plan. The round-5 split scans `logs` twice —
    * the slim name rollup here, and the ambiguous-slice re-aggregation
    * below — so a lazy plan over a NON-deterministic extractor (e.g. a
    * live HttpExtractor) could rank ambiguous-member overrides against
    * different descriptions than the name table saw. Every in-repo caller
    * passes a checkpointed/persisted stage (BuildPipeline's logs stage,
    * or a stage cut of the logs); external callers with a lazy
    * non-deterministic source must cut it first. A deterministic lazy
    * plan is correct but pays a second extraction pass. */
  def canonicalMappingResult(logs: Dataset[ExtractionLog]): LinkResult =
    Materialize.Scope.open(scope => LinkResult(mappingPlan(logs), () => scope.close()))

  /** The mapping; its materializations register with the current scope. */
  private def mappingPlan(logs: Dataset[ExtractionLog]): DataFrame = {
    val spark = logs.sparkSession
    import spark.implicits._

    // SLIM name table straight from the logs: the blocking join,
    // union-find, and resolution read only (doc_id, name_norm, display).
    // Description payloads — KBs per name on real corpora — enter NO
    // corpus-wide shuffle at all: round 4 kept them out of the name
    // table; round 5 removes the desc-bearing chunk-level aggregation
    // itself from the main path (it shuffled every document's
    // descriptions to produce sets that only the ambiguous ~2% of
    // documents ever read — measured 58% of linker shuffle bytes at 96k
    // docs). The chunk aggregation is re-run below over the
    // ambiguous-document slice of the (upstream-materialized) logs.
    // CUT: the name table has three consumers inside the `resolved` job
    // (the fused resolve's nameRows and both sides of the prefix-blocking
    // self-join). A lazy plan was measured to RE-RUN the mention-explode
    // rollup per consumer at 96k docs (graft-link:* shuffle write:
    // 505 -> 1406 MiB — the rollup's exchange was not reused across the
    // three differently-projected subtrees), so the one-barrier cut is
    // the cheaper trade at scale.
    val names = Par.labelled(spark, "graft-link:names")(Materialize.stageCut(uniqueNamesSlim(logs)))
    // Dictionary encoding: a 64-bit xxhash64 id per name. Pair rows carry
    // 8-byte ids instead of name strings (matchedPairIds). A same-doc id
    // collision would merge two names; at ~2^-64 per same-doc name pair it
    // is deterministic (same hash every run) and would surface loudly as a
    // kg_mapping oracle hash mismatch, not silent corruption.
    val pairs = matchedPairIds(names)

    // FUSED union-find + cluster resolution: ONE doc_id-keyed cogroup of
    // the name rows (id + name payload) with the match-pair rows (ids
    // only). Per-doc graphs are bounded by doc size, so the whole
    // component formation AND resolveCluster run inside a single typed
    // fold over the shared per-group [[UnionFind]], so the round-5
    // three-exchange chain (union-find groupByKey → comps⋈names rejoin →
    // second groupByKey((doc, component)) into resolveCluster) collapses
    // to one exchange per input. cogroup, NOT a unioned groupByKey: each
    // side shuffles with its OWN schema — a unioned stream was measured
    // +50 MiB at 96k docs because every slim (doc, a, b) pair row paid
    // the union schema's two dead string slots. Byte-identical resolution
    // by construction: resolveCluster is set-based (maximality, sorted
    // candidate lists, total-order tie-breaks), so per-group row order —
    // the only thing the fusion changes — cannot affect any output row.
    //
    // resolveCluster runs with EMPTY descs: maximality and
    // unique-candidate assignment are pure token-set structure; ambiguous
    // members' doc-level pick is recomputed below against the
    // containment-gathered contexts (the reference's node_matcher
    // semantics), so descriptions stay out of this corpus-wide shuffle.
    val nameRows = names.select(col("doc_id"),
      xxhash64(col("name_norm")).as("nid"), col("name_norm"), col("display"))
      .as[(String, Long, String, String)]
      .groupByKey(_._1)
    val pairRows = pairs.as[(String, Long, Long)].groupByKey(_._1)
    val resolved = Par.labelled(spark, "graft-link:resolved")(Materialize.stageCut(nameRows.cogroup(pairRows) {
      (doc: String, ns: Iterator[(String, Long, String, String)],
       ps: Iterator[(String, Long, Long)]) =>
        // union-find over 8-byte ids (roots are opaque here: resolveCluster
        // output is independent of which member roots its component)
        val uf = new UnionFind[Long]
        ps.foreach { case (_, a, b) => uf.union(a, b) }
        // group declared members by component root; every name row is
        // retained as its own member (two same-doc names colliding on
        // xxhash64 would both appear, exactly like the pre-fusion rejoin)
        val byComp = ns.toVector.groupMap(n => uf.find(n._2)) { case (_, _, norm, display) =>
          (norm, display, "") }
        byComp.valuesIterator.flatMap { ms =>
          resolveCluster(ms)
            .map(r => (doc, r.name_norm, r.canonical_norm, r.canonical, r.candidates))
        }
      }
      .toDF("doc_id", "name_norm", "canonical_norm", "canonical", "candidates")))

    // ---- late description recomputation, ambiguous documents only ------
    // Ambiguity is decided above without descs; only now do desc payloads
    // re-enter, restricted to the documents that contain an ambiguous
    // cluster (~2% of the synthetic corpus; doc-bounded always). One
    // corpus-partitioned semi join on doc_id replaces the three
    // corpus-wide desc-bearing shuffles the previous plan paid (names
    // with descs into gathered + docAmbig, full agg into overrides).
    val ambigDocs = resolved.filter(size(col("candidates")) > 1)
      .select(col("doc_id")).distinct()
    // desc-bearing chunk-level aggregation over the ambiguous documents
    // ONLY: a doc_id semi join narrows the logs before the mention
    // explode, so the collect_set shuffle carries ~2% of the corpus's
    // description text instead of all of it
    val logsAmbig = logs.toDF().join(ambigDocs, Seq("doc_id"), "left_semi")
      .as[graft.core.ExtractionLog]
    def ambiguousCut(df: DataFrame) = Par.labelled(spark, "graft-link:ambiguous")(Materialize.stageCut(df))
    val aggAmbig = ambiguousCut(mentionAgg(logsAmbig))
    // full name table (descs/ne_descs/prop_descs) for ambiguous docs —
    // containment gathering scans ALL names of the doc, so this derives
    // from the doc-scoped semi join, not from the ambiguous names alone
    val namesAmbig = ambiguousCut(uniqueNamesFrom(aggAmbig))

    // A6 — candidate context gathered by SUBSTRING CONTAINMENT across the
    // doc's mention names (reference node_matcher.py:104-143: a candidate
    // collects node/edge descriptions from every name that CONTAINS it,
    // and property texts from its exact name). Doc-scoped equi-join with a
    // containment post-filter: the candidate side is only the ambiguous
    // maximal names, the name side is bounded per doc — no global theta-join.
    val candNames = resolved.filter(size(col("candidates")) > 1)
      .select(col("doc_id"), explode(col("candidates")).as("c"))
      .select(col("doc_id"), col("c._1").as("cand_norm"))
      .distinct()
    val gathered = candNames.join(namesAmbig, Seq("doc_id"))
      .withColumn("piece", concat_ws(" ",
        when(col("name_norm").contains(col("cand_norm")), col("ne_descs")),
        when(col("name_norm") === col("cand_norm"), col("prop_descs"))))
      .withColumn("piece", trim(col("piece")))
      .filter(col("piece") =!= "")
      .groupBy(col("doc_id"), col("cand_norm"))
      .agg(array_join(array_sort(collect_set(col("piece"))), " ").as("cand_descs"))

    // candidates with containment-gathered context (falls back to empty
    // when nothing in the doc contains the candidate name); materialized
    // once — BOTH the doc-level default and the per-chunk overrides join it
    val ambiguous = ambiguousCut(resolved.filter(size(col("candidates")) > 1)
      .select(col("doc_id"), col("name_norm"), explode(col("candidates")).as("c"))
      .select(col("doc_id"), col("name_norm"),
        col("c._1").as("cand_norm"), col("c._2").as("cand_display"))
      .join(gathered, Seq("doc_id", "cand_norm"), "left")
      .withColumn("cand_descs", coalesce(col("cand_descs"), lit(""))))

    // doc-level default for ambiguous members: rerank the member's own
    // gathered descriptions against each candidate's CONTAINMENT context
    // (same scoring as the per-chunk overrides, doc-wide query side)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("name_norm"))
      .orderBy(col("score").desc, col("cand_norm").desc)
    val docAmbig = ambiguous
      .join(namesAmbig.select(col("doc_id"), col("name_norm"), col("descs")), Seq("doc_id", "name_norm"))
      .withColumn("score",
        rerankUdf(col("descs"), concat_ws(" ", col("cand_descs"), col("cand_norm"))))
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") === 1)
      .select(col("doc_id"), lit(-1).as("chunk_id"),
        col("name_norm"), col("cand_norm").as("canonical_norm"), col("cand_display").as("canonical"))

    val docLevel = resolved.filter(size(col("candidates")) <= 1).select(
      col("doc_id"), lit(-1).as("chunk_id"),
      col("name_norm"), col("canonical_norm"), col("canonical"))
      .unionByName(docAmbig)
    // per-chunk contexts only exist for ambiguous members — derive them
    // from the ambiguous-doc slice, never the full chunk-level agg
    val occs = mentionOccurrencesFrom(aggAmbig)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("chunk_id"), col("name_norm"))
      .orderBy(col("score").desc, col("cand_norm").desc)
    val overrides = occs.join(ambiguous, Seq("doc_id", "name_norm"))
      .withColumn("score",
        rerankUdf(col("odescs"), concat_ws(" ", col("cand_descs"), col("cand_norm"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_id"),
        col("name_norm"), col("cand_norm").as("canonical_norm"), col("cand_display").as("canonical"))

    docLevel.unionByName(overrides)
  }

  /** A member's resolution: doc-level canonical plus, when the member was
    * AMBIGUOUS (several maximal candidates), the candidate set — each as
    * (norm, display) — so occurrences can be re-assigned per chunk (the
    * reference assigns per log: node_matcher.py:199-296, reranker cache
    * per entity within a log). Candidate context is NOT carried here: the
    * downstream rerank joins the containment-gathered `cand_descs` itself,
    * and shipping each candidate's doc-wide description text through the
    * materialized `resolved` stage would be dead payload. */
  case class Resolution(name_norm: String, canonical_norm: String, canonical: String,
                        candidates: Vector[(String, String)])

  /** Deterministic L7/L11 cluster resolution. Input members:
    * (name_norm, display, descs). */
  def resolveCluster(members: Vector[(String, String, String)]): Vector[Resolution] = {
    val tokSets: Map[String, Set[String]] =
      members.map { case (n, _, _) => n -> TextFns.normTokens(n).toSet }.toMap
    val display: Map[String, String] = members.map { case (n, d, _) => n -> d }.toMap
    val descs: Map[String, String] = members.map { case (n, _, s) => n -> s }.toMap
    // maximal = token set not a strict subset of another member's
    val maximal = members.map(_._1).filter { n =>
      val t = tokSets(n)
      !members.exists { case (m, _, _) => m != n && t.subsetOf(tokSets(m)) && t != tokSets(m) }
    }.sorted
    members.map { case (n, _, _) =>
      if (maximal.contains(n)) Resolution(n, n, display(n), Vector.empty)
      else if (maximal.size == 1) Resolution(n, maximal.head, display(maximal.head), Vector.empty)
      else {
        // candidates: maximal names containing this mention's tokens;
        // fall back to all maximal names when fuzzy-linked non-subsets
        val subsetOfs = maximal.filter(m => tokSets(n).subsetOf(tokSets(m)))
        val cands = if (subsetOfs.nonEmpty) subsetOfs else maximal
        if (cands.size == 1) Resolution(n, cands.head, display(cands.head), Vector.empty)
        else {
          // doc-level default: rerank against ALL gathered descriptions;
          // per-chunk overrides re-score against the occurrence's own
          // context downstream
          val c = cands.maxBy(c => (TextFns.rerankScore(descs(n), descs(c) + " " + c), c))
          Resolution(n, c, display(c), cands.map(m => (m, display(m))))
        }
      }
    }
  }
}
