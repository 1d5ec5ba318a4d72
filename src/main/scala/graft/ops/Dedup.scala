package graft.ops

import graft.functions.{BucketPairs, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale training-data pipelines.
  *
  * All near-dup variants follow the same scale shape: per-doc feature →
  * compact blocking key (prefix shingle / band / bucket) → the pairs that
  * share a key → exact verification on the candidate pairs only. Nothing
  * here is O(n²) in docs. The blocked self-joins of the Jaccard and
  * simhash ops run on one per-bucket pair kernel
  * ([[graft.functions.BucketPairs]]): one exchange groups each key's rows
  * into a bucket, and the kernel walks the bucket's unordered pairs once
  * under the join's own condition. Exact n-gram Jaccard blocks on
  * rare-first shingle prefixes ([[prefixCandidates]]), so stop-word-common
  * shingles stay out of candidate generation without a cap. The banded ops
  * (simhash, minhash LSH) share one candidate core, [[bandJoin]]; every
  * Jaccard op shares one verify tail, [[verifiedJaccard]]. The embedding
  * cosine pairs still block with an equi-join on their cells.
  */
object Dedup {

  /** Exact dedup: hash-groupBy, canonical survivor = min id.
    * Returns (id, content_hash, group_size, keep).
    *
    * groupBy-aggregate + rejoin rather than windows over `content_hash`: at
    * 100 TB a handful of hashes (boilerplate/empty documents) are
    * astronomically hot, and a window partition ships every duplicate row
    * to ONE task; the aggregate is partial-aggregation-friendly (map-side
    * combine collapses each hot hash to one row per map task) and the
    * rejoin shuffles the tiny (hash, size, min) relation. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"))
    val groups = hashed.groupBy(col("content_hash"))
      .agg(count(lit(1)).as("group_size"), min(col("id")).as("min_id"))
    hashed.join(groups, Seq("content_hash"))
      .select(col("id"), col("content_hash"), col("group_size"),
        (col("id") === col("min_id")).as("keep"))
  }

  private val minhashUdf = udf((t: String, k: Int, p: Int) => TextFns.minhash(t, k, p))
  private val simhashUdf = udf((t: String) => TextFns.simhash64(t))

  /** The shingle set of a document with no alphanumeric token: the
    * oracles give such a document the one shingle `''`, so any two of them
    * pair at Jaccard 1.0 on every path. */
  private val EmptyShingle: Long = TextFns.fnv1a64("")
  private val shinglesUdf = udf((t: String, k: Int) => {
    val h = TextFns.shingleHashes(t, k)
    if (h.isEmpty) Array(EmptyShingle) else h
  })

  /** Per-doc distinct k-shingle sets as 64-BIT FNV-1a HASHES (a token-less
    * document gets `[fnv1a64("")]`, see [[EmptyShingle]]), sorted, so the
    * verify joins count intersections by one merge
    * ([[graft.functions.SortedIntersectSize]]). Hashing is a
    * byte diet (guide §2.3, narrower types): the exploded (id, shingle)
    * stream feeds every corpus-wide shingle shuffle and the verify joins
    * rejoin the sets — 8-byte longs where ~25-byte shingle strings used to
    * ride. Set sizes, intersections and unions
    * are preserved unless two DISTINCT shingles collide in 64 bits: the
    * expected number of colliding pairs among n corpus-wide distinct
    * shingles is ~n²/2^65, and one collision perturbs ONE pair's
    * intersection by one unit. A collision is deterministic (same hash
    * every run) and would surface as an oracle hash mismatch at verify
    * time — the same trade the dup-span SpanHashes path (Lee et al.
    * windows as 8-byte longs) and the linker's xxhash64 name ids
    * already accepted in earlier rounds. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"), shinglesUdf(col(textCol), lit(k)).as("sh"))

  /** J = o / (na + nb − o) of a pair with overlap `o` and set sizes
    * `na`/`nb`, in the doubles the DuckDB oracles compare in. */
  private def jaccard(o: Column): Column = o.cast("double") / (col("na") + col("nb") - o)

  /** LOSSLESS prune on an upper bound `o` of a pair's overlap: J rises with
    * the overlap and rounding to double is monotone, so a pair whose bound
    * fails the verify's own test fails the verify. A product instead of the
    * quotient is not lossless: 0.55 * 100.0 > 55, which would drop a
    * (55, 100)-size pair at J = 0.55 exactly. */
  private def reaches(o: Column, threshold: Double): Column = jaccard(o) >= threshold

  /** Size prune: an overlap of min(na, nb) leaves a union of max(na, nb). */
  private def sizeOk(threshold: Double): Column = reaches(least(col("na"), col("nb")), threshold)

  /** (ida, idb, jaccard) from the exact intersection `inter` and the set
    * sizes `na`/`nb`. The threshold filter runs on the UNROUNDED value
    * (rounding first would admit pairs whose true Jaccard sits in
    * [threshold − 5e-5, threshold), which the DuckDB oracles — filtering
    * unrounded — exclude); rounding to 4 decimals happens only on the
    * reported column. */
  private def exactJaccard(pairs: DataFrame, inter: Column, threshold: Double): DataFrame =
    pairs.withColumn("j", jaccard(inter))
      .filter(col("j") >= threshold)
      .select(col("ida"), col("idb"), round(col("j"), 4).as("jaccard"))

  /** The banded candidate join, emitting each candidate pair EXACTLY ONCE.
    * `rows` are (id, payload...), the payload leaving the join suffixed
    * `a`/`b`; `keys` is an array of `bands` blocking keys over them. The
    * (band, key) self-join with `ida < idb` keeps a row only when `keep`
    * holds and its band is the pair's LOWEST agreeing band (`differs(b)`
    * must hold exactly when the band-b keys differ). Each candidate has
    * exactly one lowest agreeing band, so this is the pair set a `distinct`
    * over the join gives, without shuffling every (pair, band) row.
    *
    * The self-join runs on the per-bucket pair kernel
    * ([[graft.functions.BucketPairs]]): one exchange by (band, key) as
    * before, then each bucket's unordered pairs are walked once,
    * c·(c−1)/2 filter calls for a bucket of c rows where the join matched
    * c² rows. The rows are the join's: (banda, keya, ida, payload a, bandb,
    * keyb, idb, payload b). A hot bucket still costs the square of its
    * size, and its rows sit in one row of the aggregate, as they sat in
    * the join's sort buffer; the simhash valve probes that volume before
    * any pair is walked. */
  private[graft] def bandJoin(rows: DataFrame, keys: Column, bands: Int, keep: Column,
                              differs: Int => Column): DataFrame = {
    val payload = rows.columns.toSeq.filterNot(_ == "id")
    val members = rows.select(Seq(posexplode(keys).as(Seq("band", "key")), col("id")) ++
      payload.map(col): _*)
    // one conjunction, cheapest first: the kernel evaluates it per pair
    val owned = (0 until bands - 1).foldLeft(col("ida") < col("idb") && keep)((c, b) =>
      c && (col("banda") <= b || differs(b)))
    BucketPairs.selfJoin(members, Seq("band", "key"), owned)
  }

  /** Exact-Jaccard pairs >= threshold over [[bandJoin]] candidates, for
    * [[minhashLshPairs]] and [[simhashVerifiedPairs]]. `rows` carry
    * `n` = |shingle set|, so the size prune runs in the join's filter after
    * the blocker's `keep`, in the kernel's one pair condition. Nothing is
    * cached. */
  private def bandedJaccard(rows: DataFrame, keys: Column, bands: Int, keep: Column,
                            differs: Int => Column, sets: DataFrame,
                            threshold: Double): DataFrame =
    verifiedJaccard(bandJoin(rows, keys, bands, keep && sizeOk(threshold), differs)
      .select("ida", "idb", "na", "nb"), sets, threshold)

  /** The verify tail every Jaccard op shares: candidate pairs
    * (ida, idb, na, nb), each once, rejoin the sorted shingle `sets`
    * (id, sh) on both sides; one merge counts the intersection. */
  private def verifiedJaccard(pairs: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    exactJaccard(
      pairs.join(sets.select(col("id").as("ida"), col("sh").as("sha")), Seq("ida"))
        .join(sets.select(col("id").as("idb"), col("sh").as("shb")), Seq("idb")),
      graft.functions.SortedIntersectSize(col("sha"), col("shb")), threshold)

  /** Exact n-gram (word k-shingle) Jaccard near-dup pairs >= threshold:
    * [[prefixCandidates]] verified by [[verifiedJaccard]], the oracle's exact
    * pair relation on any corpus. The one cache, the exploded (id, shingle)
    * stream, registers with the caller's [[graft.core.Materialize.Scope]]. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val (cands, sets) = prefixCandidates(df, idCol, textCol, k, threshold)
    verifiedJaccard(cands, sets, threshold)
  }

  /** Prefix-filtered self-join (ppjoin, Xiao et al.): the candidate pairs
    * (ida, idb, na, nb) of [[ngramJaccardPairs]], each once, plus the
    * per-doc sorted shingle sets (id, sh) that verify them.
    *
    * Each doc orders its shingles rare-first by (df, hash), df counted over
    * the corpus, and keeps its first n − ⌈t·n⌉ + 1 of them. A pair with
    * J >= t shares at least ⌈t·n⌉ shingles, n the size of either side, so
    * its first common shingle lies in both prefixes; there, at 0-based
    * positions pa and pb, the overlap is at most
    * ub = 1 + min(na − pa − 1, nb − pb − 1). The join on the prefix
    * shingle keeps a row only if ub [[reaches]] t (the positional filter)
    * and the sizes pass [[sizeOk]]; it runs on the per-bucket pair kernel
    * ([[graft.functions.BucketPairs]]), one bucket per prefix shingle. The
    * prefix length is exact decimal arithmetic: in doubles
    * 0.55 * 100 = 55.00000000000001, whose ceiling cuts the prefix one
    * shingle short. Rare-first puts boilerplate
    * shingles last, so they reach only the prefixes of boilerplate-only
    * docs; the positional filter drops the pairs that meet on a shingle
    * deep in both prefixes.
    * On a corpus of 1 100 docs sharing 8 of their 10 shingles, a pure-hash
    * order or a join without the positional filter emits ~600k rows; this
    * one emits the true pairs only (OpsSpec). It still CHECKS every pair of
    * a hot prefix shingle: a shingle in the prefixes of m docs is one
    * bucket of m rows and m·(m−1)/2 kernel steps in one task (~600k steps
    * for the 1 100 docs above, which share their third prefix shingle), so
    * that case is lossless but not bounded. */
  private[graft] def prefixCandidates(df: DataFrame, idCol: String, textCol: String,
                                      k: Int, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: a pair sharing no shingle has J = 0, got $threshold")
    // the df count and its rejoin both read the stream: cut it, so the
    // corpus is shingled once
    val ex = graft.core.Materialize.stageCut(
      shingleSets(df, idCol, textCol, k).select(col("id"), explode(col("sh")).as("g")))
    // null ids never pair; dropping them here, where the verify's id join
    // infers the same filter, keeps the candidate and verify reads of
    // `docs` one plan, so they share its exchanges
    val docs = ex.filter(col("id").isNotNull)
      .join(ex.groupBy("g").agg(count(lit(1)).as("df")), Seq("g"))
      .groupBy("id").agg(sort_array(collect_list(struct(col("df"), col("g")))).as("o"))
      .select(col("id"), size(col("o")).as("n"), col("o"))
    val plen = (col("n") - ceil(lit(BigDecimal(threshold.toString)) * col("n")) + 1).cast("int")
    val pre = docs.select(col("id"), col("n"),
      posexplode(slice(col("o"), lit(1), plen)).as(Seq("p", "dg")))
    val ub = least(col("na") - col("pa"), col("nb") - col("pb"))
    // one distinct per pair: ownership by the first common shingle (as in
    // bandJoin) saved that job on the neardup sample but shipped 16% more
    // shuffle bytes, each prefix row carrying the prefix before it
    val cands = BucketPairs.selfJoin(pre.select(col("id"), col("n"), col("p"), col("dg.g").as("g")),
        Seq("g"), col("ida") < col("idb") && sizeOk(threshold) && reaches(ub, threshold))
      .select("ida", "idb", "na", "nb").distinct()
    (cands, docs.select(col("id"), sort_array(col("o.g")).as("sh")))
  }

  /** Minhash banding: band b's key hashes its slice of the `sig` array.
    * Returns (keys over `sig`, band-b differs over `siga`/`sigb`). Ownership
    * re-hashes the slices: a key-array payload would need a projection over
    * `sig` that the optimizer inlines, running the minhash UDF per band. */
  private[graft] def minhashBanding(numPerm: Int, bands: Int): (Column, Int => Column) = {
    val rows = numPerm / bands
    def key(sig: String, b: Any) = s"hash(slice($sig, $b*$rows+1, $rows))"
    (expr(s"transform(sequence(0, ${bands - 1}), b -> ${key("sig", "b")})"),
      b => expr(key("siga", b)) =!= expr(key("sigb", b)))
  }

  /** MinHash + LSH near-dup candidates, verified with exact Jaccard.
    * signature → `bands` bands of numPerm/bands rows each → band-hash
    * [[bandedJaccard]]. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numPerm: Int = 16, bands: Int = 4,
                      threshold: Double = 0.8): DataFrame = {
    val (keys, differs) = minhashBanding(numPerm, bands)
    val rows = df.select(col(idCol).as("id"),
      minhashUdf(col(textCol), lit(k), lit(numPerm)).as("sig"),
      size(shinglesUdf(col(textCol), lit(k))).as("n"))
    bandedJaccard(rows, keys, bands, lit(true), differs,
      shingleSets(df, idCol, textCol, k), threshold)
  }

  /** Simhash banding: checks the parameters (pigeonhole: maxHamming <=
    * bands − 1) and returns (band count, keys over `sig`, band-b differs
    * over `siga`/`sigb`). Band b is bits [b·w, (b+1)·w); a pair differs
    * there iff their xor has a bit in that lane — shifts and masks only
    * (ANSI-safe), and no key array riding the wide net's join. */
  private[graft] def simhashBanding(maxHamming: Int, bandBits: Int): (Int, Column, Int => Column) = {
    require(64 % bandBits == 0, s"bandBits must divide 64, got $bandBits")
    val bands = 64 / bandBits
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs >= ${maxHamming + 1} bands (pigeonhole); got $bands")
    val mask = -1L >>> (64 - bandBits)
    (bands,
      expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b*$bandBits) & ${mask}L)"),
      b => shiftright(col("siga").bitwiseXOR(col("sigb")), b * bandBits)
        .bitwiseAND(lit(mask)) =!= 0L)
  }

  private val hamming = bit_count(col("siga").bitwiseXOR(col("sigb")))

  /** SimHash near-dup pairs: 64-bit simhash split into `64/bandBits` bands
    * (pigeonhole: any pair within Hamming distance `bands-1` must agree on
    * >= 1 band, so blocking recall for the Hamming criterion is structurally
    * 1.0 whenever maxHamming <= 64/bandBits - 1), verified by exact Hamming
    * distance inside the [[bandJoin]] filter. Default 4 x 16-bit bands
    * covers the classic maxHamming=3; bandBits=8 gives 8 bands covering
    * maxHamming<=7 at the cost of more candidates (the 100 TB trade-off
    * knob). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bandBits: Int = 16): DataFrame = {
    val (bands, keys, differs) = simhashBanding(maxHamming, bandBits)
    bandJoin(df.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("sig")),
        keys, bands, hamming <= maxHamming, differs)
      .select(col("ida"), col("idb"), hamming.as("hamming"))
  }

  /** The candidate-volume valve probe: Σ c·(c−1)/2 over the sizes c of the
    * `keys` groups of `rows`, one map-side-combined aggregation. Double,
    * not long: the probe is a heuristic and Σc² on a pathological corpus
    * can exceed Long — overflow must not wrap into "small". */
  private def pairVolume(rows: DataFrame, keys: Column*): Double = {
    val r = rows.groupBy(keys: _*).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("double") * (col("c") - 1).cast("double") / 2)).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Valve-trip counter — spec observability only (OpsSpec asserts the
    * valve fires on a hot-bucket corpus and stays silent on normal data). */
  @volatile private[graft] var simhashValveTrips: Long = 0L

  /** SimHash-blocked near-dup pairs with EXACT n-gram Jaccard verification:
    * same banded candidate generation as [[simhashPairs]], but candidates
    * are verified against the true k-shingle Jaccard (>= threshold) rather
    * than the Hamming proxy — the production shape when downstream needs a
    * guaranteed-exact similarity, and oracle-checkable because the output
    * is a subset of the exact pair relation. The wide default Hamming net
    * (maxHamming=15 over 16x4-bit bands) exists because simhash Hamming is
    * a PROXY for Jaccard: at J=0.8 the expected differing-bit count is
    * already ~64*(1-J)/(1+J) ~ 7 with a long tail (measured max 13 over
    * the audited corpora's true pair sets — OracleCheck prints the
    * distribution), so a tight net drops real pairs. The trade-off is
    * candidate volume (4-bit bands bucket n/16 docs each): the RIGHT tool
    * at 100 TB for J~0.8 is minhash LSH; simhash with narrow bands
    * ([[simhashPairs]]'s 16-bit default) is the near-duplicate detector
    * for ham<=3 / J>=0.95 territory. This verified variant is audited
    * recall 1.0 vs the exact pair set (OracleCheck + the OpsSpec
    * exact-set test).
    *
    * '''Candidate-volume valve''': the wide net (4-bit bands) buckets
    * ~n/16 docs per band value on a homogeneous corpus, so co-bucketed
    * candidate volume approaches O(n²/16) — a scale-killer if this bridge
    * path were ever pointed at a big corpus. Before generating pairs the
    * valve measures Σ c·(c−1)/2 over the band buckets (one cheap
    * map-side-combined aggregation of the signatures); past
    * `maxCandidates` it LOUDLY auto-switches candidate generation to
    * minhash LSH (linear banding; same exact-Jaccard verification, recall
    * audited by DedupSpec/OracleCheck) instead of materializing a
    * quadratic join. The default bound caps the candidate join at a size
    * one stage handles comfortably; verify-scale corpora never trip it,
    * so the oracle bridge keeps its exact wide-net semantics there.
    *
    * The one cache, the (id, sig, n) signature table the valve probe and
    * the band join both read, registers with the caller's
    * [[graft.core.Materialize.Scope]]; a valve trip frees it at once. */
  def simhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, threshold: Double = 0.8,
                           maxHamming: Int = 15, bandBits: Int = 4,
                           maxCandidates: Long = 100000000L): DataFrame = {
    // validate UNCONDITIONALLY, before the probe: otherwise a bad banding
    // config on a hot corpus silently succeeds through the minhash
    // fallback while the same call on a sparse corpus throws — parameter
    // validation must not be data-dependent
    val (bands, keys, differs) = simhashBanding(maxHamming, bandBits)
    // signatures and set sizes computed ONCE, in one pass over the text,
    // and stage-cut: the valve probe and the non-tripped band join both
    // read them (recomputing the tokenize+FNV fold per consumer would
    // double the corpus scan cost)
    val (sigs, sigsRdd, _) = graft.core.Materialize.stageCutHandleN(
      df.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("sig"),
        size(shinglesUdf(col(textCol), lit(k))).as("n")))
    val vol = pairVolume(sigs.select(posexplode(keys)), col("pos"), col("col"))
    if (vol > maxCandidates.toDouble) {
      simhashValveTrips += 1
      System.err.println(f"[graft] WARNING: simhash wide-net candidate volume ~$vol%.3g " +
        s"exceeds maxCandidates=$maxCandidates -- auto-switching candidate generation " +
        "to minhash LSH (same exact-Jaccard verification; banding recall audited by " +
        "DedupSpec/OracleCheck). The wide net is an oracle bridge for verify-scale " +
        "corpora, not a production detector -- see simhashPairs for the linear path.")
      sigsRdd.unpersist(blocking = false)
      minhashLshPairs(df, idCol, textCol, k, threshold = threshold)
    } else
      bandedJaccard(sigs, keys, bands, hamming <= maxHamming, differs,
        shingleSets(df, idCol, textCol, k), threshold)
  }

  /** Near-dup **clustering with survivor selection** — what a training
    * pipeline actually executes after pair generation: near-dup pairs form
    * a similarity graph whose connected components are dedup groups; one
    * canonical survivor (min id) is kept per group. Pairs come from any of
    * the pair generators above. The graph is corpus-global (no doc key
    * bounds a component, and near-dup chains have no bounded diameter), so
    * components come from the DataFrame large-star/small-star contraction
    * ([[graft.link.ConnectedComponents.runBigStar]]), O(log² n) rounds.
    * Output: (id, group, keep). Singleton docs keep themselves.
    *
    * The pairs are read once, by the contraction's own cut of the
    * oriented pair set; the loop's cuts register with the caller's
    * [[graft.core.Materialize.Scope]], superseded ones freed as it goes. */
  def dedupClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // only the pair graph iterates — the near-dup graph is a vanishing
    // fraction of the corpus, so the contraction rounds never shuffle the
    // full id set
    val comp = graft.link.ConnectedComponents.starRelation(
      pairs.select(lit("g").as("key"), col("ida").cast("string").as("a"),
        col("idb").cast("string").as("b")))
    // component label = lexicographic min member, so keep == (id == group)
    // — no window shuffle; roots and singletons (no row) keep themselves
    df.select(col(idCol).cast("string").as("id"))
      .join(comp.select(col("v").as("id"), col("component")), Seq("id"), "left")
      .withColumn("group", coalesce(col("component"), col("id")))
      .select(col("id"), col("group"), (col("id") === col("group")).as("keep"))
  }

  /** Embedding-cosine near-dup pairs via multi-table random-hyperplane LSH
    * (deterministic planes from a fixed seed): each vector lands in one
    * cell per table; one side additionally probes Hamming-1 cells; exact
    * cosine verification restricted to co-bucketed candidates. Recall for
    * cosine >= threshold compounds across tables. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.95, tables: Int = 4,
                           bits: Int = 8, dim: Int = 64, seed: Long = 7L): DataFrame =
    lshCosinePairs(df.select(col(idCol).as("id"), col(vecCol).as("v")), Nil,
      threshold, tables, bits, dim, seed)

  /** The LSH candidate join and exact-cosine verify behind
    * [[embeddingCosinePairs]], over `vecs(id, v, keys...)`: candidates
    * must also agree on every `keys` column (the SemDeDup valve passes
    * `cluster`). Output: (ida, idb, keys..., cosine), ida < idb. */
  private def lshCosinePairs(vecs: DataFrame, keys: Seq[String], threshold: Double,
                             tables: Int, bits: Int, dim: Int, seed: Long): DataFrame = {
    val codes = Similarity.codesUdf(tables, bits, dim, seed)
    val coded = vecs.withColumn("codes", codes(col("v")))
    // candidate generation and dedup carry ONLY (keys, cell, id): the
    // distinct shuffle moves id pairs, not 2x full float vectors (the
    // payloads are rejoined once, per side, for exact verification)
    val l = coded.select(keys.map(col) ++ Seq(col("id").as("ida"),
      explode(Similarity.cellsUdf(tables)(col("codes"))).as("cell")): _*)
    val r = coded.select(keys.map(k => col(k).as(k + "2")) ++ Seq(col("id").as("idb"),
      explode(Similarity.probesUdf(tables, bits)(col("codes"))).as("cell")): _*)
    val on = ((l("cell") === r("cell")) +: keys.map(k => col(k) === col(k + "2")) :+
      (col("ida") < col("idb"))).reduce(_ && _)
    l.join(r, on)
      .select(keys.map(col) ++ Seq(col("ida"), col("idb")): _*).distinct()
      .join(vecs.select(col("id").as("ida"), col("v").as("va")), Seq("ida"))
      .join(vecs.select(col("id").as("idb"), col("v").as("vb")), Seq("idb"))
      // threshold on the UNROUNDED cosine (the oracle filters unrounded);
      // rounding only the reported column. Native codegen CosineSim, not
      // a boxed Seq[Float] UDF — same expression the ANN scorers use.
      .withColumn("c", Similarity.cosCol(col("va"), col("vb")))
      .filter(col("c") >= threshold)
      .select(Seq(col("ida"), col("idb")) ++ keys.map(col) :+ round(col("c"), 4).as("cosine"): _*)
  }

  /** Cross-document duplicated-span statistics — the span-level exact-dedup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): slide a k-token window over every
    * document (the dedup family's `[^a-zA-Z0-9]+` lowercase tokenization)
    * and mark a window occurrence duplicated iff its hash occurs at least
    * twice in the WHOLE corpus (within- or cross-document — a full
    * suffix-array finds arbitrary-length repeats; fixed-k windows are the
    * bounded-memory streaming approximation). Documents with fewer than k
    * tokens emit no row (they have no window).
    *
    * 100 TB shape: the text is scanned ONCE — all window hashes come out
    * of one native-expression pass ([[graft.functions.SpanHashes]]), so
    * everything after the scan ships 8-byte longs, never
    * span text. Three partial-agg-friendly hash shuffles: per-(id, window)
    * multiplicities, per-window corpus totals (slim (h, m) rows), and the
    * per-doc rollup of the joined result. A boilerplate span hot in
    * millions of documents skews only the (h)-keyed join, which AQE's
    * skew-join splitting handles — no window-function-over-hot-key stage
    * anywhere. Returns (id, n_windows, n_dup_windows, dup_span_frac). */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 20): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    // window hashing is a native expression (functions/SpanHashesExpr):
    // one compiled pass per document. The first cut built windows with
    // nested HOFs (transform(sequence) x aggregate(slice)) — those run
    // INTERPRETED per element with boxing, and profiling at sf0.1 showed
    // the whole 23 s query wall was that expression, not the shuffles
    val per = df.select(col(idCol).as("id"), col(textCol).as("_t"))
      .select(col("id"),
        explode(graft.functions.SpanHashes(coalesce(col("_t"), lit("")), k)).as("h"))
      .groupBy("id", "h").agg(count(lit(1)).as("m"))
    val cnt = per.groupBy("h").agg(sum("m").as("c"))
    per.join(cnt, Seq("h"))
      .groupBy("id").agg(
        sum("m").as("n_windows"),
        sum(when(col("c") >= 2, col("m")).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_span_frac",
        round(col("n_dup_windows") / col("n_windows"), 4))
  }

  /** Per-doc rebuild for [[dupSpanRemoval]]: re-tokenize (the dedup
    * family's contract, same compiled code the window hashes came from),
    * mark every token covered by a removed window start, emit the kept
    * tokens re-joined with single spaces. A UDF is fine here — it runs
    * ONCE per document on already-aggregated slim inputs, not per window
    * in a hot loop, and it returns a struct (n_tokens, n_removed, text),
    * which built-ins can't assemble without re-tokenizing three times. */
  private val dropSpansUdf = udf((text: String, k: Int, starts: Seq[Int]) => {
    val ws = graft.functions.SpanHash.tokens(if (text == null) "" else text)
    val covered = new Array[Boolean](ws.length)
    if (starts != null) starts.foreach { s =>
      var i = s
      val end = math.min(s + k, ws.length)
      while (i < end) { covered(i) = true; i += 1 }
    }
    val kept = new java.lang.StringBuilder
    var removed = 0L
    var i = 0
    while (i < ws.length) {
      if (covered(i)) removed += 1
      else {
        if (kept.length > 0) kept.append(' ')
        kept.append(ws(i))
      }
      i += 1
    }
    (ws.length.toLong, removed, kept.toString)
  })

  /** Cross-document duplicated-span REMOVAL — the dedup step of Lee et al.
    * 2022 (arXiv:2107.06499) that [[dupSpanStats]] only measures: every
    * k-token window whose hash occurs at least twice corpus-wide keeps
    * exactly ONE occurrence (the globally first by (id, pos)); tokens
    * covered by every other occurrence are dropped and the document is
    * re-emitted without them. Fixed-k windows are the bounded-memory
    * approximation of the paper's suffix-array arbitrary-length repeats;
    * overlapping removed windows merge naturally through the coverage
    * bitmap. Output: one row per input document —
    * (id, n_tokens, n_removed, text_deduped), where `text_deduped` is the
    * kept tokens of the NORMALIZED stream (lowercased alnum words)
    * rejoined with spaces.
    *
    * 100 TB shape: one native-expression scan produces all window hashes
    * ([[graft.functions.SpanHashes]]); everything after ships 8-byte
    * longs + int positions, never span text. The survivor is
    * `min(struct(id, pos))` under a groupBy — partial-aggregation
    * collapses each hot boilerplate hash to one row per map task (no
    * window-function-over-hot-key stage); the only skewable stage is the
    * (h)-keyed rejoin, which AQE skew-split handles, and its output is
    * immediately re-keyed by doc id (bounded per-doc fan-in). The rebuild
    * runs once per document over its own text. */
  def dupSpanRemoval(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 20): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val base = df.select(col(idCol).as("id"),
      coalesce(col(textCol), lit("")).as("_t"))
    val pos = base
      .select(col("id"), posexplode(graft.functions.SpanHashes(col("_t"), k)))
      .toDF("id", "pos", "h")
    // two-level survivor aggregation: min over a struct key can't use a
    // hash aggregate (Spark falls back to sort-based), so the corpus-sized
    // window stream is first collapsed by a HASH aggregate on (h, id) —
    // whose composite key also spreads a hot boilerplate hash across the
    // shuffle by doc — and the struct-min runs only on the collapsed
    // one-row-per-(window, doc) stream. min(struct(id, first-pos-in-doc))
    // is exactly the global min (id, pos): the minimal doc's minimal pos.
    val perDoc = pos.groupBy("h", "id")
      .agg(min("pos").as("fpos"), count(lit(1)).as("m"))
    val surv = perDoc.groupBy("h")
      .agg(sum("m").as("c"),
        min(struct(col("id"), col("fpos").as("pos"))).as("surv"))
      .filter(col("c") >= 2)
      .select(col("h"), col("surv"))
    val removedStarts = pos.join(surv, Seq("h"))
      .filter(!(col("id") === col("surv").getField("id") &&
        col("pos") === col("surv").getField("pos")))
      .groupBy("id").agg(collect_list(col("pos")).as("starts"))
    base.join(removedStarts, Seq("id"), "left")
      .withColumn("r", dropSpansUdf(col("_t"), lit(k), col("starts")))
      .select(col("id"), col("r").getField("_1").as("n_tokens"),
        col("r").getField("_2").as("n_removed"),
        col("r").getField("_3").as("text_deduped"))
  }

  /** Cluster-scoped embedding near-dup pairs — the candidate stage of
    * SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): every vector is assigned to its nearest centroid
    * (argmax cosine, ties toward the lower centroid index), and exact
    * cosine runs ONLY inside each cluster's self-join. Cost is
    * sum(|cluster|^2) instead of n^2: at 100 TB the centroid count is
    * sized so clusters hold ~1e3–1e4 vectors (the paper runs 50k clusters
    * over 1e9 embeddings) and the only corpus-wide work is one broadcast-
    * centroid assignment pass plus one shuffle BY CLUSTER of slim
    * (cluster, id, vec) rows. A pathologically hot cluster (near-identical
    * boilerplate embeddings absorbing most of the corpus) is guarded by
    * the same candidate-volume valve the simhash bridge carries: Σ
    * c·(c−1)/2 over the cluster counts is probed BEFORE the self-join,
    * and past `maxCandidates` candidate generation LOUDLY switches to a
    * random-hyperplane LSH sub-split WITHIN clusters (same exact-cosine
    * verification, candidates restricted to same-cluster pairs).
    * Output: (ida, idb, cluster, cosine) with ida < idb.
    *
    * NOTE: the valve probe makes DataFrame construction EAGER here (the
    * assignment stage-cuts so probe + pair join share one pass; the cut
    * registers with the caller's [[graft.core.Materialize.Scope]]). */
  def semanticClusterPairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: Array[Array[Float]],
                           threshold: Double = 0.95,
                           maxCandidates: Long = 100000000L): DataFrame = {
    val assigned = graft.core.Materialize.stageCut(
      Similarity.assignClusters(
        df.select(col(idCol).as("id"), col(vecCol).as("v")), "v", centroids))
    guardedPairsFromAssigned(assigned, threshold, maxCandidates)
  }

  /** Valve-trip counter — spec observability only (OpsSpec asserts the
    * valve fires on a planted hot-cluster corpus and stays silent on the
    * oracle corpora). */
  @volatile private[graft] var semanticValveTrips: Long = 0L

  /** [[pairsFromAssigned]] behind the hot-cluster candidate-volume valve:
    * probe Σ c·(c−1)/2 over the (materialized) assignment's cluster
    * counts — one map-side-combined aggregation of slim rows — and past
    * `maxCandidates` switch candidate generation to multi-table
    * random-hyperplane LSH cells intersected with cluster equality (the
    * "secondary code" sub-split: a hot cluster's self-join volume drops
    * to its LSH-cell co-occupancy, recall governed by the same
    * multi-table + Hamming-1 probing the embedding near-dup path audits).
    * Verification is the same exact unrounded-cosine filter either way. */
  private def guardedPairsFromAssigned(assigned: DataFrame, threshold: Double,
                                       maxCandidates: Long): DataFrame = {
    val vol = pairVolume(assigned, col("cluster"))
    if (vol <= maxCandidates.toDouble) pairsFromAssigned(assigned, threshold)
    else {
      semanticValveTrips += 1
      System.err.println(f"[graft] WARNING: SemDeDup within-cluster candidate volume " +
        f"~$vol%.3g exceeds maxCandidates=$maxCandidates -- a pathologically hot " +
        "cluster (near-identical embeddings) would make the cluster self-join " +
        "quadratic. Auto-switching candidate generation to a random-hyperplane " +
        "LSH sub-split within clusters (same exact-cosine verification; " +
        "multi-table + Hamming-1 probe recall as in embeddingCosinePairs).")
      lshCosinePairs(assigned, Seq("cluster"), threshold,
        tables = 4, bits = 8, dim = 64, seed = 7L)
    }
  }

  /** Within-cluster exact-cosine pairs over an already-assigned
    * (id, v, cluster) frame — split out so [[semanticDedup]] pays the
    * per-row nearest-centroid pass exactly ONCE for the pair stage, the
    * survivor stage and the reported cluster column. */
  private def pairsFromAssigned(assigned: DataFrame, threshold: Double): DataFrame = {
    val l = assigned.select(col("cluster"), col("id").as("ida"), col("v").as("va"))
    val r = assigned.select(col("cluster").as("cluster2"), col("id").as("idb"), col("v").as("vb"))
    // threshold on the UNROUNDED cosine; rounding only the reported column
    l.join(r, col("cluster") === col("cluster2") && col("ida") < col("idb"))
      .withColumn("c", Similarity.cosCol(col("va"), col("vb")))
      .filter(col("c") >= threshold)
      .select(col("ida"), col("idb"), col("cluster"), round(col("c"), 4).as("cosine"))
  }

  /** Full SemDeDup: [[Similarity.trainCentroids]] (bounded-sample k-means)
    * -> assignment (ONE nearest-centroid pass, materialized so the pair
    * self-join and the output both read it without re-running the UDF) ->
    * within-cluster exact-cosine pairs -> [[dedupClusters]] survivors.
    * Output: (id, cluster, group, keep) — one `keep` per connected
    * near-dup set, same survivor contract as the other dedup ops.
    * Callers that need oracle-reproducible clustering pass explicit
    * `centroids` (e.g. the first-k-ids seed set the q_semantic_dedup
    * entry uses); production passes None and trains. `maxCandidates` is
    * the hot-cluster valve of [[semanticClusterPairs]]. The assignment
    * (slim id+cluster+vec rows) and the component caches register with
    * the caller's [[graft.core.Materialize.Scope]]. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Option[Array[Array[Float]]] = None,
                    threshold: Double = 0.95, nClusters: Int = 16,
                    seed: Long = 7L,
                    maxCandidates: Long = 100000000L): DataFrame = {
    val cents = centroids.getOrElse(
      Similarity.trainCentroids(df.select(col(idCol), col(vecCol)),
        idCol, vecCol, nLists = nClusters, seed = seed))
    val assigned = graft.core.Materialize.stageCut(
      Similarity.assignClusters(
        df.select(col(idCol).as("id"), col(vecCol).as("v")), "v", cents))
    val surv = dedupClusters(
      assigned.select("id"), "id",
      guardedPairsFromAssigned(assigned, threshold, maxCandidates))
    assigned.select(col("id").cast("string").as("id"),
        col("cluster").cast("long").as("cluster"))
      .join(surv, Seq("id"))
      .select("id", "cluster", "group", "keep")
  }
}
