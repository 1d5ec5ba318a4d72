package graft

import graft.functions.TextFns
import graft.ops.{Dedup, Multimodal, Packing, Ranking, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Training-data ops: dedup family recall/precision vs exact computation,
  * ANN recall vs brute force, multimodal plumbing. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vec")).cache()

  test("two empty documents pair at jaccard 1.0 (no 0/0 null drop)") {
    // the DuckDB oracle gives a document with no alphanumeric token one
    // ''-shingle, so any two such documents are a pair at 1.0 — on every
    // path: empty docs band-collide in every band (all-MaxValue minhash
    // signatures, simhash 0), and the ngram prefix join needs the ''
    // shingle to generate the candidate at all
    val d = Seq((1L, ""), (2L, "   "), (3L, "a real document about graphs"), (4L, "!!! ---"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val empties = Set((1L, 2L, 1.0), (1L, 4L, 1.0), (2L, 4L, 1.0))
    assert(rows(Dedup.ngramJaccardPairs(d, "doc_id", "text", k = 3, threshold = 0.8)) === empties,
      "ngram")
    assert(rows(Dedup.minhashLshPairs(d, "doc_id", "text", k = 3, numPerm = 16,
      bands = 4, threshold = 0.8)) === empties, "minhash")
    assert(rows(Dedup.simhashVerifiedPairs(d, "doc_id", "text", k = 3, threshold = 0.8)) ===
      empties, "simhash verified")
  }

  /** (ida, idb) of the band join as a multiset, sorted. */
  private def pairList(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** the candidate relation the banded ops used before ownership: every
    * (band, key) co-occurrence, collapsed by a pair distinct */
  private def distinctBandJoin(rows: org.apache.spark.sql.DataFrame,
                               keys: org.apache.spark.sql.Column) = {
    val ex = rows.select(col("id"), posexplode(keys))
    pairList(ex.toDF("ida", "band", "key").join(ex.toDF("idb", "band", "key"),
      Seq("band", "key")).filter(col("ida") < col("idb")).select("ida", "idb").distinct())
  }

  test("band ownership emits every candidate pair exactly once (simhash and minhash keys)") {
    val rnd = new scala.util.Random(20261018L)
    for (bandBits <- Seq(4, 8, 16)) {
      val bands = 64 / bandBits
      val (_, keys, differs) = Dedup.simhashBanding(bands - 1, bandBits)
      val lane = -1L >>> (64 - bandBits)
      // random signatures (about half negative) plus planted pairs that
      // agree on all bands, on only the last band, and on none
      val base = (0 until 150).map(i => (i.toLong, rnd.nextLong()))
      val s0 = base.head._2
      val flipped = s0 ^ ~(lane << ((bands - 1) * bandBits)) // every lane but the last differs
      val planted = Seq((1000L, s0), (1001L, s0), (1002L, flipped), (1003L, ~s0))
      val sigs = (base ++ planted).toDF("id", "sig")
      assert(sigs.filter(col("sig") < 0).count() > 0, "negative signatures must be covered")
      val owned = pairList(Dedup.bandJoin(sigs, keys, bands, lit(true), differs))
      val expected = distinctBandJoin(sigs, keys)
      assert(owned === expected, s"bandBits=$bandBits: ownership must equal the distinct join")
      assert(owned.distinct.size === owned.size, s"bandBits=$bandBits: a pair emitted twice")
      val ps = owned.toSet
      assert(ps.contains((0L, 1000L)) && ps.contains((1000L, 1001L)), "all-band agreement")
      assert(ps.contains((1000L, 1002L)), "last-band-only agreement")
      assert(!ps.contains((1000L, 1003L)) && !ps.contains((0L, 1003L)), "no agreeing band")
    }
    // minhash band-hash keys: signatures over a 3-value alphabet so slices
    // collide across bands, plus one pair agreeing on the last band only
    val (keys, differs) = Dedup.minhashBanding(numPerm = 16, bands = 4)
    val sigs = ((0 until 120).map(i => (i.toLong, Seq.fill(16)(rnd.nextInt(3).toLong - 1L))) ++
        Seq((500L, Seq.fill(16)(7L)), (501L, Seq.fill(12)(8L) ++ Seq.fill(4)(7L))))
      .toDF("id", "sig")
    val owned = pairList(Dedup.bandJoin(sigs, keys, 4, lit(true), differs))
    assert(owned === distinctBandJoin(sigs, keys))
    assert(owned.distinct.size === owned.size)
    assert(owned.contains((500L, 501L)))
  }

  test("band ownership holds when one bucket holds most rows") {
    val rnd = new scala.util.Random(20261020L)
    val (bands, keys, differs) = Dedup.simhashBanding(15, 4)
    // 400 of 500 signatures share their lowest lane: band 0 has one bucket
    // of 400 rows; the other lanes are random (about half negative)
    val sigs = (0 until 500).map { i =>
      val r = rnd.nextLong()
      (i.toLong, if (i < 400) r & ~0xfL | 0x5L else r)
    }.toDF("id", "sig")
    val owned = pairList(Dedup.bandJoin(sigs, keys, bands, lit(true), differs))
    assert(owned === distinctBandJoin(sigs, keys))
    assert(owned.distinct.size === owned.size)
    assert(owned.size >= 400 * 399 / 2, "every pair of the hot bucket is a candidate")
  }

  test("bucket pair kernel emits exactly the rows of the self-join it replaces") {
    import graft.functions.BucketPairs
    val rnd = new scala.util.Random(7L)
    val (bands, keys, differs) = Dedup.simhashBanding(7, 8)
    // random signatures (about half negative), a hot lane-0 bucket,
    // repeated ids, which the self-join never pairs with themselves, and
    // null sizes, which the condition's size sum never lets pair
    val base = (0 until 300).map(i => (i.toLong, if (i % 3 == 0) rnd.nextLong() & ~0xffL
      else rnd.nextLong(), if (i % 50 == 7) None else Some(rnd.nextInt(50))))
    val rows = (base ++ base.take(5)).toDF("id", "sig", "n")
      .select(posexplode(keys).as(Seq("band", "key")), col("id"), col("sig"), col("n"))
    val cond = col("ida") < col("idb") && bit_count(col("siga").bitwiseXOR(col("sigb"))) <= 30 &&
      (col("banda") <= 0 || differs(0)) && col("na") + col("nb") > 20
    def selfJoin(r: org.apache.spark.sql.DataFrame) = {
      def side(s: String) = r.select(r.columns.map(c => col(c).as(c + s)).toSeq: _*)
      side("a").join(side("b"), col("banda") === col("bandb") && col("keya") === col("keyb"))
        .filter(cond)
    }
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString(","))
    val kernel = BucketPairs.selfJoin(rows, Seq("band", "key"), cond)
    val joined = selfJoin(rows)
    assert(kernel.columns.toSeq === joined.columns.toSeq)
    val expect = rowsOf(joined)
    assert(expect.nonEmpty && expect.length < 300 * 299 / 2 * bands)
    assert(rowsOf(kernel) === expect, "long ids")
    // string ids order differently from their numbers: the kernel must
    // order each pair by the id's own type
    val strs = rows.withColumn("id", format_string("%d", col("id")))
    assert(rowsOf(BucketPairs.selfJoin(strs, Seq("band", "key"), cond)) === rowsOf(selfJoin(strs)),
      "string ids")
  }

  test("minhash LSH finds all very-high-jaccard pairs found exactly") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.9)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, numPerm = 16,
        bands = 4, threshold = 0.9)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dups")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    info(f"minhash-lsh recall at J>=0.9: $recall%.3f (${lsh.size} vs ${exact.size})")
    assert(recall >= 0.9)
    // verification step guarantees precision 1.0 vs exact jaccard
    assert((lsh diff exact).isEmpty)
  }

  test("ngram jaccard finds boilerplate-only pairs; prefix candidates stay linear") {
    // 1100 docs share one boilerplate sentence: 8 of each doc's 10
    // shingles have df >= 1100. Docs 9001/9002 are identical PURE
    // boilerplate and docs 9003/9004 duplicate a unique text; both are true
    // J=1.0 pairs and the exact join finds both. Boilerplate shingles sort
    // last in the rare-first order, so they reach only the prefixes of
    // 9001/9002; the other 1100 docs meet only on their third prefix
    // shingle, where the positional filter drops every one of the
    // C(1100, 2) pairs. A pure-hash order, or no positional filter, makes
    // ~600k candidates here.
    val boiler = "terms of service apply to all users"
    val d = ((1 to 1100).map(i => (i.toLong, s"$boiler unique content piece $i alpha")) ++
      Seq((9001L, boiler), (9002L, boiler),
          (9003L, "completely different duplicated report text here"),
          (9004L, "completely different duplicated report text here")))
      .toDF("doc_id", "text")
    val found = Dedup.ngramJaccardPairs(d, "doc_id", "text", k = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(found === Set((9001L, 9002L, 1.0), (9003L, 9004L, 1.0)))
    val candidates = scoped(Dedup.prefixCandidates(d, "doc_id", "text", 3, 0.8)._1.count())
    assert(candidates === 2L, "the prefix join must emit the two true pairs only")
  }

  test("simhash pairs include the exact near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.95)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0 else (exact intersect sim).size.toDouble / exact.size
    info(f"simhash recall at J>=0.95: $recall%.3f")
    assert(recall >= 0.8)
  }

  test("simhash: token-less documents get sig=0 and pair as trivial duplicates") {
    // pins the semantics the q_simhash_ham oracle mirrors with its
    // LEFT JOIN + coalesce(usig, 0): empty / all-punctuation docs must
    // not vanish from the signature table — they are identical to each
    // other (hamming 0) and the engine reports them as such
    val d = Seq((1L, "alpha beta gamma"), (2L, "!!!"), (3L, ""), (4L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((2L, 3L, 0), (1L, 4L, 0)))
  }

  test("simhash-verified pairs: exact subset of the true pair relation, all >= threshold") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.8)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ver = Dedup.simhashVerifiedPairs(docs, "doc_id", "text", k = 3, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(ver.nonEmpty)
    // exact verification => precision 1.0 vs the true relation
    assert(ver.map(_._1).toSet.subsetOf(exact))
    assert(ver.forall(_._2 >= 0.8))
  }

  test("simhash wide-net valve trips on a hot-bucket corpus and auto-switches to LSH") {
    import spark.implicits._
    // 120 near-identical docs → every 4-bit band buckets them together:
    // candidate volume ~ 16 * C(120,2) ≈ 114k, far past a 1k valve
    val hot = (0 until 120).map(i =>
      (i.toLong, "the same boilerplate sentence repeated across the corpus body " * 5 +
        s"tail$i")).toDF("doc_id", "text")
    val before = Dedup.simhashValveTrips
    val trippedPairs = scoped(Dedup.simhashVerifiedPairs(
      hot, "doc_id", "text", k = 3, threshold = 0.8, maxCandidates = 1000L)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(Dedup.simhashValveTrips === before + 1, "the valve must trip loudly")
    // the LSH fallback keeps the contract: exact-verified pairs >= threshold
    val exact = Dedup.ngramJaccardPairs(hot, "doc_id", "text", k = 3, threshold = 0.8)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trippedPairs.subsetOf(exact), "fallback pairs must stay exact-verified")
    assert(trippedPairs.nonEmpty)
    // the default bound does NOT trip on the fixture corpus (oracle bridge
    // keeps its exact wide-net semantics at verify scale)
    val b2 = Dedup.simhashValveTrips
    scoped(Dedup.simhashVerifiedPairs(docs, "doc_id", "text", k = 3, threshold = 0.8).count())
    assert(Dedup.simhashValveTrips === b2, "default valve must stay silent at verify scale")
  }

  test("lsh ANN top-k recall vs brute force") {
    val queries = emb.filter(col("id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(emb, queries, 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ann).size.toDouble / bf.size
    info(f"ann recall@5: $recall%.3f")
    assert(recall >= 0.6) // multi-probe radius 1 on 8-bit codes
  }

  test("ivf ANN top-k recall vs brute force; self-match excluded") {
    val queries = emb.filter(col("id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nLists = 16, nProbe = 8)
    val pairs = ivf.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (q, i) => q == i })
    assert(ivf.groupBy("qid").count().agg(max("count")).head().getLong(0) <= 5L)
    val recall = (bf intersect pairs).size.toDouble / bf.size
    info(f"ivf recall@5 (nProbe=8/16): $recall%.3f")
    // measured operating point of the default (0.84 at 8/16 on the sf0.01
    // feature-hash distribution; the curve is in the ivfTopK scaladoc)
    assert(recall >= 0.8)
  }

  // The q_minhash_lsh / q_simhash DuckDB oracles assert output == the FULL
  // exact pair relation. For minhash that banding recall is EMPIRICAL
  // (candidate probability ~0.88 at J=0.8 with numPerm=16/bands=4), so the
  // assumption is checked EXPLICITLY here on the driver's own verify corpus
  // (sf0.01) — if a corpus ever drops recall below 1.0 this test fails
  // rather than the oracle silently hash-mismatching. For simhash the
  // Hamming<=15 net over 16x4-bit bands is structurally complete
  // (pigeonhole) and only the Jaccard->Hamming step is empirical (measured
  // max Hamming over true pairs: 8 at sf0.01, 13 at sf0.1 — OracleCheck).
  test("sf0.01 oracle-recall audit: minhash and simhash equal the exact pair set") {
    val d01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").cache()
    val exact = Dedup.ngramJaccardPairs(d01, "doc_id", "text", k = 3, threshold = 0.8)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashLshPairs(d01, "doc_id", "text", k = 3, numPerm = 16,
        bands = 4, threshold = 0.8)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashVerifiedPairs(d01, "doc_id", "text", k = 3, threshold = 0.8)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(mh == exact, s"minhash banding recall < 1.0: missing ${(exact diff mh).take(5)}")
    assert(sh == exact, s"simhash net recall < 1.0: missing ${(exact diff sh).take(5)}")
    d01.unpersist()
  }

  test("dedup clusters: transitive pairs form one group, one survivor each") {
    val corpus = Seq("a", "b", "c", "d", "e").toDF("id")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("ida", "idb") // a~b~c transitively
    val out = Dedup.dedupClusters(corpus, "id", pairs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(out === Set(
      ("a", "a", true), ("b", "a", false), ("c", "a", false),
      ("d", "d", true), ("e", "e", true)))
    // a 40-vertex pair chain: diameter 39, deeper than any fixed round cap
    // of min-label propagation (25), must still form ONE group
    val ids = (0 until 40).map(i => f"c$i%02d")
    val chain = Dedup.dedupClusters(ids.toDF("id"), "id", ids.zip(ids.tail).toDF("ida", "idb"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(chain.length === 40)
    assert(chain.map(_._2).toSet === Set("c00"), "one chain => one group")
    assert(chain.count(_._3) === 1, "exactly one survivor")
  }

  /** (ida, idb, jaccard) over every pair of shingle sets built in plain Scala,
    * filtered and rounded as the ops and the oracles do. */
  private def bruteJaccard(texts: Seq[(Long, String)], k: Int,
                           t: Double): Set[(Long, Long, Double)] = {
    val sets = texts.map { case (id, x) =>
      val h = TextFns.shingleHashes(x, k)
      (id, (if (h.isEmpty) Array(TextFns.fnv1a64("")) else h).toSet)
    }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa intersect sb).size
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= t
    } yield (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  test("ngram jaccard: the prefix join equals brute-force exact Jaccard") {
    def pairs(d: org.apache.spark.sql.DataFrame, k: Int, t: Double) =
      scoped(Dedup.ngramJaccardPairs(d, "doc_id", "text", k = k, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val d01 = spark.read.parquet(sf.replace("sf0.001", "sf0.01") + "/documents.parquet")
    val texts01 = d01.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val want01 = bruteJaccard(texts01, 3, 0.8)
    assert(want01.size === 25)
    assert(pairs(d01, 3, 0.8) === want01, "sf0.01")
    // seeded random word sets (k = 1: the shingle set is the word set):
    // ~100-word docs and mutated copies spread J across each threshold.
    // 9000/9001 are a 55-word subset of a 100-word set, J = 0.55 exactly;
    // the 45 words only 9001 has sort first in its rare-first order, so
    // the first common word sits at 0-based position 45 — the last of the
    // 100 − ⌈0.55·100⌉ + 1 = 46-word prefix. In doubles 0.55 * 100 is
    // 55.00000000000001: that prefix is one word short, and a size or
    // positional bound written as a product in doubles rejects the pair.
    val rnd = new scala.util.Random(20261019L)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(600)}").distinct
    val bases = (0 until 30).map(_ => words(80 + rnd.nextInt(50)))
    val mutated = bases.map(b => b.filter(_ => rnd.nextDouble() > 0.25) ++ words(rnd.nextInt(30)))
    val y = (0 until 100).map(i => s"u$i")
    val planted = Seq((9000L, y.drop(45)), (9001L, y))
    val texts = ((bases ++ mutated).zipWithIndex.map { case (ws, i) => (i.toLong, ws) } ++ planted)
      .map { case (id, ws) => (id, ws.mkString(" ")) }
    val d = texts.toDF("doc_id", "text")
    for (t <- Seq(0.55, 0.7, 0.8)) {
      val want = bruteJaccard(texts, 1, t)
      assert(want.exists(p => p._1 < 9000L), s"t=$t: no random pair reaches the threshold")
      assert(pairs(d, 1, t) === want, s"random sets at t=$t")
    }
    assert(bruteJaccard(texts, 1, 0.55).contains((9000L, 9001L, 0.55)))
  }

  test("exact dedup keeps exactly one survivor per content hash") {
    val d = Dedup.exact(docs, "doc_id", "text")
    val groups = d.groupBy("content_hash")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
    assert(groups.filter(col("keepers") =!= 1).count() === 0)
  }

  test("fingerprint is whitespace-insensitive") {
    val a = Seq(("1", "Hello   World"), ("2", "hello world")).toDF("id", "text")
    val fps = TextAnalysis.fingerprint(a, "id", "text").collect().map(_.getString(1))
    assert(fps(0) === fps(1))
  }

  test("lang id: script detection and stopword profiles") {
    val df = Seq(
      ("en", "the cat sat on the mat and looked to the door of the house"),
      ("de", "der hund und die katze sind nicht mit dem auto gefahren"),
      ("es", "el perro y la casa que es de los vecinos en la calle"),
      ("zh", "这是一个中文文档的示例文本内容"))
      .toDF("expected", "text")
    val out = TextAnalysis.langId(df, "expected", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out.foreach { case (exp, got) => assert(exp === got, s"expected $exp got $got") }
  }

  test("multimodal: payload plumbing + stubbed feature extraction is deterministic") {
    val refs = Seq("img://doc-1/fig-0.png", "img://doc-1/table-0.png")
      .toDF("media_ref").withColumn("media_id", col("media_ref"))
    val media = Multimodal.payloadFromRef(refs, "media_ref")
      .select(col("media_id"), col("kind"), col("payload"), col("width"), col("height"), col("format"))
      .as[Multimodal.MediaRow]
    val feats1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val feats2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats1.map(_.checksum).toSeq === feats2.map(_.checksum).toSeq)
    assert(feats1.forall(_.features.length === 8))
    assert(feats1.map(_.kind).toSet === Set("image", "table_render"))
    // geometry is pinned to the engine's fnv1a64 seed (NOT Spark's
    // Murmur3 hash()) so the DuckDB media oracles can replay it — a
    // silent reseed here would break q_media_features/q_media_frames
    feats1.foreach { f =>
      val a = math.abs(graft.functions.TextFns.fnv1a64(f.media_id))
      assert(f.n_bytes === 64 + (a % 192).toInt)
      assert(f.width === (a % 1920 + 64).toInt)
      assert(f.height === ((a / 7) % 1080 + 64).toInt)
    }
  }

  test("multimodal: resize plan aspect-fits and never upscales") {
    val dims = Seq((1, 1024.0, 768.0), (2, 100.0, 50.0), (3, 4096.0, 16.0),
      (4, 1.0, 3000.0)).toDF("id", "w", "h")
    val out = dims.select(col("id"),
        Multimodal.resizePlan(col("w"), col("h"), 512, 512).as("r"))
      .select(col("id"), col("r.out_w"), col("r.out_h"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1) === (512L, 384L)) // downscale, aspect kept
    assert(out(2) === (100L, 50L))  // already fits: unchanged
    assert(out(3) === (512L, 2L))   // extreme aspect survives
    assert(out(4) === (1L, 512L))   // 1-px floor on the thin side
  }

  test("multimodal: frame sampling strides the payload without shuffle") {
    val refs = Seq("vid://doc-1/clip-0.mp4").toDF("media_ref")
      .withColumn("media_id", col("media_ref"))
    val media = Multimodal.payloadFromRef(refs, "media_ref")
    val nBytes = media.select(length(col("payload"))).head.getInt(0)
    val frames = Multimodal.frameSample(media, everyNth = 3, bytesPerFrame = 32)
      .select("frame_idx", "frame_off", "frame_bytes").collect()
    val expectedIdx = 0L.until(nBytes / 32L).by(3).toSeq
    assert(frames.map(_.getLong(0)).toSeq === expectedIdx)
    assert(frames.forall(r => r.getLong(1) === r.getLong(0) * 32))
    assert(frames.forall(_.getAs[Array[Byte]](2).length === 32))
    // empty payload → zero frames, no error
    val none = Multimodal.frameSample(
      media.withColumn("payload", lit(Array.empty[Byte])), everyNth = 3)
    assert(none.count() === 0)
  }

  test("quality features sane on corpus text") {
    val q = TextAnalysis.quality(docs, "doc_id", "text").collect()
    assert(q.forall(r => r.getAs[Double]("stopword_ratio") >= 0.0 &&
      r.getAs[Double]("stopword_ratio") <= 1.0))
    assert(q.forall(_.getAs[Double]("avg_word_len") > 0))
  }

  test("embedding near-dup pairs are all above threshold and symmetric-free") {
    val pairs = Dedup.embeddingCosinePairs(
      spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding", threshold = 0.95)
      .collect()
    assert(pairs.forall(_.getAs[Double]("cosine") >= 0.95))
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.forall { case (a, b) => a < b })
  }

  test("semantic dedup: cluster-scoped pairs equal brute force restricted to co-clustered vectors") {
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val seeds = corpus.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getAs[Seq[Float]](0).toArray)
    // the operator under test, at a low threshold so real pairs exist
    val got = Dedup.semanticClusterPairs(corpus, "vec_id", "embedding", seeds, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cosine"))).toSet
    // brute force: assign every vector, then all-pairs within each cluster
    val asg = Similarity.assignClusters(corpus, "embedding", seeds)
      .select(col("vec_id"), col("cluster"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Seq[Float]](2).toArray))
    val want = (for {
      (ia, ca, va) <- asg; (ib, cb, vb) <- asg
      if ca == cb && ia < ib
      c = TextFns.cosine(va, vb) if c >= 0.3
    } yield (ia, ib, math.rint(c * 10000) / 10000)).toSet
    assert(want.nonEmpty, "fixture should produce co-clustered pairs at cos>=0.3")
    assert(got === want)
  }

  test("semantic dedup: trained-centroid path groups every planted duplicate with its original") {
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val planted = corpus.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val full = corpus.unionByName(planted)
    // production path: bounded-sample k-means centroids (no seed list)
    val byId = scoped(Dedup.semanticDedup(full, "vec_id", "embedding",
      centroids = None, threshold = 0.95, nClusters = 8).collect())
      .map(r => r.getAs[String]("id") ->
        ((r.getAs[String]("group"), r.getAs[Boolean]("keep")))).toMap
    (0L until 10L).foreach { i =>
      // an identical copy always lands in its original's cluster, so the
      // pair is found regardless of where Lloyd put the centroids
      assert(byId(i.toString)._1 === byId((i + 1000000L).toString)._1,
        s"dup of $i not grouped with original")
    }
    // exactly one survivor per group, and it is the min id
    val groups = byId.groupBy(_._2._1)
    groups.foreach { case (g, members) =>
      val keeps = members.filter(_._2._2).keys.toSeq
      assert(keeps === Seq(members.keys.min), s"group $g survivor wrong")
      assert(g === members.keys.min)
    }
  }

  test("SemDeDup hot-cluster valve trips on a planted hot cluster and still finds the dups") {
    // 150 near-identical vectors + one centroid: everything lands in ONE
    // cluster, so the unguarded self-join volume is C(150,2) ≈ 11k —
    // past a 1k valve. Ten exact duplicate pairs are planted (i, i+1000):
    // identical vectors share every LSH cell in every table, so the
    // secondary sub-split must still surface them.
    val base = (0 until 10).flatMap { i =>
      val v = Array.tabulate(64)(d => (math.sin(i * 64 + d) * 0.01f + 1.0f).toFloat)
      Seq((i.toLong, v.toSeq), (i + 1000L, v.toSeq))
    } ++ (20 until 150).map { i =>
      (i.toLong, Array.tabulate(64)(d => (math.sin(i * 64 + d) * 0.01f + 1.0f).toFloat).toSeq)
    }
    val hot = base.toDF("vec_id", "embedding")
    val seed = Array(Array.tabulate(64)(_ => 1.0f))
    val before = Dedup.semanticValveTrips
    val byId = scoped(Dedup.semanticDedup(hot, "vec_id", "embedding",
      centroids = Some(seed), threshold = 0.999, maxCandidates = 1000L).collect())
      .map(r => r.getAs[String]("id") -> r.getAs[String]("group")).toMap
    assert(Dedup.semanticValveTrips === before + 1, "the valve must trip loudly")
    (0L until 10L).foreach { i =>
      assert(byId(i.toString) === byId((i + 1000L).toString),
        s"planted dup of $i must survive the LSH sub-split")
    }
    // the default bound stays silent on the oracle corpus (q_semantic_dedup
    // keeps its exact cluster self-join semantics at verify scale)
    val b2 = Dedup.semanticValveTrips
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val seeds = corpus.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getAs[Seq[Float]](0).toArray)
    scoped(Dedup.semanticDedup(corpus, "vec_id", "embedding",
      centroids = Some(seeds), threshold = 0.95).count())
    assert(Dedup.semanticValveTrips === b2, "default valve must stay silent at verify scale")
  }

  test("DSIR importance weights match a driver-side replay; target slice scores higher") {
    import java.security.MessageDigest
    val target = docs.filter(col("source") === "src0")
    val got = graft.ops.Importance.importanceWeights(docs, "doc_id", "text", target, "text",
        buckets = 256)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    // brute-force replay with plain Scala (same tokenization, same md5
    // bucket hash, same Laplace(+1) models)
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").split(" ").filter(_.nonEmpty).toSeq
    def bucket(tok: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(tok.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 256
    }
    val rows = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val rawB = rows.flatMap(r => toks(r._2)).map(bucket)
    val tgtB = rows.filter(_._3 == "src0").flatMap(r => toks(r._2)).map(bucket)
    val rawCnt = rawB.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val tgtCnt = tgtB.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    def lr(b: Long): Double =
      math.log(tgtCnt.getOrElse(b, 0L) + 1.0) - math.log(tgtB.length + 256.0) -
        (math.log(rawCnt.getOrElse(b, 0L) + 1.0) - math.log(rawB.length + 256.0))
    rows.foreach { case (id, text, src) =>
      val bs = toks(text).map(bucket)
      val (n, w) = got(id)
      assert(n === bs.length.toLong, s"n_tokens mismatch for doc $id")
      assert(math.abs(w - bs.map(lr).sum) < 1e-3, s"weight mismatch for doc $id")
    }
    // directional: the target slice must out-score the rest on average
    val bySrc = rows.map { case (id, _, src) => src -> got(id)._2 }
    val tgtW = bySrc.collect { case ("src0", w) => w }
    val restW = bySrc.collect { case (s, w) if s != "src0" => w }
    assert(tgtW.sum / tgtW.length > restW.sum / restW.length,
      "target-sliced docs should carry higher importance under their own target model")
  }

  test("DSIR gumbel top-k sample: deterministic, size-k, score-ordered") {
    val target = docs.filter(col("source") === "src0")
    def run() = graft.ops.Importance.importanceSample(docs, "doc_id", "text",
        target, "text", k = 50, buckets = 256)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val a = run(); val b = run()
    assert(a.toSeq === b.toSeq, "selection must be deterministic")
    assert(a.length === 50)
    assert(a.map(_._2).toSeq === a.map(_._2).sortBy(-_).toSeq, "scores descend")
  }

  test("hashSplit: deterministic, exhaustive, stable under corpus growth") {
    val full = TextAnalysis.hashSplit(docs, "doc_id")
    val rows = full.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("split"))).toMap
    assert(rows.size === docs.count())
    // fractions land near the 80/10/10 request (hash-uniform, small-n slack)
    val n = rows.size.toDouble
    val frac = rows.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.1, s"train frac ${frac("train")}")
    assert(frac.getOrElse("val", 0.0) > 0.0 && frac.getOrElse("test", 0.0) > 0.0)
    // growth stability: assignment over HALF the corpus is the restriction
    // of the full assignment — adding documents reassigns nothing
    val half = TextAnalysis.hashSplit(docs.filter(col("doc_id") % 2 === 0), "doc_id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("split")))
    assert(half.forall { case (id, s) => rows(id) == s })
    // a different salt is a different (but still deterministic) assignment
    val salted = TextAnalysis.hashSplit(docs, "doc_id", salt = "split-v2")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("split")))
    assert(salted.exists { case (id, s) => rows(id) != s })
  }

  test("contamination: finds exactly the docs sharing a benchmark 3-gram") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "the quick brown fox jumps"),          // contains bench 3-grams
      (3L, "nothing in common here at all"),
      (4L, "quick brown fox story continues")     // shares "quick brown fox"
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox runs")).toDF("bid", "text")
    val got = TextAnalysis.contamination(corpus, "doc_id", "text", bench, "text")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_hits"))).toMap
    // bench shingles: {the quick brown, quick brown fox, brown fox runs}
    // doc 2 contains "the quick brown" + "quick brown fox"; doc 4 one
    assert(got === Map(2L -> 2L, 4L -> 1L))
  }

  test("dupSpanStats: cross-doc and within-doc duplicated windows, short docs drop") {
    val d = Seq(
      (1L, "A, b c! d e"),          // windows(k=3): "a b c","b c d","c d e" — "a b c" shared with doc 2
      (2L, "a b c x y"),            // "a b c","b c x","c x y"
      (3L, "p q r p q r p q"),      // 6 windows, every one occurs twice WITHIN the doc
      (4L, "s t")                   // < 3 tokens: no row
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanStats(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L).getAs[Long]("n_windows") === 3L)
    assert(got(1L).getAs[Long]("n_dup_windows") === 1L)
    assert(got(1L).getAs[Double]("dup_span_frac") === 0.3333)
    assert(got(2L).getAs[Long]("n_dup_windows") === 1L)
    assert(got(3L).getAs[Long]("n_windows") === 6L)
    assert(got(3L).getAs[Long]("n_dup_windows") === 6L)
    assert(got(3L).getAs[Double]("dup_span_frac") === 1.0)
    // brute-force cross-check on the real fixture corpus at the entry's k
    val k = 20
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    def windows(t: String): Seq[String] =
      t.toLowerCase.split("[^a-zA-Z0-9]+").filter(_.nonEmpty)
        .sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
    val all = corpus.flatMap { case (_, t) => windows(t) }
      .groupBy(identity).map { case (w, o) => w -> o.length }
    val expected = corpus.flatMap { case (id, t) =>
      val ws = windows(t)
      if (ws.isEmpty) None
      else Some(id -> ((ws.size.toLong, ws.count(w => all(w) >= 2).toLong)))
    }.toMap
    val fixture = Dedup.dupSpanStats(docs, "doc_id", "text", k).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows")))).toMap
    assert(fixture === expected)
  }

  test("dupSpanRemoval: keeps the first occurrence, drops the rest, covers every doc") {
    val d = Seq(
      (1L, "a b c d e f"),     // windows(k=3) incl "a b c" — FIRST occurrence, kept
      (2L, "x a b c y"),       // "a b c" again — its 3 tokens removed
      (3L, "s t")              // < 3 tokens: no windows, emitted unchanged
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanRemoval(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_deduped")))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) === ((6L, 0L, "a b c d e f")))
    assert(got(2L) === ((5L, 3L, "x y")))
    assert(got(3L) === ((2L, 0L, "s t")))

    // brute-force cross-check on the fixture corpus at the entry's k: an
    // independent sequential implementation of the same semantics (first
    // occurrence by (id, pos) survives; coverage union removes the rest)
    val k = 20
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
      .sortBy(_._1)
    val toks = corpus.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-zA-Z0-9]+").filter(_.nonEmpty) }
    val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    for ((_, ws) <- toks; s <- 0 to ws.length - k)
      counts(ws.slice(s, s + k).mkString(" ")) += 1
    val seen = scala.collection.mutable.Set[String]()
    val expected = toks.map { case (id, ws) =>
      val covered = Array.fill(ws.length)(false)
      for (s <- 0 to ws.length - k) {
        val w = ws.slice(s, s + k).mkString(" ")
        if (counts(w) >= 2 && !seen.add(w))
          (s until math.min(s + k, ws.length)).foreach(covered(_) = true)
      }
      val kept = ws.zip(covered).collect { case (t, false) => t }
      id -> ((ws.length.toLong, covered.count(identity).toLong, kept.mkString(" ")))
    }.toMap
    val fixture = Dedup.dupSpanRemoval(docs, "doc_id", "text", k).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_deduped")))).toMap
    assert(fixture === expected)
  }

  test("bm25: matches a driver-side reference computation; zero-hit docs drop") {
    val terms = Seq("spark", "query", "join")
    val k1 = 1.2; val b = 0.75
    def refBm25(corpus: Seq[(Long, String)]): Map[Long, Double] = {
      val toks = corpus.map { case (id, t) =>
        id -> t.toLowerCase.split("[^a-zA-Z0-9]+").filter(_.nonEmpty).toSeq
      }.toMap
      val n = corpus.size.toDouble
      val avgdl = toks.values.map(_.size.toLong).sum.toDouble / corpus.size
      val dfs = terms.map(t => t -> toks.values.count(_.contains(t)).toDouble).toMap
      corpus.flatMap { case (id, _) =>
        val dl = toks(id).size.toDouble
        val score = terms.map { t =>
          val tf = toks(id).count(_ == t).toDouble
          val idf = math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0)
          val norm = (1.0 - b) + dl * b / avgdl
          idf * (tf * (k1 + 1.0)) / (tf + norm * k1)
        }.reduce(_ + _)
        if (terms.exists(toks(id).contains)) Some(id -> score) else None
      }.toMap
    }
    val hand = Seq(
      (1L, "Spark query, spark JOIN!"),
      (2L, "query of the realm"),
      (3L, "nothing relevant here"),
      (4L, ""))
    val got = Ranking.bm25(hand.toDF("doc_id", "text"), "doc_id", "text", terms)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("bm25")).toMap
    val exp = refBm25(hand)
    assert(got.keySet === exp.keySet)
    assert(got.keySet === Set(1L, 2L))
    // doc 1 hits all three terms, twice for spark — must outrank doc 2
    assert(got(1L) > got(2L))
    exp.foreach { case (id, s) => assert(math.abs(got(id) - s) <= 1e-4 + 1e-9) }
    // cross-check the whole fixture corpus against the same reference
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toSeq
    val gotFx = Ranking.bm25(docs, "doc_id", "text", terms)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("bm25")).toMap
    val expFx = refBm25(corpus)
    assert(gotFx.keySet === expFx.keySet)
    expFx.foreach { case (id, s) => assert(math.abs(gotFx(id) - s) <= 1e-4 + 1e-9) }
  }

  test("clean text: NFC-composes accents, strips control/zero-width chars, keeps structure") {
    val d = Seq(
      (0L, "cafe\u0301 con\u200Btrol"),             // decomposed accent + ZWSP
      (1L, "a\u0001b\ttab\nline\rcr"),              // C0 stripped, \t \n \r kept
      (2L, "\uFEFFbom del\u007F"),                  // BOM + DEL stripped
      (3L, "already clean"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cleanText(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(got(0L) === (("caf\u00E9 control", true)), "NFC composes e+combining-acute")
    assert(got(1L) === (("ab\ttab\nline\rcr", true)))
    assert(got(2L) === (("bom del", true)))
    assert(got(3L) === (("already clean", false)))
    assert(got(4L) === (("", false)), "null text cleans to empty, unchanged")
    // SQL surface agrees with the Column API
    val spark2 = spark; import spark2.implicits._
    graft.functions.GraftFunctions.register(spark)
    d.createOrReplaceTempView("ct_docs")
    val viaSql = spark.sql(
      "SELECT nfc_normalize(text) FROM ct_docs WHERE doc_id = 0").head().getString(0)
    assert(viaSql === "caf\u00E9 con\u200Btrol")
  }

  test("url scan + domain stats + blocklist filter: hosts extracted, deduped, filtered") {
    val d = Seq(
      (0L, "see https://a.example/x and http://b.example/y?q=1 plus https://a.example/z"),
      (1L, "no urls at all"),
      (2L, "quoted \"https://c.example/q\" and <https://d.example:8080/r> end"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val scan = TextAnalysis.urlScan(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(scan(0L) === ((3L, 2L, "a.example")), "dup host deduped, min host first")
    assert(scan(1L) === ((0L, 0L, "")))
    assert(scan(2L) === ((2L, 2L, "c.example")), "quotes/angles terminate; port stays on host")
    assert(scan(3L) === ((0L, 0L, "")), "null text is zero URLs, not a crash")
    val hosts = TextAnalysis.urlHosts(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(hosts === Set((0L, "a.example"), (0L, "b.example"),
      (2L, "c.example"), (2L, "d.example:8080")))

    val src = Seq((0L, "https://keep.example/a"), (1L, "https://bad.example/b"),
      (2L, "https://keep.example/c"), (3L, "not a url"))
      .toDF("doc_id", "src_url")
    val stats = TextAnalysis.domainStats(src, "src_url")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(stats("keep.example") === ((2L, 0.5)))
    assert(stats("bad.example") === ((1L, 0.25)))
    assert(stats("") === ((1L, 0.25)), "malformed source is a visible bucket, not dropped")
    val kept = TextAnalysis.domainFilter(src, "src_url", Seq("bad.example"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L, 3L), "malformed-source rows are kept and flagged, not vanished")
  }

  test("gopher filter: each rule trips on its designed degenerate doc") {
    val good = ("the data and table are good to scan for insight with care " * 5).trim
    val d = Seq(
      (0L, good),                                          // keep
      (1L, "tiny doc here"),                               // word count < 50
      (2L, ("the of and to in is on for with a " * 6).trim),   // awl 2.4 < 3
      (3L, ("data point # value ... " * 15).trim),         // symbols 0.4 >= 0.1
      (4L, ("12345 67890 24680 13579 99999 " * 12).trim),  // alpha 0 < 0.8
      (5L, null.asInstanceOf[String])                      // empty: everything 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(got(0L).getAs[Boolean]("keep"))
    assert(got(0L).getAs[Long]("n_words") === 60L)
    assert(got(0L).getAs[Long]("n_stop_hits") === 5L)
    assert(!got(1L).getAs[Boolean]("keep"))
    assert(got(1L).getAs[Long]("n_words") === 3L)
    assert(!got(2L).getAs[Boolean]("keep"))
    assert(got(2L).getAs[Double]("avg_word_len") === 2.4)
    assert(!got(3L).getAs[Boolean]("keep"))
    assert(got(3L).getAs[Double]("symbol_ratio") === 0.4)
    assert(!got(4L).getAs[Boolean]("keep"))
    assert(got(4L).getAs[Double]("alpha_frac") === 0.0)
    assert(!got(5L).getAs[Boolean]("keep"))
    assert(got(5L).getAs[Long]("n_words") === 0L)
    assert(got(5L).getAs[Double]("avg_word_len") === 0.0)
  }

  test("bigram perplexity: matches a driver-side reference LM on the fixture corpus") {
    import graft.ops.LangModel
    val rows = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""), r.getString(2)))
    def toks(t: String): Array[String] =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").split(" ").filter(_.nonEmpty)
    def prs(t: String): Array[(String, String)] = {
      val ws = "<s>" +: toks(t)
      ws.zip(ws.drop(1))
    }
    val train = rows.filter(_._3 == "src0")
    assert(train.nonEmpty, "fixture must contain the src0 train slice")
    val bc = train.flatMap(r => prs(r._2)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cc = train.flatMap(r => prs(r._2).map(_._1)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val vocab = train.flatMap(r => toks(r._2)).toSet
    val vPlus1 = (vocab.size + 1).toDouble
    val exp = rows.map { case (id, t, _) =>
      val mapped = prs(t).map { case (w1, w2) =>
        (if (w1 == "<s>" || vocab(w1)) w1 else "<unk>",
          if (vocab(w2)) w2 else "<unk>")
      }
      val nOov = prs(t).count(p => !vocab(p._2)).toLong
      val lp = mapped.map { case p =>
        math.log(bc.getOrElse(p, 0L) + 1.0) - math.log(cc.getOrElse(p._1, 0L).toDouble + vPlus1)
      }.sum
      val n = mapped.length.toLong
      id -> ((n, nOov, if (n == 0) 0.0 else lp / n))
    }.toMap
    val docsDf = docs.select("doc_id", "text", "source")
    val got = LangModel.bigramPerplexity(docsDf, "doc_id", "text",
        docsDf.filter(col("source") === "src0"), "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("avg_logprob"), r.getAs[Double]("ppl")))).toMap
    assert(got.keySet === exp.keySet)
    exp.foreach { case (id, (n, nOov, avg)) =>
      val (gn, go, ga, gp) = got(id)
      assert(gn === n, s"n_tokens for doc $id")
      assert(go === nOov, s"n_oov for doc $id")
      assert(math.abs(ga - avg) <= 1e-4 + 1e-9, s"avg_logprob for doc $id")
      val eppl = if (n == 0) 0.0 else math.exp(-avg)
      assert(math.abs(gp - eppl) <= math.abs(eppl) * 1e-6 + 1e-4, s"ppl for doc $id")
    }
    // in-vocab train docs must score better (less perplex) than OOV-heavy ones
    val trainIds = train.map(_._1).toSet
    val trainMed = got.filter(kv => trainIds(kv._1)).values.map(_._4).toSeq.sorted
    val restMed = got.filterNot(kv => trainIds(kv._1) || got(kv._1)._1 == 0L).values.map(_._4).toSeq.sorted
    assert(trainMed(trainMed.size / 2) < restMed(restMed.size / 2))
  }

  test("bigram perplexity: empty and all-OOV docs behave at the boundary") {
    val tr = Seq((100L, "the graph engine builds the graph", "src0")).toDF("doc_id", "text", "source")
    val d = Seq(
      (0L, "the graph engine builds the graph"), // pure in-vocab
      (1L, "zzz qqq www"),                       // every token OOV
      (2L, null.asInstanceOf[String])            // empty
    ).toDF("doc_id", "text")
    val got = graft.ops.LangModel.bigramPerplexity(d, "doc_id", "text", tr, "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(got(0L).getAs[Long]("n_oov") === 0L)
    assert(got(1L).getAs[Long]("n_oov") === 3L)
    assert(got(1L).getAs[Long]("n_tokens") === 3L)
    assert(got(2L).getAs[Long]("n_tokens") === 0L)
    assert(got(2L).getAs[Double]("ppl") === 0.0)
    assert(got(0L).getAs[Double]("ppl") < got(1L).getAs[Double]("ppl"))
  }

  test("tfidf top terms: matches a driver-side reference on the fixture corpus") {
    val k = 3
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toSeq
    val toks = corpus.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-zA-Z0-9]+").filter(_.nonEmpty).toSeq
    }.toMap
    val n = corpus.size.toDouble
    val dfs = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, o) => t -> o.size.toDouble }
    val expected = toks.flatMap { case (id, ws) =>
      val scored = ws.groupBy(identity).toSeq.map { case (t, o) =>
        (t, o.size.toLong, o.size.toDouble * math.log((n + 1.0) / (dfs(t) + 1.0)))
      }
      scored.sortBy { case (t, _, s) => (-s, t) }.take(k).zipWithIndex
        .map { case ((t, tf, s), i) => (id, (i + 1).toLong) -> ((t, tf, s)) }
    }
    val got = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("rnk")) ->
        ((r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Double]("tfidf")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (key, (t, tf, s)) =>
      val (gt, gtf, gs) = got(key)
      assert(gt === t, key)
      assert(gtf === tf, key)
      assert(math.abs(gs - s) <= 1e-4 + 1e-9, key)
    }
  }

  test("repetition: bigram counts, top gram, dup fraction match hand computation") {
    val d = Seq(
      (1L, "a b a b a"),        // bigrams: a b, b a, a b, b a — top "b a" (tie 2/2, lexicographically greatest), dup 2/4
      (2L, "x y z"),            // bigrams: x y, y z — all distinct
      (3L, "solo"),             // < 2 words: no row
      (4L, "  w   w  w ")       // robust to multi-space: w w, w w
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(got.keySet === Set(1L, 2L, 4L))
    assert(got(1L).getAs[Long]("n_grams") === 4L)
    assert(got(1L).getAs[String]("top_gram") === "b a")
    assert(got(1L).getAs[Long]("top_gram_count") === 2L)
    assert(got(1L).getAs[Double]("top_gram_frac") === 0.5)
    assert(got(1L).getAs[Double]("dup_gram_frac") === 0.5)
    assert(got(2L).getAs[Double]("dup_gram_frac") === 0.0)
    assert(got(4L).getAs[Long]("n_grams") === 2L)
    assert(got(4L).getAs[String]("top_gram") === "w w")
    assert(got(4L).getAs[Double]("dup_gram_frac") === 0.5)
    // brute-force cross-check on the real fixture corpus
    val fixture = TextAnalysis.repetition(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("n_grams"), r.getAs[Long]("top_gram_count"))).toMap
    val brute = docs.select("doc_id", "text").collect().map { r =>
      val ws = r.getAs[String]("text").toLowerCase.split("\\s+").filter(_.nonEmpty)
      val gs = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      r.getAs[Long]("doc_id") -> (gs.size.toLong,
        if (gs.isEmpty) 0L else gs.groupBy(identity).values.map(_.size).max.toLong)
    }.filter(_._2._1 > 0).toMap
    assert(fixture === brute)
  }

  test("piiScan: counts planted email/phone/ipv4 literals, zero elsewhere") {
    val d = Seq(
      (1L, "reach me at jane.doe+x@sub.example.org or 10.1.2.3 tel 555-123-4567"),
      (2L, "no pii in this document at all"),
      (3L, "two ips 192.168.0.1 and 8.8.8.8 one mail a@b.co")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScan(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"), r.getAs[Long]("n_ipv4"), r.getAs[Long]("n_pii"))).toMap
    assert(got(1L) === ((1L, 1L, 1L, 3L)))
    assert(got(2L) === ((0L, 0L, 0L, 0L)))
    assert(got(3L) === ((1L, 0L, 2L, 3L)))
  }

  test("lineDedup: strips corpus-hot lines, keeps unique body in order") {
    // header appears in all 4 docs (df 4 > maxDf 2) → dropped; the shared
    // footer in 3 docs (df 3 > 2) → dropped; bodies unique → kept; doc 4's
    // second body line survives in position order
    val d = Seq(
      (1L, "Shared Header\nbody one\ncommon footer"),
      (2L, "shared  header\nbody two\ncommon footer"), // normalization: case+spaces
      (3L, "SHARED HEADER\nbody three\ncommon footer"),
      (4L, "shared header\nbody four a\nbody four b")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lineDedup(d, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toMap
    assert(got(1L) === ((3L, 1L, "body one")))
    assert(got(2L) === ((3L, 1L, "body two")))
    assert(got(3L) === ((3L, 1L, "body three")))
    assert(got(4L) === ((3L, 2L, "body four a\nbody four b")))
    // all-boilerplate document keeps an empty clean_text, not a null
    val all = Seq((1L, "x\ny"), (2L, "x\ny"), (3L, "x\ny")).toDF("doc_id", "text")
    val g2 = TextAnalysis.lineDedup(all, "doc_id", "text", maxDf = 2)
      .collect().map(r => (r.getAs[Long]("n_kept"), r.getAs[String]("clean_text")))
    assert(g2.forall(_ === ((0L, ""))))
  }

  test("pack: matches global-window prefix sum, deterministic across partitioning") {
    val tok = TextAnalysis.tokenCount(docs, "doc_id", "text")
    val budget = 512L
    val got = Packing.pack(tok, "id", "n_tokens", budget, numPartitions = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    // naive single-window reference (the plan shape pack exists to avoid)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("id").rowsBetween(Long.MinValue, -1)
    val ref = tok.select(col("id"), col("n_tokens"),
        coalesce(sum("n_tokens").over(w), lit(0L)).as("tok_offset"))
      .withColumn("bin", floor(col("tok_offset") / budget).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(got === ref)
    // identical output whatever the partition count (incl. a single one)
    for (np <- Seq(1, 3, 32)) {
      val alt = Packing.pack(tok, "id", "n_tokens", budget, numPartitions = np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      assert(alt === got, s"pack output changed at numPartitions=$np")
    }
    // bins fill to the budget: every bin except the last starts within it
    val binStarts = got.groupBy(_._4).map { case (b, rs) => b -> rs.map(_._3).min }
    binStarts.foreach { case (b, off) => assert(off / budget === b) }
  }

  test("stratifiedSample: deterministic, per-stratum rates honored, stable under growth") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    val s1 = TextAnalysis.stratifiedSample(docs, "doc_id", "source", rates)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("stratum"))).toSet
    // rate 0.0 strata vanish; rate 1.0 keeps everything in the stratum
    assert(!s1.exists(_._2 == "src2"))
    val src0Total = docs.filter(col("source") === "src0").count()
    assert(s1.count(_._2 == "src0") === src0Total)
    // deterministic: same input, same sample
    val s2 = TextAnalysis.stratifiedSample(docs, "doc_id", "source", rates)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("stratum"))).toSet
    assert(s1 === s2)
    // growth-stable: sampling a subset never changes membership of its rows
    val sub = TextAnalysis.stratifiedSample(docs.filter(col("doc_id") < 25),
        "doc_id", "source", rates)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("stratum"))).toSet
    assert(sub === s1.filter(_._1 < 25))
  }

  test("histogram percentiles: closed-form values and parity with built-in percentile") {
    import graft.ops.Profile
    // n=4 values 1..4: p50 at h=1.5 -> 2.5; p95 at h=2.85 -> 3.85;
    // NULLs are ignored like the built-in and quantile_cont
    val d = Seq(("a", Option(1)), ("a", Option(2)), ("a", Option(3)),
        ("a", Option(4)), ("a", None: Option[Int]), ("b", Option(7)))
      .toDF("src", "len")
    val got = Profile.percentiles(d, "src", "len")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") === ((4L, 2.5, 2.5, 3.85)))
    assert(got("b") === ((1L, 7.0, 7.0, 7.0)))
    // and byte-parity with Spark's buffering built-in on the real fixture
    val mine = Profile.percentiles(docs, "source", "n_chars")
      .select("stratum", "p50", "p95")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val ref = docs.groupBy("source")
      .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.95)"), 4).as("p95"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(mine === ref)
  }

  test("percentiles: an all-NULL stratum surfaces with n_rows=0 and NULL stats") {
    import graft.ops.Profile
    val d = Seq(("a", Option(1)), ("a", Option(3)),
        ("b", None: Option[Int]), ("b", None: Option[Int]))
      .toDF("src", "len")
    val rows = Profile.percentiles(d, "src", "len")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("a", "b"), "the degenerate stratum must not vanish")
    assert(rows("a").getLong(1) === 2L)
    val b = rows("b")
    assert(b.getLong(1) === 0L)
    assert(b.isNullAt(2) && b.isNullAt(3) && b.isNullAt(4),
      "mean and percentiles of an all-NULL stratum are NULL, not fabricated")
  }

  test("percentiles: a NULL stratum KEY keeps its computed stats (null-safe join)") {
    import graft.ops.Profile
    // a NULL key is a legitimate group; the strata-universe left join
    // must match it null-safely instead of degrading it to n_rows=0
    val d = Seq((Option("a"), Option(2)), (None: Option[String], Option(10)),
        (None: Option[String], Option(20)))
      .toDF("src", "len")
    val rows = Profile.percentiles(d, "src", "len", Seq(0.5))
      .collect().map(r => Option(r.getString(0)) -> r).toMap
    assert(rows.keySet === Set(Some("a"), None))
    val n = rows(None)
    assert(n.getLong(1) === 2L, "NULL stratum keeps its row count")
    assert(n.getDouble(2) === 15.0, "NULL stratum keeps its mean")
    assert(n.getDouble(3) === 15.0, "NULL stratum keeps its median")
  }

  test("curation funnel: monotone retention, contiguous packing, clean teardown") {
    import graft.ops.Curation
    docs.count() // materialize the fixture's own cache before the snapshot
    val preCaches = cachedRdds
    val (st, rows) = scoped {
      val (packed, stats) = Curation.curate(docs, "doc_id", "text")
      (stats.collect().map(r => r.getString(0) -> r.getLong(1)),
        packed.orderBy("id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    }
    val order = Seq("input", "lang_kept", "quality_kept", "exact_kept",
      "neardup_kept", "train_split", "packed")
    assert(st.map(_._1).toSeq === order)
    val byName = st.toMap
    // every gate only removes documents; packing preserves the train set
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(byName(a) >= byName(b), s"$a -> $b grew")
    }
    assert(byName("train_split") === byName("packed"))
    assert(byName("packed") > 0)
    // offsets are the exclusive prefix sum in id order: contiguous, gapless
    rows.foldLeft(0L) { case (expectOff, (_, n, off, bin)) =>
      assert(off === expectOff)
      assert(bin === off / 2048)
      off + n
    }
    val leaked = cachedRdds -- preCaches
    assert(leaked.isEmpty,
      s"funnel teardown must release every cache it pinned, leaked: $leaked")
  }

  test("every caching op frees its caches when its scope closes; lineage recomputes") {
    import graft.ops.{Classifier, Curation, LangModel}
    import graft.query.Centrality
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val seeds = vecs.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getAs[Seq[Float]](0).toArray)
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text")),
      "simhashVerifiedPairs" -> (() => Dedup.simhashVerifiedPairs(docs, "doc_id", "text")),
      "dedupClusters" -> (() => Dedup.dedupClusters(docs, "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text"))),
      "semanticDedup" -> (() => Dedup.semanticDedup(vecs, "vec_id", "embedding", Some(seeds))),
      "curate" -> (() => Curation.curate(docs, "doc_id", "text")._1),
      "naiveBayes" -> (() => Classifier.naiveBayes(docs, "doc_id", "text",
        docs, "source", "text")),
      "pack" -> (() => Packing.pack(docs.select(col("doc_id"), length(col("text")).as("n")),
        "doc_id", "n", budget = 2048L)),
      "bigramPerplexity" -> (() => LangModel.bigramPerplexity(docs, "doc_id", "text",
        docs, "text")),
      "pageRank" -> (() => Centrality.pageRank(
        Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("frm", "to"))))
    def sortedRows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
    docs.count() // materialize the fixture's own cache before the snapshots
    ops.foreach { case (name, op) =>
      val before = cachedRdds
      val scope = new graft.core.Materialize.Scope
      val (out, rows, pinned) =
        try scope.within {
          val out = op()
          val rows = sortedRows(out)
          (out, rows, cachedRdds -- before)
        } finally scope.close()
      assert(rows.nonEmpty, s"$name: empty result proves nothing")
      assert(pinned.nonEmpty, s"$name: no cache registered with the scope")
      assert((cachedRdds -- before).isEmpty, s"$name leaked ${cachedRdds -- before}")
      assert(sortedRows(out) === rows, s"$name: rows differ after close")
    }
  }

  test("char entropy: closed-form values, empty docs, uniform vs degenerate") {
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"), (4L, ""), (5L, null))
      .toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_chars"), r.getAs[Long]("distinct_chars"),
          r.getAs[Double]("entropy")))).toMap
    assert(out(1L) === ((4L, 1L, 0.0)))     // degenerate: one symbol
    assert(out(2L) === ((4L, 2L, 1.0)))     // two symbols, uniform
    assert(out(3L) === ((4L, 4L, 2.0)))     // four symbols, uniform
    assert(out(4L) === ((0L, 0L, 0.0)))
    assert(out(5L) === ((0L, 0L, 0.0)))
  }

  test("naive-bayes classifier recovers the source of held-out documents") {
    import graft.ops.Classifier
    // two sources with disjoint dominant vocabularies; train on half,
    // classify everything — held-out docs must be routed to their source
    val rows = (0 until 40).map { i =>
      val (src, text) =
        if (i % 2 == 0) ("news", s"election parliament minister vote policy debate $i")
        else ("code", s"function compile scala spark dataset catalyst $i")
      (i.toLong, text, src)
    }
    val d = rows.toDF("doc_id", "text", "source")
    val out = Classifier.naiveBayes(d, "doc_id", "text",
        d.filter(col("doc_id") < 20), "source", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("pred")).toMap
    assert(out.size === 40)
    rows.foreach { case (id, _, src) => assert(out(id) === src, s"doc $id") }
  }

  test("naive-bayes: token-less documents get the max-prior class, ties lexicographic") {
    import graft.ops.Classifier
    val train = Seq(
      (0L, "alpha beta", "a"), (1L, "alpha gamma", "a"), (2L, "alpha", "a"),
      (3L, "delta", "b")).toDF("doc_id", "text", "source")
    val score = Seq((10L, ""), (11L, "   ")).toDF("doc_id", "text")
    val out = Classifier.naiveBayes(score, "doc_id", "text", train, "source", "text")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("pred"),
        r.getAs[Long]("n_tokens"))).toSet
    // prior(a)=3/4 > prior(b)=1/4; empty docs carry zero likelihood mass
    assert(out === Set((10L, "a", 0L), (11L, "a", 0L)))
    // equal priors -> lexicographically smaller class wins the tie
    val train2 = Seq((0L, "alpha", "b"), (1L, "beta", "a")).toDF("doc_id", "text", "source")
    val out2 = Classifier.naiveBayes(score, "doc_id", "text", train2, "source", "text")
      .collect().map(r => r.getAs[String]("pred")).toSet
    assert(out2 === Set("a"))
    // a class with ZERO training tokens keeps its prior in every
    // candidate set (regression: an inner ctot join deleted it outright)
    val train3 = Seq((0L, "", "a"), (1L, "xray", "b")).toDF("doc_id", "text", "source")
    val out3 = Classifier.naiveBayes(score, "doc_id", "text", train3, "source", "text")
      .collect().map(r => r.getAs[String]("pred")).toSet
    assert(out3 === Set("a"))
  }

  test("minhash signature: more similar texts share more signature positions") {
    val a = "the quick brown fox jumps over the lazy dog again and again in the field"
    val b = a.replace("field", "meadow")
    val c = "completely different content about spark catalyst optimizer internals"
    val sa = TextFns.minhash(a, 3, 32)
    val sb = TextFns.minhash(b, 3, 32)
    val sc = TextFns.minhash(c, 3, 32)
    val simAB = sa.zip(sb).count { case (x, y) => x == y }
    val simAC = sa.zip(sc).count { case (x, y) => x == y }
    assert(simAB > simAC)
  }
}
