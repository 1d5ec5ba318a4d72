package graft.ops

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a full corpus scan: one narrow pass, no corpus shuffle,
  * top-k per query via window over the (queries x corpus) score stream.
  * Scale path: random-hyperplane LSH bucketing — corpus coded once,
  * queries multi-probed (own bucket + Hamming-1 buckets), exact cosine
  * only inside candidate buckets; corpus scan cost drops to the probed
  * buckets' share. IVF-style variants slot in by replacing the code
  * function with a centroid assignment.
  */
object Similarity {

  /** Native codegen cosine (no boxed UDF on the scoring hot path) —
    * see [[graft.functions.CosineSim]]. */
  private[graft] def cosCol(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** The k best-scoring (qid, id) candidates per query, ranked by the
    * 4-dp cosine of their `qv` and `cv` vectors, ties toward the lower id.
    * Output: (qid, id, cosine, rank). */
  private def topK(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    candidates.withColumn("cosine", round(cosCol(col("qv"), col("cv")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Exact top-k neighbors for each query (excluding self-matches by id).
    * Output: (qid, id, cosine, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("id"), col("vec").as("cv"))
    val q = queries.select(col("id").as("qid"), col("vec").as("qv"))
    topK(c.crossJoin(broadcast(q)).filter(col("id") =!= col("qid")), k)
  }

  /** Deterministic hyperplane generator shared by the coder UDF and the
    * external-replay export ([[lshPlanesRows]]): fill order is
    * table → bit → dim on one seeded RNG, so the exported rows are
    * byte-identical to what the UDF folds into its closure. */
  private[ops] def planesFor(tables: Int, bits: Int, dim: Int,
                             seed: Long): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rng.nextGaussian())
  }

  /** The default LSH coder's planes as rows (table, bit, plane) — the
    * Verify-time side export that lets the DuckDB oracle replay bucketing
    * + Hamming-1 probing + exact cosine externally (q_ann_lsh). */
  def lshPlanesRows(tables: Int = 8, bits: Int = 6, dim: Int = 64,
                    seed: Long = 7L): Seq[(Int, Int, Seq[Double])] = {
    val planes = planesFor(tables, bits, dim, seed)
    for (t <- 0 until tables; b <- 0 until bits)
      yield (t, b, planes(t)(b).toSeq)
  }

  /** Multi-table random-hyperplane codes: for each of `tables` independent
    * plane sets, emit (table, code). Recall compounds across tables:
    * a neighbor missed by one table's bucket is caught by another. */
  private[ops] def codesUdf(tables: Int, bits: Int, dim: Int, seed: Long) = {
    val planes = planesFor(tables, bits, dim, seed)
    udf((v: Seq[Float]) => {
      // Spark hands a Seq[Float] argument over as a List: index an array
      val a = v.toArray
      val n = math.min(dim, a.length)
      val out = new Array[Int](tables)
      var t = 0
      while (t < tables) {
        var code = 0
        var b = 0
        while (b < bits) {
          var dot = 0.0
          var i = 0
          while (i < n) { dot += planes(t)(b)(i) * a(i); i += 1 }
          if (dot > 0) code |= (1 << b)
          b += 1
        }
        out(t) = code
        t += 1
      }
      out
    })
  }

  /** All (table, bucket) cells within Hamming distance 1 of each code. */
  private[ops] def probesUdf(tables: Int, bits: Int) =
    udf((codes: Seq[Int]) =>
      codes.zipWithIndex.flatMap { case (c, t) =>
        (Seq(c) ++ (0 until bits).map(b => c ^ (1 << b))).map(p => t.toLong * 65536L + p)
      }.toArray)

  private[ops] def cellsUdf(tables: Int) =
    udf((codes: Seq[Int]) =>
      codes.zipWithIndex.map { case (c, t) => t.toLong * 65536L + c }.toArray)

  /** k-means coarse-quantizer training ON A BOUNDED DETERMINISTIC SAMPLE
    * (hash-threshold filter, one narrow pass over the corpus,
    * ~`maxTrainSample` rows collected; Lloyd runs driver-local over that
    * sample — nLists centroids never need the full corpus). The collect is
    * bounded by construction, so this is safe at any corpus size: the only
    * full-corpus work a caller ever pays is its own single assignment pass
    * against the broadcast centroids. Shared by [[ivfTopK]] and
    * [[Dedup.semanticDedup]]. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nLists: Int = 16, iterations: Int = 5,
                     seed: Long = 7L, maxTrainSample: Int = 4096): Array[Array[Float]] = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))

    // bounded deterministic sample: keep rows whose uniform 63-bit hash
    // (unsigned shift — abs() would map Long.MinValue to itself) falls
    // under frac * Long.MaxValue (expected ~maxTrainSample rows).
    // The count is a narrow single-column scan; the sample is sorted by id
    // driver-side so the trainer is order-independent of partitioning.
    val n = math.max(c.count(), 1L)
    val frac = math.min(1.0, maxTrainSample.toDouble / n)
    val bound = (frac * Long.MaxValue).toLong
    val sample: Array[(String, Array[Float])] = c
      .where(shiftrightunsigned(xxhash64(col("id").cast("string"), lit(seed)), 1) <= lit(bound))
      .select(col("id").cast("string"), col("cv")).collect()
      .map(r => (r.getString(0), r.getAs[Seq[Float]](1).toArray))
      .sortBy(_._1)
    val train = sample.map(_._2)

    // driver-local Lloyd over <= ~maxTrainSample vectors (cosine distance);
    // empty clusters keep their previous centroid. Fewer sample rows than
    // nLists simply trains fewer lists.
    // Seeding: deterministic farthest-point (kmeans++-style) — the first
    // sample vector, then repeatedly the vector whose NEAREST chosen seed
    // is least similar (argmin over points of max-cosine-to-any-seed).
    // Tracking the min over seeds instead would let an exact duplicate of
    // one seed look "far" (it is dissimilar to SOME seed) and be picked
    // again — seed spread degrades exactly on clustered data. Spread-out
    // seeds cut the recall loss of Lloyd converging onto adjacent
    // centroids (raised recall@5 measurably vs take(nLists) seeding).
    var centroids: Array[Array[Float]] =
      if (train.length <= nLists) train.take(nLists)
      else {
        val seeds = scala.collection.mutable.ArrayBuffer(train.head)
        // nearestCos(i) = cosine of train(i) to its nearest seed so far
        val nearestCos = Array.fill(train.length)(Double.MinValue)
        val chosen = Array.fill(train.length)(false)
        chosen(0) = true
        while (seeds.length < nLists) {
          var i = 0
          var farIdx = -1
          var farCos = Double.MaxValue
          while (i < train.length) {
            val cs = TextFns.cosine(seeds.last, train(i))
            if (cs > nearestCos(i)) nearestCos(i) = cs
            if (!chosen(i) && nearestCos(i) < farCos) { farCos = nearestCos(i); farIdx = i }
            i += 1
          }
          seeds += train(farIdx)
          chosen(farIdx) = true
        }
        seeds.toArray
      }
    var it = 0
    while (it < iterations && train.nonEmpty) {
      val sums = Array.fill(centroids.length)(new Array[Double](train.head.length))
      val counts = new Array[Long](centroids.length)
      train.foreach { v =>
        var best = 0; var bestCos = Double.MinValue
        var i = 0
        while (i < centroids.length) {
          val cs = TextFns.cosine(centroids(i), v)
          if (cs > bestCos) { bestCos = cs; best = i }
          i += 1
        }
        counts(best) += 1
        var d = 0
        while (d < v.length) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(x => (x / counts(i)).toFloat)
      }.toArray
      it += 1
    }
    centroids
  }

  /** nn nearest centroid INDICES by cosine, ties broken toward the lower
    * index (the sort key is (distance, index)). */
  private[ops] def nearestUdf(cents: Array[Array[Float]], nn: Int) =
    udf((v: Seq[Float]) => {
      val a = v.toArray
      cents.zipWithIndex
        .map { case (ct, i) => (1.0 - TextFns.cosine(ct, a), i) }
        .sortBy(identity).take(nn).map(_._2)
    })

  /** One broadcast-centroid assignment pass: all input columns plus
    * `cluster`, the nearest centroid's INDEX (argmax cosine, ties toward
    * the lower index). The single full-corpus stage every centroid-based
    * consumer (IVF lists, SemDeDup) pays. */
  def assignClusters(df: DataFrame, vecCol: String,
                     centroids: Array[Array[Float]]): DataFrame =
    df.withColumn("cluster", nearestUdf(centroids, 1)(col(vecCol))(0))

  /** IVF (inverted-file) ANN: bounded-sample-trained coarse quantizer
    * ([[trainCentroids]]); the only full-corpus work is the single final
    * assignment pass against the broadcast centroids; each query probes its
    * `nProbe` nearest lists and scores exact cosine only inside them. At
    * 100 TB: one sample scan + one assignment scan; the probe join touches
    * nProbe/nLists of the data.
    *
    * `nProbe` IS the recall/cost knob. Measured operating curve on the
    * sf0.01 feature-hash embeddings (nLists=16, 50 queries, recall@5 vs
    * [[bruteForceTopK]]): nProbe=4 → 0.61, 6 → 0.75,
    * **8 → 0.84 (default)**, 10 → 0.92, 12 → 0.95, 16 → 1.00 — roughly
    * linear in the fraction scanned, because deterministic feature-hash
    * vectors spread nearly uniformly and the coarse quantizer separates
    * them weakly; real model embeddings cluster, which moves the whole
    * curve up at the same nProbe. Raise nProbe (or nLists with
    * proportional nProbe) when the corpus distribution disappoints —
    * this curve is the record, and the OpsSpec ivf recall test pins the
    * default operating point. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 8, iterations: Int = 5,
              seed: Long = 7L, maxTrainSample: Int = 4096): DataFrame = {
    val c = corpus.select(col("id"), col("vec").as("cv"))
    val cents = trainCentroids(corpus.select(col("id"), col("vec")), "id", "vec",
      nLists, iterations, seed, maxTrainSample)
    val bucketed = c.withColumn("cluster", nearestUdf(cents, 1)(col("cv"))(0))
    val probed = queries.select(col("id").as("qid"), col("vec").as("qv"))
      .withColumn("cluster", explode(nearestUdf(cents, nProbe)(col("qv"))))
    // each corpus row lives in exactly one list, so (qid, id) pairs are
    // already unique — no candidate distinct needed
    topK(bucketed.join(broadcast(probed), Seq("cluster")).filter(col("id") =!= col("qid")), k)
  }

  /** LSH-bucketed ANN top-k: `tables` independent 6-bit hyperplane codes,
    * queries probe their own cell + all Hamming-1 cells per table, exact
    * cosine + top-k among the candidates only. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 8, bits: Int = 6, dim: Int = 64, seed: Long = 7L): DataFrame = {
    val codes = codesUdf(tables, bits, dim, seed)
    val vecs = corpus.select(col("id"), col("vec").as("cv"))
    val c = vecs
      .withColumn("cell", explode(cellsUdf(tables)(codes(col("cv")))))
      .select("id", "cell")
    val q = queries.select(col("id").as("qid"), col("vec").as("qv"))
      .withColumn("cell", explode(probesUdf(tables, bits)(codes(col("qv")))))
    // candidate dedup on bare (qid, id) pairs — the corpus vector rejoins
    // once after the distinct, the (small) query side broadcasts back in
    topK(c.join(broadcast(q.select(col("qid"), col("cell"))), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select("qid", "id").distinct()
      .join(vecs, Seq("id"))
      .join(broadcast(q.select(col("qid"), col("qv")).dropDuplicates("qid")), Seq("qid")), k)
  }
}
