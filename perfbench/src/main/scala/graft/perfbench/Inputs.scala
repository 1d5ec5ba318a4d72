package graft.perfbench

import graft.core.{Corpus, DocRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Seeded inputs, written as tables before any timing starts: the engine
  * only ever sees what a scan of them returns. */
object Inputs {

  /** The entity universe is the engine's default corpus domain, the same
    * in every run; `seed` draws the documents. A seeded universe would
    * change the celebrity entities and the name ambiguity from seed to seed,
    * and with them the linker's work: runs would then measure the
    * generator, not the engine. */
  private def universe = Corpus.universe(Corpus.DefaultUniverseSize, Corpus.DefaultSeed)

  /** Document indices 0 until nDocs, one partition per core. */
  private def indices(spark: SparkSession, nDocs: Long) = {
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    spark.range(0L, nDocs, 1L, parts).map(_.longValue)(Encoders.scalaLong)
  }

  /** `nDocs` seeded documents of the synthetic interleaved corpus. */
  def corpus(spark: SparkSession, nDocs: Long, seed: Long): Dataset[DocRow] = {
    import spark.implicits._
    indices(spark, nDocs).mapPartitions { it =>
      val u = universe
      it.map(i => Corpus.genDoc(i, seed, u).row)
    }
  }

  /** The canonical triples [[corpus]] encodes, by construction. */
  def oracleTriples(spark: SparkSession, nDocs: Long, seed: Long): DataFrame = {
    import spark.implicits._
    indices(spark, nDocs).mapPartitions { it =>
      val u = universe
      it.flatMap(i => Corpus.genDoc(i, seed, u).oracle)
    }.toDF()
  }

  /** [[corpus]] written as parquet to `dir` (replacing it). */
  def writeCorpus(spark: SparkSession, dir: String, nDocs: Long, seed: Long): Unit =
    corpus(spark, nDocs, seed).write.mode(SaveMode.Overwrite).parquet(dir)

  def readCorpus(spark: SparkSession, dir: String): Dataset[DocRow] = {
    import spark.implicits._
    spark.read.parquet(dir).as[DocRow]
  }

  /** Per-row invariant of the written table: for a seeded sample of
    * documents, the read-back span sequence `(kind, text, media_ref,
    * offset)` equals what `Corpus.genDoc` generates. Returns the number of
    * mismatching documents (0 when the table is faithful). */
  def corpusMismatches(spark: SparkSession, dir: String, nDocs: Long, seed: Long,
                       sample: Int = 64): Int = {
    val rng = new Random(seed ^ 0x5eedL)
    val idx = Seq.fill(sample)((rng.nextDouble() * nDocs).toLong).distinct
    val u = universe
    val want = idx.map(i => Corpus.genDoc(i, seed, u).row).map(r => r.doc_id -> r).toMap
    val got = readCorpus(spark, dir).filter(col("doc_id").isin(want.keys.toSeq: _*))
      .collect().map(r => r.doc_id -> r).toMap
    def key(r: DocRow) = r.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))
    want.count { case (id, w) => !got.get(id).exists(g => key(g) == key(w)) }
  }

  // --- near-duplicate tables --------------------------------------------
  // A seeded sample of the testdata sf0.1 `documents` (5 000 rows) and
  // `embeddings` (2 000 rows) tables, committed unchanged under
  // perfbench/data/sf0.1. A sample of documents keeps the doc ids, so its
  // near-dup pairs are exactly the sf0.1 pairs whose two documents were
  // both drawn. A sample of embeddings is renumbered 0 until n in vec_id
  // order: the embedding queries plant copies of vec_id < 20.

  /** The `n` rows of `df` with the smallest seeded hash of `idCol`. */
  private def draw(df: DataFrame, idCol: String, n: Int, seed: Long): DataFrame =
    df.orderBy(xxhash64(col(idCol), lit(seed)), col(idCol)).limit(n)

  def writeNearDup(spark: SparkSession, poolDir: String, sfDir: String,
                   nDocs: Int, nVecs: Int, seed: Long): Unit = {
    draw(spark.read.parquet(s"$poolDir/documents.parquet"), "doc_id", nDocs, seed)
      .repartition(1).sortWithinPartitions("doc_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$sfDir/documents.parquet")
    draw(spark.read.parquet(s"$poolDir/embeddings.parquet"), "vec_id", nVecs, seed)
      .withColumn("vec_id", row_number().over(Window.orderBy("vec_id")).cast("long") - 1L)
      .repartition(1).sortWithinPartitions("vec_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$sfDir/embeddings.parquet")
  }
}
