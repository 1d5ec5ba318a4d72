package graft.app

import graft.ops.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off audit: can q_minhash_lsh / q_simhash get an exact-set oracle?
  * Compares each candidate generator's exact-Jaccard-verified pairs against
  * the full exact n-gram pair set at the same threshold. Equality at the
  * driver's sf means the DuckDB ngram oracle can gate them too. */
object OracleCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (sf <- args) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.8)
        .select("ida", "idb").cache()
      val mh = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, numPerm = 16, bands = 4, threshold = 0.8)
        .select("ida", "idb")
      val sh = Dedup.simhashVerifiedPairs(docs, "doc_id", "text", k = 3, threshold = 0.8)
        .select("ida", "idb")
      val nEx = exact.count()
      // diagnostic: simhash Hamming distribution over the TRUE pair set —
      // tells us what maxHamming net the verified variant needs
      val sig = docs.select(col("doc_id").as("id"),
        udf((t: String) => graft.functions.TextFns.simhash64(t)).apply(col("text")).as("sig"))
      val hams = exact
        .join(sig.select(col("id").as("ida"), col("sig").as("sa")), Seq("ida"))
        .join(sig.select(col("id").as("idb"), col("sig").as("sb")), Seq("idb"))
        .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("h"))
        .agg(max(col("h")).as("max_h"), avg(col("h")).as("avg_h")).collect()(0)
      // max/avg over zero rows are null — an empty exact pair set must not
      // NPE the audit before it prints its (trivially green) counters
      val hamStr =
        if (hams.isNullAt(0)) "exact_pair_hamming(n/a: empty exact set)"
        else f"exact_pair_hamming(max=${hams.getInt(0)} avg=${hams.getDouble(1)}%.1f)"
      println(s"[oraclecheck] $sf exact=$nEx" +
        s" mh_missing=${exact.exceptAll(mh).count()} mh_spurious=${mh.exceptAll(exact).count()}" +
        s" sh_missing=${exact.exceptAll(sh).count()} sh_spurious=${sh.exceptAll(exact).count()}" +
        s" $hamStr")
    }
    spark.stop()
  }
}
