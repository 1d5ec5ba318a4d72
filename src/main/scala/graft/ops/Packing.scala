package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for training export: assign every document a global
  * token offset (exclusive running sum of its token count in ascending id
  * order) and a pack/bin number `offset / budget` — the deterministic
  * contiguous-packing layout a pre-training exporter uses to cut a corpus
  * into fixed-token-budget shards or sequence packs.
  *
  * The naive expression of this is a global window
  * (`sum(tokens) OVER (ORDER BY id)`), which Spark executes as a SINGLE
  * partition holding the entire corpus — a non-starter at 100 TB. This
  * operator instead computes the same result as a two-pass distributed
  * prefix sum:
  *
  *   1. range-partition + sort by id (one shuffle; each partition holds a
  *      contiguous id range, partition index order == global order), cache
  *      the slim (id, tokens) pairs;
  *   2. pass 1 reduces each partition to ONE (partition, sum) row — the
  *      collect is O(#partitions), never O(rows);
  *   3. the exclusive per-partition offsets are broadcast and pass 2 is an
  *      embarrassingly parallel within-partition running sum.
  *
  * Both passes read the same cached partitioning, so the result does not
  * depend on where the range boundaries fall, and is byte-identical for
  * any partition count. This is one of the rare per-partition imperative
  * loops where an RDD zip beats any Catalyst plan.
  */
object Packing {

  /** Pack `df` into token-budget bins; returns
    * (id, n_tokens, tok_offset, bin). The intermediate (id, tokens) cache
    * registers with the caller's [[graft.core.Materialize.Scope]].
    * `id` must be unique (it is the global packing order) and
    * numeric-castable — a failed cast surfaces loudly (ANSI cast error,
    * or the non-nullable tuple encoder rejecting the null), never as a
    * silently misplaced row. */
  def pack(df: DataFrame, idCol: String, tokensCol: String, budget: Long,
           numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"pack budget must be positive, got $budget")
    val spark = df.sparkSession
    import spark.implicits._
    val nPart = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val rdd = graft.core.Materialize.persist(df
      .select(col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"))
      .repartitionByRange(nPart, col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Long)]
      .rdd)
    // pass 1: one row per partition — the only driver-side data is O(nPart)
    val sums = rdd
      .mapPartitionsWithIndex((pid, it) => Iterator.single(pid -> it.map(_._2).sum),
        preservesPartitioning = true)
      .collect().toMap
    val offsets = (0 until rdd.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + sums.getOrElse(p, 0L)).toArray
    val bOff = spark.sparkContext.broadcast(offsets)
    // pass 2: within-partition running sum seeded by the partition's
    // exclusive prefix — no further shuffle
    rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = bOff.value(pid)
      it.map { case (id, tok) =>
        val off = cum
        cum += tok
        (id, tok, off, off / budget)
      }
    }.toDF("id", "n_tokens", "tok_offset", "bin")
  }
}
