package graft.streaming

import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming training-data operators — the incremental counterparts of the
  * batch curation ops, for a corpus that arrives as a feed rather than a
  * snapshot.
  *
  * Unlike [[StreamingBuild]] (whose per-document pipeline is stateless
  * across batches), these genuinely need Structured Streaming STATE: a
  * fingerprint seen in batch 0 must suppress a duplicate arriving in
  * batch 40. State is keyed by the 32-hex-char fingerprint, so the store
  * holds one tiny row per distinct document ever seen — the streaming
  * analog of the exact-dedup hash-groupBy, sharded by the state store
  * exactly like the batch shuffle would be.
  */
object StreamingOps {

  /** One surviving (fingerprint, id) per distinct normalized text across
    * the whole stream. Within a micro-batch the min id wins (a plain
    * pre-aggregation, so arbitrary partition order never decides); across
    * batches the FIRST batch containing the fingerprint wins — first-writer
    * semantics matching the batch dedup's deterministic survivor rule on
    * any deterministic batch split.
    *
    * flatMapGroupsWithState(Append, NoTimeout): emit on first sight, drop
    * every later sighting. NoTimeout is deliberate — exact dedup must
    * remember forever; callers curating an unbounded feed who can bound
    * re-arrival should move to dropDuplicatesWithinWatermark semantics by
    * keying state eviction on event time instead. */
  def dedupStream(docs: DataFrame, idCol: String, textCol: String): Dataset[(String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(TextFns.fingerprintCol(col(textCol)).as("fp"),
        col(idCol).cast("long").as("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      // batch-local min BEFORE touching state: reduceGroups is not
      // stream-capable, so fold inside the state function instead
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val minId = rows.map(_._2).min
            state.update(minId)
            Iterator.single((fp, minId))
          }
      }
  }

  /** Event-time windowed corpus stats: documents per (window, source) with
    * token volume, the arrival-rate dashboard of an ingestion feed. The
    * caller supplies the event-time column; the watermark bounds state so
    * windows older than `delay` are finalized and evicted. */
  def sourceWindowStats(docs: DataFrame, tsCol: String, srcCol: String,
                        windowLen: String = "1 hour",
                        delay: String = "10 minutes"): DataFrame =
    docs.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen).as("win"), col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(col("win.start").as("win_start"), col("source"),
        col("n_docs"), col("n_tokens"))

  /** Run [[dedupStream]] over a parquet path as one AvailableNow pass and
    * return the result as a batch DataFrame — the driver-contract bridge
    * (one input file → one micro-batch → survivor = min id per
    * fingerprint, the exact relation the DuckDB oracle expresses). */
  /** Memory-sink names must be fresh per run — a stopped query's sink
    * table survives in the catalog and a same-named append would grow it. */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Copy a finished memory sink's rows out and DROP the temp view, so
    * repeated *Once invocations in one session don't accumulate one
    * driver-resident result copy per call (the sink's data is only
    * released once the catalog stops referencing it). The copy is the
    * same driver-bounded size the memory sink already was.
    *
    * '''Oracle-bridge ONLY, never production''': the memory sink (and
    * this collect) exists solely for the `*Once` driver-contract entries,
    * whose input is one bounded file by construction. A production stream
    * must go through [[graft.streaming.StreamingBuild]]'s foreachBatch →
    * TableIO.appendBatch path, which writes each micro-batch to the table
    * layer distributedly and never routes rows through the driver. */
  private def drainMemorySink(spark: SparkSession, table: String): DataFrame = {
    val sink = spark.table(table)
    val (rows, schema) = (sink.collect(), sink.schema)
    spark.catalog.dropTempView(table)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Session for the `*Once` oracle bridges: a CLONE of the caller's
    * session (shared SparkContext, separate SQLConf) with a small fixed
    * shuffle/state-partition count. The bridge processes ONE bounded file
    * as ONE micro-batch, so a corpus-scale partition count buys no
    * parallelism it can use — it only multiplies per-partition state-store
    * fixed costs (provider init, delta file, commit) for a state holding
    * O(file) rows (guide §2.2: fewer, larger partitions when partitions
    * are tiny). Production streams go through [[StreamingBuild]] on the
    * caller's own session and keep its scale-adaptive setting.
    * forceDeleteTempCheckpointLocation: the bridge's throwaway temp
    * checkpoint is deleted on stop instead of warning at session exit.
    *
    * The clone builds its SQLConf from the SparkContext's conf: runtime
    * `spark.conf.set` values of the caller's session are NOT inherited
    * (nor are its temp views), and the returned DataFrame stays bound to
    * the clone. */
  private def bridgeSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    s
  }

  /** FileStreamSource force-sets basePath to the source path itself for
    * any NON-glob path, and partition discovery then rejects a basePath
    * that is a plain file — so streaming a single parquet FILE (the
    * sf-dir layout) fails out of the box. Wrapping the filename in a
    * one-alternative glob `{name}` makes isGlobPath true, which suppresses
    * that override and lets an explicit directory basePath stand. */
  private def streamParquet(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("basePath", p.getParent.toString)
        .parquet(s"${p.getParent}/{${p.getName}}")
  }

  def dedupStreamOnce(spark0: SparkSession, path: String,
                      idCol: String, textCol: String): DataFrame = {
    val spark = bridgeSession(spark0)
    val in = streamParquet(spark, path)
    val table = s"stream_dedup_${runSeq.incrementAndGet()}"
    val q = dedupStream(in, idCol, textCol).toDF("fingerprint", "id")
      .writeStream.format("memory").queryName(table)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    drainMemorySink(spark, table)
  }

  /** Run [[sourceWindowStats]] over a parquet path as one AvailableNow
    * pass in complete mode (every window emitted regardless of watermark
    * progress — deterministic for the batch-replay oracle). Event time is
    * synthesized as `epoch + doc_id minutes` so the window layout is a
    * pure function of the data. */
  def windowStatsOnce(spark0: SparkSession, path: String): DataFrame = {
    val spark = bridgeSession(spark0)
    val in = streamParquet(spark, path)
      .withColumn("ts", timestamp_seconds(col("doc_id") * 60))
      .withColumn("n_tokens",
        graft.functions.TextFns.estimateTokensCol(col("text")).cast("long"))
    val table = s"stream_win_${runSeq.incrementAndGet()}"
    val q = sourceWindowStats(in, "ts", "source")
      .writeStream.format("memory").queryName(table)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // epoch seconds, not timestamp: the driver compares parquet values in
    // pandas, where tz-aware vs naive timestamp columns never hash-match
    drainMemorySink(spark, table)
      .select(col("win_start").cast("long").as("win_start"),
        col("source"), col("n_docs"), col("n_tokens"))
  }
}
