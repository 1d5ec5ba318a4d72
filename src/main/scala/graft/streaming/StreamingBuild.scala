package graft.streaming

import graft.core._
import graft.extract.SpanExtractor
import graft.io.TableIO
import graft.pipeline.BuildPipeline
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion of interleaved documents (Structured Streaming).
  *
  * The reference build is strictly batch (graph/graph.py:237-273), but its
  * unit of work is the document, and every stage of this engine keys by
  * doc_id: chunking, extraction, linking, canonicalization and level-0/1/2
  * materialization NEVER cross documents (the reference's name index is
  * dict[doc_id][name]). A micro-batch of whole documents is therefore
  * self-contained, and incremental ingestion is exactly
  * `readStream → foreachBatch(run the batch pipeline, append)`:
  *
  *   - no watermark/state needed — there is no cross-row streaming state;
  *   - output tables grow append-only, the same shape the batch build
  *     writes, and the union of per-batch outputs equals the one-shot
  *     batch build of the same documents (asserted by StreamingSpec);
  *   - exactly-once per document comes from the file source's offset log +
  *     deterministic ids + an idempotent sink: tables are partitioned by
  *     `_batch_id` and each batch write is a dynamic partition overwrite
  *     of its own partition ([[TableIO.appendBatch]]), so a replayed batch
  *     rewrites the same rows instead of duplicating them — even when the
  *     crash landed between the six per-table writes.
  *
  * Corpus-global layers that DO cross documents (GlobalCatalog, search
  * over the full index) read the appended tables on their own cadence —
  * the standard lambda split, kept outside the streaming graph on purpose:
  * they are cheap full-table aggregations, and recomputing them per
  * micro-batch would shuffle the whole corpus every trigger.
  */
object StreamingBuild {

  val docSchema = Encoders.product[DocRow].schema

  /** Parquet-directory document stream. */
  def readDocs(spark: SparkSession, inputPath: String): Dataset[DocRow] = {
    import spark.implicits._
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", 16)
      .parquet(inputPath)
      .as[DocRow]
  }

  /** Start the incremental build: per micro-batch, run the full pipeline
    * on the batch's documents and append the graph tables. */
  def start(docs: Dataset[DocRow], extractor: SpanExtractor, io: TableIO,
            checkpointDir: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[DocRow], batchId: Long) =>
        if (!batch.isEmpty) {
          val r = BuildPipeline.run(batch, extractor)
          append(io, r, batchId)
        }
      }
      .start()
  }

  /** Six per-table writes are not atomic as a group; a crash mid-batch
    * replays the whole batch, so each write must be idempotent —
    * `appendBatch` overwrites the batch's own `_batch_id` partition, making
    * the replay a no-op for tables that already committed it. */
  private def append(io: TableIO, r: BuildPipeline.BuildResult, batchId: Long): Unit =
    try {
      io.appendBatch(r.triples, "triples", batchId)
      io.appendBatch(r.nodes, "nodes", batchId)
      io.appendBatch(r.edges, "edges", batchId)
      io.appendBatch(r.properties, "properties", batchId)
      io.appendBatch(r.documents, "documents", batchId)
      io.appendBatch(r.searchIndex, "search_index", batchId)
    } finally {
      // free this batch's caches, also when a write throws — a long
      // stream would otherwise accumulate ~9 cached RDDs per micro-batch
      r.cleanup()
    }
}
