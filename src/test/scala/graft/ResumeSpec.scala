package graft

import graft.core._
import graft.extract.DeterministicExtractor
import graft.io.{Checkpoints, ParquetTableIO}
import graft.pipeline.BuildPipeline
import java.nio.file.Files

/** Resumability (north_rule): a re-run from checkpoints reproduces
  * byte-identical sorted outputs; lineage records the resume. */
class ResumeSpec extends SparkSpec {

  test("checkpointed rerun is idempotent and resumes all stages") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val io = new ParquetTableIO(dir)
    val docs = Corpus.docs(spark, 40)

    val r1 = BuildPipeline.run(docs, new DeterministicExtractor,
      Some(new Checkpoints(spark, io, "run-1")))
    val t1 = r1.triples.orderBy("doc_id", "subj", "pred", "obj").collect().toSeq
    val n1 = r1.nodes.orderBy("id").collect().map(_.getString(0)).toSeq

    val r2 = BuildPipeline.run(Corpus.docs(spark, 40), new DeterministicExtractor,
      Some(new Checkpoints(spark, io, "run-2")))
    val t2 = r2.triples.orderBy("doc_id", "subj", "pred", "obj").collect().toSeq
    val n2 = r2.nodes.orderBy("id").collect().map(_.getString(0)).toSeq

    assert(t1 === t2)
    assert(n1 === n2)

    val lineage = io.read(spark, "_lineage")
    import org.apache.spark.sql.functions._
    val resumed = lineage.filter(col("run_id") === "run-2")
    assert(resumed.filter(!col("resumed")).count() === 0, "run-2 should resume every stage")
    // per-stage row counts identical across runs
    val counts = lineage.groupBy("stage")
      .agg(countDistinct(col("rows_out")).as("variants")).collect()
    assert(counts.forall(_.getLong(1) === 1L))
  }

  test("a fully resumed run builds no linker, materializer or community internals") {
    val io = new ParquetTableIO(Files.createTempDirectory("graft-resume3").toString)
    val internal = Seq("graft-link:", "graft-mat:", "graft-comm:")
    def labels(runId: String): Seq[String] = {
      val l = JobMetrics.listen(spark)
      try {
        val r = BuildPipeline.run(Corpus.docs(spark, 20), new DeterministicExtractor,
          Some(new Checkpoints(spark, io, runId)))
        Seq(r.triples, r.nodes, r.edges, r.properties, r.searchIndex, r.documents, r.droppedEdges)
          .foreach(_.count())
        r.cleanup()
        JobMetrics.report(spark, l)
        l.rows.map(_.label)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val fresh = labels("fresh")
    assert(internal.forall(p => fresh.exists(_.startsWith(p))), s"fresh run labels: $fresh")
    val resumed = labels("resumed")
    assert(!resumed.exists(l => internal.exists(l.startsWith)), s"resumed run labels: $resumed")
    val lineage = io.read(spark, "_lineage")
    import org.apache.spark.sql.functions._
    assert(lineage.filter(col("run_id") === "resumed" && !col("resumed")).count() === 0)
  }

  test("fresh rebuild (no checkpoints) produces the same triples as checkpointed") {
    val dir = Files.createTempDirectory("graft-resume2").toString
    val cp = new Checkpoints(spark, new ParquetTableIO(dir), "run-x")
    val a = BuildPipeline.run(Corpus.docs(spark, 25), new DeterministicExtractor, Some(cp))
      .triples.orderBy("doc_id", "subj", "pred", "obj").collect().toSeq
    val b = BuildPipeline.run(Corpus.docs(spark, 25), new DeterministicExtractor, None)
      .triples.orderBy("doc_id", "subj", "pred", "obj").collect().toSeq
    assert(a === b)
  }
}
