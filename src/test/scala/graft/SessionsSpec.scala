package graft

import graft.core.{Corpus, JobMetrics}
import graft.extract.DeterministicExtractor
import graft.pipeline.BuildPipeline

/** Effects of the engine session settings (graft.core.Sessions) that a
  * build can observe. */
class SessionsSpec extends SparkSpec {

  test("a second build in the session compiles fewer than 50 classes: the codegen cache holds a build") {
    def build(): Unit = scoped {
      val r = BuildPipeline.run(Corpus.docs(spark, 20L), new DeterministicExtractor)
      Seq(r.triples, r.searchIndex, r.documents, r.droppedEdges).foreach(_.count())
    }
    build()
    val l = JobMetrics.listen(spark)
    try {
      build()
      val (compiles, _) = l.codegen
      assert(compiles < 50, s"the second build compiled $compiles classes")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
