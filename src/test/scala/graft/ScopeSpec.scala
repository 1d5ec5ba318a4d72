package graft

import graft.core.{Corpus, Materialize, Par}
import graft.extract.DeterministicExtractor
import graft.pipeline.BuildPipeline
import org.apache.spark.sql.DataFrame

/** Cache lifetimes: every engine cache registers with the innermost open
  * [[Materialize.Scope]] and is freed when that scope closes. */
class ScopeSpec extends SparkSpec {
  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a cut made on a Par.fork thread is freed with the caller's scope") {
    val before = cachedRdds
    val scope = new Materialize.Scope
    val id = scope.within(Par.await(Par.fork(spark)(
      Materialize.stageCutHandleN(spark.range(100).toDF("id"))._2.id)))
    assert(cachedRdds.contains(id))
    scope.close()
    assert((cachedRdds -- before).isEmpty)
    // the pool thread does not keep the closed scope: a cut forked with
    // no scope open registers nowhere instead of throwing
    val unscoped = Par.await(Par.fork(spark)(Materialize.stageCutHandleN(spark.range(5).toDF("id"))._2))
    assert(cachedRdds.contains(unscoped.id))
    unscoped.unpersist(blocking = true)
  }

  test("a cut made after an inner scope's body returns belongs to the outer scope") {
    def cut(n: Long) = Materialize.stageCutHandleN(spark.range(n).toDF("id"))._2.id
    val outer = new Materialize.Scope
    val (innerId, afterId) = outer.within {
      val inner = new Materialize.Scope
      val innerId = inner.within(cut(10))
      val afterId = cut(20)
      inner.close()
      (innerId, afterId)
    }
    assert(!cachedRdds.contains(innerId), "the inner scope frees its own cut")
    assert(cachedRdds.contains(afterId), "a later cut outlives the inner scope")
    outer.close()
    assert(!cachedRdds.contains(afterId), "the outer scope frees it")
  }

  test("an inner scope left open is freed by its outer scope") {
    val outer = new Materialize.Scope
    val id = outer.within(new Materialize.Scope().within(
      Materialize.stageCutHandleN(spark.range(10).toDF("id"))._2.id))
    assert(cachedRdds.contains(id))
    outer.close()
    assert(!cachedRdds.contains(id))
  }

  test("registering with a closed scope throws") {
    val before = cachedRdds
    val scope = new Materialize.Scope
    scope.close()
    intercept[IllegalStateException](scope.within(Materialize.stageCut(spark.range(3).toDF("id"))))
    assert((cachedRdds -- before).isEmpty, "nothing is cached past the refusal")
  }

  test("BuildPipeline.run(...).cleanup() leaves no build cache behind (40 docs)") {
    val before = cachedRdds
    val r = BuildPipeline.run(Corpus.docs(spark, 40L), new DeterministicExtractor)
    val triples = sortedRows(r.triples)
    Seq(r.searchIndex, r.documents, r.droppedEdges).foreach(_.count())
    assert(triples.nonEmpty)
    r.cleanup()
    assert((cachedRdds -- before).isEmpty, s"build leaked ${cachedRdds -- before}")
    assert(sortedRows(r.triples) === triples, "triples differ after cleanup")
  }
}
