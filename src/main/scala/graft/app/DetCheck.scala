package graft.app

import graft.core.{Corpus, Sessions}
import graft.extract.{DeterministicExtractor, Extract}
import graft.link.{Linker, UnionFind}
import org.apache.spark.sql.functions._

/** Shuffle-determinism stress check: freeze the linker's (names, pairs)
  * inputs to parquet once, then loop the linker's per-doc union-find
  * cogroup over the frozen input, asserting row conservation
  * (|comps| == |names|) on every iteration. Silent row loss in the
  * cogroup shuffle shows up as a varying deficit; a clean engine prints
  * the same count every round.
  *
  * Usage: DetCheck <local[n] | spark://...,totalCores> <nDocs> <rounds> <workDir>
  */
object DetCheck {
  def main(args: Array[String]): Unit = {
    val master = args(0)
    val nDocs = args(1).toLong
    val rounds = args(2).toInt
    val work = args(3)
    val spark =
      if (master.startsWith("spark://")) {
        val Array(url, cores) = master.split(",")
        Sessions.cluster(url, cores.toInt, execCores = 8, execHeapGb = 10, "graft-det-check")
      } else Sessions.local(master.stripPrefix("local[").stripSuffix("]").toInt, "graft-det-check")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    if (!new java.io.File(s"$work/names/_SUCCESS").exists()) {
      val docs = Corpus.docs(spark, nDocs)
      val extractor = new DeterministicExtractor
      val chunks = graft.build.Chunker.chunks(docs)
      val raw = Extract.rawLogs(chunks, graft.build.Chunker.visualSpans(docs), extractor)
      val logs = Extract.withProperties(raw, extractor)
      Linker.uniqueNamesSlim(logs).write.mode("overwrite").parquet(s"$work/names")
      Linker.matchedPairIds(spark.read.parquet(s"$work/names"))
        .write.mode("overwrite").parquet(s"$work/pairs")
    }
    val names = spark.read.parquet(s"$work/names")
    val pairs = spark.read.parquet(s"$work/pairs")
    val expected = names.count()
    println(s"[det-check] names=$expected pairs=${pairs.count()}")
    import spark.implicits._
    // the linker's fold inputs: name ids keyed by doc, pair ids keyed by doc
    val nameRows = names.select(col("doc_id"), xxhash64(col("name_norm")))
      .as[(String, Long)].groupByKey(_._1)
    val pairRows = pairs.select(col("doc_id"), col("a"), col("b"))
      .as[(String, Long, Long)].groupByKey(_._1)
    var bad = 0
    (1 to rounds).foreach { r =>
      val comps = nameRows.cogroup(pairRows) {
          (doc: String, ns: Iterator[(String, Long)], ps: Iterator[(String, Long, Long)]) =>
        val uf = new UnionFind[Long]
        ps.foreach { case (_, a, b) => uf.union(a, b) }
        ns.map { case (_, nid) => (doc, nid, uf.find(nid)) }
      }
      // per-stage record metrics: where do rows vanish — shuffle write,
      // shuffle read, or the cogroup operator's output?
      val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          stages.put(e.stageInfo.stageId,
            s"stage=${e.stageInfo.stageId} name=${e.stageInfo.name.takeWhile(_ != ' ')} " +
            s"tasks=${e.stageInfo.numTasks} input=${m.inputMetrics.recordsRead} " +
            s"shufW=${m.shuffleWriteMetrics.recordsWritten} shufR=${m.shuffleReadMetrics.recordsRead} " +
            s"out=${m.outputMetrics.recordsWritten} failed=${e.stageInfo.failureReason.isDefined}")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val got = comps.count()
      Thread.sleep(2000) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      if (got != expected) bad += 1
      println(s"[det-check] round $r comps=$got (exp $expected)")
      if (got != expected)
        stages.values().forEach(s => println(s"[det-check]   $s"))
    }
    println(s"[det-check] rounds=$rounds bad=$bad")
    spark.stop()
  }
}
