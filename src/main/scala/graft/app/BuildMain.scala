package graft.app

import graft.core.{Corpus, JobMetrics, Par}
import graft.extract.DeterministicExtractor
import graft.io.{Checkpoints, ParquetTableIO}
import graft.pipeline.BuildPipeline
import org.apache.spark.sql.SparkSession

/** spark-submit entry for the full KG build.
  *
  * Usage: BuildMain [--bpe-vocab=merges.txt] <workDir> [nDocs] [master] [seed]
  *
  * Generates the seeded interleaved corpus (or, in a real deployment, read
  * the input Iceberg table instead), runs the resumable build into
  * <workDir> (per-stage checkpoints + _lineage), prints where the build's
  * time and shuffle bytes went per job label ([[JobMetrics]]), the
  * triple-parity score vs the corpus oracle and the per-stage metrics.
  * Re-running with the same workDir resumes: completed stages are read
  * back, not recomputed.
  *
  * `--bpe-vocab=PATH` switches the chunker to exact greedy-BPE token
  * counts from a GPT-2-shaped merges file (the tiktoken-cl100k analog of
  * reference reader.py:226-238): sets the in-JVM property for the driver
  * and `spark.executorEnv.GRAFT_BPE_VOCAB` for executors — on a real
  * cluster ship the file with `spark-submit --files merges.txt` and pass
  * `--bpe-vocab=merges.txt` (the executor-local name).
  */
object BuildMain {
  def main(rawArgs: Array[String]): Unit = {
    val (flags, args) = rawArgs.partition(_.startsWith("--"))
    val bpeVocab = flags.collectFirst { case f if f.startsWith("--bpe-vocab=") =>
      f.stripPrefix("--bpe-vocab=") }
    bpeVocab.foreach(System.setProperty(graft.functions.Tokens.VocabProp, _))
    // fail on a mistyped flag instead of silently running a whole build
    // without it (--bpe_vocab=... used to run with estimator counts and
    // only the absence of the exact-BPE banner hinted at the typo)
    flags.filterNot(_.startsWith("--bpe-vocab=")).foreach { f =>
      System.err.println(s"[graft] unrecognized flag: $f (known: --bpe-vocab=<merges file>)")
      sys.exit(2)
    }

    val workDir = args.headOption.getOrElse("/tmp/graft-build")
    val nDocs = if (args.length > 1) args(1).toLong else 500L
    val master = if (args.length > 2) args(2) else s"local[${Runtime.getRuntime.availableProcessors()}]"
    val seed = if (args.length > 3) args(3).toLong else Corpus.DefaultSeed

    val builder = graft.core.Sessions.builder(master, "graft-kg-build",
        math.max(Runtime.getRuntime.availableProcessors(), 8))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    bpeVocab.foreach(builder.config("spark.executorEnv." +
      graft.functions.Tokens.VocabEnv, _))
    val spark = builder.getOrCreate()
    bpeVocab.foreach(p => println(s"[graft] exact-BPE token counts from $p"))
    spark.sparkContext.setLogLevel("WARN")

    val io = new ParquetTableIO(workDir)
    val runId = java.util.UUID.randomUUID().toString
    val cp = new Checkpoints(spark, io, runId)

    val metrics = JobMetrics.listen(spark)
    val t0 = System.nanoTime()
    val docs = Corpus.docs(spark, nDocs, seed)
    // extraction client: the deterministic extractor by default; an
    // HTTP-backed one (real model endpoint) when GRAFT_EXTRACTOR_URL is
    // set — same SpanExtractor seam, same bounded-concurrency fan-out
    val extractor = graft.extract.HttpExtractor.fromEnv() match {
      case Some(http) =>
        println(s"[graft] using HTTP extractor at ${sys.env(graft.extract.HttpExtractor.UrlEnv)}")
        http
      case None => new DeterministicExtractor
    }
    val result = BuildPipeline.run(docs, extractor, Some(cp))
    val nTriples = Par.labelled(spark, "graft-build:count")(result.triples.count())
    val wall = (System.nanoTime() - t0) / 1e9
    JobMetrics.report(spark, metrics).foreach(println)
    spark.sparkContext.removeSparkListener(metrics)

    val (p, r) = BuildPipeline.parity(result.triples, Corpus.oracleTriples(spark, nDocs, seed).toDF())

    println(f"[graft] build done: docs=$nDocs triples=$nTriples wall=$wall%.1fs " +
      f"docs/sec=${nDocs / wall}%.1f triples/sec=${nTriples / wall}%.1f parity P=$p%.4f R=$r%.4f")
    println(s"[graft] lineage (run $runId):")
    io.read(spark, "_lineage").orderBy("stage").show(50, false)
    spark.stop()
  }
}
