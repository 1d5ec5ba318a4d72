package graft.app

import graft.core.{Corpus, JobMetrics, Par, Sessions}
import graft.extract.DeterministicExtractor
import graft.pipeline.BuildPipeline
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Scaling-efficiency evidence for BASELINE.json north_rule.
  *
  * One process runs one leg: the *identical* end-to-end KG build on the
  * same seeded input, either at local[n] in a JVM pinned to n cores
  * (`level`, driven by `scripts/scaling_paired.sh`) or against a
  * standalone cluster of 8-core executors (`cluster`, driven by
  * `scripts/scaling_cluster.sh`). Two methodology guards make the
  * numbers honest:
  *
  *   1. per-leg JIT warmup — a small build runs (untimed) in the leg's
  *      session before the measured build, so no leg pays one-time
  *      codegen/JIT cost;
  *   2. hardware calibration — an embarrassingly-parallel pure-CPU job
  *      (fixed total work, 256 independent tasks) is timed in each leg.
  *      This sandbox is a contended VM: 32 threads deliver ~21 effective
  *      cores (migration-thread steal), so even a *perfectly parallel*
  *      job cannot speed up 4.0x from 8→32 threads. The calibration
  *      measures what the hardware actually allows, and the engine's
  *      speedup is reported both raw (vs the nominal 4x) and normalized
  *      (vs the hardware-achievable speedup) — the normalized number is
  *      the one that transfers to a real N→4N executor cluster, where
  *      executors do not share cores.
  *
  * Task-seconds are executor run time summed over the build's stages by
  * [[graft.core.JobMetrics]], the number `Profile` reports. Older csv
  * rows of the same generation carry the scheduler-side task wall
  * (`taskInfo.duration`) instead; every pooled number is a within-round
  * ratio of one binary, so the two kinds never meet in one ratio.
  *
  * Usage:
  * {{{
  *   ScalingBench level <cores> <nDocs> [csv]
  *   ScalingBench cluster <masterUrl> <totalCores> <nDocs> [csv]
  *   ScalingBench summarize <csv> [outMd] [note ...]
  * }}}
  */
object ScalingBench {

  private val buildSeq = new java.util.concurrent.atomic.AtomicInteger

  /** One timed build: wall, triple count, summed task-seconds (the total
    * executor time the work consumed — its growth between legs is the
    * per-task slowdown the shared box imposes at higher thread counts),
    * and occupancy (task-seconds / (wall x cores) — the fraction of
    * core-time actually running tasks, i.e. the scheduling/barrier
    * efficiency the ENGINE owns: low occupancy means cores idle between
    * stages, high occupancy means the tasks themselves are slow). */
  case class BuildRun(wall: Double, triples: Long, taskSum: Double, occ: Double)

  private def build(spark: SparkSession, nDocs: Long, cores: Int = 0): BuildRun = {
    val metrics = JobMetrics.listen(spark)
    // GRAFT_SCALING_CKPT=<base>: route pipeline stages through the parquet
    // Checkpoints work dir (the production path) instead of cached blocks.
    // On multi-executor legs this is the honest emulation — a real build at
    // this scale checkpoints stages to DISTRIBUTED storage that any executor
    // can read, whereas BlockManager-cached stage cuts pin each partition to
    // the executor that computed it (off-executor tasks must remote-fetch or
    // recompute — the local-mode shortcut the cluster criterion must not
    // lean on). Fresh subdir per build: warmup and timed builds never share
    // a resume dir.
    val ckpt = sys.env.get("GRAFT_SCALING_CKPT").map { base =>
      val dir = s"$base/b${buildSeq.incrementAndGet()}"
      new graft.io.Checkpoints(spark, new graft.io.ParquetTableIO(dir),
        java.util.UUID.randomUUID().toString)
    }
    val t0 = System.nanoTime()
    val triples = BuildPipeline
      .run(Corpus.docs(spark, nDocs), new DeterministicExtractor, checkpoints = ckpt)
      .triples
    val n = Par.labelled(spark, "graft-scaling:count")(triples.count())
    val wall = (System.nanoTime() - t0) / 1e9
    val table = JobMetrics.report(spark, metrics)
    spark.sparkContext.removeSparkListener(metrics)
    val t = metrics.totals
    val taskSum = t.taskMs / 1000.0
    val occ = if (cores > 0) taskSum / (wall * cores) else 0.0
    if (cores > 0) {
      table.foreach(println)
      println(f"[scaling-occ] cores=$cores jobs=${t.jobs} stages=${t.stages} " +
        f"tasks=${t.tasks} taskSum=$taskSum%.1fs occupancy=$occ%.2f")
    }
    BuildRun(wall, n, taskSum, occ)
  }

  /** Fixed total CPU work in 256 independent tasks — the hardware ceiling
    * probe. ~0.4 s of work per task single-core: long enough that the
    * probe measures CPU availability rather than task-scheduling latency
    * (a too-small probe made the measured ceiling noise-dominated). */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 256L, 1L, 256).rdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        var h = 0x9e3779b97f4a7c15L + it.next()
        var i = 0
        while (i < 400000000) { h = (h ^ (h >>> 31)) * 0xff51afd7ed558ccdL; i += 1 }
        Iterator.single(h)
      }
    }.count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Memory-bandwidth ceiling probe: same fixed-total-work shape as
    * [[calibrate]] but streaming 64 MB per task (xor sweeps) instead of
    * register-only hashing. On this box the DRAM path saturates early —
    * measured 51 / 80 / 95 / 101 GB/s at 8 / 16 / 24 / 32 threads, i.e. a
    * hardware ceiling of ~2x from 8 to 32 threads for PURE streaming —
    * whereas the CPU probe reaches 3.5-4x. The build mixes both, so its
    * achievable speedup on ONE shared socket lies between the two
    * ceilings; a real 4N-executor cluster multiplies sockets (and so
    * bandwidth) with the executors, which is why the per-task slowdown
    * (taskSum inflation) is a property of the box, not of the plan. */
  private def calibrateMem(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 128L, 1L, 128).rdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val n = 64 * 1024 * 1024 / 8
        val a = new Array[Long](n)
        var h = 0x9e3779b97f4a7c15L + it.next()
        var pass = 0
        while (pass < 4) {
          var i = 0
          while (i < n) { a(i) ^= h; h += a(i); i += 1 }
          pass += 1
        }
        Iterator.single(h)
      }
    }.count()
    (System.nanoTime() - t0) / 1e9
  }

  /** One leg: warm up, then time the build between two runs of the CPU
    * probe (host CPU service varies minute to minute, so one pre-build
    * sample can misstate the ceiling the build actually ran under; the
    * mean of before/after is the window estimate) and one of the memory
    * probe. Appends
    * `cores,nDocs,buildSecs,calibSecs,<col5>,triples,calibMemSecs,taskSecs,occupancy`
    * to `csv`; `col5` is the visible processor count of a `level` leg and
    * `<cores>c` for a `cluster` leg. */
  private def leg(spark: SparkSession, cores: Int, nDocs: Long, csv: String,
                  banner: String, col5: String): Unit = {
    build(spark, 1000L) // JIT/codegen warmup, untimed
    val calibPre = calibrate(spark)
    val run = build(spark, nDocs, cores)
    val calibPost = calibrate(spark)
    val calibMem = calibrateMem(spark)
    val calib = (calibPre + calibPost) / 2
    spark.stop()
    println(f"[scaling] $banner: build=${run.wall}%.1fs calib=$calib%.1fs (pre=$calibPre%.1f post=$calibPost%.1f) mem=$calibMem%.1fs triples=${run.triples}")
    Files.write(Paths.get(csv),
      f"$cores,$nDocs,${run.wall}%.2f,$calib%.2f,$col5,${run.triples},$calibMem%.2f,${run.taskSum}%.2f,${run.occ}%.3f\n".getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Generation tag stamped into every appended row: ties a measurement to
    * the methodology + engine era that produced it, so Bench.scalingSummary
    * never mixes rows from different engine versions into one distribution
    * (rows from older generations stay in the md for the record). Bump when
    * the engine or methodology changes materially. */
  val Generation = "g6" // g6: desc-bearing chunk aggregation removed from the
  // linker main path (slim names straight from the mention stream;
  // ambiguous-doc-only late chunk agg; id-encoded union-find) —
  // linker shuffle -39.5% at 96k docs. g5: linker desc-payload byte diet.

  /** Summarize the csv produced by repeated [[leg]] runs: per-level
    * best-of (contention only adds time) plus the per-round PAIRED ratios
    * (adjacent 8/32 legs of the same round), appended as a markdown row
    * stamped with [[Generation]] and the building commit (GRAFT_COMMIT). */
  private def summarize(csv: String, out: Option[String],
                        note: String = "affinity-isolated JVMs"): Unit = {
    val src = scala.io.Source.fromFile(csv)
    case class Leg(cores: Int, docs: Long, wall: Double, calib: Double,
                   triples: Long, calibMem: Double, taskSum: Double, occ: Double)
    val rows = try src.getLines().map(_.split(",")).collect {
      case a @ Array(c, n, s, cal, _*) =>
        Leg(c.toInt, n.toLong, s.toDouble, cal.toDouble,
          if (a.length > 5) a(5).toLong else -1L,
          if (a.length > 6) a(6).toDouble else -1.0,
          if (a.length > 7) a(7).toDouble else -1.0,
          if (a.length > 8) a(8).toDouble else -1.0)
    }.toVector finally src.close()
    // determinism gate: the north rule requires IDENTICAL output at N and
    // 4N — every leg must report the same triple count (caught a real bug
    // once: mutate-during-iteration in the per-key union-find lost ~10 ppm
    // of vertices only under multi-executor shuffle arrival order)
    val tCounts = rows.map(_.triples).filter(_ >= 0).distinct
    require(tCounts.size <= 1,
      s"triple counts differ across legs: ${tCounts.mkString(", ")} — output is parallelism-dependent")
    val nDocs = rows.head.docs
    val l8 = rows.filter(_.cores == 8)
    val l32 = rows.filter(_.cores == 32)
    // pairing gate: legs are paired POSITIONALLY (round k's 8c row with
    // round k's 32c row), so a single crashed leg (the driver script
    // swallows leg exit codes) would silently misalign every later pair —
    // require the csv to be complete, alternating (8c, 32c) rounds.
    require(rows.size == l8.size + l32.size && l8.size == l32.size &&
      rows.grouped(2).forall(p => p.size == 2 && p(0).cores == 8 && p(1).cores == 32),
      s"csv legs are not complete alternating (8c, 32c) rounds " +
        s"(${rows.map(_.cores).mkString(",")}) — a leg crashed; refusing to pair")
    val bestT8 = l8.map(_.wall).min; val bestT32 = l32.map(_.wall).min
    val engineSpeedup = bestT8 / bestT32
    val hwSpeedup = l8.map(_.calib).min / l32.map(_.calib).min
    val paired = l8.zip(l32)
    val pairedSp = paired.map { case (a, b) => a.wall / b.wall }
    val pairedHw = paired.map { case (a, b) => a.calib / b.calib }
    // exact decomposition per paired round:
    //   speedup = 4 x (occ32/occ8) / (taskSum32/taskSum8)
    // occ ratio is the ENGINE-owned term (scheduling + barrier efficiency —
    // the part that transfers to a real cluster); taskSum inflation is the
    // shared-box per-task slowdown (DRAM bandwidth saturates ~2x from 8 to
    // 32 threads here — see calibrateMem — while a real 4N cluster
    // multiplies sockets with executors).
    val occRatio = paired.collect { case (a, b) if a.occ > 0 && b.occ > 0 => b.occ / a.occ }
    val inflation = paired.collect { case (a, b) if a.taskSum > 0 && b.taskSum > 0 => b.taskSum / a.taskSum }
    val memCeil = paired.collect { case (a, b) if a.calibMem > 0 && b.calibMem > 0 => a.calibMem / b.calibMem }
    def fm(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("/")
    println(f"[scaling] docs=$nDocs rounds=${pairedSp.size} paired speedups=${fm(pairedSp)} (hw ceilings ${fm(pairedHw)})")
    if (occRatio.nonEmpty)
      println(f"[scaling] decomposition: eff_engine(occ32/occ8)=${fm(occRatio)} taskInflation=${fm(inflation)} memCeil=${fm(memCeil)}")
    println(f"[scaling] best-of: local[8]=$bestT8%.1fs local[32]=$bestT32%.1fs speedup=$engineSpeedup%.2fx hw=$hwSpeedup%.2fx raw=${engineSpeedup / 4.0}%.2f norm=${engineSpeedup / hwSpeedup}%.2f")
    val commit = sys.env.getOrElse("GRAFT_COMMIT", "unknown")
    val decomp = if (occRatio.isEmpty) "" else s" eff_engine=${fm(occRatio)} inflation=${fm(inflation)} memceil=${fm(memCeil)}"
    val line =
      f"| $nDocs | 8c: $bestT8%.1fs (${nDocs / bestT8}%.1f docs/s) | 32c: $bestT32%.1fs (${nDocs / bestT32}%.1f docs/s) | $engineSpeedup%.2fx | $hwSpeedup%.2fx | ${engineSpeedup / 4.0}%.2f | ${engineSpeedup / hwSpeedup}%.2f | gen=$Generation commit=$commit $note; paired ratios ${fm(pairedSp)};$decomp |"
    println(line)
    out.foreach { p =>
      Files.write(Paths.get(p), (line + "\n").getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  def main(args: Array[String]): Unit = {
    // csv rows and md rows are f-formatted; a comma-decimal default locale
    // would corrupt both — pin ROOT before any formatting
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    def csvOf(rest: List[String]) = rest.headOption.getOrElse("/tmp/scaling_raw.csv")
    args.toList match {
      // `scripts/scaling_paired.sh` runs this under `taskset -c 0-(n-1)`,
      // so the leg's JVM sees exactly n processors for EVERYTHING — tasks,
      // GC (G1 sizes its thread pools from the visible core count), driver
      // — as a real n-core executor would
      case "level" :: cores :: nDocs :: rest =>
        val visible = Runtime.getRuntime.availableProcessors()
        leg(Sessions.local(cores.toInt, s"graft-scaling-$cores"), cores.toInt, nDocs.toLong,
          csvOf(rest), s"level local[$cores] (visible procs=$visible)", visible.toString)
      // workers are separate pinned 8-core JVMs launched by
      // `scripts/scaling_cluster.sh`, with constant per-executor heaps —
      // the faithful N-vs-4N-executor emulation (see Sessions.cluster)
      case "cluster" :: masterUrl :: cores :: nDocs :: rest =>
        val total = cores.toInt
        val heapGb = sys.env.get("GRAFT_EXEC_HEAP_GB").map(_.toInt).getOrElse(10)
        leg(Sessions.cluster(masterUrl, total, execCores = 8, execHeapGb = heapGb,
            appName = s"graft-scaling-c$total"), total, nDocs.toLong, csvOf(rest),
          s"cluster cores=$total (${total / 8} x 8-core executors)", s"${total}c")
      case "summarize" :: csv :: rest =>
        summarize(csv, rest.headOption,
          if (rest.size > 1) rest.tail.mkString(" ") else "affinity-isolated JVMs")
      case _ =>
        System.err.println("usage: ScalingBench level <cores> <nDocs> [csv] | " +
          "cluster <masterUrl> <totalCores> <nDocs> [csv] | summarize <csv> [outMd] [note ...]")
        sys.exit(2)
    }
  }
}
