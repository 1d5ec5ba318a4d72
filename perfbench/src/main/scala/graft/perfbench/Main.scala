package graft.perfbench

import graft.core.Sessions

/** Benchmark entry point: one workload, one JVM.
  *
  * Usage: Main --workload <build_bulk|neardup_docs> --seed <n>
  *             --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *             --result <file>
  *
  * `--data` holds the committed sf0.1 tables the near-dup inputs are
  * drawn from.
  *
  * `--trace 0` runs the workload untraced and reports its end-to-end
  * metrics; `--trace 1` runs the staged, listener-attributed pass over
  * every layer instead ([[Staged]]) and reports the per-layer metrics.
  * The result (metrics, checks, oracle compares still to make) is
  * written as JSON to `--result`. */
object Main {
  val Names = Seq("build_bulk", "neardup_docs")
  val Cores = 4

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Names.contains(workload), s"--workload must be one of ${Names.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work") // run.py hands over an empty work/run

    val spark = Sessions.local(Cores, "graft-perfbench")
    val sessionS = Jvm.sinceStart
    val run = new Run
    try {
      val ctx = Workloads.Ctx(spark, s"$work/run", s"$work/state", opts("data"), seed, seconds,
        sessionS, run)
      if (traced) Staged.measure(ctx)
      else workload match {
        case "build_bulk" => Workloads.buildBulk(ctx)
        case "neardup_docs" => Workloads.nearDup(ctx)
      }
    } catch {
      case e: Throwable =>
        run.failed += 1
        run.check("run_completed", ok = false, e.toString)
        e.printStackTrace()
    } finally {
      val w = new java.io.PrintWriter(opts("result"), "UTF-8")
      try w.println(run.toJson) finally w.close()
      spark.stop()
    }
  }
}
