package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one benchmark run reports: operations attempted and failed,
  * correctness checks, metrics, and the oracle comparisons left for the
  * Python side (DuckDB) to make. */
final class Run {
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** (query name, oracle SQL, directory of the engine's output) */
  val oracles = mutable.ArrayBuffer.empty[(String, String, String)]

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    ok
  }

  /** Compare a query's written output with its frozen DuckDB oracle:
    * the rows must be equal. */
  def oracle(query: String, outDir: String): Unit =
    oracles += ((query, graft.SparkEntry.oracleSql(query), outDir))

  /** A value that is not finite is not recorded, so it reads as missing. */
  def metric(name: String, value: Double, unit: String): Unit =
    if (!value.isNaN && !value.isInfinite) metrics(name) = (value, unit)

  /** Run one timed operation. A throw counts as a failed operation and its
    * wall is discarded; otherwise the caller validates the output with
    * [[accept]] before the wall may enter any timing. */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      Some((out, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] operation $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Wrong output: the operation counts as failed. */
  def accept(name: String, ok: Boolean, detail: String = ""): Boolean = {
    if (!check(name, ok, detail)) failed += 1
    ok
  }

  def toJson: String = Run.json.writeValueAsString(Map(
    "attempted" -> attempted,
    "failed" -> failed,
    "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "oracles" -> oracles.map { case (n, sql, dir) => Map("name" -> n, "sql" -> sql, "out" -> dir) },
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
}

object Run {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** Engine-independent hygiene and JVM measurements. */
object Jvm {
  /** Seconds from JVM start to now. */
  def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Live old-generation occupancy in MiB: the old-gen pool's collection
    * usage (`MemoryPoolMXBean.getCollectionUsage`) right after a full
    * collection, which leaves every live object in the old generation. */
  def liveHeapMb(): Double = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .getOrElse(throw new IllegalStateException("no old-generation heap pool"))
    old.getCollectionUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Free every cached block of the session. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }

  def noCachedRdds(spark: SparkSession): Boolean = spark.sparkContext.getPersistentRDDs.isEmpty

  /** Bytes under a directory (0 when absent). */
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(c => bytes(c.getPath)).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
  }
}
