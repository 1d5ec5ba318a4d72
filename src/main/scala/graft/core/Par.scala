package graft.core

import org.apache.spark.sql.SparkSession

/** Concurrent submission of INDEPENDENT Spark actions. Spark's scheduler
  * happily runs jobs submitted from multiple threads side by side; on a
  * multi-executor cluster this is exactly how independent DAG branches
  * overlap instead of paying one job-latency each, and in local mode it
  * keeps cores busy through the small stage-boundary jobs that otherwise
  * serialize the build (~1-2 s scheduling+shuffle latency apiece).
  * [[labelled]] names the jobs of each such branch, so a profile can
  * attribute them.
  */
object Par {

  private lazy val pool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
        val t = new Thread(r, "graft-par"); t.setDaemon(true); t
      })

  private val JobDescription = "spark.job.description"

  /** Run `body` on the pool; the active SparkSession, the job label and
    * the current [[Materialize.Scope]] are thread-local, so re-pin all
    * three to the caller's before any SQL work (a reused pool thread
    * otherwise keeps whatever label it last ran under, and its caches
    * would escape the caller's scope). */
  def fork[T](spark: SparkSession)(body: => T): scala.concurrent.Future[T] = {
    val label = spark.sparkContext.getLocalProperty(JobDescription)
    val scope = Materialize.Scope.current
    scala.concurrent.Future {
      SparkSession.setActiveSession(spark)
      spark.sparkContext.setJobDescription(label)
      Materialize.Scope.pinned(scope)(body)
    }(pool)
  }

  /** Run `body` with every Spark job it submits from this thread labelled
    * `label` (`spark.job.description`: the UI and [[JobMetrics]] attribute
    * jobs by it, and AQE sub-jobs inherit it). The previous label is
    * restored even when `body` throws, so a nested label never leaves its
    * caller's later jobs unlabelled. */
  def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
}

/** Materialize-once for INTERNAL multi-consumer intermediates: one
  * mechanism, the stage cut ([[stageCut]] and its variants) — persist the
  * plan's InternalRow RDD and wrap it as a fresh LogicalRDD. Persist
  * instead of localCheckpoint, for two reasons that matter in a shared
  * local-mode heap:
  *   1. blocks are freed DETERMINISTICALLY by `unpersist()` — localCheckpoint
  *      blocks wait for driver-GC + ContextCleaner and pin memory for the
  *      whole build;
  *   2. lineage stays intact, so freeing early is always SAFE — a late
  *      consumer recomputes from the upstream checkpoint instead of
  *      crashing on missing checkpoint blocks.
  * Not `Dataset.persist`: that stores a columnar CachedBatch which every
  * consumer scan decodes through a generated accessor, and its SQL
  * `count()` plans an aggregate with an exchange and a one-task final
  * stage of its own.
  *
  * Cache lifetime is decided in ONE place, [[Scope]]: every cache made
  * here registers with the innermost scope open on the calling thread and
  * is freed when that scope closes. With no scope open nothing registers,
  * and the cache stays pinned until the caller sweeps
  * `sparkContext.getPersistentRDDs` (what Bench does between queries).
  * Iterative callers still free superseded iterations themselves, through
  * the RDD [[stageCutHandleN]] returns.
  */
object Materialize {

  /** SERIALIZED storage for every cached intermediate. Two reasons:
    *   1. remote fetch of a cached block between executors streams the
    *      stored bytes directly — a DESERIALIZED level must serialize
    *      per fetch, and Spark 4.1 fails outright on remote reads of
    *      empty deserialized partitions ("Empty buffer received for non
    *      empty block"), which at shuffle.partitions > live data volume
    *      (small builds, AQE-coalesced tails) turned every off-executor
    *      task over an empty partition into a full lineage recompute —
    *      measured 8x aggregate-CPU amplification at 4x8 executors;
    *   2. serialized UnsafeRow blocks are compact (Kryo + LZ4), the right
    *      default when aggregate cache across a cluster is the scarce
    *      resource. */
  private val CacheLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** A registry of the caches made while it is current; `close()` frees
    * them, newest first. It is current only while a [[within]] body runs
    * on that thread (and on the [[Par.fork]] threads that body starts), so
    * a function never returns with its scope still open on the caller's
    * thread. A scope opened while another is current is also freed by
    * that outer scope's close. Registering with a closed scope throws, so
    * a cache made after its owner's cleanup fails loudly instead of
    * leaking. Thread-safe: forked branches register concurrently. */
  final class Scope extends AutoCloseable {
    private val frees = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    private var closed = false
    Option(Scope.current).foreach(_.register(() => close()))

    private[Materialize] def register(free: () => Unit): Unit = synchronized {
      if (closed) throw new IllegalStateException("cache registered with a closed Materialize.Scope")
      frees += free
    }

    /** Run `body` with this scope current on this thread; the previous
      * one is restored on exit, also when `body` throws. */
    def within[T](body: => T): T = Scope.pinned(this)(body)

    /** Free every registered cache; later calls do nothing. */
    def close(): Unit = {
      val fs = synchronized { closed = true; val fs = frees.reverse; frees.clear(); fs }
      fs.foreach(_())
    }
  }

  object Scope {
    private val active = new ThreadLocal[Scope]

    /** The scope caches made on this thread register with; null if none. */
    private[core] def current: Scope = active.get

    /** Run `body` with `scope` (null: none) current on this thread. */
    private[core] def pinned[T](scope: Scope)(body: => T): T = {
      val prev = active.get
      active.set(scope)
      try body finally active.set(prev)
    }

    /** Run `body` in a new scope that outlives it: for layers whose result
      * carries `() => scope.close()` as its cleanup. The scope is closed
      * at once if `body` throws. */
    def open[T](body: Scope => T): T = {
      val scope = new Scope
      try scope.within(body(scope))
      catch { case e: Throwable => scope.close(); throw e }
    }
  }

  private def register(free: () => Unit): Unit =
    Option(Scope.current).foreach(_.register(free))

  /** Persist `rdd` at the engine's cache level, registered with the
    * current scope. */
  def persist[T](rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
    register(() => rdd.unpersist(blocking = false))
    rdd.persist(CacheLevel)
  }

  /** Pipeline-stage materialization: persist the stage's InternalRow RDD
    * and wrap it as a fresh LogicalRDD DataFrame. This cuts the SQL plan
    * tree at the stage boundary (without a cut, each stage's plan embeds
    * every upstream stage's plan — by the final unions the tree is big
    * enough that merely rendering its explain string OOMs an 8 GiB driver)
    * while KEEPING the RDD lineage, so a lost or unfetchable cached block
    * silently recomputes instead of failing the way a truncated
    * localCheckpoint does (multi-executor runs hit exactly that: Spark
    * cannot remote-fetch an empty deserialized cached partition).
    * The `.map(_.copy())` is required because upstream operators reuse
    * their output row buffer — same as Dataset.localCheckpoint's own
    * materialization path. */
  def stageCut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stageCutHandleN(df)._1

  /** [[stageCut]] plus the persisted RDD and the ROW COUNT of the
    * materialized stage. The RDD is for iterative callers that free
    * superseded iterations deterministically (the CC loop would otherwise
    * pin one full pair-table copy per iteration until its scope closes);
    * unpersisting early is always safe, since the lineage is kept. The
    * materializing action is a count anyway, so callers whose convergence
    * test needs the count (the big-star CC fixpoint) get it for free
    * instead of paying a second count job per iteration. */
  def stageCutHandleN(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame,
         org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
         Long) = {
    val rdd = persist(df.queryExecution.toRdd.map(_.copy()))
    val n = rdd.count()
    (org.apache.spark.sql.GraftShims.fromInternalRdd(df.sparkSession, rdd, df.schema), rdd, n)
  }

  /** [[stageCut]] WITHOUT the materializing count: persist + wrap only.
    * The FIRST consumer populates the cache (the block manager's
    * per-partition locking dedups concurrent computation — two forked
    * consumers hitting the same uncomputed cached partition compute it
    * once and share it), so the upstream plan runs exactly once and no
    * count job runs here. It is not lazy for a plan with an exchange:
    * under AQE, `queryExecution.toRdd` runs every shuffle stage of the
    * plan before it returns, so the calling thread blocks on those
    * stages; only the final, exchange-free stage waits for a consumer. */
  def stageCutLazy(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftShims.fromInternalRdd(df.sparkSession,
      persist(df.queryExecution.toRdd.map(_.copy())), df.schema)
}
