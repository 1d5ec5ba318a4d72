package graft.core

import org.apache.spark.sql.SparkSession

/** One place for the engine's SparkSession tuning, shared by every entry
  * point (Bench / Verify / ScalingBench / profiling apps / tests).
  *
  * The two SparkConf-level settings exist because of measured local-mode
  * anti-scaling at 32 threads (jstack evidence, round 3):
  *
  *   - `spark.storage.memoryMapThreshold=1g` — Spark memory-maps shuffle /
  *     disk-store blocks larger than 2 MB by default. munmap requires a
  *     TLB shootdown (an IPI to every CPU the process ran on), whose cost
  *     GROWS with core count — at 32 threads, 11 of 29 runnable executor
  *     threads sat inside mmap0/unmap0. Plain pread scales; mapping buys
  *     nothing for stream-once shuffle blocks.
  *
  *   - `KryoSerializer` — cached-RDD blocks that spill to disk (persisted
  *     intermediates, localCheckpoints) round-trip through
  *     `spark.serializer`; the JavaSerializer default showed up as
  *     ObjectInputStream hot frames on the same samples.
  *
  * Both are read at SparkContext construction, so they must be set on the
  * builder, not with `spark.conf.set` afterwards.
  *
  *   - `spark.sql.codegen.cache.maxEntries=1000` — a static SQL conf (read
  *     once, when the first class is generated), so it too must be set on
  *     the builder. A cold 1 000-doc build compiles ~345 distinct classes;
  *     Spark's default cap of 100 evicts them within the build, so every
  *     later build in the session compiles them again (a second 20-doc
  *     build compiled 477 classes under the default, under 50 with this
  *     cap: SessionsSpec) — and each StreamingBuild micro-batch is such a
  *     build. 1000 holds about three builds' classes; each entry's key is
  *     its generated source, so the cap also bounds the heap it pins.
  *
  * The SQL-level settings below are the engine's session defaults
  * (formerly mutated inside BuildPipeline.run — a build must NOT leak conf
  * changes into a caller's session, so they live here, set once at
  * construction):
  *
  *   - `autoBroadcastJoinThreshold=-1` — corpus-proportional intermediates
  *     must never be driver-broadcast: building + java-serializing an
  *     UnsafeHashedRelation is SINGLE-THREADED on the driver and stalls
  *     every executor while it runs (jstack at 96k docs: one
  *     broadcast-exchange thread RUNNABLE, all workers parked) — a
  *     non-scaling cost that grows with the corpus on a real cluster too.
  *     Explicit broadcast() hints (genuinely tiny tables) are unaffected.
  *   - `preferSortMergeJoin=false` — the build's equi-joins key on
  *     (doc_id[, chunk_id], name): the probe side is the wide mention
  *     stream, the build side slim mapping/node-key relations.
  *     ShuffledHashJoin streams the probe side unsorted; SMJ would SORT
  *     the wide side in every join — at 32 concurrent sort tasks that
  *     saturates memory bandwidth long before CPU (measured: materialize
  *     stages 15 s on 8 cores vs ~175 s on 32 under SMJ).
  *   - `shuffledHashJoinLocalMapThreshold=128m` — static SHJ eligibility
  *     derives from autoBroadcastJoinThreshold (disabled above), so the
  *     conversion happens at RUNTIME: AQE rewrites SMJ→SHJ whenever the
  *     accurate per-partition build-side size is under this threshold.
  *   - `objectHashAggregate.sortBased.fallbackThreshold` — collect_set
  *     provenance aggregations silently fall back to SORT-based
  *     aggregation after 128 in-memory groups (default); groups here are
  *     per-(doc, name) and small, so keep the agg hash-based.
  *   - `icu.caseMappings.enabled=false` — `lower()`/`upper()` map case
  *     with `UTF8String.toLowerCase` (the JVM's rules), not through ICU:
  *     the first ICU case mapping initializes `CollationAwareUTF8String`,
  *     which took 1.1 s in a fresh JVM (1 113 and 1 141 ms measured) while
  *     every `graft-link:names` task blocked on it — the linker's
  *     `lower(trim(display))` is the build's first `lower()`. Both paths
  *     map ASCII the same way, and the native text expressions
  *     (WordGramsExpr) already lower-case with `UTF8String.toLowerCase`.
  */
object Sessions {

  def builder(master: String, appName: String,
              shufflePartitions: Int): SparkSession.Builder = {
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.storage.memoryMapThreshold", "1g")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.shuffledHashJoinLocalMapThreshold", "134217728")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
  }

  def local(cores: Int, appName: String): SparkSession = {
    val s = builder(s"local[$cores]", appName, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session against a local standalone cluster — the faithful "N vs 4N
    * executors" emulation for the scaling criterion: each worker is a
    * separate 8-core JVM pinned to its own core block with a per-executor
    * heap that stays CONSTANT as the cluster grows, exactly like a real
    * scale-out (more executors, same heap each — never one 4x-fatter JVM).
    *
    * This matters on this sandbox beyond fidelity: committing memory is
    * catastrophically non-linear in JVM size here (measured: a 12 GiB
    * pre-touch takes 4 s, a 48 GiB one 8 min with 185 CPU-min of SYSTEM
    * time — the guest/host fault path degrades past ~16 GiB per process),
    * so a single local[32] JVM with a 4x heap measures the VM's memory
    * subsystem, not the engine. Executors also each get their own G1
    * instance sized to 8 threads, their own shuffle scratch, and real
    * netty shuffle/broadcast between JVMs.
    */
  def cluster(masterUrl: String, totalCores: Int, execCores: Int,
              execHeapGb: Int, appName: String): SparkSession = {
    // >1 task wave per stage: with exactly cores-many shuffle partitions a
    // single straggler idles every other core until the stage barrier; a
    // few waves let the scheduler backfill (real clusters run 2-4 waves).
    // Scales with the leg's core count, so both legs see the same waves.
    // Two waves: the one-wave layout is exactly the straggler-pathological
    // configuration described above.
    val b = builder(masterUrl, appName, totalCores * 2)
      .config("spark.cores.max", totalCores.toString)
      .config("spark.executor.cores", execCores.toString)
      .config("spark.executor.memory", s"${execHeapGb}g")
      // fixed executor heaps (-Xms=-Xmx): real executors run fixed heaps.
      // Deliberately NOT AlwaysPreTouch here: concurrent pre-touch of all
      // executors' heaps saturates this sandbox's guest fault path (4x10g
      // concurrent = minutes of 97%-system time box-wide, vs 4s for one
      // 12g JVM) — the untimed warmup build touches the working set
      // instead, spread over real allocation.
      .config("spark.executor.extraJavaOptions",
        (s"-Xms${execHeapGb}g " +
          sys.props.getOrElse("graft.execJavaOpts", "")).trim)
      // One executor per 8-core worker: every "remote" fetch is loopback,
      // so waiting for process-locality only idles cores at stage starts —
      // and it idles ONLY the multi-executor layout (a single local[n]
      // executor is always process-local), which would bias the N-vs-4N
      // comparison itself.
      .config("spark.locality.wait", "0")
      .config("spark.executor.extraClassPath",
        sys.props.getOrElse("graft.classes",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
