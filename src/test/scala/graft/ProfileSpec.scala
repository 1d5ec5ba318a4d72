package graft

import graft.core.{JobMetrics => Profile, Par}
import org.apache.spark.scheduler._

/** The profiler's attribution rules and the job-label helper it reads. */
class ProfileSpec extends SparkSpec {

  private def description = spark.sparkContext.getLocalProperty("spark.job.description")

  test("profile: a reused exchange counts once, under the label of its first job") {
    val sc = spark.sparkContext
    assert(description === null, "an earlier labelled body left its label behind")
    val l = Profile.listen(spark)
    try {
      // 4 map partitions, 17 keys each after the map-side combine
      val sums = sc.parallelize(1 to 2000, 4).map(i => (i % 17, i.toLong)).reduceByKey(_ + _)
      Par.labelled(spark, "spec:shuffle")(sums.count())
      // lists the shuffle-map stage again, skipped: its output is reused
      Par.labelled(spark, "spec:reuse")(sums.collect())
      sc.parallelize(1 to 10, 2).count()
      Profile.report(spark, l)
      val rows = l.rows.map(r => r.label -> r).toMap
      val first = rows("spec:shuffle")
      assert((first.jobs, first.stages) === (1, 2))
      assert(first.tasks === 4 + sums.getNumPartitions, "4 map tasks plus the reduce tasks")
      assert(first.shuffleWriteBytes > 0L)
      assert(first.shuffleWriteRecords === 4L * 17L)
      val reuse = rows("spec:reuse")
      assert((reuse.jobs, reuse.stages, reuse.tasks) === (1, 1, sums.getNumPartitions))
      assert((reuse.shuffleWriteBytes, reuse.shuffleWriteRecords) === (0L, 0L))
      assert(rows(Profile.Unlabelled).jobs >= 1, "the unlabelled job has its own row")
      val t = l.totals
      val all = l.rows
      assert(all.map(_.jobs).sum === t.jobs)
      assert(all.map(_.stages).sum === t.stages)
      assert(all.map(_.tasks).sum === t.tasks)
      assert(all.map(_.taskMs).sum === t.taskMs)
      assert(all.map(_.shuffleWriteBytes).sum === t.shuffleWriteBytes)
      assert(all.map(_.shuffleWriteRecords).sum === t.shuffleWriteRecords)
    } finally sc.removeSparkListener(l)
  }

  test("profile: a stage listed by a later, overlapping job stays with the first") {
    // the order that mis-attributed shared stages when the last job to list
    // a stage won: job 1 and job 2 both list stage 10 before it completes
    val l = new Profile.Listener
    def stage(id: Int, attempt: Int) =
      new StageInfo(id, attempt, s"s$id", 1, Seq.empty, Seq.empty, "", null, Seq.empty, None, 0, false, 0)
    def props(label: String) = { val p = new java.util.Properties; p.setProperty("spark.job.description", label); p }
    l.onJobStart(SparkListenerJobStart(1, 1000L, Seq(stage(10, 0), stage(11, 0)), props("a")))
    l.onJobStart(SparkListenerJobStart(2, 1500L, Seq(stage(10, 0), stage(12, 0)), props("b")))
    l.onStageCompleted(SparkListenerStageCompleted(stage(10, 0)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(10, 0))) // same attempt: once
    l.onStageCompleted(SparkListenerStageCompleted(stage(10, 1))) // retry: its own attempt
    l.onStageCompleted(SparkListenerStageCompleted(stage(11, 0)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(12, 0)))
    l.onJobEnd(SparkListenerJobEnd(1, 4000L, JobSucceeded))
    l.onJobEnd(SparkListenerJobEnd(2, 3000L, JobSucceeded))
    val rows = l.rows.map(r => r.label -> r).toMap
    assert((rows("a").jobs, rows("a").stages, rows("a").spanMs) === (1, 3, 3000L))
    assert((rows("b").jobs, rows("b").stages, rows("b").spanMs) === (1, 1, 1500L))
    assert((l.totals.jobs, l.totals.stages, l.totals.spanMs) === (2, 4, 3000L))
  }

  test("fork runs its body under the caller's label, and a reused pool thread keeps none of its own") {
    val sc = spark.sparkContext
    val l = Profile.listen(spark)
    try {
      def forkedCount() = Par.await(Par.fork(spark)(sc.parallelize(1 to 10, 2).count()))
      Par.labelled(spark, "spec:fork")(forkedCount())
      // let the pool thread go idle, so the next fork reuses it with the
      // label it last ran under still set on it
      Thread.sleep(200)
      forkedCount()
      Profile.report(spark, l)
      assert(l.rows.map(r => r.label -> r.jobs).toMap === Map("spec:fork" -> 1, Profile.Unlabelled -> 1))
    } finally sc.removeSparkListener(l)
  }

  test("label helper restores the previous label, also after a throwing body") {
    Par.labelled(spark, "spec:outer") {
      intercept[IllegalStateException] {
        Par.labelled(spark, "spec:inner") {
          assert(description === "spec:inner")
          throw new IllegalStateException("planted")
        }
      }
      assert(description === "spec:outer")
    }
    assert(description === null)
  }
}
