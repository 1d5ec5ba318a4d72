package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.util.chaining._

class MeterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("meter-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()
    .tap(_.sparkContext.setLogLevel("WARN"))

  override def afterAll(): Unit = spark.stop()

  private def metered(): (Trace, Meter) = {
    val trace = new Trace
    val meter = new Meter(trace)
    spark.sparkContext.addSparkListener(meter)
    (trace, meter)
  }

  test("a shuffle shared by two jobs is counted once, and skipped by the second job") {
    val (trace, meter) = metered()
    val sc = spark.sparkContext
    val agg = sc.parallelize(1 to 1000, 4).map(x => (x % 10, 1)).reduceByKey(_ + _)
    trace("first")(agg.count())
    meter.drain(sc)
    val once = meter("first").shuffleWriteBytes
    trace("second")(agg.collect())
    meter.drain(sc)
    sc.removeSparkListener(meter)

    assert(once > 0)
    assert(meter("first").shuffleWriteBytes == once)
    assert(meter("first").shuffleWriteRecords == 40) // 4 map tasks x 10 keys
    assert(meter("second").shuffleWriteBytes == 0)
    assert(meter("first").stages == 2 && meter("first").skippedStages == 0)
    assert(meter("second").stages == 1 && meter("second").skippedStages == 1)
    assert(meter("first").jobs == 1 && meter("second").jobs == 1)
  }

  test("a reused exchange inside one plan writes its shuffle once") {
    val (trace, meter) = metered()
    val agg = spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val joined = agg.join(agg.withColumnRenamed("count", "c2"), "k")
    val rows = trace("join")(joined.collect())
    meter.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(meter)

    assert(rows.length == 7)
    assert(joined.queryExecution.executedPlan.toString.contains("Reused"))
    // 4 partial aggregates x 7 keys, once: the reused side writes nothing
    assert(meter("join").shuffleWriteRecords == 28)
  }

  test("a job submitted from another thread belongs to the span open at submission") {
    val (trace, meter) = metered()
    val sc = spark.sparkContext
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    trace("outer") {
      trace("inner")(Await.result(Future(sc.parallelize(1 to 10, 2).count()), Duration.Inf))
    }
    trace("after")(sc.parallelize(1 to 10, 2).count())
    meter.drain(sc)
    sc.removeSparkListener(meter)

    assert(meter("inner").jobs == 1)
    assert(meter("outer").jobs == 0)
    assert(meter("after").jobs == 1)
    assert(trace.all.map(s => (s.name, s.parent)) ==
      Seq(("outer", -1), ("inner", 0), ("after", -1)))
  }

  test("median takes the middle value, or the mean of the two middle ones") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }
}
