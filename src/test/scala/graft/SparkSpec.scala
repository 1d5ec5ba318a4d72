package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(8, "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` in a fresh cache scope and close it afterwards. */
  def scoped[T](body: => T): T = {
    val scope = new graft.core.Materialize.Scope
    try scope.within(body) finally scope.close()
  }

  /** Ids of the RDDs the session currently caches. */
  def cachedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}
