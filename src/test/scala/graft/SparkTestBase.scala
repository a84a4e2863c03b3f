package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  lazy val spark: SparkSession = Sessions.local(cpus = 4)
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark

  /** Spark jobs `body` submits, counted by job group, with the listener
    * bus drained so every job is seen.
    */
  def jobsFor(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.sql.graftglue.Bridge.drainListenerBus(spark)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
