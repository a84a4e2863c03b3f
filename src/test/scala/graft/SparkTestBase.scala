package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
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

  /** The deepest Spark error condition and parameters behind a failure. */
  def condition(t: Throwable): (String, Map[String, String]) =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .collect { case st: SparkThrowable if st.getCondition != null => st }
      .toSeq.lastOption
      .map(st => (st.getCondition, st.getMessageParameters.asScala.toMap))
      .getOrElse(fail(s"no Spark error condition in $t", t))

  /** Runs `body` with the session confs `kvs` set, then restores them. */
  def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
