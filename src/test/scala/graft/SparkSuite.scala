package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (reference test style:
  * `app/src/test/.../core/util/SparkSuite.scala:7-21`). One session per JVM —
  * suites must not stop() it.
  */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(8)
}

abstract class SparkSuite extends AnyFunSuite {
  def spark: SparkSession = SharedSpark.spark

  /** Runs `body` in a job group; returns its result and its job count. */
  protected def withJobCount[T](group: String)(body: => T): (T, Int) = {
    spark.sparkContext.setJobGroup(group, group)
    try {
      val res = body
      (res, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** True when the session's cache (`Dataset.persist`/`cache`) holds no
    * entry. Pins clear it first: suites share one session. */
  protected def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty
}
