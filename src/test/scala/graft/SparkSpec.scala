package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` (which renders a plan string) with
    * `spark.sql.maxPlanStringLength` lifted, so a `contains` check sees the
    * whole plan and not a capped prefix ([[Sessions.local]] caps it at
    * 64 KB). Restores the cap afterwards. */
  def withFullPlanStrings[T](body: => T): T = {
    val key = "spark.sql.maxPlanStringLength"
    val capped = spark.conf.get(key)
    spark.conf.unset(key)
    try body
    finally spark.conf.set(key, capped)
  }

  /** The whole executed plan of `df` as a string (see [[withFullPlanStrings]]). */
  def executedPlanString(df: DataFrame): String =
    withFullPlanStrings(df.queryExecution.executedPlan.toString)
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4)
}
