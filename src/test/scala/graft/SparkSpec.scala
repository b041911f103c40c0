package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests must not mutate global session state). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Leak guard: a test must leave the session's cache empty. Every
    * pin belongs to a scope that releases it, and every other persist
    * is released on all paths, so a cached plan left behind is a leak
    * in the program. The guard clears it, so the next test starts
    * clean, and fails the test that leaked. */
  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    val cm = SparkSpec.session.sharedState.cacheManager
    if (cm.isEmpty) outcome
    else {
      val leaked = org.apache.spark.sql.CachedPlans.count(SparkSpec.session)
      cm.clearCache()
      if (outcome == Succeeded)
        Failed(s"$leaked cached plan(s) leaked past the end of the test")
      else outcome
    }
  }
}
