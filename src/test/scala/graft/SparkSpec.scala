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

  /** `body`'s result and the number of Spark jobs it started. The
    * listener bus is drained before the count is read, so every job
    * `body` started is in it. */
  def countJobs[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.GraftAccess.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Ids of the RDDs the session's context holds persisted. */
  def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `path:line` of every Scala line under `root` matching `pattern`,
    * outside the `allowed` files (paths relative to `root`). */
  def sourceHits(root: String, pattern: scala.util.matching.Regex,
      allowed: String*): Vector[String] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(root)
    val files = scala.util.Using.resource(java.nio.file.Files.walk(dir))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector)
    assert(files.nonEmpty, s"no sources under ${dir.toAbsolutePath}")
    for {
      f <- files if !allowed.contains(dir.relativize(f).toString)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"${dir.relativize(f)}:${i + 1}"
  }

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
