package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{GraftAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** The driver harness every main runs on: one session configuration,
  * one timed query runner and one task census. */
object Harness {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** The one session configuration: `local[cpus]`, one shuffle partition
    * per core, no UI, UTC, AQE on.
    *
    * Heap: `spark.driver.memory` is a no-op for a local-mode session
    * created inside an already-running JVM, so the heap is build.sbt's
    * forked `-Xmx`, i.e. `SPARK_DRIVER_MEM`. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS) which Spark cannot
      // represent; read as LongType epoch-nanos (= DuckDB epoch_ns).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one driver query to completion and time it: `(rows, seconds)`,
    * rows = -1 when the query throws. `toRdd.count()` materializes every
    * output row (`count()` alone lets Catalyst prune the projections
    * away) without driver transfer; the query's own pin scope releases
    * the caches its operators pinned once it has been consumed. The leak
    * check runs after the timed region. */
  def run(spark: SparkSession, tag: String, name: String,
      fn: queries.Q, dir: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val rows =
      try graft.ext.Dedup.withPins { fn(spark, dir).queryExecution.toRdd.count() }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        -1L
      }
    val secs = (System.nanoTime() - t0) / 1e9
    checkNoLeak(spark, tag, name)
    (rows, secs)
  }

  /** A query must leave the session's cache empty (the SparkSpec guard):
    * a cached plan left behind is reported and cleared, so the next
    * query starts clean. */
  def checkNoLeak(spark: SparkSession, tag: String, name: String): Unit = {
    val cm = spark.sharedState.cacheManager
    if (!cm.isEmpty) {
      System.err.println(s"[$tag] $name FAILED: leaked cached plan(s)")
      cm.clearCache()
    }
  }

  /** Job and task census: jobs, tasks and the longest task, plus per
    * stage the max/sum/count of task time and per call site the number
    * of jobs, so a single-task hotspot or a repeated job is attributable
    * to a line of code. Attach it with `addSparkListener`; [[reset]] and
    * every read first drain the listener bus, so no event posted before
    * the call is missed or attributed to the next query.
    *
    * A call site is the first graft frame outside the harness, read off
    * the job's own stages, newest (the job's result stage) first. AQE
    * runs some query stages from a helper thread whose stack holds no
    * graft frame, so only a job whose stages carry none takes the site
    * of the thread that started its SQL execution
    * (`spark.sql.execution.id` → the execution-start event's call
    * stack). A job a `foreachBatch` sink runs thus takes the sink's
    * frame, not the stream's start site that its micro-batch execution
    * carries. A job's stages take the job's site. */
  final class Census(sc: SparkContext) extends SparkListener {
    private val nJobs = new AtomicLong(0L)
    private val nTasks = new AtomicLong(0L)
    private val maxMs = new AtomicLong(0L)
    private val stageMax = new ConcurrentHashMap[Int, Long]()
    private val stageSum = new ConcurrentHashMap[Int, Long]()
    private val stageN = new ConcurrentHashMap[Int, Long]()
    private val stageSite = new ConcurrentHashMap[Int, String]()
    private val execSite = new ConcurrentHashMap[Long, String]()
    private val siteJobs = new ConcurrentHashMap[String, Long]()

    private def graftFrame(stack: String): Option[String] =
      stack.linesIterator.find(l => l.contains("graft.") &&
        !l.contains("graft.Harness") && !l.contains("graft.Soak")).map(_.trim.take(160))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        // a nested execution started off a helper thread takes its root's
        graftFrame(s.details)
          .orElse(s.rootExecutionId.flatMap(r => Option(execSite.get(r))))
          .foreach(execSite.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd => execSite.remove(s.executionId)
      case _ => ()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      nJobs.incrementAndGet()
      val site = j.stageInfos.sortBy(-_.stageId).iterator
        .flatMap(s => graftFrame(s.details)).nextOption()
        .orElse(Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(execSite.get(id.toLong))))
        .getOrElse(j.stageInfos.headOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?"))
      siteJobs.merge(site, 1L, (a, b) => a + b)
      j.stageIds.foreach(stageSite.put(_, site))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      nTasks.incrementAndGet()
      val d = Option(t.taskInfo).map(_.duration).getOrElse(0L)
      maxMs.accumulateAndGet(d, (a, b) => math.max(a, b))
      stageMax.merge(t.stageId, d, (a, b) => math.max(a, b))
      stageSum.merge(t.stageId, d, (a, b) => a + b)
      stageN.merge(t.stageId, 1L, (a, b) => a + b)
    }

    def reset(): Unit = {
      GraftAccess.drain(sc)
      nJobs.set(0L); nTasks.set(0L); maxMs.set(0L)
      stageMax.clear(); stageSum.clear(); stageN.clear(); stageSite.clear()
      siteJobs.clear()
    }

    def jobs: Long = { GraftAccess.drain(sc); nJobs.get() }
    def tasks: Long = { GraftAccess.drain(sc); nTasks.get() }
    def maxTaskMs: Long = { GraftAccess.drain(sc); maxMs.get() }

    /** The `n` stages with the longest task, longest first:
      * `(stage, max task ms, tasks, task ms sum, call site)`. */
    def topStages(n: Int): Seq[(Int, Long, Long, Long, String)] = {
      GraftAccess.drain(sc)
      import scala.jdk.CollectionConverters._
      stageMax.asScala.toSeq.sortBy(-_._2).take(n).map { case (sid, ms) =>
        (sid, ms, stageN.getOrDefault(sid, 0L), stageSum.getOrDefault(sid, 0L),
          stageSite.getOrDefault(sid, "?"))
      }
    }

    /** Jobs per call site, most first. */
    def jobSites: Seq[(String, Long)] = {
      GraftAccess.drain(sc)
      import scala.jdk.CollectionConverters._
      siteJobs.asScala.toSeq.sortBy { case (site, n) => (-n, site) }
    }
  }
}
