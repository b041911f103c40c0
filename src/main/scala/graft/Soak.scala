package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** SCALE SOAK: run a named subset of the driver queries against an
  * arbitrary (usually blown-up) fixture directory and report, per
  * query, wall seconds plus the MAX SINGLE TASK duration — the number
  * that exposes a hidden single-task bottleneck (a corpus-wide window,
  * an unsplit read, a driver-side loop) long before wall time does at
  * bench scale. The per-round BENCH notes cite these numbers so the
  * 100×-survival claims are measured, not argued from plan shape.
  *
  * Usage: `runMain graft.Soak <fixtureDir> <q1,q2,...>` — one JSON
  * line per query: {"query":..,"wall_s":..,"max_task_s":..,
  * "tasks":..,"rows":..}.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val Array(dir, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // heap note: spark.driver.memory is a NO-OP for a local-mode
      // session created inside an already-running JVM — the soak heap
      // is set by build.sbt's forked -Xmx, i.e. SPARK_DRIVER_MEM (e.g.
      // `SPARK_DRIVER_MEM=48g sbt "runMain graft.Soak ..."`)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // max task duration across the whole query, via listener (tasks on
    // local[n] still report per-task run time)
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val nTasks = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-stage max task duration + the stage's call site, so a
    // single-task hotspot is attributable to a line of code, not just
    // a number
    val stageMax = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageSum = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageN = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        nTasks.incrementAndGet()
        val d = Option(t.taskInfo).map(_.duration).getOrElse(0L)
        var cur = maxTaskMs.get()
        while (d > cur && !maxTaskMs.compareAndSet(cur, d)) cur = maxTaskMs.get()
        stageMax.merge(t.stageId, d, (a, b) => math.max(a, b))
        stageSum.merge(t.stageId, d, (a, b) => a + b)
        stageN.merge(t.stageId, 1L, (a, b) => a + b)
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        // under AQE every query-stage future shares one lambda callsite
        // — the DETAILS' first graft/user frame is the attributable one
        val site = s.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("Soak"))
          .getOrElse(s.stageInfo.name.takeWhile(_ != '\n'))
        stageSite.put(s.stageInfo.stageId, site.trim.take(160))
      }
    })
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      // settle BEFORE the reset too: the previous query's task-end
      // events drain the async bus past its post-read settle; resetting
      // under stragglers would attribute its longest task to THIS query
      Thread.sleep(300)
      maxTaskMs.set(0L); nTasks.set(0L)
      stageMax.clear(); stageSum.clear(); stageN.clear(); stageSite.clear()
      val t0 = System.nanoTime()
      val rows =
        try graft.ext.Dedup.withPins { fn(spark, dir).queryExecution.toRdd.count() }
        catch { case e: Throwable =>
          System.err.println(s"[soak] $name FAILED: ${e.getMessage}"); -1L
        }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle before reading
      // (the bus-drain API is private[spark] — a soak tool can wait)
      Thread.sleep(500)
      println(f"""{"query":"$name","wall_s":$wall%.1f,""" +
        f""""max_task_s":${maxTaskMs.get() / 1e3}%.1f,""" +
        s""""tasks":${nTasks.get()},"rows":$rows}""")
      // top-5 slowest stages by their longest task, to stderr — with
      // task count and task-time sum, so "one straggler" and "a
      // balanced-but-heavy stage" read differently
      import scala.jdk.CollectionConverters._
      stageMax.asScala.toSeq.sortBy(-_._2).take(5).foreach { case (sid, ms) =>
        System.err.println(f"[soak] $name stage $sid max_task=${ms / 1e3}%.1fs " +
          f"tasks=${stageN.getOrDefault(sid, 0L)} " +
          f"sum=${stageSum.getOrDefault(sid, 0L) / 1e3}%.1fs " +
          s"site=${stageSite.getOrDefault(sid, "?")}")
      }
    }
    queries.Scratch.sweep()
    spark.stop()
  }
}
