package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job census for one query: per-job wall time + call site. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties.getProperty("spark.job.description"))
          .orElse(Option(js.properties.getProperty("callSite.short")))
          .getOrElse("?").take(140).replace("\n", " ")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        if (record) Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          out.add(f"job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $site")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (record) {
          val si = sc.stageInfo
          val wall = (for (a <- si.completionTime; b <- si.submissionTime)
            yield a - b).getOrElse(-1L)
          out.add(f"stage ${si.stageId}%4d $wall%6d ms ${si.numTasks}%4d tasks  " +
            si.name.take(120).replace("\n", " "))
        }
      }
    })
    def runOnce(name: String): Long = graft.ext.Dedup.withPins {
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    }
    names.foreach { name =>
      runOnce(name)
      Thread.sleep(500)
      record = true
      val t0 = System.nanoTime()
      runOnce(name)
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      record = false
      var jobs = 0
      var sumMs = 0.0
      out.forEach { s =>
        if (s.startsWith("job")) {
          jobs += 1
          sumMs += s.split("\\s+").lift(2).flatMap(_.toDoubleOption).getOrElse(0.0)
        }
        println(s"[jobcount] $name $s")
      }
      out.clear()
      graft.queries.Scratch.sweep()
      println(f"[jobcount] TOTAL $name: $secs%.2f s, $jobs jobs, ${sumMs / 1e3}%.2f s in jobs")
    }
    spark.stop()
  }
}
