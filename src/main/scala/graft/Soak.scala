package graft

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
  * "tasks":..,"jobs":..,"rows":..}. Stderr gets the five slowest stages
  * and the query's jobs per call site.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val Array(dir, names) = args
    val spark = Harness.session()
    val census = new Harness.Census(spark.sparkContext)
    spark.sparkContext.addSparkListener(census)
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      census.reset()
      val (rows, wall) = Harness.run(spark, "soak", name, fn, dir)
      println(f"""{"query":"$name","wall_s":$wall%.1f,""" +
        f""""max_task_s":${census.maxTaskMs / 1e3}%.1f,""" +
        s""""tasks":${census.tasks},"jobs":${census.jobs},"rows":$rows}""")
      // top-5 slowest stages by their longest task, to stderr — with
      // task count and task-time sum, so "one straggler" and "a
      // balanced-but-heavy stage" read differently
      census.topStages(5).foreach { case (sid, ms, n, sum, site) =>
        System.err.println(f"[soak] $name stage $sid max_task=${ms / 1e3}%.1fs " +
          f"tasks=$n sum=${sum / 1e3}%.1fs site=$site")
      }
      census.jobSites.foreach { case (site, n) =>
        System.err.println(s"[soak] $name jobs=$n site=$site")
      }
    }
    queries.Scratch.sweep()
    spark.stop()
  }
}
