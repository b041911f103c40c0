package graft

/** The driver harness on the shared session: `Harness.session()` is not
  * called here, because `getOrCreate` would rewrite the shared confs. */
class HarnessSpec extends SparkSpec {

  test("run reports a leaked cached plan, keeps the row count and clears the cache") {
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val (rows, secs) =
      try Harness.run(spark, "spec", "leaky", (s, _) => s.range(3).cache().toDF(), "")
      finally System.setErr(stderr)
    assert(rows == 3L)
    assert(secs >= 0.0)
    assert(err.toString.contains("[spec] leaky FAILED: leaked cached plan(s)"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("census counts the jobs and tasks posted before a read") {
    val sc = spark.sparkContext
    val census = new Harness.Census(sc)
    sc.addSparkListener(census)
    try {
      census.reset()
      spark.range(1000).repartition(4).count()
      assert(census.jobs >= 1L)
      assert(census.tasks >= 4L)
      assert(census.topStages(5).nonEmpty)
    } finally sc.removeSparkListener(census)
  }
}
