package graft

/** An RDD job run from a graft frame outside the harness. */
object CensusProbe {
  def rddCount(df: org.apache.spark.sql.DataFrame): Long = df.rdd.count()
}

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

  test("census charges a sink-side RDD job to the sink's frame, not the stream's start") {
    val dir = java.nio.file.Files.createTempDirectory("census-src").toString
    spark.range(20).write.mode("overwrite").parquet(dir)
    val stream = streaming.Streaming.fileStream(spark, dir)
    val sc = spark.sparkContext
    val census = new Harness.Census(sc)
    sc.addSparkListener(census)
    try {
      census.reset()
      var counted = 0L
      streaming.Streaming.drainAvailableNow(stream) { (batch, _) =>
        counted += CensusProbe.rddCount(batch)
      }
      assert(counted === 20L)
      val sites = census.jobSites.toMap
      assert(sites.exists { case (site, n) => site.contains("CensusProbe") && n >= 1L },
        s"jobs by site: $sites")
      assert(!sites.keys.exists(_.contains("drainAvailableNow")), s"jobs by site: $sites")
    } finally sc.removeSparkListener(census)
  }
}
