package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DriftSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 2000).map(i => (i % 100).toDouble).toDF("v")

  test("identical distributions score near zero") {
    val r = Drift.psi(base, base, "v", bins = 10).collect()
    assert(r.length === 10)
    assert(math.abs(r.head.getAs[Double]("psi")) < 1e-6)
    assert(r.map(_.getAs[Int]("bin")).toSeq === (0 until 10))
  }

  test("a shifted distribution scores far above the 0.25 alarm line") {
    val shifted = (1 to 2000).map(i => (i % 100).toDouble + 80.0).toDF("v")
    val psi = Drift.psi(base, shifted, "v", bins = 10)
      .head().getAs[Double]("psi")
    assert(psi > 0.25, s"psi=$psi")
  }

  test("out-of-range current values clamp into the edge bins") {
    val far = Seq.fill(500)(1e6).toDF("v")
    val r = Drift.psi(base, far, "v", bins = 10).orderBy("bin").collect()
    assert(r.last.getAs[Long]("n_cur") === 500L)
    assert(r.init.forall(_.getAs[Long]("n_cur") === 0L))
  }

  test("pipeline drift gate fails a shifted load before it commits") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dg",
      java.nio.file.Files.createTempDirectory("graft-dg").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25)
    // first load: no baseline -> passes
    p.run(Seq(res(base)), "1")
    // similar second load: passes
    p.run(Seq(res(base.filter(col("v") >= 0))), "2")
    val before = p.store.read("m").count()
    // shifted third load: must fail BEFORE committing anything
    val shifted = (1 to 2000).map(i => (i % 100).toDouble + 80.0).toDF("v")
    val e = intercept[IllegalStateException] { p.run(Seq(res(shifted)), "3") }
    assert(e.getMessage.contains("drift check failed"))
    assert(p.store.read("m").count() === before, "failed load must not commit")
  }

  test("quarantine mode dead-letters a shifted load and keeps the main table clean") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dq",
      java.nio.file.Files.createTempDirectory("graft-dq").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25, quarantine = true)
    p.run(Seq(res(base)), "1")
    val before = p.store.read("m").count()
    val shifted = (1 to 2000).map(i => (i % 100).toDouble + 80.0).toDF("v")
    // the breaching batch routes to the quarantine table, no raise
    val loaded = p.run(Seq(res(shifted)), "2")
    assert(loaded("m").contains("m__quarantine"), s"loaded=$loaded")
    assert(p.store.read("m").count() === before,
      "the main table must not see the breaching batch")
    val q = p.store.read("m__quarantine")
    assert(q.count() === 2000L)
    // provenance stamped on every quarantined row
    val row = q.head()
    assert(row.getAs[String]("_dlt_load_id") === "2")
    assert(row.getAs[String]("_drift_column") === "v")
    assert(row.getAs[Double]("_drift_psi") > 0.25)
    // a healthy next load still commits to the main table
    p.run(Seq(res(base.filter(col("v") >= 0))), "3")
    assert(p.store.read("m").count() > before)
    assert(p.store.read("m__quarantine").count() === 2000L)
    // the dead-letter shows up on the ledger: a dedicated status-2 row
    // in its own namespace, next to the package's status-0 row
    val ledger = p.store.read("_dlt_loads")
      .select("load_id", "schema_name", "status")
      .as[(String, String, Int)].collect().toSet
    assert(ledger.contains(("2", "dq#quarantine", 2)),
      s"no quarantine ledger row: $ledger")
  }

  test("quarantine mode advances the incremental cursor past the breaching batch") {
    import graft.incremental.Incremental
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dqi",
      java.nio.file.Files.createTempDirectory("graft-dqi").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df)
        .withIncremental(Incremental.Config("seq"))
        .withDriftCheck("v", maxPsi = 0.25, quarantine = true)
    val first = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble))
      .toDF("seq", "v")
    p.run(Seq(res(first)), "1")
    // cursor now at 1000; a shifted later window quarantines
    val shifted = (1001 to 2000).map(i => (i.toLong, (i % 100).toDouble + 80.0))
      .toDF("seq", "v")
    assert(p.run(Seq(res(shifted)), "2")("m").contains("m__quarantine"))
    // re-running the SAME source must deliver nothing new: the cursor
    // advanced past the quarantined batch (handled, not retried)
    val again = p.run(Seq(res(first.unionByName(shifted))), "3")
    assert(p.store.read("m__quarantine").count() === 1000L,
      "a re-run must not re-quarantine the handled batch")
    assert(p.store.read("m").count() === 1000L)
  }

  test("an empty incremental window passes the drift gate instead of breaching") {
    import graft.incremental.Incremental
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dqe",
      java.nio.file.Files.createTempDirectory("graft-dqe").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df)
        .withIncremental(Incremental.Config("seq"))
        .withDriftCheck("v", maxPsi = 0.25)
    val first = (1 to 500).map(i => (i.toLong, (i % 100).toDouble))
      .toDF("seq", "v")
    p.run(Seq(res(first)), "1")
    // idle poll: the window is empty; an all-zero current histogram
    // scores a huge PSI against any non-uniform baseline — the gate
    // must short-circuit, not raise
    p.run(Seq(res(first)), "2")
    assert(p.store.read("m").count() === 500L)
    assert(!p.store.exists("m__quarantine"))
  }

  test("a non-empty batch whose gate column is all null still breaches") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dqn",
      java.nio.file.Files.createTempDirectory("graft-dqn").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25)
    // a SKEWED baseline: the all-null batch's smoothed histogram is
    // uniform, so only a non-uniform baseline exposes it (a uniform
    // one would score ~0 — that blindness is inherent to PSI)
    val skewed = (1 to 2000).map(i =>
      if (i <= 1900) 5.0 else (i % 100).toDouble).toDF("v")
    p.run(Seq(res(skewed)), "1")
    // upstream corruption: rows arrive but every gate value is null
    // (e.g. a numeric column turned unparseable) — this is value drift
    // the gate exists to catch, NOT an idle empty window
    val corrupted = (1 to 100).map(_ => None: Option[Double]).toDF("v")
    val e = intercept[IllegalStateException] { p.run(Seq(res(corrupted)), "2") }
    assert(e.getMessage.contains("drift check failed"))
  }

  test("replayQuarantine strips the stamp columns for a clean re-ingest") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dqr",
      java.nio.file.Files.createTempDirectory("graft-dqr").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25, quarantine = true)
    p.run(Seq(res(base)), "1")
    val shifted = (1 to 2000).map(i => (i % 100).toDouble + 80.0).toDF("v")
    p.run(Seq(res(shifted)), "2")
    val replay = p.replayQuarantine("m")
    assert(replay.columns.toSeq === Seq("v"),
      "replay must carry exactly the original schema")
    assert(replay.count() === 2000L)
    // load-scoped replay: only the requested load's rows, stamps still
    // stripped; an unknown load id selects nothing
    assert(p.replayQuarantine("m", Some("2")).count() === 2000L)
    assert(p.replayQuarantine("m", Some("9")).count() === 0L)
    // replaying WITHOUT the drift gate (post-investigation) loads clean
    p.run(Seq(Resource("m", replay)), "3")
    assert(p.store.read("m").count() === 4000L)
    assert(!p.store.read("m").columns.contains("_drift_psi"),
      "provenance columns must never leak into the main table")
    // the bookkeeping end of the cycle: clear after replay so a later
    // breach's replay cannot re-ingest these rows
    p.clearQuarantine("m")
    assert(!p.store.exists("m__quarantine"))
  }

  test("a constant baseline still catches a shifted load") {
    val const = Seq.fill(500)(0.0).toDF("v")
    val shifted = (1 to 500).map(i => 500.0 + i).toDF("v")
    // all current values differ from the constant -> top bin, PSI large
    val psi = Drift.psi(const, shifted, "v", bins = 10)
      .head().getAs[Double]("psi")
    assert(psi > 0.25, s"psi=$psi")
    // identical constants still score ~0
    val same = Drift.psi(const, const, "v", bins = 10)
      .head().getAs[Double]("psi")
    assert(math.abs(same) < 1e-6)
  }

  test("absurdly out-of-range values clamp to the top bin, never wrap") {
    val tight = (1 to 1000).map(i => i / 1000.0).toDF("v") // range ~(0,1]
    val garbage = Seq.fill(200)(2.15e8).toDF("v") // would overflow int
    val r = Drift.psi(tight, garbage, "v", bins = 10).orderBy("bin").collect()
    assert(r.last.getAs[Long]("n_cur") === 200L,
      "garbage must land in the TOP bin")
    assert(r.head.getAs[Long]("n_cur") === 0L, "must not wrap into bin 0")
  }

  test("psiProfile matches per-column psi in one melted pass") {
    val b = (1 to 1000).map(i => ((i % 100).toDouble, (i % 7).toDouble))
      .toDF("x", "y")
    val c = (1 to 1000).map(i => ((i % 100).toDouble + 30.0, (i % 7).toDouble))
      .toDF("x", "y")
    val prof = Drift.psiProfile(b, c, Seq("x", "y"), bins = 10)
      .collect().map(r => r.getAs[String]("column") -> r.getAs[Double]("psi"))
      .toMap
    val px = Drift.psi(b.select("x"), c.select("x"), "x", 10)
      .head().getAs[Double]("psi")
    val py = Drift.psi(b.select("y"), c.select("y"), "y", 10)
      .head().getAs[Double]("psi")
    assert(prof("x") === px)
    assert(prof("y") === py)
    assert(prof("x") > 0.25 && math.abs(prof("y")) < 1e-6)
  }

  test("psiVsProfile against a persisted histogram ≡ psi against the live baseline") {
    val cur = (1 to 1500).map(i => (i % 100).toDouble + 30.0).toDF("v")
    val live = Drift.psi(base, cur, "v", bins = 10).orderBy("bin").collect()
    val h = Drift.histogram(base, "v", bins = 10)
    assert(h.counts.sum === 2000L)
    val prof = Drift.psiVsProfile(h, cur, "v").orderBy("bin").collect()
    // identical per-bin counts, terms, and total — the shared psiTail
    // and binExpr make the two paths arithmetically the same
    assert(prof.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq ===
      live.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq)
    // round-trips through a store table unchanged
    val store = new graft.write.TableStore(
      java.nio.file.Files.createTempDirectory("graft-prof").toString, spark)
    Drift.saveProfile(store, "p", base, "v", bins = 10)
    val h2 = Drift.loadProfile(store, "p")
    assert(h2.mn === h.mn && h2.mx === h.mx &&
      h2.counts.toSeq === h.counts.toSeq)
    // an in-population batch stays under the alarm line; the shifted
    // one breaches — the curateInto staleness-gate decision pair
    val clean = Drift.psiVsProfile(h, base.limit(400), "v")
      .head().getAs[Double]("psi")
    val shifted = Drift.psiVsProfile(h, cur, "v").head().getAs[Double]("psi")
    assert(clean < 0.25, s"clean=$clean")
    assert(shifted > 0.25, s"shifted=$shifted")
  }

  test("binCounts folds in-range counts exactly and clamps " +
      "out-of-range mass to the edge bins under the pinned range") {
    val h = Drift.histogram(base, "v", bins = 10) // range [0, 99]
    // in-range fold ≡ recomputing over the union
    val more = (1 to 500).map(i => (i % 100).toDouble).toDF("v")
    val merged = h.plus(Drift.binCounts(h, more, "v"))
    val recomputed = Drift.histogram(base.unionByName(more), "v", bins = 10)
    assert(merged.counts.toSeq === recomputed.counts.toSeq)
    assert((merged.mn, merged.mx) === (h.mn, h.mx), "range stays pinned")
    // out-of-range values clamp to the TOP bin (never re-range)
    val far = Seq.fill(7)(1e6).toDF("v")
    val clamped = h.plus(Drift.binCounts(h, far, "v"))
    assert(clamped.counts.last === h.counts.last + 7L)
    assert(clamped.counts.init.toSeq === h.counts.init.toSeq)
  }

  test("profiled pipeline drift gate: seeds, folds passing loads, " +
      "dead-letters a shifted load, never rescans a baseline table") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dpp",
      java.nio.file.Files.createTempDirectory("graft-dpp").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftProfile("v", maxPsi = 0.25,
        quarantine = true)
    // an all-null first load passes and silently DEFERS seeding (an
    // idle poll must neither breach nor log; the next non-empty load
    // seeds)
    p.run(Seq(res(Seq[Option[Double]](None, None).toDF("v"))), "0")
    assert(!p.store.exists("m__drift_profile"))
    // load 1 seeds the profile
    p.run(Seq(res(base)), "1")
    val h1 = Drift.loadProfile(p.store, "m__drift_profile")
    assert(h1.counts.sum === 2000L)
    // load 2 (same distribution) passes and FOLDS into the baseline
    p.run(Seq(res(base.limit(500))), "2")
    val h2 = Drift.loadProfile(p.store, "m__drift_profile")
    assert(h2.counts.sum === 2500L)
    assert((h2.mn, h2.mx) === (h1.mn, h1.mx), "merging never re-ranges")
    // load 3 (shifted) breaches against the MERGED profile and
    // dead-letters; the baseline must NOT absorb it
    val shifted = (1 to 300).map(i => (i % 100).toDouble + 500.0).toDF("v")
    val loaded = p.run(Seq(res(shifted)), "3")
    assert(loaded("m").contains("m__quarantine"), s"loaded=$loaded")
    assert(p.store.read("m").count() === 2502L) // incl. the 2 null-v rows
    assert(Drift.loadProfile(p.store, "m__drift_profile").counts.sum
      === 2500L, "a breaching load must never pollute the baseline")
    // a later clean load still passes against the unpolluted profile
    p.run(Seq(res(base.limit(100))), "4")
    assert(p.store.read("m").count() === 2602L)
  }

  test("histogram refuses an all-null or empty profile source") {
    val nulls = Seq[Option[Double]](None, None).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Drift.histogram(nulls, "v", bins = 4)
    }
    assert(e.getMessage.contains("no non-null values"))
  }

  test("null values are excluded from both sides") {
    val withNulls = (Seq.fill(50)(Some(5.0)) ++ Seq.fill(50)(None))
      .toDF("v")
    val r = Drift.psi(withNulls, withNulls, "v", bins = 4).collect()
    assert(r.map(_.getAs[Long]("n_base")).sum === 50L)
    assert(r.map(_.getAs[Long]("n_cur")).sum === 50L)
  }

  test("duplicate requested columns collapse to one row with undoubled counts") {
    val b = (1 to 1000).map(i => ((i % 100).toDouble, (i % 7).toDouble))
      .toDF("x", "y")
    val c = (1 to 1000).map(i => ((i % 100).toDouble + 30.0, (i % 7).toDouble))
      .toDF("x", "y")
    val dup = Drift.psiProfile(b, c, Seq("x", "y", "x"), bins = 10)
      .collect().map(r => r.getAs[String]("column") -> r.getAs[Double]("psi"))
    assert(dup.map(_._1).toSeq === Seq("x", "y"), "one row per DISTINCT column")
    val clean = Drift.psiProfile(b, c, Seq("x", "y"), bins = 10)
      .collect().map(r => r.getAs[String]("column") -> r.getAs[Double]("psi"))
    assert(dup.toSeq === clean.toSeq,
      "a duplicated request must not change any column's psi")
  }

  test("an all-null-baseline column reports psi null, never vanishes") {
    val base = Seq((Some(1.0), None: Option[Double]),
      (Some(2.0), None: Option[Double])).toDF("a", "b")
    val cur = Seq((1.0, 5.0), (2.0, 6.0)).toDF("a", "b")
    val out = Drift.psiProfile(base, cur, Seq("a", "b"), bins = 4).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b"),
      "every requested column must have a row")
    val byCol = out.map(r => r.getString(0) ->
      Option(r.get(r.fieldIndex("psi")))).toMap
    assert(byCol("b").isEmpty, "no baseline range -> psi is explicitly null")
    assert(byCol("a").isDefined)
  }

  test("load-scoped clear and age-based sweep retire quarantined loads independently") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dqs",
      java.nio.file.Files.createTempDirectory("graft-dqs").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25, quarantine = true)
    p.run(Seq(res(base)), "1")
    val shiftA = (1 to 2000).map(i => (i % 100).toDouble + 80.0).toDF("v")
    val shiftB = (1 to 1500).map(i => (i % 100).toDouble - 70.0).toDF("v")
    p.run(Seq(res(shiftA)), "2")
    p.run(Seq(res(shiftB)), "3")
    assert(p.store.read("m__quarantine").count() === 3500L,
      "both breaches must accumulate")
    // retire ONLY load 2 — load 3's open breach survives
    p.clearQuarantine("m", loadId = Some("2"))
    val left = p.store.read("m__quarantine")
    assert(left.count() === 1500L)
    assert(left.select("_dlt_load_id").distinct().as[String].collect()
      .toSeq === Seq("3"))
    // exclusive cutoff: a sweep below load 3 is a counted no-op
    assert(p.sweepQuarantine("m", "3") === 0L)
    assert(p.store.read("m__quarantine").count() === 1500L)
    // an Instant in the future out-ages the remaining load (numeric
    // micros cutoff vs the opaque id "3" still compares sanely)
    assert(p.sweepQuarantine("m",
      java.time.Instant.now().plusSeconds(60)) === 1500L)
    assert(!p.store.exists("m__quarantine"),
      "sweeping the last load must drop the table")
    // sweeping a missing table is a 0 no-op, not a raise — and so is a
    // load-scoped clear (a second investigator after the drop)
    assert(p.sweepQuarantine("m", "9") === 0L)
    p.clearQuarantine("m", loadId = Some("3"))
    // clearing the LAST load by id also drops the table
    p.run(Seq(res(shiftA)), "5")
    p.clearQuarantine("m", loadId = Some("5"))
    assert(!p.store.exists("m__quarantine"))
  }

  test("sweep comparator is numeric to DECIMAL(38,6), lexicographic beyond") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dqc",
      java.nio.file.Files.createTempDirectory("graft-dqc").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25, quarantine = true)
    p.run(Seq(res(base)), "1")
    val shift = (1 to 100).map(i => (i % 100).toDouble + 80.0).toDF("v")
    // 24 integer digits: parses as BigDecimal and FITS DECIMAL(38,6) —
    // must compare NUMERICALLY (the old DECIMAL(26,6) cast overflowed
    // here and silently fell back to lexicographic, where "1234…" < "99")
    val big = "123456789012345678901234"
    p.run(Seq(res(shift)), big)
    assert(p.sweepQuarantine("m", "99") === 0L,
      "24-digit id must out-age a 2-digit numeric cutoff NUMERICALLY")
    assert(p.store.read("m__quarantine").count() === 100L)
    // 40 integer digits: beyond DECIMAL(38,6) — documented lexicographic
    // fallback for that row ("999…" > "99" and > "A" decides the sweeps)
    val huge = "9" * 40
    p.run(Seq(res(shift)), huge)
    assert(p.sweepQuarantine("m", "99") === 0L,
      "an id beyond 38 digits compares lexicographically: '999…' > '99'")
    assert(p.sweepQuarantine("m", "2") === 0L,
      "cutoff 2: the 24-digit row is numerically above, the 40-digit " +
        "row lexicographically above ('9…' > '2') — nothing retires")
    assert(p.sweepQuarantine("m", "A") === 200L,
      "an unparseable cutoff compares lexicographically for every row")
    assert(!p.store.exists("m__quarantine"))
  }

  test("sweep cutoffs beyond the row grid still compare numerically") {
    import graft.pipeline.{Pipeline, Resource}
    val p = new Pipeline("dqg",
      java.nio.file.Files.createTempDirectory("graft-dqg").toString, spark)
    def res(df: org.apache.spark.sql.DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25, quarantine = true)
    p.run(Seq(res(base)), "1")
    val shift = (1 to 100).map(i => (i % 100).toDouble + 80.0).toDF("v")
    p.run(Seq(res(shift)), "100")
    // 7 fraction digits: n < 99.1234567 ⟺ n ≤ 99.123456 — the row id
    // 100 is numerically ABOVE and must be kept (a lexicographic
    // fallback would sweep it: "100" < "99.1234567")
    assert(p.sweepQuarantine("m", "99.1234567") === 0L)
    // scientific notation normalizes through the same driver-side
    // setScale: 1E+3 = 1000 > 100 numerically (lexicographically
    // "100" > "1E+3" would keep it)
    assert(p.sweepQuarantine("m", "1E+3") === 100L)
    assert(!p.store.exists("m__quarantine"))
  }
}
