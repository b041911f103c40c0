package graft.queries

import org.apache.spark.sql.functions._

import graft.incremental.Incremental
import graft.pipeline.{Pipeline, Resource}
import graft.schema.{TableHints, TableReference}
import graft.sources.{Filesystem, Rest}

/** Incremental plane (SURVEY.md §2.7), dataset/relation plane (§2.6 facade)
  * and sources (§2.1) demonstrated end-to-end with DuckDB oracles.
  */
object PlaneQueries {

  val defs: Map[String, Q] = Map(
    // exactly-once across two overlapping incremental runs: the boundary
    // row is re-delivered in batch 2 and dropped by fingerprint dedup
    "inc_exactly_once" -> q { c =>
      val p = new Pipeline("inc", Scratch.dir("graft-inc"), c.spark)
      val events = c.t("events").select("event_id", "user_id", "event_type")
      val mid = events.agg((max(col("event_id")) / 2).cast("long")).head().getLong(0)
      val cfg = Incremental.Config(cursorColumn = "event_id", primaryKey = Seq("event_id"))
      def res(f: org.apache.spark.sql.Column) =
        Resource("ev", events.filter(f)).withIncremental(cfg)
      p.run(Seq(res(col("event_id") <= mid)), "1")
      p.run(Seq(res(col("event_id") >= mid)), "2") // overlap at `mid`
      p.store.read("ev").select("event_id", "user_id", "event_type").orderBy("event_id")
    },

    // SCHEMA EVOLUTION across loads: load 2 adds a column and drops
    // another; the destination table widens additively (old rows read
    // NULL for the new column, the dropped column stays, NULL-filled
    // for new rows) — reference evolve-mode contracts
    "plane_schema_evolve" -> q { c =>
      val p = new Pipeline("se", Scratch.dir("graft-se"), c.spark)
      val ev = c.t("events")
      val half1 = ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "event_type")
      val half2 = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"),
          col("value").as("amount")) // new column, no event_type
      p.run(Seq(Resource("ev", half1)), "1")
      p.run(Seq(Resource("ev", half2)), "2")
      p.store.read("ev")
        .select(col("event_id"), col("user_id"), col("event_type"),
          (coalesce(col("amount"), lit(-1.0)).cast("decimal(18,4)") * 10000)
            .cast("long").as("amount_e4"))
        .orderBy("event_id")
    },

    // incremental cursor RIDING MICRO-BATCHES: the second stream re-
    // delivers the boundary row; fingerprint dedup + cursor state keep
    // the table exactly-once without any checkpoint help
    "stream_incremental_cursor" -> q { c =>
      val p = new Pipeline("sinc", Scratch.dir("graft-sinc"), c.spark)
      val cfg = Incremental.Config(cursorColumn = "event_id",
        primaryKey = Seq("event_id"))
      val tmp = Scratch.dir("graft-sinc-src")
      val events = c.t("events").select("event_id", "user_id", "event_type")
      val mid = events.agg((max(col("event_id")) / 2).cast("long")).head().getLong(0)
      events.filter(col("event_id") <= mid).write.parquet(s"$tmp/b1")
      events.filter(col("event_id") >= mid).write.parquet(s"$tmp/b2") // overlap
      def drain(dir: String): Unit =
        graft.streaming.Streaming.intoPipeline(p,
          graft.streaming.Streaming.fileStream(c.spark, dir),
          (b, _) => Resource("ev", b).withIncremental(cfg))
      drain(s"$tmp/b1")
      drain(s"$tmp/b2")
      p.store.read("ev").select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },

    // relation facade: typed filter ops + select + order + limit
    "ds_relation_ops" -> q { c =>
      val p = new Pipeline("ds", Scratch.dir("graft-ds"), c.spark)
      p.run(Seq(Resource("documents", c.t("documents"))), "1")
      p.dataset.table("documents")
        .where("lang", "eq", "en")
        .where("n_chars", "gte", 100)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
        .limit(100)
        .df()
    },

    // reference-driven join: ON clause derived from the schema registry
    "ds_reference_join" -> q { c =>
      val p = new Pipeline("dj", Scratch.dir("graft-dj"), c.spark)
      p.run(Seq(Resource("customer", c.t("customer")),
        Resource("nation", c.t("nation"))), "1")
      p.registry.register("customer", p.store.read("customer").schema,
        TableHints(references = Seq(
          TableReference(Seq("c_nationkey"), "nation", Seq("n_nationkey")))))
      p.dataset.table("customer")
        .join("nation")
        .select("c_custkey", "nation__n_name")
        .orderBy("c_custkey")
        .df()
    },

    // TRANSFORMER (resource | transformer, reference §3.3): a parent
    // resource feeds a derived child resource in the same load — here
    // orders fan out 1→N into per-order fee line items; both tables
    // land atomically under one load id
    // custom function destination (reference @dlt.destination): the
    // pipeline extracts + normalizes, then hands each table to a user
    // callback instead of the store — here the callback appends into an
    // EXTERNAL TableStore under the destination's "direct" naming (the
    // mixed-case resource name survives unchanged — snake_case would
    // fold it). Incremental rides along destination-agnostic: two
    // overlapping windows, the boundary row delivered exactly once;
    // _dlt_* columns are stripped before the callback (reference
    // skip_dlt_columns_and_tables default)
    "plane_custom_destination" -> q { c =>
      import graft.pipeline.CustomDestination
      import graft.write.TableStore
      val p = new Pipeline("cdest",
        Scratch.dir("graft-cdest"), c.spark)
      val ext = new TableStore(
        Scratch.dir("graft-cdest-ext"), c.spark)
      val events = c.t("events").select("event_id", "user_id", "event_type")
      val mid = events.agg((max(col("event_id")) / 2).cast("long"))
        .head().getLong(0)
      val cfg = Incremental.Config(cursorColumn = "event_id",
        primaryKey = Seq("event_id"))
      def res(f: org.apache.spark.sql.Column) =
        Resource("EvSink", events.filter(f)).withIncremental(cfg)
      val dest = CustomDestination { (df, t) =>
        ext.append(s"got_${t.name}", df
          .withColumn("sink_table", lit(t.name))
          .withColumn("had_dlt_cols",
            lit(df.columns.exists(_.startsWith("_dlt_")))))
      }
      p.runTo(Seq(res(col("event_id") <= mid)), dest, "1")
      p.runTo(Seq(res(col("event_id") >= mid)), dest, "2") // overlap at mid
      // "direct" naming: the callback saw the resource name VERBATIM
      ext.read("got_EvSink")
        .select("event_id", "user_id", "event_type",
          "sink_table", "had_dlt_cols")
        .orderBy("event_id")
    },

    "plane_transformer" -> q { c =>
      val p = new Pipeline("tr", Scratch.dir("graft-tr"), c.spark)
      val orders = c.t("orders").filter(col("o_orderkey") < 500)
        .select("o_orderkey", "o_totalprice")
      val fees = Resource("order_fees", orders.select(col("o_orderkey"),
          explode(array(
            struct(lit("base").as("fee_type"),
              (col("o_totalprice").cast("decimal(18,4)") * 2 / 100)
                .cast("decimal(18,4)").as("fee")),
            struct(lit("rush").as("fee_type"),
              when(col("o_totalprice") > 200000, lit(500.0)).otherwise(lit(0.0))
                .cast("decimal(18,4)").as("fee")))).as("f"))
          .select(col("o_orderkey"), col("f.fee_type"),
            (col("f.fee") * 10000).cast("long").as("fee_e4")))
      p.run(Seq(Resource("orders_small", orders), fees), "1")
      p.store.read("order_fees")
        .select("o_orderkey", "fee_type", "fee_e4")
        .orderBy("o_orderkey", "fee_type")
    },

    // skew-salted join must be RESULT-IDENTICAL to the plain join it
    // replaces (salting only changes the physical key distribution)
    "plane_salted_join" -> q { c =>
      val ev = c.t("events").select("event_id", "user_id", "event_type")
      val users = c.t("events").groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      graft.ext.Skew.saltedJoin(ev, users, Seq("user_id"), buckets = 8)
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "n_events")
        .orderBy("event_id")
    },

    // sql_database source END-TO-END against a real SQL engine (embedded
    // Derby — the zero-egress stand-in for the warehouse): fixture rows
    // land via the sink's distributed writer, then read back PARTITIONED
    // (8 executor-side connections splitting the key range) with the
    // incremental window pushed into the database as a dbtable WHERE
    // subquery over the REFLECTED cursor identifier
    "src_jdbc" -> q { c =>
      import graft.sources.{Jdbc, JdbcTableConfig}
      // FIXED in-memory db name + replace disposition: a per-run UUID
      // db lived until JVM exit, so 3 bench runs + verify accumulated
      // 150k-row copies that pressured every later query — reusing one
      // db keeps exactly one copy alive regardless of run count
      val url = "jdbc:derby:memory:graftsrc;create=true"
      val cfg = JdbcTableConfig(url, table = "orders_src")
      val orders = c.t("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      graft.write.JdbcSink.replace(orders, cfg)
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Jdbc.read(c.spark, cfg.copy(
        partitionColumn = Some("o_orderkey"), numPartitions = 8,
        lowerBound = Some("0"), upperBound = Some((hi + 1).toString),
        incremental = Some(Incremental.Config(cursorColumn = "o_orderkey",
          initialValue = Some("1000")))))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate")
        .orderBy("o_orderkey")
    },

    // incremental filesystem listing: run 2 re-lists EVERYTHING but loads
    // only files that arrived after run 1 (mtime cursor, path-fingerprint
    // boundary dedup) — union of the two runs is exactly-once per file
    "src_files_incremental" -> q { c =>
      import graft.sources.Filesystem
      val dir = Scratch.dir("graft-fsi")
      val ev = c.t("events").select("event_id", "user_id", "event_type")
      val mid = ev.agg((max(col("event_id")) / 2).cast("long")).head().getLong(0)
      ev.filter(col("event_id") <= mid).write.parquet(s"$dir/batch_a")
      val glob = s"$dir/*/*.parquet"
      val (run1, st1) = Filesystem.listIncremental(c.spark, glob,
        Incremental.State.empty)
      val files1 = run1.select("file_url").collect().map(_.getString(0))
      ev.filter(col("event_id") > mid).write.parquet(s"$dir/batch_b")
      val (run2, _) = Filesystem.listIncremental(c.spark, glob, st1)
      val files2 = run2.select("file_url").collect().map(_.getString(0))
      require(files2.forall(_.contains("batch_b")),
        "run 2 must re-load no run-1 file")
      c.spark.read.parquet((files1 ++ files2).toIndexedSeq: _*)
        .select("event_id", "user_id", "event_type").orderBy("event_id")
    },

    // drift DEAD-LETTER disposition end-to-end: load 1 (even orders)
    // seeds the baseline; load 2 (odd orders with the deterministic 25%
    // lift on a quarter of rows, PSI ≈ 0.08 > the 0.05 gate) breaches
    // and routes to m__quarantine — the main table keeps only the
    // baseline, the quarantined batch carries its provenance, and the
    // oracle re-derives the counts AND the stamped PSI through the
    // shared bin/smooth/decimal-Σ fragment
    "plane_drift_quarantine" -> q { c =>
      val p = new Pipeline("dqg",
        Scratch.dir("graft-dqg"), c.spark)
      val o = c.t("orders")
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("v"))
      val cur = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), (col("o_totalprice").cast("double") *
          when(pmod(col("o_orderkey"), lit(4)) === 1, lit(1.25))
            .otherwise(lit(1.0))).as("v"))
      def res(df: org.apache.spark.sql.DataFrame) =
        Resource("m", df).withDriftCheck("v", maxPsi = 0.05, quarantine = true)
      p.run(Seq(res(base)), "1")
      p.run(Seq(res(cur)), "2")
      val qt = p.store.read("m__quarantine")
      p.store.read("m").agg(count(lit(1)).as("main_rows")).crossJoin(
        qt.agg(count(lit(1)).as("quarantine_rows"),
          max(col("_drift_column")).as("drift_column"),
          max(col("_drift_psi")).as("psi"),
          max(col("_dlt_load_id")).as("quarantine_load")))
    },

    // the PROFILED drift gate (r15) — the O(batch) form for lake-scale
    // tables: the baseline is a persisted rolling histogram (seeded by
    // load 1, folded forward by every PASSING load) instead of a
    // per-load full-table baseline scan. Load 1 seeds; load 2 (same
    // distribution) passes AND merges; load 3 (values shifted far
    // outside the seeded range) breaches against the MERGED profile and
    // dead-letters. The oracle re-derives the stamped PSI with the bin
    // range pinned at LOAD 1 (the profile semantics — merging never
    // re-ranges; loads 1∪2 bin CLAMPED under it, exactly the engine's
    // fold) through the shared bin/smooth/decimal-Σ fragment.
    "plane_drift_profiled" -> q { c =>
      val p = new Pipeline("dpp", Scratch.dir("graft-dpp"), c.spark)
      val o = c.t("orders")
      def slice(m: Int) = o.filter(pmod(col("o_orderkey"), lit(3)) === m)
      val l1 = slice(0).select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("v"))
      val l2 = slice(1).select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("v"))
      val l3 = slice(2).select(col("o_orderkey"),
        (col("o_totalprice").cast("double") * 3.0 + 100000.0).as("v"))
      def res(df: org.apache.spark.sql.DataFrame) =
        Resource("m", df).withDriftProfile("v", maxPsi = 0.25,
          quarantine = true)
      p.run(Seq(res(l1)), "1")
      p.run(Seq(res(l2)), "2")
      p.run(Seq(res(l3)), "3")
      val qt = p.store.read("m__quarantine")
      // profile state after the clean loads: counts cover loads 1∪2,
      // range still load 1's — asserted via the row sum (driver-small)
      val prof = graft.operators.Drift.loadProfile(
        p.store, "m__drift_profile")
      p.store.read("m").agg(count(lit(1)).as("main_rows")).crossJoin(
        qt.agg(count(lit(1)).as("quarantine_rows"),
          max(col("_drift_column")).as("drift_column"),
          max(col("_drift_psi")).as("psi")))
        .withColumn("profile_n", lit(prof.counts.sum))
    },

    // the dead-letter cycle CLOSED end-to-end: the same breach fixture
    // as plane_drift_quarantine, then the OTHER half of the lifecycle —
    // replayQuarantine strips the provenance stamps, the replayed batch
    // loads clean (post-investigation, no drift gate), clearQuarantine
    // retires the handled rows. Gates: every order row reaches the main
    // table, the replayed half arrived via load 3, the lifted values
    // survived the quarantine round-trip bit-exact (v ≠ price exactly
    // on the lifted quarter), and the quarantine table is gone.
    "plane_quarantine_replay" -> q { c =>
      val p = new Pipeline("dqr",
        Scratch.dir("graft-dqr"), c.spark)
      val o = c.t("orders")
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("v"))
      val cur = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), (col("o_totalprice").cast("double") *
          when(pmod(col("o_orderkey"), lit(4)) === 1, lit(1.25))
            .otherwise(lit(1.0))).as("v"))
      def res(df: org.apache.spark.sql.DataFrame) =
        Resource("m", df).withDriftCheck("v", maxPsi = 0.05, quarantine = true)
      p.run(Seq(res(base)), "1")
      p.run(Seq(res(cur)), "2") // breaches -> m__quarantine
      val replay = p.replayQuarantine("m", loadId = Some("2"))
      p.run(Seq(Resource("m", replay)), "3") // clean re-ingest
      p.clearQuarantine("m")
      val main = p.store.read("m")
      val lifted = main.join(o.select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("tp")), "o_orderkey")
        .filter(col("v") =!= col("tp")).count()
      main.agg(count(lit(1)).as("main_rows"),
          sum(when(pmod(col("o_orderkey"), lit(2)) === 1, lit(1L))
            .otherwise(lit(0L))).as("replayed_rows"))
        .withColumn("lifted_rows", lit(lifted))
        .withColumn("quarantine_cleared",
          lit(!p.store.exists("m__quarantine")))
    },

    // quarantine RETENTION: two independent breaches accumulate in the
    // dead-letter table; load-scoped clearQuarantine retires ONLY the
    // investigated+replayed load (clearing everything would discard the
    // other, still-open breach — the exact failure the loadId parameter
    // exists to prevent); the age-based sweep then retires the stale
    // remainder by load-id cutoff (generated ids are epoch-micros, so
    // the cutoff IS an age). Gates: both sweeps' row counts, the
    // intermediate table sizes, and the final no-table invariant.
    "plane_quarantine_retention" -> q { c =>
      val p = new Pipeline("dqt",
        Scratch.dir("graft-dqt"), c.spark)
      val o = c.t("orders")
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("v"))
      val liftA = o.filter(pmod(col("o_orderkey"), lit(4)) === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("double") * lit(1.25)).as("v"))
      val liftB = o.filter(pmod(col("o_orderkey"), lit(4)) === 3)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("double") * lit(0.6)).as("v"))
      def res(df: org.apache.spark.sql.DataFrame) =
        Resource("m", df).withDriftCheck("v", maxPsi = 0.05, quarantine = true)
      p.run(Seq(res(base)), "1")
      p.run(Seq(res(liftA)), "2") // breach -> quarantined load 2
      p.run(Seq(res(liftB)), "3") // breach -> quarantined load 3
      val qBoth = p.store.read("m__quarantine").count()
      // investigate + replay load 2 clean, then retire ONLY its rows
      p.run(Seq(Resource("m", p.replayQuarantine("m", Some("2")))), "4")
      p.clearQuarantine("m", loadId = Some("2"))
      val qAfterClear = p.store.read("m__quarantine").count()
      val sweptNoop = p.sweepQuarantine("m", "3") // exclusive: 3 stays
      val sweptAged = p.sweepQuarantine("m", "9") // retires load 3
      p.store.read("m").agg(count(lit(1)).as("main_rows"),
          sum(when(pmod(col("o_orderkey"), lit(4)) === 1, lit(1L))
            .otherwise(lit(0L))).as("replayed_rows"))
        .withColumn("q_both", lit(qBoth))
        .withColumn("q_after_clear", lit(qAfterClear))
        .withColumn("swept_noop", lit(sweptNoop))
        .withColumn("swept_aged", lit(sweptAged))
        .withColumn("quarantine_cleared",
          lit(!p.store.exists("m__quarantine")))
    },

    // typed TIME TRAVEL on the dataset facade: asOf pins a snapshot and
    // the relation composes like any other — v1 (pre-append) unioned
    // with the current head, both through GraftDataset
    "ds_as_of" -> q { c =>
      val p = new Pipeline("dsa",
        Scratch.dir("graft-dsa"), c.spark)
      val ev = c.t("events").select("event_id", "user_id")
      p.run(Seq(Resource("events_t", ev.filter(col("event_id") < 100))), "1")
      val snap1 = p.dataset.snapshots("events_t").last
      p.run(Seq(Resource("events_t",
        ev.filter(col("event_id") >= 100 && col("event_id") < 200))), "2")
      val v1 = p.dataset.asOf("events_t", snap1)
        .select("event_id", "user_id").df().withColumn("version", lit("v1"))
      val cur = p.dataset.table("events_t")
        .select("event_id", "user_id").df()
        .withColumn("version", lit("current"))
      v1.unionByName(cur).orderBy("version", "event_id")
    },

    // filesystem source: csv write + distributed read with provenance
    "src_csv_roundtrip" -> q { c =>
      val dir = Scratch.dir("graft-csv")
      c.t("region").write.option("header", "true").csv(s"$dir/region")
      Filesystem.readCsv(c.spark, s"$dir/region")
        .select("r_regionkey", "r_name").orderBy("r_regionkey")
    },

    // declarative REST source: offset paginator over a deterministic fake
    // transport (zero-egress env) — pagination logic runs for real
    "src_rest_pages" -> q { c =>
      val transport: Rest.Transport = url => {
        val offset = url.split("offset=").lift(1)
          .map(_.takeWhile(_.isDigit).toInt).getOrElse(0)
        val items = (offset until math.min(offset + 2, 5))
          .map(i => s"""{"id":$i,"name":"item_$i"}""").mkString(",")
        Rest.Response(s"""{"data":[$items]}""")
      }
      val count = (body: String) => "\"id\":".r.findAllIn(body).length
      Rest.read(c.spark, "http://api/items?offset=0", transport,
        Rest.Offset(limit = 2, itemCount = count), itemsPath = Some("data"))
        .orderBy("id")
    }
  )

  val oracles: Map[String, String] = Map(
    // the PSI CTE chain is THE shared fragment
    // ([[SketchQueries.psiOracleCtes]]) — identical semantics to the
    // ops_drift_psi gate, different tail
    "plane_drift_quarantine" ->
      s"""WITH ${SketchQueries.psiOracleCtes(
            SketchQueries.driftBaseSql, SketchQueries.driftCurSql, 10)}
         |SELECT
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)::BIGINT
         |    AS main_rows,
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)::BIGINT
         |    AS quarantine_rows,
         |  'v' AS drift_column,
         |  (SELECT psi FROM tot) AS psi,
         |  '2' AS quarantine_load""".stripMargin,

    "plane_drift_profiled" ->
      s"""WITH ${SketchQueries.psiOracleCtes(
            baseSql = """SELECT o_totalprice::DOUBLE AS v FROM orders
              |  WHERE o_orderkey % 3 IN (0, 1)""".stripMargin,
            curSql = """SELECT o_totalprice::DOUBLE * 3.0 + 100000.0 AS v
              |  FROM orders WHERE o_orderkey % 3 = 2""".stripMargin,
            bins = 10,
            rangeSql = Some("""SELECT o_totalprice::DOUBLE AS v
              |  FROM orders WHERE o_orderkey % 3 = 0""".stripMargin))}
         |SELECT
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 IN (0, 1))::BIGINT
         |    AS main_rows,
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 2)::BIGINT
         |    AS quarantine_rows,
         |  'v' AS drift_column,
         |  (SELECT psi FROM tot) AS psi,
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 IN (0, 1))::BIGINT
         |    AS profile_n""".stripMargin,

    "plane_quarantine_replay" ->
      """SELECT count(*)::BIGINT AS main_rows,
        |  (count(*) FILTER (WHERE o_orderkey % 2 = 1))::BIGINT
        |    AS replayed_rows,
        |  (count(*) FILTER (WHERE o_orderkey % 4 = 1))::BIGINT
        |    AS lifted_rows,
        |  true AS quarantine_cleared
        |FROM orders""".stripMargin,

    "plane_quarantine_retention" ->
      """SELECT
        |  ((count(*) FILTER (WHERE o_orderkey % 2 = 0))
        |    + (count(*) FILTER (WHERE o_orderkey % 4 = 1)))::BIGINT
        |    AS main_rows,
        |  (count(*) FILTER (WHERE o_orderkey % 4 = 1))::BIGINT
        |    AS replayed_rows,
        |  ((count(*) FILTER (WHERE o_orderkey % 4 = 1))
        |    + (count(*) FILTER (WHERE o_orderkey % 4 = 3)))::BIGINT
        |    AS q_both,
        |  (count(*) FILTER (WHERE o_orderkey % 4 = 3))::BIGINT
        |    AS q_after_clear,
        |  0::BIGINT AS swept_noop,
        |  (count(*) FILTER (WHERE o_orderkey % 4 = 3))::BIGINT
        |    AS swept_aged,
        |  true AS quarantine_cleared
        |FROM orders""".stripMargin,

    "ds_as_of" ->
      """SELECT event_id, user_id, 'v1' AS version FROM events
        |WHERE event_id < 100
        |UNION ALL
        |SELECT event_id, user_id, 'current' FROM events
        |WHERE event_id < 200
        |ORDER BY version, event_id""".stripMargin,

    "inc_exactly_once" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
    "plane_custom_destination" ->
      """SELECT event_id, user_id, event_type,
        |  'EvSink' AS sink_table, FALSE AS had_dlt_cols
        |FROM events ORDER BY event_id""".stripMargin,
    "plane_schema_evolve" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 2 = 0 THEN event_type END AS event_type,
        |  CAST(CAST(CASE WHEN event_id % 2 = 1 THEN value ELSE -1.0 END
        |    AS DECIMAL(18,4)) * 10000 AS BIGINT) AS amount_e4
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_incremental_cursor" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",

    "ds_relation_ops" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars >= 100
        |ORDER BY doc_id LIMIT 100""".stripMargin,
    "ds_reference_join" ->
      """SELECT c_custkey, n_name AS nation__n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "plane_transformer" ->
      """SELECT o_orderkey, 'base' AS fee_type,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 2 / 100
        |    AS DECIMAL(18,4)) * 10000 AS BIGINT) AS fee_e4
        |FROM orders WHERE o_orderkey < 500
        |UNION ALL
        |SELECT o_orderkey, 'rush',
        |  CAST(CAST(CASE WHEN o_totalprice > 200000 THEN 500.0 ELSE 0.0 END
        |    AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey, fee_type""".stripMargin,

    "plane_salted_join" ->
      """WITH u AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT event_id, user_id, n_events
        |FROM events JOIN u USING (user_id)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "src_jdbc" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders WHERE o_orderkey >= 1000 ORDER BY o_orderkey""".stripMargin,
    "src_files_incremental" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
    "src_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "src_rest_pages" ->
      """SELECT CAST(id AS BIGINT) AS id, name FROM (VALUES (0, 'item_0'),
        |  (1, 'item_1'), (2, 'item_2'), (3, 'item_3'), (4, 'item_4'))
        |  AS t(id, name) ORDER BY id""".stripMargin
  )
}
