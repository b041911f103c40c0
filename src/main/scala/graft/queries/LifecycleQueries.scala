package graft.queries

import org.apache.spark.sql.functions._

import graft.normalize.ModelNormalizer
import graft.pipeline.{Pipeline, Resource}
import graft.write.{Dispositions, ReplaceStrategy, TableStore}

/** Lifecycle operators (SURVEY.md §2.10), replace strategies (§2.5),
  * model normalizer (§2.4), direct file import (§2.1/§4) and the
  * MetricsItem observe channel (§2.3) — each oracle-checked.
  */
object LifecycleQueries {

  private def tmp(p: String): String = Scratch.dir(p)

  val defs: Map[String, Q] = Map(
    // "table as SELECT" with _dlt_load_id injection; star-select rejected
    "norm_model_select" -> q { c =>
      c.t("orders").createOrReplaceTempView("orders_v")
      ModelNormalizer.normalize(c.spark,
        """SELECT o_orderkey, o_totalprice * 2 AS px
          |FROM orders_v WHERE o_orderkey % 100 = 0""".stripMargin, loadId = "1")
        .select("o_orderkey", "px", "_dlt_load_id")
        .orderBy("o_orderkey")
    },

    // typed per-field validation: dead-letter split with structured
    // (field, expected, value) violations; output = per-field violation
    // counts + the surviving row count, both re-derivable in SQL
    "plane_validate_fields" -> q { c =>
      import graft.schema.Validation
      import graft.schema.Validation.FieldRule
      val src = c.t("orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_orderpriority"))
          .otherwise(substring(col("o_orderpriority"), 1, 1)).as("prio"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status"))
      val rules = Seq(
        FieldRule("prio", dataType = Some(org.apache.spark.sql.types.IntegerType)),
        FieldRule("status", required = true,
          check = Some(s => s.isin("O", "F")), checkDesc = "in {O,F}"))
      // count violations straight off the annotated structs (the JSON
      // serialization is the dead-letter SINK contract, not needed for
      // aggregation — the round trip cost ~6s at sf0.1)
      val ann = Validation.annotate(src, rules)
      val deadCounts = ann
        .select(explode(col(Validation.ViolationsCol)).as("v"))
        .groupBy(col("v.field").as("field"), col("v.expected").as("expected"))
        .agg(count(lit(1)).as("n"))
      val validRow = ann.filter(size(col(Validation.ViolationsCol)) === 0)
        .agg(count(lit(1)).as("n"))
        .select(lit("_valid").as("field"), lit("rows").as("expected"), col("n"))
      deadCounts.unionByName(validRow).orderBy("field", "expected")
    },

    // zero-copy ingestion: parquet registered as segments, never rewritten
    "src_file_import" -> q { c =>
      val store = new TableStore(tmp("graft-imp"), c.spark)
      store.importFiles("events_imported", Seq(s"${c.dir}/events.parquet"))
      store.read("events_imported")
        .select("event_id", "user_id", "event_type").orderBy("event_id")
    },

    // replace via staging dataset (insert-from-staging): last load wins
    "write_replace_staging" -> q { c =>
      val store = new TableStore(tmp("graft-rs"), c.spark)
      val d = new Dispositions(store, c.spark)
      val l1 = c.t("orders").filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val l2 = c.t("orders").filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
      d.replace("t", l1, "1", ReplaceStrategy.InsertFromStaging)
      d.replace("t", l2, "2", ReplaceStrategy.InsertFromStaging)
      store.read("t").orderBy("o_orderkey")
    },

    // replace via truncate-and-insert (the default strategy): the commit
    // that lands load 2 atomically drops load 1's segments
    "write_replace_truncate" -> q { c =>
      val store = new TableStore(tmp("graft-rt"), c.spark)
      val d = new Dispositions(store, c.spark)
      val l1 = c.t("orders").filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val l2 = c.t("orders").filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
      d.replace("t", l1, "1", ReplaceStrategy.TruncateAndInsert)
      d.replace("t", l2, "2", ReplaceStrategy.TruncateAndInsert)
      store.read("t").orderBy("o_orderkey")
    },

    // replace via zero-copy clone of the staging table
    "write_replace_clone" -> q { c =>
      val store = new TableStore(tmp("graft-rc"), c.spark)
      val d = new Dispositions(store, c.spark)
      val l1 = c.t("orders").filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val l2 = c.t("orders").filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
      d.replace("t", l1, "1", ReplaceStrategy.StagingOptimized)
      d.replace("t", l2, "2", ReplaceStrategy.StagingOptimized)
      store.read("t").orderBy("o_orderkey")
    },

    // filesystem DESTINATION (dlt filesystem analog): two jsonl load
    // packages land as layout-named files
    // ({table_name}/{load_id}.{file_id}.jsonl), then the reader side of
    // the layout contract re-assembles the table across loads
    "write_filesystem_jsonl" -> q { c =>
      val sink = new graft.write.FilesystemSink(tmp("graft-fsd"), c.spark)
      val ev = c.t("events").select("event_id", "user_id", "event_type")
      sink.write("events", ev.filter(col("event_id") % 2 === 0), "l1")
      sink.write("events", ev.filter(col("event_id") % 2 === 1), "l2")
      sink.read("events", "jsonl", Some(ev.schema))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },

    // Z-ORDER clustered layout: lineitem laid out as 8 Morton-ordered
    // segments on (l_orderkey, l_quantity); the gated read prunes on
    // the NON-LEADING dimension through the manifest stats and must
    // lose no qualifying row vs the direct filter over the raw table
    "write_zorder_layout" -> q { c =>
      val store = new TableStore(tmp("graft-zo"), c.spark)
      val li = c.t("lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      graft.write.Zorder.overwrite(store, "t", li,
        Seq("l_orderkey", "l_quantity"), segments = 8)
      store.readPruned("t", "l_quantity", Some("10"), Some("20"))
        .filter(col("l_quantity") >= 10 && col("l_quantity") <= 20)
        .orderBy("l_orderkey", "l_linenumber")
    },

    // MetricsItem: observed metrics ride the load action (no extra scan)
    "plane_metrics_observe" -> q { c =>
      val p = new Pipeline("mx", tmp("graft-mx"), c.spark)
      p.run(Seq(Resource("events", c.t("events").select("event_id", "user_id"))
        .addMetrics("n_rows" -> count(lit(1)), "sum_ids" -> sum(col("event_id")))), "1")
      val m = p.metrics("events")
      import c.spark.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("sum_ids").asInstanceOf[Long]))
        .toDF("n_rows", "sum_ids")
    },

    // table dispatch: rows route to per-event-type tables
    "plane_table_dispatch" -> q { c =>
      val p = new Pipeline("td", tmp("graft-td"), c.spark)
      p.run(Seq(Resource("ev", c.t("events").select("event_id", "event_type", "user_id"))
        .withTableDispatch("event_type")), "1")
      p.store.read("ev_click").select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    },

    // TIME TRAVEL: immutable segments + retained manifests make old
    // snapshots free to read — v1 is read AFTER an append and a
    // tombstone delete have moved the table on, and must show neither
    "lifecycle_time_travel" -> q { c =>
      import graft.write.TableStore
      val store = new TableStore(tmp("graft-tt"), c.spark)
      val ev = c.t("events").select("event_id", "user_id")
      store.overwrite("t", ev.filter(col("event_id") < 100))
      val snap1 = store.snapshots("t").last
      store.append("t", ev.filter(col("event_id") >= 100 && col("event_id") < 200))
      // merge-on-read delete of even ids < 100 + an insert, one commit
      store.appendWithTombstone("t",
        ev.filter(col("event_id") >= 200 && col("event_id") < 250), "event_id",
        ev.filter(col("event_id") < 100 && col("event_id") % 2 === 0)
          .select("event_id"))
      val v1 = store.readAt("t", snap1).withColumn("version", lit("v1"))
      val cur = store.read("t").withColumn("version", lit("current"))
      v1.unionByName(cur).select("version", "event_id", "user_id")
        .orderBy("version", "event_id")
    },

    // SNAPSHOT RETENTION on the table plane (the collection-retention
    // twin, Delta/Iceberg snapshot expiry): 3 commits → pin snapshot 1
    // → TTL=∞ sweep retains all → keep-1 sweep expires the unpinned
    // middle (pin survives) → the PINNED snapshot still time-travels
    // AFTER the sweep vacuumed its sibling's segments — its rows ARE
    // the gate output. A second table proves TTL=0 at a future `now`
    // expires an unpinned snapshot. Policy outcomes ride the hash as
    // literals with EXPECTED values hardcoded in the oracle.
    "lifecycle_table_ttl" -> q { c =>
      import graft.write.TableStore
      val store = new TableStore(tmp("graft-ttt"), c.spark)
      val ev = c.t("events").select("event_id", "user_id")
      store.overwrite("t", ev.filter(col("event_id") < 100))        // snap 1
      store.append("t", ev.filter(col("event_id") >= 100 && col("event_id") < 200))
      store.append("t", ev.filter(col("event_id") >= 200 && col("event_id") < 300))
      val snaps = store.snapshots("t")
      store.pinSnapshot("t", snaps.head)
      val rA = store.applyRetention("t", keepLast = 1,
        ttlMs = Some(Long.MaxValue))
      val ttlRetains = rA._1.isEmpty && rA._2 == snaps
      val rB = store.applyRetention("t", keepLast = 1)
      val midExpired = rB._1 == Seq(snaps(1)) &&
        store.snapshots("t") == Seq(snaps.head, snaps.last)
      // the TTL=0 direction on a second table: no pin, future now
      store.overwrite("t2", ev.filter(col("event_id") < 10))
      store.append("t2", ev.filter(col("event_id") >= 10 && col("event_id") < 20))
      val s2 = store.snapshots("t2")
      val r2 = store.applyRetention("t2", keepLast = 1, ttlMs = Some(0L),
        now = System.currentTimeMillis() + 600000L)
      val ttlExpires = r2._1 == Seq(s2.head) &&
        store.snapshots("t2") == Seq(s2.last)
      store.readAt("t", snaps.head)
        .withColumn("ttl_retains", lit(ttlRetains))
        .withColumn("mid_expired", lit(midExpired))
        .withColumn("ttl_expires", lit(ttlExpires))
        .orderBy("event_id")
    },

    // RETENTION RIDES THE LOAD (r15): the resource declares a keep-N
    // policy and every load's commit sweeps — four appends under
    // keep-2 leave exactly (pin + last two) snapshots with ZERO manual
    // maintenance calls, the DATA accumulates all four loads, and the
    // pre-sweep pin still time-travels; a control resource without the
    // hook keeps all four snapshots (opt-in only). All outcomes ride
    // the hash as literals hardcoded TRUE in the oracle.
    "lifecycle_retain_on_load" -> q { c =>
      val p = new Pipeline("rol", tmp("graft-rol"), c.spark)
      val ev = c.t("events").select("event_id", "user_id")
      def res(lo: Int, hi: Int) = Resource("t",
        ev.filter(col("event_id") >= lo && col("event_id") < hi))
        .withRetention(keepLast = 2)
      p.run(Seq(res(0, 100)), "1")
      p.run(Seq(res(100, 200)), "2")
      val sPin = p.store.snapshots("t").last
      p.store.pinSnapshot("t", sPin)
      p.run(Seq(res(200, 300)), "3")
      p.run(Seq(res(300, 400)), "4")
      val snaps = p.store.snapshots("t")
      val sweptToPolicy = snaps.size == 3 && snaps.contains(sPin)
      val pinRows = p.store.readAt("t", sPin).count() ==
        ev.filter(col("event_id") < 200).count()
      (1 to 4).foreach(i => p.run(Seq(
        Resource("u", ev.filter(col("event_id") < 10))), s"u$i"))
      val controlKeeps = p.store.snapshots("u").size == 4
      p.store.read("t").select(col("event_id"), col("user_id"))
        .withColumn("swept_to_policy", lit(sweptToPolicy))
        .withColumn("pin_time_travels", lit(pinRows))
        .withColumn("control_unswept", lit(controlKeeps))
        .orderBy("event_id")
    },

    // CHANGE FEED between snapshots: updates surface as delete+insert
    // pairs of the same key; computed from the immutable snapshots
    // themselves (two anti-joins), no per-row version bookkeeping
    "lifecycle_table_diff" -> q { c =>
      import graft.write.{Merge, MergeConfig, TableStore, Dispositions}
      val store = new TableStore(tmp("graft-td"), c.spark)
      val d = new Dispositions(store, c.spark)
      val o = c.t("orders").select(col("o_orderkey"), col("o_orderstatus"))
        .filter(col("o_orderkey") < 500)
      val cfg = MergeConfig(primaryKey = Seq("o_orderkey"))
      d.merge("t", Merge.dedup(o, cfg), cfg, "1")
      val s1 = store.snapshots("t").last
      // load 2: flip status of %3==0, delete %7==0, insert 500-549
      val upd = c.t("orders").select(col("o_orderkey"), col("o_orderstatus"))
        .filter(col("o_orderkey") < 550)
        .filter(col("o_orderkey") % 7 =!= 0 || col("o_orderkey") >= 500)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 3 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      d.replace("t", upd, "2")
      val s2 = store.snapshots("t").last
      store.diff("t", s1, s2, Seq("o_orderkey", "o_orderstatus"))
        .select("_change", "o_orderkey", "o_orderstatus")
        .orderBy("_change", "o_orderkey")
    },

    // refresh drop_data: truncate keeps schema; reload only 'en' docs
    "lifecycle_refresh" -> q { c =>
      val p = new Pipeline("rf", tmp("graft-rf"), c.spark)
      val docs = c.t("documents").select("doc_id", "lang", "n_chars")
      p.run(Seq(Resource("documents", docs)), "1")
      p.dropData("documents")
      p.run(Seq(Resource("documents", docs.filter(col("lang") === "en"))), "2")
      p.store.read("documents").select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "norm_model_select" ->
      """SELECT o_orderkey, o_totalprice * 2 AS px, '1' AS _dlt_load_id
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,
    "src_file_import" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
    "write_replace_staging" ->
      """SELECT o_orderkey, o_totalprice, '2' AS _dlt_load_id
        |FROM orders WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""".stripMargin,
    "write_replace_truncate" ->
      """SELECT o_orderkey, o_totalprice, '2' AS _dlt_load_id
        |FROM orders WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""".stripMargin,
    "write_replace_clone" ->
      """SELECT o_orderkey, o_totalprice, '2' AS _dlt_load_id
        |FROM orders WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""".stripMargin,
    "plane_metrics_observe" ->
      "SELECT count(*) AS n_rows, sum(event_id)::BIGINT AS sum_ids FROM events",
    "write_zorder_layout" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 10 AND l_quantity <= 20
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "write_filesystem_jsonl" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
    "lifecycle_refresh" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "lifecycle_table_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 500),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  WHERE o_orderkey < 550 AND (o_orderkey % 7 <> 0 OR o_orderkey >= 500))
        |SELECT 'insert' AS _change, o_orderkey, o_orderstatus
        |FROM v2 ANTI JOIN v1 USING (o_orderkey, o_orderstatus)
        |UNION ALL
        |SELECT 'delete', o_orderkey, o_orderstatus
        |FROM v1 ANTI JOIN v2 USING (o_orderkey, o_orderstatus)
        |ORDER BY _change, o_orderkey""".stripMargin,
    "lifecycle_time_travel" ->
      """SELECT 'v1' AS version, event_id, user_id FROM events
        |WHERE event_id < 100
        |UNION ALL
        |SELECT 'current', event_id, user_id FROM events
        |WHERE event_id < 250 AND NOT (event_id < 100 AND event_id % 2 = 0)
        |ORDER BY version, event_id""".stripMargin,
    // the pinned snapshot's rows (= the first overwrite) with every
    // policy outcome asserted at its expected value
    "lifecycle_table_ttl" ->
      """SELECT event_id, user_id,
        |  TRUE AS ttl_retains, TRUE AS mid_expired, TRUE AS ttl_expires
        |FROM events WHERE event_id < 100
        |ORDER BY event_id""".stripMargin,
    "lifecycle_retain_on_load" ->
      """SELECT event_id, user_id,
        |  TRUE AS swept_to_policy, TRUE AS pin_time_travels,
        |  TRUE AS control_unswept
        |FROM events WHERE event_id < 400
        |ORDER BY event_id""".stripMargin,
    "plane_table_dispatch" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    "plane_validate_fields" ->
      """WITH src AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority
        |         ELSE substr(o_orderpriority, 1, 1) END AS prio,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_orderstatus END AS status
        |  FROM orders),
        |v AS (
        |  SELECT
        |    (prio IS NOT NULL AND TRY_CAST(prio AS INTEGER) IS NULL) AS v_prio,
        |    (status IS NULL) AS v_status_null,
        |    (status IS NOT NULL AND status NOT IN ('O', 'F')) AS v_status_chk
        |  FROM src)
        |SELECT 'prio' AS field, 'int' AS expected, count(*)::BIGINT AS n
        |FROM v WHERE v_prio
        |UNION ALL SELECT 'status', 'non-null', count(*) FROM v WHERE v_status_null
        |UNION ALL SELECT 'status', 'in {O,F}', count(*) FROM v WHERE v_status_chk
        |UNION ALL SELECT '_valid', 'rows', count(*)
        |FROM v WHERE NOT (v_prio OR v_status_null OR v_status_chk)
        |ORDER BY field, expected""".stripMargin
  )
}
