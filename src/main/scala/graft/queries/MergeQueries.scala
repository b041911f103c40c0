package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.normalize.{NormalizeConfig, Normalizer, RootIdType}
import graft.write._

/** Load-plane operators (SURVEY.md §2.5) demonstrated end-to-end: each
  * query builds a fresh [[TableStore]], runs two overlapping deterministic
  * loads through a disposition, and returns the final table — the DuckDB
  * oracle expresses the expected end state in SQL.
  */
object MergeQueries {

  private def tmpStore(c: Ctx): TableStore =
    new TableStore(Scratch.dir("graft-q"), c.spark)

  /** load1 = orders with key%3==1; load2 = orders with key%2==0 (overlap
    * at key%6==4), tagged with provenance. */
  private def load1(c: Ctx): DataFrame =
    c.t("orders").filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), lit("load1").as("src"))
  private def load2(c: Ctx): DataFrame =
    c.t("orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), lit("load2").as("src"))

  val defs: Map[String, Q] = Map(
    "merge_delete_insert" -> q { c =>
      val store = tmpStore(c)
      val d = new Dispositions(store, c.spark)
      val cfg = MergeConfig(primaryKey = Seq("o_orderkey"))
      d.merge("t", load1(c), cfg, "1")
      d.merge("t", load2(c), cfg, "2")
      store.read("t").select("o_orderkey", "o_totalprice", "src").orderBy("o_orderkey")
    },

    "merge_upsert_hard_delete" -> q { c =>
      val store = tmpStore(c)
      val d = new Dispositions(store, c.spark)
      val cfg = MergeConfig(primaryKey = Seq("o_orderkey"),
        hardDeleteColumn = Some("deleted"))
      d.merge("t", load1(c).withColumn("deleted", lit(false)), cfg, "1",
        MergeStrategy.Upsert)
      d.merge("t", load2(c).withColumn("deleted", col("o_orderkey") % 10 === 0),
        cfg, "2", MergeStrategy.Upsert)
      store.read("t").select("o_orderkey", "o_totalprice", "src").orderBy("o_orderkey")
    },

    "merge_insert_only" -> q { c =>
      val store = tmpStore(c)
      val d = new Dispositions(store, c.spark)
      val cfg = MergeConfig(primaryKey = Seq("o_orderkey"))
      d.merge("t", load1(c), cfg, "1", MergeStrategy.InsertOnly)
      d.merge("t", load2(c), cfg, "2", MergeStrategy.InsertOnly)
      store.read("t").select("o_orderkey", "o_totalprice", "src").orderBy("o_orderkey")
    },

    // staged duplicates per key: dedup keeps the row with max event_id
    "merge_dedup_sort" -> q { c =>
      val store = tmpStore(c)
      val d = new Dispositions(store, c.spark)
      val cfg = MergeConfig(primaryKey = Seq("user_id"), dedupSort = Some("event_id"))
      d.merge("t", c.t("events").select("user_id", "event_id", "event_type"), cfg, "1")
      store.read("t").select("user_id", "event_id", "event_type").orderBy("user_id")
    },

    // SCD2: load1 = snapshot; load2 changes price for key%5==0 and drops
    // key%7==0 → retire changed+absent, insert new versions
    "merge_scd2" -> q { c =>
      val store = tmpStore(c)
      val d = new Dispositions(store, c.spark)
      val base = c.t("orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      val changed = base
        .filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 5 === 0, col("price") * 2).otherwise(col("price")))
      val cfg = Scd2Config(trackedColumns = Seq("o_orderkey", "price"),
        boundaryTs = "2024-01-01 00:00:00")
      d.scd2("t", base, cfg, "1")
      d.scd2("t", changed, cfg.copy(boundaryTs = "2024-06-01 00:00:00"), "2")
      store.read("t").select(
        col("o_orderkey"), col("price"),
        date_format(col("_dlt_valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("_dlt_valid_to"), "yyyy-MM-dd").as("valid_to"))
        .orderBy("o_orderkey", "valid_from")
    },

    // nested chain: load2 replaces item lists of even keys with bumped
    // quantities; children of replaced roots cascade
    "merge_chain_items" -> q { c =>
      val store = tmpStore(c)
      val cfg = MergeConfig(primaryKey = Seq("o_orderkey"))

      // the heavy extract (lineitem collect_list shuffle) is LOAD-
      // INVARIANT up to the per-load quantity bump, so it runs ONCE and
      // stays pinned across both loads — each load derives its staged
      // document with a cheap array `transform` (the bump preserves the
      // array_sort order, a constant shifts every element alike). The
      // two-load protocol then pays the extract once, as a real
      // pipeline pinning its extracted package would.
      val li = Dedup.pin(c.t("lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber"), col("l_quantity")))).as("items0")))

      def chain(keyFilter: org.apache.spark.sql.Column, qtyBump: Double,
                loadId: String): TableChain = {
        val doc = Dedup.pin(c.t("orders").filter(keyFilter)
          .join(li, col("o_orderkey") === col("l_orderkey"), "inner")
          .select(col("o_orderkey"),
            transform(col("items0"), x => struct(
              x.getField("l_linenumber").as("l_linenumber"),
              (x.getField("l_quantity") + qtyBump).as("l_quantity")))
              .as("items")))
        val tables = Normalizer.normalize(doc, "ord",
          NormalizeConfig(loadId = loadId,
            rootIdType = RootIdType.KeyHash(Seq("o_orderkey")),
            propagate = Map("_dlt_id" -> "_dlt_root_id",
              "o_orderkey" -> "order_key")))
        TableChain("ord", tables("ord"), Map("ord__items" -> tables("ord__items")))
      }

      MergeChain.deleteInsert(store, chain(col("o_orderkey") % 3 === 1, 0.0, "1"), cfg, "1")
      MergeChain.deleteInsert(store, chain(col("o_orderkey") % 2 === 0, 100.0, "2"), cfg, "2")
      store.read("ord__items")
        .select("order_key", "_dlt_list_idx", "l_linenumber", "l_quantity")
        .orderBy("order_key", "_dlt_list_idx")
    }
  )

  val oracles: Map[String, String] = Map(
    "merge_delete_insert" ->
      """SELECT o_orderkey, o_totalprice, 'load2' AS src FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'load1' FROM orders
        |WHERE o_orderkey % 3 = 1 AND o_orderkey % 2 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    "merge_upsert_hard_delete" ->
      """SELECT o_orderkey, o_totalprice, 'load2' AS src FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'load1' FROM orders
        |WHERE o_orderkey % 3 = 1 AND o_orderkey % 2 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    "merge_insert_only" ->
      """SELECT o_orderkey, o_totalprice, 'load1' AS src FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'load2' FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 1
        |ORDER BY o_orderkey""".stripMargin,
    "merge_dedup_sort" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "merge_scd2" ->
      """SELECT o_orderkey, o_totalprice AS price, '2024-01-01' AS valid_from,
        |  CASE WHEN o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
        |       THEN '2024-06-01' END AS valid_to
        |FROM orders WHERE o_orderkey < 1000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice * 2, '2024-06-01', NULL
        |FROM orders
        |WHERE o_orderkey < 1000 AND o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |ORDER BY o_orderkey, valid_from""".stripMargin,
    "merge_chain_items" ->
      """SELECT l_orderkey AS order_key,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_quantity) - 1 AS INT) AS _dlt_list_idx,
        |  l_linenumber,
        |  CASE WHEN l_orderkey % 2 = 0 THEN l_quantity + 100.0
        |       ELSE l_quantity END AS l_quantity
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
        |  AND (l_orderkey % 2 = 0 OR l_orderkey % 3 = 1)
        |ORDER BY order_key, _dlt_list_idx""".stripMargin
  )
}
