package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator's demo query; each has a
  * matching DuckDB oracle in `oracleSql` when SQL-expressible (the driver
  * hash-compares at sf0.01). Non-SQL-expressible operators (LSH, random ids)
  * are present in `queries` only → rows-only check.
  */
object SparkEntry {

  // a def, not a val: ExtQueries.oracles includes a model-derived
  // oracle (sim_pca_project) deposited by the gate query at run time,
  // so the oracle map must be re-read at dump time
  private def packs: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (RelationalQueries.defs, RelationalQueries.oracles),
    (RelationalExtQueries.defs, RelationalExtQueries.oracles),
    (NormalizeQueries.defs, NormalizeQueries.oracles),
    (MergeQueries.defs, MergeQueries.oracles),
    (PlaneQueries.defs, PlaneQueries.oracles),
    (ExtQueries.defs, ExtQueries.oracles),
    (TextIRQueries.defs, TextIRQueries.oracles),
    (OpsQueries.defs, OpsQueries.oracles),
    (CleanQueries.defs, CleanQueries.oracles),
    (SketchQueries.defs, SketchQueries.oracles),
    (StreamQueries.defs, StreamQueries.oracles),
    (LifecycleQueries.defs, LifecycleQueries.oracles)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * End-to-end slice: read events → revenue-ish star aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    RelationalQueries.defs("rel_join_multi")(spark, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.iterator.flatMap(_._1).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.iterator.flatMap(_._2).toMap

  /** Queries whose oracle SQL is DERIVED FROM A FITTED MODEL at run
    * time (so it reaches [[oracleSql]] only if the query ran in this
    * JVM) — [[Verify]] marks their presence in `query_meta.json` so a
    * subset run is visibly 'oracle skipped', not 'no oracle exists'. */
  def modelDerivedOracles: Set[String] =
    Set("sim_pca_project", "sim_opq_adc", "sim_ivf_opq",
      "sim_opq_generation", "ops_corpus_assembly_v2",
      "text_quality_classifier", "text_quality_persisted",
      "text_quality_custom", "stream_quality_filter",
      "stream_corpus_curate", "stream_curate_drift")
}
