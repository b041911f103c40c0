package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.storage.StorageLevel

import graft.incremental.Incremental
import graft.normalize.{NormalizeConfig, Normalizer, RootIdType}
import graft.pipeline.Pipeline
import graft.schema.SchemaRegistry
import graft.write.{Dispositions, MergeChain, MergeConfig, TableChain, TableStore}

/** Per-layer metrics of the traced run. Spans inside `Pipeline.run`
  * cannot be split from outside the program, so after the timed
  * operations the traced run calls each layer's public function once on
  * input it has already materialized — source frame → Incremental.apply
  * → Normalizer.normalize → Dispositions/MergeChain — so each of those
  * spans holds only that layer's work. */
object Layers {
  val Names: Seq[String] = Seq("sources", "incremental", "normalize", "schema", "write",
    "pipeline", "streaming", "dataset", "ext")

  /** Every per-layer metric name with its unit, in report order. */
  val Counters: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "exec_cpu_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "gc_s" -> "s",
    "max_task_s" -> "s", "analysis_s" -> "s")
  val Stages: Seq[String] = Seq("langid", "quality", "line_strip", "near_dup", "decontaminated",
    "mixed_capped")
  val Specific: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.input_bytes" -> "bytes", "sources.rows" -> "count",
    "normalize.s" -> "s", "normalize.rows_out" -> "count", "normalize.tables_out" -> "count",
    "schema.evolve_s" -> "s", "schema.version_bumps" -> "count",
    "incremental.window_s" -> "s", "incremental.advance_s" -> "s",
    "incremental.rows_in" -> "count", "incremental.kept_ratio" -> "ratio",
    "write.append_s" -> "s", "write.merge_s" -> "s", "write.scd2_s" -> "s",
    "write.bytes_written" -> "bytes", "write.write_amp" -> "ratio",
    "write.segments_rewritten" -> "count", "write.merge_prune_ratio" -> "ratio",
    "write.segments_live" -> "count", "write.tombstones_live" -> "count",
    "pipeline.run_s" -> "s", "pipeline.driver_gap_s" -> "s",
    "dataset.plan_s" -> "s", "dataset.exec_s" -> "s", "dataset.files_read" -> "count",
    "dataset.prune_ratio" -> "ratio", "dataset.rows_scanned_per_row_out" -> "ratio",
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.trigger_overhead_s" -> "s",
    "ext.assemble_s" -> "s", "ext.index_s" -> "s", "ext.classifier_fit_s" -> "s",
    "ext.screen_s" -> "s", "ext.dup_ratio" -> "ratio") ++
    Stages.map(s => s"ext.stage_docs.$s" -> "count") ++ Seq(
    "bench.generate_s" -> "s", "bench.trace_overhead_s" -> "s")

  /** Span-derived metrics merged over the workload's own values; layers
    * that do no work on a workload report 0. */
  def metrics(t: Tracer, r: RunResult): Seq[(String, (Double, String))] = {
    val inOp = t.spans.filter(s => s.op >= 0).toSeq
    // per timed operation that called the layer, else every other call
    // (set-up or the decomposed calls), once
    def per(layer: String): (Seq[Span], Double) = {
      val ops = inOp.filter(_.layer == layer)
      if (ops.nonEmpty) (ops, ops.map(_.op).distinct.size.toDouble)
      else (t.spans.filter(_.layer == layer).toSeq, 1.0)
    }
    val counters = Names.flatMap { layer =>
      val (spans, div) = per(layer)
      val cs = spans.map(s => Option(t.counters.get(s.id)).getOrElse(new Counters))
      Seq(
        "jobs" -> cs.map(_.jobs).sum / div, "tasks" -> cs.map(_.tasks).sum / div,
        "exec_cpu_s" -> cs.map(_.execCpuNs).sum / 1e9 / div,
        "shuffle_bytes" -> cs.map(_.shuffleBytes).sum / div,
        "spill_bytes" -> cs.map(_.spillBytes).sum / div,
        "gc_s" -> cs.map(_.gcMs).sum / 1e3 / div,
        "max_task_s" -> (if (cs.isEmpty) 0.0 else cs.map(_.maxTaskMs).max / 1e3),
        "analysis_s" -> cs.map(_.analysisMs).sum / 1e3 / div)
        .map { case (k, v) => s"$layer.$k" -> v }
    }.toMap
    // seconds of the named call, per timed operation that made it, else
    // of its one set-up or decomposed call
    def spanS(layer: String, name: String): Double = {
      val all = t.spans.filter(s => s.layer == layer && s.name == name).toSeq
      val ops = all.filter(_.op >= 0)
      if (ops.nonEmpty) ops.map(_.seconds).sum / ops.map(_.op).distinct.size
      else all.map(_.seconds).sum
    }
    val pipelineSpans = inOp.filter(_.layer == "pipeline")
    val gap = pipelineSpans.map { s =>
      val jobs = Option(t.counters.get(s.id)).map(_.jobIntervals.toSeq).getOrElse(Nil)
      s.seconds - Tracer.covered(jobs) / 1e3
    }.sum / math.max(1, pipelineSpans.size)
    val derived = Map(
      "pipeline.run_s" -> spanS("pipeline", "run"),
      "pipeline.driver_gap_s" -> gap,
      "ext.assemble_s" -> spanS("ext", "assemble"),
      "ext.index_s" -> spanS("ext", "index"),
      "ext.classifier_fit_s" -> spanS("ext", "classifier_fit"),
      "bench.generate_s" -> t.spans.filter(s => s.layer == "bench" && s.name == "generate")
        .map(_.seconds).sum)
    val values = counters ++ derived ++ r.layerValues
    (Names.flatMap(l => Counters.map { case (k, u) => s"$l.$k" -> u }) ++ Specific)
      .map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
  }

  /** Op index given to the spans of the decomposed layer calls. */
  val DecomposeOp = -2

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  private def segmentsLive(store: TableStore, tables: Seq[String]): (Double, Double) = (
    tables.filter(store.exists).map(store.segments(_).size).sum.toDouble,
    tables.filter(store.exists).map(store.tombstones(_).size).sum.toDouble)

  private def spanSeconds(t: Tracer, layer: String, name: String): Double =
    t.spans.filter(s => s.op == DecomposeOp && s.layer == layer && s.name == name)
      .map(_.seconds).sum

  /** incremental_merge: input k against the pipeline's own store and
    * cursor state — window, advance, normalize, schema, merge chain, SCD2. */
  def decomposeIncremental(c: Ctx, p: Pipeline, in: OrdersElt.Inputs, k: Int): Map[String, Double] = {
    val t = c.tracer; t.op = DecomposeOp
    val cfg = OrdersElt.IncrCfg
    val disp = new Dispositions(p.store, c.spark)
    val loadId = disp.newLoadId()
    val (frame, rowsIn) = t.span("sources", "read")(materialize(Gen.readOrders(c.spark, in.orders(k))))
    val (window, kept) = t.span("incremental", "window") {
      val st = p.states.load(p.name, s"orders/${cfg.cursorColumn}")
      val fps = p.store.readOption(s"_dlt_boundary__orders__${cfg.cursorColumn}")
      materialize(Incremental(frame, cfg, st, fps))
    }
    t.span("incremental", "advance") {
      Incremental.advanceValue(window, cfg).foreach(v =>
        Incremental.boundaryFingerprints(window, cfg, v).count())
    }
    val (tables, rowsOut) = t.span("normalize", "normalize") {
      val out = Normalizer.normalize(window, "orders", NormalizeConfig(loadId,
        rootIdType = RootIdType.KeyHash(OrdersElt.OrdersPk),
        propagate = Map("_dlt_id" -> "_dlt_root_id"))).map { case (n, v) => n -> materialize(v) }
      (out.map { case (n, v) => n -> v._1 }, out.values.map(_._2).sum)
    }
    val bumps = t.span("schema", "evolve") {
      val h0 = p.registry.versionHash
      val hs = tables.toSeq.map { case (n, v) => p.registry.evolve(n, v.schema); p.registry.versionHash }
      p.registry.save(s"${p.root}/_schemas")
      (h0 +: hs).distinct.size - 1.0
    }
    val chainTables = Seq("orders", "orders__lines")
    val segsBefore = chainTables.flatMap(tb => p.store.segments(tb).map(tb -> _.name)).toSet
    val before = Bench.fileSizes(Paths.get(p.root))
    t.span("write", "merge")(MergeChain.deleteInsert(p.store,
      TableChain("orders", tables("orders"), tables - "orders"),
      MergeConfig(primaryKey = OrdersElt.OrdersPk), loadId))
    val segsAfter = chainTables.flatMap(tb => p.store.segments(tb).map(tb -> _.name)).toSet
    val rewritten = (segsBefore -- segsAfter).size.toDouble
    val scratch = new TableStore(c.fresh("append"), c.spark)
    t.span("write", "append")(tables.foreach { case (n, v) =>
      new Dispositions(scratch, c.spark).append(n, v, loadId) })
    t.span("write", "scd2")(disp.scd2("customer", Gen.readCustomers(c.spark, in.customers(k)),
      OrdersElt.scd2Cfg(k), loadId))
    val written = (Bench.fileSizes(Paths.get(p.root)) -- before.keys).values.sum.toDouble
    val (segs, tombs) = segmentsLive(p.store, chainTables :+ "customer")
    (tables.values.toSeq ++ Seq(window, frame)).foreach(_.unpersist())
    t.op = -1
    Map("sources.read_s" -> spanSeconds(t, "sources", "read"),
      "sources.input_bytes" -> in.bytes(k).toDouble, "sources.rows" -> rowsIn.toDouble,
      "incremental.window_s" -> spanSeconds(t, "incremental", "window"),
      "incremental.advance_s" -> spanSeconds(t, "incremental", "advance"),
      "incremental.rows_in" -> rowsIn.toDouble,
      "incremental.kept_ratio" -> kept.toDouble / math.max(1L, rowsIn),
      "normalize.s" -> spanSeconds(t, "normalize", "normalize"),
      "normalize.rows_out" -> rowsOut.toDouble, "normalize.tables_out" -> tables.size.toDouble,
      "schema.evolve_s" -> spanSeconds(t, "schema", "evolve"), "schema.version_bumps" -> bumps,
      "write.append_s" -> spanSeconds(t, "write", "append"),
      "write.merge_s" -> spanSeconds(t, "write", "merge"),
      "write.scd2_s" -> spanSeconds(t, "write", "scd2"),
      "write.bytes_written" -> written, "write.write_amp" -> written / in.bytes(k),
      "write.segments_rewritten" -> rewritten,
      "write.merge_prune_ratio" -> (segsBefore.size - rewritten) / math.max(1, segsBefore.size),
      "write.segments_live" -> segs, "write.tombstones_live" -> tombs)
  }

  /** Plan/exec split, files and rows read by the scans of one
    * materialized Relation query. `dataFiles` counts the files of live
    * data segments of `tables` (not tombstones). */
  object Scans extends AdaptiveSparkPlanHelper {
    final case class QueryStats(planS: Double, files: Long, dataFiles: Long, rowsScanned: Long)
    def of(df: DataFrame, tables: Seq[String]): QueryStats = {
      val qe = df.queryExecution
      val ph = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .map(k => ph.get(k).map(_.durationMs).getOrElse(0L)).sum
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      val paths = scans.flatMap(_.relation.location.inputFiles.toSeq)
      val data = paths.count { f =>
        val p = Paths.get(new java.net.URI(f).getPath)
        val seg = p.getParent
        tables.exists(t => seg.getParent.endsWith(Paths.get(t, "data"))) &&
          !seg.getFileName.toString.endsWith("-tomb")
      }
      QueryStats(planMs / 1e3, paths.size.toLong, data.toLong,
        scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
    }
  }

  /** Data files of a table's live segments. */
  def liveFiles(store: TableStore, table: String): Long = {
    val dir = Paths.get(store.root).resolve(java.net.URLEncoder.encode(table, "UTF-8"))
    store.segments(table).map { seg =>
      val p = Paths.get(seg.name)
      val d = if (p.isAbsolute) p else dir.resolve(seg.name)
      if (Files.isDirectory(d)) {
        val st = Files.list(d)
        try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
        finally st.close()
      } else 1L
    }.sum
  }
}
