package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.incremental.Incremental
import graft.pipeline.{Pipeline, Resource}
import graft.schema.{TableHints, TableReference}
import graft.write.{MergeConfig, Scd2Config, TableStore}

trait Workload {
  def name: String
  def run(c: Ctx): RunResult
}

object Workloads {
  val all: Seq[Workload] = Seq(IncrementalMerge, CorpusCurate)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}

/** Timing, statistics and failure accounting shared by the workloads. */
object Bench {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds used by this process so far, on every thread (driver and
    * the local executor alike). Time the machine's hypervisor steals from
    * the process is not counted, unlike wall time. */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Operations in the timed phase: `--seconds` worth at `nominalS`
    * seconds per operation (the cost on a 4-core machine), at least
    * `min`. The count is fixed before timing starts, so the parent and a
    * change run identical work and the warm-up trajectory of the JVM is
    * the same in every run. */
  def opsFor(c: Ctx, nominalS: Double, min: Int): Int =
    math.max(min, math.round(c.seconds / nominalS).toInt)

  /** Wall seconds, CPU seconds and Spark jobs of one operation. */
  final case class OpTime(wallS: Double, cpuS: Double, jobs: Long)

  /** Spark jobs started so far, once the listener bus has caught up. */
  def jobs(c: Ctx): Long = {
    org.apache.spark.PerfbenchAccess.drain(c.spark.sparkContext)
    c.tracer.jobsStarted.get
  }

  /** Closed loop with one client: run `n` ops back to back; return each
    * op's wall seconds, CPU seconds and jobs. A thrown op counts as failed. In the
    * traced run the ops `traced` rejects run with spans suspended, for
    * the tracing overhead. */
  def loop(c: Ctx, f: Failures, what: String, n: Int,
      traced: Int => Boolean = _ % 2 == 1)(op: Int => Unit): Seq[OpTime] = {
    val t = c.tracer
    val out = mutable.ArrayBuffer.empty[OpTime]
    (0 until n).foreach { i =>
      t.suspended = t.enabled && n > 1 && !traced(i)
      t.op = i
      f.attempted += 1
      val jobs0 = jobs(c)
      val cpu0 = cpuS()
      try {
        val s = timed(t.span("bench", "op")(op(i)))._2
        val cpu = cpuS() - cpu0
        out += OpTime(s, cpu, jobs(c) - jobs0)
        t.opTimes += ((what, s, !t.suspended))
        Log(f"$what $i: $s%.3f s wall, $cpu%.3f s cpu, ${out.last.jobs} jobs")
      } catch { case e: Exception =>
        f.failed += 1; f.messages += s"$what $i threw $e"
      }
      t.op = -1
      t.suspended = false
    }
    out.toSeq
  }

  /** Size of every regular file under `p`, by path. */
  def fileSizes(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def dirBytes(p: Path): Long = fileSizes(p).values.sum

  /** Set-up passes per run. */
  val SetupPasses = 3

  /** The workload's set-up, repeated into fresh stores: `setup_s` is the
    * median pass (the first also pays the JVM's and Spark's cold start).
    * Returns the last pass's result and every pass's seconds. In the
    * traced run only the last pass is traced, so set-up layer metrics
    * cover one pass. */
  def setUp[A](c: Ctx)(pass: Int => A): (A, Seq[Double]) = {
    val t = c.tracer
    val passes = (0 until SetupPasses).map { i =>
      t.suspended = t.enabled && i < SetupPasses - 1
      try timed(t.span("bench", "setup")(pass(i))) finally t.suspended = false
    }
    Log("setup passes: " + passes.map(p => f"${p._2}%.3f").mkString(" ") + " s")
    (passes.last._1, passes.map(_._2))
  }

  /** Failures of one checked unit of work: thrown errors and check messages. */
  final class Failures {
    var attempted = 0; var failed = 0
    val messages = mutable.ArrayBuffer.empty[String]
    def check(what: String)(body: => Seq[String]): Unit = {
      attempted += 1
      val msgs = try body catch { case e: Exception => Seq(s"threw $e") }
      if (msgs.nonEmpty) { failed += 1; messages ++= msgs.map(m => s"$what: $m") }
    }
    def notes: Seq[String] = messages.take(20).map(m => s"FAILED $m").toSeq
  }

  /** The end-to-end metrics every workload reports besides setup_s, and
    * a note with the time figures. The gated per-operation cost is the
    * number of Spark jobs: an operation here is dominated by a fixed
    * cost per job, and on a shared virtual machine no time figure held
    * still — hypervisor steal and co-tenants on sibling cores, in bursts
    * lasting minutes, moved the median wall latency of a run from 6.8 s
    * to 11.9 s and its CPU seconds from 11.2 s to 16.0 s on the same
    * code. Wall and CPU seconds are printed on every run, not gated. A
    * process affords only a few operations, too few for a tail
    * percentile with ten samples beyond it. */
  def e2e(ops: Seq[OpTime], perOp: Int, items: Double, itemsName: String, bytesRatio: Double)
      : (Seq[(String, (Double, String))], String) = {
    val jobs = ops.map(_.jobs.toDouble / perOp); val cpu = ops.map(_.cpuS / perOp)
    (Seq("op_jobs" -> (median(jobs), "count"),
      "store_bytes_per_input_byte" -> (bytesRatio, "ratio")),
      f"median of ${ops.size} ops: ${median(jobs)}%.1f jobs, ${median(cpu)}%.3f s cpu per op; " +
        f"${items / ops.map(_.wallS).sum}%.3f $itemsName/s wall")
  }
}

/** A Relation query, fully materialized, and its plain Spark SQL twin. */
final case class Query(kind: String, tables: Seq[String], run: () => DataFrame, oracle: String)

/** The Relation query mix of the traced run: every query once untraced
  * and checked against its plain Spark SQL twin, then once traced. */
object QueryMix {
  import Bench._

  def run(c: Ctx, f: Failures, store: TableStore, queries: Seq[Query]): Map[String, Double] = {
    queries.zipWithIndex.foreach { case (q, i) =>
      f.check(s"query $i ${q.kind}") {
        val got = Checks.digestRows(q.run().collect().map(_.toSeq).toSeq)
        val want = Checks.digestRows(c.spark.sql(q.oracle).collect().map(_.toSeq).toSeq)
        if (got == want) Nil else Seq(s"result $got != plain Spark SQL $want")
      }
    }
    val files = store.tables.map(t => t -> Layers.liveFiles(store, t).toDouble).toMap
    val stats = mutable.ArrayBuffer.empty[(Double, Double, Double, Double, Double, Double, Double)]
    // each query twice, traced first for every other query, so the
    // overhead estimate does not favour the second, warmer execution
    loop(c, f, "query", 2 * queries.size, traced = i => (i + i / 2) % 2 == 0) { i =>
      val q = queries(i / 2)
      val (df, s) = timed(c.tracer.span("dataset", q.kind) {
        val d = q.run()
        d.collect()
        d
      })
      if (!c.tracer.suspended) {
        val st = Layers.Scans.of(df, q.tables)
        stats += ((s, st.planS, st.files.toDouble, st.dataFiles.toDouble,
          q.tables.map(files.getOrElse(_, 0.0)).sum, st.rowsScanned.toDouble, df.count().toDouble))
      }
    }
    if (stats.isEmpty) Map.empty[String, Double] else {
      val k = stats.size.toDouble
      Map("dataset.plan_s" -> stats.map(_._2).sum / k,
        "dataset.exec_s" -> stats.map(x => x._1 - x._2).sum / k,
        "dataset.files_read" -> stats.map(_._3).sum / k,
        "dataset.prune_ratio" -> (1.0 - stats.map(_._4).sum / math.max(1.0, stats.map(_._5).sum)),
        "dataset.rows_scanned_per_row_out" ->
          stats.map(_._6).sum / math.max(1.0, stats.map(_._7).sum))
    }
  }
}

/** The orders ELT: an incremental merge resource (cursor `updated_at`,
  * delete-insert over the nested `lines` chain) and an SCD2 customer
  * resource, loaded by Pipeline.run. */
object OrdersElt {
  import Bench._

  val OrdersPk = Seq("o_orderkey")
  val IncrCfg = Incremental.Config("updated_at", primaryKey = OrdersPk)
  val CustomerRef = TableReference(Seq("o_custkey"), "customer", Seq("c_custkey"))

  def ordersResource(frame: DataFrame): Resource =
    Resource("orders", frame, hints = TableHints(references = Seq(CustomerRef)))
      .withMerge(MergeConfig(primaryKey = OrdersPk))
      .withIncremental(IncrCfg)

  /** SCD2 config of input k: validity boundary at the delta's cursor
    * window end, retirement scoped to the delivered customers. */
  def scd2Cfg(k: Int): Scd2Config = Scd2Config(trackedColumns = Checks.CustomerCols,
    boundaryTs = java.time.Instant.ofEpochSecond(Gen.T1 + k * 3600L).toString
      .replace('T', ' ').stripSuffix("Z"), mergeKey = Seq("c_custkey"))

  def customerResource(frame: DataFrame, k: Int): Resource =
    Resource("customer", frame, hints = TableHints(writeDisposition = "merge"),
      scd2Config = Some(scd2Cfg(k)))

  /** Generated inputs: base orders/customers (input 0) and deltas 1..n. */
  final case class Inputs(dir: String, deltas: Int) {
    def baseOrders: String = s"$dir/orders_base"
    def baseCustomers: String = s"$dir/customer_base"
    def orders(k: Int): String = s"$dir/orders_delta/delta=$k"
    def customers(k: Int): String = s"$dir/customer_delta/delta=$k"
    def ordersPath(k: Int): String = if (k == 0) baseOrders else orders(k)
    def customersPath(k: Int): String = if (k == 0) baseCustomers else customers(k)
    def bytes(k: Int): Long = dirBytes(Paths.get(ordersPath(k))) + dirBytes(Paths.get(customersPath(k)))
  }

  def generate(c: Ctx, dir: String, deltas: Int): Inputs = c.tracer.span("bench", "generate") {
    val sz = c.size
    val in = Inputs(dir, deltas)
    Gen.writeLines(in.baseOrders, Gen.baseRows(c.seed, "t0", sz.baseOrders)
      .map(Gen.orderJson(c.seed, sz.customers, _)), files = c.cores)
    Gen.writeLines(in.baseCustomers, Gen.baseRows(c.seed, "ct0", sz.customers)
      .map(Gen.customerJson(c.seed, _)))
    (1 to deltas).foreach { d =>
      Gen.writeLines(in.orders(d), Gen.deltaOrders(c.seed, sz.baseOrders, d)
        .map(Gen.orderJson(c.seed, sz.customers, _)))
      Gen.writeLines(in.customers(d), Gen.deltaCustomers(c.seed, sz.customers, d)
        .map(Gen.customerJson(c.seed, _)))
    }
    in
  }

  /** One scheduled run: input k through Pipeline.run. */
  def runOnce(c: Ctx, p: Pipeline, in: Inputs, k: Int): String = {
    val loadId = p.newLoadId()
    c.tracer.span("pipeline", "run") {
      p.run(Seq(ordersResource(Gen.readOrders(c.spark, in.ordersPath(k))),
        customerResource(Gen.readCustomers(c.spark, in.customersPath(k)), k)), loadId)
    }
    loadId
  }

  /** Expected latest state after inputs 0..applied (flat root rows, line
    * rows, customers), each row tagged with `version` = the input that
    * delivered it. */
  def expected(c: Ctx, in: Inputs, applied: Int): (DataFrame, DataFrame, DataFrame) = {
    val o = (0 to applied).map(k => Gen.readOrders(c.spark, in.ordersPath(k))
      .withColumn("version", lit(k))).reduce(_ unionByName _)
    val cu = (0 to applied).map(k => Gen.readCustomers(c.spark, in.customersPath(k))
      .withColumn("version", lit(k))).reduce(_ unionByName _)
    val lastO = Checks.latest(o, "o_orderkey").cache()
    (Checks.flatRoot(lastO), Checks.flatLines(lastO), Checks.latest(cu, "c_custkey"))
  }

  def checkStore(p: Pipeline, er: DataFrame, el: DataFrame, ec: DataFrame,
      loadIds: Seq[String]): Seq[String] = {
    val st = p.store
    Checks.ordersStore(st.read("orders"), st.read("orders__lines"), st.read("customer"), er, el, ec) ++
      Checks.loadsLedger(st.read("_dlt_loads"), loadIds)
  }

  /** One seeded instance of each query kind over the merged store; the
    * oracles read temp views `eo`/`el`/`ec` of the expected state and
    * `base_orders` of input 0. */
  def queries(c: Ctx, p: Pipeline, loadIds: Seq[String], baseSnap: Long): Seq[Query] = {
    val ds = p.dataset
    val rnd = new scala.util.Random(c.seed * 31 + 7)
    val n = c.size.baseOrders
    val width = math.max(10, n / 100)
    def range(): (Long, Long) = { val x = rnd.nextInt(n - width).toLong; (x, x + width) }
    val root = Checks.RootCols.mkString(", ")
    locally {
      val k = rnd.nextInt(n).toLong
      val (a, b) = range(); val (ja, jb) = range(); val (sa, sb) = range()
      val load = 1 + rnd.nextInt(loadIds.size - 1)
      Seq(
        Query("point", Seq("orders"),
          () => ds.table("orders").where("o_orderkey", "eq", k).select(Checks.RootCols: _*).df(),
          s"SELECT $root FROM eo WHERE o_orderkey = $k"),
        Query("range", Seq("orders"),
          () => ds.table("orders").where("o_orderkey", "gte", a).where("o_orderkey", "lte", b)
            .select("o_orderkey", "o_totalprice", "o_orderstatus").df(),
          s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM eo WHERE o_orderkey BETWEEN $a AND $b"),
        Query("join", Seq("orders", "orders__lines", "customer"),
          () => ds.table("orders").where("o_orderkey", "gte", ja).where("o_orderkey", "lte", jb)
            .join("orders__lines", alias = Some("li")).join("customer", alias = Some("cu")).df()
            .filter(col("cu___dlt_valid_to").isNull)
            .groupBy(col("cu__c_mktsegment").as("seg"))
            .agg(count(lit(1)).as("n"), sum(col("li__l_quantity").cast("decimal(18,2)")).as("qty")),
          "SELECT ec.c_mktsegment AS seg, count(1) AS n, " +
            "sum(CAST(el.l_quantity AS DECIMAL(18,2))) AS qty FROM eo " +
            "JOIN el ON eo.o_orderkey = el.o_orderkey JOIN ec ON eo.o_custkey = ec.c_custkey " +
            s"WHERE eo.o_orderkey BETWEEN $ja AND $jb GROUP BY ec.c_mktsegment"),
        Query("group_by", Seq("orders"),
          () => ds.table("orders").df().groupBy("o_orderstatus", "o_orderpriority")
            .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).as("total")),
          "SELECT o_orderstatus, o_orderpriority, count(1) AS n, " +
            "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM eo " +
            "GROUP BY o_orderstatus, o_orderpriority"),
        Query("top_n", Seq("orders"),
          () => ds.table("orders").orderBy("o_totalprice", asc = false).limit(10)
            .select("o_totalprice").df(),
          "SELECT o_totalprice FROM eo ORDER BY o_totalprice DESC LIMIT 10"),
        // fromLoads on the root: the child tables a pipeline lands carry
        // no parent hint in the registry, so Relation.fromLoads on
        // `orders__lines` throws (see CHANGES.md)
        Query("from_loads", Seq("orders", "orders__lines"),
          () => ds.table("orders").fromLoads(Seq(loadIds(load))).join("orders__lines", alias = Some("li"))
            .df().select(Checks.LineCols.map(l => col(s"li__$l")): _*),
          s"SELECT ${Checks.LineCols.map(l => s"el.$l").mkString(", ")} FROM eo " +
            s"JOIN el ON eo.o_orderkey = el.o_orderkey WHERE eo.version = $load"),
        Query("as_of", Seq("orders"),
          () => ds.asOf("orders", baseSnap).where("o_orderkey", "gte", sa)
            .where("o_orderkey", "lte", sb).select("o_orderkey", "o_totalprice").df(),
          s"SELECT o_orderkey, o_totalprice FROM base_orders WHERE o_orderkey BETWEEN $sa AND $sb"))
    }
  }
}

/** Scheduled incremental merge runs against a base store landed in set-up. */
object IncrementalMerge extends Workload {
  import Bench._
  import OrdersElt._
  val name = "incremental_merge"

  def run(c: Ctx): RunResult = {
    val f = new Failures
    val runs = opsFor(c, 5.0, 2)
    val in = generate(c, c.fresh("in"), runs + 1) // +1: the traced run's decomposed input
    // set-up: a fresh pipeline and its base load, which is also the
    // warm-up pass
    val ((p, base, baseSnap), setup) = setUp(c) { i =>
      val p = new Pipeline("incr", c.fresh(s"store$i"), c.spark)
      val base = runOnce(c, p, in, 0)
      (p, base, p.store.snapshots("orders").last)
    }
    val loadIds = mutable.ArrayBuffer(base)
    val ops = loop(c, f, "run", runs) { i => loadIds += runOnce(c, p, in, i + 1) }
    val persisted = c.spark.sparkContext.getPersistentRDDs.size
    val applied = loadIds.size - 1
    val (er, el, ec) = expected(c, in, applied)
    f.check("final merged state")(checkStore(p, er, el, ec, loadIds.toSeq))
    val inputBytes = (0 to applied).map(in.bytes).sum
    val storeBytes = dirBytes(Paths.get(p.root))
    val deltaRows = (1 to applied).map(k => Gen.deltaOrders(c.seed, c.size.baseOrders, k).size +
      Gen.deltaCustomers(c.seed, c.size.customers, k).size).sum
    val (m, note) = e2e(ops, 1, deltaRows.toDouble, "delta rows", storeBytes.toDouble / inputBytes)
    val layer = if (!c.tracer.enabled) Map.empty[String, Double] else {
      Seq("eo" -> er, "el" -> el, "ec" -> ec).foreach { case (n, d) => d.cache().createOrReplaceTempView(n) }
      Gen.readOrders(c.spark, in.baseOrders).createOrReplaceTempView("base_orders")
      QueryMix.run(c, f, p.store, queries(c, p, loadIds.toSeq, baseSnap)) ++
        Layers.decomposeIncremental(c, p, in, applied + 1)
    }
    RunResult(setup, m, f.attempted, f.failed,
      f.notes ++ Seq(note, "run wall seconds: " + ops.map(o => f"${o.wallS}%.3f").mkString(" ")),
      layer, persisted)
  }
}

/** Set-up builds the seed index and the classifier; the timed cycle
  * assembles the bulk corpus, then drains staged micro-batch files
  * through the streaming curation front door. */
object CorpusCurate extends Workload {
  import Bench._
  import graft.ext.{AssemblyConfig, CorpusAssembly, IncrementalDedup, QualityClassifier, TextOps}
  import graft.streaming.Streaming
  import graft.write.Dispositions
  val name = "corpus_curate"
  val MinScore = 0.5
  val NearDup = 0.9
  /** Copies of each base document in the bulk corpus. */
  val Replicas = 3
  /** Staged micro-batch files, one per trigger. */
  val StreamBatches = 2

  final case class Inputs(corpus: String, bench: String, stream: String, nCorpus: Long,
      nStream: Long, contaminated: Set[Long])

  def assemblyCfg(stages: Boolean): AssemblyConfig = AssemblyConfig(
    quality = t => TextOps.tokenCount(t) >= 50,
    lineMinDocs = 2, shingleN = 3, nearDupThreshold = NearDup, maxContaminatedShare = 0.2,
    mixAlpha = 1.0, domainCap = 1000, packBudget = 512L, collectStageCounts = stages)

  /** Classifier seed label: the longer documents. */
  def label: org.apache.spark.sql.Column = length(col("text")) >= 600

  /** `docs` base documents × [[Replicas]] (the bulk corpus), a benchmark set
    * copying a content line of some of them, and `batches` staged
    * micro-batch files of fresh documents plus one more replica of
    * seed-index documents. */
  def generate(c: Ctx, dir: String, docs: Int, batches: Int, batchDocs: Int): Inputs =
    c.tracer.span("bench", "generate") {
      val r = Replicas
      Gen.writeLines(s"$dir/corpus", Gen.documents(c.seed, 0L until docs, 0 until r, "corpus")
        .map(Gen.docJson), files = c.cores)
      val contaminated = (0 until math.max(2, docs / 50)).map(i => (i * 7 % docs).toLong)
      Gen.writeLines(s"$dir/bench", Gen.documents(c.seed, contaminated, Seq(0), "corpus")
        .map(d => Gen.docJson(d.copy(text = d.text.takeWhile(_ != '\n')))))
      val nDocs = batches * batchDocs
      val fresh = Gen.documents(c.seed, 0L until nDocs * 2 / 3, Seq(0), "fresh")
        .map(d => d.copy(id = d.id + 10000000L))
      val dups = Gen.documents(c.seed,
        (0L until nDocs / 3).map(i => i * 13 % seedCount(docs)).distinct, Seq(r), "corpus")
        .map(d => d.copy(id = d.id + 20000000L))
      val stream = fresh ++ dups
      val batchOf = stream.map(d => d.id -> Gen.mod(c.seed, "batch", batches.toLong, d.id)).toMap
      // one file per micro-batch: the stream reads one file per trigger
      Gen.writeParts(s"$dir/stream", (0L until batches).map(b =>
        stream.filter(d => batchOf(d.id) == b).map(Gen.streamJson(_, b))))
      Inputs(s"$dir/corpus", s"$dir/bench", s"$dir/stream", docs.toLong * r,
        stream.size.toLong, contaminated.toSet)
    }

  private def seedCount(docs: Int): Long = math.max(2L, docs.toLong / 2)

  /** The seed index: replica 0 of the first half of the base documents. */
  def seedDocs(c: Ctx, in: Inputs): DataFrame =
    Gen.readDocs(c.spark, in.corpus).filter(col("doc_id") % Replicas === 0 &&
      col("doc_id") < seedCount((in.nCorpus / Replicas).toInt) * Replicas)

  /** What the streaming front door needs, persisted in `store`: the
    * seed minhash index and the classifier fitted on the corpus. */
  def prepare(c: Ctx, in: Inputs, store: TableStore): QualityClassifier.RidgeModel = {
    val tr = c.tracer
    tr.span("ext", "index")(IncrementalDedup.indexCorpus(store, "seed", seedDocs(c, in), "doc_id", "text"))
    tr.span("ext", "classifier_fit") {
      val m = QualityClassifier.fit(Gen.readDocs(c.spark, in.corpus), "text", label)
      QualityClassifier.save(store, "qc_model", m)
      m
    }
  }

  /** The bulk corpus through assembleTo into `training_order`. */
  def assemble(c: Ctx, in: Inputs, store: TableStore, stages: Boolean): CorpusAssembly.StageCounts = {
    val s = c.spark
    val disp = new Dispositions(store, s)
    c.tracer.span("ext", "assemble")(CorpusAssembly.assembleTo(disp, "training_order",
      disp.newLoadId(), Gen.readDocs(s, in.corpus), "doc_id", "text", "source",
      Gen.readDocs(s, in.bench), assemblyCfg(stages)))
  }

  /** The streaming front door over the staged micro-batch files. */
  def stream(c: Ctx, in: Inputs, store: TableStore, checkpoint: String): Unit =
    c.tracer.span("streaming", "curate") {
      val src = Streaming.fileStream(c.spark, in.stream, format = "json",
        schema = Some(Gen.StreamSchema), options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.curateInto(store, src, "curated", "seed", "qc_model", "doc_id", "text",
        minScore = MinScore, nearDupThreshold = NearDup, checkpoint = Some(checkpoint))
    }

  /** The kept set of `curateInto`, re-derived: streamed documents scoring
    * ≥ τ under the fitted weights with no seed document at word
    * 3-shingle Jaccard ≥ τ_dup. */
  def expectedCurated(c: Ctx, in: Inputs, model: QualityClassifier.RidgeModel): DataFrame = {
    val stream = Gen.readStream(c.spark, in.stream)
    val scored = stream.filter(Checks.score(model.weights.toSeq, col("text"),
      TextOps.EnglishStopwords) >= MinScore)
    val dups = Checks.jaccardPairs(Checks.shingles(scored, "doc_id", "text"),
      Checks.shingles(seedDocs(c, in), "doc_id", "text"), NearDup).select(col("a").as("doc_id")).distinct()
    scored.join(dups, Seq("doc_id"), "left_anti")
  }

  def check(c: Ctx, in: Inputs, store: TableStore, model: QualityClassifier.RidgeModel): Seq[String] = {
    val r = Replicas
    val msgs = Seq.newBuilder[String]
    val ids = store.read("training_order").select("doc_id").collect().map(_.getLong(0))
    if (ids.isEmpty) msgs += "assembly kept no documents"
    if (ids.distinct.length != ids.length) msgs += "assembly kept a document twice"
    val clusters = ids.groupBy(_ / r).count(_._2.length > 1)
    if (clusters > 0) msgs += s"$clusters near-duplicate clusters kept more than once"
    val dirty = ids.count(id => in.contaminated.contains(id / r))
    if (dirty > 0) msgs += s"$dirty contaminated documents kept"
    if (ids.exists(id => id < 0 || id >= in.nCorpus)) msgs += "assembly kept an unknown id"
    val lids = store.read("training_order").select("_dlt_load_id").distinct()
      .collect().map(_.getString(0)).toSeq
    msgs ++= Checks.loadsLedger(store.read("_dlt_loads"), lids)
    val cols = Seq("doc_id", "text", "batch")
    val d = Checks.digests(Seq(("want", expectedCurated(c, in, model), cols),
      ("got", store.read("curated"), cols)))
    val (want, got) = (d("want"), d("got"))
    if (want != got) msgs += s"curated kept-set $got != expected $want"
    msgs.result()
  }

  def run(c: Ctx): RunResult = {
    val f = new Failures
    val sz = c.size
    val in = generate(c, c.fresh("in"), sz.docs, StreamBatches, sz.batchDocs)
    // set-up: the seed index and the classifier into a fresh store; its
    // passes warm the text kernels the timed cycle shares
    val ((store, model), setup) = setUp(c) { i =>
      val store = new TableStore(c.fresh(s"store$i"), c.spark)
      (store, prepare(c, in, store))
    }
    c.tracer.batches.clear()
    // the timed cycle: the bulk assembly, then the streaming front door
    var stages = CorpusAssembly.StageCounts(Nil)
    val ops = loop(c, f, "curate", 1) { _ =>
      stages = assemble(c, in, store, stages = c.tracer.enabled)
      stream(c, in, store, c.fresh("checkpoint"))
    }
    val persisted = c.spark.sparkContext.getPersistentRDDs.size
    val batches = c.tracer.batches.asScala.toSeq
    f.attempted += batches.size
    f.check("curation")(check(c, in, store, model))
    // store bytes per input byte covers the bulk tables: the
    // streamed `curated` table's size swings by half between seeds (its
    // micro-batch files are tiny and their count depends on which
    // partitions the kept rows hash to), so it is reported per layer
    val tableBytes = Files.list(Paths.get(store.root)).iterator().asScala.toSeq
      .map(t => t.getFileName.toString -> dirBytes(t)).toMap
    val curatedBytes = tableBytes.getOrElse("curated", 0L).toDouble
    val (m, note) = e2e(ops, 1, in.nCorpus + batches.map(_.rows).sum.toDouble, "docs",
      (tableBytes.values.sum - curatedBytes) / dirBytes(Paths.get(in.corpus)))
    val layer = if (!c.tracer.enabled) Map.empty[String, Double] else {
      val dups = c.tracer.span("ext", "screen") {
        IncrementalDedup.checkBatch(store, "seed", Gen.readStream(c.spark, in.stream), "doc_id", "text",
          threshold = NearDup).select("new_id").distinct().count()
      }
      Map("streaming.batches" -> batches.size.toDouble,
        "streaming.add_batch_s" -> batches.map(_.addBatchMs).sum / 1e3,
        "streaming.trigger_overhead_s" -> batches.map(b => b.triggerMs - b.addBatchMs).sum / 1e3,
        "ext.screen_s" -> c.tracer.spans.filter(_.name == "screen").map(_.seconds).sum,
        "ext.dup_ratio" -> dups.toDouble / math.max(1L, in.nStream),
        "write.bytes_written" -> curatedBytes,
        "write.write_amp" -> curatedBytes / dirBytes(Paths.get(in.stream))) ++
        stages.counts.collect { case (st, n) if Layers.Stages.contains(st) =>
          s"ext.stage_docs.$st" -> n.toDouble }
    }
    RunResult(setup, m, f.attempted, f.failed,
      f.notes ++ Seq(note, "micro-batch wall seconds: " +
        batches.map(b => f"${b.triggerMs / 1e3}%.3f").mkString(" "),
        s"store bytes: ${tableBytes.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}"),
      layer,
      persisted)
  }
}
