package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the ELT benchmark (see perfbench/run.py for usage).
  *
  * One process runs one workload as a closed loop with a single client
  * on `local[N]`, N = the machine's core count. The untraced run
  * (`--trace 0`) reports the end-to-end metrics; the traced run
  * (`--trace 1`) repeats the same operations with spans and Spark
  * listeners, then calls each layer once on already-materialized input,
  * and reports the per-layer metrics. The last stdout line is the JSON
  * result; the lines before it print each metric with its unit. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, size: Size, work: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Size(m.getOrElse("size", "full")),
      Paths.get(need("work")).toAbsolutePath)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = Workloads.byName.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = Sentinel.loadAvg()
    val spinMs = Sentinel.spinMs(cores)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val tmpBefore = Sentinel.entries(tmp)
    val (spark, sessionS) = Bench.timed(session(cores, o.work))
    val tracer = if (o.trace) Tracer.install(spark, o.workload) else Tracer.off(spark, o.workload)
    val ctx = Ctx(spark, o.seed, o.seconds, o.size, o.work.resolve("data"), tracer)
    val r = workload.run(ctx)
    val persisted = r.persistedAfterOps
    val scratch = Sentinel.entries(tmp) -- tmpBefore
    val loadEnd = Sentinel.loadAvg()

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      out("setup_s") = (Bench.median(r.setupPasses), "s")
      r.endToEnd.foreach { case (k, v) => out(k) = v }
    } else {
      tracer.drain(spark)
      // spans outlive the run's scratch directory
      tracer.flush(o.work.getParent.resolve("traces"), o.seed)
      Layers.metrics(tracer, r).foreach { case (k, v) => out(k) = v }
      // traced minus untraced median of the queries (run in alternating
      // order), else of whichever operation kind ran both ways
      val byKind = tracer.opTimes.toSeq.groupBy(_._1)
      val overhead = (byKind.get("query").toSeq ++ byKind.values).find(ts =>
        ts.exists(_._3) && ts.exists(!_._3)).map { ts =>
        Bench.median(ts.filter(_._3).map(_._2)) - Bench.median(ts.filterNot(_._3).map(_._2))
      }
      out("bench.trace_overhead_s") = (overhead.getOrElse(0.0), "s")
      out("bench.load_avg") = (loadStart, "load")
      out("bench.spin_ms") = (spinMs, "ms")
      out("bench.peak_heap_mb") = (Sentinel.peakHeapMb(), "MB")
      out("bench.scratch_dirs_left") = (scratch.size.toDouble, "count")
      out("pipeline.persisted_rdds_after") = (persisted.toDouble, "count")
    }
    System.out.println(f"[perfbench] workload=${o.workload} seed=${o.seed} " +
      f"trace=${if (o.trace) 1 else 0} cores=$cores size=${o.size.name}")
    System.out.println(f"[perfbench] sentinel load_avg_start=$loadStart%.2f " +
      f"load_avg_end=$loadEnd%.2f spin_ms=$spinMs%.1f " +
      f"persisted_rdds_after=$persisted scratch_dirs_left=${scratch.size} " +
      f"peak_heap_mb=${Sentinel.peakHeapMb()}%.0f")
    System.out.println(f"[perfbench] attempted=${r.attempted} failed=${r.failed} " +
      f"failure_ratio=${r.failed.toDouble / math.max(1, r.attempted)}%.4f")
    System.out.println(f"[perfbench] session $sessionS%.3f s; set-up passes " +
      r.setupPasses.map(s => f"$s%.3f").mkString(" ") + " s")
    r.notes.foreach(n => System.out.println(s"[perfbench] $n"))
    System.out.println(s"[perfbench] scratch entries left: ${scratch.toSeq.sorted.mkString(" ")}")
    if (o.trace) System.out.println(s"[perfbench] spans written to .bench_build/traces")
    out.foreach { case (k, (v, u)) => System.out.println(f"[metric] $k = $v%.6g $u") }
    val metrics = out.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "${u}"}""" }.mkString(", ")
    val correct = r.failed == 0
    System.out.println(s"""{"correct": $correct, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$metrics}}""")
    System.out.flush()
    spark.stop()
  }
}

/** What a workload hands back to [[Main]]. */
final case class RunResult(setupPasses: Seq[Double], endToEnd: Seq[(String, (Double, String))],
    attempted: Int, failed: Int, notes: Seq[String],
    layerValues: Map[String, Double], persistedAfterOps: Int)

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    size: Size, data: Path, tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def fresh(name: String): String = {
    val p = data.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** Timestamped progress on stderr (stdout carries the result). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s] $msg")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Contention sentinel: the 1-minute load average and a fixed-work spin
  * calibration (each core runs the same arithmetic loop), so a run on a
  * busy machine labels itself. Also the leak probes. */
object Sentinel {
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def spinMs(threads: Int): Double = {
    val work = 50000000L
    val ts = (1 to threads).map { i =>
      new Thread(() => {
        var acc = i.toLong; var k = 0L
        while (k < work) { acc = acc * 6364136223846793005L + 1442695040888963407L; k += 1 }
        if (acc == 42L) System.err.print("")
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def entries(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }

  def peakHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
