package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into one layer, made from the benchmark's files. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    workload: String, op: Int, startNs: Long, startMs: Long, var endNs: Long = 0L,
    var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var execCpuNs = 0L; var shuffleBytes = 0L
  var spillBytes = 0L; var gcMs = 0L; var maxTaskMs = 0L; var analysisMs = 0L
  /** (start, end) wall-clock ms of each job, for the driver gap */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Streaming micro-batch durations, recorded in every run: the only
  * view of a batch from outside `Streaming.curateInto`. */
final case class BatchProgress(batchId: Long, triggerMs: Long, addBatchMs: Long, rows: Long)

/** Span recorder. `Tracer.off` runs every body untouched; the traced run
  * keeps spans in memory and tags every Spark job with the innermost
  * span through the local property [[Tracer.SpanProperty]] (inherited by
  * Spark's helper threads and by streaming query threads), so Spark
  * counters are attributed by span, not by stage call site. */
class Tracer(val enabled: Boolean, workload: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[Long, Counters]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  /** Spark jobs started so far, counted in every run. */
  val jobsStarted = new java.util.concurrent.atomic.AtomicLong()
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L
  var op: Int = -1
  /** Spans are not recorded while set: the traced run times every other
    * operation untraced, for the tracing overhead. */
  var suspended = false
  /** (kind, seconds, traced) of every timed operation. */
  val opTimes = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  private var sc: org.apache.spark.SparkContext = _

  def counter(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled || suspended) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), layer, name,
        workload, op, System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      spans.synchronized(spans += s)
      val prev = sc.getLocalProperty(Tracer.SpanProperty)
      stack.push(s)
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProperty, prev)
      }
    }

  private[perfbench] def attach(spark: SparkSession): Unit = sc = spark.sparkContext

  /** (analysis start ms, analysis ms) of every finished query execution. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  /** Wait until the listener bus has delivered every event so far, then
    * attribute query planning phases to the innermost span open at the
    * start of their analysis (planning runs on the calling thread). */
  def drain(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    phases.asScala.foreach { case (at, analysisMs) =>
      val span = spans.filter(s => s.startMs <= at && at <= s.endMs)
        .sortBy(-_.startNs).headOption.map(_.id).getOrElse(0L)
      counter(span).analysisMs += analysisMs
    }
    phases.clear()
  }

  /** Self time: duration minus the time covered by direct children. */
  def selfSeconds(s: Span): Double =
    (s.endNs - s.startNs - Tracer.covered(spans.filter(_.parent == s.id).map(k =>
      (k.startNs, k.endNs)).toSeq)) / 1e9

  /** Spans as JSON lines under `dir`, one file per workload and seed. */
  def flush(dir: Path, seed: Long): Path = {
    Files.createDirectories(dir)
    val f = dir.resolve(s"$workload-seed$seed.jsonl")
    val lines = spans.map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", """ +
        s""""name": "${s.name}", "workload": "${s.workload}", "op": ${s.op}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_s": ${Json.num(selfSeconds(s))}, "jobs": ${c.jobs}, "tasks": ${c.tasks}, """ +
        s""""exec_cpu_s": ${Json.num(c.execCpuNs / 1e9)}, "shuffle_bytes": ${c.shuffleBytes}, """ +
        s""""spill_bytes": ${c.spillBytes}, "gc_s": ${Json.num(c.gcMs / 1e3)}, """ +
        s""""max_task_s": ${Json.num(c.maxTaskMs / 1e3)}, "analysis_s": ${Json.num(c.analysisMs / 1e3)}}"""
    }
    Files.write(f, lines.asJava)
    f
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Length of the union of (start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var s = -1L; var e = -1L
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b } else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total
  }

  /** Untraced runs still count jobs and record streaming batch progress
    * (the per-operation figures), but set no properties and keep no spans. */
  def off(spark: SparkSession, workload: String): Tracer = {
    val t = new Tracer(false, workload)
    t.attach(spark)
    spark.sparkContext.addSparkListener(new JobCounter(t))
    spark.streams.addListener(new BatchListener(t))
    t
  }

  def install(spark: SparkSession, workload: String): Tracer = {
    val t = new Tracer(true, workload)
    t.attach(spark)
    spark.sparkContext.addSparkListener(new JobCounter(t))
    spark.sparkContext.addSparkListener(new JobListener(t))
    spark.listenerManager.register(new PhaseListener(t))
    spark.streams.addListener(new BatchListener(t))
    t
  }

  private final class JobCounter(t: Tracer) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = t.jobsStarted.incrementAndGet()
  }

  private final class BatchListener(t: Tracer) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        t.batches.add(BatchProgress(p.batchId, ms("triggerExecution"), ms("addBatch"),
          p.numInputRows))
    }
  }

  /** Jobs → span by the local property; stages → job's span; task
    * metrics → stage's span. */
  private final class JobListener(t: Tracer) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      jobSpan.put(e.jobId, (span, e.time))
      val c = t.counter(span)
      c.synchronized(c.jobs += 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (span, start) =>
        val c = t.counter(span)
        c.synchronized(c.jobIntervals += ((start, e.time)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = Option(stageSpan.get(e.stageId)).getOrElse(0L)
      val c = t.counter(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
        if (m != null) {
          c.execCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** `QueryExecution.tracker` phase times, kept until [[Tracer.drain]]
    * attributes them to spans. */
  private final class PhaseListener(t: Tracer) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.get("analysis").foreach(a => t.phases.add((a.startTimeMs, a.durationMs)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
