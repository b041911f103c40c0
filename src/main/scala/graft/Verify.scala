package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    // The dump runs on a small worker pool (2-4 threads amortize the
    // per-query driver latency the same way Bench's warmup amortizes
    // JIT): each query gets its OWN cloned session (newSession shares
    // the context + cache manager but isolates temp views, so two
    // queries registering the same view name cannot cross-bind) and
    // its own pin scope (withPins — per-thread, so workers cannot
    // release each other's cached candidate frames). Per-query wall
    // time lands in query_meta.json and a stderr heartbeat marks
    // progress — a driver-side timeout is then attributable to a
    // specific query instead of zeroing the round invisibly.
    // toIntOption, not toInt: a malformed env value must fall back to
    // the default, not throw before a single query dumps and zero the
    // round's correctness artifact
    val dumpThreads = sys.env.get("SPARK_GRAFT_DUMP_THREADS")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    val work = new java.util.concurrent.ConcurrentLinkedQueue[(String, queries.Q)]()
    selected.foreach(work.add)
    val total = selected.size
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (1 to math.min(dumpThreads, math.max(total, 1))).map { _ =>
      new Thread(() => {
        val session = spark.newSession()
        var item = work.poll()
        while (item != null) {
          val (name, fn) = item
          // the WHOLE body is guarded, not just the query execution: a
          // Throwable from the meta deposit or the heartbeat itself
          // must not kill the worker silently and leave queued queries
          // undumped with no error line
          try {
            val t0 = System.nanoTime()
            try graft.ext.Dedup.withPins {
              fn(session, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
            } catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
            val sec = (System.nanoTime() - t0) / 1e9
            queries.QueryMeta.put(name, "verify_sec",
              math.round(sec * 1000.0) / 1000.0)
            System.err.println(
              f"[verify] done ${done.incrementAndGet()}/$total $name ($sec%.1fs)")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name worker error: $e")
          }
          item = work.poll()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    // the workers share one cache manager, so the leak check runs once
    Harness.checkNoLeak(spark, "verify", "dump")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // per-query numeric metadata (the ANN variants' measured recall@5),
    // plus an explicit presence marker for MODEL-DERIVED oracles: their
    // SQL only exists if the query ran in this JVM, so a subset run
    // shows `oracle_present: 0` (visibly skipped) instead of being
    // indistinguishable from "no oracle exists"
    SparkEntry.modelDerivedOracles.foreach { n =>
      queries.QueryMeta.put(n, "oracle_model_derived", 1.0)
      queries.QueryMeta.put(n, "oracle_present",
        if (SparkEntry.oracleSql.contains(n)) 1.0 else 0.0)
    }
    // NaN/Infinity are not JSON: a non-finite deposit (e.g. a recall
    // ratio over an empty exact set, stashed before its gate fires)
    // must serialize as null, not crash the driver's json.load and
    // zero the whole round
    def jnum(v: Double): String =
      if (java.lang.Double.isFinite(v)) v.toString else "null"
    val metaJson = queries.QueryMeta.all.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${q(k)}: " + m.toSeq.sortBy(_._1)
        .map { case (mk, v) => s"${q(mk)}: ${jnum(v)}" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/query_meta.json"), metaJson)
    // every result is materialized (parquet-dumped) by now — reclaim
    // the store-backed queries' scratch dirs instead of leaking one
    // temp directory per query per run
    queries.Scratch.sweep()
    spark.stop()
  }
}
