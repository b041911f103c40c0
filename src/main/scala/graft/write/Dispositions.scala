package graft.write

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min}

import graft.ext.Dedup
import graft.normalize.Ids

/** Replace strategies (reference typing.py:252, sql_jobs.py:84-146). All
  * three are atomic here because every [[TableStore]] commit is an atomic
  * manifest swap; they are kept as distinct entry points for API parity
  * and because they differ on a real warehouse. */
sealed trait ReplaceStrategy
object ReplaceStrategy {
  case object TruncateAndInsert extends ReplaceStrategy
  case object InsertFromStaging extends ReplaceStrategy
  case object StagingOptimized extends ReplaceStrategy
}

/** Merge strategy selector (typing.py:251). */
sealed trait MergeStrategy
object MergeStrategy {
  case object DeleteInsert extends MergeStrategy
  case object Upsert extends MergeStrategy
  case object InsertOnly extends MergeStrategy
}

/** Write-disposition operators over a [[TableStore]] (reference load plane,
  * dlt/load/load.py + dlt/destinations/sql_jobs.py; SURVEY.md §2.5).
  *
  * Each load runs through a staging table (`<table>__staging`), mirroring
  * the reference's staging dataset (sql_client.py:290), then commits the
  * merged result atomically. A disposition writes no `_dlt_loads` row:
  * a load package may span many dispositions, so the package's owner
  * ([[graft.pipeline.Pipeline]], [[graft.ext.CorpusAssembly.assembleTo]],
  * [[graft.streaming.Streaming.curateInto]]) calls [[recordLoad]] once,
  * after the package's last commit.
  */
final class Dispositions(store: TableStore, spark: SparkSession) {

  val LoadsTable = "_dlt_loads"

  /** Monotone unique load id (reference: epoch-seconds float,
    * load_package.py). Epoch seconds alone collide for two loads in the
    * same second, so ids are forced strictly increasing at microsecond
    * granularity. */
  def newLoadId(): String =
    java.math.BigDecimal.valueOf(Dispositions.nextMicros(), 6).toPlainString

  def append(table: String, df: DataFrame, loadId: String,
      statsFor: Seq[String] = Nil): Unit =
    store.append(table, stamp(df, loadId), statsFor)

  def replace(table: String, df: DataFrame, loadId: String,
              strategy: ReplaceStrategy = ReplaceStrategy.TruncateAndInsert): Unit = {
    strategy match {
      case ReplaceStrategy.TruncateAndInsert =>
        store.overwrite(table, stamp(df, loadId))
      case ReplaceStrategy.InsertFromStaging =>
        // data lands in staging once (the only Spark job), then moves to
        // the destination as a physical FILE copy — the INSERT INTO ..
        // SELECT analog. The previous read-back-and-rewrite decoded and
        // re-encoded the identical bytes through a second full Spark job
        // per load (2x the cost, and the r4 driver-bench regression).
        // Drop rides a finally: a failed copy must not leak a live
        // `<table>__staging` into the store (it would read as a nested
        // child table of `table` to the pipeline's `__`-prefix scan).
        val staging = s"${table}__staging"
        store.overwrite(staging, stamp(df, loadId))
        try store.copyInto(staging, table)
        finally store.drop(staging)
      case ReplaceStrategy.StagingOptimized =>
        // adopt, not clone: clone would leave `<table>__staging` live
        // (its absolute segment pointers forbid dropping it), and a
        // registered staging table reads as a nested child of `table`
        // to the pipeline's `__`-prefix scan. Adoption renames the
        // segment dirs into the destination — still zero-copy — and
        // drops the staging table in the same call.
        val staging = s"${table}__staging"
        store.overwrite(staging, stamp(df, loadId))
        store.adopt(staging, table)
    }
  }

  /** Merge with SEGMENT PRUNING: only destination segments whose
    * merge-key range overlaps the staged keys are read and rewritten;
    * disjoint segments survive the commit untouched (file skipping, the
    * Delta `MERGE` data-skipping analog). Merge semantics allow this:
    * a destination row can only be deleted/replaced when its key equals
    * a staged key, and keys outside every staged range can match
    * nothing. Tables whose segments lack stats fall back to the full
    * rewrite; every merge commit records fresh stats so subsequent
    * merges prune. */
  def merge(table: String, staging: DataFrame, cfg: MergeConfig, loadId: String,
            strategy: MergeStrategy = MergeStrategy.DeleteInsert): Unit = Dedup.withPins {
    // staging is materialized once and re-read (the reference persists
    // load packages to disk for the same reason): the plan is consumed
    // by the pruning stats agg, by each key-group anti-join subtree,
    // and twice more under the range-layout sampling pass — without the
    // pin a computed staging frame re-executes 3-5x per load
    val staged = Dedup.pin(stamp(staging, loadId))
    val keys = (cfg.primaryKey ++ cfg.mergeKey).distinct
    def result(dest: Option[DataFrame]): DataFrame = strategy match {
      case MergeStrategy.DeleteInsert => Merge.deleteInsert(dest, staged, cfg)
      case MergeStrategy.Upsert => Merge.upsert(dest, staged, cfg)
      case MergeStrategy.InsertOnly => Merge.insertOnly(dest, staged, cfg)
    }
    val segs = if (store.exists(table)) store.segments(table) else Nil
    if (segs.isEmpty)
      store.overwrite(table, result(None), statsFor = keys, rangeBy = keys)
    else Dispositions.partitionByOverlap(segs, staged, Merge.keyGroups(cfg)) match {
      case Some((touched, untouched)) if untouched.nonEmpty =>
        val dest =
          if (touched.isEmpty) None
          else Some(store.readSegmentsApplied(table, touched))
        store.replaceSegments(table, untouched, result(dest),
          statsFor = keys, rangeBy = keys)
      case _ =>
        store.overwrite(table, result(Some(store.read(table))),
          statsFor = keys, rangeBy = keys)
    }
  }

  /** SCD2, merge-on-read: active and closed rows live in separately
    * tagged segments, and a load writes only the rows it adds, in one
    * commit — the staged rows that become active as a small active
    * segment, the rows it retires, closed, as a closed segment, and a
    * tombstone that marks those retired rows dead on the active
    * segments. The tombstone's id file IS that closed segment, which
    * holds exactly the retired rows, so it costs no write of its own.
    * This is dlt's `UPDATE … SET valid_to` on the matched active rows
    * (sql_jobs.py:964-981) on a write-once store: a delete plus an
    * insert of the closed version. Unchanged active rows and all closed
    * history are never rewritten.
    *
    * The tombstone column must name exactly the rows that retire:
    * `_dlt_row_hash` when every merge-key column is hashed (equal
    * hashes then imply equal scope), else `_dlt_id` (on pipeline loads
    * a hash of every non-system column). The split recomputes the
    * active rows' hashes, so a tombstone on `_dlt_row_hash` matches the
    * stored ones only while the hash's inputs ([[Scd2.hashInputs]]:
    * the tracked columns and the session settings the hash renders
    * under) are those the active segments were written with; every
    * active segment is tagged with them.
    * The tombstone covers only the active segments, so a re-activated
    * row hash keeps its closed history and its new active row lands in
    * a segment no tombstone covers.
    *
    * A FOLD rewrites the active set instead (the split of every live
    * active row, as one new active segment) and clears the tombstones:
    * when no column qualifies, when the load changes the active
    * schema or the hash's inputs, when the active segments or the live
    * tombstones would pass [[TableStore.compact]]'s 16, and when the
    * closed segments reach 32, which also folds the closed history into
    * one segment (never an id file: it holds older retirements). Every segment reads the
    * split's one pinned frame; an empty write is dropped, and finding
    * that out costs no job of its own (the write counts its rows). */
  def scd2(table: String, staging: DataFrame, cfg: Scd2Config,
      loadId: String): Unit = Dedup.withPins {
    // same pin rationale as merge: the staged snapshot feeds both
    // sides of the split and the range-layout sampling
    val staged = Dedup.pin(stamp(staging, loadId))
    val hashInputs = Scd2.hashInputs(cfg, spark.conf)
    def actives(df: DataFrame, dropEmpty: Boolean = false) = SegmentWrite(df,
      tags = scd2Tag("active") + (Scd2HashMarker -> ColStats(hashInputs, hashInputs,
        numeric = false)), dropEmpty = dropEmpty)
    // closed rows in the active rows' column order: both segments then
    // memoize one schema, and the table reads with no footer-merge job
    def closeds(df: DataFrame, active: DataFrame) = SegmentWrite(
      df.select((active.columns.filter(df.columns.contains) ++
        df.columns.filterNot(active.columns.contains)).map(col): _*),
      tags = scd2Tag("closed"), dropEmpty = true)

    val segs = if (store.exists(table)) store.segments(table) else Nil
    if (segs.isEmpty) {
      val split = Scd2.applySplit(None, staged, cfg)
      store.commitSegments(table, Nil, Seq(actives(split.active)))
    } else if (segs.forall(_.stats.contains(Scd2Marker))) {
      val (activeSegs, closedSegs) = segs.partition(_.stats(Scd2Marker).min == "active")
      val dest = if (activeSegs.isEmpty) None
                 else Some(store.readSegmentsApplied(table, activeSegs))
      val split = Scd2.applySplit(dest, staged, cfg)
      val idColumn = dest.flatMap(d => Dispositions.scd2IdColumn(d, staged, cfg))
      val shape = (df: DataFrame) =>
        df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
      val foldClosed = closedSegs.size >= 32 // compact closed history rarely
      val fold = foldClosed || idColumn.isEmpty ||
        shape(split.active) != dest.map(shape).getOrElse(Nil) ||
        activeSegs.exists(!_.stats.get(Scd2HashMarker).exists(_.min == hashInputs)) ||
        activeSegs.size >= 16 || store.tombstones(table).size >= 16
      if (!fold)
        store.commitSegments(table, segs, Seq(actives(split.inserted, dropEmpty = true),
          closeds(split.closed, split.active)
            .copy(tombstone = idColumn.map(_ -> activeSegs.map(_.name).toSet))))
      else {
        val (keep, closedOut) =
          if (foldClosed)
            (Nil, store.readSegments(table, closedSegs)
              .unionByName(split.closed, allowMissingColumns = true))
          else (closedSegs, split.closed)
        store.commitSegments(table, keep,
          Seq(actives(split.active), closeds(closedOut, split.active)))
      }
    } else {
      // legacy un-tagged table: one full rewrite that splits it so every
      // later load prunes
      val d = store.read(table)
      val split = Scd2.applySplit(Some(d.filter(Scd2.isActive(cfg))), staged, cfg)
      val allClosed = d.filter(!Scd2.isActive(cfg))
        .unionByName(split.closed, allowMissingColumns = true)
      store.commitSegments(table, Nil,
        Seq(actives(split.active), closeds(allClosed, split.active)))
    }
  }

  private val Scd2Marker = "__scd2_state"
  private val Scd2HashMarker = "__scd2_hash_inputs"
  private def scd2Tag(v: String) = Map(Scd2Marker -> ColStats(v, v, numeric = false))

  private def stamp(df: DataFrame, loadId: String): DataFrame =
    if (df.columns.contains(Ids.DltLoadId)) df
    else df.withColumn(Ids.DltLoadId, lit(loadId))

  /** `_dlt_loads` system table (reference typing.py:40, load.py:605-624).
    * One status-0 row per load PACKAGE, as in the reference: the
    * package's owner calls this once, after the package's last commit,
    * so a package that throws before it completes leaves no row.
    *
    * The duplicate guard is PER INSTANCE (a store-keyed check would cost
    * a Spark read job on every load): two Dispositions instances over
    * one store can still double-record a load id — run one Dispositions
    * per store, as `Pipeline` does. The set is bounded: load ids are
    * strictly increasing, so entries older than the last [[MaxRecorded]]
    * loads can never be re-offered by a well-behaved caller and are
    * evicted. */
  private val MaxRecorded = 4096
  private val recordedLoads =
    new java.util.LinkedHashMap[(String, String), java.lang.Boolean](64, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), java.lang.Boolean]): Boolean =
        size() > MaxRecorded
    }
  /** Highest load id recorded per schema — ENFORCES the strictly-
    * increasing contract the bounded dedup set assumes: an id older
    * than the newest seen that is no longer in the set would silently
    * double-append, so it fails loudly instead. */
  private val lastRecorded = scala.collection.mutable.Map.empty[String, String]

  /** newLoadId ids are decimal micros; compare numerically when both
    * sides parse (lexicographic would break across a digit rollover),
    * lexicographically for caller-supplied opaque ids. */
  private def loadIdBefore(a: String, b: String): Boolean =
    (scala.util.Try(BigDecimal(a)), scala.util.Try(BigDecimal(b))) match {
      case (scala.util.Success(x), scala.util.Success(y)) => x < y
      case _ => a < b
    }

  /** `status` follows the reference's ledger convention (0 = loaded);
    * status 2 is this engine's extension for DRIFT-QUARANTINED batches
    * (the dead-letter route records `(loadId, "<schema>#quarantine",
    * 2)` so monitoring sees dead-lettered loads straight off the
    * ledger: `SELECT * FROM _dlt_loads WHERE status = 2`). */
  def recordLoad(loadId: String, schemaName: String = "graft",
                 versionHash: String = "", status: Int = 0): Unit = {
    val fresh = recordedLoads.synchronized {
      if (recordedLoads.containsKey((loadId, schemaName))) false
      else {
        lastRecorded.get(schemaName).foreach { last =>
          require(!loadIdBefore(loadId, last),
            s"load id $loadId precedes the newest recorded id $last for " +
              s"schema $schemaName — load ids must be offered in increasing " +
              "order (the bounded duplicate guard cannot vouch for older ids)")
        }
        recordedLoads.put((loadId, schemaName), java.lang.Boolean.TRUE)
        lastRecorded.update(schemaName, loadId)
        true
      }
    }
    if (fresh) {
      // driver-direct 1-row append (TinyParquet): a Spark job per ledger
      // row is ~100-300 ms of pure submission overhead per load package
      import TinyParquet._
      store.appendDriverFile(LoadsTable)(p => TinyParquet.write(p, Seq(Seq(
        "load_id" -> SCell(loadId), "schema_name" -> SCell(schemaName),
        "status" -> ICell(status),
        "inserted_at" -> SCell(java.time.Instant.now().toString),
        "schema_version_hash" -> SCell(versionHash)))))
    }
  }

  /** `_dlt_version` system table (reference schema version table,
    * dlt/common/storages/ + typing.py:39): one row per distinct schema
    * version hash, appended when the hash changes. */
  private var seenVersionHashes: Set[String] = Set.empty

  def recordVersion(schemaName: String, versionHash: String,
                    schemaJson: String): Unit = {
    // read on the driver, no Spark job; a tombstoned ledger takes Spark
    val already = seenVersionHashes(versionHash) || hasRows(VersionTable) && {
      if (store.tombstones(VersionTable).isEmpty)
        store.readDriverRows(VersionTable).exists(_.get("version_hash").contains(versionHash))
      else store.read(VersionTable).filter(col("version_hash") === versionHash)
        .limit(1).count() > 0
    }
    seenVersionHashes += versionHash
    if (!already) {
      val version = nextVersion(VersionTable)
      import TinyParquet._
      store.appendDriverFile(VersionTable)(p => TinyParquet.write(p, Seq(Seq(
        "version" -> LCell(version), "engine_version" -> LCell(1L),
        "inserted_at" -> SCell(java.time.Instant.now().toString),
        "schema_name" -> SCell(schemaName),
        "version_hash" -> SCell(versionHash),
        "schema" -> SCell(schemaJson)))))
    }
  }

  /** Next monotone version: max(version)+1, not count() — counts break
    * after deletes and under merged histories. Every row of the two
    * versioned ledgers is appended here at max+1 (and a compaction folds
    * them into one segment), so the newest segment holds the max: it is
    * read on the driver, with no Spark job. A ledger carrying tombstones,
    * which the driver reader refuses, takes the Spark aggregate. */
  private def nextVersion(table: String): Long = {
    val top =
      if (!hasRows(table)) None
      else if (store.tombstones(table).isEmpty)
        store.readDriverRowsLast(table).flatMap(_.get("version"))
          .map(_.asInstanceOf[Number].longValue()).maxOption
      else Option(store.read(table).agg(max(col("version"))).head().get(0))
        .map(_.asInstanceOf[Number].longValue())
    top.getOrElse(0L) + 1
  }

  private def hasRows(table: String): Boolean =
    store.exists(table) && store.segments(table).nonEmpty

  /** `_dlt_pipeline_state` system table (reference state sync,
    * dlt/pipeline/state_sync.py:95-139): the pipeline state snapshot
    * committed alongside the load so a fresh environment can restore
    * incremental cursors from the destination alone. */
  def recordState(pipelineName: String, loadId: String, stateJson: String): Unit = {
    val version = nextVersion(StateTable)
    import TinyParquet._
    store.appendDriverFile(StateTable)(p => TinyParquet.write(p, Seq(Seq(
      "version" -> LCell(version), "engine_version" -> LCell(4L),
      "pipeline_name" -> SCell(pipelineName), "state" -> SCell(stateJson),
      "created_at" -> SCell(java.time.Instant.now().toString),
      "_dlt_load_id" -> SCell(loadId)))))
  }

  val VersionTable = "_dlt_version"
  val StateTable = "_dlt_pipeline_state"
}

object Dispositions {

  /** Last issued load-id timestamp in microseconds (JVM-wide so two
    * Dispositions instances over one store can't collide either). */
  private val lastLoadMicros = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Strictly increasing epoch microseconds, JVM-wide: the clock behind
    * every engine-minted load id. */
  private[graft] def nextMicros(): Long = lastLoadMicros.updateAndGet(prev =>
    math.max(prev + 1, System.currentTimeMillis() * 1000))

  /** The column whose values name exactly the rows an SCD2 load onto
    * `dest` retires (see [[Dispositions.scd2]]), or None. */
  private def scd2IdColumn(dest: DataFrame, staged: DataFrame,
      cfg: Scd2Config): Option[String] =
    (if (cfg.mergeKey.forall(Scd2.hashedColumns(cfg).contains)) Some(cfg.rowHashColumn)
     else Some(Ids.DltId).filter(staged.columns.contains))
      .filter(dest.columns.contains)

  /** Split segments into (touched, untouched) by overlap between each
    * segment's key-range stats and the staged key ranges.
    *
    * Match semantics are OR of AND-groups ([[Merge.keyGroups]]): within
    * a group, a destination row matches only if EVERY column is equal —
    * so disjointness on ANY stat'd column excludes the group; across
    * groups, matching EITHER suffices — so a segment is untouched only
    * when every group is excluded. Columns without stats on every
    * segment are conservatively treated as overlapping. Returns None
    * (no pruning) when no group can exclude anything or the staging
    * range is empty/all-null. */
  private def partitionByOverlap(segs: Seq[Segment], staged: DataFrame,
      groups: Seq[Seq[String]]): Option[(Seq[Segment], Seq[Segment])] = {
    val allCols = groups.flatten.distinct
      .filter(k => segs.forall(_.stats.contains(k)))
    if (allCols.isEmpty || groups.isEmpty) None
    else {
      val aggs = allCols.flatMap(k =>
        Seq(min(col(k)).cast("string").as(s"lo_$k"),
          max(col(k)).cast("string").as(s"hi_$k")))
      val r = staged.agg(aggs.head, aggs.tail: _*).head()
      val ranges = allCols.flatMap { k =>
        (Option(r.getAs[String](s"lo_$k")), Option(r.getAs[String](s"hi_$k"))) match {
          case (Some(lo), Some(hi)) => Some(k -> (lo, hi))
          case _ => None
        }
      }.toMap
      if (ranges.isEmpty) None
      else Some(segs.partition { s =>
        groups.exists(g => g.forall(k =>
          ranges.get(k).forall { case (lo, hi) => s.stats(k).overlaps(lo, hi) }))
      })
    }
  }
}
