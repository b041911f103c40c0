package graft.write

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}

/** Embedding-collection destination — the role of the reference's
  * vector-store adapters (dlt/destinations/impl/{qdrant,weaviate,
  * lancedb}/: write vectors + build an index so readers query without
  * re-scanning), re-expressed lakehouse-first: a "collection" is a set
  * of manifest-committed tables in a [[TableStore]], IVF-list-bucketed
  * so a probe reads nprobe/nlist of the corpus from a cold start.
  *
  * A collection stores its rows under one [[Codec]] (vectors, or SQ8 /
  * sign / PQ / OPQ codes), chosen at [[writeIvf]] and persisted with
  * it; every reader ([[topK]], [[appendDeduped]], [[append]],
  * [[rebalance]]) works the plan out from the stored codec, the way
  * one FAISS `search` serves every index `index_factory` built.
  *
  * Layout for collection `t` — two planes:
  *
  * DATA plane (Spark-written parquet, executor-scale):
  *  - `t`              — the corpus rows (vectors or codes) + `__list`
  *    (nearest coarse centroid), segment RANGE-PARTITIONED by `__list`
  *    with min/max stats, so list-targeted reads prune to the probed
  *    segments;
  *  - `t__centroids`   — (`__list`, `__centroid`): the coarse quantizer,
  *    nlist rows (driver-small by contract — FAISS holds the coarse
  *    quantizer in memory on every searcher for the same reason);
  *  - `t__sq_stats`    — SQ8 dequantization parameters (rides probe
  *    plans as a broadcast frame).
  *
  * METADATA plane (driver-written via [[TinyParquet]], read back with
  * ZERO Spark jobs — a probe that pays 2-3 fixed 100-300 ms job
  * round-trips just to resolve its model is the overhead this split
  * removes):
  *  - `t__ivf_meta`    — one row of index parameters (nlist, seed,
  *    train_fraction, metric, dim) — the manifest a reader validates
  *    probes against, as the lancedb adapter stores index config;
  *  - `t__pq_meta` / `t__pq_codebooks` — PQ params + the m·ksub
  *    codebook rows (sketch-sized by construction);
  *  - `t__collection`  — one row PER GENERATION pinning the snapshot
  *    id of every sub-table PLUS the per-list occupancy census: the
  *    COLLECTION-LEVEL manifest. Writers append the next `gen` row
  *    LAST, so it is the linearization point of a multi-table model
  *    swap — a crash mid-rewrite leaves the previous complete
  *    generation the newest row, and probes (which time-travel every
  *    sub-table to the pinned snapshots via [[TableStore.readAt]])
  *    never observe new SQ8 stats over old codes or fresh centroids
  *    over a stale corpus, with NO lock on the read side. Older rows
  *    stay probe-able history ([[generationAt]] — the Iceberg
  *    snapshot-log shape) until [[pruneGenerations]] trims them;
  *    [[vacuumCollection]] retains every still-listed generation's
  *    segments while reclaiming the rest.
  *
  * 100 TB shape: the one expensive step (k-means fit on a hash-sample +
  * one assignment pass) happens ONCE at write; every subsequent query
  * is a broadcast centroid ranking + a pruned equi-join on `__list`,
  * and every APPEND is a map-only codegen argmin over the batch plus a
  * driver-file manifest commit — no corpus scan, no shuffle
  * (see [[append]]). Rebuilding the index per query session — what the
  * in-memory [[Similarity.ivfTopK]] does — is the thing this sink
  * amortizes away.
  */
object VectorSink {

  final case class IvfMeta(nlist: Int, seed: Long, trainFraction: Double,
      metric: String, dim: Int)

  /** One CONSISTENT generation of a collection: every sub-table
    * time-travelled to the snapshot the collection manifest pinned,
    * and the [[Codec.Model]] those snapshots hold. */
  final case class Generation(meta: IvfMeta, corpus: DataFrame,
      centroids: DataFrame, model: Codec.Model) {
    /** The coarse quantizer as a driver-held matrix — collected ONCE
      * per resolved generation and reused by every probe through it
      * (the FAISS searcher-resident coarse quantizer): a probe session
      * holding a Generation re-ranks lists with zero further Spark
      * actions. The pinned centroids table is immutable, so the memo
      * can never go stale. */
    lazy val centroidMatrix: Array[Array[Double]] =
      Similarity.centroidMatrix(centroids)
  }

  private val SubTables = Seq(
    "" -> "corpus_snap", "__centroids" -> "centroids_snap",
    "__ivf_meta" -> "meta_snap", "__sq_stats" -> "stats_snap",
    "__pq_codebooks" -> "codebooks_snap", "__pq_meta" -> "pqmeta_snap",
    "__opq_rotation" -> "rotation_snap")

  /** One decoded collection-manifest row: the generation number, the
    * pinned snapshot per sub-table (−1 = unused by this metric), the
    * per-list occupancy census as of this generation's commit, and the
    * running count of TOMBSTONED ids ([[delete]]/[[upsert]] — the
    * census stays PHYSICAL because probes scan dead rows until a
    * rewrite materializes the deletes; this counter is what the
    * dead-fraction maintenance trigger reads). */
  private final case class CollectionRow(gen: Long, snaps: Map[String, Long],
      listSizes: Array[Long], tombstoneIds: Long, committedMs: Long)

  import TinyParquet.{Cell, SCell, ICell, LCell, DCell}

  private def encodeRow(r: CollectionRow): Seq[(String, Cell)] =
    (Seq("gen" -> (LCell(r.gen): Cell)) ++
      SubTables.map { case (_, c) => c -> (LCell(r.snaps(c)): Cell) }) ++
      Seq("list_sizes" -> (SCell(r.listSizes.mkString(",")): Cell),
        "tombstone_ids" -> (LCell(r.tombstoneIds): Cell),
        "committed_ms" -> (LCell(r.committedMs): Cell))

  private def decodeRow(m: Map[String, Any]): CollectionRow =
    CollectionRow(m("gen").asInstanceOf[Long],
      // getOrElse(-1): rows committed before a sub-table EXISTED (e.g.
      // pre-OPQ manifests lack rotation_snap) decode as "unused", the
      // same value a live commit writes for metrics that skip the table
      SubTables.map { case (_, c) =>
        c -> m.getOrElse(c, -1L).asInstanceOf[Long] }.toMap,
      // rows committed before the census existed decode to an empty
      // census — append self-heals it with one full count (migration)
      m.get("list_sizes").map(_.asInstanceOf[String]).getOrElse("") match {
        case "" => Array.empty[Long]
        case s => s.split(",").map(_.toLong)
      },
      // rows committed before deletes existed carry no tombstones
      m.get("tombstone_ids").map(_.asInstanceOf[Long]).getOrElse(0L),
      // rows committed before retention existed carry no commit time:
      // -1 reads as "older than any age cutoff" (factually true — they
      // predate the timestamp), so TTL policies can still clean them;
      // keep-N and pins protect them like any other row
      m.get("committed_ms").map(_.asInstanceOf[Long]).getOrElse(-1L))

  /** All manifest rows, oldest → newest — a driver file read
    * ([[TableStore.readDriverRows]]), no Spark job. History-facing ops
    * only ([[generations]], [[generationAt]], prune, vacuum) — the hot
    * paths resolve through [[newestRow]], which reads ONE segment. */
  private def collectionRows(store: TableStore,
      table: String): Seq[CollectionRow] =
    store.readDriverRows(s"${table}__collection").map(decodeRow).sortBy(_.gen)

  /** Snapshots of `table` pinned by a collection's generation manifest
    * — `table` may be a collection's corpus (base name) or any model
    * sub-table. [[TableStore.vacuum]] folds these in on EVERY vacuum,
    * so a raw sub-table vacuum (not routed through [[vacuumCollection]])
    * can never delete a manifest a listed generation still pins —
    * historical probes ([[generationAt]] + [[topK]]) stay readable
    * under any vacuum entry point. Lock-free: manifest reads resolve a
    * complete snapshot via the atomic `_CURRENT` swap, and the caller
    * already holds the vacuumed table's own lock. */
  private[write] def pinnedSnapshotsFor(store: TableStore,
      table: String): Set[Long] =
    SubTables.iterator.flatMap { case (suffix, snapCol) =>
      val base =
        if (suffix.isEmpty) Some(table)
        else if (table.endsWith(suffix) && table.length > suffix.length)
          Some(table.dropRight(suffix.length))
        else None
      base.filter(b => store.exists(s"${b}__collection"))
        .toSeq.flatMap(b => collectionRows(store, b)
          .map(_.snaps(snapCol)).filter(_ >= 0L))
    }.toSet

  /** The LIVE generation's row — O(1) in commit count: every commit
    * appends one generation row as one driver-file segment, so the
    * newest row always lives in the LAST segment (pruneGenerations'
    * overwrite collapses to a single segment, preserving this). A
    * probe-per-append workload would otherwise decode EVERY prior
    * generation's file per probe. */
  private def newestRow(store: TableStore, table: String): CollectionRow =
    store.readDriverRowsLast(s"${table}__collection")
      .map(decodeRow).maxBy(_.gen)

  /** Commit the collection-level manifest: APPEND one row pinning the
    * given snapshot per sub-table (−1 for sub-tables this metric does
    * not use) and the occupancy census, under the next `gen` number.
    * Called LAST by every writer, under the writer lock — this commit
    * is what makes the new generation visible; earlier rows stay as
    * probe-able HISTORY ([[generationAt]]) until [[pruneGenerations]]
    * trims them. A driver-file append — no Spark job per commit. */
  private def commitCollection(store: TableStore, table: String,
      snaps: Map[String, Long], listSizes: Array[Long],
      tombstoneIds: Long = 0L): Unit = {
    val ct = s"${table}__collection"
    val gen = if (!store.exists(ct)) 1L else newestRow(store, table).gen + 1L
    val row = CollectionRow(gen,
      SubTables.map { case (_, c) => c -> snaps.getOrElse(c, -1L) }.toMap,
      listSizes, tombstoneIds, System.currentTimeMillis())
    store.appendDriverFile(ct)(p => TinyParquet.write(p, Seq(encodeRow(row))))
  }

  /** The current head snapshot of every existing sub-table — what a
    * FULL-REWRITE path ([[writeIvf]]) pins: it has just rewritten every
    * table it uses, so the heads ARE its generation. [[append]] must
    * NOT use this (it would promote orphaned partial commits); it pins
    * the prior generation's model snaps instead. */
  private def headSnaps(store: TableStore, table: String): Map[String, Long] =
    SubTables.map { case (suffix, c) =>
      val t = s"$table$suffix"
      c -> (if (store.exists(t)) store.snapshots(t).max else -1L)
    }.toMap

  /** Generation numbers still probe-able, oldest → newest. */
  def generations(store: TableStore, table: String): Seq[Long] =
    collectionRows(store, table).map(_.gen)

  /** Trim the collection's generation HISTORY to the newest `keep`
    * rows — after which [[vacuumCollection]] (which retains every pin
    * still listed) can reclaim the dropped generations' segments.
    * REFUSES if the trim would drop a [[pinGeneration pinned]]
    * generation: an explicit trim over a pin is a conflict the caller
    * must resolve (unpin, or use [[applyRetention]], which RETAINS
    * pins instead of refusing — the policy sweep runs unattended, a
    * manual trim has a human to answer to). */
  def pruneGenerations(store: TableStore, table: String,
      keep: Int = 2): Unit = store.exclusively(table) {
    require(keep >= 1, "keep at least the live generation")
    val rows = collectionRows(store, table)
    if (rows.length > keep) {
      val dropped = rows.dropRight(keep).map(_.gen)
      val pinnedDrops = dropped.filter(pinnedGenerations(store, table))
      require(pinnedDrops.isEmpty,
        s"pruneGenerations would drop PINNED generation(s) " +
          s"${pinnedDrops.mkString(", ")} of '$table' — unpinGeneration " +
          "first, or use applyRetention (which retains pins)")
      store.overwriteDriverFile(s"${table}__collection")(p =>
        TinyParquet.write(p, rows.takeRight(keep).map(encodeRow)))
    }
  }

  /** PIN a generation against retention: [[applyRetention]] retains it
    * past any keep-N/TTL window and [[pruneGenerations]] refuses to
    * drop it — the "named snapshot" retention escape every lakehouse
    * grows (Iceberg tags, Delta CLONE-as-archive), persisted as a
    * driver file beside the collection manifest so pins survive the
    * process. Pinning validates the generation exists NOW; the pin
    * then guarantees it keeps existing. */
  def pinGeneration(store: TableStore, table: String,
      gen: Long): Unit = store.exclusively(table) {
    val live = generations(store, table)
    require(live.contains(gen),
      s"cannot pin generation $gen of '$table' — not in history " +
        s"(live: ${live.mkString(", ")})")
    val pins = pinnedGenerations(store, table) + gen
    writePins(store, table, pins)
  }

  /** Remove a [[pinGeneration]] pin (no-op if not pinned). The
    * generation stays in history until a retention/prune pass drops
    * it — unpinning only withdraws the protection. */
  def unpinGeneration(store: TableStore, table: String,
      gen: Long): Unit = store.exclusively(table) {
    writePins(store, table, pinnedGenerations(store, table) - gen)
  }

  /** The currently pinned generation numbers (empty if none). */
  def pinnedGenerations(store: TableStore, table: String): Set[Long] = {
    val pt = s"${table}__collection_pins"
    if (!store.exists(pt)) Set.empty
    else store.readDriverRows(pt).map(_("gen").asInstanceOf[Long]).toSet
  }

  private def writePins(store: TableStore, table: String,
      pins: Set[Long]): Unit = {
    val pt = s"${table}__collection_pins"
    // TinyParquet needs ≥ 1 row; an empty pin set drops the file —
    // pinnedGenerations treats "absent" as "none pinned"
    if (pins.isEmpty) { if (store.exists(pt)) store.drop(pt) }
    else store.overwriteDriverFile(pt)(p =>
      TinyParquet.write(p, pins.toSeq.sorted.map(g =>
        Seq("gen" -> (LCell(g): Cell)))))
  }

  /** What [[applyRetention]] did: generations REMOVED from history,
    * generations an expiry window would have removed but a pin
    * retained, and the surviving history (oldest → newest). */
  final case class RetentionReport(removed: Seq[Long],
      retainedByPin: Seq[Long], remaining: Seq[Long])

  /** RETENTION POLICY sweep — the collection-plane mirror of Delta /
    * Iceberg snapshot expiry: a generation is EXPIRED when it falls
    * outside the newest `keepLast` rows AND (when `ttlMs` is given)
    * its commit time is older than `now − ttlMs`; expired generations
    * leave the manifest and [[vacuumCollection]] reclaims their
    * segments in the same locked pass. Never removed, regardless of
    * policy: the LIVE generation and every [[pinGeneration pinned]]
    * one (pins RETAIN here — the unattended sweep must not abort a
    * schedule over one archived generation; the manual
    * [[pruneGenerations]] is the path that refuses instead).
    * Pre-retention manifest rows carry no commit time and read as
    * older than any cutoff (see decodeRow); `now` is injectable so
    * policies replay deterministically in tests/gates. Driver-file
    * work + one vacuum — no Spark job, no corpus scan. */
  def applyRetention(store: TableStore, table: String, keepLast: Int,
      ttlMs: Option[Long] = None,
      now: Long = System.currentTimeMillis()): RetentionReport =
    store.exclusively(table) {
      require(keepLast >= 1, "keep at least the live generation")
      ttlMs.foreach(t => require(t >= 0L, s"ttlMs must be >= 0, got $t"))
      val rows = collectionRows(store, table)
      val pins = pinnedGenerations(store, table)
      val inKeepWindow = rows.takeRight(keepLast).map(_.gen).toSet
      def youngEnough(r: CollectionRow): Boolean =
        ttlMs.exists(t => r.committedMs >= 0 && now - r.committedMs <= t)
      val (keep, expire) = rows.partition(r =>
        inKeepWindow(r.gen) || youngEnough(r) || pins(r.gen))
      if (expire.nonEmpty)
        store.overwriteDriverFile(s"${table}__collection")(p =>
          TinyParquet.write(p, keep.map(encodeRow)))
      vacuumCollection(store, table)
      RetentionReport(expire.map(_.gen),
        keep.map(_.gen).filter(g => pins(g) && !inKeepWindow(g) &&
          !rows.find(_.gen == g).exists(youngEnough)),
        keep.map(_.gen))
    }

  private def metaFrom(m: Map[String, Any]): IvfMeta =
    IvfMeta(m("nlist").asInstanceOf[Int], m("seed").asInstanceOf[Long],
      m("train_fraction").asInstanceOf[Double],
      m("metric").asInstanceOf[String], m("dim").asInstanceOf[Int])

  /** Resolve the collection's CURRENT generation — the NEWEST row of
    * the collection manifest — then pin every sub-table to its
    * recorded snapshot. No lock — the manifest row was committed after
    * all its sub-table snapshots, so the set is consistent even
    * against a concurrent [[rebalance]] or a crash that left newer
    * partial sub-table commits behind. Pure driver file IO: the data
    * frames returned are lazy time-travel reads. */
  def generation(store: TableStore, table: String): Generation =
    resolve(store, table, newestRow(store, table))

  /** Resolve a HISTORICAL generation by number — probe the collection
    * as it stood before later appends/rebalances, as long as
    * [[pruneGenerations]] has not trimmed the row (and
    * [[vacuumCollection]], which retains every still-listed pin, has
    * not been narrowed below it). */
  def generationAt(store: TableStore, table: String, gen: Long): Generation = {
    val rows = collectionRows(store, table).filter(_.gen == gen)
    require(rows.nonEmpty, s"collection '$table' has no generation $gen " +
      s"(live: ${generations(store, table).mkString(", ")})")
    resolve(store, table, rows.head)
  }

  private def resolve(store: TableStore, table: String,
      c: CollectionRow): Generation = {
    def snap(suffix: String): Long = c.snaps(SubTables.toMap.apply(suffix))
    val meta = metaFrom(store.readDriverRowsAt(s"${table}__ivf_meta",
      snap("__ivf_meta")).head)
    Generation(meta, store.readAt(table, snap("")),
      store.readAt(s"${table}__centroids", snap("__centroids")),
      Codec.resolve(store, table, meta, snap))
  }

  /** Write the one-row index-config table — a driver parquet file, no
    * Spark job for a one-row rewrite. */
  private def writeMeta(store: TableStore, table: String, nlist: Int,
      seed: Long, trainFraction: Double, metric: String, dim: Int): Unit =
    store.overwriteDriverFile(s"${table}__ivf_meta")(p =>
      TinyParquet.write(p, Seq(Seq(
        "nlist" -> ICell(nlist), "seed" -> LCell(seed),
        "train_fraction" -> DCell(trainFraction),
        "metric" -> SCell(metric), "dim" -> ICell(dim)))))

  /** (list → row count) of a frame carrying `__list` — the ONE census
    * extraction both the full count and the append's batch count share. */
  private def countsByList(df: DataFrame): Map[Int, Long] =
    df.groupBy("__list").count().collect()
      .map(r => r.getInt(r.fieldIndex("__list")) ->
        r.getLong(r.fieldIndex("count"))).toMap

  /** Occupancy census over the JUST-WRITTEN corpus — a column-pruned
    * read-back of `__list` alone. Full-rewrite paths only (they are
    * O(corpus) by construction); [[append]] instead SUMS its batch
    * counts into the prior manifest row — O(batch). */
  private def countListSizes(store: TableStore, table: String,
      nlist: Int): Array[Long] = {
    val counts = countsByList(store.read(table))
    Array.tabulate(nlist)(l => counts.getOrElse(l, 0L))
  }

  /** The corpus width checks (min = max, no NULLs) WITHOUT their own
    * corpus scan: the (min, max, null-count) of the vector width ride
    * the write action as an `observe` aggregate on a frame the write
    * already evaluates,
    * and [[validatedDim]] raises AFTER the write but BEFORE the
    * collection manifest commits — an invalid corpus leaves only an
    * unreferenced sub-table swap (crash-equivalent: readers stay on
    * the pinned previous generation), never a visible one. On a 100 TB
    * ingest this is the difference between one corpus scan and two.
    * Attach to a frame still carrying `vec` (the encode input), not
    * the coded projection. */
  private def observeDim(df: DataFrame, vec: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs,
      min(size(col(vec))).as("mn"), max(size(col(vec))).as("mx"),
      sum(when(col(vec).isNull, lit(1L)).otherwise(lit(0L))).as("nulls")),
      obs)
  }

  /** Read [[observeDim]]'s metrics (the write action has completed by
    * the time this is called): one fixed width, no NULL vectors.
    * The null count only gates on zero — a pre-write range-partition
    * sampling pass may run rows through the metrics operator twice,
    * which cannot turn a nonzero count into zero (min/max are
    * idempotent under re-evaluation). */
  private def validatedDim(obs: org.apache.spark.sql.Observation,
      table: String): Int = {
    val m = obs.get
    require(m("nulls") != null, s"write to '$table': empty corpus")
    require(m("nulls").asInstanceOf[Long] == 0L,
      s"write to '$table': corpus carries NULL vectors " +
        "— drop or impute them first")
    val (mn, mx) = (m("mn").asInstanceOf[Int], m("mx").asInstanceOf[Int])
    require(mn == mx,
      s"write to '$table': corpus vector widths span " +
        s"[$mn, $mx] — collections are fixed-dim")
    mn
  }

  /** Index `corpus` and commit the collection through `store`, storing
    * its rows under `codec` (see [[Codec]]). Every writer of a full
    * generation comes through here — [[rebalance]] too, with the codec
    * it read back. The codec's model tables are written first, then the
    * corpus (codes, or vectors for [[Codec.Flat]]) bucketed by coarse
    * list, the centroids and the index config; each sub-table swap is
    * atomic, and the collection manifest commit (last) is what flips
    * readers to the new generation. */
  def writeIvf(store: TableStore, table: String, corpus: DataFrame,
      id: String, vec: String, nlist: Int = 16, seed: Long = 42L,
      trainFraction: Double = 0.25,
      codec: Codec = Codec.Flat): Unit = store.exclusively(table) {
    val model = codec.fit(store, table, corpus, id, vec)
    val (assigned0, centroids) = Similarity.ivfIndex(
      model.rotate(corpus, id, vec), id, vec, nlist, seed, trainFraction)
    val (assigned, dimObs) = observeDim(assigned0, vec)
    store.overwrite(table, model.encode(assigned, id, vec),
      statsFor = Seq("__list"), rangeBy = Seq("__list"))
    val dim = validatedDim(dimObs, table)
    store.overwrite(s"${table}__centroids", centroids)
    writeMeta(store, table, nlist, seed, trainFraction, codec.metric, dim)
    commitCollection(store, table, headSnaps(store, table),
      countListSizes(store, table, nlist))
  }

  def readMeta(store: TableStore, table: String): IvfMeta =
    metaFrom(store.readDriverRows(s"${table}__ivf_meta").head)

  /** Top-k cosine neighbours per query over the PERSISTED collection,
    * `(query_id, rank, match_id, cosine)` with cosine rounded to 6
    * places. The sub-tables resolve through the collection manifest
    * ([[generation]], or `at` — a historical [[generationAt]]), so a
    * concurrent [[rebalance]], or a crash that left partial sub-table
    * commits, can never hand a probe centroids from one generation and
    * corpus rows from another. The collection's codec picks the plan:
    *
    *  - [[Codec.Flat]]: [[Similarity.ivfProbe]] over the stored vectors
    *    — the same math as the in-memory [[Similarity.ivfTopK]], so
    *    `nprobe = nlist` is exact. `fullVectors`/`shortlist` are not
    *    used: the stored vectors already are the full precision.
    *  - [[Codec.Binary]]: Hamming shortlist over the stored sign codes
    *    within the probed lists (pure integer ordering), then an exact
    *    cosine re-rank of the shortlist against `fullVectors`; at
    *    `nprobe = nlist` this is exactly [[Similarity.binaryTopK]].
    *  - SQ8 / PQ / OPQ: ADC shortlist over the code reconstructions,
    *    then the exact re-rank against `fullVectors` (a point-read join,
    *    shortlist-sized); at `nprobe = nlist` this is exactly
    *    [[graft.ext.Quantize.rerankTopK]] / [[graft.ext.Pq.adcTopK]] /
    *    [[graft.ext.Opq.adcTopK]]. OPQ rotates the queries and
    *    `fullVectors` under the generation's pinned rotation; its
    *    cosine is the rotated-space value ≡ the raw cosine up to fp.
    *
    * Code-only collections (every codec but Flat) need `fullVectors`
    * (the full-precision corpus) and `shortlist ≥ k`.
    *
    * Filtered search — the metadata-filtered queries qdrant/weaviate
    * expose: `among` restricts matches to the ids of an allowlist frame
    * (left-semi join; any codec), `where` to corpus rows satisfying a
    * predicate over the stored columns (Flat only: the others store
    * codes, not filterable payloads). Both apply BEFORE the rank or
    * shortlist, so k survivors come back whenever the probed lists
    * hold them, where a post-filter of an unfiltered top-k would return
    * fewer. At `nprobe = nlist` the result is exactly the brute-force
    * top-k over the filtered live corpus; at lower nprobe survivors
    * living only in unprobed lists are missed, so highly selective
    * filters warrant a higher nprobe. */
  def topK(store: TableStore, table: String, queries: DataFrame,
      id: String, vec: String, k: Int, nprobe: Int,
      at: Option[Generation] = None,
      among: Option[DataFrame] = None,
      where: Option[org.apache.spark.sql.Column] = None,
      fullVectors: Option[DataFrame] = None,
      shortlist: Int = 0): DataFrame = {
    val g = at.getOrElse(generation(store, table))
    require(nprobe >= 1 && nprobe <= g.meta.nlist,
      s"nprobe $nprobe outside [1, ${g.meta.nlist}]")
    val corpus = restrict(g.corpus, among, id)
    if (g.model.codec.storesVectors)
      Similarity.ivfProbe(where.fold(corpus)(corpus.filter),
        g.centroidMatrix, widthChecked(queries, vec, g.meta.dim),
        id, vec, k, nprobe)
    else {
      require(where.isEmpty,
        s"collection '$table' is '${g.meta.metric}': it stores codes, not " +
          "filterable payloads — pass `among` (an id allowlist) instead")
      val full = fullVectors.getOrElse(throw new IllegalArgumentException(
        s"collection '$table' is '${g.meta.metric}': it stores codes, not " +
          "vectors — pass fullVectors (the full-precision corpus) for the " +
          "exact re-rank"))
      val probes = probeLists(g, queries, id, vec, nprobe)
      g.model match {
        case Codec.Model.Binary =>
          // candidates carry (query_id, match_id, hamming) scalars only;
          // the shared tail (ONE implementation with the in-memory
          // binaryTopK — the sim_ivf_bq gate's persisted ≡ in-memory
          // equivalence depends on the tie-breaks never drifting apart)
          // rejoins the float vectors at shortlist size for the re-rank
          val cands = probes
            .withColumn("__qcode",
              graft.functions.VectorFunctions.packSignBits(col("__qv")))
            .join(corpus.select(col(id).as("match_id"), col("__list"),
              col("__code")), Seq("__list"))
            .filter(col("query_id") =!= col("match_id"))
            .select(col("query_id"), col("match_id"),
              graft.functions.VectorFunctions.hammingDist(
                col("__qcode"), col("__code")).as("hamming"))
          Similarity.hammingShortlistRerank(cands, queries, full,
            id, vec, k, shortlist)
            .withColumn("rank", col("rank").cast("long"))
        case model =>
          val deq = model.reconstruct(corpus, id, vec, "__deq")
            .select(col(id).as("match_id"), col("__list"), col("__deq"))
          // ADC shortlist + exact re-rank: the ONE shared implementation
          // of the tie-break-sensitive tail
          graft.ext.Quantize.shortlistRerank(
            probes.join(deq, Seq("__list"))
              .filter(col("query_id") =!= col("match_id")),
            model.rotate(full, id, vec), id, vec, k, shortlist)
      }
    }
  }

  /** Left-semi restriction of corpus rows to an id allowlist — the
    * `among` pre-filter of [[topK]]. */
  private def restrict(corpus: DataFrame, among: Option[DataFrame],
      id: String): DataFrame = among match {
    case None => corpus
    // no distinct(): a left-semi join deduplicates the right side by
    // construction — the extra hash-aggregate exchange bought nothing
    case Some(a) => corpus.join(a.select(col(id)), Seq(id), "left_semi")
  }

  /** Centroid-ranked probe lists per query: (query_id, __qv, __list)
    * for the `nprobe` nearest coarse centroids of `g`, with `__qv` the
    * query in code space (OPQ: rotated under the generation's pinned
    * rotation) — the shared head of every code-probe path and every
    * dedup screen, delegating to the ONE probe-frame implementation
    * ([[Similarity.probeFrame]]: map-only codegen top-n + the small
    * keyed AQE-materialization exchange). Ranking is BIT-identical to
    * the append argmin (the exact SqDist subtract-square-accumulate
    * loop, ties to the lowest `__list`). The width guard runs on the
    * RAW queries, before the rotation: the matvec always emits a
    * trained-width output, which would mask a mismatch. */
  private def probeLists(g: Generation, queries: DataFrame,
      id: String, vec: String, nprobe: Int): DataFrame =
    Similarity.probeFrame(
      g.model.rotate(widthChecked(queries, vec, g.meta.dim), id, vec),
      id, vec, "__qv", g.centroidMatrix, nprobe)

  /** Width guard on the PROBE side (the write side checks the whole
    * batch in ingest): every distance kernel — centroid ranking,
    * SQ8/PQ ADC, sign-bit Hamming — clamps to min(length), so a
    * mismatched (or NULL) query would rank on a PREFIX of the
    * dimensions and return plausible-looking wrong results. The check
    * is a LAZY per-row `assert_true` riding the probe plan itself:
    * EVERY row is checked (a mixed-width frame cannot slip past a
    * sampled check), no extra eager job runs, empty frames pass
    * vacuously. */
  private[write] def widthChecked(queries: DataFrame, vec: String,
      dim: Int): DataFrame =
    queries.filter(assert_true(size(col(vec)) === dim,
      lit(s"query vector width != collection dim $dim — the distance " +
        "kernels clamp to min(length), so a mismatched probe would " +
        "silently rank on a prefix of the dimensions")).isNull)

  /** Per-list occupancy of collection `table`: one (list, size) entry
    * for EVERY coarse list in [0, nlist) — empty lists included, they
    * are exactly what a skewed quantizer produces. Read from the
    * newest collection-manifest row (writers keep the census current:
    * full rewrites re-count, appends sum their batch in) — a driver
    * file read, NO corpus scan. */
  def listSizes(store: TableStore, table: String): Array[(Int, Long)] = {
    val sizes = manifestSizes(store, table)
    Array.tabulate(sizes.length)(l => l -> sizes(l))
  }

  /** The newest row's census, resolved once per caller-held `row`. */
  private def manifestSizes(store: TableStore, table: String): Array[Long] =
    sizesOf(store, table, newestRow(store, table))

  /** `row`'s census, or — for a LEGACY row committed before the census
    * existed — one scan of the pinned corpus (the pre-r11 behavior;
    * without this a skewed legacy collection would read as perfectly
    * balanced and [[rebalance]] would never trigger). The census
    * contract is PHYSICAL rows; the fallback counts the pinned LIVE
    * corpus, which is the same thing here by the heal invariant: an
    * empty-census row carries NO tombstones — every tombstoning writer
    * ([[delete]], [[upsert]]) heals the census before (or while)
    * committing its first tombstone. */
  private def sizesOf(store: TableStore, table: String,
      row: CollectionRow): Array[Long] =
    if (row.listSizes.nonEmpty) row.listSizes
    else {
      val g = resolve(store, table, row)
      val counts = countsByList(g.corpus)
      Array.tabulate(g.meta.nlist)(l => counts.getOrElse(l, 0L))
    }

  private def skewOf(sizes: Array[Long]): Double = {
    val total = sizes.sum
    if (total == 0L) 1.0 else sizes.max.toDouble * sizes.length / total
  }

  private def deadOf(row: CollectionRow, sizes: Array[Long]): Double = {
    val total = sizes.sum
    if (total == 0L) 0.0
    else math.min(1.0, row.tombstoneIds.toDouble / total)
  }

  /** Coarse-list skew: max occupancy / mean occupancy over all nlist
    * lists (empties count toward the mean). 1.0 = perfectly balanced;
    * nlist = the whole corpus in one list — at which point a probe of
    * the hot list scans the corpus, not corpus/nlist. Manifest-backed
    * like [[listSizes]]: the skew check [[appendAndMaintain]] runs per
    * batch costs zero Spark jobs. */
  def listSkew(store: TableStore, table: String): Double =
    skewOf(manifestSizes(store, table))

  /** Assign `rows` to the nearest STORED coarse centroid — a MAP-ONLY
    * codegen argmin over the centroid matrix (one expression, no join,
    * no window, no Exchange: the previous crossJoin + row_number shape
    * shuffled batch × nlist rows per append, which at the √N rule's
    * nlist ~10⁴–10⁵ multiplies every batch 10⁴-fold).
    *
    * Agreement with the probe side ([[probeLists]],
    * [[Similarity.ivfProbe]]): both now compute the FULL Σ(v−c)² with
    * the same subtract-square-accumulate loop ([[graft.functions.SqDist]]
    * ≡ [[graft.functions.CentroidArgMin]]'s inner loop), and both break
    * exact ties to the lowest `__list` — BIT-identical, so a near-tied
    * centroid pair can never round to different winners between append
    * assignment and probe ranking. Appended rows land exactly where a
    * probe will look. (The initial writeIvf assignment is spark.ml's
    * k-means transform, which may use a norms-shortcut distance — a
    * write-time near-tie can place a row in the other near-tied list;
    * probes remain exact at nprobe = nlist regardless.)
    * Per-row argmin, so a batch carrying duplicate ids keeps every row
    * (the writeIvf path does too — the k-means transform is per-row). */
  private[write] def assignToStored(rows: DataFrame,
      centroids: Array[Array[Double]], vec: String): DataFrame =
    rows.withColumn("__list",
      graft.functions.VectorFunctions.centroidArgMin(col(vec), centroids)("cl"))

  /** Append a batch to an existing collection by encoding it under the
    * STORED model: coarse assignment against the stored centroids, and
    * for quantized collections the stored SQ8 stats / PQ codebooks —
    * readers keep seeing ONE consistent model. This is the cheap
    * incremental-growth path — O(batch) work end to end: a map-only
    * broadcast argmin, the segment write, a batch-sized occupancy
    * count folded into the manifest census, and a driver-file commit.
    * No retraining, no corpus scan. Its cost is that distribution
    * drift concentrates new vectors in few lists (and SQ8 values
    * outside the trained [min,max] encode beyond the int8 range —
    * reconstruction stays faithful, the codes are stored as ints, but
    * the byte-width contract degrades), so probe balance decays over
    * time — [[rebalance]] is the maintenance op that restores it.
    *
    * Model resolution goes through the COLLECTION MANIFEST (the pinned
    * newest generation), NEVER the sub-table heads: after a crash
    * mid-rebalance left partial sub-table overwrites behind, the heads
    * are orphans of an unfinished swap, and reading them would
    * silently promote a mixed model into the next generation. The
    * corpus table is the one head this append physically lands on — if
    * IT is orphaned, the append fails and points at [[rebalance]],
    * which finishes the swap. */
  def append(store: TableStore, table: String, rows: DataFrame,
      id: String, vec: String): Unit =
    ingest(store, table, rows, id, vec, replaceById = false)

  /** DEDUP-ON-INGEST append: drop every batch row that already has a
    * near-duplicate IN THE COLLECTION (a stored row at round-6 cosine ≥
    * `threshold` within the `nprobe` probed lists), append the rest —
    * the vector-destination "don't store what you already hold" policy
    * as one probe-shaped screen of the pinned generation (the exact
    * serving read path: segment-pruned, map-only centroid ranking, no
    * self-exclusion — a re-ingested row screens against its OWN stored
    * copy too, the interrupted-batch-recovery case) + one normal
    * [[append]], both under the collection lock (reentrant) so no
    * writer interleaves between screen and land. `nprobe = nlist`
    * makes the screen exact; a smaller nprobe trades screening recall
    * for probe cost exactly like serving — a missed duplicate is
    * APPENDED (ingest-safe degradation), never a lost row. The
    * threshold compares the round-6 cosine (the [[topK]] contract,
    * externally replayable). Within-batch duplicates are NOT resolved
    * here (the screen is batch × collection) and batch ids must be
    * UNIQUE ([[screenedAppend]] raises otherwise): run
    * [[graft.ext.Dedup.pairs]] with a [[graft.ext.SignBits]] signature
    * or an exact dedup over
    * the batch first. Returns (kept, dropped) row counts; an
    * all-duplicate batch appends nothing and leaves the generation
    * untouched.
    *
    * The screen compares each batch vector against the codec's
    * reconstruction of the stored rows ([[Codec.Model.reconstruct]]) —
    * the stored vector itself for [[Codec.Flat]]. SQ8/PQ/OPQ
    * collections store codes, so there the distance is ADC, the exact
    * quantity the serving shortlist ranks on (oracle-proven by the
    * `sim_pq_adc` / `sim_opq_adc` gates), and `threshold` lives in ADC
    * space: ADC cosine = true cosine ± the reconstruction error, so
    * calibrate it against the codebook quality (tight codebooks → ADC
    * hugs the true cosine; coarse ones → widen the margin). The
    * approximation degrades ingest-safe in BOTH directions: a duplicate
    * whose ADC cosine falls under the threshold is APPENDED, and every
    * drop is replayable from the generation's model. OPQ batches screen
    * in ROTATED space under the generation's pinned rotation — the space
    * their codes would land in. Binary collections carry no magnitudes
    * to compare: screen them with [[appendDedupedBinary]]. */
  def appendDeduped(store: TableStore, table: String, batch: DataFrame,
      id: String, vec: String, threshold: Double,
      nprobe: Int): (Long, Long) =
    screenedAppend(store, table, batch, id, vec) { pinned =>
      val g = generation(store, table)
      require(g.model != Codec.Model.Binary,
        s"collection '$table' is '${g.meta.metric}': sign codes carry no " +
          "magnitudes to cosine-screen — use appendDedupedBinary (a " +
          "Hamming budget)")
      require(nprobe >= 1 && nprobe <= g.meta.nlist,
        s"nprobe $nprobe outside [1, ${g.meta.nlist}]")
      tiledScreenJoin(pinned, g.meta.nlist,
        probeLists(g, pinned, id, vec, nprobe),
        g.model.reconstruct(g.corpus, id, vec, "__cv")
          .select(col("__cv"), col("__list"), col(id).as("__sid")),
        manifestSizes(store, table))
        .filter(round(graft.ext.Dedup.cosine(col("__qv"), col("__cv")), 6)
          >= threshold)
        .select(col("query_id").as(id)).distinct()
    }

  /** The screens' BIPARTITE-TILED equi-join on the probed list
    * (shared by the cosine and Hamming dedup-on-ingest screens),
    * OCCUPANCY-AWARE per list (r16): each list `l` splits its pair
    * space into an s_l×s_l grid of tiles — probes carry a FIXED
    * `__psalt` (hash of query id mod s_l) and replicate across the
    * s_l corpus buckets; corpus rows carry a FIXED `__salt` (hash of
    * stored id mod s_l) and replicate across the s_l probe buckets —
    * so every tile of list l is bounded by |probes_l|/s_l ×
    * |corpus_l|/s_l regardless of how either side distributes.
    * One-sided salting (r14) left a drifted batch's hot list unsplit
    * on the probe side (30× soak: max_task 43 s vs stage mean 4 s);
    * a GLOBAL s (r15) fixed that but was forced to 1 whenever
    * nlist ≥ 2·partitions — and at the production √N operating point
    * the screen kernel count of a list is |probes_l|·|corpus_l|,
    * QUADRATIC in a hot list's size, so a λ× oversized list costs
    * λ²× and still straggles (measured at the 30× production-shape
    * soak: nlist 173, s = 1, k-means list skew 4.33 → max task 23 s
    * vs stage mean 7 s). Now s_l derives from the MEASURED cost:
    * corpus occupancy comes from the manifest census (zero scans —
    * the [[listSkew]] source), probe occupancy from one O(batch)
    * aggregate over the pinned probes, and s_l =
    * ceil(√(cost_l / (Σcost / partitions))) clamped to [1, 64] —
    * only lists whose pair space exceeds a fair task share tile at
    * all, so the balanced production case keeps BOTH sides
    * single-copy and the small-nlist fixture case reproduces the old
    * global tiling.
    *
    * Both sides are EXPLICITLY repartitioned to a fixed count on the
    * tile key: the stage is compute-dense but byte-LIGHT, so AQE's
    * size-based coalescing would fold the salted shuffle back into a
    * handful of tasks. SHUFFLE_HASH pins the join to the salted-key
    * exchanges: the exploded frames' size estimates are garbage, and
    * letting the planner broadcast a misestimated side collapses the
    * kernel work onto the other side's (few) input tasks — the
    * 30-180 s single-task soak pathology. Neither side broadcasts at
    * the 100 TB operating point anyway.
    *
    * `probes` must carry (`query_id`, `__list`, payload); `corpus`
    * (`__sid` = stored id, `__list`, payload); `census` the per-list
    * PHYSICAL corpus occupancy (probe cost scans dead rows too).
    * The probes are pinned here (the count pass and the join both
    * consume them — unpinned, the centroid argmin would run twice per
    * screen); [[screenedAppend]] scopes the pin's release. */
  private def tiledScreenJoin(batch: DataFrame, nlist: Int,
      probes: DataFrame, corpus: DataFrame,
      census: Array[Long]): DataFrame = {
    val spark = batch.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val pinnedProbes = Dedup.pin(probes)
    val probeCounts = pinnedProbes.groupBy("__list")
      .agg(count(lit(1)).as("__pn"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val costs = probeCounts.map { case (l, pn) =>
      val occ = if (l >= 0 && l < census.length) census(l) else 0L
      l -> pn.toDouble * math.max(1L, occ)
    }
    // tile GRANULARITY: a quarter of the fair per-core share, not the
    // share itself. With max tile ≈ the fair share, one late-scheduled
    // tile sets the wall at up to ~2× the ideal sum/parts (the classic
    // LPT tail; measured at the 100× production-shape soak: max task
    // 49.4 s ≈ fair share 47 s, wall 90.5 s vs 47 s ideal). At T/4 the
    // tail is bounded by ~1.25× ideal, and the extra cost is ≤ 2×
    // replication on the lists that tile AT ALL (s_l doubles only for
    // lists already past a quarter-share; balanced lists stay
    // single-copy) — the screens are compute-dense and byte-light, so
    // finer tiles trade kilobytes of replication for the tail.
    val target = math.max(1.0, costs.map(_._2).sum / (4.0 * parts))
    val sByList = costs.map { case (l, c) =>
      l -> math.min(64, math.max(1, math.ceil(math.sqrt(c / target)).toInt))
    }
    val tiled = sByList.filter(_._2 > 1)
    val spread =
      if (tiled.isEmpty) parts
      else math.min(4096,
        math.max(parts, 4 * (sByList.map(t => t._2 * t._2).sum)))
    import spark.implicits._
    val sFrame = broadcast(
      sByList.toSeq.toDF("__list", "__s"))
    val l = pinnedProbes.join(sFrame, Seq("__list"), "left")
      .withColumn("__s", coalesce(col("__s"), lit(1)))
      .withColumn("__psalt", pmod(hash(col("query_id")), col("__s")))
      .withColumn("__salt", explode(expr("sequence(0, __s - 1)")))
      .drop("__s")
      .repartition(spread, col("__list"), col("__salt"), col("__psalt"))
    val r = corpus.join(sFrame, Seq("__list"), "left")
      .withColumn("__s", coalesce(col("__s"), lit(1)))
      .withColumn("__salt", pmod(hash(col("__sid")), col("__s")))
      .drop("__sid")
      .withColumn("__psalt", explode(expr("sequence(0, __s - 1)")))
      .drop("__s")
      .repartition(spread, col("__list"), col("__salt"), col("__psalt"))
      .hint("shuffle_hash")
    l.join(r, Seq("__list", "__salt", "__psalt"))
  }

  /** The shared dedup-append scaffold: pin the batch, reject duplicate
    * batch ids (the screen is id-keyed — a duplicated id would drop
    * its non-duplicate sibling, silently LOSING a row; the same
    * staging-key rule [[upsert]] enforces), anti-join the screen's dup
    * ids, land the survivors through the normal [[append]] encode
    * path, all under the reentrant collection lock. The screen runs
    * under the lock too, so the generation it resolves is the one the
    * append lands on. */
  private def screenedAppend(store: TableStore, table: String,
      batch: DataFrame, id: String, vec: String)
      (dupIds: DataFrame => DataFrame): (Long, Long) =
    store.exclusively(table) { Dedup.withPins {
      val pinned = Dedup.pin(batch)
      val d = pinned.agg(count(lit(1L)), count_distinct(col(id))).head()
      require(d.getLong(0) == d.getLong(1),
        s"dedup append to '$table': batch ids must be unique — the " +
          "screen is id-keyed, so a duplicated id would drop its " +
          "non-duplicate sibling (dedup the batch first)")
      val kept = Dedup.pin(pinned.join(dupIds(pinned), Seq(id), "left_anti"))
      val nKept = kept.count()
      if (nKept > 0L) ingest(store, table, kept, id, vec, replaceById = false)
      (nKept, d.getLong(0) - nKept)
    } }

  /** [[appendDeduped]] for BINARY collections: the screen is the
    * collection's own sign codes — batch rows whose code sits within
    * `maxHamming` of ANY stored code in a probed list are dropped, the
    * rest append (encoded under the stored coarse model, like any
    * binary append). No full-precision corpus is needed (codes only —
    * the same reason binary serving scans 32× less data), and the
    * screen prunes by the coarse quantizer exactly like serving:
    * `nprobe = nlist` makes the Hamming screen exact, smaller nprobe
    * degrades ingest-safe (missed duplicate ⇒ appended row). The
    * Hamming budget is the whole contract here — sign codes carry no
    * magnitudes to cosine-verify; calibrate via dim·θ/π (cosine 0.98 at
    * 64 dims ⇒ ~4 flips). Returns (kept, dropped). */
  def appendDedupedBinary(store: TableStore, table: String, batch: DataFrame,
      id: String, vec: String, maxHamming: Int,
      nprobe: Int): (Long, Long) =
    screenedAppend(store, table, batch, id, vec) { pinned =>
      val g = generation(store, table)
      require(g.model == Codec.Model.Binary,
        s"collection '$table' is '${g.meta.metric}', not a binary " +
          "collection — use appendDeduped (cosine screen) instead")
      require(nprobe >= 1 && nprobe <= g.meta.nlist,
        s"nprobe $nprobe outside [1, ${g.meta.nlist}]")
      require(maxHamming >= 0 && maxHamming < g.meta.dim,
        s"maxHamming $maxHamming outside [0, ${g.meta.dim})")
      tiledScreenJoin(pinned, g.meta.nlist,
        probeLists(g, pinned, id, vec, nprobe)
          .withColumn("__qcode",
            graft.functions.VectorFunctions.packSignBits(col("__qv"))),
        g.corpus.select(col("__list"), col("__code"),
          col(id).as("__sid")),
        manifestSizes(store, table))
        .filter(graft.functions.VectorFunctions.hammingDist(
          col("__qcode"), col("__code")) <= maxHamming)
        .select(col("query_id").as(id)).distinct()
    }

  /** UPSERT a batch: encode it under the stored model like [[append]],
    * but land it through ONE atomic tombstone+append commit
    * ([[TableStore.appendWithTombstone]]) — rows of the EXISTING
    * segments carrying the batch's ids die, the batch's rows live.
    * Merge-on-read, O(batch): no corpus rewrite; probes keep resolving
    * the pinned corpus snapshot, whose manifest applies the tombstone
    * as a segment-scoped anti-join, and HISTORICAL generations
    * ([[generationAt]]) pin older snapshots and keep seeing the
    * replaced rows. The replaced rows stay physically in their
    * segments until a [[rebalance]] materializes the deletes — the
    * occupancy census therefore stays PHYSICAL (it measures probe scan
    * cost, dead rows included) and the manifest's tombstone-id counter
    * feeds [[deadFraction]], the compaction trigger. The batch must be
    * UNIQUE on `id` — duplicates are rejected before the commit
    * (tombstones never cover the batch's own segment, so both copies
    * would survive; mirrors SQL MERGE's duplicate-staging-key error). */
  def upsert(store: TableStore, table: String, rows: DataFrame,
      id: String, vec: String): Unit =
    ingest(store, table, rows, id, vec, replaceById = true)

  private def ingest(store: TableStore, table: String, rows: DataFrame,
      id: String, vec: String, replaceById: Boolean): Unit =
      store.exclusively(table) { Dedup.withPins {
    // the whole read-model-then-commit holds the corpus table's lock:
    // a concurrent rebalance would otherwise swap the model between
    // this append's resolution and its commit
    val manifestRow = newestRow(store, table)
    val g = resolve(store, table, manifestRow)
    val meta = g.meta
    val op = if (replaceById) "upsert" else "append"
    val corpusHead = store.snapshots(table).max
    require(corpusHead == manifestRow.snaps("corpus_snap"),
      s"collection '$table' has an interrupted model swap: corpus head " +
        s"$corpusHead is not the pinned ${manifestRow.snaps("corpus_snap")} " +
        s"— run rebalance to finish the interrupted swap before ${op}ing")
    // the kernels truncate to min(length): ANY wrong-width row would
    // ingest silently-corrupt assignments/codes — validate the WHOLE
    // batch (one batch-sized aggregate), not just its first row. NULL
    // vectors must be counted explicitly: min/max IGNORE nulls, and a
    // null would null-propagate through the argmin into a __list=NULL
    // row the census then trips over — mid-commit
    val d = rows.agg(min(size(col(vec))).as("mn"),
      max(size(col(vec))).as("mx"),
      sum(when(col(vec).isNull, lit(1L)).otherwise(lit(0L))).as("nulls"),
      count(lit(1L)).as("total"))
      .head()
    require(!d.isNullAt(2) && d.getLong(2) == 0L,
      if (d.isNullAt(2)) s"$op to '$table': empty batch"
      else s"$op to '$table': batch carries ${d.getLong(2)} NULL " +
        s"vectors — drop or impute them before ${op}ing")
    require(!d.isNullAt(0), s"$op to '$table': empty batch")
    require(d.getInt(0) == meta.dim && d.getInt(1) == meta.dim,
      s"$op to '$table': batch vector widths span " +
        s"[${d.getInt(0)}, ${d.getInt(1)}], collection is trained " +
        s"at ${meta.dim}")
    // encode under the PINNED generation's model — never a head that
    // might belong to an unfinished swap. OPQ rotates first: coarse
    // assignment, codes and the census all live in rotated space. The
    // projection matches the stored segment schema, read off the PINNED
    // corpus frame (lazy, no extra manifest read; schema ≡ head by the
    // corpus-head equality check above)
    val assigned = assignToStored(g.model.rotate(rows, id, vec),
      g.centroidMatrix, vec)
    val coded = g.model.encode(assigned, id, vec)
      .select(g.corpus.columns.map(col): _*)
    // one batch pass feeds BOTH the segment write and the occupancy
    // census — pin it so the argmin/encode lineage doesn't run twice
    val pinned = Dedup.pin(coded)
    val newTombs =
      if (!replaceById) { store.append(table, pinned, statsFor = Seq("__list")); 0L }
      else {
        // ONE atomic commit: the batch's ids die in every EXISTING
        // segment, the batch's own segment is not covered — replaced
        // rows stay visible to older pinned generations, and a later
        // re-append of an id resurrects it (segment-scoped coverage)
        val ids = Dedup.pin(pinned.select(col(id)).distinct())
        val n = ids.count()
        // a duplicate id WITHIN the batch would survive twice: the
        // tombstone covers only pre-existing segments, never the
        // batch's own — so last-write-wins holds across COMMITS, not
        // within one. Reject rather than silently inflate the census
        // (the reference's upsert is a SQL MERGE, which errors on
        // duplicate staging keys — dlt/destinations/sql_jobs.py:778;
        // its docs require a unique primary_key for upsert). The
        // check is free: `total` rides the width aggregate, `n` is
        // the tombstone count this path already takes.
        require(n == d.getLong(3),
          s"upsert to '$table': batch carries duplicate ids " +
            s"(${d.getLong(3)} rows, $n distinct) — pre-dedupe the " +
            "batch (keep-last is undefined on an unordered DataFrame); " +
            "upsert is last-write-wins across commits, not within one")
        store.appendWithTombstone(table, pinned, id, ids,
          statsFor = Seq("__list"))
        n
      }
    val prev = manifestRow.listSizes
    val batchCounts = countsByList(pinned)
    val base =
      if (prev.nonEmpty) (l: Int) => prev.lift(l).getOrElse(0L)
      else {
        // pre-census manifest row (legacy collection): one count of
        // the PRE-BATCH pinned corpus heals the census; every later
        // writer sums incrementally. Counting the post-write head
        // instead would apply an upsert's own tombstone and bake LIVE
        // counts into a census whose contract is PHYSICAL (the pinned
        // pre-batch corpus is physical by the heal invariant: an
        // empty-census row carries no tombstones)
        val healed = countsByList(g.corpus)
        (l: Int) => healed.getOrElse(l, 0L)
      }
    val sizes = Array.tabulate(meta.nlist)(l =>
      base(l) + batchCounts.getOrElse(l, 0L))
    // the appended corpus snapshot becomes visible to probes only
    // through the manifest — commit it as the last step, pinning the
    // GENERATION's model snaps (not the possibly-orphaned heads)
    commitCollection(store, table,
      manifestRow.snaps.updated("corpus_snap", store.snapshots(table).max),
      sizes, manifestRow.tombstoneIds + newTombs)
  } }

  /** One-row OPERATIONAL SUMMARY of a collection — the `DESCRIBE`
    * every vector store ships (qdrant's collection info endpoint):
    * live generation, metric, index params, physical row census,
    * tombstoned-id count, occupancy skew and dead fraction — the two
    * maintenance triggers [[appendAndMaintain]] reads — and the count
    * of still-probe-able generations. Driver-file reads only (plus one
    * corpus scan ONLY for a legacy census-less manifest row): an
    * operator dashboard can poll it without touching the data plane. */
  def describeCollection(store: TableStore, table: String): DataFrame = {
    // one manifest read serves both the newest row and the generation
    // count — a second unsynchronized read could straddle a concurrent
    // commit and report gen/generations from different manifest states
    val rows = collectionRows(store, table)
    val row = rows.last
    val meta = metaFrom(store.readDriverRowsAt(s"${table}__ivf_meta",
      row.snaps("meta_snap")).head)
    val sizes = sizesOf(store, table, row)
    import store.spark.implicits._
    Seq((table, row.gen, meta.metric, meta.dim, meta.nlist,
      sizes.sum, row.tombstoneIds, skewOf(sizes), deadOf(row, sizes),
      rows.length.toLong))
      .toDF("collection", "gen", "metric", "dim", "nlist",
        "physical_rows", "tombstoned_ids", "list_skew", "dead_fraction",
        "generations")
  }

  /** Tombstone `ids` OUT of the collection — merge-on-read, O(ids):
    * one tombstone commit ([[TableStore.deleteByIds]]), no data
    * rewritten, no corpus scan. Probes resolve the new pinned corpus
    * snapshot, whose manifest applies the tombstone as a segment-scoped
    * anti-join over the probed candidates; HISTORICAL generations
    * ([[generationAt]]) pin older snapshots and keep seeing the rows —
    * the vector-plane delete a 100 TB collection needs (the role of the
    * reference vector adapters' delete-by-id;
    * dlt/destinations/impl/qdrant/qdrant_client.py's id-scoped deletes).
    *
    * The dead rows stay PHYSICALLY in their segments until a
    * [[rebalance]] materializes the deletes (`store.overwrite` drops
    * tombstones), so the occupancy census is left untouched — it
    * measures probe SCAN cost, which still includes the dead rows —
    * and the manifest's tombstone-id counter grows instead; it feeds
    * [[deadFraction]], the compaction trigger [[appendAndMaintain]]
    * checks. Returns the number of distinct ids tombstoned (absent ids
    * count too — tombstones are id predicates, not row locators, so
    * the counter is a maintenance heuristic, not an exact dead-row
    * count; repeated deletes of the same id inflate it, and a
    * rebalance resets it). */
  def delete(store: TableStore, table: String, ids: DataFrame,
      id: String): Long = store.exclusively(table) { Dedup.withPins {
    val manifestRow = newestRow(store, table)
    val corpusHead = store.snapshots(table).max
    require(corpusHead == manifestRow.snaps("corpus_snap"),
      s"collection '$table' has an interrupted model swap: corpus head " +
        s"$corpusHead is not the pinned ${manifestRow.snaps("corpus_snap")} " +
        "— run rebalance to finish the interrupted swap before deleting")
    val del = Dedup.pin(ids.select(col(id)).distinct())
    val n = del.count()
    if (n > 0L) {
      // heal a legacy (pre-census) row BEFORE tombstoning — the heal
      // invariant every census reader relies on: an empty-census row
      // carries no tombstones, so the pinned corpus counted here is
      // physical. Carrying the empty census forward would leave the
      // next reader's fallback counting LIVE rows under this
      // tombstone and misreading the physical contract
      val sizes =
        if (manifestRow.listSizes.nonEmpty) manifestRow.listSizes
        else sizesOf(store, table, manifestRow)
      store.deleteByIds(table, id, del)
      commitCollection(store, table,
        manifestRow.snaps.updated("corpus_snap", store.snapshots(table).max),
        sizes, manifestRow.tombstoneIds + n)
    }
    n
  } }

  /** Fraction of the collection's PHYSICAL rows that tombstones may
    * have killed: tombstoned-id count / census total — a driver-file
    * read, no Spark job, like [[listSkew]]. An upper-bound heuristic
    * (absent ids and repeat-deletes inflate the numerator; duplicate-id
    * rows deflate it): the maintenance trigger for materializing
    * deletes, not an exact accounting. 0 on a freshly (re)written
    * collection — full rewrites drop tombstones and reset the count. */
  def deadFraction(store: TableStore, table: String): Double = {
    val row = newestRow(store, table)
    deadOf(row, sizesOf(store, table, row))
  }

  /** Vacuum every sub-table of a collection WITHOUT breaking ANY
    * still-listed generation: each sub-table retains its newest
    * `retainManifests` manifests PLUS the UNION of snapshots pinned by
    * EVERY collection-manifest row — so out-of-band commits (a
    * crash-interrupted rewrite's partial sub-table swaps, manual
    * writes) can never age a listed generation out of the retention
    * window, and [[generationAt]] keeps every advertised generation
    * probe-able. Returns total data directories deleted. */
  def vacuumCollection(store: TableStore, table: String,
      retainManifests: Int = 2): Int = store.exclusively(table) {
    val rows = collectionRows(store, table)
    val fromSubs = SubTables.map { case (suffix, snapCol) =>
      val t = s"$table$suffix"
      val pins = rows.map(_.snaps(snapCol)).filter(_ >= 0L).toSet
      if (store.exists(t)) store.vacuum(t, retainManifests, pins) else 0
    }.sum
    fromSubs + store.vacuum(s"${table}__collection", retainManifests)
  }

  /** Append + SELF-HEAL: the post-append maintenance composition (the
    * way [[Zorder.compact]] pairs with lakehouse appends) — append the
    * batch under the stored model, then [[rebalance]] if the grown
    * collection's occupancy skew passed `maxSkew`. One lock
    * acquisition covers both, so no other writer can interleave
    * between the append and its maintenance. The skew check reads the
    * manifest census the append just updated — the no-rebalance path
    * never scans the corpus. For quantized collections `fullVectors`
    * must cover the GROWN corpus (original + this batch). Returns
    * whether a rebalance ran. */
  def appendAndMaintain(store: TableStore, table: String, rows: DataFrame,
      id: String, vec: String, fullVectors: Option[DataFrame] = None,
      maxSkew: Double = 4.0,
      maxDeadFraction: Double = 0.5,
      retainLast: Option[Int] = None,
      retainTtlMs: Option[Long] = None): Boolean = store.exclusively(table) {
    // SELF-HEALING includes the interrupted-swap state: append would
    // refuse an orphaned corpus head, but rebalance — already composed
    // here, under the same lock — is the documented healer. Plain IVF
    // heals from its own stored vectors; a quantized collection cannot
    // (its codes are lossy and the caller's fullVectors covers the
    // GROWN corpus, not the pre-batch head), so fail with the manual
    // recipe instead of append's bare refusal.
    val row = newestRow(store, table)
    if (store.snapshots(table).max != row.snaps("corpus_snap")) {
      if (resolve(store, table, row).model.codec.storesVectors)
        rebalance(store, table, id, vec, None, maxSkew)
      else throw new IllegalStateException(
        s"collection '$table' has an interrupted model swap; run " +
          "rebalance(fullVectors = <the corpus EXCLUDING this batch>) " +
          "to finish it, then retry appendAndMaintain")
    }
    append(store, table, rows, id, vec)
    val rebalanced =
      rebalance(store, table, id, vec, fullVectors, maxSkew, maxDeadFraction)
    // retention rides the append (the [[graft.pipeline.Resource
    // .withRetention]] twin on the collection plane): sweep generation
    // history under keep-N ∧ TTL strictly AFTER the append (and any
    // rebalance) committed — pins always survive, driver-file + vacuum
    // work only, so an unattended ingest stream bounds its generation
    // history without a separate maintenance scheduler. Best-effort
    // like the pipeline hook: a sweep failure must not fail the
    // committed append; the next call retries.
    // `retainTtlMs` ALONE is a live policy, not a no-op: the sweep runs
    // with keepLast = 1 (the minimum [[applyRetention]] accepts — the
    // live generation always survives), expiring every unpinned older
    // generation that has aged past the TTL. Both given → keep-N ∧ TTL
    // as documented on [[applyRetention]].
    val keepOpt = retainLast.orElse(retainTtlMs.map(_ => 1))
    keepOpt.foreach { keep =>
      try applyRetention(store, table, keep, retainTtlMs)
      catch { case e: Exception =>
        System.err.println(
          s"[vectorsink] retention sweep of '$table' failed (append is " +
            s"committed; the next call retries): $e")
      }
    }
    rebalanced
  }

  /** MAINTENANCE: retrain-and-rewrite the collection when coarse-list
    * occupancy skews past `maxSkew` (max/mean, see [[listSkew]]) OR the
    * tombstoned fraction passes `maxDeadFraction` (see [[deadFraction]]
    * — the rewrite also MATERIALIZES [[delete]]/[[upsert]] tombstones:
    * dead rows leave the segments, the census recounts to live rows,
    * the tombstone counter resets) — the FAISS "retrain the coarse
    * quantizer" discipline, composed as write-over-read like
    * [[Zorder.compact]]. [[append]] encodes under
    * the ORIGINAL quantizer, so a drifted ingest stream piles into a
    * few hot lists; every probe touching a hot list then scans far
    * more than corpus/nlist rows, and SQ8 codes spill past the int8
    * range against stale per-dimension stats. The rewrite retrains the
    * FULL model — coarse centroids and, for quantized collections, the
    * SQ8 stats / PQ codebooks — on today's corpus (same seed/params:
    * the hash-sample is deterministic per id set, so the new fit
    * reflects the new data, not RNG drift) and rewrites through the
    * same [[writeIvf]] path, under the codec the generation stores.
    *
    * Consistency: the COLLECTION MANIFEST (`t__collection`, committed
    * last by every writer) is the linearization point of the
    * multi-table model swap. Probes resolve every sub-table through it
    * ([[generation]]), so neither a concurrent rewrite nor a crash
    * that left newer partial sub-table commits can expose a mixed
    * model — a crash mid-rewrite simply leaves the previous complete
    * generation active; re-running rebalance finishes the swap.
    *
    * Plain IVF collections store their vectors, so the corpus is read
    * back from the collection itself. Quantized collections store only
    * lossy codes: pass `fullVectors` (the full-precision corpus, the
    * same frame [[topK]] already requires for them) — it must
    * cover exactly the collection's current rows. Holds the corpus
    * table's store lock for the whole read-train-rewrite, like
    * [[Zorder.compact]]. Returns whether a rewrite ran. */
  def rebalance(store: TableStore, table: String, id: String, vec: String,
      fullVectors: Option[DataFrame] = None,
      maxSkew: Double = 4.0,
      maxDeadFraction: Double = Double.PositiveInfinity): Boolean = {
    require(maxSkew >= 1.0, s"maxSkew $maxSkew below the balanced floor 1.0")
    store.exclusively(table) {
      val manifestRow = newestRow(store, table)
      // an orphaned corpus head (a crash between a writer's corpus
      // commit and its manifest commit — exactly what makes [[append]]
      // refuse with "run rebalance") must force the rewrite regardless
      // of skew: rebalance IS the advertised recovery path, and a
      // balanced census would otherwise no-op it forever. The head
      // corpus is complete either way (segment commits are atomic), so
      // rewriting from it finishes the swap — an interrupted APPEND's
      // committed batch rows are included, an interrupted REBALANCE's
      // rewritten rows re-train to the same answer.
      val interrupted =
        store.snapshots(table).max != manifestRow.snaps("corpus_snap")
      // three triggers: an interrupted swap (recovery), occupancy skew
      // (probe balance), and dead fraction (tombstoned rows still being
      // scanned — the rewrite MATERIALIZES the deletes: store.overwrite
      // drops tombstones and the census recounts to live rows). The
      // census resolves ONCE off the manifest row already in hand — the
      // no-op path costs one driver-file read, and a legacy census-less
      // row costs one fallback scan, not one per trigger
      val sizes = sizesOf(store, table, manifestRow)
      if (!interrupted && skewOf(sizes) <= maxSkew &&
          deadOf(manifestRow, sizes) <= maxDeadFraction) false
      else {
        // the codec and its params resolve through the PINNED
        // generation, like append: an orphaned __ivf_meta/__pq_meta head
        // from the very swap this run is finishing must not redefine
        // the index parameters. The REWRITE retrains the whole model
        // (OPQ: rotation included); probes of PINNED older generations
        // keep their own.
        val g = resolve(store, table, manifestRow)
        val codec = g.model.codec
        val corpus =
          if (codec.storesVectors) store.read(table).drop("__list")
          else {
            val f = fullVectors.getOrElse(throw new IllegalArgumentException(
              s"rebalancing quantized collection '$table' needs " +
                "fullVectors: the stored codes are lossy and cannot " +
                "retrain the model"))
            // the rewrite REPLACES the collection with whatever `f`
            // holds: a stale corpus (e.g. missing an appended batch, or
            // holding a same-size but different id set) would silently
            // drop or swap vectors during maintenance — fail fast on a
            // row-count mismatch AND on collection ids absent from
            // fullVectors. (Stale VALUES under identical ids are
            // uncheckable here: the quantized collection stores only
            // lossy codes — that part of the contract stays with the
            // caller.)
            val (have, want) = (f.count(), store.read(table).count())
            require(have == want,
              s"fullVectors covers $have rows but collection '$table' " +
                s"holds $want — pass the corpus INCLUDING every appended " +
                "batch, or appended vectors would vanish in the rewrite")
            val missing = store.read(table).select(col(id))
              .join(f.select(col(id)), Seq(id), "left_anti").count()
            require(missing == 0L,
              s"fullVectors is missing $missing of collection '$table's " +
                "ids — a different corpus would silently replace the " +
                "collection's content in the rewrite")
            f
          }
        writeIvf(store, table, corpus, id, vec, g.meta.nlist, g.meta.seed,
          g.meta.trainFraction, codec)
        true
      }
    }
  }
}
