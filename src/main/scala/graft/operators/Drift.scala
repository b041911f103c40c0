package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift detection between two loads — the data-quality
  * check an ingestion pipeline runs before trusting a new batch (the
  * Deequ/population-stability discipline; the reference's schema
  * contracts catch TYPE drift, this catches VALUE drift the types
  * cannot see).
  *
  * PSI (population stability index) over `bins` equal-width bins fixed
  * by the BASELINE's min/max (out-of-range current values clamp to the
  * edge bins, so a shifted distribution piles up visibly at the edge):
  * `PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)` with Laplace smoothing
  * `(cnt + 0.5) / (n + 0.5·bins)` so empty bins stay finite. The usual
  * reading: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
  *
  * Scale shape: one aggregate per side (bin counts — map-side combined
  * to ≤ bins rows), a bins-row merge, and the Σ as a DECIMAL(28,12)
  * pre-summed aggregate (order-independent, engine-exact — the
  * perplexity discipline), so the whole check costs two scans and
  * kilobytes of shuffle at any volume. */
object Drift {

  /** The ONE bin-assignment implementation (shared by [[psi]] and
    * [[psiProfile]] — tie-break/edge semantics must never diverge):
    * clamp BEFORE the int cast (a wildly out-of-range value overflows
    * int and would wrap back into low bins); a CONSTANT baseline
    * (mx = mn) bins by equality — a differing current value lands in
    * the TOP bin, so the gate still sees the shift. */
  private def binExpr(v: Column, mn: Column, mx: Column,
      bins: Int): Column = {
    val raw = floor((v - mn) / ((mx - mn) / bins))
    val clamped = least(lit(bins - 1), greatest(lit(0), raw)).cast("int")
    val degenerate = when(v === mn, lit(0)).otherwise(lit(bins - 1))
    when(mx > mn, clamped).otherwise(degenerate)
  }

  /** Per-bin report plus the total: (bin, n_base, n_cur, term, psi) —
    * `term` is each bin's smoothed contribution rounded to 6, `psi`
    * the exact-decimal total (same on every row; ≤ bins rows). */
  def psi(base: DataFrame, cur: DataFrame, value: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1024, "bins in [2, 1024]")
    val stats = base.agg(
      min(col(value).cast("double")).as("__mn"),
      max(col(value).cast("double")).as("__mx"))
    def binned(df: DataFrame, cnt: String): DataFrame =
      df.crossJoin(broadcast(stats))
        .where(col(value).isNotNull)
        .select(binExpr(col(value).cast("double"),
          col("__mn"), col("__mx"), bins).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(cnt))
    val grid = base.sparkSession.range(bins.toLong)
      .select(col("id").cast("int").as("bin"))
    val merged = grid
      .join(binned(base, "n_base"), Seq("bin"), "left")
      .join(binned(cur, "n_cur"), Seq("bin"), "left")
      .na.fill(0L, Seq("n_base", "n_cur"))
    psiTail(merged, bins)
  }

  /** The shared smoothing/term/Σ tail of [[psi]] and
    * [[psiVsProfile]] — ONE owner so the two PSI paths (live baseline
    * frame vs persisted histogram) can never drift arithmetically.
    * `merged` = (bin, n_base, n_cur), one row per bin. */
  private def psiTail(merged: DataFrame, bins: Int): DataFrame = {
    val totals = broadcast(merged.agg(
      sum("n_base").as("__tb"), sum("n_cur").as("__tc")))
    val t = merged.crossJoin(totals)
      .withColumn("__p", (col("n_base") + lit(0.5)) /
        (col("__tb") + lit(0.5) * bins))
      .withColumn("__q", (col("n_cur") + lit(0.5)) /
        (col("__tc") + lit(0.5) * bins))
      .withColumn("__term", (col("__p") - col("__q")) *
        log(col("__p") / col("__q")))
    val total = broadcast(t.agg(
      round(sum(col("__term").cast("decimal(28,12)")).cast("double"), 6)
        .as("psi")))
    t.crossJoin(total)
      .select(col("bin"), col("n_base"), col("n_cur"),
        round(col("__term"), 6).as("term"), col("psi"))
      .orderBy("bin")
  }

  // ---- persisted baseline profiles ----------------------------------------

  /** A persisted baseline histogram: bin range + per-bin counts under
    * the shared [[binExpr]] semantics. The streaming-drift shape: the
    * baseline corpus is scanned ONCE at profile time and every later
    * check compares against these ≤ `bins` numbers — a micro-batch
    * gate must not re-scan the training corpus per batch. */
  final case class Histogram(mn: Double, mx: Double, counts: Array[Long]) {
    require(counts.nonEmpty, "empty histogram")
    def bins: Int = counts.length
    /** This histogram with `other`'s per-bin counts folded in — the
      * ONE owner of profile-fold addition (the pipeline's locked
      * reload-add-write calls it). `other` must be binned under THIS
      * histogram's (mn, mx, bins). */
    def plus(other: Array[Long]): Histogram = {
      require(other.length == bins,
        s"fold width ${other.length} != profile bins $bins")
      Histogram(mn, mx, counts.zip(other).map { case (a, b) => a + b })
    }
  }

  /** Histogram of `value` over `df` (nulls excluded — [[psi]]'s
    * contract). Two passes over the profile source (stats, then bin
    * counts), both tiny-output aggregates. */
  def histogram(df: DataFrame, value: String, bins: Int = 10): Histogram = {
    require(bins >= 2 && bins <= 1024, "bins in [2, 1024]")
    val v = col(value).cast("double")
    val st = df.where(v.isNotNull)
      .agg(min(v).as("mn"), max(v).as("mx")).head()
    require(!st.isNullAt(0),
      s"cannot profile '$value': no non-null values")
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    val rows = df.where(v.isNotNull)
      .select(binExpr(v, lit(mn), lit(mx), bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect()
    val counts = new Array[Long](bins)
    rows.foreach(r => counts(r.getInt(0)) = r.getLong(1))
    Histogram(mn, mx, counts)
  }

  /** Persist a baseline profile as the tiny table `<table>` (bin, n,
    * mn, mx) — the drift twin of the classifier's model table. */
  def saveProfile(store: graft.write.TableStore, table: String,
      df: DataFrame, value: String, bins: Int = 10): Unit =
    writeProfile(store, table, histogram(df, value, bins), df.sparkSession)

  /** Persist an already-computed [[Histogram]] (the [[saveProfile]]
    * layout) — the merge path writes merged counts without recomputing
    * from a frame. */
  def writeProfile(store: graft.write.TableStore, table: String,
      h: Histogram, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    store.overwrite(table,
      h.counts.toIndexedSeq.zipWithIndex
        .map { case (n, b) => (b, n, h.mn, h.mx) }
        .toDF("bin", "n", "mn", "mx"))
  }

  /** Bin counts of `cur` under the profile's PINNED (mn, mx, bins) —
    * the batch-side (Spark) half of a profile fold, exposed so a
    * caller can run the aggregate while its source window is still
    * pinned and fold the (pure driver-side) ADDITION later under a
    * store lock: counts are commutative, so a lock-covered
    * reload-add-write loses nothing even if another writer folded in
    * between. Out-of-range mass clamps to the edge bins exactly like
    * [[psi]]'s current side. One tiny aggregate (≤ bins output rows). */
  def binCounts(hist: Histogram, cur: DataFrame,
      value: String): Array[Long] = {
    val v = col(value).cast("double")
    val rows = cur.where(v.isNotNull)
      .select(binExpr(v, lit(hist.mn), lit(hist.mx), hist.bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect()
    val counts = new Array[Long](hist.bins)
    rows.foreach(r => counts(r.getInt(0)) = r.getLong(1))
    counts
  }

  /** Read back a [[saveProfile]] table. */
  def loadProfile(store: graft.write.TableStore, table: String): Histogram = {
    val rows = store.read(table).select("bin", "n", "mn", "mx")
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"profile table '$table' is empty")
    Histogram(rows.head.getDouble(2), rows.head.getDouble(3),
      rows.map(_.getLong(1)))
  }

  /** PSI of `cur` against a persisted baseline [[Histogram]] — same
    * output shape and arithmetic as [[psi]] (shared [[binExpr]] +
    * [[psiTail]]), but the baseline side costs zero scans: its bin
    * counts ride the plan as literals. One tiny aggregate over `cur`
    * per call — the per-micro-batch drift gate. */
  def psiVsProfile(hist: Histogram, cur: DataFrame,
      value: String): DataFrame = {
    val bins = hist.bins
    val curBinned = cur
      .where(col(value).isNotNull)
      .select(binExpr(col(value).cast("double"),
        lit(hist.mn), lit(hist.mx), bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_cur"))
    val s = cur.sparkSession
    import s.implicits._
    val base = s.createDataset(hist.counts.toIndexedSeq.zipWithIndex
        .map { case (n, b) => (b, n) })
      .toDF("bin", "n_base")
    val merged = base
      .join(curBinned, Seq("bin"), "left")
      .na.fill(0L, Seq("n_cur"))
    psiTail(merged, bins)
  }

  /** Per-COLUMN drift profile in ONE pass over each side: melt the
    * requested numeric columns to (column, v) with a single
    * projection + explode (the Profile discipline), compute baseline
    * stats per column, bin, smooth, and decimal-sum PSI per column —
    * the whole-load drift report, never one scan per column.
    * Output: (column, psi) — same semantics per column as [[psi]]
    * (shared [[binExpr]], same smoothing and decimal Σ). EVERY
    * requested column gets a row: a column whose baseline values are
    * entirely null has no bin range to drift against, so it reports
    * `psi = null` (explicitly unknown) rather than silently vanishing
    * from the profile — a caller gating per column always sees it
    * (`psi` is therefore NULLABLE; gate with an explicit null policy).
    * Duplicate names in `cols` are collapsed (one output row per
    * distinct column) — a repeated name would otherwise melt twice and
    * double every bin count. */
  def psiProfile(base: DataFrame, cur: DataFrame, cols: Seq[String],
      bins: Int = 10): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    require(bins >= 2 && bins <= 1024, "bins in [2, 1024]")
    val cs = cols.distinct
    def melt(df: DataFrame): DataFrame =
      df.select(explode(array(cs.map(c =>
          struct(lit(c).as("column"), col(c).cast("double").as("v"))): _*)).as("m"))
        .select(col("m.column"), col("m.v"))
        .where(col("v").isNotNull)
    val stats = melt(base).groupBy("column")
      .agg(min("v").as("__mn"), max("v").as("__mx"))
    def binned(df: DataFrame, cnt: String): DataFrame =
      melt(df).join(broadcast(stats), "column")
        .select(col("column"),
          binExpr(col("v"), col("__mn"), col("__mx"), bins).as("bin"))
        .groupBy("column", "bin").agg(count(lit(1)).as(cnt))
    val grid = stats.select("column").crossJoin(
      base.sparkSession.range(bins.toLong)
        .select(col("id").cast("int").as("bin")))
    val merged = grid
      .join(binned(base, "n_base"), Seq("column", "bin"), "left")
      .join(binned(cur, "n_cur"), Seq("column", "bin"), "left")
      .na.fill(0L, Seq("n_base", "n_cur"))
    val totals = merged.groupBy("column")
      .agg(sum("n_base").as("__tb"), sum("n_cur").as("__tc"))
    val psiByCol = merged.join(broadcast(totals), "column")
      .withColumn("__p", (col("n_base") + lit(0.5)) /
        (col("__tb") + lit(0.5) * bins))
      .withColumn("__q", (col("n_cur") + lit(0.5)) /
        (col("__tc") + lit(0.5) * bins))
      .withColumn("__term", (col("__p") - col("__q")) *
        log(col("__p") / col("__q")))
      .groupBy("column")
      .agg(round(sum(col("__term").cast("decimal(28,12)")).cast("double"), 6)
        .as("psi"))
    // left join from the REQUESTED list: all-null-baseline columns
    // (absent from stats, hence from psiByCol) surface as psi = null
    base.sparkSession.createDataFrame(cs.map(Tuple1.apply)).toDF("column")
      .join(psiByCol, Seq("column"), "left")
      .orderBy("column")
  }
}
