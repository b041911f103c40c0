package graft.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) clustered layout — multi-dimensional data
  * skipping for the lakehouse sink. A range layout sorts on ONE key:
  * predicates on the leading column prune segments surgically, but a
  * filter on any other column touches every segment. Interleaving the
  * bits of several columns' normalized ranks gives every clustered
  * column partial locality: each of the k segments covers ~1/k^(1/d)
  * of EACH dimension's range, so the manifest's min/max stats prune on
  * ANY of them (the Delta/Iceberg OPTIMIZE ZORDER discipline, from
  * Morton 1966).
  *
  * Shape at 100 TB: one tiny min/max aggregate (broadcast back as a
  * 1-row frame), a pure-projection bit-interleave (builtin shift/mask
  * ops, fully codegen), then the existing segment machinery. The
  * segment split reuses the one materialized keyed frame (pinned) —
  * one real pass over the data plus k cache reads, committed
  * atomically via [[TableStore.commitSegments]].
  */
object Zorder {

  /** Append the Morton key of `cols` as `keyCol`: each column's value
    * is min/max-normalized to `bits` bits (corpus-wide stats via a
    * 1-row broadcast), then bit b of column i lands at key position
    * b·d + i. Constant columns contribute 0. */
  def withKey(df: DataFrame, cols: Seq[String], bits: Int = 16,
      keyCol: String = "__z"): DataFrame = {
    val d = cols.size
    require(d >= 2, "z-order needs at least two columns (use rangeBy for one)")
    require(bits >= 1 && bits * d <= 62, s"bits * cols must fit a long")
    val scaleMax = (1L << bits) - 1
    val aggExprs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val stats = df.agg(aggExprs.head, aggExprs.tail: _*)
    val keyed = df.crossJoin(broadcast(stats))
    val scaled: Seq[Column] = cols.map { c =>
      val mn = col(s"__mn_$c"); val mx = col(s"__mx_$c")
      when(mx > mn,
        ((col(c).cast("double") - mn) / (mx - mn) * scaleMax).cast("long"))
        .otherwise(lit(0L))
    }
    val zkey = (for (b <- 0 until bits; i <- 0 until d) yield
        shiftleft(shiftright(scaled(i), b).bitwiseAND(lit(1L)), b * d + i))
      .foldLeft(lit(0L): Column)(_ + _) // disjoint bit positions: + = OR
    // a null clustered value (or a value whose double cast nulls) nulls
    // the whole key — key those rows as -1 so they cluster together in
    // the first segment instead of silently matching NO segment filter
    keyed.select(df.columns.map(col) :+
      coalesce(zkey, lit(-1L)).as(keyCol): _*)
  }

  /** Overwrite `table` with `df` laid out as `segments` z-ordered
    * segments clustered on `cols`, each carrying min/max stats for all
    * of them — [[TableStore.readPruned]] then skips segments for
    * predicates on ANY clustered column. Boundaries come from an
    * approximate quantile sketch of the key (driver-small: k−1
    * values); the boundary buckets stay balanced to the sketch's
    * relative error. */
  def overwrite(store: TableStore, table: String, df: DataFrame,
      cols: Seq[String], segments: Int, bits: Int = 16): Unit = graft.ext.Dedup.withPins {
    require(segments >= 2, "need at least two segments to skip any")
    val keyed = graft.ext.Dedup.pin(withKey(df, cols, bits))
    val bounds = keyed.stat
      .approxQuantile("__z", (1 until segments).map(_.toDouble / segments).toArray, 0.001)
      .map(_.toLong).distinct.sorted
    val edges = (Long.MinValue +: bounds.toSeq) :+ Long.MaxValue
    val writes = edges.sliding(2).collect { case Seq(lo, hi) if lo < hi =>
      SegmentWrite(
        keyed.filter(col("__z") > lo && col("__z") <= hi).drop("__z"),
        statsFor = cols)
    }.toSeq
    store.commitSegments(table, Nil, writes)
  }

  /** MAINTENANCE: re-cluster `table` when appends have grown it past
    * `maxSegments` live segments (each append lands outside the
    * z-order, so skipping degrades as the un-clustered fraction
    * grows — the OPTIMIZE ZORDER rewrite). Reads the current snapshot
    * (tombstones fold in), rewrites it as `segments` z-ordered
    * segments in one atomic swap. Returns whether it ran. */
  def compact(store: TableStore, table: String, cols: Seq[String],
      segments: Int, bits: Int = 16, maxSegments: Int = 32): Boolean =
    // the whole read-then-rewrite holds the table lock: an append
    // landing between the snapshot read and the swap would otherwise
    // be silently dropped by the keep=Nil commit
    store.exclusively(table) {
      if (store.segments(table).length <= maxSegments) false
      else {
        overwrite(store, table, store.read(table), cols, segments, bits)
        true
      }
    }
}
