package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output checks, computed with plain Spark over the generated inputs —
  * never through graft. Every comparison is by row count plus an
  * order-independent hash of business columns only (`_dlt_id` is random
  * for replace/append loads). */
object Checks {
  final case class Digest(rows: Long, hash: java.math.BigDecimal)

  /** Per-row 40-bit hash over the columns cast to string. */
  private def rowHash(cols: Seq[String]): Column =
    pmod(xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*),
      lit(1L << 40)).cast("decimal(38,0)")

  /** count + sum of row hashes of each tagged frame, in one Spark job. */
  def digests(parts: Seq[(String, DataFrame, Seq[String])]): Map[String, Digest] = {
    val rows = parts.map { case (tag, df, cols) => df.select(lit(tag).as("tag"), rowHash(cols).as("h")) }
      .reduce(_ unionByName _)
      .groupBy("tag").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getDecimal(2))).toMap
    parts.map { case (tag, _, _) =>
      tag -> rows.getOrElse(tag, Digest(0L, java.math.BigDecimal.ZERO)) }.toMap
  }

  /** Order-independent digest of collected rows. */
  def digestRows(rows: Seq[Seq[Any]]): Digest = {
    val sum = rows.map(r => BigInt(r.map(v => String.valueOf(v)).mkString("\u0001").hashCode & 0xffffffffL))
      .sum
    Digest(rows.size.toLong, new java.math.BigDecimal(sum.bigInteger))
  }

  val RootCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority", "updated_at", "customer__c_name", "customer__c_nationkey",
    "customer__c_mktsegment")
  val LineCols = Seq("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_shipdate")
  val CustomerCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    "updated_at")

  /** Orders documents as the flat root rows the normalizer should land. */
  def flatRoot(orders: DataFrame): DataFrame =
    orders.select((RootCols.take(7).map(col) ++ Seq(
      col("customer.c_name").as("customer__c_name"),
      col("customer.c_nationkey").as("customer__c_nationkey"),
      col("customer.c_mktsegment").as("customer__c_mktsegment"))) ++
      orders.columns.filter(_ == "version").map(col): _*)

  def flatLines(orders: DataFrame): DataFrame =
    orders.select((col("o_orderkey") +: orders.columns.filter(_ == "version").map(col)) :+
      explode(col("lines")).as("l"): _*)
      .select((Seq("o_orderkey") ++ orders.columns.filter(_ == "version")).map(col) ++
        LineCols.map(c => col(s"l.$c").as(c)): _*)

  /** Latest row per key by cursor. Ties only occur for re-delivered
    * (identical) rows. */
  def latest(df: DataFrame, key: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(col("updated_at").desc, col("version").asc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Mismatch messages (empty = pass) of a landed orders chain and SCD2
    * customer table against the expected latest rows: business-column
    * digests, no orphaned `_dlt_parent_id`, one open SCD2 row per key. */
  def ordersStore(root: DataFrame, lines: DataFrame, customer: DataFrame,
      expRoot: DataFrame, expLines: DataFrame, expCustomer: DataFrame): Seq[String] = {
    val parent = root.select(col("_dlt_id").as("__pid"), col("o_orderkey"))
    val keyed = lines.join(parent, col("_dlt_parent_id") === col("__pid"))
    val orphans = lines.join(parent, col("_dlt_parent_id") === col("__pid"), "left_anti")
    val open = customer.filter(col("_dlt_valid_to").isNull)
    val lc = "o_orderkey" +: LineCols
    val d = digests(Seq(
      ("root", root, RootCols), ("root_want", expRoot, RootCols),
      ("lines", keyed, lc), ("lines_all", lines, Seq("_dlt_id")), ("lines_want", expLines, lc),
      ("orphans", orphans, Seq("_dlt_id")),
      ("open", open, CustomerCols), ("open_keys", open.select("c_custkey").distinct(), Seq("c_custkey")),
      ("open_want", expCustomer, CustomerCols)))
    Seq(
      Option.when(d("root") != d("root_want"))(s"orders ${d("root")} != expected ${d("root_want")}"),
      Option.when(d("lines") != d("lines_want") || d("lines_all").rows != d("lines_want").rows)(
        s"orders__lines ${d("lines")} (stored ${d("lines_all").rows}) != expected ${d("lines_want")}"),
      Option.when(d("orphans").rows != 0)(s"${d("orphans").rows} orphaned orders__lines rows"),
      Option.when(d("open_keys").rows != d("open").rows)(
        s"${d("open").rows - d("open_keys").rows} extra open SCD2 customer rows"),
      Option.when(d("open") != d("open_want"))(
        s"customer open rows ${d("open")} != expected ${d("open_want")}")).flatten
  }

  /** Each load id appears exactly once in `_dlt_loads`. */
  def loadsLedger(loads: DataFrame, ids: Seq[String]): Seq[String] = {
    val counts = loads.filter(col("load_id").isin(ids: _*)).groupBy("load_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ids.filterNot(id => counts.get(id).contains(1L))
      .map(id => s"load $id has ${counts.getOrElse(id, 0L)} _dlt_loads rows, expected 1")
  }

  // ---- text ------------------------------------------------------------

  def tokens(t: Column): Column = split(trim(t), "\\s+")
  def tokenCount(t: Column): Column = when(length(trim(t)) === 0, lit(0)).otherwise(size(tokens(t)))

  /** Word 3-shingle sets (lower-cased, whitespace tokens). */
  def shingles(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = tokens(lower(col(text)))
    docs.select(col(id).as("id"), toks.as("t"))
      .select(col("id"), explode(transform(sequence(lit(0), greatest(size(col("t")) - 3, lit(-1))),
        i => concat_ws(" ", slice(col("t"), i + 1, lit(3))))).as("sh"))
      .distinct()
  }

  /** Pairs (a from `left`, b from `right`) with exact shingle Jaccard ≥ t. */
  def jaccardPairs(left: DataFrame, right: DataFrame, t: Double): DataFrame = {
    val sizes = (d: DataFrame) => d.groupBy("id").agg(count(lit(1)).as("n"))
    val l = left.withColumnRenamed("id", "a"); val r = right.withColumnRenamed("id", "b")
    l.join(r, "sh").groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes(left).withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes(right).withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
      .filter(col("inter").cast("double") / (col("na") + col("nb") - col("inter")) >= t)
      .select("a", "b")
  }

  /** The classifier's linear score, re-derived from its published feature
    * definitions: len_sat, punct_ratio, stop_ratio, char_sat. */
  def score(weights: Seq[Double], t: Column, stops: Seq[String]): Column = {
    val n = tokenCount(t)
    val feats = Seq(
      least(lit(1.0), n.cast("double") / 50.0),
      when(length(t) === 0, lit(0.0))
        .otherwise(regexp_count(t, lit("[^A-Za-z0-9\\s]")).cast("double") / length(t)),
      when(n === 0, lit(0.0)).otherwise(
        size(filter(tokens(t), w => w.isin(stops: _*))).cast("double") / n),
      least(lit(1.0), length(t).cast("double") / 2000.0))
    feats.zipWithIndex.foldLeft(lit(weights.head)) { case (acc, (f, i)) =>
      acc + lit(weights(i + 1)) * f }
  }
}
