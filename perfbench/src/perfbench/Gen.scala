package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Input sizes of one benchmark run. All keep the sf0.1 table shapes
  * (orders nesting 1-7 lineitems and a customer dict; 50-180-word
  * documents from the sf0.1 vocabulary over 20 domains) and take their
  * order, customer and document counts from one TPC-H scale factor:
  * `full`, the benchmarked size, from sf0.01; `smoke`, which the
  * benchmark's own test runs, from sf0.001; `sf0.1` from sf0.1, whose
  * run does not fit the benchmark's time budget on a 4-core machine
  * (measured costs in perfbench/METRICS.md). */
final case class Size(name: String, baseOrders: Int, customers: Int, docs: Int, batchDocs: Int)

object Size {
  val Full = Size("full", baseOrders = 15000, customers = 1500, docs = 500, batchDocs = 75)
  val Smoke = Size("smoke", baseOrders = 1500, customers = 150, docs = 50, batchDocs = 15)
  val Sf01 = Size("sf0.1", baseOrders = 150000, customers = 15000, docs = 5000, batchDocs = 750)
  val all: Seq[Size] = Seq(Full, Smoke, Sf01)
  def apply(name: String): Size = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown size $name"))
}

/** Seeded input generator. Every value is a hash of (seed, salt, row
  * coordinates), so the same seed yields the same inputs. The JSONL
  * files are written directly, without Spark, so generating does none
  * of the session's cold Spark work; they are the only thing the
  * program under test receives. */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, salt: String, xs: Long*): Long =
    mix(xs.foldLeft(mix(seed ^ (salt.hashCode.toLong << 32)))((z, x) => mix(z + x * 0x9e3779b97f4a7c15L + 1)))
  def mod(seed: Long, salt: String, n: Long, xs: Long*): Long = java.lang.Math.floorMod(h(seed, salt, xs: _*), n)
  private def pick(seed: Long, salt: String, values: Seq[String], xs: Long*): String =
    values(mod(seed, salt, values.size.toLong, xs: _*).toInt)
  private def cents(c: Long): String = java.math.BigDecimal.valueOf(c, 2).toPlainString
  private def date(days: Long): String = java.time.LocalDate.of(1992, 1, 1).plusDays(days).toString
  private def ts(epochS: Long): String = java.time.Instant.ofEpochSecond(epochS).toString
  private def q(s: String): String = "\"" + s + "\""

  val Statuses = Seq("O", "F", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Flags = Seq("A", "N", "R")

  /** The base load's cursor values lie in day T0; delta d's in
    * (T1 + (d-1) h, T1 + d h]. */
  val T0: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  val T1: Long = T0 + 86400L

  val LineType: StructType = StructType(Seq(
    StructField("l_linenumber", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType)))
  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("updated_at", TimestampType),
    StructField("customer", StructType(Seq(
      StructField("c_name", StringType), StructField("c_nationkey", LongType),
      StructField("c_mktsegment", StringType)))),
    StructField("lines", ArrayType(LineType))))
  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType), StructField("updated_at", TimestampType)))

  /** One delivered row: a key at a version (the input that changed it)
    * with its cursor value. */
  final case class Row(key: Long, version: Long, at: Long)

  /** An order document (sf0.1 `orders` nesting its `lineitem` rows and
    * its customer's fields). Every field is a function of (seed, key,
    * version), so a re-delivered row is byte-identical. */
  def orderJson(seed: Long, customers: Int, r: Row): String = {
    val k = r.key; val v = r.version
    val cust = mod(seed, "cust", customers.toLong, k)
    val lines = (1L to mod(seed, "nlines", 7L, k, v) + 1L).map { n =>
      s"""{"l_linenumber":$n,"l_partkey":${mod(seed, "part", 20000L, k, v, n)},""" +
        s""""l_suppkey":${mod(seed, "supp", 1000L, k, v, n)},""" +
        s""""l_quantity":${mod(seed, "qty", 50L, k, v, n) + 1}.0,""" +
        s""""l_extendedprice":${cents(mod(seed, "ext", 10000000L, k, v, n))},""" +
        s""""l_discount":${cents(mod(seed, "disc", 11L, k, v, n))},""" +
        s""""l_tax":${cents(mod(seed, "tax", 9L, k, v, n))},""" +
        s""""l_returnflag":${q(pick(seed, "flag", Flags, k, v, n))},""" +
        s""""l_shipdate":${q(date(mod(seed, "ship", 2500L, k, v, n)))}}"""
    }
    s"""{"o_orderkey":$k,"o_custkey":$cust,"o_orderstatus":${q(pick(seed, "status", Statuses, k, v))},""" +
      s""""o_totalprice":${cents(mod(seed, "price", 50000000L, k, v))},""" +
      s""""o_orderdate":${q(date(mod(seed, "odate", 2400L, k)))},""" +
      s""""o_orderpriority":${q(pick(seed, "prio", Priorities, k))},"updated_at":${q(ts(r.at))},""" +
      s""""customer":{"c_name":${q(f"Customer#$cust%09d")},""" +
      s""""c_nationkey":${mod(seed, "nation", 25L, cust)},""" +
      s""""c_mktsegment":${q(pick(seed, "seg", Segments, cust))}},""" +
      s""""lines":[${lines.mkString(",")}]}"""
  }

  def customerJson(seed: Long, r: Row): String = {
    val k = r.key; val v = r.version
    s"""{"c_custkey":$k,"c_name":${q(f"Customer#$k%09d")},"c_nationkey":${mod(seed, "nation", 25L, k)},""" +
      s""""c_acctbal":${cents(mod(seed, "bal", 1100000L, k, v) - 100000L)},""" +
      s""""c_mktsegment":${q(pick(seed, "seg", Segments, k, v))},"updated_at":${q(ts(r.at))}}"""
  }

  def baseRows(seed: Long, salt: String, n: Int): Seq[Row] =
    (0L until n).map(k => Row(k, 0L, T0 + mod(seed, salt, 86400L, k)))

  /** Delta d (1-based), about 1% of the base: updates of existing keys
    * (version d, new lines), new keys, and the previous delta's rows
    * that sit exactly on its cursor maximum, re-delivered unchanged.
    * Delta d's first `boundary` update slots carry its maximum
    * T1 + d h; a key drawn twice in one delta keeps its first slot. */
  final case class DeltaShape(updates: Int, inserts: Int, boundary: Int)
  def deltaShape(baseOrders: Int): DeltaShape =
    DeltaShape(math.max(4, baseOrders / 125), math.max(1, baseOrders / 600),
      math.max(2, baseOrders / 2000))

  private def ownDelta(seed: Long, base: Int, d: Int): Seq[(Int, Row)] = {
    val s = deltaShape(base)
    val lo = T1 + (d - 1) * 3600L
    (0 until s.updates + s.inserts).map { j =>
      val key = if (j < s.updates) mod(seed, "upd", base.toLong, d, j)
        else base.toLong + (d - 1).toLong * s.inserts + (j - s.updates)
      val at = if (j < s.boundary) lo + 3600L else lo + 1L + mod(seed, "dt", 3598L, d, j)
      j -> Row(key, d.toLong, at)
    }.groupBy(_._2.key).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)
  }

  def deltaOrders(seed: Long, base: Int, d: Int): Seq[Row] = {
    val own = ownDelta(seed, base, d).map(_._2)
    val keys = own.map(_.key).toSet
    val again = if (d < 2) Nil else ownDelta(seed, base, d - 1)
      .collect { case (j, r) if j < deltaShape(base).boundary && !keys(r.key) => r }
    own ++ again
  }

  def deltaCustomers(seed: Long, customers: Int, d: Int): Seq[Row] =
    (0 until math.max(2, customers / 100)).map(j => mod(seed, "cupd", customers.toLong, d, j)).distinct
      .map(k => Row(k, d.toLong, T1 + (d - 1) * 3600L + 1L + mod(seed, "cdt", 3598L, d, k)))

  /** Lines to `files` JSONL files under `dir`, round-robin. */
  def writeLines(dir: String, lines: Seq[String], files: Int = 1): Unit =
    writeParts(dir, (0 until files).map(f => lines.indices.filter(_ % files == f).map(lines)))

  /** One JSONL file under `dir` per part, named in part order. */
  def writeParts(dir: String, parts: Seq[Seq[String]]): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    parts.zipWithIndex.foreach { case (lines, f) =>
      val w = java.nio.file.Files.newBufferedWriter(p.resolve(f"part-$f%05d.json"))
      try lines.foreach { l => w.write(l); w.write('\n') }
      finally w.close()
    }
  }

  def readOrders(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(OrderSchema).json(path)
  def readCustomers(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CustomerSchema).json(path)

  // ---- documents --------------------------------------------------------

  /** The sf0.1 `documents` vocabulary minus its line separator. */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  /** Lines shared by many documents: the corpus-level line strip removes them. */
  val Boilerplate: Seq[String] = Seq("the data the data the data", "a key a key a key",
    "fast scan fast scan", "the big join the big join")

  final case class Doc(id: Long, text: String, source: String)

  /** Documents for base ids `bases`: 1-2 content lines of 50-90 words and,
    * for three in ten, a boilerplate line. Each base document appears
    * once per replica in `replicas`, with a per-replica marker ending
    * every content line — the tools/blowup.py scheme, so replicas form
    * near-duplicate clusters (word 3-shingle Jaccard ≥ 0.92) while their
    * lines stay distinct. doc id = base * stride + replica, stride = one
    * more than the largest replica. */
  def documents(seed: Long, bases: Seq[Long], replicas: Seq[Int], salt: String): Seq[Doc] = {
    val stride = replicas.max + 1L
    for (b <- bases; r <- replicas) yield {
      def line(i: Int) = (1L to mod(seed, s"$salt-len$i", 41L, b) + 50L)
        .map(p => Vocab(mod(seed, s"$salt-w$i", Vocab.size.toLong, b, p).toInt)).mkString(" ") + s" rep$r"
      val content = if (mod(seed, s"$salt-two", 2L, b) == 1) Seq(line(0), line(1)) else Seq(line(0))
      val boiler = if (mod(seed, s"$salt-boil", 10L, b) < 3) Seq(pick(seed, s"$salt-bl", Boilerplate, b)) else Nil
      Doc(b * stride + r, (content ++ boiler).mkString("\n"), s"src${mod(seed, s"$salt-src", 20L, b)}")
    }
  }

  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("source", StringType)))
  /** A staged micro-batch row: `batch` is the file (trigger) it arrives in. */
  val StreamSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("batch", LongType)))

  /** Document text holds only vocabulary words, spaces, digits and newlines. */
  def docJson(d: Doc): String =
    s"""{"doc_id":${d.id},"text":${q(d.text.replace("\n", "\\n"))},"source":${q(d.source)}}"""
  def streamJson(d: Doc, batch: Long): String =
    s"""{"doc_id":${d.id},"text":${q(d.text.replace("\n", "\\n"))},"batch":$batch}"""

  def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocSchema).json(path)
  def readStream(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StreamSchema).json(path)
}
