package graft.schema

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pluggable identifier naming conventions — the reference ships several
  * alongside its snake_case default, selected per schema
  * (dlt/common/normalizers/naming/naming.py:13-47 — one pure string
  * function behind one class each):
  *
  *  - `snake_case` (the default — [[Naming]]): lower-cases, breaks camel
  *    case, reduced alphabet (snake_case.py:14-80);
  *  - `duck_case` (duck_case.py:7-29): case sensitive, preserves unicode;
  *    only `\n` `\r` `"` become `_`, runs of `_` collapse;
  *  - `direct` (direct.py:6-23): the minimal-change mapping — `\n` `\r`
  *    `'` `"` `▶` become `_`, everything else (case, spaces, symbols)
  *    passes through; path separator `▶`;
  *  - `sql_cs_v1` (sql_cs_v1.py:14-45): SQL-safe, case PRESERVING —
  *    non-alphanumerics to `_`, leading digit prefixed, trailing `_`
  *    stripped, runs collapsed;
  *  - `sql_ci_v1` (sql_ci_v1.py:4-13): `sql_cs_v1` lower-cased;
  *  - `s3_tables` (s3_tables.py:7-33): snake_case capped at 255 chars
  *    with leading `_` stripped from TABLE identifiers.
  *
  * Each convention also exposes `normalizeColumn` — the same function as
  * a codegen'd Column expression over identifier VALUES, for the
  * at-scale case where identifiers arrive as data (entity-attribute-value
  * feeds, schema registries ingested as rows): millions of raw field
  * names normalize inside the scan projection instead of on the driver.
  * `normalizeColumn` applies the character rules only (no max-length
  * tag-shortening — value-level callers cap lengths downstream).
  *
  * Empty identifiers map to [[Naming.EmptyKey]] in every convention
  * (this engine's `_empty` contract; the reference raises instead —
  * normalize/Flatten.scala depends on the total function). */
sealed trait NamingConvention {
  /** Registry key, matching the reference module name. */
  def name: String
  def caseSensitive: Boolean
  def pathSeparator: String = Naming.PathSeparator

  def normalizeIdentifier(identifier: String, maxLength: Int = 127): String

  /** Table names default to plain identifier normalization
    * (naming.py:43-45). */
  def normalizeTableIdentifier(identifier: String, maxLength: Int = 127): String =
    normalizeIdentifier(identifier, maxLength)

  /** Join ALREADY-normalized fragments and shorten the whole path
    * (naming.py:72-77's shorten_fragments). */
  def joinPath(fragments: Seq[String], maxLength: Int = 127): String = {
    val joined = fragments.mkString(pathSeparator)
    Naming.shortenWithTag(joined, joined, maxLength)
  }

  /** The same normalization as a Column expression (no shortening). */
  def normalizeColumn(c: Column): Column
}

object NamingConventions {

  /** The engine default — delegates to [[Naming]] (snake_case.py). */
  case object SnakeCase extends NamingConvention {
    val name = "snake_case"
    val caseSensitive = false
    def normalizeIdentifier(identifier: String, maxLength: Int): String =
      Naming.normalizeIdentifier(identifier, maxLength)
    /** Mirrors [[Naming.normalizeIdentifier]] step for step: reduce
      * alphabet, per-char non-alnum to `_`, camel breaks, lower-case,
      * leading-digit prefix, trailing `_` to `x`, collapse runs. */
    def normalizeColumn(c: Column): Column = {
      val red = translate(strip(c), "+-*@|", "x_xal")
      val al = regexp_replace(red, "[^a-zA-Z0-9_]", "_")
      val b1 = regexp_replace(al, "([^_])([A-Z][a-z]+)", "$1_$2")
      val b2 = lower(regexp_replace(b1, "([a-z0-9])([A-Z])", "$1_$2"))
      val led = when(b2.rlike("^[0-9]"), concat(lit("_"), b2)).otherwise(b2)
      val stripped = rtrim(led, "_")
      val xs = concat(stripped,
        repeat(lit("x"), (length(led) - length(stripped)).cast("int")))
      emptyGuard(c, regexp_replace(xs, "_{2,}", "_"))
    }
  }

  /** duck_case.py:14-29 — keep unicode and case; `\n` `\r` `"` → `_`,
    * collapse `_` runs (so `__` stays reserved for paths). */
  case object DuckCase extends NamingConvention {
    val name = "duck_case"
    val caseSensitive = true
    def normalizeIdentifier(identifier: String, maxLength: Int): String = {
      val t = identifier.trim
      if (t.isEmpty) return Naming.EmptyKey
      val cleaned = t.map(ch =>
        if (ch == '\n' || ch == '\r' || ch == '"') '_' else ch)
      Naming.shortenWithTag(cleaned.replaceAll("_{2,}", "_"), identifier,
        maxLength)
    }
    def normalizeColumn(c: Column): Column = emptyGuard(c,
      regexp_replace(translate(strip(c), "\n\r\"", "___"), "_{2,}", "_"))
  }

  /** direct.py:6-23 — minimal changes, `▶` path separator; `\n` `\r`
    * `'` `"` `▶` → `_`, NOTHING else touched (no collapsing either). */
  case object Direct extends NamingConvention {
    val name = "direct"
    val caseSensitive = true
    override val pathSeparator = "▶"
    def normalizeIdentifier(identifier: String, maxLength: Int): String = {
      val t = identifier.trim
      if (t.isEmpty) return Naming.EmptyKey
      val cleaned = t.map(ch =>
        if (ch == '\n' || ch == '\r' || ch == '\'' || ch == '"' ||
          ch == '▶') '_' else ch)
      Naming.shortenWithTag(cleaned, identifier, maxLength)
    }
    def normalizeColumn(c: Column): Column = emptyGuard(c,
      translate(strip(c), "\n\r'\"▶", "_____"))
  }

  /** sql_cs_v1.py:29-41 — SQL-safe, source casing preserved. */
  case object SqlCsV1 extends NamingConvention {
    val name = "sql_cs_v1"
    val caseSensitive = true
    def normalizeIdentifier(identifier: String, maxLength: Int): String = {
      val t = identifier.trim
      if (t.isEmpty) return Naming.EmptyKey
      val alnum = t.replaceAll("[^a-zA-Z0-9_]+", "_")
      val led = if (alnum.headOption.exists(_.isDigit)) "_" + alnum else alnum
      val trail = if (led == "_") led else led.replaceAll("_+$", "")
      // "__" strips to "" (reference behavior) — but this engine's
      // contract is TOTAL: empty results map to _empty like empty
      // inputs, or two all-underscore fields would collide on ""
      if (trail.isEmpty) return Naming.EmptyKey
      Naming.shortenWithTag(trail.replaceAll("_{2,}", "_"), identifier,
        maxLength)
    }
    def normalizeColumn(c: Column): Column = {
      val alnum = regexp_replace(strip(c), "[^a-zA-Z0-9_]+", "_")
      val led = when(alnum.rlike("^[0-9]"), concat(lit("_"), alnum))
        .otherwise(alnum)
      val trail = when(led === "_", led)
        .otherwise(regexp_replace(led, "_+$", ""))
      emptyGuard(c, regexp_replace(trail, "_{2,}", "_"))
    }
  }

  /** sql_ci_v1.py:4-13 — sql_cs_v1 lower-cased (case INSENSITIVE). */
  case object SqlCiV1 extends NamingConvention {
    val name = "sql_ci_v1"
    val caseSensitive = false
    def normalizeIdentifier(identifier: String, maxLength: Int): String =
      SqlCsV1.normalizeIdentifier(identifier, maxLength)
        .toLowerCase(java.util.Locale.ROOT)
    def normalizeColumn(c: Column): Column =
      lower(SqlCsV1.normalizeColumn(c))
  }

  /** s3_tables.py:7-33 — snake_case under the S3 Tables identifier
    * rules: 255-char hard cap, table names must not lead with `_`. */
  case object S3Tables extends NamingConvention {
    val name = "s3_tables"
    val caseSensitive = false
    private val Cap = 255
    def normalizeIdentifier(identifier: String, maxLength: Int): String =
      Naming.normalizeIdentifier(identifier, math.min(maxLength, Cap))
    override def normalizeTableIdentifier(identifier: String,
        maxLength: Int): String = {
      val n = normalizeIdentifier(identifier, maxLength)
      val stripped = n.dropWhile(_ == '_')
      // an empty/blank table name strips to "empty" — the reference's
      // s3_tables does the same to "_empty" (leading `_` is forbidden
      // by the S3 rules), so the collision with a table genuinely
      // named "empty" is shared, documented behavior, not an accident
      if (stripped.isEmpty) Naming.EmptyKey.stripPrefix("_") else stripped
    }
    def normalizeColumn(c: Column): Column = SnakeCase.normalizeColumn(c)
  }

  val all: Seq[NamingConvention] =
    Seq(SnakeCase, DuckCase, Direct, SqlCsV1, SqlCiV1, S3Tables)

  /** Registry lookup by reference module name (naming.py's
    * import-by-name selection semantics). */
  def byName(name: String): NamingConvention =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown naming convention '$name' " +
        s"(known: ${all.map(_.name).mkString(", ")})"))

  /** NULL/empty guard shared by the column forms: a NULL input, a blank
    * input, or a normalization that strips to nothing (sql family on
    * all-underscore identifiers) maps to the engine's `_empty`, exactly
    * like the driver-side paths' totality contract. */
  private def emptyGuard(raw: Column, normalized: Column): Column =
    when(raw.isNull || normalized === "", lit(Naming.EmptyKey))
      .otherwise(normalized)

  /** Column-side trim matching Scala `String.trim` (strips every char
    * ≤ U+0020) — Spark's `trim()` strips SPACES only, so a tab-padded
    * identifier would diverge between the driver and column forms. */
  private def strip(c: Column): Column =
    regexp_replace(c, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
}
