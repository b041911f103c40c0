package graft.write

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.schema.Naming
import graft.sources.JdbcTableConfig

/** Destination capability caps for an external SQL database (reference
  * dlt/common/destination/capabilities.py:142-214 — every destination
  * publishes its identifier limits and SQL dialect features, and the
  * load plane shapes identifiers/statements to fit). Inferred from the
  * JDBC URL by [[JdbcCapabilities.forUrl]]; override for exotic setups. */
final case class JdbcCapabilities(
    /** Hard cap on table/column identifier length — a 70-char normalized
      * name the lakehouse accepts would fail on a 63-byte Postgres. */
    maxIdentifierLength: Int,
    /** The fold the engine applies to UNQUOTED identifiers (reference
      * capabilities.py `casefold_identifier`). Table names are folded
      * BEFORE quoting so our always-quoted statements name the same
      * table a user's unquoted SQL reaches — quoting a lowercase name
      * on an upper-folding engine (Derby/Oracle/DB2) would create a
      * table invisible to unquoted queries. */
    casefold: String => String = identity,
    /** Identifier quote character (MySQL backtick vs ANSI `"`). */
    quoteChar: Char = '"',
    /** ALTER adding one column — Oracle wants the parenthesized form.
      * Arguments: pre-quoted table, column definition (`"c" BIGINT`). */
    addColumnSql: (String, String) => String =
      (table, colDef) => s"ALTER TABLE $table ADD COLUMN $colDef")

object JdbcCapabilities {
  /** Per-engine defaults keyed on the JDBC URL scheme (the same limits
    * the reference hardcodes per destination: postgres 63, mysql 64,
    * mssql/oracle/derby 128). Unknown engines get the most conservative
    * common cap. */
  def forUrl(url: String): JdbcCapabilities = {
    val scheme = url.stripPrefix("jdbc:").takeWhile(_ != ':').toLowerCase
    scheme match {
      case "postgresql" => JdbcCapabilities(63)
      case "mysql" | "mariadb" => JdbcCapabilities(64, quoteChar = '`')
      case "derby" | "db2" => JdbcCapabilities(128, casefold = _.toUpperCase)
      case "oracle" =>
        JdbcCapabilities(128, casefold = _.toUpperCase,
          addColumnSql = (t, d) => s"ALTER TABLE $t ADD ($d)")
      case "sqlserver" =>
        JdbcCapabilities(128,
          addColumnSql = (t, d) => s"ALTER TABLE $t ADD $d") // no COLUMN kw in T-SQL
      case _ => JdbcCapabilities(63)
    }
  }
}

/** JDBC destination (reference dlt/destinations/impl/postgres/) — the
  * "load into an external warehouse" counterpart of the [[TableStore]]
  * lakehouse, reusing the reader-side [[JdbcTableConfig]]. It writes the
  * replace disposition only: merge, upsert, insert-only and SCD2 run in
  * the store's [[Dispositions]], where Spark is the destination engine.
  *
  * Data movement is Spark's distributed JDBC writer (one connection per
  * partition, `batchsize` inserts).
  *
  * Every table/column identifier is routed through the snake_case
  * naming convention with the destination's max identifier length
  * ([[JdbcCapabilities]]) and consistently QUOTED in both the Spark
  * writer (`dbtable`) and the driver-side DDL/DML — so mixed-case or
  * reserved-word names can't diverge between the two paths, and names
  * the lakehouse accepts shorten deterministically to fit the database. */
object JdbcSink {

  /** Quoted identifier in the destination's quote style. Columns keep
    * their exact DataFrame case (matching how Spark's JDBC writer
    * creates them); table names are casefolded first via [[destTable]]. */
  private def q(ident: String, c: JdbcCapabilities): String = {
    val ch = c.quoteChar.toString
    ch + ident.replace(ch, ch + ch) + ch
  }

  /** Rows per INSERT batch. Deliberately NOT cfg.fetchSize — that is a
    * read-side cursor hint; coupling them would let a read-memory tune
    * silently degrade write throughput. Override via the standard
    * `batchsize` entry in cfg.properties. */
  private val DefaultWriteBatch = 10000

  private def caps(cfg: JdbcTableConfig): JdbcCapabilities =
    JdbcCapabilities.forUrl(cfg.url)

  /** Destination-normalized table name: snake_case + the destination's
    * length cap (reference naming.py:137 shortening) + the engine's
    * unquoted-identifier fold, so the quoted name our statements use is
    * the one a user's unquoted SQL resolves to. */
  private def destTable(cfg: JdbcTableConfig): String = {
    val c = caps(cfg)
    c.casefold(Naming.normalizeTableName(cfg.table, c.maxIdentifierLength))
  }

  /** Normalize the frame's column names to the destination convention
    * and cap. Collisions after shortening raise (two distinct columns
    * must not silently merge). */
  private def normalizeColumns(df: DataFrame, cap: Int): DataFrame = {
    val renamed = df.columns.map(c => Naming.normalizeIdentifier(c, cap))
    require(renamed.distinct.length == renamed.length,
      s"column names collide after normalization to $cap chars: " +
        renamed.diff(renamed.distinct).mkString(", "))
    df.toDF(renamed.toIndexedSeq: _*)
  }

  private def writer(df: DataFrame, cfg: JdbcTableConfig, quotedTable: String) = {
    var w = df.write.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", quotedTable)
      .option("batchsize", DefaultWriteBatch.toString)
    cfg.properties.foreach { case (k, v) => w = w.option(k, v) }
    w
  }

  private def withConnection[A](cfg: JdbcTableConfig)(
      body: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(cfg.url,
      cfg.properties.foldLeft(new java.util.Properties) { case (p, (k, v)) =>
        p.setProperty(k, v); p
      })
    try body(conn) finally conn.close()
  }

  /** Destination schema evolution (reference DDL sync before each load
    * — dlt migrates destination tables to the schema's new columns):
    * ALTER the table to add any staged column it lacks, typed through
    * Spark's JDBC dialect mapping, nullable. WIDEN-ONLY, as in the
    * reference: never drops or retypes; destination-only columns read
    * NULL on newly loaded rows. */
  private def evolveSchema(conn: java.sql.Connection, table: String,
      df: DataFrame, cfg: JdbcTableConfig): Unit = {
    val c = caps(cfg)
    val (cat, sch) =
      (scala.util.Try(conn.getCatalog).getOrElse(null),
        scala.util.Try(conn.getSchema).getOrElse(null))
    val md = conn.getMetaData
    // getColumns treats the table name as a LIKE pattern — every '_' in
    // a snake_case name is a single-char wildcard that would pull in a
    // sibling table's columns and suppress a required ALTER; escape it
    val esc = scala.util.Try(md.getSearchStringEscape).getOrElse("\\")
    val pattern = table.replace(esc, esc + esc)
      .replace("_", esc + "_").replace("%", esc + "%")
    val rs = md.getColumns(cat, sch, pattern, null)
    val existing = scala.collection.mutable.Set.empty[String]
    try while (rs.next()) existing += rs.getString("COLUMN_NAME").toLowerCase
    finally rs.close()
    if (existing.isEmpty) return // table absent: creation handles shape
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(cfg.url)
    df.schema.fields.filterNot(f => existing(f.name.toLowerCase)).foreach { f =>
      val tpe = dialect.getJDBCType(f.dataType)
        .orElse(org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
          .getCommonJDBCType(f.dataType))
        .getOrElse(throw new IllegalArgumentException(
          s"no JDBC type mapping for column ${f.name}: ${f.dataType}"))
        .databaseTypeDefinition
      val st = conn.createStatement()
      try st.executeUpdate(c.addColumnSql(q(table, c), s"${q(f.name, c)} $tpe"))
      finally st.close()
    }
  }

  /** Replace disposition (truncate-and-insert when the database supports
    * TRUNCATE, drop-and-recreate otherwise — Spark's overwrite modes).
    * Truncate keeps the old table shape, so it evolves first — a new
    * staged column would otherwise fail the INSERT after the rows are
    * already gone. */
  def replace(df: DataFrame, cfg: JdbcTableConfig,
      truncate: Boolean = false): Unit = {
    val c = caps(cfg)
    val normalized = normalizeColumns(df, c.maxIdentifierLength)
    if (truncate)
      withConnection(cfg)(conn => evolveSchema(conn, destTable(cfg), normalized, cfg))
    writer(normalized, cfg, q(destTable(cfg), c))
      .mode(SaveMode.Overwrite).option("truncate", truncate.toString).save()
  }
}
