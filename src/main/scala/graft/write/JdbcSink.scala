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
    /** Dialect has `MERGE INTO` (upsert runs as one statement); without
      * it upsert falls back to portable UPDATE + INSERT. */
    supportsMerge: Boolean,
    /** The fold the engine applies to UNQUOTED identifiers (reference
      * capabilities.py `casefold_identifier`). Table names are folded
      * BEFORE quoting so our always-quoted statements name the same
      * table a user's unquoted SQL reaches — quoting a lowercase name
      * on an upper-folding engine (Derby/Oracle/DB2) would create a
      * table invisible to unquoted queries. */
    casefold: String => String = identity,
    /** Identifier quote character (MySQL backtick vs ANSI `"`). */
    quoteChar: Char = '"',
    /** Statement creating an EMPTY `dest` with `src`'s shape — the ANSI
      * `CREATE TABLE .. AS SELECT .. WITH NO DATA` is Derby/Postgres
      * only; MySQL/DB2 have `CREATE TABLE .. LIKE ..`, Oracle takes a
      * never-true CTAS predicate, SQL Server uses `SELECT INTO`.
      * Arguments are pre-quoted identifiers. */
    createEmptyLike: (String, String) => String =
      (dest, src) => s"CREATE TABLE $dest AS SELECT * FROM $src WITH NO DATA",
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
      case "postgresql" => JdbcCapabilities(63, supportsMerge = false)
      case "mysql" | "mariadb" =>
        JdbcCapabilities(64, supportsMerge = false, quoteChar = '`',
          createEmptyLike = (d, s) => s"CREATE TABLE $d LIKE $s")
      case "derby" =>
        JdbcCapabilities(128, supportsMerge = true, casefold = _.toUpperCase)
      case "oracle" =>
        JdbcCapabilities(128, supportsMerge = true, casefold = _.toUpperCase,
          createEmptyLike = (d, s) => s"CREATE TABLE $d AS SELECT * FROM $s WHERE 1 = 0",
          addColumnSql = (t, d) => s"ALTER TABLE $t ADD ($d)")
      case "db2" =>
        JdbcCapabilities(128, supportsMerge = true, casefold = _.toUpperCase,
          createEmptyLike = (d, s) => s"CREATE TABLE $d LIKE $s")
      case "sqlserver" =>
        JdbcCapabilities(128, supportsMerge = true,
          createEmptyLike = (d, s) => s"SELECT * INTO $d FROM $s WHERE 1 = 0",
          addColumnSql = (t, d) => s"ALTER TABLE $t ADD $d") // no COLUMN kw in T-SQL
      case _ => JdbcCapabilities(63, supportsMerge = false)
    }
  }
}

/** JDBC destination (reference dlt/destinations/impl/postgres/ and the
  * shared SQL load jobs, dlt/destinations/sql_jobs.py) — the "load into
  * an external warehouse" counterpart of the [[TableStore]] lakehouse,
  * reusing the reader-side [[JdbcTableConfig]].
  *
  * Data movement is Spark's distributed JDBC writer (one connection per
  * partition, `batchsize` inserts); merges follow the reference's
  * staging-table protocol: load staging via the distributed writer,
  * then a constant number of driver-side DML statements that run INSIDE
  * the database — the driver never holds rows, so the pattern survives
  * any staging size.
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
    * creates them); table names are casefolded first via [[tableIdent]]. */
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
  private def tableIdent(name: String, c: JdbcCapabilities): String =
    c.casefold(Naming.normalizeTableName(name, c.maxIdentifierLength))

  private def destTable(cfg: JdbcTableConfig): String =
    tableIdent(cfg.table, caps(cfg))

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

  /** Append disposition: distributed INSERTs, table created on demand;
    * an existing destination first evolves to cover new staged columns
    * (Spark's JDBC appender fails on columns the table lacks). */
  def append(df: DataFrame, cfg: JdbcTableConfig): Unit = {
    val c = caps(cfg)
    val normalized = normalizeColumns(df, c.maxIdentifierLength)
    withConnection(cfg)(conn => evolveSchema(conn, destTable(cfg), normalized, cfg))
    writer(normalized, cfg, q(destTable(cfg), c)).mode(SaveMode.Append).save()
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

  /** Merge delete-insert (reference gen_merge_sql, sql_jobs.py:633-654):
    * stage the batch with the distributed writer, then inside the
    * database delete destination rows whose key appears in staging and
    * insert the staged rows, IN ONE TRANSACTION — an autocommitted
    * DELETE followed by a failing INSERT would permanently lose the
    * deleted destination rows. Statements run in one driver-side
    * connection; rows never transit the driver. */
  def mergeDeleteInsert(df: DataFrame, cfg: JdbcTableConfig,
      keys: Seq[String], loadId: String = ""): Unit =
    stagedMerge(df, cfg, keys, loadId) { (st, dest, stg, ks, cols) =>
      deleteInsertStatements(caps(cfg), dest, stg, ks, cols)
        .foreach(st.executeUpdate)
    }

  /** The delete-insert statement pair, rendered for one dialect; `dest`
    * and `stg` arrive pre-quoted. Pure — golden-tested per dialect
    * without a live engine. */
  private[write] def deleteInsertStatements(c: JdbcCapabilities,
      dest: String, stg: String, ks: Seq[String],
      cols: Seq[String]): Seq[String] = {
    val keyMatch = ks.map(k => s"s.${q(k, c)} = $dest.${q(k, c)}").mkString(" AND ")
    val colList = cols.map(q(_, c)).mkString(", ")
    Seq(
      s"DELETE FROM $dest WHERE EXISTS " +
        s"(SELECT 1 FROM $stg s WHERE $keyMatch)",
      s"INSERT INTO $dest ($colList) SELECT $colList FROM $stg")
  }

  /** Merge upsert (reference sql_jobs.py:741-837): matched destination
    * rows update in place, unmatched staged rows insert. One `MERGE
    * INTO` where the dialect has it; otherwise the portable SQL-92
    * UPDATE-with-correlated-subquery + anti-INSERT pair. Staging is
    * assumed pre-deduped (one row per key), as in the reference. */
  def mergeUpsert(df: DataFrame, cfg: JdbcTableConfig,
      keys: Seq[String], loadId: String = ""): Unit =
    stagedMerge(df, cfg, keys, loadId) { (st, dest, stg, ks, cols) =>
      upsertStatements(caps(cfg), dest, stg, ks, cols).foreach(st.executeUpdate)
    }

  /** The upsert statement(s) for one dialect (MERGE or the portable
    * UPDATE+INSERT pair). Pure; golden-tested per dialect. */
  private[write] def upsertStatements(c: JdbcCapabilities, dest: String,
      stg: String, ks: Seq[String], cols: Seq[String]): Seq[String] = {
    val keyMatch = ks.map(k => s"s.${q(k, c)} = $dest.${q(k, c)}").mkString(" AND ")
    val nonKeys = cols.filterNot(ks.contains)
    val colList = cols.map(q(_, c)).mkString(", ")
    if (c.supportsMerge) {
      val updates =
        if (nonKeys.isEmpty) ""
        else "WHEN MATCHED THEN UPDATE SET " +
          nonKeys.map(n => s"${q(n, c)} = s.${q(n, c)}").mkString(", ") + " "
      Seq(
        s"MERGE INTO $dest USING $stg s ON ($keyMatch) " + updates +
          s"WHEN NOT MATCHED THEN INSERT ($colList) VALUES " +
          cols.map(n => s"s.${q(n, c)}").mkString("(", ", ", ")"))
    } else {
      val update =
        if (nonKeys.isEmpty) Nil
        else Seq(
          s"UPDATE $dest SET " +
            nonKeys.map(n => s"${q(n, c)} = (SELECT s.${q(n, c)} FROM $stg s " +
              s"WHERE $keyMatch)").mkString(", ") +
            s" WHERE EXISTS (SELECT 1 FROM $stg s WHERE $keyMatch)")
      update :+
        (s"INSERT INTO $dest ($colList) SELECT $colList FROM $stg s " +
          s"WHERE NOT EXISTS (SELECT 1 FROM $dest WHERE $keyMatch)")
    }
  }

  /** SCD2 merge on the external destination (reference
    * sql_jobs.py:903-1021): row identity is the same content digest the
    * lakehouse SCD2 uses ([[graft.normalize.Ids.rowHash]]), computed in
    * Spark and staged alongside the validity columns; retire + insert
    * then run as two in-database statements in one transaction —
    *  1. retire: active destination rows whose hash is absent from
    *     staging get `valid_to = boundaryTs` (with `cfg.mergeKey`, only
    *     entities present in staging can retire — partitioned SCD2);
    *  2. insert: staged rows whose hash is not currently active enter
    *     with `valid_from = boundaryTs`, open `valid_to`.
    * History rows are never touched: the UPDATE's active predicate
    * excludes them, so a load costs O(active + staged) in the database
    * exactly as the lakehouse path does in segments. */
  def scd2(df: DataFrame, jcfg: JdbcTableConfig, cfg: Scd2Config,
      loadId: String = ""): Unit = {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    val openTo = cfg.activeRecordTs
      .map(ts => to_timestamp(lit(ts)))
      .getOrElse(lit(null).cast("timestamp"))
    val staged = df
      .withColumn(cfg.rowHashColumn, graft.normalize.Ids.rowHash(
        cfg.trackedColumns.filterNot(Seq(cfg.validFromColumn, cfg.validToColumn,
          cfg.rowHashColumn).contains)))
      .withColumn(cfg.validFromColumn, to_timestamp(lit(cfg.boundaryTs)))
      .withColumn(cfg.validToColumn, openTo)
    // the digest is exactly 20 chars; pin its column type so dialects
    // that map StringType to CLOB (Derby) still allow the equality
    // compares the retire/insert statements need — CLOBs are not
    // comparable. User string merge keys can pass the same
    // `createTableColumnTypes` hint through cfg.properties.
    val hashIdent = Naming.normalizeIdentifier(cfg.rowHashColumn,
      caps(jcfg).maxIdentifierLength)
    val typeHint = s"$hashIdent VARCHAR(20)"
    val hinted = jcfg.copy(properties = jcfg.properties +
      ("createTableColumnTypes" -> jcfg.properties.get("createTableColumnTypes")
        .map(_ + ", " + typeHint).getOrElse(typeHint)))
    stagedMerge(staged, hinted, keys = Seq(cfg.rowHashColumn), loadId) {
      (st, dest, stg, ks, cols) =>
        scd2Statements(caps(jcfg), dest, stg, cols, cfg).foreach(st.executeUpdate)
    }
  }

  /** The SCD2 retire + insert statement pair for one dialect. Pure;
    * golden-tested per dialect. */
  private[write] def scd2Statements(c: JdbcCapabilities, dest: String,
      stg: String, cols: Seq[String], cfg: Scd2Config): Seq[String] = {
    val cap = c.maxIdentifierLength
    def n(ident: String) = Naming.normalizeIdentifier(ident, cap)
    val (hash, vto) = (q(n(cfg.rowHashColumn), c), q(n(cfg.validToColumn), c))
    // JDBC timestamp escape — the DRIVER translates it per dialect
    // (Derby rejects the ANSI TIMESTAMP '...' literal form)
    def tsLiteral(s: String) = "{ts '" + s.replace("'", "''") + "'}"
    val active = cfg.activeRecordTs match {
      case None => s"$dest.$vto IS NULL"
      case Some(ts) => s"$dest.$vto = ${tsLiteral(ts)}"
    }
    // ONE exists over the full key TUPLE — independent per-column
    // EXISTS would let two different staging rows each satisfy one
    // column and wrongly retire an entity absent from the batch
    val keyScope =
      if (cfg.mergeKey.isEmpty) ""
      else " AND EXISTS (SELECT 1 FROM " + stg + " s WHERE " +
        cfg.mergeKey.map(n).map(k =>
          s"s.${q(k, c)} = $dest.${q(k, c)}").mkString(" AND ") + ")"
    // both hash subqueries are PER-ENTITY scoped (s.key = dest.key):
    // mergeKey need not be a subset of trackedColumns, so two
    // entities can share a row hash — an unscoped retire would let
    // entity A's identical hash keep entity B's stale row active,
    // and an unscoped insert would suppress B's new row. Same
    // scoping as the lakehouse path, whose Scd2.applySplit window is
    // partitioned by the same (row hash, merge key) tuple.
    val entityScope = cfg.mergeKey.map(n).map(k =>
      s" AND $dest.${q(k, c)} = s.${q(k, c)}").mkString
    val colList = cols.map(q(_, c)).mkString(", ")
    Seq(
      s"UPDATE $dest SET $vto = ${tsLiteral(cfg.boundaryTs)} " +
        s"WHERE $active$keyScope " +
        s"AND NOT EXISTS (SELECT 1 FROM $stg s WHERE s.$hash = $dest.$hash" +
        s"$entityScope)",
      s"INSERT INTO $dest ($colList) SELECT $colList FROM $stg s " +
        s"WHERE NOT EXISTS (SELECT 1 FROM $dest WHERE $active " +
        s"AND $dest.$hash = s.$hash$entityScope)")
  }

  /** Merge insert-only (reference sql_jobs.py:762-773): only staged keys
    * ABSENT from the destination insert; existing rows never change. */
  def mergeInsertOnly(df: DataFrame, cfg: JdbcTableConfig,
      keys: Seq[String], loadId: String = ""): Unit =
    stagedMerge(df, cfg, keys, loadId) { (st, dest, stg, ks, cols) =>
      insertOnlyStatements(caps(cfg), dest, stg, ks, cols)
        .foreach(st.executeUpdate)
    }

  /** The insert-only statement for one dialect. Pure; golden-tested. */
  private[write] def insertOnlyStatements(c: JdbcCapabilities, dest: String,
      stg: String, ks: Seq[String], cols: Seq[String]): Seq[String] = {
    val keyMatch = ks.map(k => s"s.${q(k, c)} = $dest.${q(k, c)}").mkString(" AND ")
    val colList = cols.map(q(_, c)).mkString(", ")
    Seq(
      s"INSERT INTO $dest ($colList) SELECT $colList FROM $stg s " +
        s"WHERE NOT EXISTS (SELECT 1 FROM $dest WHERE $keyMatch)")
  }

  /** Shared staging protocol for the merge family. Stages the batch
    * under a LOAD-SCOPED name (`<table>__staging_<loadId>` — two
    * concurrent merges into one destination must not clobber each
    * other's staging rows), creates the destination on first load, runs
    * `dml` in one transaction, and drops the staging table in a finally
    * (best-effort — a failed merge must not leak staging tables).
    * `dml` receives (statement, quotedDest, quotedStaging,
    * normalizedKeys, normalizedCols). */
  private def stagedMerge(df: DataFrame, cfg: JdbcTableConfig,
      keys: Seq[String], loadId: String)(
      dml: (java.sql.Statement, String, String, Seq[String], Seq[String]) => Unit): Unit = {
    require(keys.nonEmpty, "merge needs key columns")
    val c = caps(cfg)
    val cap = c.maxIdentifierLength
    val dest = destTable(cfg)
    val suffix = if (loadId.nonEmpty) loadId else
      java.util.UUID.randomUUID().toString.take(8)
    // normalizeTableName caps the COMBINED name, so a near-cap dest name
    // shortens rather than producing an over-long staging identifier
    val staging = tableIdent(s"${cfg.table}__staging_$suffix", c)
    val normalized = normalizeColumns(df, cap)
    val ks = keys.map(Naming.normalizeIdentifier(_, cap))
    require(ks.forall(normalized.columns.contains),
      s"merge keys ${ks.mkString(",")} missing from ${normalized.columns.mkString(",")}")
    writer(normalized, cfg, q(staging, c)).mode(SaveMode.Overwrite).save()
    withConnection(cfg) { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        // destination may not exist on first load: create it empty from
        // the staging shape (dialect-specific statement), then the
        // merge matches nothing; an existing destination evolves to
        // cover any new staged columns first
        if (!tableExists(conn, dest))
          st.executeUpdate(c.createEmptyLike(q(dest, c), q(staging, c)))
        else evolveSchema(conn, dest, normalized, cfg)
        dml(st, q(dest, c), q(staging, c), ks, normalized.columns.toSeq)
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: Throwable => () }
          throw e
      } finally {
        try {
          st.executeUpdate(s"DROP TABLE ${q(staging, c)}")
          conn.commit()
        } catch { case _: Throwable => () }
        st.close()
      }
    }
  }

  /** Does `table` exist in the CONNECTION'S current catalog/schema?
    * An unscoped metadata scan would match a same-named table in any
    * other schema and wrongly skip destination creation. */
  private def tableExists(conn: java.sql.Connection, table: String): Boolean = {
    val (cat, sch) =
      (scala.util.Try(conn.getCatalog).getOrElse(null),
        scala.util.Try(conn.getSchema).getOrElse(null))
    val rs = conn.getMetaData.getTables(cat, sch, null, Array("TABLE"))
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally rs.close()
  }
}
