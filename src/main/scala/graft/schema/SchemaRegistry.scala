package graft.schema

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.security.MessageDigest
import java.util.Base64

import scala.collection.immutable.ListMap

import org.apache.spark.sql.types.{DataType, StructType}

/** Table hints carried next to the Spark schema (reference TTableSchema,
  * dlt/common/schema/typing.py:372-377). */
final case class TableHints(
    parent: Option[String] = None,
    writeDisposition: String = "append",
    primaryKey: Seq[String] = Nil,
    mergeKey: Seq[String] = Nil,
    /** typed references powering reference-driven joins (typing.py:291-356) */
    references: Seq[TableReference] = Nil,
    /** pipeline-internal `x-…` hints (the reference's processing hints,
      * schema/utils.py:764 get_processing_hints — e.g. normalizer
      * max-nesting). STRIPPED from import/export-folder copies: an
      * externally edited schema must not carry one pipeline's
      * machinery into another. Ordered pairs for a deterministic
      * version hash. */
    processingHints: Seq[(String, String)] = Nil)

/** A foreign-key-ish reference: this table's `columns` point at
  * `referencedTable.referencedColumns`. */
final case class TableReference(
    columns: Seq[String],
    referencedTable: String,
    referencedColumns: Seq[String])

/** Versioned, content-hashed schema collection (reference Schema class,
  * dlt/common/schema/schema.py:78; version hash dlt/common/schema/
  * utils.py:227-249 with `previous_hashes` lineage).
  *
  * Spark owns physical schemas; this registry adds what Spark doesn't
  * track: hints, references, naming lineage, and a deterministic content
  * hash for change detection. Persisted as one JSON file per schema.
  */
final class SchemaRegistry(val name: String) {
  private var tables: ListMap[String, (StructType, TableHints)] = ListMap.empty
  private var previousHashes: List[String] = Nil
  /** Hash of the import-folder schema this registry last synced from
    * (reference `_imported_version_hash`, schema_storage.py:69-76):
    * [[SchemaStorage.load]] overwrites the stored registry only when
    * the import folder's hash moved past this. */
  private[schema] var importedHash: Option[String] = None

  def importedVersionHash: Option[String] = importedHash

  /** Replace this registry's CONTENT with another's, linking lineage
    * (reference `replace_schema_content(…, link_to_replaced_schema=
    * True)`, schema_storage.py:161): the replaced version's hash joins
    * `previous_hashes` so the overwrite is traceable. */
  private[schema] def replaceContentWith(other: SchemaRegistry): Unit =
    synchronized {
      val old = versionHash
      tables = other.snapshot
      if (!previousHashes.headOption.contains(old))
        previousHashes = old :: previousHashes
    }

  private[schema] def snapshot: ListMap[String, (StructType, TableHints)] =
    tables

  def register(table: String, schema: StructType,
               hints: TableHints = TableHints()): Unit = synchronized {
    val norm = Naming.normalizeTableName(table)
    val old = versionHash
    tables = tables.updated(norm, (schema, hints))
    if (!previousHashes.headOption.contains(old)) previousHashes = old :: previousHashes
  }

  def get(table: String): Option[(StructType, TableHints)] =
    tables.get(Naming.normalizeTableName(table))
  def hints(table: String): TableHints =
    get(table).map(_._2).getOrElse(TableHints())
  def lineage: List[String] = previousHashes

  /** Content hash over sorted table schemas — stable across registration
    * order, sensitive to any column/hint change. */
  def versionHash: String = SchemaRegistry.hashOf(tables)

  /** The version hash of the EXTERNAL (processing-hint-stripped) form —
    * what [[exportTo]] embeds, so an exported file's hash matches its
    * own content. */
  def strippedVersionHash: String =
    SchemaRegistry.hashOf(tables.map { case (t, (s, h)) =>
      t -> (s, h.copy(processingHints = Nil))
    })

  /** Merge an incoming table schema (evolution): union of columns, existing
    * types win (variant/coercion happens upstream). Returns merged schema. */
  def evolve(table: String, incoming: StructType): StructType = synchronized {
    val norm = Naming.normalizeTableName(table)
    val merged = tables.get(norm) match {
      case None => incoming
      case Some((existing, _)) =>
        val have = existing.fieldNames.toSet
        StructType(existing.fields ++ incoming.fields.filterNot(f => have(f.name)))
    }
    register(norm, merged, tables.get(norm).map(_._2).getOrElse(TableHints()))
    merged
  }

  /** Mermaid `erDiagram` export (reference dlt/helpers/mermaid.py,
    * schema/schema.py:807-931 export family). Relationships come from
    * declared references and parent links. */
  def toMermaid: String = {
    val entities = tables.map { case (t, (s, _)) =>
      val cols = s.fields.map(f => s"    ${f.dataType.simpleString} ${f.name}").mkString("\n")
      s"  $t {\n$cols\n  }"
    }.mkString("\n")
    val rels = tables.flatMap { case (t, (_, h)) =>
      h.references.map(r => s"  $t }o--|| ${r.referencedTable} : ${r.columns.mkString("+")}") ++
        h.parent.map(p => s"  $t }o--|| $p : _dlt_parent_id")
    }.mkString("\n")
    s"erDiagram\n$entities\n$rels"
  }

  /** DBML export (reference dlt/helpers/dbml.py). */
  def toDbml: String = {
    val tbls = tables.map { case (t, (s, h)) =>
      val cols = s.fields.map { f =>
        val pk = if (h.primaryKey.contains(f.name)) " [pk]" else ""
        s"  ${f.name} ${f.dataType.simpleString}$pk"
      }.mkString("\n")
      s"Table $t {\n$cols\n}"
    }.mkString("\n\n")
    val refs = tables.flatMap { case (t, (_, h)) =>
      h.references.map(r =>
        s"Ref: $t.${r.columns.mkString("")} > ${r.referencedTable}.${r.referencedColumns.mkString("")}")
    }.mkString("\n")
    if (refs.isEmpty) tbls else s"$tbls\n\n$refs"
  }

  /** Stored-schema JSON (the reference's stored schema form,
    * schema/typing.py:396-408). `stripProcessingHints` drops the
    * per-table `x-…` hints — the import/export-folder form
    * (schema_storage.py:83-88, `remove_processing_hints=True`). */
  def toJson(stripProcessingHints: Boolean): String = {
    val obj = tables.map { case (t, (s, h)) =>
      t -> Map(
        "schema" -> s.json,
        "write_disposition" -> h.writeDisposition,
        "parent" -> h.parent.getOrElse(""),
        "primary_key" -> h.primaryKey.mkString(","),
        "merge_key" -> h.mergeKey.mkString(","),
        "references" -> h.references.map(r =>
          s"${r.columns.mkString("+")}->${r.referencedTable}.${r.referencedColumns.mkString("+")}")
          .mkString(";"),
        "processing_hints" -> (if (stripProcessingHints) ""
          else h.processingHints.map { case (k, v) =>
            s"${SchemaRegistry.escHint(k)}=${SchemaRegistry.escHint(v)}"
          }.mkString(";")))
    }
    // the STRIPPED form embeds the hash of its own (stripped) content,
    // so an exported file's hash field always matches what it carries
    upickleFree(obj,
      if (stripProcessingHints) strippedVersionHash else versionHash,
      previousHashes)
  }

  def toJson: String = toJson(stripProcessingHints = false)

  def save(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, s"$name.schema.json"),
      toJson.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Write the EXTERNAL form of this schema into `dir`: processing
    * hints stripped (schema_storage.py:83-88) — the file a user edits
    * in an import folder or consumes from an export folder. */
  def exportTo(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, s"$name.schema.json"),
      toJson(stripProcessingHints = true).getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  // minimal hand-rolled JSON (no extra deps allowed)
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def upickleFree(obj: Map[String, Map[String, String]],
                          hash: String, prev: List[String]): String = {
    val tablesJson = obj.map { case (t, fields) =>
      jstr(t) + ":{" + fields.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString(",") + "}"
    }.mkString(",")
    val imported = importedHash
      .map(h => s""""imported_version_hash":${jstr(h)},""").getOrElse("")
    s"""{"name":${jstr(name)},"engine_version":${SchemaRegistry.EngineVersion},""" +
      s""""version_hash":${jstr(hash)},$imported""" +
      s""""previous_hashes":[${prev.map(jstr).mkString(",")}],"tables":{$tablesJson}}"""
  }
}

/** Persistence + engine migrations for stored registries (reference
  * dlt/common/schema/migrations.py:1-198: stored schemas carry an
  * engine_version; loading an older engine's file migrates it forward
  * step by step before use). */
object SchemaRegistry {

  /** Engine v1 = round-1 files (no engine_version field); v2 adds it;
    * v3 adds per-table `processing_hints` + top-level
    * `imported_version_hash` (both optional on read, so the migration
    * is a version stamp). */
  val EngineVersion = 3

  /** The canonical content hash. A table whose processingHints are
    * EMPTY hashes byte-identically to the pre-v3 TableHints.toString
    * form — every pre-existing schema file (which by definition
    * carries no hints) keeps its hash, so lineage and import-folder
    * change detection survive the format addition. */
  /** Percent-escape the hint-pair delimiters so any key/value —
    * including ones containing ';' or '=' — round-trips through the
    * stored form (a raw join made the file unloadable). */
  private[schema] def escHint(s: String): String =
    s.replace("%", "%25").replace(";", "%3B").replace("=", "%3D")

  private[schema] def unescHint(s: String): String =
    s.replace("%3D", "=").replace("%3B", ";").replace("%25", "%")

  private[schema] def hashOf(
      tables: scala.collection.immutable.ListMap[String, (StructType, TableHints)]): String = {
    val canonical = tables.toSeq.sortBy(_._1).map { case (t, (s, h)) =>
      val hintStr = s"TableHints(${h.parent},${h.writeDisposition}," +
        s"${h.primaryKey},${h.mergeKey},${h.references}" +
        (if (h.processingHints.isEmpty) "" else s",${h.processingHints}") + ")"
      s"$t|${s.json}|$hintStr"
    }.mkString("\n")
    val d = MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes(StandardCharsets.UTF_8))
    Base64.getEncoder.encodeToString(d).take(27)
  }

  /** Load a persisted registry, migrating older engine versions forward.
    * None when no file exists. */
  def load(dir: String, name: String): Option[SchemaRegistry] = {
    val p = Paths.get(dir, s"$name.schema.json")
    if (!Files.exists(p)) None
    else {
      val parsed = Json.parse(new String(Files.readAllBytes(p),
        StandardCharsets.UTF_8)).asInstanceOf[Map[String, Any]]
      val obj = migrate(parsed)
      val reg = new SchemaRegistry(name)
      obj.getOrElse("tables", Map.empty).asInstanceOf[Map[String, Any]]
        .foreach { case (t, v) =>
          val f = v.asInstanceOf[Map[String, Any]]
          def s(k: String): String = f.getOrElse(k, "").toString
          val schema = DataType.fromJson(s("schema")).asInstanceOf[StructType]
          // .toList everywhere: versionHash folds hints.toString, so the
          // collection representation must match in-memory construction
          val refs = s("references").split(";").filter(_.nonEmpty).toList.flatMap { r =>
            r.split("->", 2) match {
              case Array(cols, target) => target.split("\\.", 2) match {
                case Array(tt, tc) => Some(TableReference(
                  cols.split("\\+").toList, tt, tc.split("\\+").toList))
                case _ => None
              }
              case _ => None
            }
          }
          reg.register(t, schema, TableHints(
            parent = Some(s("parent")).filter(_.nonEmpty),
            writeDisposition = if (s("write_disposition").isEmpty) "append"
                               else s("write_disposition"),
            primaryKey = s("primary_key").split(",").filter(_.nonEmpty).toList,
            mergeKey = s("merge_key").split(",").filter(_.nonEmpty).toList,
            references = refs,
            processingHints = s("processing_hints").split(";")
              .filter(_.nonEmpty).toList.map { kv =>
                kv.split("=", 2) match {
                  case Array(k, v) => (unescHint(k), unescHint(v))
                  case Array(k) => (unescHint(k), "")
                }
              }))
        }
      // lineage comes from the file, not from the replayed registrations
      reg.previousHashes = obj.getOrElse("previous_hashes", Nil)
        .asInstanceOf[Seq[Any]].map(_.toString).toList
      reg.importedHash = obj.get("imported_version_hash").map(_.toString)
      Some(reg)
    }
  }

  /** Step stored-schema dicts to the current engine version (the
    * migrations.py ladder: one case per version bump, applied in order). */
  def migrate(obj: Map[String, Any]): Map[String, Any] = {
    var cur = obj
    var v = cur.get("engine_version").map(_.toString.toDouble.toInt).getOrElse(1)
    while (v < EngineVersion) {
      cur = v match {
        // v1 → v2: engine_version field introduced; payload unchanged
        case 1 => cur.updated("engine_version", 2)
        // v2 → v3: per-table processing_hints + imported_version_hash
        // introduced — both optional on read (absent → empty), and the
        // version hash of hint-less tables is unchanged by
        // construction (hashOf), so the stamp is the whole migration
        case 2 => cur.updated("engine_version", 3)
        case other => throw new IllegalStateException(
          s"no migration from stored-schema engine v$other")
      }
      v += 1
    }
    if (v > EngineVersion) throw new IllegalStateException(
      s"stored schema engine v$v is newer than this engine (v$EngineVersion)")
    cur
  }

  /** Minimal recursive-descent JSON reader for the registry's own
    * format (strings, numbers, arrays, objects) — no external deps. */
  private object Json {
    def parse(s: String): Any = new P(s).value()
    private final class P(s: String) {
      private var i = 0
      private def ws(): Unit =
        while (i < s.length && s.charAt(i).isWhitespace) i += 1
      private def expect(c: Char): Unit = {
        ws()
        require(i < s.length && s.charAt(i) == c, s"expected $c at $i")
        i += 1
      }
      def value(): Any = { ws(); s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ => num()
      }}
      private def obj(): Map[String, Any] = {
        expect('{'); ws()
        if (s.charAt(i) == '}') { i += 1; return Map.empty }
        val b = scala.collection.mutable.LinkedHashMap.empty[String, Any]
        var done = false
        while (!done) {
          ws(); val k = str(); expect(':'); b(k) = value(); ws()
          if (s.charAt(i) == ',') i += 1 else { expect('}'); done = true }
        }
        b.toMap
      }
      private def arr(): Seq[Any] = {
        expect('['); ws()
        if (s.charAt(i) == ']') { i += 1; return Nil }
        val b = Seq.newBuilder[Any]
        var done = false
        while (!done) {
          b += value(); ws()
          if (s.charAt(i) == ',') i += 1 else { expect(']'); done = true }
        }
        b.result()
      }
      private def str(): String = {
        expect('"')
        val sb = new StringBuilder
        while (s.charAt(i) != '"') {
          if (s.charAt(i) == '\\') {
            i += 1
            sb += (s.charAt(i) match {
              case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'
              case 'u' =>
                val c = Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
                i += 4; c
              case c => c
            })
          } else sb += s.charAt(i)
          i += 1
        }
        i += 1
        sb.toString
      }
      private def num(): Any = {
        val start = i
        while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
        val t = s.substring(start, i)
        if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
      }
    }
  }
}
