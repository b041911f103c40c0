package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: every public def in `src/main/scala` has a caller
  * there, or is named in [[CallerSpec.Allowed]] with the reason it may
  * stay. The scan is a word scan: comments are removed and string
  * bodies are kept, so a name inside an `s"${f(x)}"` interpolation
  * counts as a call. */
class CallerSpec extends AnyFunSuite {
  import CallerSpec._

  private lazy val sources = Sources.load("src/main/scala")

  test("every public def in the main sources has a caller or an allowlist reason") {
    val uncalled = sources.publicDefs.filter { case (name, _) =>
      sources.references(name) == 0 && !Allowed.contains(name)
    }
    assert(uncalled.isEmpty,
      "public def(s) with no caller in src/main: " +
        uncalled.map { case (n, at) => s"$n ($at)" }.mkString(", ") +
        " — delete them, or name the SURVEY row they alone implement in " +
        "COVERAGE.md and CallerSpec.Allowed")
  }

  test("every allowlist entry is a declared public def that still has no caller") {
    val declared = sources.publicDefs.map(_._1).toSet
    val stale = Allowed.keys.filter(n => !declared(n) || sources.references(n) > 0)
    assert(stale.isEmpty,
      s"allowlist entries that are gone or now have a caller: ${stale.mkString(", ")}")
  }

  test("the scan keeps interpolated calls and drops comments") {
    val src = Sources.strip(
      "val a = s\"${f(x)} // not a comment\" // g(y)\n/* h(z) /* nested */ k */ 'c'")
    assert(src.contains("f(x)") && src.contains("not a comment"))
    assert(!src.contains("g(y)") && !src.contains("h(z)") && !src.contains(" k "))
  }
}

object CallerSpec {

  /** Public defs with no caller in `src/main` that may stay: the only
    * implementation of a SURVEY row (each has a COVERAGE.md line), or an
    * entry point whose callers live outside `src/main`. */
  val Allowed: Map[String, String] = Map(
    // entry points called from perfbench
    "fromLoads" -> "perfbench incremental_merge: Relation.fromLoads",
    "shingles" -> "perfbench corpus_curate: TextOps.shingles",
    // SURVEY §1.3 dynamic schema
    "applyPreferredTypes" -> "preferred types by regex",
    "lineage" -> "previous_hashes lineage",
    // SURVEY §2.1 scans / sources
    "readAllTables" -> "sql_database: every table of a schema",
    "runIncremental" -> "filesystem + incremental, loaded through a pipeline",
    "authed" -> "rest_api auth",
    "parseTokenResponse" -> "rest_api oauth2 token response",
    "incrementalParams" -> "rest_api incremental window as query params",
    "readGraph" -> "rest_api endpoint graph",
    // SURVEY §2.2 sinks
    "pushing" -> "@dlt.destination with batch_size > 0",
    // SURVEY §2.3 per-item transforms
    "addMap" -> "MapItem / YieldMapItem",
    "addFilter" -> "FilterItem",
    "addLimit" -> "LimitItem",
    "boundedUnion" -> "LimitItem over chunked extraction",
    "addValidate" -> "ValidateItem, per-row predicate",
    "addValidateFields" -> "ValidateItem, typed per-field rules",
    "withDeadLetter" -> "ValidateItem, dead-letter mode",
    // SURVEY §2.4 normalization
    "withVariant" -> "variant columns for failed coercions",
    // SURVEY §2.6 relational query plane
    "rowCounts" -> "dataset.row_counts",
    // SURVEY §2.10 lifecycle
    "dropSources" -> "refresh drop_sources",
    "dropResources" -> "refresh drop_resources",
    "saveImportIfNotExists" -> "schema import folder seeding",
    // training-data extensions (SURVEY §7.8)
    "encodeFromWithFallback" -> "persisted tokenizer, character fallback",
    "downsample" -> "PPM downsample re-encode",
    "forward" -> "as-of join, forward direction",
    "kmvEstimate" -> "KMV distinct-cardinality estimate")

  final class Sources(texts: Seq[(String, String)]) {
    private val Decl = """(?m)^([^\n]*?)\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    private val DeclSite = """\bdef\s+[A-Za-z_][A-Za-z0-9_]*""".r
    private val Word = """[A-Za-z_][A-Za-z0-9_]*""".r

    /** (name, file:line) of every def declared without a `private`,
      * `protected`, `override` or `implicit` modifier on its line. */
    val publicDefs: Seq[(String, String)] = for {
      (file, text) <- texts
      m <- Decl.findAllMatchIn(text).toSeq
      if !"""\b(private|protected|override|implicit)\b""".r.findFirstIn(m.group(1)).isDefined
    } yield m.group(2) ->
      s"$file:${text.substring(0, m.start(2)).count(_ == '\n') + 1}"

    private val counts: Map[String, Int] =
      texts.flatMap { case (_, t) => Word.findAllIn(DeclSite.replaceAllIn(t, " ")) }
        .groupBy(identity).view.mapValues(_.size).toMap

    /** Occurrences of `name` outside the declarations of defs. */
    def references(name: String): Int = counts.getOrElse(name, 0)
  }

  object Sources {
    def load(root: String): Sources = {
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(root)
      val files = scala.util.Using.resource(java.nio.file.Files.walk(dir))(
        _.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector)
      require(files.nonEmpty, s"no sources under ${dir.toAbsolutePath}")
      new Sources(files.map(f => dir.relativize(f).toString ->
        strip(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))))
    }

    /** `src` with line and (nested) block comments and char literals
      * blanked; string literals, interpolations included, are kept.
      * Newlines survive, so line numbers do too. */
    def strip(src: String): String = {
      val out = new StringBuilder(src.length)
      var i = 0
      def at(s: String) = src.startsWith(s, i)
      def skipTo(end: Int): Unit = {
        src.substring(i, end).foreach(c => if (c == '\n') out += '\n')
        i = end
      }
      while (i < src.length) {
        if (at("//")) {
          val nl = src.indexOf('\n', i)
          i = if (nl < 0) src.length else nl
        } else if (at("/*")) {
          var depth = 0
          var j = i
          do {
            if (src.startsWith("/*", j)) { depth += 1; j += 2 }
            else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
            else j += 1
          } while (depth > 0 && j < src.length)
          skipTo(j)
        } else if (at("\"\"\"")) {
          var j = src.indexOf("\"\"\"", i + 3)
          if (j < 0) j = src.length - 3
          while (j + 3 < src.length && src.charAt(j + 3) == '"') j += 1
          out ++= src.substring(i, j + 3)
          i = j + 3
        } else if (src.charAt(i) == '"') {
          var j = i + 1
          while (j < src.length && src.charAt(j) != '"')
            j += (if (src.charAt(j) == '\\') 2 else 1)
          out ++= src.substring(i, math.min(j + 1, src.length))
          i = j + 1
        } else if (src.charAt(i) == '\'' && i + 2 < src.length &&
            (src.charAt(i + 1) == '\\' || src.charAt(i + 2) == '\'')) {
          val close = src.indexOf('\'', i + (if (src.charAt(i + 1) == '\\') 3 else 2))
          i = if (close < 0) src.length else close + 1
          out += ' '
        } else {
          out += src.charAt(i)
          i += 1
        }
      }
      out.toString
    }
  }
}
