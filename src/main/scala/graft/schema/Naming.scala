package graft.schema

import java.security.MessageDigest
import java.util.Base64

/** snake_case naming convention applied to every table/column identifier.
  *
  * Behavior per the reference convention
  * (dlt/common/normalizers/naming/snake_case.py:14-75,
  * dlt/common/normalizers/naming/naming.py:137):
  *  - trims whitespace, translates `+ - * @ |` to `x _ x a l`
  *  - all other non-alphanumerics become `_`
  *  - CamelCase breaks become `_` and everything is lowercased
  *  - a leading digit is prefixed with `_`
  *  - trailing `_` runs are replaced with the same number of `x`
  *  - `_` runs are collapsed to a single `_` (so `__` stays reserved as
  *    the nesting path separator)
  *  - identifiers longer than `maxLength` are shortened with a stable
  *    8-char tag derived from the original identifier
  */
object Naming {
  val PathSeparator = "__"
  val EmptyKey = "_empty"

  private val ReduceFrom = "+-*@|"
  private val ReduceTo = "x_xal"
  private val SnakeBreak1 = "([^_])([A-Z][a-z]+)".r
  private val SnakeBreak2 = "([a-z0-9])([A-Z])".r

  def normalizeIdentifier(identifier: String, maxLength: Int = 127): String = {
    val trimmed = identifier.trim
    if (trimmed.isEmpty) return EmptyKey
    val translated = trimmed.map { ch =>
      val i = ReduceFrom.indexOf(ch)
      if (i >= 0) ReduceTo.charAt(i) else ch
    }
    val alnum = translated.map(ch => if (ch.isLetterOrDigit && ch < 128) ch else '_')
    var ident = SnakeBreak1.replaceAllIn(alnum, m => m.group(1) + "_" + m.group(2))
    ident = SnakeBreak2.replaceAllIn(ident,
      m => m.group(1) + "_" + m.group(2)).toLowerCase(java.util.Locale.ROOT)
    if (ident.nonEmpty && ident.head.isDigit) ident = "_" + ident
    val stripped = ident.reverse.dropWhile(_ == '_').reverse
    ident = stripped + ("x" * (ident.length - stripped.length))
    ident = ident.replaceAll("_{2,}", "_")
    shorten(ident, identifier, maxLength)
  }

  /** Join already-normalized fragments with the nesting separator. */
  def shortenFragments(fragments: Seq[String], maxLength: Int = 127): String =
    shorten(fragments.mkString(PathSeparator), fragments.mkString(PathSeparator), maxLength)

  /** Normalize a table name that may already contain `__` path separators:
    * each fragment normalizes independently so the separator survives
    * (plain normalizeIdentifier would collapse it). */
  def normalizeTableName(name: String, maxLength: Int = 127): String =
    shortenFragments(name.split(PathSeparator, -1).toSeq
      .map(normalizeIdentifier(_, maxLength)), maxLength)

  /** The shared shortening step for the pluggable conventions
    * ([[NamingConventions]]) — one tag algorithm across all of them,
    * as the reference's base class shares shorten_identifier. */
  private[schema] def shortenWithTag(ident: String, original: String,
      maxLength: Int): String = shorten(ident, original, maxLength)

  /** Deterministic shortening with a content tag, mirroring
    * naming.py:137's max-length handling. */
  private def shorten(ident: String, original: String, maxLength: Int): String =
    if (ident.length <= maxLength) ident
    else {
      val tag = tag8(original)
      val keep = maxLength - tag.length - 1
      ident.take(math.max(1, keep)) + "_" + tag
    }

  private def tag8(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    Base64.getEncoder.encodeToString(d).replaceAll("[^a-zA-Z0-9]", "").take(8).toLowerCase(java.util.Locale.ROOT)
  }
}
