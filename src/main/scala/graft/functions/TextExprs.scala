package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels over a MATERIALIZED token array.
  *
  * Spark's higher-order functions (`filter`, `transform`) are
  * `CodegenFallback`: the whole subtree — including any regex split
  * feeding the lambda — re-evaluates interpreted per row, and the lambda
  * dispatches once per element. The text plane (quality scoring,
  * language-ID over 8 profiles, shingle generation) was spending
  * ~300 µs/row in those fallbacks. These expressions do the same work as
  * one virtual call per row into a tight JVM loop, and — critically —
  * they keep the surrounding operators inside WholeStageCodegen instead
  * of poisoning the stage.
  *
  * Semantics are exactly the HOF formulations they replace (verified by
  * the unchanged DuckDB oracles):
  *  - [[CountInSet]] ≡ `size(filter(toks, t => array_contains(set, t)))`
  *    (duplicates counted);
  *  - [[WordShingles]] ≡ `array_distinct(transform(...n-gram join...))`
  *    with the short-document case collapsing to one whole-text shingle,
  *    distinct in first-occurrence order like `array_distinct`.
  */
private[graft] trait TokenArrayExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.sql}")
  }
}

/** Number of elements of the token array that are members of `words`.
  * `distinct = false` counts every matching token (the stopword-ratio /
  * marker-hit form); `distinct = true` counts how many DISTINCT words of
  * the list appear at all (the Gopher stop-word-presence form).
  * Membership is a pre-built hash set probed once per token. */
case class CountInSet(child: Expression, words: Seq[String],
    distinct: Boolean = false) extends TokenArrayExpression {
  override def prettyName: String = "graft_count_in_set"
  override def dataType: DataType = IntegerType

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  def count(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (distinct) {
      val hit = new java.util.HashSet[UTF8String](words.size * 2)
      var i = 0
      while (i < n && hit.size < words.size) {
        if (!arr.isNullAt(i)) {
          val t = arr.getUTF8String(i)
          if (set.contains(t)) hit.add(t)
        }
        i += 1
      }
      hit.size
    } else {
      var c = 0
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
        i += 1
      }
      c
    }
  }

  override def nullSafeEval(a: Any): Any = count(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countInSet", this, classOf[CountInSet].getName)
    defineCodeGen(ctx, ev, arr => s"$ref.count($arr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word `n`-gram shingles of a token array (n consecutive tokens joined
  * by a single space); a document shorter than `n` tokens yields its
  * whole text as one shingle. `distinct = true` (the dedup base unit)
  * keeps first occurrences only, like `array_distinct`; `distinct =
  * false` keeps every occurrence (the counting base unit). `hashed =
  * true` emits each as Spark's `xxhash64(shingle)` (seed 42). */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true,
    hashed: Boolean = false) extends TokenArrayExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def prettyName: String = "graft_word_shingles"
  override def dataType: DataType =
    ArrayType(if (hashed) LongType else StringType, containsNull = false)

  private val space = UTF8String.fromString(" ")

  def shingle(arr: ArrayData): ArrayData = {
    val n0 = arr.numElements()
    val out: Array[Any] = if (n0 < n) {
      val all = new Array[UTF8String](n0)
      var i = 0
      while (i < n0) { all(i) = arr.getUTF8String(i); i += 1 }
      Array[Any](UTF8String.concatWs(space, all: _*))
    } else if (distinct) {
      val seen = new java.util.LinkedHashSet[UTF8String](n0 * 2)
      val win = new Array[UTF8String](n)
      var i = 0
      while (i <= n0 - n) {
        var j = 0
        while (j < n) { win(j) = arr.getUTF8String(i + j); j += 1 }
        seen.add(UTF8String.concatWs(space, win: _*))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      out
    } else {
      val out = new Array[Any](n0 - n + 1)
      val win = new Array[UTF8String](n)
      var i = 0
      while (i <= n0 - n) {
        var j = 0
        while (j < n) { win(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(space, win: _*)
        i += 1
      }
      out
    }
    new GenericArrayData(if (!hashed) out
      else out.map(s => XXH64.hashUTF8String(s.asInstanceOf[UTF8String], 42L): Any))
  }

  override def nullSafeEval(a: Any): Any = shingle(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    defineCodeGen(ctx, ev, arr =>
      s"(${classOf[ArrayData].getName}) $ref.shingle($arr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature of an `array<bigint>` of hashes: slot `p` < `perms`
  * is the min of `XXH64.hashInt(p, h)` over them (`Long.MaxValue` if
  * none). `xxhash64(s, p)` is `hashInt(p, seed = xxhash64(s))`, so over
  * hashed [[WordShingles]] slot p = `min(xxhash64(shingle, p))`. */
case class MinHashSignature(child: Expression, perms: Int) extends UnaryExpression {
  override def prettyName: String = "graft_minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> without nulls, got ${other.sql}")
  }

  def signature(arr: ArrayData): ArrayData = {
    val sig = Array.fill(perms)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var p = 0
      while (p < perms) { sig(p) = math.min(sig(p), XXH64.hashInt(p, h)); p += 1 }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(a: Any): Any = signature(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSignature", this, classOf[MinHashSignature].getName)
    defineCodeGen(ctx, ev, arr =>
      s"(${classOf[ArrayData].getName}) $ref.signature($arr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Number of elements of the token array in which `pattern` FINDS a
  * match (Java regex semantics, precompiled once). */
case class CountMatching(child: Expression, pattern: String)
    extends TokenArrayExpression {
  override def prettyName: String = "graft_count_matching"
  override def dataType: DataType = IntegerType

  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

  def count(arr: ArrayData): Int = {
    val n = arr.numElements()
    val m = compiled.matcher("")
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && m.reset(arr.getUTF8String(i).toString).find()) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(a: Any): Any = count(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countMatching", this, classOf[CountMatching].getName)
    defineCodeGen(ctx, ev, arr => s"$ref.count($arr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Weighted character-trigram evidence: Σ weight(t) over every
  * (overlapping) 3-char window `t` of the input string. The workhorse
  * of trigram language-ID — one pass over the string, one hash probe
  * per window, inside the codegen stage. Operates on UTF-16 chars
  * (≡ code points ≡ SQL `substr` characters for BMP scripts). */
case class TrigramWeightSum(child: Expression, profile: Seq[(String, Int)])
    extends UnaryExpression {
  override def prettyName: String = "graft_trigram_weight_sum"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.sql}")
  }

  // BOXED values: a Scala-primitive map would make `get`'s absent-key
  // null unbox to 0 behind the compiler's back and turn the null guard
  // into dead code (same result, accidental mechanism)
  @transient private lazy val map: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](profile.size * 2)
    profile.foreach { case (t, w) => m.put(t, java.lang.Long.valueOf(w.toLong)) }
    m
  }

  def score(s: UTF8String): Long = {
    val str = s.toString
    var total = 0L
    var i = 0
    while (i + 3 <= str.length) {
      val w = map.get(str.substring(i, i + 3))
      if (w != null) total += w.longValue
      i += 1
    }
    total
  }

  override def nullSafeEval(a: Any): Any = score(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("trigramSum", this, classOf[TrigramWeightSum].getName)
    defineCodeGen(ctx, ev, s => s"$ref.score($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode canonical composition (NFC) — the first step of corpus text
  * canonicalization (the CCNet/ftfy discipline: compose combining
  * sequences so "e"+U+0301 and the precomposed "é" hash, shingle and
  * dedup identically). JDK `java.text.Normalizer` implements UAX #15,
  * the same standard DuckDB's `nfc_normalize` (utf8proc) implements, so
  * the transform is engine-portable and oracle-checkable. The
  * quick-check fast path returns the INPUT UTF8String untouched for
  * already-NFC text (≈ all ASCII corpora), so the common case costs one
  * scan and zero allocation. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_nfc_normalize"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.sql}")
  }

  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override def nullSafeEval(a: Any): Any = normalize(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfcNorm", this, classOf[NfcNormalize].getName)
    defineCodeGen(ctx, ev, s => s"$ref.normalize($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registered domains of every URL occurrence in the text, in order of
  * appearance, duplicates kept — one pass over the string, no regex
  * machinery at runtime. A "URL" is `https?://` followed by
  * non-whitespace characters, where "whitespace" is the EXPLICIT set
  * {space, \t, \n, \r, \f, \x0B} — the Java∩RE2 portable class (≡ the
  * pattern `https?://[^ \t\n\r\f\x0B]+`; a bare `[^ ]` would swallow a
  * newline after the URL into the host and let a blocklisted domain
  * slip past); its host runs to the first `/` (or URL end) and reduces
  * to the LAST TWO dot-labels (the registered domain under generic
  * TLDs). Feeding [[CountInSet]] with a blocklist gives the
  * RefinedWeb-style URL filter as two codegen kernels. */
case class UrlDomains(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_url_domains"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.sql}")
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 11.toChar

  def domains(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = new java.util.ArrayList[UTF8String](4)
    var i = 0
    while (i >= 0 && i < str.length) {
      i = str.indexOf("http", i)
      if (i >= 0) {
        val rest = str.substring(i)
        val scheme =
          if (rest.startsWith("https://")) 8
          else if (rest.startsWith("http://")) 7
          else -1
        if (scheme < 0) i += 4
        else {
          var end = i + scheme
          while (end < str.length && !isWs(str.charAt(end))) end += 1
          if (end > i + scheme) { // non-empty remainder = a URL match
            var hostEnd = i + scheme
            while (hostEnd < end && str.charAt(hostEnd) != '/') hostEnd += 1
            val host = str.substring(i + scheme, hostEnd)
            val lastDot = host.lastIndexOf('.')
            val prevDot = if (lastDot > 0) host.lastIndexOf('.', lastDot - 1) else -1
            out.add(UTF8String.fromString(host.substring(prevDot + 1)))
          }
          i = end
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(a: Any): Any = domains(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("urlDomains", this, classOf[UrlDomains].getName)
    defineCodeGen(ctx, ev, s => s"$ref.domains($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API front door for the text kernels. */
object TextFunctions {
  def nfcNormalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  def urlDomains(text: Column): Column =
    ColumnBridge.column(UrlDomains(ColumnBridge.expression(text)))

  def countInSet(tokens: Column, words: Seq[String],
      distinct: Boolean = false): Column =
    ColumnBridge.column(CountInSet(ColumnBridge.expression(tokens), words, distinct))

  def countMatching(tokens: Column, pattern: String): Column =
    ColumnBridge.column(CountMatching(ColumnBridge.expression(tokens), pattern))

  def trigramWeightSum(text: Column, profile: Seq[(String, Int)]): Column =
    ColumnBridge.column(TrigramWeightSum(ColumnBridge.expression(text), profile))

  def wordShingles(tokens: Column, n: Int, distinct: Boolean = true,
      hashed: Boolean = false): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), n, distinct, hashed))

  def minHashSignature(hashes: Column, perms: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), perms))
}
