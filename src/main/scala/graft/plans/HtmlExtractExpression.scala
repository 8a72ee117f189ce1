package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass HTML main-content extraction — the native twin of
  * the regex battery in `ParityWitnesses.htmlExtractRegex` (test tree)
  * (script/style/comment strip → block split → per-block tag strip +
  * entity decode + whitespace collapse + link-density filter → join).
  *
  * The regex form pays three full-document `regexp_replace` passes, a
  * regex split, and per-block three more regex passes — ~6 backtracking
  * scans per document, the top interpreted-ish hot path of t31/t33/p01/
  * st17 (r16 verdict #3). This kernel walks each document a constant
  * small number of times with `indexOf`-style scans and zero regex.
  *
  * BYTE PARITY is the contract: the t31/p01/st17 oracles replay the
  * regex battery in DuckDB RE2 and hash-compare char-for-char, so this
  * kernel must reproduce the Java-regex semantics of the battery
  * EXACTLY. The non-obvious equivalences it relies on (each pinned by
  * HtmlExtractParitySpec adversarial cases plus full-corpus equality vs
  * the regex form):
  *
  *  - `(?is)<script[^>]*>.*?</script>`: the opening is `<script` + any
  *    non-'>' run + '>' (so `<scripture>` opens a script span); the
  *    closing is the literal `</script>` (ASCII-case-insensitive); an
  *    unclosed opening matches nothing — and because a later opening's
  *    close-search window is a subset of an earlier one's, "no close
  *    found" terminates the whole pass. The three span passes run
  *    SEQUENTIALLY (script over the raw string, style over its output,
  *    comments last) — `<style><script></style></script>` strips the
  *    script span first, which a simultaneous scan would get wrong.
  *  - comment `(?s)<!--.*?-->` is case-SENSITIVE, no attr tail.
  *  - block split: tag name = maximal ASCII-alnum run after `</?`,
  *    membership-checked, then `>` or one `\s` + non-'>' run + '>'.
  *    This is equivalent to the leftmost-FIRST alternation because every
  *    branch requires a non-alnum (`\s` or '>') right after the name, so
  *    at most one branch can complete at a position.
  *  - Java regex `(?i)` folds ASCII ONLY (U+212A kelvin-K does not match
  *    'k'); all case-insensitive comparisons here fold A-Z only.
  *  - Java regex `\s` is ASCII-only: exactly [ \t\n\x0B\f\r].
  *  - the five named entities + `&amp;`-last: sequential global replaces
  *    are equivalent to one left-to-right scan because no entity's
  *    replacement char occurs inside any entity pattern (no bridging)
  *    and the scan resumes AFTER each replacement (`&amp;gt;` yields the
  *    literal `&gt;` both ways). Entities are case-sensitive.
  *  - tag strip is `<[^>]*>` → ' ' (an unclosed '<' stays literal, and
  *    the replacement SPACE — not deletion — means raw-adjacency equals
  *    stripped-adjacency, so entities can be decoded on the raw chars in
  *    the same walk).
  *  - whitespace collapse + trim stream through emission (pending-space
  *    flag), which equals `regexp_replace(\s+,' ')` + `trim` because
  *    after the collapse every boundary run is a single ' '.
  *  - anchor text `(?i)<a(?:\s[^>]*)?>([^<]*)</a>`: the capture is the
  *    maximal non-'<' run, which must be followed by the literal
  *    `</a>` — otherwise the regex engine abandons the match and resumes
  *    the search ONE char after the failed opening (it can find a later
  *    `<a` inside the failed opening's attributes).
  *  - lengths (minChars, link density, capture chars) count CODE POINTS
  *    (Spark `length` = UTF8String.numChars).
  */
object HtmlExtract {

  private final val BlockNames: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("blockquote", "section", "article", "header", "footer", "aside",
      "table", "form", "nav", "pre", "div", "ul", "ol", "li", "tr", "td",
      "th", "h1", "h2", "h3", "h4", "h5", "h6", "p").foreach(s.add)
    s
  }

  /** Java-regex `\s` (ASCII-only: no unicode whitespace). */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def foldAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** s matches lowercase `pat` at `pos` with ASCII-only case folding. */
  private def matchesCI(s: String, pos: Int, pat: String): Boolean = {
    if (pos + pat.length > s.length) return false
    var i = 0
    while (i < pat.length) {
      if (foldAscii(s.charAt(pos + i)) != pat.charAt(i)) return false
      i += 1
    }
    true
  }

  private def findCI(s: String, from: Int, pat: String): Int = {
    val last = s.length - pat.length
    var i = from
    while (i <= last) {
      if (matchesCI(s, i, pat)) return i
      i += 1
    }
    -1
  }

  /** One sequential span-strip pass: every
    * `open[attrs?]...close` span → ' '. `open`/`close` lowercase; when
    * `attrTail` the opening extends over a non-'>' run to the next '>'
    * (script/style); otherwise the opening is the bare literal
    * (comment). `ci=false` compares exactly (comments). */
  private def stripSpans(s: String, open: String, close: String,
      attrTail: Boolean, ci: Boolean): String = {
    def find(str: String, from: Int, pat: String): Int =
      if (ci) findCI(str, from, pat) else str.indexOf(pat, from)
    var p = find(s, 0, open)
    if (p < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var copied = 0
    while (p >= 0) {
      var openEnd = -1
      if (attrTail) {
        val g = s.indexOf('>', p + open.length)
        if (g >= 0) openEnd = g + 1
      } else openEnd = p + open.length
      if (openEnd < 0) {
        // no '>' left anywhere: no later opening can complete either
        p = -1
      } else {
        val q = find(s, openEnd, close)
        if (q < 0) {
          // no close after this openEnd ⇒ none after any later one
          p = -1
        } else {
          sb.append(s, copied, p).append(' ')
          copied = q + close.length
          p = find(s, copied, open)
        }
      }
    }
    if (copied == 0) s
    else { sb.append(s, copied, s.length); sb.toString }
  }

  /** Match a block-boundary tag at `i` ('<' already seen); returns the
    * exclusive end of the match, or -1. */
  private def blockTagEnd(s: String, i: Int): Int = {
    val n = s.length
    var j = i + 1
    if (j < n && s.charAt(j) == '/') j += 1
    val nameStart = j
    while (j < n && {
      val c = foldAscii(s.charAt(j))
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
    }) j += 1
    if (j == nameStart || j - nameStart > 10) return -1
    val name = {
      val b = new java.lang.StringBuilder(j - nameStart)
      var k = nameStart
      while (k < j) { b.append(foldAscii(s.charAt(k))); k += 1 }
      b.toString
    }
    if (!BlockNames.contains(name)) return -1
    if (j >= n) return -1
    val c = s.charAt(j)
    if (c == '>') j + 1
    else if (isWs(c)) {
      val g = s.indexOf('>', j + 1)
      if (g < 0) -1 else g + 1
    } else -1
  }

  /** Per-block text: tag strip + entity decode + ws collapse + trim in
    * one walk; appends to `out` and returns the emitted code points. */
  private def blockText(s: String, bs: Int, be: Int,
      out: java.lang.StringBuilder): Int = {
    var cp = 0
    var pending = false
    val start = out.length()
    @inline def emit(c: Char): Unit = {
      if (isWs(c)) pending = true
      else {
        if (pending && out.length() > start) { out.append(' '); cp += 1 }
        pending = false
        out.append(c)
        if (!Character.isLowSurrogate(c)) cp += 1
      }
    }
    var i = bs
    while (i < be) {
      val c = s.charAt(i)
      if (c == '<') {
        val g = s.indexOf('>', i + 1)
        if (g >= 0 && g < be) { emit(' '); i = g + 1 }
        else { emit(c); i += 1 }
      } else if (c == '&') {
        // case-sensitive, order-free (disjoint first letters; &amp;
        // resume-after-replacement reproduces the decode-last rule)
        if (s.startsWith("&lt;", i) && i + 4 <= be) { emit('<'); i += 4 }
        else if (s.startsWith("&gt;", i) && i + 4 <= be) { emit('>'); i += 4 }
        else if (s.startsWith("&quot;", i) && i + 6 <= be) { emit('"'); i += 6 }
        else if (s.startsWith("&#39;", i) && i + 5 <= be) { emit('\''); i += 5 }
        else if (s.startsWith("&nbsp;", i) && i + 6 <= be) { emit(' '); i += 6 }
        else if (s.startsWith("&amp;", i) && i + 5 <= be) { emit('&'); i += 5 }
        else { emit(c); i += 1 }
      } else { emit(c); i += 1 }
    }
    cp
  }

  /** Per-block anchor-text code points (the link-density numerator). */
  private def blockLinkChars(s: String, bs: Int, be: Int): Int = {
    var cp = 0
    var i = bs
    while (i < be - 1) {
      // next "<a" candidate
      if (s.charAt(i) == '<' && foldAscii(s.charAt(i + 1)) == 'a') {
        val p = i
        var openEnd = -1
        if (p + 2 < be) {
          val c = s.charAt(p + 2)
          if (c == '>') openEnd = p + 3
          else if (isWs(c)) {
            val g = s.indexOf('>', p + 3)
            if (g >= 0 && g < be) openEnd = g + 1
          }
        }
        var advanced = false
        if (openEnd >= 0) {
          var h = openEnd
          while (h < be && s.charAt(h) != '<') h += 1
          if (h + 4 <= be && s.charAt(h) == '<' && s.charAt(h + 1) == '/' &&
              foldAscii(s.charAt(h + 2)) == 'a' && s.charAt(h + 3) == '>') {
            cp += s.codePointCount(openEnd, h)
            i = h + 4
            advanced = true
          }
        }
        if (!advanced) i = p + 1
      } else i += 1
    }
    cp
  }

  /** Static kernel — called from interpreted eval and codegen. */
  def extract(u: UTF8String, minChars: Int): UTF8String = {
    val raw = u.toString
    val cleaned = stripSpans(stripSpans(stripSpans(raw,
      "<script", "</script>", attrTail = true, ci = true),
      "<style", "</style>", attrTail = true, ci = true),
      "<!--", "-->", attrTail = false, ci = false)
    val n = cleaned.length
    val out = new java.lang.StringBuilder(n / 4)
    val txt = new java.lang.StringBuilder(256)
    var kept = 0
    var blockStart = 0
    var i = 0
    def closeBlock(be: Int): Unit = {
      txt.setLength(0)
      val cp = blockText(cleaned, blockStart, be, txt)
      if (cp >= minChars && 3L * blockLinkChars(cleaned, blockStart, be) <= cp) {
        if (kept > 0) out.append('\n')
        out.append(txt)
        kept += 1
      }
    }
    while (i < n) {
      if (cleaned.charAt(i) == '<') {
        val end = blockTagEnd(cleaned, i)
        if (end >= 0) { closeBlock(i); blockStart = end; i = end }
        else i += 1
      } else i += 1
    }
    closeBlock(n)
    UTF8String.fromString(out.toString)
  }
}

case class HtmlExtractExpression(child: Expression, minChars: Int)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  /** Declared NON-deterministic although the kernel is pure — the guide
    * §4.4 discipline for expensive expressions. Measured reason (r17):
    * p01's quality gate `filter(length(content)>0)` + `filter(q>=0.5)`
    * is pushed below the content projection with the extraction inlined
    * into every reference — TEN copies in one Filter condition.
    * Whole-stage-codegen FilterExec does no subexpression elimination,
    * so the compiled filter ran the kernel 10× per row (measured
    * 10.46 evals/row; the r16 regex form only escaped the same trap
    * because its mega-condition failed codegen and fell back to the
    * INTERPRETED predicate, which does do runtime CSE). With the flag,
    * filters stay above the projection, reference the materialized
    * attribute, and the kernel runs exactly once per row (measured
    * 1.0). Results are unchanged — the kernel is a pure function — the
    * flag only forbids the optimizer to reorder/duplicate it. */
  override lazy val deterministic: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType ||
        child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"html_extract requires a string, got ${child.dataType.simpleString}")

  override def nullSafeEval(v: Any): Any =
    HtmlExtract.extract(v.asInstanceOf[UTF8String], minChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (child.dataType == org.apache.spark.sql.types.NullType) {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      ev.copy(code =
        code"""
          boolean ${ev.isNull} = true;
          ${CodeGenerator.javaType(dataType)} ${ev.value} =
            ${CodeGenerator.defaultValue(dataType)};""")
    } else {
      val kernel = HtmlExtract.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $kernel.extract($c, $minChars);")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): HtmlExtractExpression =
    copy(child = newChild)
  override def prettyName: String = "html_extract"
}

object HtmlExtractExpression {

  /** ONE builder for every registration surface. */
  def build(exprs: Seq[Expression]): HtmlExtractExpression = {
    require(exprs.length == 2, "html_extract(html, minChars) takes 2 arguments")
    val child = exprs.head match {
      case c if c.resolved && c.dataType == org.apache.spark.sql.types.NullType =>
        org.apache.spark.sql.catalyst.expressions.Literal(null, StringType)
      case c => c
    }
    HtmlExtractExpression(child,
      graft.GraftExtensions.literalInt(exprs, 1, "html_extract"))
  }

  /** SQL registration: SELECT html_extract(html, 25).
    * No-op when GraftExtensions already injected the function. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("html_extract")))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "html_extract", build, "built-in")

  /** Column API (extension-injected in GraftSession sessions). */
  def htmlExtract(c: Column, minChars: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("html_extract", c, lit(minChars))
  }
}
