package graft

import graft.functions.TextFunctions
import graft.operators.PipelineQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BYTE-PARITY pin for the fused native html_extract kernel
  * ([[graft.plans.HtmlExtract]]) against the original regex battery
  * ([[ParityWitnesses.htmlExtractRegex]]) — the shape the t31/p01/st17
  * DuckDB oracles replay char-for-char. Two layers:
  *
  *  1. adversarial unit cases aimed at every semantic subtlety the
  *     kernel re-implements (script-prefix openings, unclosed spans,
  *     sequential span-pass order, ASCII-only case folding, ASCII-only
  *     `\s`, entity decode order incl. `&amp;`-last, anchor capture
  *     backtracking, code-point lengths);
  *  2. full staged-corpus equality at sf0.001 + sf0.01 + sf0.1 — every
  *     document the oracles will ever hash.
  */
class HtmlExtractParitySpec extends AnyFunSuite with CacheHygiene {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  private def both(html: String, minChars: Int = 25): (String, String) = {
    val r = Seq(Tuple1(html)).toDF("h")
      .select(TextFunctions.htmlExtract(col("h"), minChars).as("n"),
        ParityWitnesses.htmlExtractRegex(col("h"), minChars).as("o"))
      .head()
    (r.getString(0), r.getString(1))
  }

  private def pin(html: String, minChars: Int = 25): Unit = {
    val (n, o) = both(html, minChars)
    assert(n == o, s"kernel='$n' regex='$o' for input='$html'")
  }

  val filler = "plenty of additional words so the block clears the minimum length bar."

  test("script-prefix opening (<scripture...>) starts a script span") {
    pin(s"<scripture>gone</script><p>Kept text $filler</p>")
  }

  test("unclosed script matches nothing; its text survives") {
    pin(s"<script>var x = 1; <p>Visible text $filler</p>")
    pin(s"<script <p>attr soup $filler</p>") // no '>' at all
  }

  test("sequential span passes: script strips before style sees the doc") {
    pin(s"<style><script></style></script><p>After $filler</p>")
    pin(s"<script><style></script></style><p>After $filler</p>")
  }

  test("comment strip is case-sensitive and unclosed-comment-safe") {
    pin(s"<!-- gone --><p>Kept $filler</p>")
    pin(s"<!-- no end <p>Still here $filler</p>")
    pin(s"<P CLASS='x'>Uppercase block tag $filler</P>")
  }

  test("ASCII-only case folding: Turkish dotted capital I is NOT regex-i") {
    // Character.toLowerCase('İ') == 'i', but Java regex (?i) folds
    // ASCII only — a naive regionMatches(true) kernel would diverge here
    pin(s"<scrİpt>not a script</script><p>Kept $filler</p>")
    pin(s"<SCRIPT>gone</SCRIPT><p>Kept $filler</p>")
    pin(s"<p><A HREF='/x'>UPPER ANCHOR</A> drops this nav-like block</p>")
  }

  test("entity decode: order, &amp;-last, double-escapes, adjacency") {
    pin(s"<p>&amp;gt; stays literal-gt and &lt;tag&gt; &quot;q&quot; &#39;s&#39; $filler</p>")
    pin(s"<p>&amp;amp; &amp;lt; &nbsp;&nbsp; collapse $filler</p>")
    pin(s"<p>&lt</p><p>&;&x; bare amp & here $filler</p>")
  }

  test("ASCII-only whitespace: NBSP char is text, VT/FF collapse") {
    pin(s"<p>a b realws\fhere\r\n\ttoo $filler</p>")
  }

  test("tag strip edges: unclosed '<', '>', <p/>, <pre >, <h1-6>, <h10>") {
    pin(s"<p>text with < dangling $filler</p>")
    pin(s"<p>text >> with gt $filler</p>")
    pin(s"<p/>not a boundary<p>real block $filler</p>")
    pin(s"<pre >pre block $filler</pre><h3>h3 block $filler</h3>")
    pin(s"<h10>not a boundary tag $filler</h10>")
    pin(s"<div\tclass='x'>tab-attr boundary $filler</div>")
    pin(s"<div class='unclosed $filler") // boundary tag without '>'
  }

  test("anchor capture: attr '<a', unclosed, nested restart, </A>") {
    pin(s"""<p><a href="<a>">link text</a> and $filler</p>""")
    pin(s"<p><a>unclosed anchor text $filler</p>")
    pin(s"<p><a>x</a><a>y</a> twin anchors $filler</p>")
    pin(s"<p><a >spaced</a> and <a\nhref='/z'>newline attr</A> $filler</p>")
    pin(s"<p><a>first<b>bold</b>rest</a> capture stops at '<' $filler</p>")
    pin("<nav><a href='/'>Home</a> <a href='/d'>Docs</a></nav>")
  }

  test("code-point lengths: astral chars count once (minChars + density)") {
    val astral = "😀" // one code point, two chars
    // exactly minChars=10 code points vs 9
    pin(s"<p>${astral * 10}</p>", minChars = 10)
    pin(s"<p>${astral * 9}</p>", minChars = 10)
    // link density with astral anchor text
    pin(s"<p><a>${astral * 4}</a>${astral * 8}</p>", minChars = 10)
    pin(s"<p><a>${astral * 4}</a>${astral * 9}</p>", minChars = 10)
  }

  test("link-density integer boundary: 3*lnk == len keeps, +1 drops") {
    // txt = "aaaa bbbbbbbb" (13 chars incl space), lnk 4: 12 <= 13 keep
    pin("<p><a>aaaa</a> bbbbbbbb</p>", minChars = 5)
    // txt 12 chars, lnk 4: exactly equal -> keep
    pin("<p><a>aaaa</a> bbbbbbb</p>", minChars = 5)
    // txt 11 chars, lnk 4: 12 > 11 -> drop
    pin("<p><a>aaaa</a> bbbbbb</p>", minChars = 5)
  }

  test("empty, boilerplate-only, null, and block-edge splits") {
    pin("")
    pin("<nav><a href='/'>x</a></nav>")
    pin(s"<p>leading boundary</p>$filler<p>trailing</p>")
    pin(s"$filler") // no tags at all: one block
    val r = Seq(Tuple1(null: String)).toDF("h")
      .select(TextFunctions.htmlExtract(col("h")).as("n"),
        ParityWitnesses.htmlExtractRegex(col("h")).as("o")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("full staged-corpus byte parity at sf0.001, sf0.01, sf0.1") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = Tables.documents(spark, s"/root/testdata/$sf")
        .select(col("doc_id"), PipelineQueries.stagedHtml.as("html"))
      val diff = docs.select(col("doc_id"),
          TextFunctions.htmlExtract(col("html")).as("n"),
          ParityWitnesses.htmlExtractRegex(col("html")).as("o"))
        .filter(not(col("n") <=> col("o")))
        .count()
      assert(diff == 0L, s"$sf: $diff documents diverge from the regex form")
    }
  }

  test("native kernel stays in whole-stage codegen (no UDF, no regex)") {
    val plan = Seq(Tuple1("<p>x</p>")).toDF("h")
      .select(TextFunctions.htmlExtract(col("h")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("html_extract"), plan)
    assert(!plan.contains("UDF"), plan)
    assert(!plan.contains("regexp_replace"), plan)
  }
}
