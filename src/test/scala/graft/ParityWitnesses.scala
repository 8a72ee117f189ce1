package graft

import graft.operators.QualityRules
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Executable specifications the native kernels are parity-pinned
  * against: the regex-battery HTML extraction (HtmlExtractParitySpec)
  * and the grams-exchange top-n-gram character fractions (PipelineSpec).
  * Neither runs in a query path. */
object ParityWitnesses {

  /** script/style payloads and comments: dotall + case-insensitive, lazy */
  val HtmlScriptRe = "(?is)<script[^>]*>.*?</script>"
  val HtmlStyleRe = "(?is)<style[^>]*>.*?</style>"
  val HtmlCommentRe = "(?s)<!--.*?-->"
  /** block-level boundaries (opening OR closing tags). Alternation is
    * ordered longest-prefix-first — both Java regex and RE2 are
    * leftmost-FIRST, so `pre` must precede `p` or `<pre>` would try the
    * `p` branch and only match via backtracking. */
  val HtmlBlockRe = "(?i)</?(?:blockquote|section|article|header|footer|" +
    "aside|table|form|nav|pre|div|ul|ol|li|tr|td|th|h[1-6]|p)(?:\\s[^>]*)?>"
  val HtmlTagRe = "<[^>]*>"
  /** anchor INNER text (tag-free span only, so nested markup never spans
    * a match); `(?:\s...)` after `a` so `<article>` is not an anchor */
  val HtmlAnchorRe = "(?i)<a(?:\\s[^>]*)?>([^<]*)</a>"

  /** Minimal named-entity decode (the five entities that survive into
    * block text plus nbsp). `&amp;` decodes LAST so a double-escaped
    * `&amp;gt;` yields the literal `&gt;` a browser would render. */
  def htmlEntityDecode(c: Column): Column = {
    val named = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ").foldLeft(c) {
      case (acc, (e, r)) => replace(acc, lit(e), lit(r))
    }
    replace(named, lit("&amp;"), lit("&"))
  }

  /** The regex-battery form of [[TextFunctions.htmlExtract]] — the
    * executable specification the native kernel is parity-pinned against
    * (and the shape the DuckDB oracles replay verbatim). Slower: ~6 regex
    * passes per document vs the kernel's fused walk. All regexes are
    * RE2-safe (no backrefs/lookaround). */
  def htmlExtractRegex(c: Column, minChars: Int = 25): Column = {
    val cleaned = regexp_replace(regexp_replace(regexp_replace(c,
      HtmlScriptRe, " "), HtmlStyleRe, " "), HtmlCommentRe, " ")
    val scored = transform(split(cleaned, HtmlBlockRe), b => {
      // decode BEFORE the whitespace collapse: an `&nbsp;` decodes to a
      // space that must collapse/trim like any other, not survive as
      // padding that inflates the minChars/link-density lengths
      val txt = trim(regexp_replace(htmlEntityDecode(
        regexp_replace(b, HtmlTagRe, " ")), "\\s+", " "))
      val lnk = length(array_join(
        regexp_extract_all(b, lit(HtmlAnchorRe), lit(1)), ""))
      struct(txt.as("txt"), lnk.as("lnk"))
    })
    val kept = filter(scored, s =>
      length(s.getField("txt")) >= minChars &&
        s.getField("lnk") * 3 <= length(s.getField("txt")))
    array_join(transform(kept, s => s.getField("txt")), "\n")
  }

  /** The relational (grams-exchange) form of
    * [[QualityRules.topNgramCharFractions]] — gram stream exploded and
    * counted through a (doc, n, gram)-keyed exchange on the gram
    * strings. The parity witness PipelineSpec compares the narrow native
    * form against corpus-wide, and the shape the DuckDB oracle
    * documents. */
  def topNgramCharFractionsRelational(df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n list: $ns")
    val toks = split(col(textCol), " ")
    val base = df.select(col(idCol).as("id"), toks.as("t"),
      length(col(textCol)).cast("double").as("chars"))
    val grams = ns.map { n =>
      base.select(col("id"), lit(n).as("n"),
        explode(when(size(col("t")) >= n,
          transform(sequence(lit(0), size(col("t")) - n),
            i => array_join(slice(col("t"), i + 1, lit(n)), " ")))
          .otherwise(array())).as("g"))
        .select(col("id"), col("n"), col("g").as("gk"),
          length(col("g")).as("glen"))
    }.reduce(_.unionByName(_))
    val counted = grams.groupBy(col("id"), col("n"), col("gk"))
      .agg(count(lit(1)).as("cnt"), first(col("glen")).as("glen"))
    val mass = counted.filter(col("cnt") >= 2)
      .groupBy(col("id"), col("n"))
      .agg(max(col("cnt") * col("glen")).as("mass"))
    val wide = mass.groupBy(col("id"))
      .pivot("n", ns)
      .agg(first(col("mass")))
    val out = base.select(col("id"), col("chars"))
      .join(wide, Seq("id"), "left_outer")
    val cols = ns.flatMap { n =>
      val frac = coalesce(col(s"$n"), lit(0L)).cast("double") / col("chars")
      Seq((floor(frac * 10000 + lit(0.5)) / 10000).as(s"top${n}_frac"),
        (frac <= QualityRules.topNgramThresholds.getOrElse(n, 1.0)).as(s"r_top$n"))
    }
    out.select((col("id").as(idCol) +: col("chars").cast("long").as("chars") +:
      cols): _*)
  }
}
