package graft.functions

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** The markup-extraction contract (x69): the compiled kernel must
  * equal a DRIVER-SIDE java-regex implementation of the documented
  * replace chain — the chain IS the spec, the kernel is the fast
  * hand-scanned form of it — on adversarial inputs (unclosed blocks,
  * nested opens, case games, double-encoded entities, code-point
  * lengths) and on the fixture's wrapped documents end-to-end. */
class HtmlExtractSpec extends SparkTestBase {
  import spark.implicits._

  /** The contract, written the obvious way (java.util.regex — `(?i)`
    * without UNICODE_CASE is ASCII-only folding, like the kernel). */
  private def reference(html: String): String = {
    val a = java.util.regex.Pattern
      .compile("(?is)<script[^>]*>.*?</script>").matcher(html).replaceAll("")
    val b = java.util.regex.Pattern
      .compile("(?is)<style[^>]*>.*?</style>").matcher(a).replaceAll("")
    val c = java.util.regex.Pattern
      .compile("<[^>]*>").matcher(b).replaceAll("\n")
    val d = decodeNumericRefs(c).replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&nbsp;", " ").replace("&amp;", "&")
    d.split("\n", -1)
      .map(_.replaceAll("[ \t\r\f]+", " ")
        .stripPrefix(" ").stripSuffix(" "))
      .filter(l => l.codePointCount(0, l.length) >= HtmlKernels.MinLineChars)
      .mkString("\n")
  }

  /** The numeric-reference contract as the global regex replace the
    * kernel's hand scan must equal: every `&#(?:dec|[xX]hex);` match
    * becomes its code point when valid (1..0x10FFFF, no surrogates),
    * and stays verbatim otherwise. BigInteger so a thousand-digit run
    * still compares against the range instead of overflowing. */
  private def decodeNumericRefs(s: String): String = {
    val m = java.util.regex.Pattern
      .compile("&#(?:([0-9]+)|[xX]([0-9a-fA-F]+));").matcher(s)
    val sb = new StringBuffer
    while (m.find()) {
      val v =
        if (m.group(1) != null) BigInt(m.group(1))
        else BigInt(m.group(2), 16)
      val rep =
        if (v >= 1 && v <= 0x10FFFF &&
            !(v >= 0xD800 && v <= 0xDFFF))
          new String(Character.toChars(v.toInt))
        else m.group(0)
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  private val longLine = "this body sentence is comfortably longer " +
    "than the thirty character boilerplate threshold"

  test("kernel equals the regex-chain reference on adversarial inputs") {
    val cases = Seq(
      "",
      "plain text with no markup at all, long enough to survive the cut",
      s"<p>$longLine</p>",
      // unclosed script: the regex does NOT swallow to EOF — content
      // survives with its tags stripped individually
      s"<script>leaked $longLine",
      s"<script>x</script >$longLine",           // ">"-suffixed close is no close
      s"<SCRIPT a=b>drop me entirely</ScRiPt><p>$longLine</p>",
      s"<scriptish>$longLine</scriptish>",       // regex treats <scriptish as an open
      s"<script>a<script>b</script>$longLine</script>", // nested: first close wins
      s"<script </script>$longLine</script>",    // '>' of the close ends the open tag
      s"<style>p { $longLine }</style>after the style block $longLine",
      s"$longLine &amp;lt; stays one-level decoded",
      s"$longLine &amp;amp; decodes one level only",
      s"a\tb\rc\fd  multiple   runs\t\tcollapse $longLine",
      "x < 3 and y > 4 unclosed angle survives because no gt follows <",
      s"<div>${"😀" * 20} emoji count as one code point each</div>",
      s"<p>first $longLine</p><p>second $longLine</p>",
      "&nbsp;&nbsp;&nbsp;only entities and whitespace&nbsp;&nbsp;",
      s"<p>$longLine<", // trailing lone '<'
      s"<!-- a > b --> comment splits at first gt $longLine",
      // numeric character references (r16 widening)
      s"$longLine &#84;&#101;&#115;&#116; decimal refs decode",
      s"$longLine &#x54;&#X65;&#x73;&#X74; hex refs decode either case",
      s"$longLine em&#8212;dash and astral &#128512; both decode",
      s"$longLine &amp;#65; double-encoded numeric decodes ONE level",
      s"$longLine invalid forms &#; &#x; &#xG1; stay literal",
      s"$longLine overflow &#1114112; &#x110000; stays literal",
      s"$longLine huge digit runs &#${"9" * 40}; &#x${"f" * 40}; stay",
      s"$longLine surrogates &#55296; &#xD800; &#xdfff; stay literal",
      s"$longLine NUL &#0; &#x0; &#000; stays literal",
      s"$longLine leading zeros &#00065; &#x00041; still decode",
      s"$longLine unterminated &#12 and &#x1F tails stay literal",
      s"$longLine chained &#38;lt; decodes to & then the named pass",
      s"$longLine back-to-back &#65;&#66;&#67; and mixed &#65;&#x42;",
      s"$longLine &#&#65; a failed candidate does not eat the next")
    cases.foreach { in =>
      val got = HtmlKernels.extractString(in)
      val want = reference(in)
      assert(got == want,
        s"kernel diverged from the regex contract\n in:   $in\n got:  " +
          s"$got\n want: $want")
    }
  }

  test("fixture domain: kernel equals the reference on every wrapped " +
    "document, boilerplate dropped, body and entity paragraph kept") {
    val rows = Tables.documents(spark, sf0001)
      .select(col("doc_id"), expr(graft.queries.TextQueries.HtmlWrapFrag)
        .as("html"))
      .withColumn("extracted", expr("graft_html_extract(html)"))
      .select($"html", $"extracted").as[(String, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (html, got) =>
      assert(got == reference(html), s"fixture divergence on: $html")
      assert(!got.contains("Home | About"), "nav boilerplate survived")
      assert(!got.contains("Example Corp"), "footer boilerplate survived")
      assert(!got.contains("var x = 1"), "script content survived")
      assert(!got.contains("color: red"), "style content survived")
      assert(got.contains("Tom & Jerry <3 the \"daily menu\" > " +
        "yesterdays special at the cafe"), "entity paragraph lost")
    }
  }

  test("boilerplate threshold is a code-point rule at the exact boundary") {
    val at = "x" * HtmlKernels.MinLineChars
    val under = "x" * (HtmlKernels.MinLineChars - 1)
    assert(HtmlKernels.extractString(s"<p>$at</p>") == at)
    assert(HtmlKernels.extractString(s"<p>$under</p>") == "")
    // 30 emoji are 60 UTF-16 units but exactly MinLineChars code points
    val emoji = "😀" * HtmlKernels.MinLineChars
    assert(HtmlKernels.extractString(s"<p>$emoji</p>") == emoji)
  }

  /** The link-harvest contract, written the obvious way: the widened
    * three-form value (double-quoted / single-quoted / HTML5
    * unquoted), whitespace allowed around `=` — WS is the explicit
    * 5-char class (java `\s` would add \x0B, which RE2's `\s` — the
    * oracle side — does not have). */
  private def referenceLinks(html: String): Seq[String] = {
    val m = java.util.regex.Pattern
      .compile("(?i)href[ \t\n\r\f]*=[ \t\n\r\f]*" +
        "(?:\"([^\"]*)\"|'([^']*)'|([^ \t\n\r\f\"'=<>`]+))")
      .matcher(html)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) {
      out += (if (m.group(1) != null) m.group(1)
        else if (m.group(2) != null) m.group(2)
        else m.group(3))
    }
    out.toSeq
  }

  test("link kernel equals the regex reference, order and all") {
    val cases = Seq(
      "",
      "no links at all here",
      "<a href=\"/doc/1\">one</a>",
      "<a HREF=\"/doc/2\" class=\"x\">case games</a>",
      "<a href=\"/doc/3\">a</a><a href=\"/doc/3\">duplicate</a>",
      "<a href=\"https://x.example/页面\">unicode path</a>",
      "href=\"bare attribute outside any tag\"",
      "<a href=\"unclosed quote never matches",
      "<a href=\"\">empty value</a>",
      "text href=\"a\" then href=\"b\" order preserved",
      "hReF=\"mixed\" and HREF=\"upper\"",
      // widened forms (r16)
      "<a href='/doc/4'>single quoted</a>",
      "<a href=''>empty single quoted</a>",
      "<a href='unclosed single never matches",
      "<a href=/doc/5>unquoted</a>",
      "<a href = /doc/6 >spaces around equals</a>",
      "<a href\t=\n\"/doc/7\">tab and newline whitespace</a>",
      "<a href=>no value at all is no match</a>",
      "<a href= >whitespace then gt is no match</a>",
      "<a href='it\"s'>double quote inside single</a>",
      "<a href=\"it's\">single quote inside double</a>",
      "<a href=a=b>unquoted stops at equals</a>",
      "<a href=/x`y>unquoted stops at backtick</a>",
      "href=href=x chained unquoted harvests the literal href",
      "<a href = '/mix'>then<a href=bare then<a href=\"dq\">all three</a>",
      "<a href='a'href=\"b\"href=c>back to back, no separators</a>",
      "HREF  =  'upper spaced'")
    cases.foreach { in =>
      val got = kernelLinks(in)
      val want = referenceLinks(in)
      assert(got == want, s"links diverged on: $in\n got $got\n want $want")
    }
  }

  private def kernelLinks(in: String): Seq[String] = {
    val arr = HtmlKernels.linkHrefs(
      org.apache.spark.unsafe.types.UTF8String.fromString(in))
    (0 until arr.numElements()).map(i =>
      arr.getUTF8String(i).toString)
  }

  test("x70 fixture domain: every edge lands on a real document, the " +
    "duplicate edge carries multiplicity 2, the external link is " +
    "dropped") {
    val docs = Tables.documents(spark, sf0001)
    val nDocs = docs.count()
    val edges = graft.queries.TextQueries.defs("x70_link_graph")
      .fn(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    assert(edges.nonEmpty)
    edges.foreach { case (s0, d, _) =>
      assert(d >= 0 && d < nDocs, s"edge ($s0,$d) points off-corpus") }
    // doc_id % 6 == 0 docs emit the same target twice (the %3 branch
    // duplicates the first link) — multiplicity must be 2 there
    val dup = edges.filter { case (s0, d, _) =>
      s0 % 6 == 0 && d == (s0 * 7 + 1) % nDocs }
    assert(dup.nonEmpty && dup.forall(_._3 == 2L),
      s"duplicated edges lost multiplicity: ${dup.take(3).toSeq}")
  }

  /** The anchor-pair contract, written the obvious way: the DOTALL
    * anchor regex, the FIRST three-form href inside the attr region,
    * the x69 entity discipline on the tag-stripped body. */
  private def referenceAnchors(html: String): Seq[(String, String)] = {
    val tag = java.util.regex.Pattern
      .compile("(?is)<a[ \t\n\r\f]([^>]*)>(.*?)</a>").matcher(html)
    val href = java.util.regex.Pattern
      .compile("(?i)href[ \t\n\r\f]*=[ \t\n\r\f]*" +
        "(?:\"([^\"]*)\"|'([^']*)'|([^ \t\n\r\f\"'=<>`]+))")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (tag.find()) {
      val m = href.matcher(tag.group(1))
      if (m.find()) {
        val v = if (m.group(1) != null) m.group(1)
          else if (m.group(2) != null) m.group(2) else m.group(3)
        val cleaned = decodeNumericRefs(
          tag.group(2).replaceAll("<[^>]*>", " "))
          .replace("&lt;", "<").replace("&gt;", ">")
          .replace("&quot;", "\"").replace("&apos;", "'")
          .replace("&nbsp;", " ").replace("&amp;", "&")
          .replaceAll("[ \t\n\r\f]+", " ")
          .stripPrefix(" ").stripSuffix(" ")
        out += ((v, cleaned))
      }
    }
    out.toSeq
  }

  private def kernelAnchors(in: String): Seq[(String, String)] = {
    val arr = HtmlKernels.anchorLinks(
      org.apache.spark.unsafe.types.UTF8String.fromString(in))
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
    }
  }

  test("anchor kernel equals the regex reference: pairing, entity " +
    "discipline, consumed regions") {
    val cases = Seq(
      "",
      "no anchors at all in this text",
      "<a href=\"/doc/1\">plain anchor</a>",
      "<a href='/doc/2'>single quoted href</a>",
      "<a href=/doc/3>unquoted href</a>",
      "<A HREF=\"/doc/4\">case games</A>",
      "<a name=\"bk\">bookmark with no href emits nothing</a>",
      "<a href=\"/x\">nested <b>bold</b> and <i>italic</i> text</a>",
      "<a href=\"/x\">Tom &amp; Jerry &#38; co&#8212;dash</a>",
      "<a href=\"/x\">  runs \t of\n whitespace  collapse  </a>",
      "<a href=\"/x\">unclosed anchor never matches",
      "<a href=\"/x\" unclosed tag never matches </a>text",
      "<abbr title=\"x\">not an anchor</abbr><a href=\"/y\">real</a>",
      "<a href=\"/a\">first</a> then <a href=\"/b\">second</a>",
      "<a href=\"/x\"><a href=\"/inner\">nested open consumed</a></a>",
      "<a\thref=\"/t\">tab separated</a>",
      "<a class=\"c\" href=\"/late\" id=\"i\">href not first attr</a>",
      "<a href=\"\">empty href still pairs</a>",
      "<a href=\"/x\">body crossing\nnewlines\nstays one match</a>")
    cases.foreach { in =>
      val got = kernelAnchors(in)
      val want = referenceAnchors(in)
      assert(got == want,
        s"anchors diverged on: $in\n got  $got\n want $want")
    }
  }

  test("x72 fixture domain: every attributed edge lands on a real " +
    "document with a non-empty cleaned anchor, and the bookmark " +
    "anchor emits nothing") {
    val rows = graft.queries.TextQueries.defs("x72_anchor_text")
      .fn(spark, sf0001)
      .as[(Long, Long, String, Long)].collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf0001).count()
    rows.foreach { case (s0, d, a, _) =>
      assert(d >= 0 && d < nDocs, s"edge ($s0,$d) points off-corpus")
      assert(a.nonEmpty && a == a.trim, s"anchor not cleaned: '$a'")
      assert(!a.contains("bookmark"), "href-less anchor leaked an edge")
    }
    // the entity-laden sidebar anchor decodes both the named and the
    // numeric ampersand (doc_id % 2 == 0 docs)
    assert(rows.exists(_._3 == "side bar & more & co"),
      s"entity anchor missing: ${rows.map(_._3).distinct.take(8).toSeq}")
  }

  test("null propagates, kernel stays inside whole-stage codegen") {
    // local relations constant-fold (ConvertToLocalRelation), which is
    // itself proof the expression evaluates; null propagation:
    val df = Seq(Some(s"<p>$longLine</p>"), None).toDF("html")
      .select(expr("graft_html_extract(html)").as("e"))
    assert(df.collect().map(r => Option(r.getString(0))).toSet ==
      Set(Some(longLine), None))
    // codegen placement needs a real scan under it
    val plan = Tables.documents(spark, sf0001)
      .select(expr("graft_html_extract(text)").as("e"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("htmlextractexpr")),
      s"extraction fell out of codegen:\n$plan")
    // the anchor kernel rides the same mechanism; null propagates too
    val adf = Seq(Some("<a href=\"/x\">t</a>"), None).toDF("html")
      .select(expr("graft_html_anchors(html)").as("a"))
    assert(adf.collect().map(r => Option(r.get(0)).isDefined).sorted
      .toSeq == Seq(false, true))
    val aplan = Tables.documents(spark, sf0001)
      .select(expr("graft_html_anchors(text)").as("a"))
      .queryExecution.executedPlan.toString
    assert(aplan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("htmlanchorsexpr")),
      s"anchor harvest fell out of codegen:\n$aplan")
  }
}
