package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** [EXT] Markup/HTML text extraction — the ingest stage a real web
  * corpus needs BEFORE any of the x11/x12/x20 text analysis applies
  * (the CCNet / trafilatura front-end position in the pipeline): strip
  * script/style blocks, strip tags, decode the common entities, and
  * drop boilerplate lines (nav bars, footers, titles) by a minimum
  * visible-length rule.
  *
  * The CONTRACT is an exact, engine-neutral replace chain — every
  * implementation (the compiled kernel here, the DuckDB oracle SQL,
  * HtmlExtractSpec's java-regex reference) computes the same function:
  *
  *  1. remove `(?is)<script[^>]*>.*?</script>` (leftmost, non-greedy,
  *     ASCII case-insensitive), then the same for `style`;
  *  2. replace every remaining `<[^>]*>` with a newline (an unclosed
  *     trailing `<…` stays literal text, exactly as the regex leaves
  *     it);
  *  3. decode entities: FIRST numeric character references (`&#NNN;`
  *     decimal / `&#xHH;` hex, valid code points only — see
  *     [[HtmlKernels.decodeNumericRefs]]), then the named six by
  *     literal global replace, in this order: `&lt; &gt; &quot;
  *     &apos; &nbsp;`(→ space) and `&amp;` LAST — the ordering makes
  *     double-encoded input (`&amp;lt;`, `&amp;#65;`) decode one
  *     level, never two;
  *  4. split on newline; per line collapse runs of space/tab/CR/FF to
  *     one space and trim; KEEP lines of ≥ [[HtmlKernels.MinLineChars]]
  *     code points (code points, not UTF-16 units — DuckDB's `length`
  *     semantics); join survivors with newline.
  *
  * The length rule is the CCNet-style boilerplate filter: nav rows,
  * copyright footers and bare titles are short; body prose is not.
  *
  * Scale shape: one compiled pass per document inside whole-stage
  * codegen (a [[HtmlExtractExpr]] call, no UDF, no java.util.regex at
  * runtime — the chain is hand-scanned with indexOf/char loops), so
  * extraction streams with the scan like every other text kernel. */
object HtmlKernels extends Serializable {

  /** Minimum collapsed-line length (code points) a line needs to
    * survive the boilerplate filter. */
  val MinLineChars = 30

  def extract(s: UTF8String): UTF8String =
    UTF8String.fromString(extractString(s.toString))

  def extractString(html: String): String = {
    val noScript = stripBlock(html, "script")
    val noStyle = stripBlock(noScript, "style")
    filterLines(decodeEntities(stripTags(noStyle)))
  }

  /** ASCII-only case fold — java regex `(?i)` semantics (DuckDB's RE2
    * folds Unicode too, but the contract's tag names are ASCII and the
    * java-regex reference is the tie-breaker). */
  @inline private def low(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  private def indexOfIgnoreCase(s: String, target: String, from: Int): Int = {
    var i = math.max(from, 0)
    val last = s.length - target.length
    while (i <= last) {
      var j = 0
      while (j < target.length && low(s.charAt(i + j)) == target.charAt(j)) j += 1
      if (j == target.length) return i
      i += 1
    }
    -1
  }

  /** Remove `(?is)<tag[^>]*>.*?</tag>` occurrences, leftmost and
    * non-overlapping, exactly like a global regex replace: a candidate
    * open is the literal `<tag` (ASCII-ci); its tag ends at the FIRST
    * following `>` (that is what `[^>]*>` means); the block ends at the
    * FIRST literal `</tag>` (ASCII-ci) after that. When either piece is
    * missing there can be no further match anywhere (any later match
    * would need the same missing `>`/close further right), so the rest
    * of the string is kept verbatim — an unclosed block's content is
    * NOT swallowed, matching the regex. */
  private def stripBlock(s: String, tag: String): String = {
    val open = "<" + tag
    val close = "</" + tag + ">"
    var from = 0
    var sb: java.lang.StringBuilder = null
    var search = 0
    var done = false
    while (!done) {
      val idx = indexOfIgnoreCase(s, open, search)
      if (idx < 0) done = true
      else {
        val gt = s.indexOf('>', idx + open.length)
        if (gt < 0) done = true
        else {
          val cl = indexOfIgnoreCase(s, close, gt + 1)
          if (cl < 0) done = true
          else {
            if (sb == null) sb = new java.lang.StringBuilder(s.length)
            sb.append(s, from, idx)
            from = cl + close.length
            search = from
          }
        }
      }
    }
    if (sb == null) s
    else { sb.append(s, from, s.length); sb.toString }
  }

  /** `<[^>]*>` → newline, global; a trailing `<…` with no `>` stays. */
  private def stripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        val gt = s.indexOf('>', i + 1)
        if (gt < 0) { sb.append(s, i, s.length); i = s.length }
        else { sb.append('\n'); i = gt + 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Literal global replaces; numeric refs first, `&amp;` last (see
    * class doc). */
  private def decodeEntities(s: String): String =
    decodeNumericRefs(s)
      .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&nbsp;", " ").replace("&amp;", "&")

  @inline private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (low(c) - 'a') + 10

  /** Numeric character references — `&#NNN;` decimal and `&#xHH;` hex
    * (`x` ASCII-ci) — decoded in ONE left-to-right pass BEFORE the
    * named replaces, so `&amp;#65;` stays one-level decoded: the
    * named-last ordering rule's numeric analogue (r15 verdict #3 —
    * real pages carry `&#39;`/`&#x27;` at least as often as the named
    * six). Contract = a global java-regex replace of
    * `&#(?:([0-9]+)|[xX]([0-9a-fA-F]+));` with the code point when it
    * is VALID — in [1, 0x10FFFF] and not a surrogate — and the match
    * text kept verbatim otherwise; `&#;`, `&#x;`, an unterminated
    * `&#12`, an overflow (`&#1114112;`, any digit run past the
    * saturation point) all stay literal. The hand scan below is that
    * regex: a failed candidate resumes searching after its `&#`
    * (nothing a regex could match starts inside `#dd` without a fresh
    * `&#`), a decoded one resumes after its `;`. */
  private def decodeNumericRefs(s: String): String = {
    var i = s.indexOf("&#")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var from = 0
    while (i >= 0) {
      var j = i + 2
      var hex = false
      if (j < s.length && (s.charAt(j) == 'x' || s.charAt(j) == 'X')) {
        hex = true; j += 1
      }
      var cp = 0L
      var any = false
      if (hex) {
        while (j < s.length && isHexDigit(s.charAt(j))) {
          any = true
          if (cp <= 0x10FFFFL) cp = cp * 16 + hexVal(s.charAt(j))
          j += 1
        }
      } else {
        while (j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
          any = true
          if (cp <= 0x10FFFFL) cp = cp * 10 + (s.charAt(j) - '0')
          j += 1
        }
      }
      val ok = any && j < s.length && s.charAt(j) == ';' &&
        cp >= 1L && cp <= 0x10FFFFL && !(cp >= 0xD800L && cp <= 0xDFFFL)
      if (ok) {
        sb.append(s, from, i)
        sb.appendCodePoint(cp.toInt)
        from = j + 1
        i = s.indexOf("&#", from)
      } else {
        i = s.indexOf("&#", i + 2)
      }
    }
    sb.append(s, from, s.length)
    sb.toString
  }

  /** Per line: collapse space/tab/CR/FF runs to one space, trim, keep
    * lines of ≥ [[MinLineChars]] CODE POINTS, join with newline. */
  private def filterLines(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var first = true
    var start = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == '\n') {
        val line = collapseTrim(s, start, i)
        if (line.codePointCount(0, line.length) >= MinLineChars) {
          if (!first) out.append('\n')
          first = false
          out.append(line)
        }
        start = i + 1
      }
      i += 1
    }
    out.toString
  }

  /** The attribute-whitespace class shared by the contract's three
    * implementations: space/tab/LF/CR/FF — the java `\s` ∩ RE2 `\s`
    * intersection (java adds \x0B, RE2 doesn't; pinning the five keeps
    * the kernel, the java-regex spec reference and the DuckDB oracle
    * character-identical). */
  @inline private def isAttrWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** HTML5's excluded set for UNQUOTED attribute values (whitespace,
    * both quotes, `=`, `<`, `>`, backtick). */
  @inline private def isUnquotedEnd(c: Char): Boolean =
    isAttrWs(c) || c == '"' || c == '\'' || c == '=' || c == '<' ||
      c == '>' || c == '`'

  /** All `href` attribute values, in document order — the link harvest
    * a crawl-graph build runs on RAW html (before any tag stripping).
    * Contract = the global regex (r15 verdict #3 widened it from the
    * double-quote-only form to the three forms real crawls carry):
    *
    *   {{{ (?i)href[WS]*=[WS]*("[^"]*"|'[^']*'|[^WS"'=<>`]+) }}}
    *
    * with WS the 5-char class above; the harvested value is group 1
    * minus its surrounding quotes. Double-quoted, single-quoted and
    * HTML5-unquoted values all match (the unquoted run must be
    * non-empty — `href=>` harvests nothing); whitespace is allowed
    * around `=`; an UNCLOSED quote means no match at that candidate,
    * and the scan resumes at the next `href` literal, exactly where
    * the regex engine's retry would land (no later alternative can
    * match at the failed position: backing off `[WS]*` only puts a
    * WS char — excluded everywhere — in front of the value). */
  def linkHrefs(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val html = s.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    var done = false
    while (!done) {
      val idx = indexOfIgnoreCase(html, "href", i)
      if (idx < 0) done = true
      else {
        var j = idx + 4
        while (j < html.length && isAttrWs(html.charAt(j))) j += 1
        if (j >= html.length || html.charAt(j) != '=') i = idx + 1
        else {
          j += 1
          while (j < html.length && isAttrWs(html.charAt(j))) j += 1
          if (j < html.length &&
              (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
            val quote = html.charAt(j)
            val q = html.indexOf(quote, j + 1)
            if (q < 0) i = idx + 1 // unclosed: no match at this candidate
            else {
              out += UTF8String.fromString(html.substring(j + 1, q))
              i = q + 1
            }
          } else {
            var k = j
            while (k < html.length && !isUnquotedEnd(html.charAt(k))) k += 1
            if (k > j) {
              out += UTF8String.fromString(html.substring(j, k))
              i = k
            } else i = idx + 1 // empty unquoted value: no match
          }
        }
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }

  /** First href value in an attribute region per the [[linkHrefs]]
    * three-form contract, or null when none matches. */
  private def firstHref(s: String): String = {
    var i = 0
    while (true) {
      val idx = indexOfIgnoreCase(s, "href", i)
      if (idx < 0) return null
      var j = idx + 4
      while (j < s.length && isAttrWs(s.charAt(j))) j += 1
      if (j >= s.length || s.charAt(j) != '=') i = idx + 1
      else {
        j += 1
        while (j < s.length && isAttrWs(s.charAt(j))) j += 1
        if (j < s.length && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
          val q = s.indexOf(s.charAt(j), j + 1)
          if (q < 0) i = idx + 1
          else return s.substring(j + 1, q)
        } else {
          var k = j
          while (k < s.length && !isUnquotedEnd(s.charAt(k))) k += 1
          if (k > j) return s.substring(j, k) else i = idx + 1
        }
      }
    }
    null // unreachable
  }

  /** Anchor text from an `<a>` body: inner tags → one space (`<[^>]*>`
    * global, unclosed `<…` stays), entities decoded (numeric first,
    * the x69 order), ALL whitespace runs (incl. newlines) collapsed to
    * one space, trimmed. */
  private def cleanAnchor(inner: String): String = {
    val sb = new java.lang.StringBuilder(inner.length)
    var i = 0
    while (i < inner.length) {
      val c = inner.charAt(i)
      if (c == '<') {
        val gt = inner.indexOf('>', i + 1)
        if (gt < 0) { sb.append(inner, i, inner.length); i = inner.length }
        else { sb.append(' '); i = gt + 1 }
      } else { sb.append(c); i += 1 }
    }
    val decoded = decodeEntities(sb.toString)
    val out = new java.lang.StringBuilder(decoded.length)
    var pending = false
    var started = false
    var j = 0
    while (j < decoded.length) {
      val c = decoded.charAt(j)
      if (isWs(c) || c == '\n') pending = started
      else {
        if (pending) out.append(' ')
        pending = false
        started = true
        out.append(c)
      }
      j += 1
    }
    out.toString
  }

  /** All (href, anchor_text) pairs from RAW html, in document order —
    * the edge ATTRIBUTE a link-graph quality pipeline consumes (anchor
    * text is a weak label for the target document). Contract = the
    * global regex
    *
    *   {{{ (?is)<a[WS]([^>]*)>(.*?)</a> }}}
    *
    * (WS = the 5-char class; the open tag is `<a` + one whitespace so
    * `<abbr>` never matches, attrs end at the FIRST `>`, the non-greedy
    * body ends at the FIRST `</a>` ASCII-ci — an unclosed tag or
    * anchor means no match there or anywhere later, exactly as the
    * regex behaves); per match, the href is the FIRST [[linkHrefs]]
    * three-form value inside the attr region (an anchor with no href
    * emits nothing but its matched region is still consumed, like the
    * regex's global scan), and the text is [[cleanAnchor]] of the
    * body. Returns array<struct<href, anchor>>. */
  def anchorLinks(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val html = s.toString
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    var i = 0
    var done = false
    while (!done) {
      val idx = indexOfIgnoreCase(html, "<a", i)
      if (idx < 0) done = true
      else if (idx + 2 >= html.length || !isAttrWs(html.charAt(idx + 2))) {
        i = idx + 1
      } else {
        val gt = html.indexOf('>', idx + 3)
        if (gt < 0) done = true // no '>' left: nothing can match later
        else {
          val close = indexOfIgnoreCase(html, "</a>", gt + 1)
          if (close < 0) done = true // no close left: same
          else {
            val href = firstHref(html.substring(idx + 2, gt))
            if (href != null)
              out += new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(Array[Any](
                  UTF8String.fromString(href),
                  UTF8String.fromString(
                    cleanAnchor(html.substring(gt + 1, close)))))
            i = close + 4
          }
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\f'

  private def collapseTrim(s: String, start: Int, end: Int): String = {
    val sb = new java.lang.StringBuilder(end - start)
    var pending = false
    var started = false
    var i = start
    while (i < end) {
      val c = s.charAt(i)
      if (isWs(c)) pending = started // leading ws never pends
      else {
        if (pending) sb.append(' ')
        pending = false
        started = true
        sb.append(c)
      }
      i += 1
    }
    sb.toString // trailing ws stays pending, never flushed
  }
}

/** graft_html_extract(html): the compiled extraction chain (see
  * [[HtmlKernels]]). One reference-object call inside whole-stage
  * codegen — same pattern as the dedup/vector kernels. */
case class HtmlExtractExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    HtmlKernels.extract(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("htmlKernels", HtmlKernels,
      "graft.functions.HtmlKernels$")
    defineCodeGen(ctx, ev, c => s"$k.extract($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** graft_html_links(html): ordered `href="…"` values from RAW html
  * (see [[HtmlKernels.linkHrefs]]) — the crawl-graph edge source. */
case class HtmlLinksExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HtmlKernels.linkHrefs(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("htmlKernels", HtmlKernels,
      "graft.functions.HtmlKernels$")
    defineCodeGen(ctx, ev, c => s"$k.linkHrefs($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** graft_html_anchors(html): ordered (href, anchor) structs from RAW
  * html (see [[HtmlKernels.anchorLinks]]) — the attributed-edge source
  * for link-graph quality signals. */
case class HtmlAnchorsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("href", StringType,
          nullable = false),
        org.apache.spark.sql.types.StructField("anchor", StringType,
          nullable = false))),
      containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HtmlKernels.anchorLinks(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("htmlKernels", HtmlKernels,
      "graft.functions.HtmlKernels$")
    defineCodeGen(ctx, ev, c => s"$k.anchorLinks($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlFunctions {
  /** (name, builder) pairs, injected by
    * [[graft.plans.GraftSparkExtensions]] at session build. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_html_extract" -> (es => HtmlExtractExpr(es.head)),
    "graft_html_links" -> (es => HtmlLinksExpr(es.head)),
    "graft_html_anchors" -> (es => HtmlAnchorsExpr(es.head)))
}
