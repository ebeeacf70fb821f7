package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Kernels

/** HTML → text extraction — the missing step between a crawl
  * response body (`Warc.warcEntity` / `bodyToText`) and the
  * quality / dedup / chunking family, which all want prose, not
  * markup. This is BOUNDED single-pass parsing in the style of the
  * repo's other format walks (header arithmetic, never a DOM
  * library): one forward scan, O(1) state, no recursion, no
  * allocation proportional to nesting — hostile markup (a million
  * unclosed tags, `<script` with no end, `&#` bombs) degrades to
  * dropped spans, never to an exception or quadratic time.
  *
  * Extraction rules (deliberately simple and closed-form, so an
  * oracle can restate the output):
  *
  *  - `<script …>…</script>` and `<style …>…</style>` spans are
  *    dropped whole (case-insensitive; an unterminated opener drops
  *    to end-of-input — script bodies are code, never prose);
  *  - `<!-- … -->` comments dropped (unterminated → to end);
  *  - every other tag `<…>` is replaced by a single space, walked
  *    QUOTE-AWARE — a `>` inside a quoted attribute value does not
  *    close the tag (an unterminated tag-opener or quoted value
  *    drops the tail — it cannot be text);
  *    CDATA sections emit their content. A `<` only OPENS a tag
  *    when the next character could start one — a letter, `!`,
  *    `/` or `?` (the HTML5 tokenizer's tag-open rule) — so bare
  *    `<` in prose (`if 5 < 6`) stays literal text;
  *  - character references decode: the HTML core names (amp, lt,
  *    gt, quot, apos, nbsp) and numeric `&#123;` / `&#x1F;` forms
  *    (invalid / out-of-range / surrogate-range / unterminated
  *    references pass through verbatim — decoding garbage would
  *    corrupt it, and a lone surrogate is not a valid scalar). The
  *    `;` search is BOUNDED to the 10 chars a valid reference can
  *    span — never a scan to end-of-input, so `&`-dense
  *    semicolon-free input stays linear;
  *  - finally ASCII whitespace (`[ \t\n\x0B\f\r]`, the Java/RE2
  *    `\s` set the oracle and the tokenizers use — NOT Unicode
  *    isWhitespace) collapses to single spaces and the result is
  *    trimmed — the token boundary form the downstream text
  *    family (`tokenCount`, `chunkDocs`, `quality`) expects.
  */
object Html {

  private val Named = Map(
    "amp" -> '&', "lt" -> '<', "gt" -> '>',
    "quot" -> '"', "apos" -> '\'', "nbsp" -> ' ')

  /** Case-insensitive region match of `what` at `i` — bounded, no
    * substring allocation. */
  private def matchesAt(s: String, i: Int, what: String): Boolean = {
    if (i + what.length > s.length) return false
    var k = 0
    while (k < what.length) {
      if (Character.toLowerCase(s.charAt(i + k)) != what.charAt(k)) return false
      k += 1
    }
    true
  }

  /** True when the character at `i` (if any) cannot extend a tag
    * name — so `<script>` matches and `<scriptx>` does not. */
  private def nameBoundary(s: String, i: Int): Boolean =
    i >= s.length || !Character.isLetterOrDigit(s.charAt(i))

  /** Index of the `;` closing a character reference whose `&` sits at
    * `i`, or -1. The longest decodable reference spans 10 chars past
    * the `&` (`&#x10FFFF;`), so the search is HARD-BOUNDED to that
    * window — an unbounded indexOf would rescan the whole tail per
    * '&' and go quadratic on semicolon-free input (the same cap
    * discipline as Warc's 64 KiB lineEnd). */
  private def refSemi(s: String, i: Int): Int = {
    val lim = math.min(s.length, i + 11)
    var semi = i + 1
    while (semi < lim && s.charAt(semi) != ';') semi += 1
    if (semi >= lim) -1 else semi
  }

  /** Decode the body of one `&ref;` character reference (the text
    * between `&` and `;`): core named entities plus numeric
    * `#123`/`#x1F` forms; null for anything invalid / out-of-range /
    * surrogate-range — decoding garbage would corrupt it, and a lone
    * surrogate is not a valid scalar. */
  private def decodeRef(ref: String): String =
    if (ref.startsWith("#x") || ref.startsWith("#X")) {
      val hex = ref.substring(2)
      if (hex.nonEmpty && hex.forall(ch => Character.digit(ch, 16) >= 0)) {
        val cp = java.lang.Long.parseLong(hex, 16)
        if (cp > 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff))
          new String(Character.toChars(cp.toInt)) else null
      } else null
    } else if (ref.startsWith("#")) {
      val dec = ref.substring(1)
      if (dec.nonEmpty && dec.forall(_.isDigit) && dec.length <= 7) {
        val cp = dec.toLong
        if (cp > 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff))
          new String(Character.toChars(cp.toInt)) else null
      } else null
    } else Named.get(ref).map(_.toString).orNull

  /** Decode every valid `&ref;` in an attribute value (href/src URLs
    * legitimately carry `&amp;` between query params); invalid
    * references pass through verbatim, same rules as `extractText`. */
  private[sources] def decodeRefsAll(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = refSemi(s, i)
        val decoded = if (semi < 0) null else decodeRef(s.substring(i + 1, semi))
        if (decoded != null) { out.append(decoded); i = semi + 1 }
        else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Index just past the closing `>` of `</name …>` at/after `i`,
    * or -1. `name` must be lower-case. */
  private def closeTagEnd(s: String, i: Int, name: String): Int = {
    var k = i
    while (k < s.length) {
      if (s.charAt(k) == '<' && k + 1 < s.length && s.charAt(k + 1) == '/' &&
          matchesAt(s, k + 2, name) && nameBoundary(s, k + 2 + name.length)) {
        var g = k + 2 + name.length
        while (g < s.length && s.charAt(g) != '>') g += 1
        return if (g < s.length) g + 1 else -1
      }
      k += 1
    }
    -1
  }

  /** Extract the visible text of `html` per the rules above. Total
    * work is O(n); never throws. */
  def extractText(html: String): String = {
    if (html == null) return ""
    val n = html.length
    val out = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      // HTML5 tag-open rule: '<' starts markup only before an ASCII
      // letter (the tokenizer's alpha set — NOT Unicode isLetter, or
      // '<é'/'<中' in crawled prose would read as an unterminated tag
      // and swallow the tail), '!', '/' or '?'; anything else (digit,
      // space, EOF, …) is the literal character.
      val opensTag = c == '<' && i + 1 < n && {
        val d = html.charAt(i + 1)
        (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
          d == '!' || d == '/' || d == '?'
      }
      if (opensTag) {
        if (matchesAt(html, i, "<!--")) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (matchesAt(html, i, "<![cdata[")) {
          val end = html.indexOf("]]>", i + 9)
          val stop = if (end < 0) n else end
          out.append(html, i + 9, stop)
          i = if (end < 0) n else end + 3
        } else if ((matchesAt(html, i, "<script") && nameBoundary(html, i + 7)) ||
                   (matchesAt(html, i, "<style") && nameBoundary(html, i + 6))) {
          val name = if (matchesAt(html, i, "<script")) "script" else "style"
          val end = closeTagEnd(html, i + 1, name)
          i = if (end < 0) n else end
          out.append(' ')
        } else {
          // the shared quote-aware tag walk (harvest disabled): a '>'
          // inside a quoted attribute value must not close the tag,
          // or `<a title="x > y">` leaks attribute junk into prose —
          // and text and link extraction must agree where a tag ends
          i = scanTagLinks(html, i, null)
          out.append(' ')
        }
      } else if (c == '&') {
        val semi = refSemi(html, i)
        val decoded = if (semi < 0) null else decodeRef(html.substring(i + 1, semi))
        if (decoded != null) { out.append(decoded); i = semi + 1 }
        else { out.append(c); i += 1 }
      } else {
        out.append(c)
        i += 1
      }
    }
    // whitespace collapse + trim — the token-boundary form
    val s = out.toString
    val sb = new java.lang.StringBuilder(s.length)
    var j = 0
    var pendingSpace = false
    while (j < s.length) {
      val ch = s.charAt(j)
      // ASCII \s ONLY (isAsciiWs — the Java-regex \s set): the
      // downstream tokenizers split on \s+ and the DuckDB oracle
      // collapses RE2 \s, so collapsing Unicode whitespace (U+00A0,
      // U+2028, U+1680, ...) here would make the extractor disagree
      // with both on valid corpora.
      if (isAsciiWs(ch)) pendingSpace = true
      else {
        if (pendingSpace && sb.length() > 0) sb.append(' ')
        pendingSpace = false
        sb.append(ch)
      }
      j += 1
    }
    sb.toString
  }

  /** The COLUMN-level extraction API — how the real crawl chain
    * composes (WARC entity body → html text → quality/chunk/dedup)
    * without typed user code: the `graft_html_text` kernel
    * (plans/HtmlTextKernel), a per-row static call inside
    * WholeStageCodegen with no ScalaUDF serialization boundary in a
    * scan that runs once per crawl document at 100 TB. */
  def textCol(html: Column): Column = Kernels("graft_html_text", html)

  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'

  /** Walk one tag's interior from `start` (the `<`), quote-aware —
    * a `>` inside a quoted attribute value does not close the tag
    * (the HTML5 tokenizer's attribute-value states; quotes only bind
    * right after `=`, so a stray quote elsewhere cannot swallow the
    * document) — harvesting decoded `href`/`src` values into `out`
    * when it is non-null. Returns the index just past the closing
    * `>` (or `n` when the tag never closes: an unterminated tag or
    * quoted value swallows the tail). BOTH extractors use this walk —
    * text and link extraction must agree about where a tag ends on
    * the same crawled page. */
  private def scanTagLinks(html: String, start: Int,
      out: scala.collection.mutable.Builder[String, Vector[String]],
      hrefOut: Array[String] = null): Int = {
    val n = html.length
    var g = start + 1
    while (g < n && html.charAt(g) != '>' && !isAsciiWs(html.charAt(g))) g += 1
    var closed = false
    while (!closed && g < n) {
      while (g < n && (isAsciiWs(html.charAt(g)) || html.charAt(g) == '/')) g += 1
      if (g >= n || html.charAt(g) == '>') closed = true
      else {
        val ns = g
        while (g < n && !isAsciiWs(html.charAt(g)) && html.charAt(g) != '=' &&
               html.charAt(g) != '>' && html.charAt(g) != '/') g += 1
        val nameEnd = g
        while (g < n && isAsciiWs(html.charAt(g))) g += 1
        var value: String = null
        if (g < n && html.charAt(g) == '=') {
          g += 1
          while (g < n && isAsciiWs(html.charAt(g))) g += 1
          if (g < n && (html.charAt(g) == '"' || html.charAt(g) == '\'')) {
            val q = html.charAt(g); g += 1
            val vs = g
            while (g < n && html.charAt(g) != q) g += 1
            if (g < n) { value = html.substring(vs, g); g += 1 }
            // unterminated quote: swallows the tail, no value
          } else {
            val vs = g
            while (g < n && !isAsciiWs(html.charAt(g)) && html.charAt(g) != '>') g += 1
            value = html.substring(vs, g)
          }
        }
        val isLinkAttr = {
          val len = nameEnd - ns
          (len == 4 && matchesAt(html, ns, "href")) ||
            (len == 3 && matchesAt(html, ns, "src"))
        }
        if (out != null && isLinkAttr && value != null) {
          val v = decodeRefsAll(value).trim
          if (v.nonEmpty) out += v
        }
        // the anchor extractor's capture: this tag's FIRST href only
        // (HTML attribute semantics: later duplicates are ignored)
        if (hrefOut != null && hrefOut(0) == null && value != null &&
            nameEnd - ns == 4 && matchesAt(html, ns, "href")) {
          val v = decodeRefsAll(value).trim
          if (v.nonEmpty) hrefOut(0) = v
        }
      }
    }
    if (g < n) g + 1 else n
  }

  /** Extract outlink CANDIDATES — the `href`/`src` attribute values —
    * from `html`, in document order. This is the discover step of the
    * crawl loop (fetch → extract → discover → frontier): the values
    * come back RAW (relative, protocol-relative, fragment-only …) for
    * `Urls.resolve(base, ref)` to absolutize against the page URL.
    *
    * Same bounded single-pass discipline as `extractText` (one
    * forward scan, O(1) state, hostile markup degrades to dropped
    * values, never quadratic time), with the one addition text
    * extraction doesn't need: the in-tag walk is QUOTE-AWARE, because
    * a `>` inside a quoted attribute value does not close the tag.
    * Rules:
    *
    *  - `href`/`src` values of ANY tag count (a crawler wants links,
    *    stylesheets, scripts, frames alike); attribute names are
    *    case-insensitive;
    *  - values may be double-quoted, single-quoted, or unquoted
    *    (unquoted ends at ASCII whitespace or `>`); an UNTERMINATED
    *    quote swallows the tail and yields nothing — it cannot be a
    *    well-formed link;
    *  - character references in values decode (`&amp;` between query
    *    params) under the same bounded rules as `extractText`;
    *  - leading/trailing ASCII whitespace strips (the URL parser's
    *    own pre-step) and empty values drop;
    *  - comment, CDATA, `<script>`, `<style>` spans contribute
    *    nothing — markup inside them is code or commentary, not
    *    links. */
  def extractLinks(html: String): Seq[String] = {
    if (html == null) return Nil
    val n = html.length
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      val opensTag = c == '<' && i + 1 < n && {
        val d = html.charAt(i + 1)
        (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
          d == '!' || d == '/' || d == '?'
      }
      if (opensTag) {
        if (matchesAt(html, i, "<!--")) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (matchesAt(html, i, "<![cdata[")) {
          val end = html.indexOf("]]>", i + 9)
          i = if (end < 0) n else end + 3
        } else if ((matchesAt(html, i, "<script") && nameBoundary(html, i + 7)) ||
                   (matchesAt(html, i, "<style") && nameBoundary(html, i + 6))) {
          // the OPENING tag's own attributes are real links (`<script
          // src=…>` references code a crawler fetches); only the BODY
          // is dropped — markup inside it is string data, not links
          val name = if (matchesAt(html, i, "<script")) "script" else "style"
          val bodyStart = scanTagLinks(html, i, out)
          val end = closeTagEnd(html, bodyStart, name)
          i = if (end < 0) n else end
        } else {
          i = scanTagLinks(html, i, out)
        }
      } else i += 1
    }
    out.result()
  }

  /** The COLUMN-level link extraction API — `array<string>` of raw
    * outlink candidates per page, for `explode` + `Urls.resolveCol` +
    * `Urls.canonCol` to turn into frontier candidates: the
    * `graft_html_links` kernel (plans/HtmlTextKernel). */
  def linksCol(html: Column): Column = Kernels("graft_html_links", html)

  /** Per-anchor text cap — link-context features want a phrase, not
    * a hostile page-sized anchor; the walk keeps scanning to the
    * close tag but stops ACCUMULATING here. */
  val MaxAnchorChars = 256

  /** Extract `(href, anchor_text)` pairs — the `<a href=…>text</a>`
    * elements specifically, in document order: what a corpus pipeline
    * keeps for link-context / host-description features (the round-19
    * verdict's item 4; the plain `extractLinks` walk returns URLs
    * only). Same bounded single-pass discipline, same structural
    * rules as `extractText` for the text BETWEEN the anchor tags:
    * nested tag markup contributes a word boundary, comments and
    * script/style bodies contribute nothing, CDATA content is
    * literal, character references decode, ASCII whitespace
    * collapses, and the accumulated text caps at `MaxAnchorChars`.
    * Anchor-specific leniencies (the HTML5 tree-builder's own): a
    * new `<a>` inside an open anchor closes the previous one, an
    * anchor left open at EOF still emits, `<a>` without an href (a
    * named target) emits nothing, and the href strips ASCII
    * tab/LF/CR (the URL-spec munging browsers apply — which also
    * keeps the `\t` column framing below injection-proof). Empty
    * anchor text emits as "" — visible, not dropped (an image link's
    * text IS empty). */
  def extractAnchors(html: String): Seq[(String, String)] = {
    if (html == null) return Nil
    val n = html.length
    val out = Vector.newBuilder[(String, String)]
    var href: String = null
    val text = new java.lang.StringBuilder(64)
    var pendingWs = false

    def emit(): Unit = {
      if (href != null) {
        val h = href.filterNot(c => c == '\t' || c == '\n' || c == '\r')
        if (h.nonEmpty) out += ((h, text.toString))
      }
      href = null; text.setLength(0); pendingWs = false
    }
    def appendChar(ch: Char): Unit =
      if (href != null && text.length < MaxAnchorChars) {
        if (isAsciiWs(ch)) pendingWs = true
        else {
          if (pendingWs && text.length > 0) text.append(' ')
          pendingWs = false
          text.append(ch)
        }
      }
    def appendRun(s: String, from: Int, until: Int): Unit = {
      var k = from
      while (k < until) { appendChar(s.charAt(k)); k += 1 }
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      val opensTag = c == '<' && i + 1 < n && {
        val d = html.charAt(i + 1)
        (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
          d == '!' || d == '/' || d == '?'
      }
      if (opensTag) {
        if (matchesAt(html, i, "<!--")) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (matchesAt(html, i, "<![cdata[")) {
          val end = html.indexOf("]]>", i + 9)
          val stop = if (end < 0) n else end
          appendRun(html, i + 9, stop)
          i = if (end < 0) n else end + 3
        } else if ((matchesAt(html, i, "<script") && nameBoundary(html, i + 7)) ||
                   (matchesAt(html, i, "<style") && nameBoundary(html, i + 6))) {
          val name = if (matchesAt(html, i, "<script")) "script" else "style"
          val end = closeTagEnd(html, i + 1, name)
          i = if (end < 0) n else end
          pendingWs = true
        } else if (matchesAt(html, i, "<a") && nameBoundary(html, i + 2)) {
          emit()
          val cap = new Array[String](1)
          i = scanTagLinks(html, i, null, cap)
          href = cap(0)
        } else if (matchesAt(html, i, "</a") && nameBoundary(html, i + 3)) {
          emit()
          var g = i + 3
          while (g < n && html.charAt(g) != '>') g += 1
          i = if (g < n) g + 1 else n
        } else {
          i = scanTagLinks(html, i, null)
          pendingWs = true
        }
      } else if (c == '&') {
        val semi = refSemi(html, i)
        val decoded = if (semi < 0) null else decodeRef(html.substring(i + 1, semi))
        if (decoded != null) { appendRun(decoded, 0, decoded.length); i = semi + 1 }
        else { appendChar(c); i += 1 }
      } else {
        appendChar(c)
        i += 1
      }
    }
    emit() // a truncated page keeps its last open anchor, visibly
    out.result()
  }

  /** The COLUMN-level anchor API — `array<string>` of
    * `href \t anchor_text` rows (framing is injection-proof: hrefs
    * strip raw tabs, anchor whitespace collapses to single spaces).
    * The `graft_link_anchors` kernel (plans/HtmlTextKernel). */
  def anchorsCol(html: Column): Column = Kernels("graft_link_anchors", html)

  /** The ORACLED registry leg (`llm_html_extract`): every document
    * is wrapped in a synthesized page exercising each extraction
    * rule — a dropped `<style>` block, a dropped comment, a dropped
    * `<script>` block (containing a `<` that must not re-open tag
    * parsing), named + numeric character references, and the
    * document text ENTITY-ESCAPED (so `&`/`<`/`>` in real prose
    * round-trip through escape → extract). The page is synthesized
    * COLUMNAR (concat/replace) and extracted via `textCol`, so the
    * whole query is one WholeStageCodegen scan
    * projection — no mapPartitions, no UDF (PlanSpec pins it). The
    * REAL extractor runs distributed; DuckDB restates the
    * closed-form result: `'Doc & ' || doc_id || ' ' ||
    * ws-collapsed(text)`. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val escaped = replace(replace(replace(col("text"),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    val page = concat(
      lit("<html lang=\"en\"><head><title></title>\n" +
        "<style>p { color: red; }</style></head>\n" +
        "<body><!-- synthesized -->\n" +
        "<h1>Doc&#32;&amp;&#x20;"),
      col("doc_id").cast("string"),
      lit("</h1>\n<p>"),
      escaped,
      lit("</p>\n<script type=\"text/javascript\">" +
        "if (1 < 2) { emit(\"<fake>\"); }</script>\n</body></html>"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), textCol(page).as("extracted_text"))
  }

  /** The ORACLED outlink-discovery leg (`llm_html_links`) — the
    * missing half of the crawl loop: every document is wrapped in a
    * synthesized page whose markup exercises each link-extraction
    * rule (quoted / single-quoted / unquoted values, `src` as well
    * as `href`, an entity-escaped `&amp;` between query params, and
    * links inside a comment, a `<script>` body and a `<style>` body
    * that MUST be ignored), the raw candidates extract via the
    * `graft_html_links` column kernel, and each resolves against the
    * page's own URL per RFC 3986 §5 (`graft_url_resolve`: relative,
    * dot-segment, protocol-relative, fragment-only and absolute refs
    * all occur) before canonicalizing (`graft_url_canon`). The whole
    * chain — synthesize, extract, explode, resolve, canonicalize —
    * is columnar kernels in ONE codegen scan projection (PlanSpec
    * pins no ScalaUDF / object boundary); DuckDB restates all eight
    * resolved links per document from the closed form. */
  def htmlLinks(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val page = concat(
      lit("<html><head>\n" +
        "<link rel=\"stylesheet\" href=\"/static/site.css\">\n" +
        "<script src='../js/app.js'></script>\n" +
        "<style>.x { background: url(\"/ignored/in/style.png\"); }</style>\n" +
        "</head><body>\n" +
        "<!-- <a href=\"/ignored/in/comment\"> -->\n" +
        "<script>var s = \"<a href='/ignored/in/script'>\";</script>\n" +
        "<a href=\"https://Other.Example.ORG:443/x/./y?z=1\">abs</a>\n" +
        "<a href=\"//cdn.example.net/lib/v"),
      id,
      lit(".js\">proto-rel</a>\n" +
        "<a href=\"page2?a=1&amp;b=2\">sibling</a>\n" +
        "<a href=\"#top\">self</a>\n" +
        "<a href=bare/sub/page3>unquoted</a>\n" +
        "<img src=\"../../img/logo.png\">\n" +
        "</body></html>"))
    val base = concat(lit("http://"), col("source"), lit(".example.com/d/"),
      id, lit("/page.html"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), base.as("base_url"),
        linksCol(page).as("links"))
      .select(col("doc_id"), col("base_url"), posexplode(col("links")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("link_no"),
        coalesce(
          graft.sources.Urls.canonCol(
            graft.sources.Urls.resolveCol(col("base_url"), col("col"))),
          lit("!")).as("url")) // failure is visible, never silently dropped
  }

  /** The ORACLED end-to-end crawl chain (`llm_crawl_extract`) — every
    * stage a real 100 TB text pipeline runs between a stored crawl
    * segment and the token-level text family, composed in ONE query
    * and value-checked per row: an HTML page (same rule-exercising
    * shape as `htmlExtract`) is wrapped as a chunked + gzipped HTTP
    * response in a WARC record in a gzip member
    * (`Warc.wrapCrawlResponse`), decoded back through the full
    * production chain (`Warc.decodeCrawlResponse`: member walk →
    * record parse → HTTP split → unchunk → content-gunzip → charset
    * decode), then the visible text extracts via the `graft_html_text`
    * COLUMN kernel and tokenizes — so the typed byte-walk half and
    * the columnar half compose in one plan, and DuckDB restates the
    * final text AND token count from the closed form. `llm_warc_entity`
    * and `llm_html_extract` check the halves; this leg checks the
    * SEAM. Map-only end to end — no exchange anywhere. */
  def crawlExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // widened: the single-split documents scan would otherwise run the
    // whole wrap (gzip ×2) + decode (gunzip ×2, unchunk) chain as ONE
    // task — the most expensive per-row byte walk in the WARC family
    val recovered = Tables.widened(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text")))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (docId, source, text) =>
          val escaped = text.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          val page = ("<html lang=\"en\"><head><title></title>\n" +
            "<style>p { color: red; }</style></head>\n" +
            "<body><!-- synthesized -->\n" +
            s"<h1>Doc&#32;&amp;&#x20;$docId</h1>\n<p>$escaped</p>\n" +
            "<script type=\"text/javascript\">" +
            "if (1 < 2) { emit(\"<fake>\"); }</script>\n</body></html>")
          val seg = Warc.wrapCrawlResponse(s"https://$source/doc/$docId",
            "text/html; charset=UTF-8", page.getBytes("UTF-8"))
          Warc.decodeCrawlResponse(seg) match {
            case Right((_, html)) => (docId, html)
            case Left(stage) => (docId, s"!$stage") // failure is visible
          }
        }
      }.toDF("doc_id", "html")
    // columnar half: html -> visible text -> whitespace token count,
    // one codegen projection on top of the byte-walk scan
    recovered
      .select(col("doc_id"), textCol(col("html")).as("extracted_text"))
      // extraction output is single-space collapsed and starts with
      // "Doc & <id>", so it is never empty and split-on-space = tokens
      .withColumn("n_tokens", size(split(col("extracted_text"), " ")).cast("long"))
  }
}
