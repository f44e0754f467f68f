package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CaseMap

/** Web-corpus preparation operators: HTML → text extraction and URL
  * canonicalization / URL-level dedup (the document-acquisition front of a
  * training-data pipeline — RefinedWeb §3.1 runs exactly this pair before
  * any content-level dedup; C4 and Gopher assume it already happened).
  *
  * Both operators are per-row compiled string passes (no shuffle): at
  * 100 TB they scale embarrassingly with input partitions, and
  * [[urlDedup]] adds exactly one hash shuffle on the canonical-URL key —
  * the same shape as [[DedupOps.exactDuplicateGroups]] on content digests.
  */
object WebOps {

  // ------------------------- HTML -> text ---------------------------------

  /** Tags whose start/end breaks the text flow (a newline in the output);
    * every other tag is inline and contributes nothing. */
  private val BlockTags: Set[String] = Set(
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "table", "blockquote", "pre", "section", "article", "header",
    "footer", "nav", "aside", "main", "hr", "dt", "dd", "dl", "figure",
    "figcaption", "address", "form", "fieldset")

  /** Containers whose CONTENT is dropped wholesale (code, styling, vector
    * markup, embedded docs — never training text). */
  private val DropContent: Set[String] = Set(
    "script", "style", "noscript", "svg", "iframe", "object", "template")

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "middot" -> "·",
    "deg" -> "°", "plusmn" -> "±", "times" -> "×",
    "laquo" -> "«", "raquo" -> "»", "euro" -> "€",
    "pound" -> "£", "cent" -> "¢", "yen" -> "¥",
    "sect" -> "§", "para" -> "¶", "bull" -> "•")

  /** Decodes one `&...;` entity starting at `i` (which points at '&').
    * Returns (decoded, next index) or null if not a well-formed entity —
    * in which case the caller keeps the literal '&'. */
  private def decodeEntity(s: String, i: Int): (String, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 12) return null
    val body = s.substring(i + 1, semi)
    if (body.isEmpty) return null
    if (body.charAt(0) == '#') {
      val num = body.substring(1)
      val cp =
        try {
          if (num.nonEmpty && (num.charAt(0) == 'x' || num.charAt(0) == 'X'))
            Integer.parseInt(num.substring(1), 16)
          else Integer.parseInt(num)
        } catch { case _: NumberFormatException => -1 }
      if (cp < 0 || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff)) null
      else (new String(Character.toChars(cp)), semi + 1)
    } else NamedEntities.get(body).map((_, semi + 1)).orNull
  }

  /** Lower-case tag name starting at `i` (first char after '<' or '</'). */
  private def tagNameAt(s: String, i: Int): String = {
    var j = i
    val n = s.length
    while (j < n && (s.charAt(j).isLetterOrDigit)) j += 1
    s.substring(i, j).toLowerCase
  }

  /** Index just past the '>' that closes the tag opened at `lt` —
    * quote-aware, so an attribute value containing '>' does not
    * terminate the tag early. Returns length if unterminated. */
  private def tagEnd(s: String, lt: Int): Int = {
    var j = lt + 1
    val n = s.length
    var quote: Char = 0
    while (j < n) {
      val c = s.charAt(j)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return j + 1
      j += 1
    }
    n
  }

  /** Pure single-pass HTML → text extraction:
    *  - comments, CDATA wrappers, doctype/processing instructions dropped;
    *  - [[DropContent]] containers dropped with their content (scan to the
    *    matching case-insensitive close tag; string/`</b>` content inside
    *    does not fool it because only the container's own close tag ends
    *    the skip);
    *  - [[BlockTags]] (open or close) emit a line break, all other tags
    *    vanish;
    *  - entities decoded ([[NamedEntities]] + decimal/hex numeric; a bare
    *    or malformed '&' stays literal);
    *  - whitespace normalized: runs collapse to one space inside a line,
    *    lines are trimmed, empty lines dropped, lines joined with '\n'
    *    (so `&nbsp;` first decodes to a space, then collapses like one).
    *
    * This is the Spark-side text extractor a web pipeline runs before
    * [[TextOps.c4KeepLines]] / quality scoring; it deliberately keeps ALL
    * rendered text (boilerplate removal is the c4/gopher stage's job,
    * separation of concerns as in the reference pipeline stack).
    */
  def extractText(html: String): String = {
    if (html == null) return ""
    val n = html.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (html.regionMatches(true, i, "<![CDATA[", 0, 9)) {
          val e = html.indexOf("]]>", i + 9)
          val end = if (e < 0) n else e
          out.append(html, i + 9, end)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          i = tagEnd(html, i) // doctype / processing instruction
        } else if (i + 1 < n && (html.charAt(i + 1).isLetter || html.charAt(i + 1) == '/')) {
          val closing = html.charAt(i + 1) == '/'
          val name = tagNameAt(html, if (closing) i + 2 else i + 1)
          val afterTag = tagEnd(html, i)
          if (!closing && DropContent.contains(name)) {
            // self-closing drop-container (<svg .../>) has no content
            val selfClosed = afterTag - 2 >= 0 && html.charAt(afterTag - 2) == '/'
            if (selfClosed) i = afterTag
            else {
              // scan for the matching close tag of THIS container
              var j = afterTag
              var done = -1
              while (done < 0 && j < n) {
                j = html.indexOf('<', j)
                if (j < 0) { j = n; done = n }
                else if (j + 1 < n && html.charAt(j + 1) == '/' &&
                    tagNameAt(html, j + 2) == name) done = tagEnd(html, j)
                else j += 1
              }
              i = if (done < 0) n else done
            }
          } else {
            if (BlockTags.contains(name)) out.append('\n')
            i = afterTag
          }
        } else { out.append(c); i += 1 } // stray '<' (e.g. "1 < 2")
      } else if (c == '&') {
        val d = decodeEntity(html, i)
        if (d == null) { out.append(c); i += 1 }
        else { out.append(d._1); i = d._2 }
      } else { out.append(c); i += 1 }
    }
    // whitespace normalization: collapse runs per line, drop empty lines
    val sb = new java.lang.StringBuilder(out.length)
    var start = 0
    val raw = out.toString
    while (start <= raw.length) {
      val nl = raw.indexOf('\n', start)
      val end = if (nl < 0) raw.length else nl
      var a = start
      while (a < end && Character.isWhitespace(raw.charAt(a))) a += 1
      var b = end
      while (b > a && Character.isWhitespace(raw.charAt(b - 1))) b -= 1
      if (b > a) {
        if (sb.length > 0) sb.append('\n')
        var k = a
        var inWs = false
        while (k < b) {
          val ch = raw.charAt(k)
          if (Character.isWhitespace(ch)) inWs = true
          else { if (inWs) sb.append(' '); inWs = false; sb.append(ch) }
          k += 1
        }
      }
      start = end + 1
      if (nl < 0) start = raw.length + 1
    }
    sb.toString
  }

  /** Column form of [[extractText]]. A Scala UDF (not codegen) — the
    * parser is a stateful scan no Catalyst expression tree expresses; it
    * stays a narrow per-row map, so the plan cost is the string work
    * itself, exactly like the reference's per-record converters. */
  val htmlToText: Column => Column = {
    val f = udf { html: String => extractText(html) }
    c => f(c)
  }

  // --------------------- URL canonicalization ------------------------------

  /** Query parameters that never change content identity (tracking /
    * click attribution) — dropped by key. `utm_` is a prefix family. */
  private val TrackingKeys: Set[String] = Set(
    "gclid", "fbclid", "msclkid", "mc_cid", "mc_eid", "ref", "ref_src",
    "igshid", "spm", "yclid")

  private def isTrackingKey(k: String): Boolean =
    k.startsWith("utm_") || TrackingKeys.contains(k)

  /** Pure canonical form of an absolute http(s) URL:
    *  - scheme and host lower-cased; leading `www.` stripped from the host;
    *  - default port dropped (`:80` http, `:443` https), other ports kept;
    *  - fragment dropped;
    *  - path kept case-sensitively (paths ARE case-sensitive) with ALL
    *    trailing '/' removed — `http://a.com/` and `http://a.com` meet;
    *  - query split on '&'; empty params and tracking params
    *    ([[isTrackingKey]]) dropped; survivors sorted by code point (whole
    *    `k=v` string) and re-joined; an emptied query loses its '?'.
    *
    * A string without `://` is returned trimmed (relative URLs pass
    * through so the operator is safe on mixed columns). */
  def canonicalize(url: String): String = {
    if (url == null) return null
    val u0 = url.trim
    val sep = u0.indexOf("://")
    if (sep < 0) return u0
    val scheme = u0.substring(0, sep).toLowerCase
    var rest = u0.substring(sep + 3)
    val hash = rest.indexOf('#')
    if (hash >= 0) rest = rest.substring(0, hash)
    val hostEnd = {
      val s = rest.indexOf('/'); val q = rest.indexOf('?')
      if (s < 0 && q < 0) rest.length
      else if (s < 0) q else if (q < 0) s else math.min(s, q)
    }
    val hostPort = rest.substring(0, hostEnd).toLowerCase
    val pathq = rest.substring(hostEnd)
    val colon = hostPort.lastIndexOf(':')
    val (host0, port) =
      if (colon >= 0 && hostPort.substring(colon + 1).forall(_.isDigit) &&
          colon + 1 < hostPort.length)
        (hostPort.substring(0, colon), hostPort.substring(colon + 1))
      else (hostPort, "")
    val host = if (host0.startsWith("www.")) host0.substring(4) else host0
    val keepPort =
      if (port.isEmpty || (scheme == "http" && port == "80") ||
          (scheme == "https" && port == "443")) ""
      else ":" + port
    val qmark = pathq.indexOf('?')
    var path = if (qmark < 0) pathq else pathq.substring(0, qmark)
    while (path.endsWith("/")) path = path.substring(0, path.length - 1)
    val query = if (qmark < 0) "" else pathq.substring(qmark + 1)
    val params = query.split('&').toSeq
      .filter(p => p.nonEmpty && !isTrackingKey(p.takeWhile(_ != '=')))
      .sorted
    val canonQ = if (params.isEmpty) "" else params.mkString("?", "&", "")
    scheme + "://" + host + keepPort + path + canonQ
  }

  /** Column form of [[canonicalize]]. */
  val canonicalUrl: Column => Column = {
    val f = udf { url: String => canonicalize(url) }
    c => f(c)
  }

  /** URL-level dedup: one row per canonical URL with the smallest `idCol`
    * (deterministic winner) and the duplicate count. One hash shuffle on
    * the canonical key with map-side partial aggregation — the exact shape
    * of [[DedupOps.exactDuplicateGroups]], so everything SCALE.md argues
    * there (dense uniform digest keys, AQE skew splits) applies. */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.select(canonicalUrl(col(urlCol)).as("url"), col(idCol))
      .groupBy("url")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(col(idCol), col("url"), col("n_dups"))

  /** Raw `href` targets of an HTML column, in document order — one
    * codegen'd `regexp_extract_all` (quoted href values, fragment cut at
    * `#`), no UDF. Relative targets come out as-is; pair with
    * [[linkDomainEdges]]' absolute-link filter or [[canonicalUrl]]. */
  def hrefTargets(html: Column): Column =
    regexp_extract_all(html,
      lit("(?i)href\\s*=\\s*[\"']([^\"'#>]+)"), lit(1))

  /** Host of an absolute http(s) URL (lower-cased, userinfo and port
    * stripped); NULL for anything else — the registrable unit the link
    * graph aggregates on. Pure regexp, codegen'd. */
  def linkHost(url: Column): Column = {
    val h = CaseMap.lower(regexp_extract(url,
      "^(?i)https?://(?:[^/@?#]*@)?([^:/?#]+).*", 1))
    when(h =!= "", h)
  }

  /** Domain-level link graph from crawled HTML: explode every absolute
    * http(s) `href`, roll up to `(src_domain, dst_domain)` edges with
    * link and linking-document counts. Self-links (src == dst) are kept —
    * internal-link density is itself a useful crawl signal; filter them
    * for a cross-domain graph. Relative and non-http targets are
    * EXCLUDED by construction ([[linkHost]] yields NULL). This is the
    * intake step that feeds the graph family (PageRank/HITS over domain
    * edges — q93/q172) straight from raw crawl HTML.
    *
    * Output: (src_domain, dst_domain, n_links, n_docs).
    *
    * Scale: extraction is per-row codegen'd regexp (embarrassingly
    * parallel — the WARC-intake shape); the explode carries only the
    * short href strings, never the HTML; ONE aggregation keyed by
    * (src, dst, doc) collapses per-doc repeats map-side, then the edge
    * rollup runs on the bounded edge table. HTML never shuffles. */
  def linkDomainEdges(docs: DataFrame, srcDomainCol: String,
      htmlCol: String, idCol: String): DataFrame =
    docs
      .select(col(srcDomainCol).as("src_domain"), col(idCol).as("__doc"),
        explode(hrefTargets(col(htmlCol))).as("__url"))
      .select(col("src_domain"), col("__doc"),
        linkHost(col("__url")).as("dst_domain"))
      .filter(col("dst_domain").isNotNull)
      .groupBy("src_domain", "dst_domain", "__doc")
      .agg(count(lit(1)).as("__n"))
      .groupBy("src_domain", "dst_domain")
      .agg(sum("__n").as("n_links"), count(lit(1)).as("n_docs"))

  /** The k most-linked destination domains of a [[linkDomainEdges]]
    * graph: inbound links, linking documents, and distinct linking
    * domains. TakeOrdered over the bounded edge table — never a global
    * sort; ties break by domain ascending. */
  def topLinkedDomains(edges: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    edges.groupBy("dst_domain")
      .agg(sum("n_links").as("n_links"), sum("n_docs").as("n_docs"),
        count(lit(1)).as("n_src_domains"))
      .orderBy(desc("n_links"), asc("dst_domain"))
      .limit(k)
  }
}
