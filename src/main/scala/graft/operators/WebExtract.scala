package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HTML main-content extraction — the step between a WARC response
  * payload and the text pipeline, and the single most-executed
  * operator of a real web-corpus build. Block-level boilerplate
  * removal in the jusText/trafilatura family: segment the document on
  * block-level tags, score every block by link density, length and
  * stopword share in EXACT INTEGERS (permille), drop structural
  * boilerplate (nav/header/footer/aside subtrees) outright, and keep
  * the main-content run with a short-block gap-fill between good
  * neighbours. A regex tag-strip (TextAnalysis `text_normalize`)
  * keeps the nav links, cookie banners and footer legalese glued to
  * the article; this operator is what actually turns crawled HTML
  * into training text.
  *
  * Parsing is a hand-rolled single-pass walk over untrusted bytes —
  * same discipline as the Multimodal codecs: never throws, never
  * trusts nesting to be well-formed, bounds all scans by the input
  * length. No external HTML library (zero-dependency build), and the
  * subset handled is exactly what block segmentation needs: tags with
  * quoted attributes, comments, CDATA, script/style/head subtrees,
  * character/numeric entities, case-insensitive tag names.
  *
  * Scale shape: narrow per-row `mapPartitions`, ZERO shuffle — the
  * extractor composes into the WARC scan and the downstream quality
  * gates without a single Exchange, so at 100 TB it rides the ingest
  * scan for free. (A Catalyst expression cannot reasonably host the
  * block walk + two-sided gap-fill, and a per-row JVM map is already
  * whole-partition streaming; this is the documented `mapPartitions`
  * seam, not a fallback.)
  */
object WebExtract {

  // Tags that OPEN/CLOSE a text block: any transition flushes the
  // pending run of inline text into a block of its own.
  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "dl", "dt", "dd", "table", "thead", "tbody", "tfoot", "tr", "td",
    "th", "caption", "blockquote", "pre", "article", "section",
    "aside", "header", "footer", "nav", "main", "body", "html",
    "form", "figure", "figcaption", "hr", "fieldset", "address")

  // Structural boilerplate: every block inside one of these subtrees
  // is discarded regardless of its metrics (trafilatura's prune list).
  private val BoilerTags: Set[String] = Set("nav", "header", "footer", "aside")

  // Subtrees whose character data is NOT document text.
  private val SkipTags: Set[String] = Set(
    "script", "style", "noscript", "template", "svg", "head", "iframe",
    "object", "select", "textarea")

  // Small fixed English stoplist for the prose test (jusText's signal:
  // real sentences carry function words; link lists and data tables
  // don't). Fixed and documented so results are reproducible.
  private val Stop: Set[String] = Set(
    "the", "a", "an", "of", "to", "and", "in", "is", "are", "was",
    "were", "on", "it", "that", "this", "with", "for", "as", "at",
    "be", "by", "or", "we", "you", "from", "has", "have", "not")

  /** One segmented text block: whitespace-normalized text, codepoint
    * count, word count, stopword count, codepoints that arrived inside
    * an `<a>` subtree, and whether a nav/header/footer/aside ancestor
    * was open when the block flushed. */
  private[graft] final case class Block(
      text: String, chars: Int, words: Int, stopWords: Int,
      linkChars: Int, boiler: Boolean)

  /** Decode the entity starting at `s(i)` (which is '&'). Returns
    * (decoded string, chars consumed). Unknown entities pass through
    * literally — crawled HTML is full of bare ampersands. */
  private def entity(s: String, i: Int): (String, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 12) return ("&", 1)
    val name = s.substring(i + 1, semi)
    name match {
      case "amp"  => ("&", semi - i + 1)
      case "lt"   => ("<", semi - i + 1)
      case "gt"   => (">", semi - i + 1)
      case "quot" => ("\"", semi - i + 1)
      case "apos" => ("'", semi - i + 1)
      case "nbsp" => (" ", semi - i + 1)
      case n if n.startsWith("#") =>
        val body = n.substring(1)
        val cp =
          try {
            if (body.startsWith("x") || body.startsWith("X"))
              Integer.parseInt(body.substring(1), 16)
            else Integer.parseInt(body)
          } catch { case _: NumberFormatException => -1 }
        if (cp >= 0x20 && cp <= 0x10ffff && (cp < 0xd800 || cp > 0xdfff))
          (new String(Character.toChars(cp)), semi - i + 1)
        else ("&", 1)
      case _ => ("&", 1)
    }
  }

  /** Case-insensitive scan for the closing tag of a skip subtree
    * (`</script`), returning the index AFTER its '>', or the input
    * length when unterminated (rest of document is dead). */
  private def skipSubtree(s: String, from: Int, tag: String): Int = {
    val needle = "</" + tag
    var i = from
    val n = s.length
    while (i + needle.length <= n) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) {
        val gt = s.indexOf('>', i + needle.length)
        return if (gt < 0) n else gt + 1
      }
      i += 1
    }
    n
  }

  /** The document title — the one piece of head content extraction
    * keeps (the block walk skips the head subtree wholesale): first
    * `<title>` element's text, entity-decoded, whitespace-normalized,
    * capped at 512 codepoints; "" when absent/empty. Never throws. */
  private[graft] def htmlTitle(html0: String): String = {
    val s = if (html0 == null) "" else html0
    var i = 0
    val n = s.length
    var at = -1
    while (at < 0 && i + 7 <= n) {
      if (s.regionMatches(true, i, "<title", 0, 6) &&
          (s.charAt(i + 6) == '>' || s.charAt(i + 6).isWhitespace)) {
        val gt = s.indexOf('>', i + 6)
        at = if (gt < 0) n else gt + 1
      }
      i += 1
    }
    if (at < 0 || at >= n) return ""
    var end = at
    var close = -1
    while (close < 0 && end + 8 <= n) {
      if (s.regionMatches(true, end, "</title", 0, 7)) close = end
      end += 1
    }
    if (close < 0) close = n
    // decode + normalize through the block machinery on the slice
    val inner = s.substring(at, close)
    val sb = new java.lang.StringBuilder(inner.length)
    var j = 0
    while (j < inner.length) {
      val c = inner.charAt(j)
      if (c == '&') {
        val (dec, used) = entity(inner, j)
        sb.append(dec)
        j += used
      } else { sb.append(c); j += 1 }
    }
    val t = sb.toString.split("[ \\t\\n\\r\\f]+").filter(_.nonEmpty).mkString(" ")
    if (t.codePointCount(0, t.length) > 512)
      t.substring(0, t.offsetByCodePoints(0, 512))
    else t
  }

  /** Segment an HTML document into text blocks. Total O(n); never
    * throws on arbitrary bytes-as-string input. */
  private[graft] def blocks(html0: String): Vector[Block] = {
    val s = if (html0 == null) "" else html0
    val n = s.length
    val out = Vector.newBuilder[Block]
    val buf = new java.lang.StringBuilder
    val linkBuf = new java.lang.StringBuilder
    var boilDepth = 0
    var anchorDepth = 0

    def normalize(sb: java.lang.StringBuilder): String = {
      val t = sb.toString
      val b = new java.lang.StringBuilder(t.length)
      var i = 0
      var pendingSpace = false
      while (i < t.length) {
        val c = t.charAt(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f')
          pendingSpace = b.length() > 0
        else {
          if (pendingSpace) { b.append(' '); pendingSpace = false }
          b.append(c)
        }
        i += 1
      }
      b.toString
    }

    def flush(): Unit = {
      val text = normalize(buf)
      if (text.nonEmpty) {
        val link = normalize(linkBuf)
        var words = 0
        var stop = 0
        var i = 0
        while (i < text.length) {
          var j = text.indexOf(' ', i)
          if (j < 0) j = text.length
          words += 1
          val w = text.substring(i, j).toLowerCase(java.util.Locale.ROOT)
          if (Stop.contains(w)) stop += 1
          i = j + 1
        }
        out += Block(text, text.codePointCount(0, text.length), words,
          stop, link.codePointCount(0, link.length), boilDepth > 0)
      }
      buf.setLength(0)
      linkBuf.setLength(0)
    }

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (s.regionMatches(true, i, "<![CDATA[", 0, 9)) {
          val e = s.indexOf("]]>", i + 9)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n &&
            (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '/' ||
             s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val closing = s.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && (s.charAt(j).isLetterOrDigit)) j += 1
          val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          // scan to the tag's real '>', honouring quoted attribute
          // values (href="a>b" must not end the tag)
          var quote = 0.toChar
          var selfClosed = false
          while (j < n && (quote != 0 || s.charAt(j) != '>')) {
            val cj = s.charAt(j)
            if (quote != 0) { if (cj == quote) quote = 0 }
            else if (cj == '"' || cj == '\'') quote = cj
            j += 1
          }
          if (j < n && j > i && s.charAt(j - 1) == '/') selfClosed = true
          val after = if (j < n) j + 1 else n
          if (name.isEmpty) i = after
          else if (!closing && SkipTags.contains(name) && !selfClosed) {
            if (BlockTags.contains(name)) flush()
            i = skipSubtree(s, after, name)
          } else {
            if (BlockTags.contains(name)) flush()
            if (name == "a") {
              if (closing) anchorDepth = math.max(0, anchorDepth - 1)
              else if (!selfClosed) anchorDepth += 1
            } else if (BoilerTags.contains(name)) {
              if (closing) boilDepth = math.max(0, boilDepth - 1)
              else if (!selfClosed) boilDepth += 1
            } else if (name == "br") buf.append(' ')
            i = after
          }
        } else { buf.append('<'); if (anchorDepth > 0) linkBuf.append('<'); i += 1 }
      } else if (c == '&') {
        val (dec, used) = entity(s, i)
        buf.append(dec)
        if (anchorDepth > 0) linkBuf.append(dec)
        i += used
      } else {
        buf.append(c)
        if (anchorDepth > 0) linkBuf.append(c)
        i += 1
      }
    }
    flush()
    out.result()
  }

  /** Classify blocks and mark the kept set. Exact-integer jusText:
    *  - boilerplate-ancestor blocks are BAD outright;
    *  - blocks under `minChars` codepoints are SHORT;
    *  - link density over `maxLinkPermille` is BAD (link farm);
    *  - stopword share under `minStopPermille` is BAD (nav/data, not
    *    prose);
    *  - everything else is GOOD.
    * Gap-fill: a SHORT block is kept iff its nearest non-SHORT
    * neighbour on BOTH sides is GOOD (captions and figure labels
    * inside the article survive; stray fragments at the edges drop).
    */
  private[graft] def keepFlags(bs: Vector[Block], minChars: Int,
      maxLinkPermille: Int, minStopPermille: Int): Vector[Boolean] = {
    val BAD = 0; val SHORT = 1; val GOOD = 2
    val cls = bs.map { b =>
      if (b.boiler) BAD
      else if (b.chars < minChars) SHORT
      else if (1000L * b.linkChars / b.chars > maxLinkPermille) BAD
      else if (b.words == 0 || 1000L * b.stopWords / b.words < minStopPermille) BAD
      else GOOD
    }
    val n = cls.length
    // nearest non-SHORT class to the left/right of every position
    val left = new Array[Int](n)
    var last = BAD
    var i = 0
    while (i < n) {
      left(i) = last
      if (cls(i) != SHORT) last = cls(i)
      i += 1
    }
    val right = new Array[Int](n)
    last = BAD
    i = n - 1
    while (i >= 0) {
      right(i) = last
      if (cls(i) != SHORT) last = cls(i)
      i -= 1
    }
    Vector.tabulate(n) { k =>
      cls(k) == GOOD ||
        (cls(k) == SHORT && left(k) == GOOD && right(k) == GOOD)
    }
  }

  /** Per-document main-content extraction: block census + the
    * extracted text (kept blocks joined by '\n' in document order).
    * Hashing `text` downstream pins the entire walk — tokenizer,
    * entity decode, subtree skips, classification and gap-fill.
    *
    * Output: doc_id, n_blocks, n_kept, n_chars (codepoints summed
    * over kept blocks), n_words, text.
    */
  def htmlExtract(docs: DataFrame, htmlCol: String = "html",
      idCol: String = "doc_id", minChars: Int = 25,
      maxLinkPermille: Int = 300, minStopPermille: Int = 150,
      passCols: Seq[String] = Nil): DataFrame = {
    val passFields = passCols.map(c => docs.schema(c))
    val schema = StructType(
      StructField("doc_id", LongType, nullable = false) +: passFields :+
      StructField("title", StringType, nullable = false) :+
      StructField("n_blocks", LongType, nullable = false) :+
      StructField("n_kept", LongType, nullable = false) :+
      StructField("n_chars", LongType, nullable = false) :+
      StructField("n_words", LongType, nullable = false) :+
      StructField("text", StringType, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val nPass = passCols.length
    docs.select((col(idCol) +: col(htmlCol) +: passCols.map(col)): _*)
      .mapPartitions { it =>
        it.map { r =>
          val html = if (r.isNullAt(1)) "" else r.getString(1)
          val bs = blocks(html)
          val keep = keepFlags(bs, minChars, maxLinkPermille, minStopPermille)
          val kept = bs.zip(keep).collect { case (b, true) => b }
          val pass = (0 until nPass).map(k => r.get(2 + k))
          Row.fromSeq(r.getLong(0) +: pass :+ htmlTitle(html) :+
            bs.length.toLong :+ kept.length.toLong :+
            kept.map(_.chars.toLong).sum :+ kept.map(_.words.toLong).sum :+
            kept.map(_.text).mkString("\n"))
        }
      }(enc)
  }

  // ------------------------------------------------------------------
  // robots.txt gate — crawl compliance, the other half of the URL
  // frontier (text_url_quality scores junk; this enforces the site's
  // own exclusion rules). RFC 9309 longest-match semantics over the
  // `*` user-agent group: among matching Allow/Disallow path rules the
  // LONGEST prefix wins, Allow wins length ties, no match = allowed.
  // Supported rule subset (documented): literal path prefixes + the
  // trailing '$' exact-match anchor; rules containing '*' wildcards
  // are skipped (refused loudly at parse, not silently mis-matched).
  // ------------------------------------------------------------------

  /** Parse a robots.txt body into the `*` group's (path, isAllow)
    * rules, in file order. Group selection per RFC 9309: consecutive
    * `User-agent` lines stack onto the group that follows; only groups
    * naming `*` contribute. Comments (#) stripped, keys
    * case-insensitive, empty Disallow discarded (explicit allow-all),
    * '*'-wildcard rules skipped. Never throws. */
  private[graft] def robotsRules(txt0: String): Vector[(String, Boolean)] = {
    val txt = if (txt0 == null) "" else txt0
    val out = Vector.newBuilder[(String, Boolean)]
    var inStarGroup = false
    var collectingAgents = false
    var groupHasStar = false
    txt.split('\n').foreach { line0 =>
      val hash = line0.indexOf('#')
      val line = (if (hash >= 0) line0.substring(0, hash) else line0).trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (!collectingAgents) { collectingAgents = true; groupHasStar = false }
              if (value == "*") groupHasStar = true
            case "allow" | "disallow" =>
              if (collectingAgents) { inStarGroup = groupHasStar; collectingAgents = false }
              if (inStarGroup && value.nonEmpty && !value.contains('*'))
                out += ((value, key == "allow"))
            case _ => () // crawl-delay, sitemap, unknown keys: ignored
          }
        }
      }
    }
    out.result()
  }

  /** Gate a URL frontier against per-host robots.txt bodies:
    * (doc_id, host, allowed, rule_len) per URL. The robots side is
    * model-small (one row per registered host — KB per million docs):
    * rules parse narrowly, aggregate into one array PER HOST, and
    * BROADCAST into the URL scan; the longest-match fold runs as a
    * higher-order `aggregate` over that tiny array, so the frontier
    * itself never shuffles — at 100 TB the gate rides the scan. */
  def robotsGate(urls: DataFrame, robots: DataFrame,
      urlCol: String = "url", idCol: String = "doc_id"): DataFrame = {
    val rulesSchema = StructType(Seq(
      StructField("host", StringType, nullable = false),
      StructField("body", StringType, nullable = false),
      StructField("blen", LongType, nullable = false),
      StructField("anchor", LongType, nullable = false),
      StructField("allow", LongType, nullable = false)))
    val rulesEnc = org.apache.spark.sql.Encoders.row(rulesSchema)
    val rules = robots.select(col("host"), col("robots_txt"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val host = r.getString(0)
          robotsRules(if (r.isNullAt(1)) "" else r.getString(1)).map {
            case (p, a) =>
              val anchored = p.endsWith("$")
              val body = if (anchored) p.dropRight(1) else p
              Row(host, body, body.length.toLong,
                if (anchored) 1L else 0L, if (a) 1L else 0L)
          }
        }
      }(rulesEnc)
      // per-host rule array: the shuffle happens on the KB-scale
      // robots side only, once
      .groupBy(col("host"))
      .agg(collect_list(struct(col("body"), col("blen"), col("anchor"),
        col("allow"))).as("__rules"))
    val u = urls.withColumn("host",
        lower(regexp_extract(col(urlCol),
          "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)))
      .withColumn("__path",
        regexp_extract(col(urlCol),
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1))
    val best = expr(
      """aggregate(
        |  coalesce(__rules, array()),
        |  named_struct('rlen', CAST(-1 AS BIGINT), 'allow', CAST(1 AS BIGINT)),
        |  (acc, r) -> IF(
        |    (CASE WHEN r.anchor = 1 THEN __path = r.body
        |          ELSE startswith(__path, r.body) END)
        |    AND (r.blen > acc.rlen OR (r.blen = acc.rlen AND r.allow > acc.allow)),
        |    named_struct('rlen', r.blen, 'allow', r.allow),
        |    acc))""".stripMargin)
    u.join(broadcast(rules), Seq("host"), "left")
      .withColumn("__best", best)
      .select(col(idCol), col("host"),
        when(col("__best.rlen") < 0, lit(1L))
          .otherwise(col("__best.allow")).as("allowed"),
        when(col("__best.rlen") < 0, lit(0L))
          .otherwise(col("__best.rlen")).as("rule_len"))
  }

  /** Deterministic per-host robots.txt keyed on the host's site
    * number `m` (fixture twin of the analytic decision table in the
    * oracle): a decoy `bad-bot` deny-all group that must be ignored,
    * a `/private` rule that never matches the frontier, and an
    * m%3-selected rule family exercising longest-match, Allow-over-
    * Disallow ties, the '$' anchor and the no-match default. */
  private[graft] def robotsTxtFor(m: Long): String = {
    val base = "# synthetic robots for site " + m + "\n" +
      "User-agent: bad-bot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /private\n"
    base + ((m % 3) match {
      case 0 =>
        // depth-3 pages denied; depth >= 4 re-allowed by the longer rule
        "Disallow: /sub/sub/sub\nAllow: /sub/sub/sub/sub\n"
      case 1 =>
        // the '$' rule matches nothing in the frontier (paths carry a
        // page suffix); depth >= 6 denied
        "Disallow: /sub/page$\nDisallow: /sub/sub/sub/sub/sub/sub\n"
      case _ =>
        // deny-all + allow /sub (ties: every path matches both; /sub
        // is longer) with a deeper deny for depth >= 5
        "Disallow: /\nAllow: /sub\nDisallow: /sub/sub/sub/sub/sub\n"
    })
  }

  /** One robots.txt row per distinct host in the varied-URL fixture
    * (hosts are www.site{m}{tld} for m in 0..22). */
  def syntheticRobots(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("host", StringType, nullable = false),
      StructField("robots_txt", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    spark.range(0, 23 * 4).toDF("i").mapPartitions { it =>
      it.map { r =>
        val i = r.getLong(0)
        val m = i / 4
        val tld = Seq(".com", ".org", ".click", ".info")((i % 4).toInt)
        Row(s"www.site$m$tld", robotsTxtFor(m))
      }
    }(enc)
  }

  /** The analytic paragraph `p` of document `id` — shared between the
    * fixture builder and (re-spelled in SQL) the DuckDB oracle. */
  private[graft] def paraText(id: Long, p: Long): String =
    s"the quick data point ${(id * 7 + p) % 1000} is on the record & file " +
      s"and the value ${(id + p) % 100} stays in the set for now ."

  /** Deterministic full-page HTML keyed on doc_id — every page carries
    * the real boilerplate zoo (head with title/style/script, link-list
    * header + nav, a link-dense ad block mid-article, a short figure
    * label, odd-id aside, footer) around 2 + id%4 analytic paragraphs.
    * Even ids place the short block BETWEEN good paragraphs (gap-fill
    * keeps it); odd ids place it after the article against the footer
    * (gap-fill drops it). Entities (&amp;) appear in every paragraph
    * so the oracle hash proves entity decode. */
  def syntheticHtmlDocs(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("html", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id")).mapPartitions { it =>
      it.map(r => Row(r.getLong(0), htmlFor(r.getLong(0))))
    }(enc)
  }

  /** The analytic page of document `id` (see [[syntheticHtmlDocs]]). */
  private[graft] def htmlFor(id: Long): String = {
    val np = 2 + id % 4
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html><html><head><title>Doc " + id + "</title>"
    sb ++= "<style>body { margin: 0; } .ad > a { color: red; }</style>"
    sb ++= "<script>var n = " + id + "; if (n < 2) { n = 2; }</script></head><body>"
    sb ++= "<header><a href=\"/\">Home " + (id % 3) + "</a> <a href=\"/about\">About us</a></header>"
    sb ++= "<nav><ul><li><a href=\"/c1\">cat one</a></li><li><a href=\"/c2\">cat two</a></li>" +
      "<li><a href=\"/c3\">cat three</a></li></ul></nav>"
    sb ++= "<article>"
    var p = 0L
    while (p < np) {
      sb ++= "<p>" + paraText(id, p).replace("&", "&amp;") + "</p>"
      // the short figure label sits BETWEEN two good paragraphs
      // (gap-fill keeps it); the link-dense ad comes after the
      // second paragraph (and is never gap-filled around)
      if (p == 0 && id % 2 == 0)
        sb ++= "<div>Figure " + (id % 10) + "</div>"
      if (p == 1)
        sb ++= "<div class=\"ad\"><a href=\"/buy\">Buy cheap deals now and click here to win " +
          (id % 7) + " prizes today</a></div>"
      p += 1
    }
    sb ++= "</article>"
    if (id % 2 == 1) sb ++= "<div>Tags: x" + (id % 5) + "</div>"
    if (id % 2 == 1)
      sb ++= "<aside>related stories you may like <a href=\"/r\">read more</a></aside>"
    sb ++= "<footer>(c) " + (2000 + id % 20) + " Example Corp all rights reserved " +
      "<a href=\"/terms\">terms</a></footer></body></html>"
    sb.toString
  }
}
