package graft

import graft.operators.WebExtract
import graft.operators.WebExtract.Block

/** HTML main-content extraction: tokenizer edge cases, block
  * segmentation, classification + gap-fill semantics, fixture
  * hand-checks, nulls/fuzz, zero-shuffle plan shape. */
class WebExtractSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def texts(html: String): Vector[String] =
    WebExtract.blocks(html).map(_.text)

  test("block walk: tags segment, head/script/style subtrees vanish, " +
    "comments and CDATA vanish, entities decode, quoted '>' survives") {
    val html =
      """<!DOCTYPE html><html><head><title>T</title>
        |<style>p > a { color: red }</style></head><body>
        |<!-- a comment <p>not a block</p> -->
        |<p>alpha &amp; beta &lt;tag&gt; &#65;&#x42;</p>
        |<script>if (1 < 2) { document.write("<p>js</p>"); }</script>
        |<![CDATA[ not text ]]>
        |<p>second</p>
        |<a href="a>b"><p>inside</p></a>
        |</body></html>""".stripMargin
    assert(texts(html) ===
      Vector("alpha & beta <tag> AB", "second", "inside"))
  }

  test("block walk: nested boilerplate ancestors flag, anchors count link " +
    "chars, br is a space, unknown entities pass through") {
    val html =
      "<body><nav><div><a href='/x'>one link</a> plain</div></nav>" +
        "<p>text&bogus; a<br>b</p>" +
        "<footer><p>foot</p></footer></body>"
    val bs = WebExtract.blocks(html)
    assert(bs.map(b => (b.text, b.boiler)) ===
      Vector(("one link plain", true), ("text&bogus; a b", false),
        ("foot", true)))
    assert(bs(0).linkChars === 8) // "one link"
    assert(bs(1).linkChars === 0)
  }

  test("block walk: whitespace collapses, words and stopwords count, " +
    "uppercase tags, unclosed document, self-closing skip tag") {
    val bs = WebExtract.blocks(
      "<BODY><P>  The   cat \n\t sat on the   mat </P><script/><P>tail")
    assert(bs.map(_.text) === Vector("The cat sat on the mat", "tail"))
    assert(bs(0).words === 6)
    assert(bs(0).stopWords === 3) // the, on, the
    assert(bs(0).chars === 22)
  }

  test("classification: boiler bad, short gap-fill needs GOOD on both " +
    "sides, link density and stopword thresholds") {
    def b(text: String, linkChars: Int = 0, boiler: Boolean = false): Block = {
      val words = text.split(' ')
      Block(text, text.length, words.length,
        words.count(w => Set("the", "is", "on", "and", "in", "for", "a",
          "of", "to", "it", "with", "at").contains(w.toLowerCase)),
        linkChars, boiler)
    }
    val good = b("the quick value is on the record and it stays in the set for now")
    val short = b("Fig 1")
    val linky = b("click all of these links to win prizes now today friend",
      linkChars = 56)
    val data = b("alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val boil = b("the quick value is on the record and it stays here now",
      boiler = true)
    // GOOD, SHORT, GOOD → gap-filled
    assert(WebExtract.keepFlags(Vector(good, short, good), 25, 300, 150) ===
      Vector(true, true, true))
    // GOOD, SHORT, BAD-link → short drops
    assert(WebExtract.keepFlags(Vector(good, short, linky), 25, 300, 150) ===
      Vector(true, false, false))
    // SHORT at the document edge drops (no non-short neighbour)
    assert(WebExtract.keepFlags(Vector(short, good), 25, 300, 150) ===
      Vector(false, true))
    // stopword-free listing is BAD; boiler is BAD even with prose stats
    assert(WebExtract.keepFlags(Vector(data, boil), 25, 300, 150) ===
      Vector(false, false))
    // consecutive shorts between goods: all kept (nearest non-short
    // neighbours are the flanking goods for each)
    assert(WebExtract.keepFlags(Vector(good, short, short, good), 25, 300, 150) ===
      Vector(true, true, true, true))
  }

  test("fixture hand-check: even id keeps figure between paragraphs, odd " +
    "id drops tags block; ad/header/nav/aside/footer always drop") {
    import spark.implicits._
    val docs = Seq(4L, 7L).toDF("doc_id")
    val out = WebExtract.htmlExtract(WebExtract.syntheticHtmlDocs(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getString(6)))).toMap
    // id=4: np=6? no — np = 2 + 4%4 = 2; n_blocks = 9 + 4%4 + 4%2 = 9
    val (ti4, nb4, nk4, nc4, nw4, t4) = out(4L)
    assert(ti4 === "Doc 4")
    assert(nb4 === 9L)
    assert(nk4 === 3L) // 2 paragraphs + gap-filled figure
    assert(t4 === WebExtract.paraText(4, 0) + "\nFigure 4\n" +
      WebExtract.paraText(4, 1))
    assert(nw4 === 22L + 2L + 22L)
    assert(nc4 === (WebExtract.paraText(4, 0).length + 8 +
      WebExtract.paraText(4, 1).length).toLong)
    // id=7: np = 2 + 7%4 = 5; n_blocks = 9 + 3 + 1 = 13; kept = 5 paras
    val (_, nb7, nk7, _, nw7, t7) = out(7L)
    assert(nb7 === 13L)
    assert(nk7 === 5L)
    assert(t7 === (0 until 5).map(p => WebExtract.paraText(7, p)).mkString("\n"))
    assert(nw7 === 5L * 22L)
  }

  test("title extraction: entities, attributes, absence, unterminated, " +
    "lookalike tags, codepoint cap") {
    import WebExtract.htmlTitle
    assert(htmlTitle("<html><head><title>A &amp; B  c</title></head>") === "A & B c")
    assert(htmlTitle("<TITLE lang=\"en\">Caps</TITLE>") === "Caps")
    assert(htmlTitle("<body>no head</body>") === "")
    assert(htmlTitle("<title>unterminated run") === "unterminated run")
    assert(htmlTitle("<titlefoo>not a title</titlefoo>") === "")
    assert(htmlTitle(null) === "")
    val cat = new String(Character.toChars(0x1F408))
    assert(htmlTitle("<title>" + cat * 600 + "</title>") === cat * 512,
      "cap counts codepoints, never splits a surrogate pair")
  }

  test("robots parser: group selection, stacked agents, comments, " +
    "wildcard skip, empty disallow, unknown keys") {
    val txt =
      """# header comment
        |User-agent: bad-bot
        |Disallow: /
        |
        |User-agent: other
        |User-agent: *
        |Crawl-delay: 10
        |Disallow: /a   # trailing comment
        |Allow: /a/b
        |Disallow: /wild*card
        |Disallow:
        |Allow: /end$
        |
        |User-agent: bad-bot-2
        |Disallow: /x
        |""".stripMargin
    // only the group CONTAINING '*' contributes (stacked UA lines);
    // the wildcard rule and the empty disallow are dropped
    assert(WebExtract.robotsRules(txt) ===
      Vector(("/a", false), ("/a/b", true), ("/end$", true)))
    assert(WebExtract.robotsRules(null) === Vector.empty)
    assert(WebExtract.robotsRules("Disallow: /orphan") === Vector.empty,
      "rules before any user-agent group are ignored")
  }

  test("robots decision: longest match wins, Allow wins ties, '$' anchors " +
    "exactly, no match allows") {
    import spark.implicits._
    val robots = Seq(("h.test", "User-agent: *\nDisallow: /a\nAllow: /a/b\n" +
      "Disallow: /a/b/c\nDisallow: /exact$\nDisallow: /t\nAllow: /t\n"))
      .toDF("host", "robots_txt")
    val paths = Seq("/a/x", "/a/b/x", "/a/b/c/x", "/exact", "/exactly", "/t/x",
      "/elsewhere")
    val urls = paths.zipWithIndex.map { case (p, i) => (i.toLong, "https://h.test" + p) }
      .toDF("doc_id", "url")
    val got = WebExtract.robotsGate(urls, robots).collect()
      .map(r => paths(r.getLong(0).toInt) -> ((r.getLong(2) == 1L, r.getLong(3).toInt)))
      .toMap
    assert(got("/a/x") === ((false, 2)))      // /a
    assert(got("/a/b/x") === ((true, 4)))     // /a/b beats /a
    assert(got("/a/b/c/x") === ((false, 6)))  // longest
    assert(got("/exact") === ((false, 6)))    // anchored hit
    assert(got("/exactly") === ((true, 0)), "'$' must not prefix-match")
    assert(got("/t/x") === ((true, 2)), "Allow wins the tie")
    assert(got("/elsewhere") === ((true, 0)))
  }

  test("robots gate: frontier decisions match per-id expectations, " +
    "missing host allows, frontier stays shuffle-free") {
    import spark.implicits._
    // expectations from the fixture's m%3 rule families over depth d
    val docs = (0L until 100L).toDF("doc_id")
    val urls = docs.withColumn("url",
      concat(lit("https://www.site"), (col("doc_id") % 23).cast("string"),
        element_at(array(lit(".com"), lit(".org"), lit(".click"), lit(".info")),
          (col("doc_id") % 4 + 1).cast("int")),
        expr("repeat('/sub', CAST(doc_id % 7 AS INT) + 1)"),
        lit("/page"), (col("doc_id") % 50).cast("string")))
    val out = WebExtract.robotsGate(urls, WebExtract.syntheticRobots(spark))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    val got = out.collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    for (id <- 0L until 100L) {
      val m = id % 23
      val d = 1 + id % 7
      val exp = (m % 3, d) match {
        case (0, 3) => (0L, 12L)
        case (0, dd) if dd >= 4 => (1L, 16L)
        case (0, _) => (1L, 0L)
        case (1, dd) if dd >= 6 => (0L, 24L)
        case (1, _) => (1L, 0L)
        case (_, dd) if dd >= 5 => (0L, 20L)
        case _ => (1L, 4L)
      }
      assert(got(id) === exp, s"id=$id m=$m d=$d")
    }
    // a host with no robots row default-allows
    val foreign = Seq((999L, "https://unknown.example/deep/deep/path"))
      .toDF("doc_id", "url")
    val g2 = WebExtract.robotsGate(foreign, WebExtract.syntheticRobots(spark))
      .collect().head
    assert((g2.getLong(2), g2.getLong(3)) === ((1L, 0L)))
  }

  test("property fuzz: random tag soup never throws; census invariants " +
    "hold; blocks/keepFlags/htmlExtract agree") {
    val rnd = new scala.util.Random(1234)
    val atoms = Array("<p>", "</p>", "<div>", "</div>", "<a href='x'>",
      "</a>", "<nav>", "</nav>", "<script>", "</script>", "<br>", "<!--",
      "-->", "<![CDATA[", "]]>", "&amp;", "&#65;", "&bogus;", "&", "<",
      ">", "\"", "the ", "data ", "point. ", "x9 ", " \n\t", "<title>",
      "</title>", "<TITLE >", "</head>", "<head>", "word ",
      "<p attr=\"a>b\">", "é中🐈 ")
    for (trial <- 1 to 300) {
      val n = rnd.nextInt(60)
      val html = Seq.fill(n)(atoms(rnd.nextInt(atoms.length))).mkString
      // never throws, and the pieces agree with each other
      val bs = WebExtract.blocks(html)
      val keep = WebExtract.keepFlags(bs, 25, 300, 150)
      assert(keep.length === bs.length, s"trial=$trial")
      val kept = bs.zip(keep).collect { case (b, true) => b }
      assert(kept.forall(b => !b.boiler), s"trial=$trial boiler leaked")
      bs.foreach { b =>
        assert(b.chars > 0 && b.words > 0, s"trial=$trial empty block emitted")
        assert(b.stopWords <= b.words && b.linkChars >= 0, s"trial=$trial")
        assert(b.text === b.text.trim, s"trial=$trial unnormalized")
      }
      WebExtract.htmlTitle(html) // never throws
    }
  }

  test("nulls, empties and binary garbage never throw; zero shuffle") {
    import spark.implicits._
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "<"),
      (4L, "plain text with no tags at all but the words are here and the story is told for you"),
      (5L, new String(Array.tabulate[Byte](64)(i => (i * 37).toByte), "ISO-8859-1")),
      (6L, "<p>" + ("a" * 100000) + "</p>")).toDF("doc_id", "html")
    val out = WebExtract.htmlExtract(docs)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m(1L) === 0L && m(2L) === 0L)
    // bare prose with stopwords is one GOOD block
    assert(m(4L) === 1L)
    // 100k 'a' run: one block, zero stopwords → dropped, but walk is O(n)
    assert(m(6L) === 0L)
  }
}
