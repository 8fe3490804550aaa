package graft

import graft.functions.Html
import graft.functions.Html.{Elem, Text}
import graft.operators.Ratings

/** The lenient DOM parser + selector engine, and the property the C9-C12
  * extractors rely on it for: markup noise (quote style, attribute order,
  * comments, nested inline tags) does not break them.
  */
class HtmlSpec extends SparkTestBase {
  import spark.implicits._

  test("parser: nesting, attributes in any quote style, entities") {
    val root = Html.parse(
      """<div id=main class="a  b" data-x='q&amp;a'><p>one</p><p>two &lt;3</p></div>""")
    val div = Html.select(root, "div#main").head
    assert(div.attrs("class") == "a  b")
    assert(div.attrs("data-x") == "q&a")
    assert(Html.select(root, "div p").map(_.text) == Vector("one", "two <3"))
  }

  test("parser: void elements, self-close, comments, doctype, raw script") {
    val root = Html.parse(
      """<!DOCTYPE html><!-- <div>not real</div> -->
        |<img src=x><br/><script>if (a < b) { "</p>" }</script><p>after</p>"""
        .stripMargin)
    assert(Html.select(root, "div").isEmpty, "commented-out markup is not parsed")
    assert(Html.select(root, "img").head.attrs("src") == "x")
    assert(Html.select(root, "p").map(_.text) == Vector("after"),
      "script raw text must not spawn elements")
    assert(Html.select(root, "script").head.text.contains("a < b"))
  }

  test("parser: raw text ends only at an APPROPRIATE end tag (HTML5)") {
    // </scripty> is NOT a close tag for <script> — the name must be
    // followed by whitespace, '/', '>' or EOF; a prefix match would cut
    // the raw text short and leak the remainder as markup
    val root = Html.parse(
      "<script>a = '</scripty>'; b = 1</script ><p>after</p>")
    assert(Html.select(root, "script").head.text.contains("</scripty>"),
      "raw text must run past a longer-named close-tag lookalike")
    assert(Html.select(root, "script").head.text.contains("b = 1"))
    assert(Html.select(root, "p").map(_.text) == Vector("after"),
      "whitespace before '>' still closes the raw block")
  }

  test("parser: first duplicate attribute wins (HTML5)") {
    val root = Html.parse("""<a href="/first" href="/second" href>x</a>""")
    assert(Html.select(root, "a").head.attrs("href") == "/first")
  }

  test("parser: unclosed and mis-nested tags recover") {
    val root = Html.parse("<ul><li>one<li>two</ul><p>tail")
    // li elements auto-close when the ul pops; both are in the tree
    assert(Html.select(root, "li").nonEmpty)
    assert(Html.select(root, "p").head.text == "tail")
    // stray close tags are ignored
    val r2 = Html.parse("</div><span>ok</span>")
    assert(Html.select(r2, "span").head.text == "ok")
  }

  test("selectors: compound, descendant, child, attr value") {
    val root = Html.parse(
      """<section id="s1" class="reviews"><div class="row"><span class="v" data-k="a">1</span></div></section>
        |<section id="s2"><span class="v" data-k="b">2</span></section>""".stripMargin)
    assert(Html.select(root, "section .v").map(_.text) == Vector("1", "2"))
    assert(Html.select(root, "section#s1 span.v").map(_.text) == Vector("1"))
    assert(Html.select(root, "[data-k=b]").map(_.text) == Vector("2"))
    assert(Html.select(root, "section > span").map(_.text) == Vector("2"),
      "child combinator must not cross the intermediate div")
    assert(Html.select(root, "section.reviews > div > span").map(_.text) == Vector("1"))
  }

  test("messy markup: DOM extracts where the regex battery breaks") {
    // single-quoted attributes, reversed attribute order, a comment
    // splitting the tag from its text, nested inline markup in the value
    val messy = Seq(("rt9",
      """<span class='score' slot='criticsScore'><!-- c --><b>93%</b></span>
        |<a data-x="1" slot='criticsReviews'>412 <i>Reviews</i></a>""".stripMargin))
      .toDF("id", "html")
    val dom = Ratings.rottenTomatoesRatings(messy, "id").collect().head
    assert(dom.getInt(1) == 93 && dom.getLong(2) == 412L,
      "DOM path reads through quoting/nesting/comments")
  }

  test("html_extract: missing selector and missing attr yield null fields") {
    import org.apache.spark.sql.functions.col
    val df = Seq("""<div class="a">x</div>""").toDF("html").select(
      graft.functions.Expressions.html_extract(col("html"), Seq(
        ("present", "div.a", None),
        ("absent", "div.b", None),
        ("noattr", "div.a", Some("data-missing")))).as("ex"))
    val r = df.select(col("ex.present"), col("ex.absent"), col("ex.noattr")).collect().head
    assert(r.getString(0) == "x" && r.isNullAt(1) && r.isNullAt(2))
  }

  test("visibleText: skips script/style, document order, collapses whitespace") {
    val root = Html.parse(
      """<html><head><title>T</title><style>p{color:red}</style>
        |<script>var x = "<p>hidden</p>";</script></head>
        |<body><p>one
        |   two</p><div>three <b>four</b></div></body></html>""".stripMargin)
    assert(Html.visibleText(root) == "T one two three four")
    // entity round-trip: escaped source text comes back verbatim
    val r2 = Html.parse("<p>a &amp;&lt;tag&gt; b</p>")
    assert(Html.visibleText(r2) == "a &<tag> b")
  }

  test("links: hrefs in document order; empty and missing hrefs dropped") {
    val root = Html.parse(
      """<p><a href="/x">x</a><a name=n>no</a><a href=''>e</a>
        |<div><a data-k='1' href='/y'>y</a></div></p>""".stripMargin)
    assert(Html.links(root) == Vector("/x", "/y"))
  }

  test("html_to_text and html_links as columns") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      """<html><script>junk()</script><body><p>Hello <b>world</b></p>
        |<a href="/a">a</a> <a href="/b">b</a></body></html>""".stripMargin)
      .toDF("html")
    val r = df.select(
      graft.functions.Expressions.html_to_text(col("html")).as("t"),
      graft.functions.Expressions.html_links(col("html")).as("l")).collect().head
    assert(r.getString(0) == "Hello world a b")
    assert(r.getSeq[String](1) == Seq("/a", "/b"))
  }

  test("html expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.range(50).select(
      concat(lit("<div data-v=\""), col("id"), lit("\">t</div>")).as("html"))
      .select(graft.functions.Expressions.html_extract(col("html"),
        Seq(("v", "[data-v]", Some("data-v")))).getField("v").as("v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"))
    assert(df.count() == 50)
  }
}
