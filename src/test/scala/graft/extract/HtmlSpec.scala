package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** The tolerant parser against the malformations real Zacks pages contain:
  * implicit table closes, unquoted attributes, stray end tags, comments,
  * raw script bodies, entities. */
class HtmlSpec extends AnyFunSuite {

  test("unclosed colgroup/caption do not swallow the row groups") {
    val doc = Html.parse(
      """<table><caption>t<colgroup><col><col>
        |<thead><tr><th>H1</th><th>H2</th></tr></thead>
        |<tbody><tr><td>a</td><td>b</td></tr></tbody></table>""".stripMargin)
    val grid = TableGrid.of(doc.nthDescendant("table", 1).get)
    assert(grid.head === Vector(Vector("H1", "H2")))
    assert(grid.body === Vector(Vector("a", "b")))
  }

  test("astral-plane numeric entities decode to surrogate pairs") {
    val doc = Html.parse("<p>&#x1F600; and &#x10FFFF;</p>")
    val t = doc.kid("p").get.allText
    assert(t.codePointAt(0) === 0x1F600)
    assert(t.codePointAt(t.length - 2) === 0x10FFFF)
  }

  test("implicit tr/td closes build a correct table") {
    val doc = Html.parse(
      "<table><tbody><tr><td>a<td>b<tr><td>c<td>d</tbody></table>")
    val tbody = doc.nthDescendant("tbody", 1).get
    assert(tbody.kids("tr").size === 2)
    assert(tbody.kid("tr", 2).get.kid("td", 2).get.allText === "d")
  }

  test("unquoted and single-quoted attributes, case-insensitive tags") {
    val doc = Html.parse("<DIV ID=main class='x y'><P>hi</P></DIV>")
    val div = doc.byId("div", "main").get
    assert(div.attrs("class") === "x y")
    assert(div.kid("p").get.allText === "hi")
  }

  test("stray end tags and unclosed elements do not derail the tree") {
    val doc = Html.parse("<div><span>a</b></span><p>one<p>two</div><div>z</div>")
    assert(doc.kids("div").size === 2)
    assert(doc.kids("div").head.kids("p").map(_.allText) === Vector("one", "two"))
  }

  test("comments, doctype, and script raw text are inert") {
    val doc = Html.parse(
      """<!DOCTYPE html><!-- <table><tr> --><html><head>
        |<script>if (a < b) { x = "<td>"; }</script></head>
        |<body id=home><p>ok</p></body></html>""".stripMargin)
    assert(doc.kid("html").get.kid("body").get.kid("p").get.allText === "ok")
    assert(doc.descendants.count(_.tag == "td") === 0) // script body is text
  }

  test("entities decode in text and attributes") {
    val doc = Html.parse("""<p title="a&amp;b">x &lt; y&nbsp;&#65;</p>""")
    val p = doc.kid("p").get
    assert(p.attrs("title") === "a&b")
    assert(p.allText === "x < y A")
  }

  test("lastText picks the trailing non-blank fragment of a cell") {
    val doc = Html.parse("<td><span class=lbl>label</span> 42.5 </td>")
    assert(doc.kid("td").get.lastText === "42.5")
  }

  test("firstText skips indentation text nodes") {
    val doc = Html.parse("<p>\n   <span></span>\n  1-Strong Buy\n</p>")
    assert(doc.kid("p").get.firstText === "1-Strong Buy")
  }

  test("positional kid() is 1-based and per-tag") {
    val doc = Html.parse("<div><p>a</p><span>s</span><p>b</p></div>")
    assert(doc.kid("div").get.kid("p", 2).get.allText === "b")
    assert(doc.kid("div").get.kid("p", 3).isEmpty)
  }

  test("a 20k-deep nest walks without overflowing the stack") {
    val depth = 20000
    val html = "<html><body id=home>" + "<div>" * depth +
      "<section id=s class='deep x'><table><tbody><tr><td>x <b>7</b> </td>" +
      "</tr></tbody></table></section>" + "</div>" * depth + "</body></html>"
    val body = Html.parse(html).kid("html").get.kid("body").get
    assert(body.byId("section", "s").isDefined)
    assert(body.byId("section", "absent").isEmpty)
    assert(body.nthDescendant("div", depth).isDefined)
    assert(body.nthDescendant("div", depth + 1).isEmpty)
    assert(body.allText === "x 7 ")
    assert(body.lastText === "7")
    val parsed = EstimateExtract.parse(html, java.time.LocalDate.of(2025, 1, 15))
    assert(parsed.rank === "")
    assert(parsed.cells.values.forall(_.values.forall(_ == "")))
  }

  test("raw text ends at the first </script or </style in any case, also as a prefix") {
    val doc = Html.parse(
      "<div><script>x</p>y</SCRIPT >z<style>s</styles>t</style>u</div>")
    val div = doc.kid("div").get
    assert(div.kid("script").get.allText === "x</p>y")
    assert(div.kid("style").get.allText === "s") // ends at "</styles"
    assert(div.textKids === Vector("z", "t", "u")) // "</style>" is stray
  }

  /** Keeps `section#s` whole and nothing else. */
  private object KeepS extends Html.Keep {
    def root: Int = 1
    def open(parent: Int, tag: String, id: String, cls: String): Int =
      if (tag == "section" && id == "s") Html.All else Html.Skip
  }

  test("a keep rule builds the kept subtrees of the full tree, also past raw text") {
    val html =
      """<p>a &amp; b</p><script>w("<section id=s>in script</section>")</SCRIPT>
        |<!-- <section id=s>in comment</section> --><div title="<section id=s>">
        |<script>"</scripts><section id=s>early</section>"</script>
        |<section id=s class=k><b>late</b></section></div>""".stripMargin
    val full = Html.parse(html)
    val kept = Html.parse(html, KeepS)
    assert(full.byId("section", "s").get.allText === "early")
    assert(kept.byId("section", "s") === full.byId("section", "s"))
    val Seq(early, late) = kept.descendants.filter(_.tag == "section").toSeq
    assert(late === full.descendants.filter(_.tag == "section").toSeq(1))
    assert(late.attrs === Map("id" -> "s", "class" -> "k"))
    assert(early.allText === "early")
    // no text or element outside the kept subtrees but the bare div that
    // holds them
    assert(kept.children === Vector(HElem("div", Map.empty, Vector(early, late))))
  }

  test("a self-closed script or style is empty, on both paths") {
    val html = "<script src=x/><style/><section id=s>y</section><script>z</script>"
    val full = Html.parse(html)
    assert(full.kid("script").get === HElem("script", Map("src" -> "x"), Vector.empty))
    assert(full.kid("style").get.children.isEmpty)
    val s = full.byId("section", "s")
    assert(s.map(_.allText) === Some("y"))
    assert(Html.parse(html, KeepS).byId("section", "s") === s)
  }

  test("an end tag naming the synthetic root is stray") {
    val doc = Html.parse("<div>a</#root>b</div>")
    assert(doc.kid("div").get.allText === "ab")
  }

  test("a 100k-deep nest parses on both paths") {
    val depth = 100000
    val html = "<div>" * depth + "<section id=s>x</section>" + "</div>" * depth
    val full = Html.parse(html)
    assert(full.nthDescendant("div", depth).isDefined)
    val kept = Html.parse(html, KeepS)
    assert(kept.byId("section", "s") === full.byId("section", "s"))
    assert(kept.nthDescendant("div", depth).get.children ===
      Vector(HElem("section", Map("id" -> "s"), Vector(HText("x")))))
  }
}
