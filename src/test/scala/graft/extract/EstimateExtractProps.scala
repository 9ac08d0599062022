package graft.extract

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** The section rule is invisible: on any page, `EstimateExtract.parse`
  * (nodes only for the data sections, the ribbon and the ribbon's path)
  * reads what the same navigation reads on the full tree. Pages are the
  * fixture's ribbon and data sections with markup soup before, between and
  * after them: well-formed chrome, decoy sections and path elements, and
  * the [[HtmlProps]] soup that can close, swallow or comment out any of
  * them. */
object EstimateExtractProps extends Properties("EstimateExtract") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(500)

  private val chrome: Gen[String] = Gen.oneOf(
    """<nav class="menu"><ul><li class="item"><a href="/x/1">market growth</a></li></ul></nav>""",
    """<div class="teaser"><h3><a href="/news/2">outlook</a></h3><p>value &amp; trade <span class="ts">4 min ago</span></p></div>""",
    """<div class="footer-links"><p><a href="/fund">fund</a> | <a href="/stock">stock</a></p></div>""",
    """<script>window.cfg = {"a": "<section id='quote_upside'>"};</script>""",
    """<script src="/js/app.js"/>""", "<style/>",
    """<!-- <section id="agreement_estimate"><table><tr><td>1</td></tr></table></section> -->""",
    "<p>para", "<li>item", "<table><tr><td>stray cell</td></tr></table>", "words only")

  private val decoy: Gen[String] = Gen.oneOf(
    """<section id="detailed_earnings_estimates"><table><tbody><tr><td>C</td><td>555</td></tr></tbody></table></section>""",
    "<section id=quote_upside>", "</section>", "<SECTION ID=surprised_reported><TABLE><TR><TD>x<TD>1",
    """<div id="right_content">""", """<div id="main_content">""", """<body id="home">""",
    """<section class="quote_page_hero_section">""", "</div>", "<div>")

  private val soup: Gen[String] = Gen.choose(0, 3).flatMap(k =>
    Gen.listOfN(k, Gen.frequency(24 -> chrome, 2 -> decoy, 1 -> HtmlProps.soup))
      .map(_.mkString("\n")))

  private val page: Gen[(java.time.LocalDate, String)] = for {
    (date, ribbon) <- Gen.oneOf(EstimatePages.Eras)
    s <- Gen.listOfN(EstimatePages.sections.size + 5, soup)
  } yield {
    val right = EstimatePages.sections.zip(s.drop(5))
      .map { case (sec, c) => sec + c }.mkString
    date -> s"""<!DOCTYPE html><html><head>${s(0)}</head><body id="home">${s(1)}
               |<div id="main_content"><div id="left_content">${s(2)}</div>
               |<div id="right_content">${s(3)}$ribbon$right</div></div>
               |<footer>${s(4)}</footer></body></html>""".stripMargin
  }

  property("parse equals the navigation over the full tree") = forAll(page) {
    case (date, doc) =>
      val pruned = EstimateExtract.parse(doc, date)
      Prop.classify(pruned.rank == "Buy", "ribbon read", "ribbon lost to the soup") {
        Prop(pruned == EstimateExtract.read(Html.parse(doc), date)) :| doc
      }
  }
}
