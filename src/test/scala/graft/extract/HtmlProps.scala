package graft.extract

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Tolerance as a law: the parser must accept ANY input without throwing —
  * real scraped HTML contains every malformation — and must round-trip
  * plain text through entity escaping. */
object HtmlProps extends Properties("Html") {

  // strings biased toward markup metacharacters and fragments
  private[extract] val soup: Gen[String] = Gen.listOf(Gen.frequency(
    5 -> Gen.alphaNumStr.map(_.take(6)),
    3 -> Gen.oneOf("<", ">", "&", "\"", "'", "=", "/", "<!--", "-->",
      "<div", "</div>", "<td", "<table>", "</p", "<script>", "</script>",
      "&amp;", "&#65;", "&#x1F600;", "&bogus;", "<a href=", "id=\"x\""),
    1 -> Gen.asciiPrintableStr.map(_.take(8))
  )).map(_.mkString(" "))

  property("parse never throws and always terminates") = forAll(soup) { s =>
    val root = Html.parse(s)
    root.tag == "#root" && root.descendants.size >= 0
  }

  private val plainText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('<', '>', '&', '"', ' '))).map(_.mkString)

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  property("escaped text round-trips through a td cell") =
    forAll(plainText) { s =>
      val doc = Html.parse(s"<table><tr><td>${escape(s)}</td></tr></table>")
      val cell = doc.descendants.find(_.tag == "td").get
      Prop(cell.allText == s) :| s"got '${cell.allText}' want '$s'"
    }
}
