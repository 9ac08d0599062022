package graft.extract

import scala.collection.mutable.{ArrayBuffer, Stack}

/** Minimal tolerant HTML parser — the Spark-side analogue of the reference's
  * `html->xexp` (`estimate-transform-load.rkt:167`). Real Zacks pages are not
  * XHTML, so strict XML parsing is off the table; this parser accepts missing
  * end tags, stray end tags, unquoted attributes, comments, doctypes, and
  * raw-text script/style bodies. Zero dependencies by design (offline build).
  *
  * Scope is exactly what the reference's sxpaths need: element tree with
  * tag/attrs/children, id/class lookup, child-axis navigation with 1-based
  * positional indexing, and text extraction.
  */
sealed trait HNode

final case class HText(text: String) extends HNode

final case class HElem(tag: String, attrs: Map[String, String],
                       children: Vector[HNode]) extends HNode {

  def id: Option[String] = attrs.get("id")

  def childElems: Vector[HElem] = children.collect { case e: HElem => e }

  /** Direct children with the given tag (child axis). */
  def kids(t: String): Vector[HElem] = childElems.filter(_.tag == t)

  /** sxpath `(tag n)` — the n-th (1-based) child with the given tag. */
  def kid(t: String, n: Int): Option[HElem] = {
    val k = kids(t)
    if (n >= 1 && n <= k.size) Some(k(n - 1)) else None
  }

  /** First child with the given tag. */
  def kid(t: String): Option[HElem] = kids(t).headOption

  /** All descendant nodes, document order (pre-order). An explicit stack,
    * not recursion, like [[Html.parse]]: each node costs O(1) whatever its
    * depth, and a deeply nested document cannot overflow the JVM stack. */
  private def nodes: Iterator[HNode] = new Iterator[HNode] {
    private val stack = new java.util.ArrayDeque[HNode]()
    pushChildren(HElem.this)
    private def pushChildren(e: HElem): Unit = {
      var i = e.children.length - 1
      while (i >= 0) { stack.push(e.children(i)); i -= 1 }
    }
    def hasNext: Boolean = !stack.isEmpty
    def next(): HNode = stack.pop() match {
      case e: HElem => pushChildren(e); e
      case t => t
    }
  }

  /** All descendant elements, document order. */
  def descendants: Iterator[HElem] = nodes.collect { case e: HElem => e }

  /** sxpath `// (tag (@ (equal? (id "x"))))` — descendant-or-self by id. */
  def byId(t: String, idValue: String): Option[HElem] =
    (Iterator.single(this) ++ descendants)
      .find(e => e.tag == t && e.attrs.get("id").contains(idValue))

  /** n-th (1-based) descendant with the given tag, document order. */
  def nthDescendant(t: String, n: Int): Option[HElem] = {
    val it = descendants.filter(_.tag == t).drop(n - 1)
    if (it.hasNext) Some(it.next()) else None
  }

  /** Direct text-node children (the reference's `select-kids '*text*`). */
  def textKids: Vector[String] = children.collect { case HText(s) => s }

  /** First direct text child that is non-blank after trimming. The reference
    * takes the *second* text kid because layout indentation always yields a
    * leading whitespace node (`estimate-transform-load.rkt:29`); skipping
    * blanks is the layout-independent form of the same selection. */
  def firstText: String =
    textKids.map(_.trim).find(_.nonEmpty).getOrElse("")

  /** All descendant text concatenated (no separators), document order. */
  def allText: String = {
    val sb = new StringBuilder
    nodes.foreach { case HText(s) => sb.append(s); case _ => }
    sb.toString
  }

  /** Last descendant text node, trimmed — the reference's `flatten` + `last`
    * cell addressing (`estimate-transform-load.rkt:115-117`): the final
    * atom of a cell's xexp is its trailing text fragment. Blank-only nodes
    * are skipped so indentation after an inner element doesn't win. */
  def lastText: String = {
    var out = ""
    nodes.foreach {
      case HText(s) => if (s.trim.nonEmpty) out = s.trim
      case _ =>
    }
    out
  }
}

/** A table materialized to text in ONE tree walk: `head`/`body` are
  * row-major cell grids (th-only for head rows, td-only for body rows,
  * `lastText` per cell). Extractors address hundreds of cells per document;
  * re-walking the DOM per cell is what made the reference re-traverse per
  * sxpath — the grid makes every lookup O(1) after one walk. */
final case class TableGrid(head: Vector[Vector[String]],
                           body: Vector[Vector[String]]) {
  /** 1-based (row, col) in the given group; "" when absent. */
  def cell(group: String, row: Int, col: Int): String = {
    val rows = if (group == "thead") head else body
    if (row < 1 || row > rows.size) ""
    else {
      val r = rows(row - 1)
      if (col < 1 || col > r.size) "" else r(col - 1)
    }
  }
}

object TableGrid {
  def of(table: HElem): TableGrid = {
    def rows(groupTag: String, cellTag: String): Vector[Vector[String]] =
      table.kid(groupTag).toVector
        .flatMap(_.kids("tr"))
        .map(tr => tr.kids(cellTag).map(_.lastText))
    // HTML's implicit tbody: <table><tr>… means direct tr children are body
    // rows. Do NOT fall back to a descendant search — that would grab a
    // nested table's tbody and read every cell from the wrong table.
    val body = rows("tbody", "td") match {
      case v if v.nonEmpty => v
      case _ => table.kids("tr").map(tr => tr.kids("td").map(_.lastText))
    }
    TableGrid(rows("thead", "th"), body)
  }
}

object Html {

  /** Elements that never have children. */
  private val Void = Set("area", "base", "br", "col", "embed", "hr", "img",
    "input", "link", "meta", "param", "source", "track", "wbr")

  /** Elements whose body is raw text up to the matching end tag. */
  private val RawText = Set("script", "style")

  /** tag → set of open tags it implicitly closes (HTML5 omission rules,
    * restricted to the table/paragraph subset the Zacks pages use). */
  private val ImplicitClose: Map[String, Set[String]] = Map(
    "tr" -> Set("td", "th", "tr", "colgroup", "caption"),
    "td" -> Set("td", "th"),
    "th" -> Set("td", "th"),
    // colgroup/caption end tags are omissible in HTML5: any row-group or
    // row opener must close them, or thead/tbody nest INSIDE the colgroup
    // and the table reads empty
    "tbody" -> Set("td", "th", "tr", "tbody", "thead", "tfoot", "colgroup",
      "caption"),
    "thead" -> Set("td", "th", "tr", "tbody", "thead", "tfoot", "colgroup",
      "caption"),
    "tfoot" -> Set("td", "th", "tr", "tbody", "thead", "tfoot", "colgroup",
      "caption"),
    "p" -> Set("p"),
    "li" -> Set("li"),
    "option" -> Set("option"))

  private def decodeEntities(s: String): String =
    if (!s.contains('&')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '&') {
          val semi = s.indexOf(';', i + 1)
          // 10 covers the longest numeric reference (&#x10FFFF; = body 9)
          if (semi > i && semi - i <= 10) {
            val ent = s.substring(i + 1, semi)
            val rep: Option[String] = ent match {
              case "amp" => Some("&")
              case "lt" => Some("<")
              case "gt" => Some(">")
              case "quot" => Some("\"")
              case "apos" => Some("'")
              case "nbsp" => Some(" ")
              // Character.toChars: astral codepoints (&#128512;) need a
              // surrogate pair, toChar would silently truncate them
              case e if e.startsWith("#x") || e.startsWith("#X") =>
                try Some(new String(
                  Character.toChars(Integer.parseInt(e.drop(2), 16))))
                catch { case _: Exception => None }
              case e if e.startsWith("#") =>
                try Some(new String(
                  Character.toChars(Integer.parseInt(e.drop(1)))))
                catch { case _: Exception => None }
              case _ => None
            }
            rep match {
              case Some(r) => sb.append(r); i = semi + 1
              case None => sb.append(c); i += 1
            }
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  private final class Frame(val tag: String, val attrs: Map[String, String]) {
    val children = new ArrayBuffer[HNode]()
  }

  /** Parse an HTML document; returns a synthetic root element containing all
    * top-level nodes (normally just `<html>`). Never throws on malformed
    * input — unparseable fragments degrade to text or are skipped. */
  def parse(input: String): HElem = {
    val stack = Stack(new Frame("#root", Map.empty))
    var i = 0
    val n = input.length
    // case-insensitive search without lowercasing the whole input: locale
    // rules (Turkish dotless-i, U+0130 expanding to two chars) would break
    // matching or desync offsets
    def indexOfIgnoreCase(needle: String, from: Int): Int = {
      var k = from
      val last = n - needle.length
      while (k <= last) {
        if (input.regionMatches(true, k, needle, 0, needle.length)) return k
        k += 1
      }
      -1
    }

    def popFrame(): Unit = {
      val f = stack.pop()
      stack.top.children += HElem(f.tag, f.attrs, f.children.toVector)
    }

    def addText(raw: String): Unit =
      if (raw.nonEmpty) stack.top.children += HText(decodeEntities(raw))

    while (i < n) {
      val lt = input.indexOf('<', i)
      if (lt < 0) { addText(input.substring(i)); i = n }
      else {
        if (lt > i) addText(input.substring(i, lt))
        if (lt + 1 >= n) { addText("<"); i = n }
        else input.charAt(lt + 1) match {
          case '!' =>
            if (input.startsWith("<!--", lt)) {
              val end = input.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else { // doctype / CDATA-ish: skip to '>'
              val end = input.indexOf('>', lt)
              i = if (end < 0) n else end + 1
            }
          case '?' =>
            val end = input.indexOf('>', lt)
            i = if (end < 0) n else end + 1
          case '/' =>
            val end = input.indexOf('>', lt)
            if (end < 0) i = n
            else {
              val name = input.substring(lt + 2, end).trim
                .toLowerCase(java.util.Locale.ROOT)
              if (stack.exists(_.tag == name)) {
                while (stack.top.tag != name) popFrame()
                popFrame()
              } // stray end tag: ignore
              i = end + 1
            }
          case c if c.isLetter =>
            // parse open tag
            var j = lt + 1
            while (j < n && (input.charAt(j).isLetterOrDigit ||
              input.charAt(j) == '-' || input.charAt(j) == ':')) j += 1
            val tag = input.substring(lt + 1, j)
              .toLowerCase(java.util.Locale.ROOT)
            // attributes until '>' or '/>'
            var attrs = Map.empty[String, String]
            var selfClose = false
            var done = false
            while (!done && j < n) {
              while (j < n && input.charAt(j).isWhitespace) j += 1
              if (j >= n) done = true
              else input.charAt(j) match {
                case '>' => j += 1; done = true
                case '/' =>
                  if (j + 1 < n && input.charAt(j + 1) == '>') {
                    selfClose = true; j += 2; done = true
                  } else j += 1
                case _ =>
                  val nameStart = j
                  while (j < n && !input.charAt(j).isWhitespace &&
                    input.charAt(j) != '=' && input.charAt(j) != '>' &&
                    input.charAt(j) != '/') j += 1
                  val name = input.substring(nameStart, j)
                    .toLowerCase(java.util.Locale.ROOT)
                  while (j < n && input.charAt(j).isWhitespace) j += 1
                  var value = ""
                  if (j < n && input.charAt(j) == '=') {
                    j += 1
                    while (j < n && input.charAt(j).isWhitespace) j += 1
                    if (j < n && (input.charAt(j) == '"' || input.charAt(j) == '\'')) {
                      val q = input.charAt(j)
                      val close = input.indexOf(q, j + 1)
                      if (close < 0) { value = input.substring(j + 1); j = n }
                      else { value = input.substring(j + 1, close); j = close + 1 }
                    } else {
                      val vs = j
                      while (j < n && !input.charAt(j).isWhitespace &&
                        input.charAt(j) != '>' && input.charAt(j) != '/') j += 1
                      value = input.substring(vs, j)
                    }
                  }
                  if (name.nonEmpty) attrs += name -> decodeEntities(value)
              }
            }
            // implicit closes
            ImplicitClose.get(tag).foreach { closes =>
              while (closes.contains(stack.top.tag)) popFrame()
            }
            if (Void.contains(tag) || selfClose)
              stack.top.children += HElem(tag, attrs, Vector.empty)
            else if (RawText.contains(tag)) {
              val endIdx = indexOfIgnoreCase(s"</$tag", j)
              val bodyEnd = if (endIdx < 0) n else endIdx
              val body = input.substring(j, bodyEnd)
              val gt = if (endIdx < 0) n else {
                val g = input.indexOf('>', endIdx); if (g < 0) n else g + 1
              }
              val kids: Vector[HNode] =
                if (body.nonEmpty) Vector(HText(body)) else Vector.empty
              stack.top.children += HElem(tag, attrs, kids)
              j = gt
            } else stack.push(new Frame(tag, attrs))
            i = j
          case _ => // lone '<' in text
            addText("<")
            i = lt + 1
        }
      }
    }
    while (stack.size > 1) popFrame()
    val root = stack.pop()
    HElem("#root", Map.empty, root.children.toVector)
  }
}
