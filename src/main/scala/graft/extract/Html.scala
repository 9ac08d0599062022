package graft.extract

import scala.collection.immutable.VectorBuilder

/** Minimal tolerant HTML parser — the Spark-side analogue of the reference's
  * `html->xexp` (`estimate-transform-load.rkt:167`). Real Zacks pages are not
  * XHTML, so strict XML parsing is off the table; this parser accepts missing
  * end tags, stray end tags, unquoted attributes, comments, doctypes, and
  * raw-text script/style bodies. Zero dependencies by design (offline build).
  *
  * Scope is exactly what the reference's sxpaths need: element tree with
  * tag/attrs/children, id/class lookup, child-axis navigation with 1-based
  * positional indexing, and text extraction.
  *
  * One tokenizer serves every caller. `Html.parse(input)` keeps every node;
  * `Html.parse(input, keep)` builds only what a [[Html.Keep]] rule keeps,
  * so a caller that reads a few sections of a large page pays for the
  * tokenizer pass and those sections' nodes, not for the page chrome.
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

  /** Which nodes [[parse]] builds, decided per element as it opens. An
    * element's state is one of:
    *  - `All`: the element and every node below it, all attributes. The
    *    rule is not asked again below it.
    *  - a positive, rule-defined state: the element's tag with its `id` and
    *    `class`, no text; the state is the `parent` the rule sees for each
    *    child.
    *  - `Skip`: no text below it, and no node of its own unless something
    *    below it is kept; then it stays as its bare tag, so every kept node
    *    keeps its ancestors' tags and its place in document order.
    * Every element goes on the tag stack whatever its state, so implicit
    * closes and stray end tags shape the kept nodes exactly as they shape
    * the full tree. A skipped region builds no text node, decodes no
    * entity and reads no attribute beyond `id` and `class`. */
  trait Keep {
    /** State of the synthetic root. */
    def root: Int
    /** State of an element opening under a parent in state `parent` (never
      * `All`); `id` and `cls` are its decoded attributes, "" when absent. */
    def open(parent: Int, tag: String, id: String, cls: String): Int
  }

  val All: Int = -1
  val Skip: Int = 0

  private object KeepAll extends Keep {
    def root: Int = All
    def open(parent: Int, tag: String, id: String, cls: String): Int = All
  }

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

  private final class Frame(val tag: String, val attrs: Map[String, String],
                            val state: Int) {
    private var kids: VectorBuilder[HNode] = null
    def add(node: HNode): Unit = {
      if (kids == null) kids = new VectorBuilder[HNode]
      kids += node
    }
    def isEmpty: Boolean = kids == null
    def children: Vector[HNode] = if (kids == null) Vector.empty else kids.result()
  }

  /** Parse an HTML document; returns a synthetic root element containing all
    * top-level nodes (normally just `<html>`). Never throws on malformed
    * input — unparseable fragments degrade to text or are skipped. */
  def parse(input: String): HElem = parse(input, KeepAll)

  /** [[parse]] building only the nodes `keep` keeps. */
  def parse(input: String, keep: Keep): HElem = new Parser(input, keep).run()

  private final class Parser(input: String, keep: Keep) {
    private val n = input.length
    private var stack = new Array[Frame](64)
    private var depth = 0
    stack(0) = new Frame("#root", Map.empty, keep.root)
    private def top: Frame = stack(depth)

    // attributes of the open tag scanned last
    private var attrs = Map.empty[String, String]
    private var id, cls = ""
    private var selfClose = false

    def run(): HElem = {
      var i = 0
      while (i < n) {
        val lt = input.indexOf('<', i)
        if (lt < 0) { text(i, n); i = n }
        else {
          text(i, lt)
          if (lt + 1 >= n) { text(lt, n); i = n }
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
            case '/' => i = endTag(lt)
            case c if c.isLetter => i = openTag(lt)
            case _ => // lone '<' in text
              text(lt, lt + 1)
              i = lt + 1
          }
        }
      }
      while (depth > 0) popFrame()
      HElem("#root", Map.empty, top.children)
    }

    private def text(from: Int, to: Int): Unit =
      if (to > from && top.state == All)
        top.add(HText(decodeEntities(input.substring(from, to))))

    private def push(f: Frame): Unit = {
      depth += 1
      if (depth == stack.length) stack = java.util.Arrays.copyOf(stack, 2 * depth)
      stack(depth) = f
    }

    private def popFrame(): Unit = {
      val f = top
      stack(depth) = null
      depth -= 1
      if (f.state != Skip || !f.isEmpty)
        top.add(HElem(f.tag, f.attrs, f.children))
    }

    /** `input[from, to)` lower-cased under `Locale.ROOT`. */
    private def name(from: Int, to: Int): String =
      input.substring(from, to).toLowerCase(java.util.Locale.ROOT)

    private def endTag(lt: Int): Int = {
      val end = input.indexOf('>', lt)
      if (end < 0) n
      else {
        val tag = input.substring(lt + 2, end).trim.toLowerCase(java.util.Locale.ROOT)
        var k = depth
        while (k > 0 && stack(k).tag != tag) k -= 1
        while (k > 0 && depth >= k) popFrame() // k = 0: stray, ignored
        end + 1
      }
    }

    private def openTag(lt: Int): Int = {
      var j = lt + 1
      while (j < n && (input.charAt(j).isLetterOrDigit ||
        input.charAt(j) == '-' || input.charAt(j) == ':')) j += 1
      val tag = name(lt + 1, j)
      ImplicitClose.get(tag).foreach { c => while (c.contains(top.tag)) popFrame() }
      val parent = top.state
      var end = scanAttrs(j, full = parent == All)
      val state = if (parent == All) All else keep.open(parent, tag, id, cls)
      val kept =
        if (parent == All) attrs
        else if (state == All) { scanAttrs(j, full = true); attrs }
        else if (state == Skip) Map.empty[String, String]
        else {
          val m = if (id.isEmpty) Map.empty[String, String] else Map("id" -> id)
          if (cls.isEmpty) m else m + ("class" -> cls)
        }
      if (Void.contains(tag) || selfClose) {
        if (state != Skip) top.add(HElem(tag, kept, Vector.empty))
      } else if (RawText.contains(tag)) {
        val endIdx = rawTextEnd(s"</$tag", end)
        val bodyEnd = if (endIdx < 0) n else endIdx
        if (state != Skip) top.add(HElem(tag, kept,
          if (bodyEnd > end && state == All) Vector(HText(input.substring(end, bodyEnd)))
          else Vector.empty))
        end = if (endIdx < 0) n else {
          val g = input.indexOf('>', endIdx); if (g < 0) n else g + 1
        }
      } else push(new Frame(tag, kept, state))
      end
    }

    /** Scans an open tag's attributes from `from` up to and past its `>` or
      * `/>`; returns the offset after it. `full` reads every attribute into
      * `attrs`; otherwise only `id` and `cls` are read. */
    private def scanAttrs(from: Int, full: Boolean): Int = {
      attrs = Map.empty; id = ""; cls = ""; selfClose = false
      var j = from
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
            val nameEnd = j
            while (j < n && input.charAt(j).isWhitespace) j += 1
            var vs, ve = j
            if (j < n && input.charAt(j) == '=') {
              j += 1
              while (j < n && input.charAt(j).isWhitespace) j += 1
              if (j < n && (input.charAt(j) == '"' || input.charAt(j) == '\'')) {
                val close = input.indexOf(input.charAt(j), j + 1)
                vs = j + 1
                if (close < 0) { ve = n; j = n } else { ve = close; j = close + 1 }
              } else {
                vs = j
                while (j < n && !input.charAt(j).isWhitespace &&
                  input.charAt(j) != '>' && input.charAt(j) != '/') j += 1
                ve = j
              }
            }
            if (nameEnd > nameStart) {
              val attr = name(nameStart, nameEnd)
              if (full) attrs += attr -> decodeEntities(input.substring(vs, ve))
              else if (attr == "id") id = decodeEntities(input.substring(vs, ve))
              else if (attr == "class") cls = decodeEntities(input.substring(vs, ve))
            }
        }
      }
      j
    }

    /** Offset of the first `close` at or after `from`, case-insensitively,
      * or -1. Compares only where a `<` is, without lower-casing the input:
      * locale rules (Turkish dotless-i, U+0130 expanding to two chars) would
      * break matching or desync offsets. */
    private def rawTextEnd(close: String, from: Int): Int = {
      var k = input.indexOf('<', from)
      while (k >= 0 && !input.regionMatches(true, k, close, 0, close.length))
        k = input.indexOf('<', k + 1)
      k
    }
  }
}
