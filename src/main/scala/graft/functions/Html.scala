package graft.functions

import scala.collection.mutable.ArrayBuffer

/** A small, lenient HTML parser + CSS-subset selector engine, pure
  * Scala (the container has no DOM library and no egress to fetch one).
  * The C9-C12 extractors in [[graft.operators.Ratings]] run on it: the
  * reference parses rating pages with BeautifulSoup (etl_task.py:129),
  * whose value is exactly that markup noise — attribute order, quote
  * style, comments, nesting, whitespace inside tags — doesn't break
  * extraction (HtmlSpec, ExternalRatingsSpec).
  *
  * Parsing model (HTML5-lenient, not validating):
  *  - void elements (br/img/meta/...) and self-closed tags never nest;
  *  - script/style consume raw text to their close tag, no entity work;
  *  - comments and doctype/processing blocks are skipped;
  *  - a close tag pops to its nearest matching open tag (unmatched
  *    closes are ignored); EOF closes everything;
  *  - attributes: bare, unquoted, single- or double-quoted, any order;
  *    names lowercased;
  *  - the five named entities plus numeric escapes decode in text and
  *    attribute values.
  *
  * Selector subset: compound simple selectors `tag`, `#id`, `.class`,
  * `[attr]`, `[attr=value]` (quoted or bare value), combined freely
  * (`section#user.reviews[data-kind=user]`), with descendant (space)
  * and child (`>`) combinators. Matching is document-order, as
  * BeautifulSoup's `select` does.
  */
object Html {

  sealed trait Node
  final case class Text(value: String) extends Node
  final case class Elem(tag: String, attrs: Map[String, String],
                        children: Vector[Node]) extends Node {
    /** Concatenated descendant text, in document order. */
    def text: String = {
      val sb = new StringBuilder
      def walk(n: Node): Unit = n match {
        case Text(v)       => sb.append(v)
        case e: Elem       => e.children.foreach(walk)
      }
      children.foreach(walk)
      sb.toString
    }
    def attr(name: String): Option[String] = attrs.get(name.toLowerCase)
  }

  private val voidTags = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "param", "source", "track", "wbr")
  private val rawTextTags = Set("script", "style")

  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val name = s.substring(i + 1, semi)
          val decoded: String = name match {
            case "amp"  => "&"
            case "lt"   => "<"
            case "gt"   => ">"
            case "quot" => "\""
            case "apos" => "'"
            case _ if name.startsWith("#x") || name.startsWith("#X") =>
              try String.valueOf(Character.toChars(Integer.parseInt(name.substring(2), 16)))
              catch { case _: Exception => null }
            case _ if name.startsWith("#") =>
              try String.valueOf(Character.toChars(Integer.parseInt(name.substring(1))))
              catch { case _: Exception => null }
            case _ => null
          }
          if (decoded != null) { sb.append(decoded); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isNameChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '-' || c == '_' || c == ':'

  /** Parse to a synthetic root element holding the top-level nodes. */
  def parse(html: String): Elem = {
    val n = html.length
    // open-element stack; index 0 is the synthetic root
    val tags = ArrayBuffer[String]("#root")
    val attrsStack = ArrayBuffer[Map[String, String]](Map.empty)
    val kids = ArrayBuffer[ArrayBuffer[Node]](ArrayBuffer.empty[Node])

    def popOne(): Unit = {
      val top = kids.remove(kids.length - 1)
      val el = Elem(tags.remove(tags.length - 1),
        attrsStack.remove(attrsStack.length - 1), top.toVector)
      kids.last += el
    }

    var i = 0
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) {
        if (i < n) kids.last += Text(decodeEntities(html.substring(i)))
        i = n
      } else {
        if (lt > i) kids.last += Text(decodeEntities(html.substring(i, lt)))
        if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (lt + 1 < n && (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?')) {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (lt + 1 < n && html.charAt(lt + 1) == '/') {
          // close tag: pop to nearest matching open, ignore if absent
          var j = lt + 2
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(lt + 2, j).toLowerCase
          val end = html.indexOf('>', j)
          i = if (end < 0) n else end + 1
          if (tags.lastIndexOf(name) >= 1) {
            while (tags.last != name) popOne()
            popOne()
          }
        } else if (lt + 1 < n && html.charAt(lt + 1).isLetter) {
          var j = lt + 1
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(lt + 1, j).toLowerCase
          // attributes
          var attrs = Map.empty[String, String]
          var selfClosed = false
          var done = false
          while (!done && j < n) {
            while (j < n && html.charAt(j).isWhitespace) j += 1
            if (j < n && html.charAt(j) == '>') { j += 1; done = true }
            else if (j + 1 < n && html.charAt(j) == '/' && html.charAt(j + 1) == '>') {
              j += 2; selfClosed = true; done = true
            } else if (j < n && (html.charAt(j).isLetter || html.charAt(j) == '_')) {
              var k = j
              while (k < n && isNameChar(html.charAt(k))) k += 1
              val aname = html.substring(j, k).toLowerCase
              j = k
              while (j < n && html.charAt(j).isWhitespace) j += 1
              if (j < n && html.charAt(j) == '=') {
                j += 1
                while (j < n && html.charAt(j).isWhitespace) j += 1
                // HTML5: the FIRST occurrence of a duplicated attribute
                // wins; later ones are parse errors to be ignored
                if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                  val q = html.charAt(j)
                  val close = html.indexOf(q, j + 1)
                  val v = if (close < 0) html.substring(j + 1) else html.substring(j + 1, close)
                  if (!attrs.contains(aname)) attrs += aname -> decodeEntities(v)
                  j = if (close < 0) n else close + 1
                } else {
                  var k2 = j
                  while (k2 < n && !html.charAt(k2).isWhitespace &&
                    html.charAt(k2) != '>' && html.charAt(k2) != '/') k2 += 1
                  if (!attrs.contains(aname)) attrs += aname -> decodeEntities(html.substring(j, k2))
                  j = k2
                }
              } else if (!attrs.contains(aname)) attrs += aname -> ""
            } else j += 1 // stray char inside tag — skip
          }
          i = j
          if (rawTextTags(name) && !selfClosed) {
            // raw text to the matching close tag, case-insensitive
            val lower = html
            var e = i
            var found = -1
            while (found < 0 && e < n) {
              val cand = lower.indexOf("</", e)
              if (cand < 0) { found = n; e = n }
              // HTML5 "appropriate end tag": "</" + name must be followed
              // by whitespace, '/', '>' or EOF — a bare prefix match
              // would let </scripty> terminate a <script> block
              else if (lower.regionMatches(true, cand + 2, name, 0, name.length) && {
                val after = cand + 2 + name.length
                after >= n || html.charAt(after) == '>' ||
                  html.charAt(after) == '/' || html.charAt(after).isWhitespace
              }) found = cand
              else e = cand + 2
            }
            val end = if (found < 0) n else found
            val raw = html.substring(i, math.min(end, n))
            val close = html.indexOf('>', end)
            i = if (close < 0) n else close + 1
            kids.last += Elem(name, attrs, if (raw.isEmpty) Vector.empty else Vector(Text(raw)))
          } else if (voidTags(name) || selfClosed) {
            kids.last += Elem(name, attrs, Vector.empty)
          } else {
            tags += name
            attrsStack += attrs
            kids += ArrayBuffer.empty[Node]
          }
        } else {
          // lone '<' that starts no tag: literal text
          kids.last += Text("<")
          i = lt + 1
        }
      }
    }
    while (tags.length > 1) popOne()
    Elem("#root", Map.empty, kids.head.toVector)
  }

  private val wsRun = java.util.regex.Pattern.compile("\\s+")

  /** The page's human-visible text: every text node outside
    * script/style subtrees, in document order, joined by single spaces
    * with whitespace runs collapsed — the contract of an HTML→text
    * corpus extraction step (boilerplate stays; scoped extraction via
    * selector is [[select]]'s job). Deterministic and engine-neutral:
    * the output for a page built by escaping a source string
    * round-trips to that string whitespace-collapsed.
    */
  def visibleText(root: Elem): String = {
    val sb = new StringBuilder
    def walk(n: Node): Unit = n match {
      case Text(v) =>
        if (v.nonEmpty) { if (sb.nonEmpty) sb.append(' '); sb.append(v) }
      case e: Elem =>
        if (!rawTextTags(e.tag)) e.children.foreach(walk)
    }
    root.children.foreach(walk)
    wsRun.matcher(sb.toString).replaceAll(" ").trim
  }

  /** All anchor href values, document order, empty hrefs dropped — the
    * outlink set a crawl-frontier / link-graph step extracts per page.
    */
  def links(root: Elem): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    def walk(n: Node): Unit = n match {
      case e: Elem =>
        if (e.tag == "a") e.attrs.get("href").filter(_.nonEmpty).foreach(out += _)
        e.children.foreach(walk)
      case _ =>
    }
    root.children.foreach(walk)
    out.toVector
  }

  // ---- selectors ----

  private[functions] final case class Simple(tag: Option[String], id: Option[String],
    classes: List[String], attrs: List[(String, Option[String])]) {
    def matches(e: Elem): Boolean =
      tag.forall(_ == e.tag) &&
      id.forall(v => e.attrs.get("id").contains(v)) &&
      classes.forall(c => e.attrs.get("class").exists(
        _.split("\\s+").contains(c))) &&
      attrs.forall { case (a, v) =>
        v match {
          case None     => e.attrs.contains(a)
          case Some(ev) => e.attrs.get(a).contains(ev)
        }
      }
  }

  /** (simple, childOnly): childOnly means this step must match the
    * PARENT chain directly ('>' combinator), else any ancestor.
    */
  private[functions] def parseSelector(sel: String): List[(Simple, Boolean)] = {
    val out = ArrayBuffer.empty[(Simple, Boolean)]
    var childNext = false
    // tokenize on whitespace and '>'
    var i = 0
    val s = sel.trim
    while (i < s.length) {
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i < s.length && s.charAt(i) == '>') { childNext = true; i += 1 }
      else if (i < s.length) {
        val start = i
        var depth = 0
        while (i < s.length && (depth > 0 || (!s.charAt(i).isWhitespace && s.charAt(i) != '>'))) {
          if (s.charAt(i) == '[') depth += 1
          if (s.charAt(i) == ']') depth -= 1
          i += 1
        }
        out += ((parseSimple(s.substring(start, i)), childNext))
        childNext = false
      }
    }
    require(out.nonEmpty, s"empty selector: '$sel'")
    out.toList
  }

  private def parseSimple(s: String): Simple = {
    var tag: Option[String] = None
    var id: Option[String] = None
    val classes = ArrayBuffer.empty[String]
    val attrs = ArrayBuffer.empty[(String, Option[String])]
    var i = 0
    if (i < s.length && (s.charAt(i).isLetter || s.charAt(i) == '*')) {
      val start = i
      while (i < s.length && isNameChar(s.charAt(i))) i += 1
      if (i == start && s.charAt(i) == '*') i += 1 // universal
      val t = s.substring(start, i)
      if (t.nonEmpty && t != "*") tag = Some(t.toLowerCase)
      else if (t.isEmpty && start < s.length && s.charAt(start) == '*') ()
    }
    while (i < s.length) {
      s.charAt(i) match {
        case '#' =>
          val start = i + 1; i += 1
          while (i < s.length && isNameChar(s.charAt(i))) i += 1
          id = Some(s.substring(start, i))
        case '.' =>
          val start = i + 1; i += 1
          while (i < s.length && isNameChar(s.charAt(i))) i += 1
          classes += s.substring(start, i)
        case '[' =>
          val close = s.indexOf(']', i)
          require(close > i, s"unclosed [ in selector part '$s'")
          val body = s.substring(i + 1, close)
          val eq = body.indexOf('=')
          if (eq < 0) attrs += ((body.trim.toLowerCase, None))
          else {
            val name = body.substring(0, eq).trim.toLowerCase
            var v = body.substring(eq + 1).trim
            if (v.length >= 2 && (v.head == '"' || v.head == '\'') && v.last == v.head)
              v = v.substring(1, v.length - 1)
            attrs += ((name, Some(v)))
          }
          i = close + 1
        case _ => i += 1 // tolerate stray chars
      }
    }
    Simple(tag, id, classes.toList, attrs.toList)
  }

  /** All elements matching `selector`, document order. */
  private[graft] def select(root: Elem, selector: String): Vector[Elem] =
    selectParsed(root, parseSelector(selector))

  private[functions] def selectParsed(root: Elem,
      chain: List[(Simple, Boolean)]): Vector[Elem] = {
    val reversed = chain.reverse // last simple first
    val out = ArrayBuffer.empty[Elem]
    // DFS carrying the ancestor ELEMENT chain (nearest first)
    def walk(e: Elem, ancestors: List[Elem]): Unit = {
      if (matchesChain(e, ancestors, reversed)) out += e
      val next = e :: ancestors
      e.children.foreach { case c: Elem => walk(c, next); case _ => }
    }
    root.children.foreach { case c: Elem => walk(c, Nil); case _ => }
    out.toVector
  }

  /** reversedChain: last simple first; each simple carries the
    * combinator BETWEEN it and the preceding simple ('>' = childOnly,
    * i.e. the preceding simple must match the direct parent).
    * ancestors: nearest first.
    */
  private def matchesChain(e: Elem, ancestors: List[Elem],
      reversedChain: List[(Simple, Boolean)]): Boolean = reversedChain match {
    case Nil => true
    case (simple, childOnly) :: rest =>
      if (!simple.matches(e)) false
      else rest match {
        case Nil => true
        case _ =>
          if (childOnly) ancestors match {
            case p :: up => matchesChain(p, up, rest)
            case Nil     => false
          } else {
            var anc = ancestors
            while (anc.nonEmpty) {
              if (matchesChain(anc.head, anc.tail, rest)) return true
              anc = anc.tail
            }
            false
          }
      }
  }
}
