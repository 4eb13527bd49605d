package graft.extract

import org.apache.spark.sql.Column

import scala.collection.mutable.ArrayBuffer

/** Main-content extraction from HTML: tag-density + link-ratio block scoring
  * (Readability/jusText-style), implemented natively in Scala as mandated by
  * the north_rule (the reference has no HTML path; its closest analog is the
  * per-format tool dispatch, reference main.py:155-164).
  *
  * Semantics (frozen — goldens depend on these constants):
  *  - Subtrees under boilerplate tags (script/style/nav/footer/header/aside/
  *    head/noscript/form/iframe/svg/template) are dropped entirely.
  *  - Block-level tags split the text into candidate blocks.
  *  - A block is kept iff its collapsed text has >= MinBlockChars chars and
  *    its link density (chars inside <a> / total chars) <= MaxLinkDensity.
  *  - `<img src=..>` outside boilerplate emits an image span in position.
  *  - Entities &amp; &lt; &gt; &quot; &#39; &nbsp; are decoded; whitespace
  *    runs collapse to a single space; blocks are trimmed.
  */
object HtmlStrip {
  val MinBlockChars = 3
  val MaxLinkDensity = 0.4

  private val boilerplate = Set("script", "style", "nav", "footer", "header",
    "aside", "head", "noscript", "form", "iframe", "svg", "template")
  private val blockTags = Set("p", "div", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "ul", "ol", "td", "th", "tr", "table", "br", "section", "article",
    "main", "blockquote", "pre", "hr", "title", "body", "html")

  /** (kind, text, media_ref) triples in document order. */
  def strip(html: String): Seq[(String, String, String)] = {
    val out = ArrayBuffer.empty[(String, String, String)]
    val buf = new StringBuilder
    var linkChars = 0
    var anchorDepth = 0
    var skipTag: String = null // boilerplate tag we are inside
    var skipDepth = 0

    def flush(): Unit = {
      val text = collapseWs(buf.toString)
      val total = text.length
      if (total >= MinBlockChars && (anchorCharsSafe(total) <= MaxLinkDensity))
        out += (("text", text, null))
      buf.clear(); linkChars = 0
    }
    def anchorCharsSafe(total: Int): Double =
      if (total == 0) 0.0 else linkChars.toDouble / total.toDouble

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        val close = html.indexOf('>', i + 1)
        if (close < 0) { i = n } // malformed tail: drop
        else {
          val inner = html.substring(i + 1, close)
          val isEnd = inner.startsWith("/")
          val body = if (isEnd) inner.substring(1) else inner
          val name = tagName(body)
          if (skipTag != null) {
            if (name == skipTag) {
              if (isEnd) { skipDepth -= 1; if (skipDepth == 0) skipTag = null }
              else if (!inner.endsWith("/")) skipDepth += 1
            }
          } else if (!isEnd && boilerplate.contains(name)) {
            flush()
            if (!inner.endsWith("/")) { skipTag = name; skipDepth = 1 }
          } else if (name == "img") {
            flush()
            attr(body, "src").foreach(src => out += (("image", null, src)))
          } else if (name == "a") {
            anchorDepth = math.max(0, anchorDepth + (if (isEnd) -1 else 1))
          } else if (blockTags.contains(name)) {
            flush()
          }
          // inline tags (b/i/span/em/...) are transparent
          i = close + 1
        }
      } else {
        val next = html.indexOf('<', i)
        val end = if (next < 0) n else next
        if (skipTag == null) {
          val decoded = decodeEntities(html.substring(i, end))
          buf.append(decoded)
          if (anchorDepth > 0) linkChars += decoded.count(!_.isWhitespace)
        }
        i = end
      }
    }
    flush()
    out.toSeq
  }

  private def tagName(tagBody: String): String = {
    var e = 0
    while (e < tagBody.length && (tagBody.charAt(e).isLetterOrDigit)) e += 1
    tagBody.substring(0, e).toLowerCase
  }

  private def attr(tagBody: String, name: String): Option[String] = {
    val k = tagBody.toLowerCase.indexOf(name + "=")
    if (k < 0) None
    else {
      val rest = tagBody.substring(k + name.length + 1)
      if (rest.startsWith("\"")) {
        val e = rest.indexOf('"', 1); if (e < 0) None else Some(rest.substring(1, e))
      } else if (rest.startsWith("'")) {
        val e = rest.indexOf('\'', 1); if (e < 0) None else Some(rest.substring(1, e))
      } else Some(rest.takeWhile(ch => !ch.isWhitespace && ch != '/'))
    }
  }

  private def decodeEntities(s: String): String =
    if (s.indexOf('&') < 0) s
    else s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")

  private def collapseWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c); started = true
      }
      i += 1
    }
    sb.toString
  }

  /** `html_strip(html)` as a native kernel (preferred over a Scala UDF: no
    * encoder round-trip on the output array, composes inside
    * higher-order-function lambdas).
    */
  def html_strip(c: Column): Column = graft.Kernels.HtmlStrip(c)
}
