package graft.synth

import org.apache.spark.sql.Column

import scala.collection.mutable.ArrayBuffer

/** Native single-pass implementation of the span-table synthesis
  * ([[SpanSynth]] documents the semantics; [[SpanSynth.synthColumnar]] is
  * the column-op reference implementation the equivalence spec pins this
  * against). Synthesis feeds EVERY extract/serve driver query, and the
  * column-op version is a large interpreted higher-order-function tree per
  * row — one Scala pass per document keeps the same Catalyst-visible shape
  * (a projection; column pruning still reaches the parquet scan).
  */
object SynthKernel {

  import SpanSynth.{CellWords, CellsPerRow, ParaWords}

  /** (kind, text, media_ref) pre-offset. */
  private type S3 = (String, String, String)

  /** Per-document synthesis on plain data — single source of truth for the
    * fast path; mirrors [[SpanSynth.synth]] rule for rule.
    */
  def synthDoc(did: Long, text: String): Seq[(String, String, String, Int)] = {
    // lpad semantics (Spark lpad / DuckDB lpad TRUNCATE to the first 8
    // chars when longer) — %08d would diverge at doc_id >= 10^8
    val ds = did.toString
    val key8 = if (ds.length >= 8) ds.substring(0, 8)
      else "0" * (8 - ds.length) + ds
    val docKey = "doc-" + key8
    // round 6: `split(" ", -1)` words re-joined with " " over a range
    // are EXACTLY a substring of the original text (separators are all
    // single spaces), so paragraph/cell slices come from word-boundary
    // offsets instead of allocating the word array + per-slice mkString
    // — the synth kernel feeds every extract/serve/media/llm query.
    val len = text.length
    var nw = 1
    var p = 0
    while (p < len) { if (text.charAt(p) == ' ') nw += 1; p += 1 }
    // starts(k) = first char of word k; sentinel starts(nw) = len + 1 so
    // "end of word k" is uniformly starts(k + 1) - 1
    val starts = new Array[Int](nw + 1)
    var k = 1
    p = 0
    while (p < len) { if (text.charAt(p) == ' ') { starts(k) = p + 1; k += 1 }; p += 1 }
    starts(nw) = len + 1
    // words[a until b) joined with " " (empty when a >= nw, as the
    // out-of-range slice was)
    def joinWords(a: Int, b: Int): String =
      if (a >= nw) "" else text.substring(starts(a), starts(math.min(b, nw)) - 1)

    val np = ((nw + ParaWords - 1) / ParaWords).toInt
    val cls = (did % 5).toInt
    val allBlank = did % 25 == 5

    def para(i: Int): String = joinWords(i * ParaWords, i * ParaWords + ParaWords)
    def cell(i: Int, j: Int): String = {
      val from = i * ParaWords + j * CellWords
      joinWords(from, from + CellWords)
    }
    def rowText(i: Int): String = {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < CellsPerRow) {
        if (j > 0) sb.append('\t')
        sb.append(cell(i, j))
        j += 1
      }
      sb.toString
    }
    def pdfMedia(i: Int): String = {
      val page = i / 4; val k = i % 4
      s"p$page:x${k % 2 * 300}:y${k / 2 * 100}"
    }
    def ocrNoise(t: String): String =
      " " + t.replace("fi", "ﬁ").replace("or", "o­ r") + "  "

    // base spans with input-order sort keys (pdf arrives shuffled)
    val base = ArrayBuffer.empty[(Int, Int, S3)]
    if (cls == 4) {
      val htmlText = if (allBlank) "" else {
        val sb = new StringBuilder
        sb.append("<html><head><title>Doc ").append(docKey)
          .append("</title></head><body>")
          .append("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></nav>")
          .append("<div id=\"main\">")
        var j = 0
        while (j < np) { sb.append("<p>").append(para(j)).append("</p>"); j += 1 }
        if (did % 3 == 0) sb.append("<img src=\"media://").append(docKey).append("/0\">")
        sb.append("</div>")
          .append("<div class=\"links\"><a href=\"/l1\">more stuff here</a> <a href=\"/l2\">other links page</a></div>")
          .append("<footer><a href=\"/privacy\">Privacy</a> (c) 2025 Example Corp</footer>")
          .append("</body></html>")
        sb.toString
      }
      base += ((0, 0, ("html", htmlText, null)))
    } else {
      var i = 0
      while (i < np) {
        val entry: (Int, Int, S3) = cls match {
          case 0 =>
            val t = if (allBlank || (did + i) % 7 == 0) "" else para(i)
            (i, i, ("text", t, null))
          case 1 =>
            val t = if (allBlank || (did + i) % 5 == 0) "" else rowText(i)
            (i, i, ("text", t, "sheet:S" + (if (i * 2 < np) "0" else "1")))
          case 2 =>
            val t = if (allBlank) "" else para(i)
            ((i * 7 + 3) % np, i, ("pdf", t, pdfMedia(i)))
          case _ =>
            val t = if (allBlank) "" else ocrNoise(para(i))
            (i, i, ("ocr", t, null))
        }
        base += entry
        i += 1
      }
    }

    val sorted = base.sortBy(e => (e._1, e._2)).map(_._3)
    if (cls < 4 && did % 3 == 0)
      sorted.insert(1, ("image", null, s"media://$docKey/0"))
    if (did % 89 == 88)
      sorted += (("wingdings", "???", null))
    sorted.zipWithIndex.map { case ((k, t, m), idx) => (k, t, m, idx) }.toSeq
  }

  /** `synth_spans(doc_id, text)` as a Column. */
  def synth_spans(docId: Column, text: Column): Column =
    graft.Kernels.SynthSpans(docId, text)
}
