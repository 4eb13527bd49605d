package graft.extract

import org.apache.spark.sql.Column

import scala.collection.mutable.ArrayBuffer

/** Native single-pass implementation of the extraction kernel
  * ([[Extractor]] documents the semantics; the two implementations are
  * equivalence-tested). This is the hot path: the pure-column-op version
  * evaluates a large interpreted higher-order-function tree per row
  * (~29 docs/s/core measured at sf0.1); this kernel does one Scala pass
  * per document (orders of magnitude faster) while keeping the same
  * Catalyst-visible shape — a projection, no shuffle, column pruning and
  * filter pushdown still apply to the scan.
  */
object ExtractKernel {

  /** Plain-Scala span: (kind, text, media_ref, offset). */
  type S = (String, String, String, Int)

  // String.replaceAll recompiles its regex per CALL; these run per
  // span/run in the kernel hot loop, so precompile once (same patterns,
  // byte-identical output; goldens pin it)
  private val pyStripRe = java.util.regex.Pattern.compile("^\\s+|\\s+$")
  private val dehyphRe = java.util.regex.Pattern.compile("\u00AD\\s*")
  private val ctrlRe = java.util.regex.Pattern.compile("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
  private val crlfRe = java.util.regex.Pattern.compile("\r\n?")
  private val spaceRe = java.util.regex.Pattern.compile("[ \t]+")

  private[extract] def pyStrip(s: String): String =
    pyStripRe.matcher(s).replaceAll("")

  private[extract] def ocrNormalize(t: String): String = {
    val lig = t.replace("ﬁ", "fi").replace("ﬂ", "fl")
    val dehyph = dehyphRe.matcher(lig).replaceAll("")
    val ctrl = ctrlRe.matcher(dehyph).replaceAll("")
    val crlf = crlfRe.matcher(ctrl).replaceAll("\n")
    val sp = spaceRe.matcher(crlf).replaceAll(" ")
    pyStrip(sp)
  }

  private def runKey(s: S): String = {
    val sheet = s._3 != null && s._3.startsWith("sheet:")
    if (sheet) s._1 + "#s" else s._1
  }

  private val pdfRef = "^p(\\d+):x(\\d+):y(\\d+)$".r

  /** Per-document kernel on plain data — the single source of truth for the
    * fast path, also called directly from tests.
    */
  def extractDoc(docId: String, spans: Seq[S]): Seq[S] = {
    val out = ArrayBuffer.empty[(String, String, String)]
    if (spans.nonEmpty) {
      val sorted = spans.sortBy(_._4)
      var i = 0
      val n = sorted.length
      while (i < n) {
        var j = i + 1
        val key = runKey(sorted(i))
        while (j < n && runKey(sorted(j)) == key) j += 1
        val run = sorted.slice(i, j)
        processRun(key, run, out)
        i = j
      }
    }
    if (out.isEmpty)
      out += (("error", Extractor.SentinelPrefix + docId + "]", null))
    out.zipWithIndex.map { case ((k, t, m), idx) => (k, t, m, idx) }.toSeq
  }

  private def processRun(key: String, run: Seq[S],
      out: ArrayBuffer[(String, String, String)]): Unit = key match {
    case "image" =>
      run.foreach(s => out += (("image", null, s._3)))
    case "text#s" =>
      // Excel serialization (reference utils.py:183-200): sheet header,
      // blank rows skipped, "\n" between sheets, final strip
      val sheets = ArrayBuffer.empty[String]
      run.foreach(s => if (!sheets.contains(s._3)) sheets += s._3)
      val sb = new StringBuilder
      sheets.foreach { sh =>
        val rows = run.filter(_._3 == sh)
        val kept = rows.filter(r => r._2 != null && pyStrip(r._2).nonEmpty)
        sb.append("Sheet: ").append(sh.substring(6)).append('\n')
        if (kept.nonEmpty) {
          sb.append(kept.map(_._2).mkString("\n")).append('\n')
        }
        sb.append('\n')
      }
      emitText(pyStrip(sb.toString), out)
    case "text" =>
      // paragraph join (reference utils.py:147-156): blanks kept
      emitText(pyStrip(run.flatMap(s => Option(s._2)).mkString("\n")), out)
    case "ocr" =>
      emitText(pyStrip(run.flatMap(s => Option(s._2)).map(ocrNormalize).mkString("\n")), out)
    case "pdf" =>
      // reading order: page ASC, x-cluster column ASC, y ASC, offset
      val parsed = run.map { s =>
        s._3 match {
          case pdfRef(p, x, y) => ((p.toInt, x.toInt / 300, y.toInt, s._4), s._2)
          case _ => ((Int.MaxValue, Int.MaxValue, Int.MaxValue, s._4), s._2)
        }
      }
      emitText(pyStrip(parsed.sortBy(_._1).flatMap(b => Option(b._2)).mkString("\n")), out)
    case "html" =>
      run.foreach { s =>
        if (s._2 != null) HtmlStrip.strip(s._2).foreach(t => out += t)
      }
    case _ => () // dead-letter: unknown kind, counted in metrics
  }

  private def emitText(t: String, out: ArrayBuffer[(String, String, String)]): Unit =
    if (t.nonEmpty) out += (("text", t, null))

  /** `extract_spans(spans, doc_id)` as a Column. */
  def extract_spans(spans: Column, docId: Column): Column =
    graft.Kernels.ExtractSpans(spans, docId)
}
