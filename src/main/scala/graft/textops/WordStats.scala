package graft.textops

import graft.Kernels
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Single-pass word-level statistics kernels (round-6 optimization,
  * guide §1.2 step 2 / §4: per-task work). The language-ID / quality /
  * Gopher / classifier columns all derive from the same handful of
  * word-array counters, and the column-op forms evaluate them through
  * interpreted higher-order functions (per-element lambda evaluation) — several O(words) interpreted passes
  * per row across eight driver queries. These kernels produce the RAW
  * INTEGER counters in one Scala pass; every ratio, rounding, and
  * threshold stays in the unchanged Catalyst expressions, so the float
  * path — and therefore the DuckDB-oracle value equality — is untouched
  * (integers are exact in any engine). Parity with the column-op twins
  * is pinned in WordStatsSpec.
  */
object WordStats {

  /** Indices into the [[stats]] array (1-based for element_at). */
  val NWords = 1
  val Chars = 2
  val StopEn = 3
  val StopPt = 4
  val Alpha = 5

  /** Scala twin of [[statsColumnar]]: one pass over the text, counting
    * over the non-empty words of `split(text, " ", -1)`:
    * [n_words, chars (codepoints, summed), n_stop_en, n_stop_pt,
    * n_alpha (words containing an ASCII letter)].
    */
  def statsScala(text: String): Array[Long] = {
    var nw = 0L; var chars = 0L; var en = 0L; var pt = 0L; var alpha = 0L
    val len = text.length
    var i = 0
    while (i <= len) {
      var j = i
      while (j < len && text.charAt(j) != ' ') j += 1
      if (j > i) { // non-empty word at [i, j)
        nw += 1
        chars += text.codePointCount(i, j)
        var k = i
        var hasAlpha = false
        while (k < j && !hasAlpha) {
          val c = text.charAt(k)
          hasAlpha = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
          k += 1
        }
        if (hasAlpha) alpha += 1
        if (matchesAny(text, i, j, TextAnalysis.EnStop)) en += 1
        if (matchesAny(text, i, j, TextAnalysis.PtStop)) pt += 1
      }
      i = j + 1
    }
    Array(nw, chars, en, pt, alpha)
  }

  private def matchesAny(s: String, i: Int, j: Int, words: IndexedSeq[String]): Boolean = {
    val n = j - i
    var k = 0
    while (k < words.length) {
      val w = words(k)
      if (w.length == n && s.regionMatches(i, w, 0, n)) return true
      k += 1
    }
    false
  }

  /** Column-op reference implementation (the shape the audited queries
    * used through round 5; parity vs the kernel pinned in WordStatsSpec).
    */
  def statsColumnar(text: Column): Column = {
    val ws = TextAnalysis.nonEmptyWords(text)
    array(
      size(ws).cast("long"),
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)),
      size(filter(ws, w => w.isin(TextAnalysis.EnStop: _*))).cast("long"),
      size(filter(ws, w => w.isin(TextAnalysis.PtStop: _*))).cast("long"),
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long"))
  }

  def stats(c: Column): Column = Kernels.WordStats(c)

  /** Scala twin of [[termCountsColumnar]]: [n_words, count(terms(0)),
    * count(terms(1)), ...] over the non-empty words — the search
    * family's in-row posting counters in one pass.
    */
  def termCountsScala(text: String, terms: IndexedSeq[String]): Array[Long] = {
    val out = new Array[Long](1 + terms.length)
    val len = text.length
    var i = 0
    while (i <= len) {
      var j = i
      while (j < len && text.charAt(j) != ' ') j += 1
      if (j > i) {
        out(0) += 1
        val n = j - i
        var k = 0
        while (k < terms.length) {
          val t = terms(k)
          if (t.length == n && text.regionMatches(i, t, 0, n)) out(k + 1) += 1
          k += 1
        }
      }
      i = j + 1
    }
    out
  }

  /** Column-op reference twin of [[termCountsScala]]. */
  def termCountsColumnar(text: Column, terms: Seq[String]): Column = {
    val ws = TextAnalysis.nonEmptyWords(text)
    array(size(ws).cast("long") +:
      terms.map(t => size(filter(ws, w => w === t)).cast("long")): _*)
  }

  def termCounts(c: Column, terms: Seq[String]): Column =
    Kernels.TermCounts(c, typedlit(terms))

  /** Scala twin of [[wordTfColumnar]]: the per-doc term-frequency map as
    * (word, tf) pairs in first-occurrence order — one pass, one hash
    * map. Exploding this array yields the (doc_id, word, tf) posting
    * table DIRECTLY: per-doc combination happens in-row, so the tf
    * aggregate (and its full-posting exchange) disappears from the
    * TF-IDF plan.
    */
  def wordTfScala(text: String): Array[(String, Long)] = {
    val m = new java.util.LinkedHashMap[String, Long]()
    val len = text.length
    var i = 0
    while (i <= len) {
      var j = i
      while (j < len && text.charAt(j) != ' ') j += 1
      if (j > i) {
        val w = text.substring(i, j)
        m.merge(w, 1L, (a, b) => a + b)
      }
      i = j + 1
    }
    val out = new Array[(String, Long)](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) { val e = it.next(); out(k) = (e.getKey, e.getValue); k += 1 }
    out
  }

  /** Column-op reference twin of [[wordTfScala]] (quadratic — test use
    * only; `array_distinct` preserves first-occurrence order, matching
    * the kernel's LinkedHashMap).
    */
  def wordTfColumnar(text: Column): Column = {
    val ws = TextAnalysis.nonEmptyWords(text)
    transform(array_distinct(ws), w =>
      struct(w.as("word"),
        size(filter(ws, x => x === w)).cast("long").as("tf")))
  }

  def wordTf(c: Column): Column = Kernels.WordTf(c)

  /** Scala twin of the bare non-empty word count — the cheap subset of
    * [[statsScala]] for consumers that need ONLY n_tokens (sequence
    * packing, mix planning, the corpus card): one boundary scan, none
    * of the per-word classification work. Always equals
    * `statsScala(text)(0)`.
    */
  def wordCountScala(text: String): Long = {
    var nw = 0L
    val len = text.length
    var i = 0
    while (i <= len) {
      var j = i
      while (j < len && text.charAt(j) != ' ') j += 1
      if (j > i) nw += 1
      i = j + 1
    }
    nw
  }

  def wordCount(c: Column): Column = Kernels.WordCount(c)
}
