package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The extraction kernel: `(doc_id, spans)` in → `(doc_id, spans)` out,
  * where output spans carry the extracted main content re-offset 0-based
  * (SURVEY.md §1.4, §2.2). Everything is per-document column ops over the
  * span array — higher-order functions only, ZERO shuffle: a document's
  * spans never leave its row, so the job scales linearly with input splits
  * regardless of document placement.
  *
  * Semantics per contiguous run of same-kind spans (offset order):
  *  - text          → per-span texts joined "\n", python-strip  (reference utils.py:147-156: every paragraph appended + "\n", blanks KEPT, final strip)
  *  - text w/ sheet → Excel serialization: "Sheet: {name}\n" header, rows
  *                    joined "\n" with blank rows SKIPPED, "\n" between
  *                    sheets, final strip                        (reference utils.py:183-200)
  *  - pdf           → blocks sorted into reading order (page ASC, x-cluster
  *                    column ASC, y ASC, offset), joined "\n", strip (reference utils.py:92-122: per-page OCR concat + "\n")
  *  - ocr           → per-span OCR normalization (ligatures, soft-hyphen
  *                    de-hyphenation, control chars, whitespace collapse,
  *                    strip), joined "\n", strip                 (reference utils.py:61-65: tesseract output .strip())
  *  - html          → [[HtmlStrip]] boilerplate removal → text/image spans  (north_rule)
  *  - image         → passthrough, media_ref preserved in position (reference utils.py:45-71 analog; input_hint interleaving)
  *  - unknown kind  → dead-lettered (dropped from output, counted in
  *                    metrics; the reference raises ValueError utils.py:227-228
  *                    — at 10^12 docs one bad row must not kill the job)
  * Empty extraction → single sentinel span kind="error"          (reference workers.py:70-75)
  */
object Extractor {

  /** Python `str.strip()` equivalent (reference strips with str.strip()
    * everywhere: utils.py:65,122,156,200). Spark `trim` only strips spaces.
    */
  def pyStrip(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  val SentinelPrefix = "[ERRO: Não foi possível extrair texto do arquivo "

  /** OCR-noise normalization chain, per span. Order is frozen (goldens):
    * ligatures → de-hyphenation → control chars → CR/LF → space collapse →
    * strip.
    */
  def ocrNormalize(t: Column): Column = {
    val lig = replace(replace(t, lit("ﬁ"), lit("fi")), lit("ﬂ"), lit("fl"))
    val dehyph = regexp_replace(lig, "\u00AD\\s*", "")
    val ctrl = regexp_replace(dehyph, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")
    val crlf = regexp_replace(ctrl, "\r\n?", "\n")
    val sp = regexp_replace(crlf, "[ \t]+", " ")
    pyStrip(sp)
  }

  private def outSpan(kind: Column, text: Column, media: Column): Column =
    struct(kind.cast("string").as("kind"), text.cast("string").as("text"),
      media.cast("string").as("media_ref"))

  private val emptyOut: Column =
    array().cast("array<struct<kind:string,text:string,media_ref:string>>")

  private def textSpanOrEmpty(t: Column): Column =
    when(t === "", emptyOut)
      .otherwise(array(outSpan(lit("text"), t, lit(null))))

  /** Paragraph semantics (E3). */
  def paragraphRun(run: Column): Column =
    pyStrip(array_join(transform(run, s => s.getField("text")), "\n"))

  /** OCR semantics (E1). */
  def ocrRun(run: Column): Column =
    pyStrip(array_join(transform(run, s => ocrNormalize(s.getField("text"))), "\n"))

  /** PDF reading-order semantics (E2): x-cluster column = floor(x/300). */
  def pdfRun(run: Column): Column = {
    val parsed = transform(run, s => struct(
      regexp_extract(s.getField("media_ref"), "^p(\\d+):", 1).try_cast("int").as("page"),
      floor(regexp_extract(s.getField("media_ref"), ":x(\\d+):", 1).try_cast("int") / 300)
        .try_cast("int").as("colx"),
      regexp_extract(s.getField("media_ref"), ":y(\\d+)$", 1).try_cast("int").as("y"),
      s.getField("offset").as("off"),
      s.getField("text").as("text")))
    val ordered = array_sort(parsed, (l, r) => cmp(l, r, Seq("page", "colx", "y", "off")))
    pyStrip(array_join(transform(ordered, b => b.getField("text")), "\n"))
  }

  /** Excel sheet serialization (E4). media_ref = "sheet:NAME". */
  def sheetRun(run: Column): Column = {
    val sheets = array_distinct(transform(run, s => s.getField("media_ref")))
    val blocks = transform(sheets, sh => {
      val rows = filter(run, r => r.getField("media_ref") === sh)
      val kept = filter(rows, r => pyStrip(r.getField("text")) =!= "")
      concat(
        lit("Sheet: "), substring(sh, 7, 1000000), lit("\n"),
        when(size(kept) > 0,
          concat(array_join(transform(kept, r => r.getField("text")), "\n"), lit("\n")))
          .otherwise(lit("")),
        lit("\n"))
    })
    pyStrip(array_join(blocks, ""))
  }

  private def cmp(l: Column, r: Column, fields: Seq[String]): Column =
    fields.foldRight(lit(0)) { (f, tail) =>
      when(l.getField(f) < r.getField(f), -1)
        .when(l.getField(f) > r.getField(f), 1)
        .otherwise(tail)
    }

  /** Run dispatch (E5): route a homogeneous run to its serializer. */
  private def processRun(run: Column): Column = {
    val head = element_at(run, 1)
    val kind = head.getField("kind")
    val isSheet = coalesce(head.getField("media_ref").startsWith("sheet:"), lit(false))
    when(kind === "image",
      transform(run, s => outSpan(lit("image"), lit(null), s.getField("media_ref"))))
      .when(kind === "text" && isSheet, textSpanOrEmpty(sheetRun(run)))
      .when(kind === "text", textSpanOrEmpty(paragraphRun(run)))
      .when(kind === "ocr", textSpanOrEmpty(ocrRun(run)))
      .when(kind === "pdf", textSpanOrEmpty(pdfRun(run)))
      .when(kind === "html",
        flatten(transform(run, s =>
          transform(HtmlStrip.html_strip(s.getField("text")), h =>
            outSpan(h.getField("kind"), h.getField("text"), h.getField("media_ref"))))))
      .otherwise(emptyOut) // dead-letter: unknown kind (metrics count it)
  }

  /** Run key: runs split on kind changes, and sheet-rows are their own run
    * class within kind="text".
    */
  private def runKey(s: Column): Column =
    concat(s.getField("kind"),
      when(coalesce(s.getField("media_ref").startsWith("sheet:"), lit(false)), lit("#s"))
        .otherwise(lit("")))

  /** The whole kernel as one Column: input span array → extracted span array. */
  def extractSpans(spans: Column, docId: Column): Column = {
    val sorted = array_sort(spans, (l, r) => cmp(l, r, Seq("offset")))
    val keys = transform(sorted, s => runKey(s))
    val n = size(sorted)
    // run start indices (0-based)
    val bounds = filter(sequence(lit(0), n - 1), i =>
      i === 0 || element_at(keys, i + 1) =!= element_at(keys, i))
    val runs = transform(sequence(lit(0), size(bounds) - 1), j => {
      val start = element_at(bounds, j + 1)
      val stop = coalesce(try_element_at(bounds, j + 2), n)
      slice(sorted, start + 1, stop - start)
    })
    val flat = flatten(transform(runs, r => processRun(r)))
    val sentinel = array(outSpan(lit("error"),
      concat(lit(SentinelPrefix), docId, lit("]")), lit(null)))
    val withSentinel = when(n === 0 || size(flat) === 0, sentinel).otherwise(flat)
    transform(withSentinel, (s, i) => struct(
      s.getField("kind").as("kind"),
      s.getField("text").as("text"),
      s.getField("media_ref").as("media_ref"),
      i.cast("int").as("offset")))
  }

  /** Dead-letter count per doc (unknown input kinds). */
  def deadLetterCount(spans: Column): Column =
    size(filter(spans, s => !s.getField("kind").isin(graft.model.Schemas.knownKinds: _*)))

  /** `(doc_id, spans)` → `(doc_id, spans)` extracted — fast path via the
    * native `extract_spans` kernel (equivalence-tested against the
    * column-op implementation below).
    */
  def extract(docs: DataFrame): DataFrame = extract(docs, Seq.empty)

  /** As [[extract]], carrying through `extraCols` (e.g. a bucket column). */
  def extract(docs: DataFrame, extraCols: Seq[String]): DataFrame =
    docs.select((col("doc_id") +: extraCols.map(col) :+
      ExtractKernel.extract_spans(col("spans"), col("doc_id")).as("spans")): _*)

  /** Same semantics, pure Catalyst column ops (higher-order functions only).
    * Kept as the UDF-free reference implementation and for per-piece DuckDB
    * oracles; ~1000x slower than the kernel on wide docs because the
    * interpreted HOF tree re-evaluates duplicated subtrees per element.
    */
  def extractColumnar(docs: DataFrame): DataFrame = {
    // n==0 guard: sequence(0, -1) inside extractSpans must never evaluate
    val safe = when(size(col("spans")) === 0,
      extractSpansEmpty(col("doc_id")))
      .otherwise(extractSpans(col("spans"), col("doc_id")))
    docs.select(col("doc_id"), safe.as("spans"))
  }

  private def extractSpansEmpty(docId: Column): Column =
    array(struct(lit("error").as("kind"),
      concat(lit(SentinelPrefix), docId, lit("]")).as("text"),
      lit(null).cast("string").as("media_ref"), lit(0).as("offset")))
}
