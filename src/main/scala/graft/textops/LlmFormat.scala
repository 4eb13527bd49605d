package graft.textops

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The reference's LLM-stage string/JSON operators re-expressed as data
  * ops (SURVEY.md §2.4):
  *  - L1 prompt template build (reference utils.py:239-271, duplicated
  *    byte-identical at utils.py:522-554) — pure column concat;
  *  - L5 keyed value regex battery (reference utils.py:439-474) — a
  *    `coalesce(regexp_extract...)` chain, ordered-pattern semantics
  *    preserved by coalesce order;
  *  - L4 best-effort JSON extraction cascade (reference utils.py:321-437)
  *    — a native kernel around a pure Scala cascade (methods:
  *    whole-string parse → first valid bracketed substring → template-key
  *    regex assembly → example-key assembly → cleaned raw).
  * Template wording is our own; the reference's *structure* (context +
  * question + conditional format instructions, empty-context sentinel) is
  * what is mirrored.
  */
object LlmFormat {

  val EmptyContextSentinel = "[AVISO: documento sem texto extraído]"

  /** L1 — deterministic prompt template with 3 format-instruction variants
    * (format+example / format-only / none) and the empty-context fallback
    * (reference workers.py:165-178).
    */
  def promptBuild(context: Column, question: Column, fmt: Column,
      example: Column): Column = {
    import org.apache.spark.sql.functions._
    val ctx = when(regexp_replace(context, "^\\s+|\\s+$", "") === "",
      lit(EmptyContextSentinel)).otherwise(context)
    val instructions =
      when(fmt.isNotNull && example.isNotNull,
        concat(lit("\n\nReturn the answer as JSON matching this format: "), fmt,
          lit("\nExample: "), example))
        .when(fmt.isNotNull,
          concat(lit("\n\nReturn the answer as JSON matching this format: "), fmt))
        .otherwise(lit(""))
    concat(lit("Context: "), ctx, lit("\n\nQuestion: "), question, instructions,
      lit("\n\nBased on the context above, answer directly and objectively."))
  }

  /** L5 pattern battery for one key, in frozen order (mirrors the
    * reference's ordered attempts: key-colon/key-equals forms, then date,
    * CNPJ, decimal, integer fallbacks; first match wins; trailing
    * punctuation stripped; case-insensitive).
    */
  def keyPatterns(key: String): Seq[String] = {
    // keys interpolate into a regex shared verbatim with the DuckDB oracle
    // (no \Q..\E there), so restrict to plain identifiers instead of quoting
    require(key.matches("[A-Za-z0-9_]+"), s"key must be a plain identifier: $key")
    Seq(
    s"(?i)$key\\s*:\\s*([^\\n,}]+)",
    s"(?i)$key\\s*=\\s*([^\\n,}]+)",
    "(\\d{1,2}[/\\-.]\\d{1,2}[/\\-.]\\d{2,4})",
    "(\\d{4}[/\\-.]\\d{1,2}[/\\-.]\\d{1,2})",
    "(\\d{2}\\.\\d{3}\\.\\d{3}/\\d{4}-\\d{2})",
    "(\\d{14})",
    "(\\d+[,.]\\d+)",
    "(\\d+)")
  }

  /** L5 as a column: first matching pattern's capture, trailing [,;.]+
    * stripped; null if nothing matches.
    */
  def keyedExtract(text: Column, key: String): Column = {
    import org.apache.spark.sql.functions._
    val tries = keyPatterns(key).map(p => nullif(regexp_extract(text, p, 1), lit("")))
    regexp_replace(coalesce(tries :+ lit(null).cast("string"): _*), "[,;.]+$", "")
  }

  // ---- L4 cascade (plain Scala; the format_best_effort kernel) ----

  private val mapper = new ObjectMapper()

  private def parseJson(s: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(mapper.readTree(s)) catch { case _: Exception => None }

  private def isJsonContainer(s: String): Boolean =
    parseJson(s).exists(n => n.isObject || n.isArray)

  private val objRe: Regex = new Regex("(?s)\\{.*?\\}")
  private val arrRe: Regex = new Regex("(?s)\\[.*?\\]")

  // the cascade runs per ROW inside the format_best_effort kernel — compile each
  // key's battery once (keys are template fields, a tiny set) and the
  // trailing-punctuation strip once
  private val batteryCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Regex]]()
  private val trailingPunctRe = java.util.regex.Pattern.compile("[,;.]+$")
  private val wsCollapseRe = java.util.regex.Pattern.compile("\\s+")

  /** Max distinct compiled batteries kept (templates arrive per ROW via
    * format_best_effort, so an unbounded cache would grow for the executor
    * JVM's lifetime). At the cap the cache FLUSHES, so a hot key arriving
    * after a flood of junk keys still re-enters instead of recompiling its
    * battery per row forever.
    */
  private val BatteryCacheMax = 1024

  private val identKeyRe = java.util.regex.Pattern.compile("[A-Za-z0-9_]+")

  private def compiledBattery(key: String): Seq[Regex] = {
    if (batteryCache.size >= BatteryCacheMax) batteryCache.clear()
    batteryCache.computeIfAbsent(key, k => keyPatterns(k).map(_.r))
  }

  private def keyedExtractScala(text: String, key: String): Option[String] =
    // non-identifier keys come from CALLER templates (a public SQL
    // function): degrade by skipping the key, never crash the row/job
    if (!identKeyRe.matcher(key).matches()) None
    else compiledBattery(key)
      .view.flatMap { p =>
        p.findFirstMatchIn(text).map(_.group(1))
      }.headOption
      .map(m => trailingPunctRe.matcher(m).replaceAll(""))
      .filter(_.nonEmpty)

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def assembleFromKeys(response: String, keys: Seq[String]): Option[String] = {
    val found = keys.flatMap(k => keyedExtractScala(response, k).map(k -> _))
    if (found.isEmpty) None
    else Some(found.map { case (k, v) => s""""$k": "${jsonEscape(v)}"""" }
      .mkString("{", ", ", "}"))
  }

  private def templateKeys(template: String): Seq[String] =
    parseJson(template).toSeq.flatMap { n =>
      val obj = if (n.isArray && n.size() > 0) n.get(0) else n
      if (obj.isObject) obj.fieldNames().asScala.toSeq else Seq.empty
    }

  /** L4 — best-effort structured extraction from an LLM reply. Frozen
    * cascade (each method falls through to the next):
    *  1. trimmed reply is itself a JSON object/array → return trimmed;
    *  2. first non-greedy bracketed substring (template's bracket shape
    *     first: '[' templates try arrays first) that parses → return it;
    *  3. template keys + L5 battery → assembled {"k": "v"} object;
    *  4. example keys + L5 battery → same;
    *  5. whitespace-collapsed, trimmed raw reply.
    */
  def formatBestEffort(response: String, template: String, example: String): String = {
    if (response == null) return null
    val trimmed = response.trim
    if (isJsonContainer(trimmed)) return trimmed
    val arrayFirst = template != null && template.trim.startsWith("[")
    val res = (if (arrayFirst) Seq(arrRe, objRe) else Seq(objRe, arrRe))
      .view.flatMap(_.findAllIn(response).find(isJsonContainer)).headOption
    res.getOrElse {
      val fromTemplate = Option(template).map(templateKeys).getOrElse(Seq.empty)
      val fromExample = Option(example).map(templateKeys).getOrElse(Seq.empty)
      assembleFromKeys(response, fromTemplate)
        .orElse(assembleFromKeys(response, fromExample))
        .getOrElse(wsCollapseRe.matcher(response).replaceAll(" ").trim)
    }
  }

  // ---- driver queries over the documents table ----

  val Question = "What is this document about?"
  val Template = """{"name": "", "total": ""}"""
  val AnswerTemplate = """{"answer": ""}"""
  val AnswerExample = """{"answer": "a short summary"}"""

  /** L1 query: build the full prompt per doc; format-instruction variant
    * cycles with doc_id % 3 (both / format-only / none).
    */
  def promptBuildQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val m = pmod(d("doc_id"), lit(3L))
    val fmt = when(m < 2, lit(AnswerTemplate)).otherwise(lit(null).cast("string"))
    val ex = when(m === 0, lit(AnswerExample)).otherwise(lit(null).cast("string"))
    d.select(d("doc_id"),
      promptBuild(d("text"), lit(Question), fmt, ex).as("full_prompt"))
      .orderBy("doc_id")
  }

  /** Deterministic synthetic LLM-reply text used by the L4/L5 queries
    * (first word + per-doc number + fixed date/CNPJ lines).
    */
  private def syntheticKv(d: DataFrame): Column = {
    import org.apache.spark.sql.functions._
    val w1 = coalesce(nullif(element_at(split(d("text"), " "), 1), lit("")), lit("empty"))
    concat(lit("name: "), w1, lit(", total: "), pmod(d("doc_id"), lit(100L)), lit(".5"),
      lit("\ndate: 12/03/2024\ncnpj: 12.345.678/0001-99"))
  }

  /** L5 query: keyed battery extraction of 4 keys from the synthetic
    * reply.
    */
  def extractValuesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = TextAnalysis.loadDocs(spark, sfDir)
    // stage the synthetic reply in its OWN projection: the four keyed
    // batteries reference it up to 32 times (8 patterns x 4 keys), and
    // inlined it re-materializes the concat+split chain inside every
    // regexp_extract (the CollapseProject re-evaluation trap — a
    // non-cheap alias referenced many times stays staged, so the reply
    // builds ONCE per row)
    val staged = d.select(d("doc_id"), syntheticKv(d).as("resp"))
    staged.select(col("doc_id"),
      keyedExtract(col("resp"), "name").as("name"),
      keyedExtract(col("resp"), "total").as("total"),
      keyedExtract(col("resp"), "date").as("date"),
      keyedExtract(col("resp"), "cnpj").as("cnpj"))
      .orderBy("doc_id")
  }

  /** Deterministic synthetic LLM reply cycling over 4 shapes with
    * doc_id % 4 (valid JSON / embedded JSON / key-value text / free text) —
    * the input both the L4 query and the serve debug projection feed to the
    * cascade.
    */
  def syntheticReply(d: DataFrame): Column = {
    import org.apache.spark.sql.functions._
    val w1 = coalesce(nullif(element_at(split(d("text"), " "), 1), lit("")), lit("empty"))
    val n = pmod(d("doc_id"), lit(100L))
    when(pmod(d("doc_id"), lit(4L)) === 0,
      concat(lit("{\"name\": \""), w1, lit("\", \"total\": "), n, lit("}")))
      .when(pmod(d("doc_id"), lit(4L)) === 1,
        concat(lit("Result follows: {\"name\": \""), w1, lit("\"} -- end")))
      .when(pmod(d("doc_id"), lit(4L)) === 2,
        concat(lit("name: "), w1, lit(", total: "), n, lit(".5\ndate: 12/03/2024")))
      .otherwise(concat(lit("   no structured data about "), w1, lit("   ")))
  }

  /** L4 query: the cascade over 4 reply shapes (valid JSON / embedded JSON
    * / key-value text / free text), cycling with doc_id % 4.
    */
  def formatResponseQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = TextAnalysis.loadDocs(spark, sfDir)
    d.select(d("doc_id"),
      format_best_effort(syntheticReply(d), lit(Template), lit(null).cast("string"))
        .as("formatted"))
      .orderBy("doc_id")
  }

  /** `format_best_effort(response, template, example)` as a Column. */
  def format_best_effort(response: Column, template: Column, example: Column): Column =
    graft.Kernels.FormatBestEffort(response, template, example)
}
