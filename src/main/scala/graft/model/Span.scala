package graft.model

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The interleaved-span data model (SURVEY.md §1.4, BASELINE.json input_hint).
  *
  * Input table: `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`
  * where kind ∈ {"text","pdf","ocr","html","image"} on input and
  * {"text","image","error"} on extracted output. `offset` is the 0-based
  * position of the span in the document's sequence.
  *
  * Mirrors the reference's single flattened `extracted_text` column
  * (reference models.py:35) re-structured as an ordered span sequence.
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

case class Doc(doc_id: String, spans: Seq[Span])

object Schemas {
  val span: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("media_ref", StringType, nullable = true),
    StructField("offset", IntegerType, nullable = false)
  ))

  val doc: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", ArrayType(span, containsNull = false), nullable = false)
  ))

  /** Input span kinds routed by the dispatch operator (reference utils.py:208-233). */
  val knownKinds: Seq[String] = Seq("text", "pdf", "ocr", "html", "image")
}

/** Catalyst form of a span array, `array<`[[Schemas.span]]`>`: the one
  * decoder and encoder of the span kernels (extract, chunk, span_stats).
  * Fields are addressed by their position in [[Schemas.span]].
  */
object SpanCodec {
  val Type: ArrayType = ArrayType(Schemas.span, containsNull = false)

  private val Width = Schemas.span.length
  private val Kind = Schemas.span.fieldIndex("kind")
  private val Text = Schemas.span.fieldIndex("text")
  private val MediaRef = Schemas.span.fieldIndex("media_ref")
  private val Offset = Schemas.span.fieldIndex("offset")

  /** The `i`-th span, or null for a null element. */
  def span(spans: ArrayData, i: Int): InternalRow = spans.getStruct(i, Width)
  def kind(span: InternalRow): UTF8String = span.getUTF8String(Kind)
  def text(span: InternalRow): UTF8String = span.getUTF8String(Text)

  /** (kind, text, media_ref, offset) of every non-null span, in order. */
  def decode(spans: ArrayData): Seq[(String, String, String, Int)] = {
    val out = Seq.newBuilder[(String, String, String, Int)]
    var i = 0
    while (i < spans.numElements()) {
      val s = span(spans, i)
      if (s != null) out += ((str(s, Kind), str(s, Text), str(s, MediaRef), s.getInt(Offset)))
      i += 1
    }
    out.result()
  }

  def encode(spans: Seq[(String, String, String, Int)]): ArrayData =
    new GenericArrayData(spans.map { case (k, t, m, o) =>
      val row = new Array[Any](Width)
      row(Kind) = UTF8String.fromString(k)
      row(Text) = UTF8String.fromString(t)
      row(MediaRef) = UTF8String.fromString(m)
      row(Offset) = o
      new GenericInternalRow(row)
    }.toArray[Any])

  private def str(s: InternalRow, i: Int): String =
    if (s.isNullAt(i)) null else s.getUTF8String(i).toString
}
