package graft.serve

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Single-pass counters over an extracted span array (round-6 twin of
  * [[graft.textops.WordStats]] for the serving surface): the status
  * projection's four metrics — span count, image count, error count,
  * summed text chars — in one traversal instead of four interpreted
  * HOF passes per row. Raw integers only; every downstream cast and
  * aggregate is unchanged, so oracle values are untouched (parity
  * pinned in SpanStatsSpec).
  */
object SpanStats {

  /** 1-based indices into the [[stats]] array. */
  val NSpans = 1
  val NImages = 2
  val NErrors = 3
  val TextChars = 4

  /** Column-op reference (the round-5 shape; parity-pinned). */
  def statsColumnar(spans: Column): Column = array(
    size(spans).cast("long"),
    size(filter(spans, s => s.getField("kind") === "image")).cast("long"),
    size(filter(spans, s => s.getField("kind") === "error")).cast("long"),
    aggregate(spans, lit(0L),
      (acc, s) => acc + coalesce(length(s.getField("text")), lit(0))))

  /** [n_spans, n_images, n_errors, text_chars] of a span array;
    * `text_chars` counts codepoints (Spark's `length`), null texts add 0.
    */
  def stats(spans: Column): Column = graft.Kernels.SpanStats(spans)
}
