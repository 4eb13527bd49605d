package graft.pipeline

import graft.extract.ExtractKernel
import org.apache.spark.sql.Column

import scala.collection.mutable.ArrayBuffer

/** Splits a document's span array into extraction-equivalent chunks for the
  * heavy-document skew path (SURVEY.md §4.2 "large-document skew"; the
  * reference's analog is one huge PDF pinning a Celery worker, mitigated
  * only by prefetch=1, reference workers.py:34).
  *
  * Chunk boundaries ALWAYS align with run boundaries (maximal same-kind
  * segments, the unit [[ExtractKernel]] serializes), so extracting chunks
  * independently and concatenating the outputs (dropping per-chunk
  * sentinels) is provably equal to whole-document extraction — a run is
  * never split, so each run's serialization is byte-identical, and
  * consecutive runs always emit separate output spans anyway. Verified by
  * the chunk-equivalence property tests in SkewSalterSpec.
  */
object SpanChunker {

  /** Greedy run-aligned packing: pack whole runs until `target` spans;
    * a single run larger than `target` forms its own chunk.
    */
  def chunk(spans: Seq[ExtractKernel.S], target: Int): Seq[Seq[ExtractKernel.S]] = {
    if (spans.length <= target) return Seq(spans)
    val sorted = spans.sortBy(_._4)
    def key(s: ExtractKernel.S): String = {
      val sheet = s._3 != null && s._3.startsWith("sheet:")
      if (sheet) s._1 + "#s" else s._1
    }
    val chunks = ArrayBuffer.empty[Seq[ExtractKernel.S]]
    val cur = ArrayBuffer.empty[ExtractKernel.S]
    var i = 0
    val n = sorted.length
    while (i < n) {
      var j = i + 1
      val k = key(sorted(i))
      while (j < n && key(sorted(j)) == k) j += 1
      val run = sorted.slice(i, j)
      if (cur.nonEmpty && cur.length + run.length > target) {
        chunks += cur.toSeq; cur.clear()
      }
      cur ++= run
      i = j
    }
    if (cur.nonEmpty) chunks += cur.toSeq
    chunks.toSeq
  }

  /** `chunk_spans(spans, target)` as a Column. */
  def chunk_spans(spans: Column, target: Column): Column =
    graft.Kernels.ChunkSpans(spans, target)
}
