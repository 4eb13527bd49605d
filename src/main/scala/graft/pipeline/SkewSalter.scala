package graft.pipeline

import graft.extract.{ExtractKernel, Extractor}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit large-document skew handling (north_rule; SURVEY.md §4.2).
  *
  * Extraction is map-only, so ROW-COUNT skew is already handled by input
  * splits — the residual risk is a single document whose span array dwarfs
  * its task (the reference's analog: one huge PDF pinning a Celery worker,
  * reference workers.py:34). Strategy:
  *
  *  - light docs (`size(spans) <= heavyThreshold`): straight per-row
  *    extraction, ZERO shuffle;
  *  - heavy docs: split into run-aligned chunks ([[SpanChunker]]),
  *    `posexplode` + salted `repartition` so one document's chunks spread
  *    across executors, extract each chunk, then re-assemble with a single
  *    hash aggregate (`collect_list` pinned by `array_sort` on chunk id —
  *    collect order is NOT otherwise guaranteed).
  *
  * The heavy side is a tiny fraction of rows at web scale, so its shuffle
  * is cheap; the light side dominates and extracts shuffle-free (the
  * pipeline's one shuffle of its output is the bucket clustering at
  * commit, after extraction). Equivalence of the two paths is
  * property-tested (extraction result is invariant to `heavyThreshold`).
  */
object SkewSalter {

  /** Default: docs above this many spans take the chunked path. */
  val DefaultHeavyThreshold = 4096
  /** Target spans per chunk on the heavy path. */
  val DefaultChunkTarget = 1024

  private val outSpanType = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

  /** Extract with skew defense. Preserves all non-(doc_id,spans) columns
    * (e.g. the pipeline's bucket column) on both paths.
    */
  def extract(docs: DataFrame,
      heavyThreshold: Int = DefaultHeavyThreshold,
      chunkTarget: Int = DefaultChunkTarget): DataFrame = {
    val extra = docs.columns.filterNot(c => c == "doc_id" || c == "spans").toSeq

    val light = docs.where(size(col("spans")) <= heavyThreshold)
    val heavy = docs.where(size(col("spans")) > heavyThreshold)

    val lightOut = Extractor.extract(light, extra)

    // heavy path: chunk → explode → salt-spread → extract → re-assemble
    val chunked = heavy.select(
      (col("doc_id") +: extra.map(col) :+
        posexplode(SpanChunker.chunk_spans(col("spans"), lit(chunkTarget)))
          .as(Seq("chunk_id", "chunk"))): _*)
    val extractedChunks = chunked.repartition(col("doc_id"), col("chunk_id")).select(
      (col("doc_id") +: extra.map(col) :+
        col("chunk_id") :+
        ExtractKernel.extract_spans(col("chunk"), col("doc_id")).as("spans")): _*)
    val reassembled = extractedChunks
      .groupBy((col("doc_id") +: extra.map(col)): _*)
      .agg(collect_list(struct(col("chunk_id"), col("spans"))).as("parts"))
      .select((col("doc_id") +: extra.map(col) :+
        mergeChunks(col("parts"), col("doc_id")).as("spans")): _*)

    lightOut.unionByName(reassembled)
  }

  /** Merge extracted chunk outputs: order by chunk id, concatenate, drop
    * per-chunk sentinels, re-offset; sentinel if nothing remains. Run
    * alignment guarantees no further text merging is needed (see
    * [[SpanChunker]]).
    */
  private def mergeChunks(parts: Column, docId: Column): Column = {
    val ordered = array_sort(parts, (l, r) =>
      when(l.getField("chunk_id") < r.getField("chunk_id"), -1)
        .when(l.getField("chunk_id") > r.getField("chunk_id"), 1).otherwise(0))
    val flat = flatten(transform(ordered, p => p.getField("spans")))
    val kept = filter(flat, s => s.getField("kind") =!= "error")
    val sentinel = array(struct(
      lit("error").as("kind"),
      concat(lit(Extractor.SentinelPrefix), docId, lit("]")).as("text"),
      lit(null).cast("string").as("media_ref"),
      lit(0).as("offset")))
    val merged = when(size(kept) === 0, sentinel).otherwise(
      transform(kept, (s, i) => struct(
        s.getField("kind").as("kind"),
        s.getField("text").as("text"),
        s.getField("media_ref").as("media_ref"),
        i.cast("int").as("offset"))))
    merged.cast(outSpanType)
  }
}
