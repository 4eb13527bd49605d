package graft.streaming

import graft.extract.Extractor
import graft.textops.Corpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The CONTINUOUS corpus tail — the streaming deployment of the batch
  * [[graft.textops.Corpus.buildCorpusCore]] front: span documents arrive
  * in micro-batches, are extracted ([[Extractor.extract]]), tagged
  * through the batch build's own tag projection ([[Corpus.corpusTags]]:
  * token count, language guess, Gopher verdict, content hash),
  * exact-deduplicated against ALL history by
  * [[StreamingDedup.firstArrival]] on the 60-bit content hash, and
  * stratified-sampled ([[Corpus.sampleKeep]], the same predicate). The
  * output is the stream of corpus-surviving doc rows
  * `(doc_id, n_tokens, lang_guess, text_hash)` — the input a (batch)
  * packing step consumes per shard.
  *
  * Scale shape: tagging happens BEFORE the stateful shuffle, so the
  * state exchange carries only fixed-width columns (doc_id, hash,
  * n_tokens, lang, keep) — document text never enters a shuffle, the
  * same property the batch build holds. State is ONE boolean per
  * distinct content hash (bits, not text); a production deployment adds
  * a `GroupStateTimeout` TTL matched to its retention window.
  *
  * Keeper semantics are streaming semantics (as [[StreamingDedup]]):
  * first-ARRIVAL wins across micro-batches; within one batch, min
  * doc_id — so a corpus that fits one trigger reproduces the batch
  * build's keeper choice exactly (CorpusStreamSpec pins it). The
  * quality filter applies AFTER dedup, matching the batch rule that a
  * quality-dropped doc can still be the keeper that marks its copies
  * duplicates.
  */
object CorpusStream {

  /** Flattened document text of an EXTRACTED span doc: text-span texts
    * joined by a blank line (media/error spans carry no trainable
    * tokens). This is the text the tail tags and deduplicates on.
    */
  def docText(spans: Column): Column =
    array_join(transform(filter(spans, s => s.getField("kind") === "text"),
      s => coalesce(s.getField("text"), lit(""))), "\n\n")

  /** The whole transform (testable on streaming or batch relations):
    * extract → tag → stateful dedup → quality + sample filter.
    */
  def corpusStream(docs: DataFrame): DataFrame = {
    val withText = Extractor.extract(docs)
      .select(col("doc_id"), docText(col("spans")).as("text"))
    StreamingDedup.firstArrival[String](Corpus.corpusTags(withText), "text_hash", "doc_id")
      .where(col("quality_keep") && !col("is_duplicate") &&
        Corpus.sampleKeep(col("doc_id"), col("lang_guess")))
      .select("doc_id", "n_tokens", "lang_guess", "text_hash")
  }

  /** Start the continuous tail over a growing parquet directory of span
    * docs; parquet sink + state checkpoint give exactly-once corpus rows
    * across restarts.
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, availableNow: Boolean = false): StreamingQuery =
    StreamIo.startParquetSink(corpusStream(StreamIo.docSource(spark, inDir)),
      outDir, checkpointDir, availableNow)
}
