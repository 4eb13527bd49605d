package graft.streaming

import graft.Kernels
import graft.textops.{Corpus, Decontam, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The CURATED continuous tail — the streaming deployment of the batch
  * [[graft.textops.Corpus.curateCore]] row-level stages over a growing
  * table of text documents: one projection — the batch capstone's own tags
  * ([[Corpus.curateTags]]: token count, language guess, content hash,
  * classifier score, benchmark flag, mix hash) and the contamination check
  * — → stateful exact dedup against ALL history on the 60-bit hash
  * ([[StreamingDedup.firstArrival]]) → classifier cut + benchmark exclusion
  * + decontamination + survivor-weighted mix sampling. Output is the
  * stream of curated doc rows `(doc_id, source, n_tokens, lang_guess,
  * text_hash)` — the input a (batch) per-shard packing step consumes.
  *
  * The LAMBDA SPLIT: two of the batch capstone's stages are global
  * statistics an unbounded stream cannot compute, so they arrive as
  * OFFLINE-PLANNED static inputs —
  *
  *  - the benchmark gram set ([[Decontam.benchGramSet]]): a sorted array,
  *    the constant of the `gram_member` kernel, which holds it in one
  *    broadcast per query run and binary-searches it per gram. The memory
  *    contract of the batch decontamination's broadcast semi-join (bounded
  *    by the benchmark suite, megabytes at deployment scale), but
  *    join-free: membership over an unbounded stream would otherwise need
  *    an explode + re-group, a second stateful stage;
  *  - the mix-rate table ([[Corpus.curatePlanRates]]): the
  *    survivor-weighted sqrt-temperature rates, re-planned on whatever
  *    batch cadence the mix should track, applied here as a broadcast
  *    stream-static join. An unplanned source carries no rate and is
  *    dropped — the conservative deployment default.
  *
  * Filter ORDER preserves the batch semantics: dedup state is updated by
  * EVERY arriving doc (so a quality-dropped or benchmark doc still marks
  * its later copies duplicates — the batch rule that keeper selection
  * sees all rows and filters apply to the probe side only), and the
  * classifier/benchmark/contamination/mix cuts apply to the emitted rows
  * after the keeper decision. A corpus that fits one trigger therefore
  * reproduces the batch capstone's surviving set exactly (CurateStreamSpec
  * pins it); across triggers, first-arrival-wins replaces min-doc_id, the
  * only semantic a stream can honor.
  *
  * Scale shape: the projection runs BEFORE the stateful shuffle, so the
  * state exchange carries fixed-width columns only (ids, hashes, booleans
  * — document text and gram arrays never shuffle); state is one boolean
  * per distinct content hash. A production deployment adds a
  * `GroupStateTimeout` TTL matched to its retention window.
  */
object CurateStream {

  /** The whole transform (testable on streaming or batch relations of
    * text docs): one projection (tags and the contamination check) →
    * stateful dedup → filters → static mix sampling. `benchGrams` must be
    * sorted ([[Decontam.benchGramSet]] returns it sorted); `rates` is the
    * planned `(source, rate_permille)` table.
    */
  def curatedStream(docs: DataFrame, benchGrams: Array[Long],
      rates: DataFrame): DataFrame = {
    // a null doc_id is never the batch keeper (min(doc_id) skips it), so
    // it must not reach the keeper choice here. A null text has a null
    // hash and fails the classifier cut, and a null source has no rate,
    // so the cuts below drop them, as the batch capstone does.
    val d = docs.where(docs("doc_id").isNotNull)
    val tagged = Corpus.curateTags(d.select(d("doc_id"), d("source"), d("text"),
        TextAnalysis.gramHashes60(d("text")).as("grams")), "grams")
    val checked = tagged.select(col("doc_id"), col("source"), col("text_hash"),
      col("n_tokens"), col("lang_guess"), col("mix_h"),
      TextAnalysis.clfVerdict(col("score_u8")).as("keep_clf"), col("is_benchmark"),
      Kernels.GramMember(col("grams"), Kernels.planArray(benchGrams)).as("contaminated"))
    StreamingDedup.firstArrival[Long](checked, "text_hash", "doc_id")
      .where(!col("is_duplicate") && col("keep_clf") && !col("is_benchmark") &&
        !col("contaminated"))
      .join(broadcast(rates.select("source", "rate_permille")), Seq("source"))
      .where(col("mix_h") < col("rate_permille"))
      .select("doc_id", "source", "n_tokens", "lang_guess", "text_hash")
  }

  /** Start the continuous curated tail over a growing parquet directory
    * of text docs; parquet sink + state checkpoint give exactly-once
    * curated rows across restarts.
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, benchGrams: Array[Long], rates: DataFrame,
      availableNow: Boolean = false): StreamingQuery =
    StreamIo.startParquetSink(
      curatedStream(StreamIo.textDocSource(spark, inDir), benchGrams, rates),
      outDir, checkpointDir, availableNow)
}
