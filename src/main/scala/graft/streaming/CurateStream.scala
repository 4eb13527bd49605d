package graft.streaming

import graft.textops.{Corpus, Decontam, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The CURATED continuous tail — the streaming deployment of the batch
  * [[graft.textops.Corpus.curateCore]] row-level stages over a growing
  * table of text documents: tag through the batch capstone's own tag
  * projection ([[Corpus.curateTags]]: token count, language guess,
  * content hash, classifier score, benchmark flag, mix hash) → stateful
  * exact dedup against ALL history on the 60-bit hash
  * ([[StreamingDedup.firstArrival]]) → classifier cut +
  * benchmark exclusion + decontamination + survivor-weighted mix
  * sampling. Output is the stream of curated doc rows
  * `(doc_id, source, n_tokens, lang_guess, text_hash)` — the input a
  * (batch) per-shard packing step consumes.
  *
  * The LAMBDA SPLIT: two of the batch capstone's stages are global
  * statistics an unbounded stream cannot compute, so they arrive as
  * OFFLINE-PLANNED static inputs —
  *
  *  - the benchmark gram set ([[Decontam.benchGramSet]]): a sorted
  *    broadcast array, binary-searched per gram. Exactly the memory
  *    contract of the batch decontamination's broadcast semi-join
  *    (bounded by the benchmark suite, megabytes at deployment scale),
  *    but join-free: per-row membership over an unbounded stream would
  *    otherwise need an explode + re-group, i.e. a second stateful
  *    stage. The check runs in ONE typed `mapPartitions` hop between the
  *    tag projection and the stateful shuffle — the sanctioned shape for
  *    broadcast-variable lookups Catalyst expressions cannot hold — so
  *    gram arrays live only executor-locally and never enter a shuffle
  *    (the same property the batch anti-join branch guarantees);
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
  * Scale shape: tagging runs BEFORE the stateful shuffle, so the state
  * exchange carries fixed-width columns only (ids, hashes, booleans —
  * document text and gram arrays never shuffle); state is one boolean per
  * distinct content hash. A production deployment adds a
  * `GroupStateTimeout` TTL matched to its retention window.
  */
object CurateStream {

  /** Post-tag, pre-check row: grams ride along executor-locally. */
  case class TaggedDoc(doc_id: Long, source: String, text_hash: Long,
      n_tokens: Long, lang_guess: String, mix_h: Long, keep_clf: Boolean,
      is_benchmark: Boolean, grams: Array[Long])

  /** Post-contamination-check row: fixed width from here on. */
  case class CheckedDoc(doc_id: Long, source: String, text_hash: Long,
      n_tokens: Long, lang_guess: String, mix_h: Long, keep_clf: Boolean,
      is_benchmark: Boolean, contaminated: Boolean)

  /** The whole transform (testable on streaming or batch relations of
    * text docs): tag → contamination check → stateful dedup → filters →
    * static mix sampling. `benchGrams` must be sorted
    * ([[Decontam.benchGramSet]] returns it sorted); `rates` is the
    * planned `(source, rate_permille)` table.
    */
  def curatedStream(docs: DataFrame, benchGrams: Array[Long],
      rates: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bg = spark.sparkContext.broadcast(benchGrams)
    // drop null rows BEFORE tagging: the file-source schema is nullable,
    // and a null text/doc_id/source would fail the typed encode into
    // TaggedDoc's primitive fields — a poison-pill row that kills the
    // query and re-kills every restart of the same micro-batch. The
    // batch capstone drops the identical row silently (null score fails
    // the classifier cut, null hash never matches the keeper join), so
    // an explicit source filter is the parity-preserving shape.
    val clean = docs.where(docs("doc_id").isNotNull &&
      docs("source").isNotNull && docs("text").isNotNull)
    val tagged = Corpus.curateTags(clean.select(clean("doc_id"), clean("source"),
        clean("text"), TextAnalysis.gramHashes60(clean("text")).as("grams")), "grams")
      .withColumn("keep_clf", TextAnalysis.clfVerdict(col("score_u8")))
    val checked = tagged.as[TaggedDoc].mapPartitions { it =>
      val grams = bg.value // sorted; O(log B) membership, zero per-row alloc
      it.map { t =>
        val contaminated = !t.is_benchmark && t.grams.exists(
          g => java.util.Arrays.binarySearch(grams, g) >= 0)
        CheckedDoc(t.doc_id, t.source, t.text_hash, t.n_tokens, t.lang_guess,
          t.mix_h, t.keep_clf, t.is_benchmark, contaminated)
      }
    }
    StreamingDedup.firstArrival[Long](checked.toDF(), "text_hash", "doc_id")
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
