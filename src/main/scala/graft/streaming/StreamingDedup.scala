package graft.streaming

import graft.textops.PortableHash
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming exact dedup with keyed state — the continuous-ingest twin of
  * [[graft.textops.Dedup.exact]]: documents arrive in micro-batches, and a
  * doc whose content hash was EVER seen (this batch or any earlier one) is
  * flagged duplicate. State is one boolean per 60-bit content hash, kept
  * in the streaming state store and recovered from the checkpoint on
  * restart — so dedup survives process death, exactly like the batch
  * pipeline's bucket checkpoints survive a crashed run.
  *
  * A stateful group map ([[firstArrival]]) is the right primitive (not
  * `dropDuplicates`): the first-seen doc must still be EMITTED (flagged
  * keeper) and later copies emitted-as-flagged rather than silently
  * dropped — the shape of a quarantine/lineage-preserving dedup at
  * training-data scale.
  *
  * Keeper semantics are STREAMING semantics: first-ARRIVAL wins. Across
  * micro-batches (including >maxFilesPerTrigger file sets inside one
  * run) the earlier batch's doc is the keeper whatever its doc_id — a
  * stream cannot reorder the past. Within one micro-batch, ties break
  * by min doc_id, which is the batch operator's window order; a corpus
  * that fits one trigger therefore reproduces
  * [[graft.textops.Dedup.exact]]'s flags exactly (what
  * StreamingDedupSpec pins).
  *
  * Scale notes: state is hash-partitioned by content hash across
  * executors (the same shuffle key as the batch groupBy); each key holds
  * ONE boolean, so state size is #distinct-docs bits, not text. A
  * production deployment adds a state TTL (`GroupStateTimeout`) matched
  * to its retention window; the sandbox test keeps NoTimeout.
  */
object StreamingDedup {

  /** 60-bit portable hash of the span texts (text-only, joined on an explicit
    * \\u0001 separator so differing span splits of the same concatenation
    * — ["ab","c"] vs ["a","bc"] — do NOT collide; dedup is about content,
    * not offsets/media refs).
    */
  def contentHash(spans: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PortableHash.hexint60(array_join(
      transform(spans, s => coalesce(s.getField("text"), lit(""))), "\u0001"))

  /** First-keeper selection of one hash group's batch: pairs every row
    * with its is_duplicate flag. One O(n) min pass, NO sort — a
    * degenerate hash (empty content duplicated across a whole batch)
    * lands its group in one task, and an O(n log n) sort there is pure
    * waste when only the minimum is needed. A re-delivered duplicate id
    * keeps exactly one keeper.
    */
  def keeperFlags[T, K](batch: Array[T], seenBefore: Boolean)(
      id: T => K)(implicit ord: Ordering[K]): Iterator[(T, Boolean)] =
    if (seenBefore || batch.isEmpty) batch.iterator.map((_, true))
    else {
      val minId = batch.iterator.map(id).min
      var keeperEmitted = false
      batch.iterator.map { d =>
        val keeper = !keeperEmitted && ord.equiv(id(d), minId)
        if (keeper) keeperEmitted = true
        (d, !keeper)
      }
    }

  /** The one stateful operator of the streaming dedup tails (here,
    * [[CorpusStream]] and [[CurateStream]]): groups `rows` on the 60-bit
    * content hash in column `hash`, keeps one boolean of state per hash,
    * and returns every input row with `is_duplicate` appended — false
    * for the first-ever-seen row only (earlier batch wins; within this
    * batch, the least `id`: [[keeperFlags]]). `K` is the id column's
    * type, whose ordering picks the keeper: span docs key on String ids,
    * the curated tail on numeric ids (where string order would pick "10"
    * over "9" and diverge from the batch keeper). Null hashes form one
    * group, as in the batch window, under the key -1, which no 60-bit hash
    * takes.
    */
  def firstArrival[K: Ordering](rows: DataFrame, hash: String, id: String): DataFrame = {
    val schema = rows.schema
    val (h, i) = (schema.fieldIndex(hash), schema.fieldIndex(id))
    rows.groupByKey(r => if (r.isNullAt(h)) -1L else r.getLong(h))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, group: Iterator[Row], state: GroupState[Boolean]) =>
          val seenBefore = state.getOption.getOrElse(false)
          val batch = group.toArray
          if (!seenBefore && batch.nonEmpty) state.update(true)
          keeperFlags(batch, seenBefore)(_.getAs[K](i)).map { case (r, dup) =>
            Row.fromSeq(r.toSeq :+ dup)
          }
      }(Encoders.scalaBoolean,
        Encoders.row(schema.add("is_duplicate", BooleanType, nullable = false)))
  }

  /** The streaming transform alone (testable on any streaming or batch
    * relation of span docs).
    */
  def dedupStream(docs: DataFrame): DataFrame =
    firstArrival[String](
      docs.select(col("doc_id"), contentHash(col("spans")).as("content_hash")),
      "content_hash", "doc_id")

  /** Start the continuous dedup over a growing parquet directory of span
    * docs; parquet sink + state checkpoint give exactly-once flags across
    * restarts.
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, availableNow: Boolean = false): StreamingQuery =
    StreamIo.startParquetSink(dedupStream(StreamIo.docSource(spark, inDir)),
      outDir, checkpointDir, availableNow)
}
