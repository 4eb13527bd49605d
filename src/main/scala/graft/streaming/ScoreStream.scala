package graft.streaming

import graft.Kernels
import graft.textops.LmScore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming SCORE tail — the continuous deployment of cross-trained
  * LM scoring ([[graft.textops.LmScore.scoreCross]]): new documents
  * arrive forever, each scored against the FROZEN reference-slice LM —
  * CCNet's production shape, where the model trains offline on the clean
  * corpus and ships to the workers that score the crawl.
  *
  * Lambda split (the [[CleanStream]] / [[CurateStream]] contract): the
  * global statistics — bigram counts, context counts, vocabulary size —
  * are planned OFFLINE by batch ([[LmScore.crossModel]], the definition
  * the batch query uses) as sorted aligned arrays: the constants of the
  * `bigram_nll` kernel, which holds them in one broadcast per query run.
  * Scoring is one STATELESS projection over that kernel, with the batch
  * plan's micro-quantized integer arithmetic (HALF_UP at the same two
  * rounding points), so streamed values equal batch values bit-for-bit.
  * The arrays are bounded by the REFERENCE corpus's distinct bigrams (the
  * model artifact), never by the crawl. Exactly-once is the
  * file-source/sink commit logs alone; new reference data means a new
  * plan cycle.
  */
object ScoreStream {

  /** The frozen model as sorted aligned arrays + vocab (`bind` checks both). */
  case class Model(bgH: Array[Long], bgC: Array[Long],
      uH: Array[Long], uC: Array[Long], vocab: Long)

  /** Collect the planner's count tables into a [[Model]] (offline, once
    * per plan cycle; bounded by the reference corpus — see scaladoc).
    */
  def planModel(bg: DataFrame, uc: DataFrame, v: DataFrame): Model = {
    val bgRows = bg.select("bg_h", "c12").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val ucRows = uc.select("u_h", "c1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    Model(bgRows.map(_._1), bgRows.map(_._2),
      ucRows.map(_._1), ucRows.map(_._2), v.head().getLong(0))
  }

  /** Whole transform (testable on streaming or batch relations of text
    * docs): score each doc under the frozen model with the `bigram_nll`
    * kernel, whose arithmetic is [[LmScore.scoreCore]]'s term for term —
    * so parity with the batch query is exact, not approximate. The columns
    * are the batch score's minus the training-only `lang`. A doc without
    * text scores nothing and is not emitted.
    */
  def scoredStream(docs: DataFrame, model: Model): DataFrame = {
    val d = docs.where(docs("text").isNotNull)
    d.select(d("doc_id"), Kernels.BigramNll(d("text"), Kernels.planArray(model.bgH),
        Kernels.planArray(model.bgC), Kernels.planArray(model.uH),
        Kernels.planArray(model.uC), lit(model.vocab)).as("s"))
      .select(col("doc_id"), col("s.n_words"), col("s.n_bigrams"), col("s.nll_micro_sum"),
        col("s.avg_nll_micro"),
        coalesce(col("s.avg_nll_micro") <= LmScore.LmNllMaxMicro, lit(false)).as("keep"))
  }

  /** Start the continuous score tail over a growing parquet directory of
    * text docs; parquet sink + source commit logs give exactly-once
    * scored rows across restarts.
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, model: Model,
      availableNow: Boolean = false): StreamingQuery =
    StreamIo.startParquetSink(
      scoredStream(StreamIo.textDocSource(spark, inDir), model),
      outDir, checkpointDir, availableNow)
}
