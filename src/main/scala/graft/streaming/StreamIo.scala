package graft.streaming

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ONE definition of the streaming source/sink shape every streaming
  * tail shares: a span-doc or text-doc parquet file source with a bounded
  * per-trigger file count, and an exactly-once parquet sink via the sink
  * commit log. A tuning change (trigger size, sink options) lands here
  * once instead of drifting across seven tails.
  */
object StreamIo {

  /** Files per micro-batch: bounds batch latency/size on a hot directory
    * (a backfilled dir would otherwise become one giant first batch).
    */
  val MaxFilesPerTrigger = 64

  /** Growing parquet directory of span docs (`doc_id, spans`) as a stream. */
  def docSource(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema(Schemas.doc)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
      .parquet(inDir)

  /** Growing parquet directory of TEXT docs (the documents-table shape
    * the curation ops consume) as a stream; the declared schema is the
    * projection the tail needs, so parquet column pruning applies at the
    * source.
    */
  def textDocSource(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("source", "string").add("text", "string"))
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
      .parquet(inDir)

  /** Start `df` into an append-mode parquet sink; `availableNow = true`
    * drains what exists and stops (tests / backfill catch-up).
    */
  def startParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
      availableNow: Boolean): StreamingQuery = {
    val writer = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
