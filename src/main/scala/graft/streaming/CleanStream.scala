package graft.streaming

import graft.Kernels
import graft.textops.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming CLEAN tail — the continuous deployment of the batch
  * text-repair capstone ([[graft.textops.TextAnalysis.cleanPipeline]]).
  *
  * The per-row stages stream through the SAME definition as the batch
  * capstone ([[graft.textops.TextAnalysis.keptPages]]): unicode repair,
  * then the `c4_doc` kernel's kept lines and page verdict. The one GLOBAL
  * statistic, the duplicate-line keeper table, is planned OFFLINE
  * ([[graft.textops.TextAnalysis.cleanPlanDupLines]]) — the lambda split
  * of [[CurateStream]] — as sorted aligned arrays `(line-hash, keeper
  * doc_id)`: the constants of the `keep_lines` kernel, which holds them in
  * one broadcast per query run. The tail is one projection over that
  * kernel: a doc drops a line whose hash is planned for another doc.
  * Duplicate lines that appear ONLY in the stream are caught at the next
  * plan cycle; the plan is bounded by boilerplate volume (megabytes at
  * deployment scale).
  *
  * Fully STATELESS: exactly-once is the file-source/sink commit logs
  * alone. CleanStreamSpec pins exact one-trigger row parity against the
  * batch capstone (every global statistic is planned, so there is no
  * first-arrival keeper drift) and the static plan across separate runs.
  */
object CleanStream {

  /** The whole transform (testable on streaming or batch relations of
    * text docs). `dupPh` must be SORTED with `dupKeeper` aligned —
    * [[planArrays]] produces the pair from the planner's table. A null
    * text or doc_id fails the page verdict, as in the batch capstone.
    */
  def cleanedStream(docs: DataFrame, dupPh: Array[Long],
      dupKeeper: Array[Long]): DataFrame = {
    val pages = TextAnalysis.keptPages(docs)
    pages.select(pages("doc_id"), pages("paras"), Kernels.KeepLines(pages("doc_id"),
        pages("paras"), Kernels.planArray(dupPh), Kernels.planArray(dupKeeper)).as("kept"))
      .select(col("doc_id"), size(col("paras")).cast("long").as("n_paras"),
        (size(col("paras")) - size(col("kept"))).cast("long").as("n_dropped"),
        array_join(col("kept"), "\n").as("clean_text"))
  }

  /** Collect the planner's `(ph, keeper_doc)` table into the sorted
    * aligned arrays the stream's kernel binds. Bounded by duplicate-line
    * (boilerplate) volume — the same collect contract as the benchmark
    * gram set.
    */
  def planArrays(dupLines: DataFrame): (Array[Long], Array[Long]) = {
    val rows = dupLines.select("ph", "keeper_doc").collect()
      .map(r => (r.getAs[Long]("ph"), r.getAs[Long]("keeper_doc")))
      .sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Start the continuous clean tail over a growing parquet directory of
    * text docs; parquet sink + source commit logs give exactly-once
    * cleaned rows across restarts.
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, dupPh: Array[Long], dupKeeper: Array[Long],
      availableNow: Boolean = false): StreamingQuery =
    StreamIo.startParquetSink(
      cleanedStream(StreamIo.textDocSource(spark, inDir), dupPh, dupKeeper),
      outDir, checkpointDir, availableNow)
}
