package graft.streaming

import graft.textops.{PortableHash, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming CLEAN tail — the continuous deployment of the batch
  * text-repair capstone ([[graft.textops.TextAnalysis.cleanPipeline]]).
  *
  * The per-row stages stream as-is, through the SAME definition as the
  * batch capstone ([[graft.textops.TextAnalysis.keptPages]], no logic
  * forks): unicode repair over the planted artifacts, then the `c4_doc`
  * kernel's kept lines and page verdict. The one GLOBAL statistic — the
  * duplicate-line keeper table — arrives as an OFFLINE-PLANNED static
  * input ([[graft.textops.TextAnalysis.cleanPlanDupLines]]): the lambda
  * split [[CurateStream]] uses for its benchmark grams and mix rates.
  * The plan is sorted aligned arrays `(line-hash, keeper doc_id)`
  * broadcast to executors and binary-searched per kept line in one typed
  * `mapPartitions` hop — a doc drops a line when its hash is planned and
  * the doc is not the planned keeper. Duplicate lines appearing ONLY in
  * the stream are caught at the next plan cycle — the same cadence
  * tradeoff as the curate tail's mix rates; the plan table is bounded by
  * boilerplate volume (megabytes at deployment scale), matching the
  * benchmark-gram broadcast contract.
  *
  * Fully STATELESS: exactly-once is the file-source/sink commit logs
  * alone; a restart replays nothing and applies the static plan
  * unchanged. CleanStreamSpec pins exact one-trigger parity against the
  * batch capstone (all global statistics are planned offline, so the
  * streamed rows equal the batch rows exactly — stronger than the curate
  * tail's set parity, which tolerates first-arrival keeper drift) and
  * static exclusion across separate runs.
  */
object CleanStream {

  /** Surviving page: doc id + its C4-kept lines (executor-local). */
  case class PageDoc(doc_id: Long, paras: Seq[String])

  /** The whole transform (testable on streaming or batch relations of
    * text docs). `dupPh` must be SORTED with `dupKeeper` aligned —
    * [[planArrays]] produces the pair from the planner's table.
    */
  def cleanedStream(docs: DataFrame, dupPh: Array[Long],
      dupKeeper: Array[Long]): DataFrame = {
    require(dupPh.length == dupKeeper.length,
      "plan arrays must align (same length)")
    val spark = docs.sparkSession
    import spark.implicits._
    val bcPh = spark.sparkContext.broadcast(dupPh)
    val bcKeep = spark.sparkContext.broadcast(dupKeeper)
    // null text/doc_id rows are poison pills for the typed encode and
    // contribute nothing downstream — drop at the source (the batch
    // capstone never sees them either; CurateStream rationale)
    val pages = TextAnalysis.keptPages(
      docs.where(docs("doc_id").isNotNull && docs("text").isNotNull))
    pages.as[PageDoc].mapPartitions { it =>
      val phs = bcPh.value // sorted; O(log B) membership, zero per-row alloc
      val keepers = bcKeep.value
      it.map { p =>
        val kept = p.paras.filter { l =>
          val i = java.util.Arrays.binarySearch(phs, PortableHash.hexint60(l))
          i < 0 || keepers(i) == p.doc_id
        }
        (p.doc_id, p.paras.length.toLong,
          (p.paras.length - kept.length).toLong, kept.mkString("\n"))
      }
    }.toDF("doc_id", "n_paras", "n_dropped", "clean_text")
  }

  /** Collect the planner's `(ph, keeper_doc)` table into the sorted
    * aligned arrays the stream broadcasts. Bounded by duplicate-line
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
