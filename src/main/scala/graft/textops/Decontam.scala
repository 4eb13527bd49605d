package graft.textops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark DECONTAMINATION — the training-data hygiene pass every
  * serious pretraining pipeline runs (GPT-3 §C / Gopher / Llama style):
  * a training document is contaminated if any of its word 5-grams also
  * appears in the evaluation-benchmark set, because a model graded on
  * text it trained on reports inflated scores. Here the "benchmark" is a
  * deterministic hash-threshold subset of the corpus (the sandbox has no
  * external benchmark table; swapping in a real one changes ONE input,
  * not the dataflow) and the overlap unit is the same 5-gram hash family
  * as [[TextAnalysis.fingerprint60]] (native `gram_hashes60` kernel,
  * portable hash, identical in DuckDB).
  *
  * Scale shape: the benchmark gram set is SMALL by construction
  * (benchmarks are millions of grams, the corpus is trillions), so the
  * membership check is a BROADCAST semi-join — document grams are
  * exploded map-side, probe the broadcast set, and never shuffle; the
  * only exchange is the per-doc distinct of contaminated ids. The
  * audit query reads every doc's grams from three branches and
  * checkpoints them; the contaminated-id set alone reads disjoint
  * benchmark and non-benchmark slices, so it stays in the plan.
  */
object Decontam {

  /** Word n-gram size (shared with the fingerprint family). */
  val GramN = 5

  /** Per-mille of docs forming the stand-in benchmark set:
    * `h32("bench-" || doc_id) % 1000 < threshold` — deterministic and
    * reproducible, like every sampling decision in this library.
    */
  val BenchmarkThreshold = 50

  def isBenchmark(docId: Column): Column =
    pmod(PortableHash.hexint32(concat(lit("bench-"), docId.cast("string"))),
      lit(1000L)) < BenchmarkThreshold

  /** The `corpus_decontam` driver query: every doc with its benchmark
    * flag, gram count, and contamination verdict (benchmark docs are the
    * reference set — never flagged against themselves).
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    // checkpointed: the audit row, the benchmark set and the probe all
    // read every doc's grams, so the kernel runs once per doc
    val tagged = taggedGrams(spark, sfDir).localCheckpoint(eager = false)
    // audit shape: every doc keeps a row with its verdict. At 10^12 docs
    // a run would ANTI-join to drop contaminated rows instead (as the
    // curated corpus build does) — same probe, no verdict to carry.
    tagged
      .select(col("doc_id"), col("is_benchmark"), size(col("grams")).as("n_grams"))
      .join(broadcast(contaminatedFrom(tagged).withColumn("hit", lit(true))),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_benchmark"), col("n_grams"),
        coalesce(col("hit"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  /** The contaminated doc-id set — non-benchmark docs sharing any gram
    * with the benchmark set — as (doc_id) rows; the curated corpus build
    * anti-joins it. Computed in the plan: the benchmark branch and the
    * probe branch filter on disjoint `is_benchmark` values, which reach
    * the scan, so each doc's kernel still runs once.
    */
  def contaminatedIds(spark: SparkSession, sfDir: String): DataFrame =
    contaminatedFrom(taggedGrams(spark, sfDir))

  /** [[contaminatedIds]] over a tagged gram table: one join, computed in
    * the plan of the query that reads it.
    */
  private def contaminatedFrom(tagged: DataFrame): DataFrame =
    tagged.where(!col("is_benchmark"))
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .join(broadcast(benchGrams(tagged)), Seq("g"))
      .select("doc_id").distinct()

  /** The distinct grams of the benchmark docs, `(g)`. */
  private def benchGrams(tagged: DataFrame): DataFrame =
    tagged.where(col("is_benchmark")).select(explode(col("grams")).as("g")).distinct()

  /** The benchmark gram set as a driver-side sorted array — the second
    * OFFLINE-PLANNED static input of the streaming curated tail (with
    * [[graft.textops.Corpus.curatePlanRates]]). Bounded by the benchmark
    * suite size, the very bound the batch decontamination's broadcast
    * semi-join already asserts: benchmark suites are thousands of docs →
    * ~10^6-10^7 distinct gram hashes → megabytes of longs, the constant
    * of the `gram_member` kernel (binary-searched per gram), never a join
    * against the unbounded stream. One consumer, so no checkpoint: the benchmark
    * filter reaches the scan and the kernel runs on benchmark docs only.
    */
  def benchGramSet(spark: SparkSession, sfDir: String): Array[Long] = {
    val gs = benchGrams(taggedGrams(spark, sfDir)).collect().map(_.getLong(0))
    java.util.Arrays.sort(gs)
    gs
  }

  /** `(doc_id, is_benchmark, grams)`: every doc's word-5-gram hashes. */
  private def taggedGrams(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    d.select(d("doc_id"), isBenchmark(d("doc_id")).as("is_benchmark"),
      TextAnalysis.gramHashes60(d("text")).as("grams"))
  }
}
