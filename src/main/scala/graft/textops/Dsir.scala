package graft.textops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
  * select pretraining documents whose hashed-ngram feature distribution
  * looks like a target corpus. Features are unigrams + bigrams hashed
  * into [[Buckets]] buckets; the importance weight of a document is the
  * sum over its gram occurrences of log p_target(bucket) − log p_raw
  * (bucket) under add-one-smoothed bucket distributions, and selection
  * adds Gumbel noise to the log-weight (the paper's sampling-without-
  * replacement trick) before a frozen threshold cut. The target here is
  * the corpus' own `lang = 'en'` slice — a stand-in for the curated
  * target set a production run would supply as a second table (the
  * dataflow is identical: one extra scan feeding the same 64-row
  * bucket-distribution aggregate).
  *
  * Scale + determinism design:
  *  - The feature table carries (doc_id, lang, bucket) with bucket in
  *    [0, 64) — text never enters a shuffle, and the distribution
  *    aggregates collapse to at most 64 rows via map-side partials.
  *  - λ(bucket) = micro-quantized log-ratio lives in a broadcast 64-row
  *    table; per-doc weights are integer sums of λ — order-independent,
  *    so the DuckDB oracle matches bit-for-bit.
  *  - Gumbel noise is derived from the portable md5 hash of the doc id
  *    (same trick as [[Corpus.sampleStratified]]), so the "random" cut is
  *    reproducible under retry and replayable by the oracle.
  */
object Dsir {

  /** Hashed-ngram feature buckets (paper uses 10k; 64 keeps the oracle's
    * λ table eyeball-auditable while exercising the identical dataflow).
    */
  val Buckets = 64L

  /** Frozen target slice: the corpus' English documents. */
  val TargetLang = "en"

  /** Frozen keep threshold on the Gumbel-jittered mean log-weight,
    * in micro-nats (≈ the corpus median; oracles depend on it).
    */
  val ThresholdMicro = 250000L

  /** Exploded feature table (doc_id, lang, b): unigram + bigram grams
    * hashed into [[Buckets]] buckets with the portable 32-bit hash, as a
    * plan ([[select]] checkpoints it: the bucket aggregate and the
    * per-doc scoring join both read it).
    */
  private[graft] def featureCore(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val ws = TextAnalysis.nonEmptyWords(col("text"))
    val grams = concat(ws, LmScore.bigramStrings(ws))
    d.select(col("doc_id"), col("lang"), explode(grams).as("gram"))
      .select(col("doc_id"), col("lang"),
        (PortableHash.hexint32(col("gram")) % Buckets).as("b"))
  }

  /** Driver query `corpus_dsir`. Columns: doc_id, lang, n_grams,
    * w_micro_sum, avg_w_micro, gumbel_micro, score_micro, keep.
    * Docs with no grams score NULL and keep=false.
    */
  def select(spark: SparkSession, sfDir: String): DataFrame =
    selectFrom(spark, sfDir, featureCore(spark, sfDir).localCheckpoint(eager = false))

  /** [[select]] over an explicit feature table (plan-shape pins feed the
    * plain [[featureCore]] plan here).
    */
  private[graft] def selectFrom(spark: SparkSession, sfDir: String,
      f: DataFrame): DataFrame = {

    // raw + target bucket counts in ONE keyed aggregate (guide §2.4:
    // the round-5 shape ran three separate aggregation passes over the
    // feature table — rawc, tgtc, tot — each its own scan + exchange;
    // a conditional count folds tgt into the raw pass, and the totals
    // are exact integer sums over the 64-row bucket table itself)
    val bc = f.groupBy("b").agg(
      count(lit(1)).as("c_raw"),
      count(when(col("lang") === TargetLang, 1)).as("c_tgt"))
    val tot = bc.agg(sum("c_raw").as("t_raw"), sum("c_tgt").as("t_tgt"))

    // λ only matters for buckets that OCCUR in f (the per-doc scoring is
    // an inner join on b), and bc contains exactly those — the round-5
    // range(64) left-join existed to also price empty buckets nothing
    // ever joins on (two extra plan branches per run, guide §2.4)
    val lam = bc
      .crossJoin(broadcast(tot))
      .select(col("b"),
        round(lit(1e6) * (
          log((coalesce(col("c_tgt"), lit(0L)) + 1L).cast("double") /
            (col("t_tgt") + Buckets).cast("double")) -
          log((coalesce(col("c_raw"), lit(0L)) + 1L).cast("double") /
            (col("t_raw") + Buckets).cast("double"))), 0)
          .cast("long").as("lam_micro"))

    val perDoc = f.join(broadcast(lam), "b").groupBy("doc_id").agg(
      count(lit(1)).as("n_grams"),
      sum("lam_micro").as("w_micro_sum"))

    val gh = PortableHash.hexint32(
      concat(lit("dsir:"), col("doc_id").cast("string"))) % 1000000L
    val gumbel = round(
      lit(-1e6) * log(-log((gh.cast("double") + 0.5) / 1e6)), 0)
      .cast("long")

    TextAnalysis.loadDocs(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("w_micro_sum"),
        when(col("n_grams").isNull, lit(null).cast("long"))
          .otherwise(round(
            col("w_micro_sum").cast("double") / col("n_grams"), 0)
            .cast("long")).as("avg_w_micro"))
      .withColumn("gumbel_micro", gumbel)
      .withColumn("score_micro", col("avg_w_micro") + col("gumbel_micro"))
      .withColumn("keep",
        coalesce(col("score_micro") >= ThresholdMicro, lit(false)))
      .orderBy("doc_id")
  }
}
