package graft.textops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CCNet-style language-model quality scoring (Wenzek et al. 2019,
  * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  * Data"): score every document under a smoothed bigram LM trained on the
  * corpus itself, then bucket per language into head/middle/tail by
  * histogram-derived perplexity tertiles — the classic third leg of the
  * web-corpus pipeline next to dedup (Dedup) and rule filters
  * (TextAnalysis.gopherRules / c4Clean). The reference service has no LM
  * scoring; this is pipeline surface the 100 TB deployment needs
  * (reference's closest analog is its per-document LLM quality pass,
  * reference utils.py:254-329, which this replaces with a trainable,
  * shuffle-bounded statistic).
  *
  * Scale + determinism design:
  *  - The gram table carries only (doc_id, bg_h, u_h) 60-bit hashes into
  *    every shuffle — document text never leaves the scan projection.
  *  - Counts are plain keyed aggregates (map-side partial combine); the
  *    vocabulary size rides the plan as a broadcast 1-row aggregate, so
  *    nothing is collected driver-side.
  *  - Every per-term value is micro-quantized (round(1e6·ln(...))) to a
  *    LONG before summation: integer sums are order-independent, so Spark
  *    and the DuckDB oracle agree bit-for-bit regardless of aggregation
  *    order. Per-doc aggregates and thresholds stay in integer space.
  *  - CCNet buckets head/middle/tail from HISTOGRAMS, exactly like the
  *    paper's cutoff computation: a (lang, 0.01-nat bin) count table
  *    (tiny after aggregation), cumulative tertile cutoffs over it, and a
  *    broadcast join back — no global sort, no per-language window over
  *    raw documents, so one giant language cannot pin a partition.
  */
object LmScore {

  /** Add-one smoothing: p(w|prev) = (c12 + 1) / (c1 + V). */
  val Smoothing = 1L

  /** Frozen keep threshold on the mean per-token negative log-likelihood,
    * in micro-nats (3.4 nats/token; oracles depend on this value).
    */
  val LmNllMaxMicro = 3400000L

  /** Histogram bin width for the CCNet tertile cutoffs: 0.01 nat. */
  val BinMicro = 10000L

  /** Bigram (prev, next) struct pairs of a word-array column; empty and
    * single-word arrays yield an empty pair array.
    */
  private[textops] def bigramPairs(ws: Column): Column = {
    val n1 = greatest(size(ws) - 1, lit(0))
    zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (p, n) => struct(p.as("p"), n.as("n")))
  }

  /** Space-joined bigram strings ("prev next") of a word-array column —
    * the frozen gram spelling shared with the DuckDB oracle and [[Dsir]].
    */
  private[textops] def bigramStrings(ws: Column): Column =
    transform(bigramPairs(ws),
      s => concat_ws(" ", s.getField("p"), s.getField("n")))

  /** Exploded bigram table (doc_id, bg_h, u_h): 60-bit portable hashes of
    * the bigram string and its context word, as a plan (plan-shape pins
    * read this; the driver queries go through [[gramTable]]).
    */
  private[graft] def gramCore(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val ws = TextAnalysis.nonEmptyWords(col("text"))
    d.select(col("doc_id"), explode(bigramPairs(ws)).as("pr"))
      .select(
        col("doc_id"),
        PortableHash.hexint60(
          concat_ws(" ", col("pr.p"), col("pr.n"))).as("bg_h"),
        PortableHash.hexint60(col("pr.p")).as("u_h"))
  }

  /** [[gramCore]], checkpointed by the calling query: the two count
    * aggregates and the per-term scoring join all read it.
    */
  private def gramTable(spark: SparkSession, sfDir: String): DataFrame =
    gramCore(spark, sfDir).localCheckpoint(eager = false)

  /** The LM "model": training-slice bigram counts `bg(bg_h, c12)`,
    * context counts `uc(u_h, c1)`, and the 1-row vocabulary aggregate
    * `v(vv)`. ONE definition feeds [[scoreCore]] (batch, in-plan) and
    * [[graft.streaming.ScoreStream]]'s offline planner (collected +
    * broadcast) — the frozen artifact CCNet ships to workers.
    */
  private[graft] def trainCounts(spark: SparkSession, sfDir: String,
      g: DataFrame, trainFilter: Option[Column]):
      (DataFrame, DataFrame, DataFrame) = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val dTrain = trainFilter.map(d.where).getOrElse(d)
    // training grams: the gram table is keyed by doc_id, so the train
    // slice is a semi-join against the (tiny, fixed-width) train-id set
    // — at scale a broadcast; the DOC text is never re-scanned
    val gTrain = trainFilter match {
      case None => g
      case Some(_) =>
        g.join(dTrain.select(col("doc_id")), Seq("doc_id"), "left_semi")
    }
    val bg = gTrain.groupBy("bg_h").agg(count(lit(1)).as("c12"))
    val uc = gTrain.groupBy("u_h").agg(count(lit(1)).as("c1"))
    // vocabulary = distinct 60-bit word hashes OF THE TRAINING SLICE, as
    // a 1-row aggregate (broadcast in-plan by scoreCore — no collect)
    val v = dTrain
      .select(explode(TextAnalysis.nonEmptyWords(col("text"))).as("w"))
      .agg(countDistinct(PortableHash.hexint60(col("w"))).as("vv"))
    (bg, uc, v)
  }

  /** Per-document LM score plan over a gram table. Columns: doc_id,
    * lang, n_words, n_bigrams, nll_micro_sum, avg_nll_micro, keep.
    * Docs with <2 words score NULL and keep=false.
    *
    * `trainFilter` restricts which docs TRAIN the LM (count tables +
    * vocabulary); every doc is SCORED regardless. `None` = the corpus
    * trains on itself ([[score]]); a language/source predicate gives
    * CCNet's actual deployment shape — train on a clean reference
    * corpus, score the crawl ([[scoreCross]]). Smoothing makes unseen
    * grams finite: c12 = 0 for a gram outside the training slice, so
    * its term is ln((c1 + V) / 1) — the correct "never seen" penalty.
    */
  private[graft] def scoreCore(spark: SparkSession, sfDir: String,
      g: DataFrame, trainFilter: Option[Column] = None): DataFrame = {
      val d = TextAnalysis.loadDocs(spark, sfDir)
      val (bg, uc, v) = trainCounts(spark, sfDir, g, trainFilter)

      // LEFT joins: a gram unseen in training has c12 = c1 = 0 and costs
      // the full add-one penalty ln((0 + V) / (0 + 1)) — an inner join
      // would silently SKIP unseen grams, understating cross-trained
      // perplexity exactly where it matters (self-trained values are
      // identical either way: every scored gram is in its own counts)
      val terms = g
        .join(bg, Seq("bg_h"), "left")
        .join(uc, Seq("u_h"), "left")
        .crossJoin(broadcast(v))
        .select(
          col("doc_id"),
          round(lit(1e6) * log(
            (coalesce(col("c1"), lit(0L)) + col("vv")).cast("double") /
              (coalesce(col("c12"), lit(0L)) + Smoothing).cast("double")), 0)
            .cast("long").as("nll_micro"))

      val perDoc = terms.groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum("nll_micro").as("nll_micro_sum"))

      val ws = TextAnalysis.nonEmptyWords(col("text"))
      d.select(col("doc_id"), col("lang"), size(ws).as("n_words"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("lang"), col("n_words"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("nll_micro_sum"),
          when(col("n_bigrams").isNull, lit(null).cast("long"))
            .otherwise(round(
              col("nll_micro_sum").cast("double") / col("n_bigrams"), 0)
              .cast("long")).as("avg_nll_micro"))
        .withColumn("keep",
          coalesce(col("avg_nll_micro") <= LmNllMaxMicro, lit(false)))
  }

  /** The self-trained [[scoreCore]] over a checkpointed gram table, as a
    * plan: [[score]], [[buckets]] and [[Corpus.filterEnsemble]] each
    * build their own.
    */
  private[textops] def scoreTable(spark: SparkSession, sfDir: String): DataFrame =
    scoreCore(spark, sfDir, gramTable(spark, sfDir))

  /** Driver query `text_lm_score`. */
  def score(spark: SparkSession, sfDir: String): DataFrame =
    scoreTable(spark, sfDir).orderBy("doc_id")

  /** Training slice for [[scoreCross]]: the corpus' English documents
    * stand in for the clean reference corpus (CCNet trains its LM on
    * Wikipedia and scores the crawl; the dataflow is identical — a real
    * reference table swaps in as the training scan).
    */
  val TrainLang = "en"

  /** Driver query `text_lm_score_cross` — CCNet's actual deployment
    * shape: the LM (count tables + vocabulary) trains on the
    * [[TrainLang]] slice ONLY and every document scores against the
    * frozen counts; out-of-slice text pays the full unseen-gram add-one
    * penalty ln(V) per novel bigram. Same keep threshold as [[score]]
    * (the oracle freezes it); the slice predicate reaches the gram table
    * as a semi-join on doc_id and the count aggregates keep their
    * map-side-combined keyed shape.
    */
  def scoreCross(spark: SparkSession, sfDir: String): DataFrame =
    scoreCore(spark, sfDir, gramTable(spark, sfDir), Some(col("lang") === TrainLang))
      .orderBy("doc_id")

  /** Offline planner surface for the streaming score tail: the
    * [[TrainLang]] cross-model (counts + vocab) over a checkpointed gram
    * table (the two count tables are collected by separate jobs) — what
    * [[graft.streaming.ScoreStream.planModel]] collects.
    */
  def crossModel(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame) =
    trainCounts(spark, sfDir, gramTable(spark, sfDir),
      Some(col("lang") === TrainLang))

  /** Driver query `corpus_ppl_buckets`: CCNet head/middle/tail per
    * language. Cutoffs are the smallest histogram bins whose cumulative
    * count reaches 1/3 resp. 2/3 of the language's scored docs; docs in
    * the same bin share a bucket (deterministic — no doc-order ties).
    * keep = head ∪ middle, CCNet's usual training cut.
    */
  def buckets(spark: SparkSession, sfDir: String): DataFrame =
    bucketsFrom(scoreTable(spark, sfDir).localCheckpoint(eager = false))

  /** [[buckets]] over an explicit score table, which the histogram branch
    * and the join-back both read ([[buckets]] checkpoints it; plan-shape
    * pins feed the plain [[scoreCore]] plan here).
    */
  private[graft] def bucketsFrom(scoreDf: DataFrame): DataFrame = {
    val sc = scoreDf
      .select(col("doc_id"), col("lang"), col("avg_nll_micro"))

    val binned = sc
      .where(col("avg_nll_micro").isNotNull)
      .withColumn("bin",
        floor(col("avg_nll_micro") / lit(BinMicro)).cast("long"))
    val hist = binned.groupBy("lang", "bin").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy("lang").orderBy("bin")))
      .withColumn("total", sum("cnt").over(Window.partitionBy("lang")))
    val cuts = cum.groupBy("lang").agg(
      min(when(col("cum") * 3 >= col("total"), col("bin"))).as("head_cut"),
      min(when(col("cum") * 3 >= col("total") * 2, col("bin"))).as("mid_cut"))

    sc.withColumn("bin",
        floor(col("avg_nll_micro") / lit(BinMicro)).cast("long"))
      .join(broadcast(cuts), Seq("lang"), "left")
      .select(
        col("doc_id"), col("lang"), col("avg_nll_micro"), col("bin"),
        when(col("avg_nll_micro").isNull, lit("tail"))
          .when(col("bin") <= col("head_cut"), lit("head"))
          .when(col("bin") <= col("mid_cut"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .withColumn("keep", col("bucket") =!= "tail")
      .orderBy("doc_id")
  }
}
