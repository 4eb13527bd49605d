package graft.textops

import graft.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level text analysis for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column ops (codegen'd, shuffle-free per-row transforms) over the
  * `documents` table; every constant is frozen (oracles depend on them).
  */
object TextAnalysis {

  /** Stopword lists for the n-gram/stopword language heuristic. */
  val EnStop: IndexedSeq[String] =
    IndexedSeq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
  val PtStop: IndexedSeq[String] =
    IndexedSeq("de", "a", "o", "e", "que", "do", "da", "em", "um", "para")

  val BpeishTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def loadDocs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def words(c: Column): Column = split(c, " ")
  private[graft] def nonEmptyWords(c: Column): Column = filter(words(c), w => w =!= "")

  // --- word-stats kernel accessors ---
  // The five raw counters of [[WordStats.stats]]; every ratio and
  // threshold below computes from these exact integers through Catalyst
  // float expressions, so the values match the DuckDB oracle.
  private[textops] def stNw(st: Column): Column = element_at(st, WordStats.NWords)
  private[textops] def stChars(st: Column): Column = element_at(st, WordStats.Chars)
  private[textops] def stEn(st: Column): Column = element_at(st, WordStats.StopEn)
  private[textops] def stPt(st: Column): Column = element_at(st, WordStats.StopPt)
  private[textops] def stAlpha(st: Column): Column = element_at(st, WordStats.Alpha)

  /** `count / n_words` with the 0-word guard. */
  private def ratioFromCounts(num: Column, nw: Column): Column =
    when(nw === 0, lit(0.0)).otherwise(num.cast("double") / nw.cast("double"))

  /** Argmax language guess over the stopword ratios of a staged
    * [[WordStats.stats]] array, as one column — [[langId]]'s verdict,
    * shared by the corpus build and its streaming tail.
    */
  def langGuessFromStats(st: Column): Column = {
    val en = round(ratioFromCounts(stEn(st), stNw(st)), 6)
    val pt = round(ratioFromCounts(stPt(st), stNw(st)), 6)
    when(en > pt, lit("en")).when(pt > en, lit("pt")).otherwise(lit("und"))
  }

  /** The Gopher rule battery verdict over a staged [[WordStats.stats]]
    * array, as one boolean column — identical thresholds and rounding
    * to [[gopherRules]] (the '#'/'...' symbol counts come from the text
    * itself — cheap codegen'd builtins).
    */
  def gopherKeepFromStats(text: Column, st: Column): Column = {
    val nw = stNw(st).cast("double")
    val chars = stChars(st).cast("double")
    val awl = round(when(nw === 0, lit(0.0)).otherwise(chars / nw), 6)
    val nHash = (length(text) - length(replace(text, lit("#"), lit("")))).cast("double")
    val nEll = (length(text) - length(replace(text, lit("..."), lit("")))).cast("double") / 3.0
    val symbolRatio = when(nw === 0, lit(0.0)).otherwise(round((nHash + nEll) / nw, 6))
    val alphaFrac = when(nw === 0, lit(0.0)).otherwise(
      round(stAlpha(st).cast("double") / nw, 6))
    awl >= MeanWordLenMin && awl <= MeanWordLenMax &&
      symbolRatio <= SymbolRatioMax && alphaFrac >= AlphaWordFracMin &&
      stEn(st) >= MinStopwords
  }

  /** Language ID by stopword-ratio heuristic (n-gram-class heuristic over
    * the cheapest discriminative n-gram: the word). Emits both ratios so
    * downstream filters can threshold, plus the argmax guess.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    // the stats array stages in its own projection (non-cheap kernel,
    // referenced by both ratios — CollapseProject keeps it: one pass)
    d.select(d("doc_id"), WordStats.stats(d("text")).as("st"))
      .select(
        col("doc_id"),
        round(ratioFromCounts(stEn(col("st")), stNw(col("st"))), 6).as("en_ratio"),
        round(ratioFromCounts(stPt(col("st")), stNw(col("st"))), 6).as("pt_ratio"))
      .withColumn("lang_guess",
        when(col("en_ratio") > col("pt_ratio"), lit("en"))
          .when(col("pt_ratio") > col("en_ratio"), lit("pt"))
          .otherwise(lit("und")))
      .orderBy("doc_id")
  }

  /** Quality score: length, stopword ratio, mean word length — the classic
    * cheap pre-filter for web-scale corpora. Formula frozen:
    * 0.5*min(1, n_words/100) + 0.3*stop_ratio + 0.2*min(1, avg_word_len/8).
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    val s1 = d.select(d("doc_id"), d("text"), WordStats.stats(d("text")).as("st"))
    val st = col("st")
    val nw = stNw(st).cast("double")
    val chars = stChars(st).cast("double")
    val avgWl = when(nw === 0, lit(0.0)).otherwise(chars / nw)
    val stop = ratioFromCounts(stEn(st), stNw(st))
    val q = lit(0.5) * least(lit(1.0), nw / 100.0) +
      lit(0.3) * stop +
      lit(0.2) * least(lit(1.0), avgWl / 8.0)
    s1.select(
      col("doc_id"),
      stNw(st).cast("int").as("n_words"),
      length(col("text")).as("n_chars"),
      round(avgWl, 6).as("avg_word_len"),
      round(stop, 6).as("stopword_ratio"),
      round(q, 6).as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer count. */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    d.select(
      d("doc_id"),
      WordStats.wordCount(d("text")).cast("int").as("ws_tokens"),
      size(regexp_extract_all(d("text"), lit(BpeishTokenPattern), lit(0))).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Keywords kept per document by [[tfidfKeywords]]. */
  val TfidfTopK = 5

  /** Top-[[TfidfTopK]] TF-IDF keywords per document: term frequency from
    * one word explode + (doc_id, word) aggregate, document frequency from
    * a second aggregate over that table (each (doc, word) row is already
    * distinct, so `count(*)` IS the doc count), smoothed idf
    * `ln((N+1)/(df+1))` (non-negative since df <= N), score in micro
    * units (`round(1e6·tf·idf)` as BIGINT — the library's cross-engine
    * float-determinism convention), per-doc rank by (score desc, word).
    *
    * Scale shape: three keyed exchanges, all on small rows — tf and the
    * rank window partition on doc_id, df and the tf⇄df join on word; both
    * aggregates are map-side combinable and no shuffle ever carries the
    * document text (only single words). N is one bounded scalar count.
    * At deployment the df table is vocabulary-sized — AQE broadcasts it
    * when it fits, the word-keyed shuffle join handles it when it
    * doesn't; either way cost is independent of document length skew
    * because rows are (word, count) pairs.
    */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(desc("score_micro"), col("word"))
    scoredPostings(spark, sfDir)
      .withColumn("kw_rank", row_number().over(w).cast("long"))
      .where(col("kw_rank") <= TfidfTopK)
      .select(col("doc_id"), col("kw_rank"), col("word"), col("tf"), col("df"),
        col("score_micro"))
      .orderBy("doc_id", "kw_rank")
  }

  /** Full-vocabulary (doc_id, word, tf, df) postings + the frozen
    * micro-unit smoothed-idf TF-IDF score for [[tfidfKeywords]] — ONE
    * definition of tokenization, tf, and df matching the oracle's twin
    * CTE chain. (The search family's term-filtered variant collapsed
    * into [[termTfBase]]'s in-row counters in round 6: literal terms
    * need no explode.)
    *
    * N rides the plan as a broadcast one-row aggregate attached to the
    * VOCABULARY side before its broadcast (guide §1/§5: the round-5
    * eager `count()` was an extra full-scan Spark job on every call —
    * ADVICE r05 #1 — and hanging the one-row cross join on the big
    * posting side instead would interleave it into the hot path).
    * `n_docs` is CAST(count AS DOUBLE) exactly as the oracle's `n` CTE,
    * so `(n_docs + 1.0)` is bit-identical to the old driver-side
    * literal `nDocs.toDouble + 1.0` (counts are exact in double far
    * past 2^31).
    */
  private def scoredPostings(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    // round 6: term frequency combines IN-ROW (native word_tf kernel —
    // a doc's tf map is row-local by definition), so exploding its
    // output IS the (doc_id, word, tf) posting table: the round-5
    // groupBy(doc_id, word) aggregate and its full-posting-table
    // exchange disappear outright (guide §2.4), and what remains to
    // shuffle is the theoretical minimum — one row per distinct
    // (doc, word) — for the df aggregate (map-side combined) and the
    // rank window.
    val tf = d
      .select(d("doc_id"), explode(WordStats.wordTf(d("text"))).as("wt"))
      .select(col("doc_id"), col("wt.word").as("word"), col("wt.tf").as("tf"))
    val n = d.agg(count(lit(1)).cast("double").as("n_docs"))
    // the vocabulary-sized df (+ one-row N) table stays a keyed join
    // (AQE broadcasts it when it fits); its input rows are per-doc
    // distinct, so count(1) is exactly the document frequency
    val dfT = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
    tf.join(dfT, Seq("word"))
      .withColumn("score_micro",
        round(lit(1e6) * col("tf").cast("double") *
          log((col("n_docs") + lit(1.0)) / (col("df").cast("double") + lit(1.0))))
          .cast("long"))
      .drop("n_docs")
  }

  /** Frozen query terms for the [[searchRank]] driver query (a deployment
    * parameterizes them; the driver contract needs a deterministic input).
    */
  val SearchTerms: Seq[String] = Seq("window", "merge", "stream")

  /** Results returned by [[searchRank]]. */
  val SearchTopK = 20

  /** Per-doc term-frequency base shared by the search family: one row
    * per document with `tf_i` = occurrences of `SearchTerms(i)` (counted
    * IN-ROW from the word array — the query terms are literals, so the
    * per-(doc, word) explode + aggregate of the generic posting path
    * collapses to |terms| array filters) plus the doc length `dl`. Each
    * tf is exactly the posting count the oracle's `tf` CTE computes for
    * that (doc, term) pair.
    */
  private def termTfBase(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    // the counter array (one native pass; see WordStats — the HOF form
    // re-ran split + |terms| filters) is the output of a one-row
    // generator, not of a projection: filter pushdown substitutes a
    // projection's aliases into the conjunction Filter, re-inlining the
    // kernel once per term, but it cannot move a predicate on generator
    // output below the generator — so the kernel runs once per scan
    d.select(d("doc_id"),
        explode(array(WordStats.termCounts(d("text"), SearchTerms))).as("tc"))
      .select(col("doc_id") +: element_at(col("tc"), 1).as("dl") +:
        SearchTerms.indices.map(i =>
          element_at(col("tc"), i + 2).as(s"tf$i")): _*)
  }

  /** The one-row corpus statistics of the search family, computed
    * IN-PLAN and broadcast (no eager driver actions — guide §1/§5; the
    * round-5 shape ran `count()` + `head()` scan jobs per call): N,
    * Σdl, and per-term document frequencies `df_i` = docs with tf_i > 0
    * (exactly the oracle's `df` CTE value: the count of distinct docs
    * carrying the term).
    */
  private def termStats(base: DataFrame): DataFrame =
    base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        SearchTerms.indices.map(i =>
          count(when(col(s"tf$i") > 0, 1)).as(s"df$i")): _*)

  /** Ranked conjunctive keyword search: documents containing ALL
    * [[SearchTerms]], ranked by the summed per-term TF-IDF score (same
    * micro-unit formula as [[tfidfKeywords]] — integer sums, so ranking
    * is bit-deterministic cross-engine).
    *
    * Scale shape (round 6): ZERO keyed exchanges. The query terms are
    * literals, so per-doc tf counts compute in-row off the scan
    * ([[termTfBase]]) — the posting explode, its (doc_id, word)
    * aggregate exchange, the df exchange, and the conjunction exchange
    * of the round-5 shape all disappear. Corpus statistics (N, df_i)
    * are ONE bounded one-row aggregate broadcast back over the
    * conjunction-filtered rows; the ranked head is a
    * TakeOrderedAndProject. Cost at any scale: two column-pruned scans
    * and a |terms|-counter row per doc — no shuffle carries data rows
    * at all. At deployment the (doc_id, word, tf) posting table is
    * precomputed and bucketed by word, turning term lookup into
    * partition pruning — the classic inverted-index serving path.
    */
  def searchRank(spark: SparkSession, sfDir: String): DataFrame = {
    val base = termTfBase(spark, sfDir)
    val conj = SearchTerms.indices.map(i => col(s"tf$i") > 0).reduce(_ && _)
    val score = SearchTerms.indices.map { i =>
      round(lit(1e6) * col(s"tf$i").cast("double") *
        log((col("n_docs").cast("double") + lit(1.0)) /
          (col(s"df$i").cast("double") + lit(1.0)))).cast("long")
    }.reduce(_ + _)
    base.where(conj)
      .crossJoin(broadcast(termStats(base)))
      .select(col("doc_id"), score.as("score_micro"))
      .orderBy(desc("score_micro"), col("doc_id"))
      .limit(SearchTopK)
  }

  /** Frozen BM25 constants (Robertson/Spärck Jones; k1 in the standard
    * 1.2-2.0 band, b the canonical 0.75). K1Plus1 and OneMinusB are their
    * OWN decimal literals, not derived arithmetic: `1.2 + 1.0` and the
    * literal `2.2` can differ in the last ulp, and the oracle embeds the
    * literals — deriving them would un-pin the cross-engine equality.
    */
  val Bm25K1 = 1.2
  val Bm25K1Plus1 = 2.2
  val Bm25B = 0.75
  val Bm25OneMinusB = 0.25

  /** BM25-ranked conjunctive search over the same per-doc tf base as
    * [[searchRank]]: per-term score
    * `idf_bm25 · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with
    * `idf_bm25 = ln((N − df + 0.5)/(df + 0.5) + 1)` (the Lucene
    * non-negative form), in micro units; documents containing ALL
    * [[SearchTerms]], summed-score top-[[SearchTopK]].
    *
    * Scale shape (round 6): ZERO keyed exchanges — [[termTfBase]]'s
    * in-row tf counts carry `dl` on the same row, so the round-5
    * doc-keyed postings⇄lengths equi-join disappears along with the
    * posting explode and the conjunction exchange. N, Σdl and the
    * per-term dfs are ONE bounded one-row aggregate broadcast in-plan
    * (the round-5 shape ran eager `count()` + `head()` scan jobs per
    * call — ADVICE r05 #1); avgdl = Σdl/N is one IEEE division on
    * exact integers, evaluated identically in both engines.
    */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    val base = termTfBase(spark, sfDir)
    val conj = SearchTerms.indices.map(i => col(s"tf$i") > 0).reduce(_ && _)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val dlNorm = lit(Bm25OneMinusB) +
      lit(Bm25B) * (col("dl").cast("double") / avgdl)
    val score = SearchTerms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      val idf = log(
        (col("n_docs").cast("double") - df + lit(0.5)) /
          (df + lit(0.5)) + lit(1.0))
      val tfn = (tf * lit(Bm25K1Plus1)) / (tf + lit(Bm25K1) * dlNorm)
      round(lit(1e6) * idf * tfn).cast("long")
    }.reduce(_ + _)
    base.where(conj)
      .crossJoin(broadcast(termStats(base)))
      .select(col("doc_id"), score.as("score_micro"))
      .orderBy(desc("score_micro"), col("doc_id"))
      .limit(SearchTopK)
  }

  /** Frozen Gopher-rule thresholds for [[gopherRules]] (Rae et al. 2021,
    * §A.1.1: mean word length in [3,10], symbol-to-word ratio <= 0.1 for
    * '#'/'...', >= 80% of words contain an alphabetic character, >= 2
    * stop words).
    */
  val MeanWordLenMin = 3.0
  val MeanWordLenMax = 10.0
  val SymbolRatioMax = 0.1
  val AlphaWordFracMin = 0.8
  val MinStopwords = 2

  /** The classic Gopher quality-rule battery as one shuffle-free
    * projection (complements [[repetition]]'s duplicate-n-gram rules):
    * per doc, mean word length, '#'/'...'-to-word symbol ratio, fraction
    * of words containing a letter, stop-word count, and the composite
    * keep flag at the frozen thresholds. The keep flag compares the
    * ROUNDED projections so every engine agrees bit-for-bit.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    val s1 = d.select(d("doc_id"), d("text"), WordStats.stats(d("text")).as("st"))
    val st = col("st")
    val nw = stNw(st).cast("double")
    val chars = stChars(st).cast("double")
    val awl = when(nw === 0, lit(0.0)).otherwise(chars / nw)
    val nHash = (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))).cast("double")
    val nEll = (length(col("text")) - length(replace(col("text"), lit("..."), lit("")))).cast("double") / 3.0
    val symbolRatio = when(nw === 0, lit(0.0)).otherwise(round((nHash + nEll) / nw, 6))
    val alphaFrac = when(nw === 0, lit(0.0)).otherwise(
      round(stAlpha(st).cast("double") / nw, 6))
    s1.select(
      col("doc_id"),
      stNw(st).cast("int").as("n_words"),
      round(awl, 6).as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_word_frac"),
      stEn(st).cast("int").as("n_stop"))
      .withColumn("keep",
        col("mean_word_len") >= MeanWordLenMin &&
          col("mean_word_len") <= MeanWordLenMax &&
          col("symbol_ratio") <= SymbolRatioMax &&
          col("alpha_word_frac") >= AlphaWordFracMin &&
          col("n_stop") >= MinStopwords)
      .orderBy("doc_id")
  }

  /** Frozen parameters of [[qualityClassifier]] — a linear scoring head
    * over the cheap per-doc features (see there for why linear). Bias
    * and cut are in CENTI-units, weights in hundredths (0.35 → 35): the
    * dot product runs in exact integer arithmetic (see the query doc).
    */
  val ClfBiasC = -20L
  val ClfWLenC = 35L
  val ClfWStopC = 25L
  val ClfWAwlC = 15L
  val ClfWAlphaC = 25L
  val ClfWRepC = 30L // subtracted: repetition is a negative signal
  val ClfCutC = 25L

  /** Model-based QUALITY CLASSIFICATION — the scored counterpart of the
    * rule batteries (CCNet, Wenzek et al. 2020, and GPT-3's appendix-A
    * corpus filter score docs with a trained linear classifier instead
    * of hard thresholds): a frozen-weight linear head over the cheap
    * features this library already audits (capped length, stopword
    * ratio, capped mean word length, alphabetic-word fraction, duplicate
    * 2-gram fraction), emitting the margin and the keep verdict at
    * [[ClfCut]]. The head is LINEAR, not sigmoid, on purpose: the
    * sigmoid is monotone, so thresholding the margin is the identical
    * classifier, while `exp()` is not IEEE correctly-rounded and would
    * cost cross-engine bit-equality. Features are rounded to 6 decimals
    * BEFORE the dot product (same discipline as the Gopher battery: the
    * emitted features are the audit trail for any keep decision), and
    * the dot product itself runs in exact INTEGER micro-units: a
    * 6-decimal feature times a 2-decimal weight is an exact 8-decimal
    * number, so a float dot product routinely lands on decimal TIES
    * where engines' round() disagree (Spark HALF_UPs the shortest
    * decimal rendering, DuckDB rounds the binary value — measured:
    * 0.2521885 → 0.252189 vs 0.252188). Scaling features to 1e-6 ints
    * (exact, they are 6-decimal multiples) and weights to hundredths
    * makes score and verdict integer-exact in any engine; the emitted
    * double score is the 1e-8-unit integer divided by 1e8 (one
    * correctly-rounded op, bit-identical everywhere).
    *
    * Shuffle-free: one projection chain per row; the word-stats and
    * repetition kernels are staged in their own projection, so each runs
    * once per row.
    */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    val withW = d.select(d("doc_id"),
      WordStats.stats(d("text")).as("st"), repetitionFracs(d("text")).as("fracs"))
    val feats = withW.select(col("doc_id") +:
      clfFeaturesFromStats(col("st"), col("fracs")): _*)
    feats
      .withColumn("score_u8", clfScoreU8(col("f_len"), col("f_stop"),
        col("f_awl"), col("f_alpha"), col("f_rep")))
      .select(col("doc_id"), col("f_len"), col("f_stop"), col("f_awl"),
        col("f_alpha"), col("f_rep"),
        (col("score_u8").cast("double") / 100000000.0).as("score"),
        clfVerdict(col("score_u8")).as("keep"))
      .orderBy("doc_id")
  }

  /** The five classifier features (rounded to 6 decimals), aliased
    * f_len..f_rep, from a staged [[WordStats.stats]] array and the
    * repetition-fracs array — the one definition [[qualityClassifier]]
    * and the composed pipelines (curated build, ensemble filter) share.
    */
  private[textops] def clfFeaturesFromStats(st: Column, fracs: Column): Seq[Column] = {
    val nw = stNw(st).cast("double")
    val chars = stChars(st).cast("double")
    val awl = when(nw === 0, lit(0.0)).otherwise(chars / nw)
    val alpha = when(nw === 0, lit(0.0)).otherwise(stAlpha(st).cast("double") / nw)
    Seq(
      round(least(lit(1.0), nw / 100.0), 6).as("f_len"),
      round(ratioFromCounts(stEn(st), stNw(st)), 6).as("f_stop"),
      round(least(lit(1.0), awl / 8.0), 6).as("f_awl"),
      round(alpha, 6).as("f_alpha"),
      element_at(fracs, 1).as("f_rep"))
  }

  /** Exact 1e-6-unit integer of a 6-decimal-rounded feature (the double
    * is within ~1e-10 of the integer after the multiply, so round is it).
    */
  private def micro6(c: Column): Column = round(c * 1000000.0, 0).cast("long")

  /** The classifier margin in exact 1e-8 integer units from the rounded
    * feature columns (rationale for the integer form in
    * [[qualityClassifier]]'s doc).
    */
  private[textops] def clfScoreU8(fLen: Column, fStop: Column, fAwl: Column,
      fAlpha: Column, fRep: Column): Column =
    lit(ClfBiasC * 1000000L) + lit(ClfWLenC) * micro6(fLen) +
      lit(ClfWStopC) * micro6(fStop) + lit(ClfWAwlC) * micro6(fAwl) +
      lit(ClfWAlphaC) * micro6(fAlpha) - lit(ClfWRepC) * micro6(fRep)

  /** The classifier's keep verdict: the margin in 1e-8 units at or
    * above [[ClfCutC]] — the one cut [[qualityClassifier]], the curated
    * build, the ensemble filter and the streaming curated tail apply.
    */
  private[graft] def clfVerdict(scoreU8: Column): Column = scoreU8 >= ClfCutC * 1000000L

  /** Repetition-ratio thresholds for [[repetition]] (simplified Gopher
    * rules — Rae et al. 2021 flag docs whose duplicate-n-gram fractions
    * exceed per-n thresholds; frozen here for the oracle).
    */
  val Dup2Max = 0.4
  val Dup3Max = 0.3

  /** Repetition scoring — the classic pretraining-corpus quality rule:
    * fraction of repeated word 2-grams / 3-grams per document (1 -
    * distinct/total), plus the keep flag at the frozen thresholds.
    * Shuffle-free, O(words) per row; fast path is the native
    * `repetition_fracs` kernel (the interpreted HOF twin below re-evaluates
    * slice+join per gram — measured 8.6 s for this query alone at sf0.1).
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    // evaluate the native kernel ONCE per row: the fracs array gets its
    // own projection and is referenced twice downstream, so
    // CollapseProject's cost check keeps the non-cheap kernel from being
    // re-inlined per element_at (the previous shape evaluated the
    // O(words) pass 2x, once per extracted element)
    d.select(d("doc_id"), repetitionFracs(d("text")).as("fracs"))
      .select(col("doc_id"),
        element_at(col("fracs"), 1).as("dup_2gram_frac"),
        element_at(col("fracs"), 2).as("dup_3gram_frac"))
      .withColumn("keep",
        col("dup_2gram_frac") <= Dup2Max && col("dup_3gram_frac") <= Dup3Max)
      .orderBy("doc_id")
  }

  /** Scala twin: [dup_2gram_frac, dup_3gram_frac] in one pass. Rounding
    * matches Spark's `round(x, 6)` (BigDecimal HALF_UP).
    */
  def repetitionScala(text: String): Array[Double] = {
    val ws = text.split(" ", -1)
    def frac(n: Int): Double = {
      val total = ws.length - n + 1
      if (total <= 0) 0.0
      else {
        val seen = new java.util.HashSet[String](total * 2)
        var i = 0
        while (i < total) {
          val sb = new java.lang.StringBuilder(ws(i))
          var j = 1
          while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
          seen.add(sb.toString)
          i += 1
        }
        BigDecimal(1.0 - seen.size.toDouble / total.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    Array(frac(2), frac(3))
  }

  /** Column-op reference implementation (what the DuckDB oracle mirrors;
    * parity-pinned against the native kernel in PortableHashSpec).
    */
  def repetitionFracColumnar(text: Column, n: Int): Column = {
    val ws = words(text)
    val g = transform(sequence(lit(0), size(ws) - n),
      i => array_join(slice(ws, i + 1, lit(n)), " "))
    when(size(ws) < n, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(g)).cast("double")
        / size(g).cast("double"), 6))
  }

  def repetitionFracs(c: Column): Column = Kernels.RepetitionFracs(c)

  /** PII patterns — frozen and RE2-COMPATIBLE (no backreferences or
    * lookaround: the DuckDB oracle runs the byte-identical pattern
    * strings, and at deployment keeping to the common regex subset means
    * any engine swap preserves the redaction set).
    */
  val PiiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpPattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhonePattern = "\\b\\d{3}[- ]\\d{3,4}[- ]\\d{4}\\b"

  /** PII scrubbing — the standard pre-training redaction pass (C4/Dolma
    * style): emails, IPv4s and phone-shaped numbers are replaced with
    * typed tokens, applied in a FIXED order (email → ip → phone, each
    * count taken on the text state its replacement sees, so the two
    * engines agree exactly even where categories could overlap).
    * Shuffle-free per-row projection; patterns compile once per
    * expression instance (Spark caches them).
    *
    * The synthetic corpus contains no PII, so the query PLANTS
    * deterministic PII per doc_id before scrubbing — the same
    * self-fixture style as the media_decode PNG round-trip — making the
    * redaction path non-vacuous and oracle-verified end to end.
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    val id = d("doc_id")
    val planted =
      when(pmod(id, lit(3)) === 0,
        concat(d("text"), lit(" contact user."), id.cast("string"),
          lit("@example.com now")))
      .when(pmod(id, lit(3)) === 1,
        concat(d("text"), lit(" from 10."), pmod(id, lit(256)).cast("string"),
          lit(".0.1 at 555-867-5309")))
      .otherwise(d("text"))
    // native kernel (round 6): each category counts AND replaces in ONE
    // matcher traversal — the column-op form ran every pattern twice
    // (regexp_extract_all for the count + regexp_replace); same
    // java.util.regex patterns, so the match sets are byte-identical
    // (parity pinned in WordStatsSpec)
    val s1 = d.select(id.as("doc_id"), piiScrubStruct(planted).as("r"))
    s1.select(col("doc_id"),
        col("r.clean_text").as("clean_text"),
        col("r.n_emails").as("n_emails"),
        col("r.n_ips").as("n_ips"),
        col("r.n_phones").as("n_phones"))
      .withColumn("n_redactions",
        col("n_emails") + col("n_ips") + col("n_phones"))
      .orderBy("doc_id")
  }

  /** The `pii_scrub` kernel as a Column: struct of clean_text + the three
    * counts ([[piiScrubScala]]).
    */
  def piiScrubStruct(c: Column): Column = Kernels.PiiScrub(c)

  private val PiiEmail = java.util.regex.Pattern.compile(PiiEmailPattern)
  private val PiiIp = java.util.regex.Pattern.compile(PiiIpPattern)
  private val PiiPhone = java.util.regex.Pattern.compile(PiiPhonePattern)

  /** The frozen PII scrub (email → ip → phone, each count taken on the
    * text state its replacement sees) with each category's count and
    * replacement produced by ONE matcher traversal: (clean_text, n_emails,
    * n_ips, n_phones). Spark's own regexp functions are java.util.regex,
    * so the per-category match sets — and therefore counts and
    * replacements — are byte-identical to [[piiScrubColumnar]] (parity
    * pinned in WordStatsSpec).
    */
  def piiScrubScala(text: String): (String, Int, Int, Int) = {
    val (t1, nEmails) = piiPass(text, PiiEmail, "<EMAIL>")
    val (t2, nIps) = piiPass(t1, PiiIp, "<IP>")
    val (t3, nPhones) = piiPass(t2, PiiPhone, "<PHONE>")
    (t3, nEmails, nIps, nPhones)
  }

  /** Count every match and substitute the typed token (the token strings
    * contain no `$`/`\`, so `appendReplacement` — the machinery Spark's
    * regexp_replace uses — is literal).
    */
  private def piiPass(s: String, p: java.util.regex.Pattern,
      token: String): (String, Int) = {
    val m = p.matcher(s)
    var n = 0
    var sb: java.lang.StringBuilder = null
    while (m.find()) {
      if (sb == null) sb = new java.lang.StringBuilder(s.length)
      n += 1
      m.appendReplacement(sb, token)
    }
    if (n == 0) (s, 0)
    else { m.appendTail(sb); (sb.toString, n) }
  }

  /** The round-5 column-op PII scrub (each pattern evaluated twice:
    * count + replace) — kept as the parity reference for the kernel.
    */
  private[graft] def piiScrubColumnar(planted: Column): Seq[Column] = {
    val nEmails = size(regexp_extract_all(planted, lit(PiiEmailPattern), lit(0)))
    val t1 = regexp_replace(planted, PiiEmailPattern, "<EMAIL>")
    val nIps = size(regexp_extract_all(t1, lit(PiiIpPattern), lit(0)))
    val t2 = regexp_replace(t1, PiiIpPattern, "<IP>")
    val nPhones = size(regexp_extract_all(t2, lit(PiiPhonePattern), lit(0)))
    val t3 = regexp_replace(t2, PiiPhonePattern, "<PHONE>")
    Seq(t3.as("clean_text"), nEmails.as("n_emails"), nIps.as("n_ips"),
      nPhones.as("n_phones"))
  }

  /** Control characters stripped by [[fixUnicode]]: the C0 range minus
    * tab/newline/carriage-return (the whitespace a document legitimately
    * carries). RE2-compatible class — the DuckDB oracle runs the
    * byte-identical pattern.
    */
  val ControlCharPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"

  /** Unicode fixing — the ftfy/CCNet-style normalization pass every
    * crawl pipeline runs before anything hashes or tokenizes text:
    * strip C0 control characters ([[ControlCharPattern]]), then Unicode
    * NFC normalization (combining sequences composed — 'e' + U+0301
    * becomes U+00E9 — so byte-different renderings of the same text
    * hash identically downstream). NFC runs in the native
    * `nfc_normalize` kernel (`java.text.Normalizer`); DuckDB's
    * `nfc_normalize` (utf8proc) implements the same Unicode algorithm,
    * so the oracle is value-exact — both engines' agreement is itself
    * pinned per row.
    *
    * The synthetic corpus is pure ASCII, so the query PLANTS
    * deterministic decomposed sequences and a control character per
    * doc_id (the piiScrub self-fixture style): combining acute on
    * `doc_id % 3 = 0`, combining tilde + a BEL control on `% 3 = 1`,
    * untouched otherwise — `changed` is exercised in both directions.
    * All planted characters are BMP, keeping Spark's UTF-16 `length`
    * and DuckDB's codepoint `length` equal.
    *
    * Scale shape: shuffle-free per-row projection (planted text staged
    * in its own Project so the three downstream references do not
    * re-evaluate the concat); trailing sort is oracle determinism only.
    */
  def fixUnicode(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    val s1 = d.select(d("doc_id").as("doc_id"),
      plantUnicode(d("doc_id"), d("text")).as("planted"))
    val s2 = s1.select(col("doc_id"), col("planted"),
      fixUnicodeCol(col("planted")).as("clean_text"))
    s2.select(col("doc_id"), col("clean_text"),
        length(col("planted")).cast("long").as("len_before"),
        length(col("clean_text")).cast("long").as("len_after"),
        (col("clean_text") =!= col("planted")).as("changed"))
      .orderBy("doc_id")
  }

  /** The ONE unicode-repair definition ([[fixUnicode]]'s rule): strip C0
    * controls, then NFC — shared with the cleanup capstone.
    */
  def fixUnicodeCol(text: Column): Column =
    nfcNormalize(regexp_replace(text, ControlCharPattern, ""))

  /** [[fixUnicode]]'s planted decomposed marks / control char (shared by
    * the cleanup capstone so both queries exercise the same repair).
    */
  private[graft] def plantUnicode(id: Column, text: Column): Column =
    when(pmod(id, lit(3)) === 0, concat(text, lit(" cafe\u0301 menu")))
      .when(pmod(id, lit(3)) === 1, concat(text, lit(" nin\u0303o\u0007 data")))
      .otherwise(text)

  /** Unicode NFC normalization, registered under DuckDB's SQL name (see
    * [[fixUnicode]]).
    */
  def nfcNormalize(c: Column): Column = Kernels.NfcNormalize(c)

  /** C4 line-level cleaning constants — frozen per the published C4
    * heuristics (Raffel et al. 2020 §2.2, "Exploring the Limits of
    * Transfer Learning…"): retain only lines ending in a terminal
    * punctuation mark with at least [[C4LineMinWords]] CONTENT words
    * (standalone punctuation tokens excluded — the planted suffix is a
    * separate token, so counting it would quietly lower the paper's
    * 5-word rule to 4) and no `javascript` token; drop whole pages with
    * fewer than [[C4PageMinLines]] retained lines, or containing
    * `lorem ipsum` or a curly brace.
    */
  val C4LineMinWords = 5
  val C4PageMinLines = 3
  val C4PlantLineWords = 7
  val C4PunctTokens: Seq[String] = Seq(".", "!", "?", "\"")

  /** ceil(n/k) k-word chunks of a pre-split word array — the planted
    * paragraph/line unit shared by [[c4Clean]] and
    * [[Dedup.dedupParagraphs]], mirrored by the oracles'
    * `TextOracles.chunkSql` (ONE definition per engine — the empty-array
    * guard exists because `sequence(0, -1)` descends).
    */
  private[graft] def chunkWords(ws: Column, k: Int): Column = {
    val n = floor((size(ws).cast("double") + (k - 1)) / k.toDouble).cast("int")
    when(size(ws) === 0, typedlit(Seq.empty[String]))
      .otherwise(transform(sequence(lit(0), n - 1),
        i => array_join(slice(ws, i * k + 1, lit(k)), " ")))
  }

  /** C4-style line-level cleaning — the classic Common Crawl pre-training
    * text cleanup (Raffel et al. 2020 §2.2), per document:
    *
    *  - keep only lines that end in terminal punctuation (`.` `!` `?`
    *    `"`), carry >= [[C4LineMinWords]] content words (standalone
    *    punctuation tokens excluded), and do not contain the
    *    word `javascript`;
    *  - page verdict: keep the doc only if >= [[C4PageMinLines]] lines
    *    survive AND the page contains neither the `lorem ipsum`
    *    placeholder nor a `{` (code);
    *  - emit the retained lines re-joined, plus line counts and the
    *    verdict.
    *
    * The synthetic corpus has no newlines, so the query PLANTS a
    * deterministic line structure first (the piiScrub/media_decode
    * self-fixture style, replayed exactly by the DuckDB oracle): words
    * are chunked into [[C4PlantLineWords]]-word lines, line `i` of doc
    * `d` gets suffix `" ."` / `" !"` / none by `(d + i) % 3` (so
    * terminal-punct and no-punct lines both occur, and the ragged last
    * chunk exercises the min-words rule), and sparse page-level poison
    * lines are appended: a `javascript` line on `d % 11 = 0` (which would
    * otherwise survive — it tests the word rule, not the punct rule), a
    * `lorem ipsum` line on `d % 13 = 0`, and a brace line on `d % 17 = 0`.
    *
    * Scale shape: shuffle-free per-row projection; the line array, the
    * kept-line array, and the joined page text each materialize exactly
    * once in their own projection step (non-cheap HOFs referenced more
    * than once downstream are NOT collapsed by CollapseProject, so no
    * O(len) expression re-evaluates — the trap PlanShapeSpec pins for
    * repetition). The trailing sort is driver-query determinism only.
    */
  def c4Clean(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    // round 6: one native pass per row (chunking, per-line suffix, the
    // four sparse plants, line rules, page verdict) instead of the
    // staged HOF chain — the chain was correct and CollapseProject-safe
    // but every stage ran interpreted per element. The column-op
    // definitions below remain THE reference (kernel parity pinned in
    // WordStatsSpec on the real corpus).
    val s1 = d.select(d("doc_id"), c4Doc(d("doc_id"), d("text")).as("c4"))
    s1.select(col("doc_id"),
        size(col("c4.lines")).cast("long").as("n_lines"),
        size(col("c4.kept")).cast("long").as("n_kept"),
        col("c4.page_keep").as("page_keep"),
        array_join(col("c4.kept"), "\n").as("clean_text"))
      .orderBy("doc_id")
  }

  /** `c4_doc(doc_id, text)` as a Column (struct of lines/kept/verdict). */
  def c4Doc(docId: Column, text: Column): Column = Kernels.C4Doc(docId, text)

  /** Scala twin of the whole C4 stage over one doc —
    * [[c4PlantedLines]] + [[c4KeptCol]] + [[c4PageKeepCol]] rule for
    * rule: (lines, kept, page_keep).
    */
  def c4DocScala(did: Long, text: String): (Array[String], Array[String], Boolean) = {
    // non-empty word spans of split(text, " ", -1)
    val len = text.length
    var nw = 0
    var p = 0
    var inWord = false
    while (p < len) {
      val sp = text.charAt(p) == ' '
      if (!sp && !inWord) { nw += 1; inWord = true }
      else if (sp) inWord = false
      p += 1
    }
    val ws = new Array[Int](nw); val we = new Array[Int](nw)
    var k = 0; p = 0; inWord = false
    while (p < len) {
      val sp = text.charAt(p) == ' '
      if (!sp && !inWord) { ws(k) = p; inWord = true }
      else if (sp && inWord) { we(k) = p; k += 1; inWord = false }
      p += 1
    }
    if (inWord) { we(k) = len; k += 1 }

    val np = (nw + C4PlantLineWords - 1) / C4PlantLineWords
    val lines = new scala.collection.mutable.ArrayBuffer[String](np + 4)
    var i = 0
    while (i < np) {
      val sb = new java.lang.StringBuilder
      var w = i * C4PlantLineWords
      val end = math.min(w + C4PlantLineWords, nw)
      while (w < end) {
        if (w > i * C4PlantLineWords) sb.append(' ')
        sb.append(text, ws(w), we(w))
        w += 1
      }
      java.lang.Math.floorMod(did + i, 3L) match {
        case 0L => sb.append(" .")
        case 1L => sb.append(" !")
        case _ => ()
      }
      lines += sb.toString
      i += 1
    }
    if (java.lang.Math.floorMod(did, 7L) == 0L) lines += C4FooterLine
    if (java.lang.Math.floorMod(did, 11L) == 0L)
      lines += "please enable javascript to view this page ."
    if (java.lang.Math.floorMod(did, 13L) == 0L)
      lines += "lorem ipsum dolor sit amet consectetur ."
    if (java.lang.Math.floorMod(did, 17L) == 0L)
      lines += "function main ( ) { return 0 }"

    def isPunctToken(l: String, a: Int, b: Int): Boolean =
      b - a == 1 && { val c = l.charAt(a)
        c == '.' || c == '!' || c == '?' || c == '"' }
    def keepLine(l: String): Boolean = {
      if (l.isEmpty) return false
      val last = l.charAt(l.length - 1)
      if (last != '.' && last != '!' && last != '?' && last != '"') return false
      var content = 0
      var j = 0
      val n = l.length
      while (j <= n) {
        var e = j
        while (e < n && l.charAt(e) != ' ') e += 1
        if (e > j) {
          if (!isPunctToken(l, j, e)) content += 1
          if (e - j == 10 && l.regionMatches(j, "javascript", 0, 10)) return false
        }
        j = e + 1
      }
      content >= C4LineMinWords
    }
    val kept = lines.filter(keepLine).toArray
    val pageKeep = kept.length >= C4PageMinLines &&
      !lines.exists(l => l.contains("lorem ipsum")) &&
      !lines.exists(l => l.contains("{"))
    (lines.toArray, kept, pageKeep)
  }

  /** The planted line table `(doc_id, lines)` from a `(doc_id, ws)`
    * projection — chunking, per-line punctuation suffix, and the sparse
    * plants: a shared BOILERPLATE footer on `d % 7 = 0` (identical
    * across its docs — it passes every line rule, so C4 keeps it and the
    * cleanup capstone's line dedup strips the copies: the RefinedWeb
    * case), then the javascript / lorem-ipsum / brace poison lines.
    *
    * Every non-cheap array is staged in its OWN projection and
    * referenced >= 2x downstream, so CollapseProject keeps each stage
    * materialized: the chunk transform and each plant CASE appear
    * exactly once in the optimized tree (a naive when/otherwise chain
    * inlines the whole chunk transform into every CASE branch — 2^4
    * copies; lazily evaluated, but unauditable. PlanShapeSpec pins the
    * plant literals appearing exactly once.)
    */
  private[graft] def c4PlantedLines(sWords: DataFrame): DataFrame = {
    val base = transform(chunkWords(col("ws"), C4PlantLineWords), (c, i) =>
      concat(c,
        when(pmod(col("doc_id") + i, lit(3)) === 0, lit(" ."))
          .when(pmod(col("doc_id") + i, lit(3)) === 1, lit(" !"))
          .otherwise(lit(""))))
    def plant(in: DataFrame, from: String, to: String, m: Int, line: String) =
      in.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(m)) === 0, concat(col(from), array(lit(line))))
          .otherwise(col(from)).as(to))
    val sBase = sWords.select(col("doc_id"), base.as("l0"))
    val p0 = plant(sBase, "l0", "lf", 7, C4FooterLine)
    val p1 = plant(p0, "lf", "l1", 11, "please enable javascript to view this page .")
    val p2 = plant(p1, "l1", "l2", 13, "lorem ipsum dolor sit amet consectetur .")
    plant(p2, "l2", "lines", 17, "function main ( ) { return 0 }")
  }

  /** The planted boilerplate footer (see [[c4PlantedLines]]). */
  val C4FooterLine = "all rights reserved contact us for details ."

  /** The kept-line array (the three C4 line rules) — one split per line:
    * the word array is bound next to its line in a struct, the rules
    * apply to the bound fields, and the line projects back out.
    */
  private[graft] def c4KeptCol(lines: Column): Column =
    transform(filter(
      transform(lines, l =>
        struct(l.as("l"), filter(split(l, " "), w => w =!= "").as("w"))),
      s => (s("l").endsWith(".") || s("l").endsWith("!") ||
          s("l").endsWith("?") || s("l").endsWith("\"")) &&
        size(filter(s("w"), w => !w.isin(C4PunctTokens: _*))) >= C4LineMinWords &&
        !array_contains(s("w"), "javascript")),
      s => s("l"))

  /** The C4 page verdict (shared with the cleanup capstone). */
  private[graft] def c4PageKeepCol(kept: Column, pageText: Column): Column =
    size(kept) >= C4PageMinLines &&
      !pageText.contains("lorem ipsum") && !pageText.contains("{")

  /** The text-REPAIR capstone — the editing-side composition a real
    * ingest runs before any filtering or corpus assembly, composed
    * entirely from the audited single-op column definitions (no logic
    * forks; the filter-side twin is [[Corpus.curate]]):
    *
    *  1. unicode fixing ([[fixUnicodeCol]] over [[plantUnicode]]'s
    *     artifacts — repair runs FIRST so nothing downstream hashes or
    *     counts byte-variant renderings of the same text);
    *  2. C4 line cleanup on the REPAIRED text ([[c4PlantedLines]] +
    *     [[c4KeptCol]]); the page verdict drops failing docs entirely
    *     (they contribute nothing to dedup statistics);
    *  3. cross-document line dedup over the surviving pages' kept lines
    *     ([[Dedup.dedupParaCore]]) — the C4 lines ARE the passage unit,
    *     no second chunking; the planted [[C4FooterLine]] boilerplate is
    *     stripped everywhere except its min-doc_id keeper.
    *
    * Scale shape: stages 1-2 are one shuffle-free projection chain off
    * the scan (one text pass); the kept-line table is the stage
    * boundary (checkpointed here, written out in deployment — the dedup
    * core reads it from more than one branch); stage 3 shuffles
    * fixed-width (doc_id, pos, hash) rows only. Trailing sort is oracle
    * determinism.
    */
  def cleanPipeline(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.dedupParaCore(cleanPages(spark, sfDir).localCheckpoint(eager = false)).orderBy("doc_id")

  /** The capstone's surviving-page kept-line table (stages 1-2 of
    * [[cleanPipeline]]) as a plan; the streaming planner
    * ([[cleanPlanDupLines]]) derives from exactly this definition.
    */
  private[graft] def cleanPages(spark: SparkSession, sfDir: String): DataFrame =
    keptPages(loadDocs(spark, sfDir))

  /** Stages 1-2 per row over `(doc_id, text)` docs, the one definition
    * the batch capstone and the streaming clean tail share: unicode
    * repair, then the native C4 pass over the REPAIRED text (see c4Clean;
    * kernel parity with the columnar chain pinned in WordStatsSpec); the
    * surviving pages as `(doc_id, paras)`.
    */
  private[graft] def keptPages(docs: DataFrame): DataFrame = {
    val cleaned = docs.select(docs("doc_id"),
      fixUnicodeCol(plantUnicode(docs("doc_id"), docs("text"))).as("clean"))
    cleaned.select(col("doc_id"), c4Doc(col("doc_id"), col("clean")).as("c4"))
      .where(col("c4.page_keep"))
      .select(col("doc_id"), col("c4.kept").as("paras"))
  }

  /** Offline planning for the streaming clean tail: the duplicate-line
    * keeper table exactly as [[cleanPipeline]]'s dedup stage derives it
    * — the lambda split of the repair capstone (re-run on whatever
    * cadence new boilerplate should be caught at).
    */
  def cleanPlanDupLines(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.dupParaKeepers(cleanPages(spark, sfDir))

  /** Document fingerprint: minimum keyed hash over the rolling window of
    * word 5-grams (winnowing-style min-fingerprint); short docs fall back
    * to whole-text hash. Robust to local edits outside the minimal gram.
    * Fast path is the native `fingerprint60` kernel (one Scala pass; the
    * column-op twin below is the reference, parity-pinned in
    * PortableHashSpec — the interpreted HOF re-hashes per element and was
    * the slowest query in the suite).
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val d = loadDocs(spark, sfDir)
    d.select(d("doc_id"), fingerprint60(d("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Scala twin: min md5-prefix over word 5-grams, whole-text fallback. */
  def fingerprintScala(text: String): Long = {
    val ws = text.split(" ", -1)
    val n = ws.length
    if (n < 5) return PortableHash.hexint60(text)
    var min = Long.MaxValue
    var i = 0
    while (i <= n - 5) {
      val h = PortableHash.hexint60(
        s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)} ${ws(i + 3)} ${ws(i + 4)}")
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** Column-op reference implementation (what the DuckDB oracle mirrors). */
  def fingerprintColumnar(text: Column): Column = {
    val ws = words(text)
    val nw = size(ws)
    val grams = transform(sequence(lit(0), nw - 5),
      i => array_join(slice(ws, i + 1, lit(5)), " "))
    when(nw >= 5,
      array_min(transform(grams, g => PortableHash.hexint60(g))))
      .otherwise(PortableHash.hexint60(text))
  }

  def fingerprint60(c: Column): Column = Kernels.Fingerprint60(c)

  /** ALL word-5-gram hashes of a doc (the full set [[fingerprint60]]
    * takes the min of; same split and short-doc fallback, so the two
    * stay consistent) — the unit of benchmark decontamination overlap.
    * Scala twin of the `gram_hashes60` kernel.
    */
  def gramHashesScala(text: String): Array[Long] = {
    val ws = text.split(" ", -1)
    val n = ws.length
    if (n < 5) return Array(PortableHash.hexint60(text))
    Array.tabulate(n - 4)(i => PortableHash.hexint60(
      s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)} ${ws(i + 3)} ${ws(i + 4)}"))
  }

  /** Column-op reference implementation (what the DuckDB oracle mirrors;
    * parity vs the native kernel pinned in PortableHashSpec).
    */
  def gramHashesColumnar(text: Column): Column = {
    val ws = words(text)
    val nw = size(ws)
    val grams = transform(sequence(lit(0), nw - 5),
      i => array_join(slice(ws, i + 1, lit(5)), " "))
    when(nw >= 5, transform(grams, g => PortableHash.hexint60(g)))
      .otherwise(array(PortableHash.hexint60(text)))
  }

  def gramHashes60(c: Column): Column = Kernels.GramHashes60(c)
}
