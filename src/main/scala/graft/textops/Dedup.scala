package graft.textops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), n-gram Jaccard (blocked join),
  * MinHash+LSH (shingle → signature → band → bucket join), SimHash
  * (bit-vote fingerprint + banded Hamming join). All shuffles are keyed on
  * hash/band/block columns — at 100 TB each stage is one hash-partitioned
  * exchange with map-side combine; no all-pairs product ever materializes.
  */
object Dedup {

  val ShingleSize = 3
  val BlockWords = 2
  val MinHashK = 16
  val Bands = 4 // rows-per-band = MinHashK / Bands = 4
  val JaccardThreshold = 0.5
  val SimHashMaxHamming = 3

  /** Modulus for the affine MinHash family (31-bit prime). */
  val MinHashP = 1000000007L

  /** Frozen (a_i, b_i) coefficients, derived deterministically from the
    * portable hash so the DuckDB oracle embeds the same literals.
    */
  val MinHashCoef: IndexedSeq[(Long, Long)] = (0 until MinHashK).map { i =>
    (1L + PortableHash.hexint32(s"minhash-a-$i") % (MinHashP - 1),
      PortableHash.hexint32(s"minhash-b-$i") % MinHashP)
  }

  import PortableHash._

  /** Exact dedup: rank within identical-content groups; rank>1 = duplicate.
    * One hash-partitioned window over the content hash — the canonical
    * web-scale exact-dedup shape (hash is the shuffle key, never the text).
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val w = Window.partitionBy("text_hash").orderBy("doc_id")
    d.select(d("doc_id"), hexint60(d("text")).as("text_hash"))
      .withColumn("is_duplicate", row_number().over(w) > 1)
      .orderBy("doc_id")
  }

  private def wordsOf(c: Column): Column = split(c, " ")

  /** Distinct word shingles of size [[ShingleSize]]; requires >= that many
    * words (callers filter).
    */
  private def shingles(text: Column): Column = {
    val ws = wordsOf(text)
    array_distinct(transform(sequence(lit(0), size(ws) - ShingleSize),
      i => array_join(slice(ws, i + 1, lit(ShingleSize)), " ")))
  }

  /** Column-op reference formula for the Jaccard verify stage (what the
    * DuckDB oracle mirrors; parity with the native `jaccard` kernel is
    * pinned in PortableHashSpec). Not used in the execution path: it
    * references `array_intersect` twice, and wherever filter pushdown can
    * inline it into a condition it runs once more per reference. The
    * native kernel runs once per pair as the output of [[nearPairs]]'s
    * one-row generator.
    */
  def jaccardColumnar(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    round(inter.cast("double") / (size(a) + size(b) - inter).cast("double"), 6)
  }

  /** Near-duplicate pairs by blocking, then verification: each pair
    * `id_a < id_b` of `keyed` (`id`, `keys: array<struct>`, payload…)
    * that shares at least one key, exactly once, as
    * `(id_a, id_b, <score>)` where `keep` holds, ordered by the ids.
    *
    *  - Blocking is a self-join of the exploded keys; it carries `id` and
    *    `keys`, never the payload.
    *  - Comparison is redundancy-free (SparkER, EDBT 2019): a pair meets
    *    once per key it shares, and only the meeting at the first key of
    *    `a`'s array that `b` also holds survives, so no `distinct` is
    *    needed. The test is that no key before `k` in `a`'s array is one
    *    of `b`'s (`arrays_overlap` is null, not false, when an array
    *    holds a null key; null keys never join).
    *  - The payload joins back on each side as `<col>_a` / `<col>_b`,
    *    which `verify` reads. The score is the output of a one-row
    *    generator (`explode(array(...))`): filter pushdown cannot move
    *    `keep` below a generator, so it cannot copy the verify kernel into
    *    the join condition, and the kernel runs once per pair.
    */
  private[textops] def nearPairs(keyed: DataFrame, score: String, verify: Column,
      keep: Column): DataFrame = {
    val blocks = keyed.select(col("id"), array_distinct(col("keys")).as("keys"))
      .select(col("id"), col("keys"), posexplode(col("keys")).as(Seq("p", "k")))
    val sharedBefore = arrays_overlap(slice(col("a.keys"), lit(1), col("a.p")), col("b.keys"))
    val cand = blocks.as("a").join(blocks.as("b"), col("a.k") === col("b.k") &&
        col("a.id") < col("b.id") && !coalesce(sharedBefore, lit(false)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val payload = keyed.drop("keys")
    def side(s: String) = payload.select(payload.columns.map(c => col(c).as(s"${c}_$s")): _*)
    cand.join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"), explode(array(verify)).as(score))
      .where(keep)
      .orderBy("id_a", "id_b")
  }

  /** N-gram Jaccard near-dup with composite blocking: candidate pairs must
    * share (first-[[BlockWords]]-words prefix, shingle-count bucket).
    *
    * The prefix alone is quadratic WITHIN a block — on a clustered web
    * corpus a common prefix ("the ...") degenerates toward all-pairs. The
    * secondary key is `b = floor(log2(|shingles|))`, and every doc is
    * emitted at buckets {b .. b+span} with `span = ceil(log2(1/threshold))`
    * DERIVED from the requested threshold: J >= t forces
    * max(|A|,|B|)/min(|A|,|B|) <= 1/t (since |A∩B| <= min and
    * |A∪B| >= max), and floor-log2 buckets of sizes within ratio R differ
    * by < log2(R)+1 — so a qualifying pair's buckets differ by at most
    * `span` and ALWAYS share an emitted key. Recall is exact for ANY
    * threshold in (0,1] (a hardcoded span of 2 was exact only for
    * t >= 0.25 and silently dropped pairs below it), while a same-prefix
    * block of mixed sizes still splits into bounded sub-blocks.
    *
    * The keys are `(block, lb + i)`; a pair is verified at its first
    * shared key, `(block, max(lb_a, lb_b))` ([[nearPairs]]).
    */
  def ngramJaccard(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // smallest span with 2^span >= 1/threshold (see scaladoc); default
    // t=0.4 => span 2, the shape the sf-pinned DuckDB oracle mirrors
    val span = { var s = 0; while (math.pow(2, s) * threshold < 1.0) s += 1; s }
    val d = TextAnalysis.loadDocs(spark, sfDir)
    // checkpointed: both blocking sides and both payload join-backs read
    // it, so the shingling runs once
    val base = d.where(size(wordsOf(d("text"))) >= ShingleSize)
      .select(d("doc_id"),
        array_join(slice(wordsOf(d("text")), 1, BlockWords), " ").as("block"),
        shingles(d("text")).as("sh"))
      // floor(log2(n)) via binary-string length — exact integer semantics
      // in both Spark (conv) and DuckDB (bin), no float log edge cases
      .withColumn("lb",
        (length(conv(size(col("sh")).cast("string"), 10, 2)) - 1).cast("int"))
      .localCheckpoint(eager = false)
    val keyed = base.select(col("doc_id").as("id"),
      array((0 to span).map(i => struct(col("block"), (col("lb") + i).as("lb"))): _*).as("keys"),
      col("sh"))
    nearPairs(keyed, "jaccard", graft.Kernels.Jaccard(col("sh_a"), col("sh_b")),
      col("jaccard") >= threshold)
  }

  /** Per-doc MinHash signature columns sig0..sig{K-1} plus shingles.
    *
    * One md5 per shingle, then K affine mixes `(a_i*h + b_i) mod P` — the
    * classic construction. The hashed-shingle array is a separate projection
    * column referenced K times, which stops CollapseProject from inlining
    * (= re-computing) the md5 pass per signature; all arithmetic stays in
    * exact int64 (h < P, a_i < P, so a*h < 2^60).
    */
  private def signatures(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val base = d.where(size(wordsOf(d("text"))) >= ShingleSize)
      .select(d("doc_id"), shingles(d("text")).as("sh"))
      .withColumn("shh", transform(col("sh"), s => hexint32(s) % MinHashP))
    val sigCols = (0 until MinHashK).map { i =>
      val (a, b) = MinHashCoef(i)
      array_min(transform(col("shh"), h => (lit(a) * h + lit(b)) % MinHashP)).as(s"sig$i")
    }
    base.select((col("doc_id") +: col("sh") +: sigCols): _*)
  }

  /** MinHash+LSH near-dup: shingle → K minhashes → `(band, md5)` keys →
    * [[nearPairs]] → exact-Jaccard verification at [[JaccardThreshold]].
    * The signature table is checkpointed: both blocking sides and both
    * payload join-backs read it, and shingling and hashing run once.
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = MinHashK / Bands
    val sigs = signatures(spark, sfDir).localCheckpoint(eager = false)
    val keyed = sigs.select(col("doc_id").as("id"),
      array((0 until Bands).map { b =>
        struct(lit(b).as("band"), md5(concat_ws(",",
          (0 until rows).map(r => col(s"sig${b * rows + r}").cast("string")): _*)).as("key"))
      }: _*).as("keys"),
      col("sh"))
    nearPairs(keyed, "jaccard", graft.Kernels.Jaccard(col("sh_a"), col("sh_b")),
      col("jaccard") >= JaccardThreshold)
  }

  /** 60-bit SimHash fingerprint per doc (native [[SimHash]] expression;
    * one pass per row — the column-op equivalent needs 60 interpreted
    * folds).
    */
  def simhashFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    fingerprints(spark, sfDir).orderBy("doc_id")

  /** `(doc_id, simhash)` in scan order — [[simhashFingerprints]] without
    * the output sort, which no pair consumer needs.
    */
  private[graft] def fingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    d.select(d("doc_id"), SimHash.simhash60(d("text")).as("simhash"))
  }

  /** SimHash near-dup: pairs sharing any of the 4 15-bit `(band, bkey)`
    * fingerprint bands are candidates ([[nearPairs]]); `bit_count(xor)
    * <= 3` verifies, with GUARANTEED recall (pigeonhole over the bands).
    * 15-bit bands keep bucket sizes small even on clustered corpora —
    * 8-bit bands measured 25x slower here from candidate blow-up. The
    * unsorted fingerprints are checkpointed: both blocking sides and both
    * payload join-backs read them, and the native simhash pass runs once
    * per doc.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = fingerprints(spark, sfDir).localCheckpoint(eager = false)
    val keyed = fps.select(col("doc_id").as("id"),
      array((0 until SimHash.Bands).map(j => struct(lit(j).as("band"),
        shiftright(col("simhash"), j * SimHash.BandBits)
          .bitwiseAND(SimHash.BandMask).as("bkey"))): _*).as("keys"),
      col("simhash").as("fp"))
    nearPairs(keyed, "hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))),
      col("hamming") <= SimHashMaxHamming)
  }

  /** `(doc_id, grams)`: each doc's distinct word-5-gram hashes, the gram
    * table of [[dupPassages]] and [[containment]].
    */
  private def docGramSets(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    d.select(d("doc_id"), array_distinct(TextAnalysis.gramHashes60(d("text"))).as("grams"))
  }

  /** Duplicate-PASSAGE threshold for [[dupPassages]]: drop a doc when
    * more than this fraction of its distinct passages also appear
    * elsewhere in the corpus (frozen for the oracle).
    */
  val DupPassageFracMax = 0.2

  /** Cross-document duplicate-PASSAGE detection — the exact-substring
    * dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"), at word-5-gram granularity instead of a
    * suffix array (the passage unit is the same 5-gram hash family as
    * [[TextAnalysis.fingerprint60]] / decontamination, so all three
    * surfaces agree on what "a passage" is). A doc's `dup_grams` counts
    * its DISTINCT grams that occur in at least one OTHER document;
    * `keep` drops docs whose duplicated fraction exceeds
    * [[DupPassageFracMax]]. Exact duplicates score dup_frac = 1.0;
    * template spam (shared boilerplate passages around unique content)
    * scores the boilerplate fraction — the case whole-doc exact dedup
    * misses entirely.
    *
    * Scale shape (round 6): the exploded (doc_id, gram-hash) table
    * carries only fixed-width longs (never text) and aggregates EXACTLY
    * ONCE — a (count, min) partial aggregate on the 60-bit gram key
    * (map-side combine — corpus-wide frequency never funnels). The
    * duplicated-gram count is then derived by complement
    * (`dup = distinct − solely-owned`): the df=1 grams each name their
    * single owner via `min(doc_id)`, one more partial aggregate keyed
    * on that owner rolls them up per doc, and one keyed join attaches
    * the result. The round-5 shape instead re-shuffled the full
    * exploded table a second time as the probe side of a
    * dup-gram-set join — strictly more bytes for the same answer.
    * Per-doc distinct grams come from `array_distinct` INSIDE the row
    * (no shuffle), and the gram table is checkpointed: the explode
    * branch and the per-doc count both read one kernel pass.
    */
  def dupPassages(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = docGramSets(spark, sfDir).localCheckpoint(eager = false)
    val docGrams = grams.select(col("doc_id"), explode(col("grams")).as("g"))
    // rows are per-doc distinct, so count == number of docs carrying g,
    // and dup_grams = n_distinct − (grams owned by this doc ALONE):
    // counting the complement inverts the round-5 shape — the big
    // exploded table aggregates ONCE (count + min combine map-side) and
    // never re-shuffles as a join probe (guide §2.3/§2.4; the min of a
    // df=1 group IS its only owner)
    val uniqOwned = docGrams.groupBy("g")
      .agg(count(lit(1)).as("n"), min("doc_id").as("owner"))
      .where(col("n") === 1)
      .groupBy("owner").agg(count(lit(1)).as("uniq_grams"))
      .withColumnRenamed("owner", "doc_id")
    grams.select(col("doc_id"), size(col("grams")).as("n_distinct_grams"))
      .join(uniqOwned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_distinct_grams"),
        (col("n_distinct_grams").cast("long") -
          coalesce(col("uniq_grams"), lit(0L))).as("dup_grams"))
      .withColumn("dup_frac",
        round(col("dup_grams").cast("double") / col("n_distinct_grams").cast("double"), 6))
      .withColumn("keep", col("dup_frac") <= DupPassageFracMax)
      .orderBy("doc_id")
  }

  /** Words per planted paragraph for [[dedupParagraphs]] (the corpus has
    * no newlines; 7-word chunks give multi-paragraph docs whose planted
    * exact-duplicate pairs share EVERY paragraph).
    */
  val ParaChunkWords = 7

  /** Cross-document PARAGRAPH dedup — the RefinedWeb / Falcon passage
    * removal (Penedo et al. 2023): a paragraph appearing in two or more
    * documents is boilerplate; every occurrence OUTSIDE the minimum
    * doc_id (the deterministic "first" copy — the keeper rule shared
    * with exact dedup) is removed from its document, and the cleaned
    * text is re-emitted. Unlike [[dupPassages]] (which SCORES docs by
    * duplicated-gram fraction and drops whole docs), this op EDITS the
    * surviving docs — template spam loses the boilerplate but keeps its
    * unique content. Paragraph unit: the planted [[ParaChunkWords]]-word
    * chunks (the corpus has no newlines; plant replayed by the oracle),
    * UNSUFFIXED so planted exact-duplicate docs share every paragraph.
    *
    * Scale shape: the exploded (doc_id, pos, para-hash) table carries
    * fixed-width columns only — paragraph TEXT never shuffles; paragraph
    * frequency + keeper is ONE map-side-combined partial aggregate on
    * the 60-bit hash; the drop set joins back on the same key and rolls
    * up to per-doc position lists (bounded by paragraphs-per-doc); the
    * final join to the paragraph arrays is keyed on doc_id — against the
    * repo's standard doc_id-bucketed store layout it is co-partitioned
    * (zero text movement), and at this query's scale AQE broadcasts the
    * small drop side. The in-row re-assembly is an indexed array filter
    * (no shuffle).
    */
  def dedupParagraphs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val paraTable = d.select(d("doc_id"),
      TextAnalysis.chunkWords(TextAnalysis.nonEmptyWords(d("text")), ParaChunkWords).as("paras"))
    dedupParaCore(paraTable.localCheckpoint(eager = false)).orderBy("doc_id")
  }

  /** Core of [[dedupParagraphs]] over ANY `(doc_id, paras)` table —
    * [[dedupParagraphs]] feeds raw-text word chunks; the cleanup
    * capstone ([[TextAnalysis.cleanPipeline]]) feeds C4-kept lines.
    * The caller checkpoints `paraTable`: the explode branch, the keeper
    * aggregate and the join-back all read it.
    */
  private[graft] def dedupParaCore(paraTable: DataFrame): DataFrame = {
    val exploded = explodedParas(paraTable)
    val drops = exploded.join(dupParaKeepers(paraTable), Seq("ph"))
      .where(col("doc_id") =!= col("keeper_doc"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("drop_pos"))
    paraTable.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        coalesce(size(col("drop_pos")).cast("long"), lit(0L)).as("n_dropped"),
        array_join(filter(col("paras"), (_, i) =>
          !array_contains(coalesce(col("drop_pos"), typedlit(Seq.empty[Int])), i)),
          "\n").as("clean_text"))
  }

  /** The fixed-width exploded view `(doc_id, pos, ph)` of a paras table
    * — paragraph text hashes map-side and never leaves the projection.
    */
  private def explodedParas(paraTable: DataFrame): DataFrame =
    paraTable
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos"), hexint60(col("para")).as("ph"))

  /** `(ph, keeper_doc)` for paragraphs held by >= 2 docs — the dedup
    * PLAN: [[dedupParaCore]]'s frequency stage, also produced standalone
    * as the offline-planned static input of the streaming clean tail
    * ([[graft.streaming.CleanStream]]), whose `keep_lines` kernel applies
    * it per row.
    */
  private[graft] def dupParaKeepers(paraTable: DataFrame): DataFrame =
    // ">= 2 distinct docs" as min != max (doc ids in a ph group):
    // a countDistinct plans as a two-phase distinct aggregate (an extra
    // (ph, doc_id) dedup stage before the count); min/max combine
    // map-side in ONE partial aggregate — guide §2.3 — and min(doc_id)
    // != max(doc_id) holds exactly when the group spans >= 2 docs
    explodedParas(paraTable).groupBy("ph")
      .agg(min("doc_id").as("keeper_doc"), max("doc_id").as("max_doc"))
      .where(col("keeper_doc") =!= col("max_doc")).select("ph", "keeper_doc")

  /** Near-dup CLUSTERING — the step between pair detection and corpus
    * pruning: connected components over the verified MinHash+LSH pairs,
    * labeled by minimum doc_id, keeper = the minimum itself. A real
    * dedup pass drops `NOT is_keeper` rows; emitting the whole labeling
    * keeps the decision auditable (which doc survived and why).
    *
    * Distributed shape: min-label propagation WITH pointer jumping —
    * each round is (a) ONE hash-partitioned join of labels onto edge
    * endpoints + ONE min-aggregate per node (the propagate step, reach
    * +1 hop), then (b) ONE self-join of the labeling on its own label
    * column (the jump step: `label := label(label)`, which doubles the
    * distance already covered — the star-contraction idea from the
    * MapReduce-CC literature, e.g. Kiveris et al. 2014). Reach grows
    * ~2x+1 per round, so even a pathological CHAIN-shaped duplicate
    * graph (template spam) converges in O(log n) rounds — ~10 for a
    * 200-node chain where plain propagation needs 199 — while the
    * typical near-dup graph (pairs/triangles, diameter 2-3) still
    * finishes in 2-3 rounds. Convergence is detected from sum(label) —
    * both steps are monotone non-increasing per node, so any change
    * strictly decreases the (exact, decimal) sum — one bounded
    * one-row collect per round. [[connectedComponents]] returns a
    * checkpointed labeling, so this query materializes nothing more.
    */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponents(minhashLsh(spark, sfDir).select("id_a", "id_b"))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        (col("node") === col("label")).as("is_keeper"))
      .orderBy("doc_id")

  /** Connected components over an undirected pair list `(id_a, id_b)`:
    * one row per distinct endpoint with `label` = the minimum node id
    * reachable from it. See [[nearDupClusters]] for the algorithm and
    * its scaling argument. The returned frame is a local checkpoint (a
    * plan leaf); the edges and every superseded round are unpersisted
    * before it returns, so only the final round's blocks stay, owned by
    * the returned frame.
    */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // every table below is read more than once (the edges every round, a
    // round's labels by both sides of the jump join) and is re-rooted as
    // a local-checkpoint leaf: the jump self-join references the round
    // plan twice, so a plan carried over would DOUBLE per round and an
    // O(log n)-round run blows it up exponentially (measured: AQE's
    // explainString OOMed the heap at round ~10 of a 200-node chain).
    // The checkpoints are lazy: the first job that reads one (the next
    // table's shuffle stages, or the round's label sum) stores it, so no
    // extra job runs.
    val edges = pairs.select(col(pairs.columns(0)).as("src"), col(pairs.columns(1)).as("dst"))
      .unionByName(pairs.select(col(pairs.columns(1)).as("src"), col(pairs.columns(0)).as("dst")))
      .localCheckpoint(eager = false)
    // exact decimal sum: label sums fit 38 digits at any corpus size
    // (a long sum could overflow at ~10^12 large doc_ids)
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("label").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))
    // a superseded table's blocks are dropped as soon as the table that
    // replaces it is stored — on success and on failure — instead of
    // waiting for a driver GC to let Spark's ContextCleaner find them
    def release(df: DataFrame): Unit =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = false))
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint(eager = false)
    try {
      var prevSum = labelSum(labels) // stores the checkpoint
      var converged = prevSum.isEmpty // empty pair graph: nothing to do
      var rounds = 0
      while (!converged) {
        rounds += 1
        // 50 rounds of doubling covers any graph with < 2^49 nodes; hitting
        // this is a logic bug, not a data shape — fail loud, never hang
        require(rounds <= 50, "connectedComponents: no fixpoint after 50 rounds")
        // propagate: each node takes the min label over itself + neighbors
        val propagated = labels.unionByName(
            edges.join(labels.withColumnRenamed("node", "src"), Seq("src"))
              .select(col("dst").as("node"), col("label")))
          .groupBy("node").agg(min("label").as("label"))
          .localCheckpoint(eager = false)
        val next = try {
          // jump: label := label(label). Every label value is itself a
          // node of the graph (labels only ever take node-id values), and
          // the invariant label(u) <= u makes the step monotone; the left
          // join is 1:1 (node is unique after the groupBy)
          val n = propagated
            .join(propagated.select(col("node").as("label"), col("label").as("jump")),
              Seq("label"), "left")
            .select(col("node"), coalesce(col("jump"), col("label")).as("label"))
            .localCheckpoint(eager = false)
          val s = try labelSum(n) // stores the checkpoint
            catch { case e: Throwable => release(n); throw e }
          converged = s == prevSum
          prevSum = s
          n
        } finally release(propagated)
        release(labels)
        labels = next
      }
      labels
    } catch {
      case e: Throwable => release(labels); throw e
    } finally release(edges)
  }

  /** Containment threshold: a doc whose rare grams are ≥ this fraction
    * covered by another doc is "contained" in it.
    */
  val ContainmentThreshold = 0.8

  /** Grams held by more documents than this are boilerplate: excluded
    * from containment entirely (numerator AND denominator). This is ALSO
    * the scale bound of the pair join — each surviving gram contributes
    * at most cap·(cap−1) ordered pair rows, so the candidate table grows
    * linearly with the corpus, never quadratically.
    */
  val ContainmentGramDfMax = 20L

  /** Minimum rare grams for a doc to be judged contained (below this the
    * ratio is noise).
    */
  val ContainmentMinGrams = 3L

  /** Asymmetric containment detection: ordered pairs (contained,
    * container) where the contained doc's rare distinct 5-grams are
    * ≥ [[ContainmentThreshold]] covered by the container's. This is the
    * dedup case symmetric Jaccard MISSES: a short article quoted whole
    * inside a long aggregator page has tiny Jaccard (union is dominated
    * by the container) but containment ≈ 1. Gram unit and doc-gram table
    * definition are shared with [[dupPassages]] / decontamination.
    *
    * Scale shape (round 6): rare-gram doc frequency is ONE partial
    * aggregate on the 60-bit gram key; pair candidates come from a
    * second keyed aggregate over the truly-shared grams (2 <= df <=
    * [[ContainmentGramDfMax]]) whose collect_list is BOUNDED by the
    * cap — the very bound that made the round-5 self-join safe — and
    * the <= cap·(cap−1) ordered pairs per gram expand in-row;
    * intersection sizes are a partial aggregate on the id pair; the
    * single broadcast-sized denominator join closes the ratio. No
    * text, no join carrying the gram table twice, no all-pairs product
    * anywhere.
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame = {
    // checkpointed: the doc-frequency aggregate and the join back both
    // read the exploded grams, and the kernel runs once per doc
    val grams = docGramSets(spark, sfDir).localCheckpoint(eager = false)
    val docGrams = grams.select(col("doc_id"), explode(col("grams")).as("g"))
    // rare = (doc_id, g) occurrences of grams with doc-frequency <= cap;
    // df=1 grams stay (they count in the denominator: unique content the
    // container does NOT cover) but produce no cross pairs. Checkpointed:
    // the denominator count and the pair expansion both read it
    val rareGram = docGrams.groupBy("g").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") <= ContainmentGramDfMax)
    val rare = docGrams.join(rareGram, Seq("g")).localCheckpoint(eager = false)
    val nRare = rare.groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    // only grams SHARED by >= 2 docs can produce a cross pair (a df=1
    // gram meets nothing but its own doc), and each surviving gram's
    // doc set is <= [[ContainmentGramDfMax]] BY CONSTRUCTION — so the
    // ordered pairs expand IN-ROW from a bounded collect_list instead
    // of the round-5 two-sided self-join: one keyed aggregate replaces
    // two full exchanges of the shared-gram table plus the join, and
    // the per-gram pair fan-out stays the same cap² bound the join had
    // (guide §2.4: remove shuffles outright)
    val shared = rare.where(col("n_docs") >= 2)
    val gramDocs = shared.groupBy("g")
      .agg(collect_list(col("doc_id")).as("docs"))
    val pairs = gramDocs.select(explode(flatten(transform(col("docs"), a =>
      transform(filter(col("docs"), b => b =!= a), b =>
        struct(a.as("id_contained"), b.as("id_container")))))).as("pr"))
    val inter = pairs
      .select(col("pr.id_contained").as("id_contained"),
        col("pr.id_container").as("id_container"))
      .groupBy("id_contained", "id_container")
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(nRare.select(col("doc_id").as("id_contained"),
        col("n_rare")), Seq("id_contained"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_rare").cast("double"), 6))
      .where(col("containment") >= ContainmentThreshold &&
        col("n_rare") >= ContainmentMinGrams)
      .select("id_contained", "id_container", "n_rare", "n_shared", "containment")
      .orderBy("id_contained", "id_container")
  }

  /** Fraction (percent) of docs in the standing base corpus for
    * [[incremental]]; the rest arrive as the new delta batch.
    */
  val IncrementalBasePct = 80L

  /** Incremental exact dedup — the production daily-crawl shape: a new
    * DELTA batch is deduplicated against the standing BASE corpus's
    * signature set AND within itself (min-doc_id keeper, the rule shared
    * with [[exact]]). Here base membership is a deterministic hash split
    * of the one documents table so the DuckDB oracle can replay it; a
    * deployment reads the signature set from the store written by the
    * previous run (dataflow identical — one keyed join against a
    * stored hash table that is ~16 bytes/doc, no text).
    *
    * Scale shape: the base side reduces to DISTINCT 60-bit hashes (one
    * partial aggregate); the delta joins it on the hash (keyed equi-join
    * — broadcastable while the daily delta ≪ base signature table is
    * false, i.e. never; but the join carries only hashes); in-delta
    * keepers are one more partial aggregate on the same key. Text never
    * shuffles.
    */
  def incremental(spark: SparkSession, sfDir: String): DataFrame = {
    // checkpointed: base signatures, the delta side, and the in-delta
    // keeper all read this projection — one scan and ONE text-hashing
    // pass, not three (the table is fixed-width, ~17 bytes/doc)
    val d = TextAnalysis.loadDocs(spark, sfDir)
    val tagged = d.select(d("doc_id"), hexint60(d("text")).as("text_hash"),
        (PortableHash.hexint32(concat(lit("incr:"), d("doc_id").cast("string")))
          % 100L < IncrementalBasePct).as("in_base"))
      .localCheckpoint(eager = false)
    val baseSigs = tagged.where(col("in_base"))
      .select("text_hash").distinct()
      .withColumn("dup_of_base", lit(true))
    val delta = tagged.where(!col("in_base")).drop("in_base")
    val deltaKeeper = delta.groupBy("text_hash")
      .agg(min("doc_id").as("first_delta"))
    delta
      .join(baseSigs, Seq("text_hash"), "left")
      .join(deltaKeeper, Seq("text_hash"))
      .select(col("doc_id"), col("text_hash"),
        coalesce(col("dup_of_base"), lit(false)).as("dup_of_base"),
        (col("doc_id") =!= col("first_delta")).as("dup_in_delta"))
      .withColumn("keep", !col("dup_of_base") && !col("dup_in_delta"))
      .orderBy("doc_id")
  }
}
