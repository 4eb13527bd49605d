package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions for the known Catalyst re-evaluation traps
  * (CollapseProject / filter pushdown re-inlining non-cheap expressions):
  * the expensive native kernels must appear EXACTLY ONCE in the optimized
  * plan of their queries. A regression here is invisible to the value
  * oracle (same results, N× the work) — only the plan shows it. The
  * same holds for a query that reuses state from an earlier call, which
  * the cache-entry and job-count tests pin down.
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** AQE (on by default in Spark 4) wraps executedPlan in an
    * AdaptiveSparkPlanExec, which is a LEAF node — a typed foreach over
    * executedPlan visits ONLY the wrapper and silently skips every
    * Exchange. Unwrap to the initial physical plan so node assertions
    * actually visit the query's nodes.
    */
  private def physical(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.queryExecution.executedPlan match {
      // initialPlan, not inputPlan: exchanges are inserted by the
      // preparation rules (EnsureRequirements), which inputPlan predates
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
  }

  /** No shuffle carries a `forbidden` column; fails loudly if the
    * traversal saw no shuffle at all.
    */
  private def assertNoTextInShuffles(df: org.apache.spark.sql.DataFrame,
      forbidden: Set[String] = Set("text")): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var shuffles = 0
    physical(df).foreach {
      case e: ShuffleExchangeExec =>
        shuffles += 1
        assert(!e.output.exists(a => forbidden(a.name)),
          s"forbidden column in shuffle: ${e.output}")
      case _ =>
    }
    assert(shuffles > 0, "no ShuffleExchangeExec visited - vacuous traversal")
  }

  /** Interpreted (`CodegenFallback`) expressions of the physical plan. */
  private def fallbacks(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    physical(df).collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e: CodegenFallback => e.prettyName })
  }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  /** Scans of a local checkpoint, the leaf a query's shared table
    * becomes; `cols` narrows it to scans whose output holds them all.
    */
  private def checkpointScans(plan: String, cols: String*): Int =
    plan.linesIterator.count(l => l.contains("Scan ExistingRDD") && cols.forall(l.contains))

  /** Physical plans (AQE unwrapped, as [[physical]]) of the
    * `localCheckpoint` actions `body` runs: the builds of the shared
    * tables of the query it constructs.
    */
  private def checkpointBuilds(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (fn == "localCheckpoint") plans.add((qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }).toString)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** The executed plan of the query `build` constructs, followed by the
    * plans of the checkpoints it builds on the way. A checkpoint scan
    * prints nothing of how its table was built, so shape pins read this
    * string: they cover the shared tables' builds as well as the query.
    */
  private def withBuilds(build: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, String) = {
    var df: org.apache.spark.sql.DataFrame = null
    val builds = checkpointBuilds { df = build }
    (df, (df.queryExecution.executedPlan.toString +: builds).mkString("\n"))
  }

  /** The search pair scans its input twice (stats branch, probe branch):
    * `term_counts` must run once per scan, and filter pushdown must not
    * re-inline it into the conjunction Filter.
    */
  private def assertTermCountsOncePerScan(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = optimized(df)
    assert(count(plan, "graft.Kernels.term_counts(") === 2, s"\n$plan")
    val filters = plan.linesIterator.filter(_.contains("Filter ")).toSeq
    assert(filters.nonEmpty, s"\n$plan")
    assert(!filters.exists(_.contains("term_counts")), s"\n$plan")
  }

  test("repetition evaluates the repetition_fracs kernel once per row") {
    val plan = optimized(graft.textops.TextAnalysis.repetition(spark, sf))
    assert(count(plan, "graft.Kernels.repetition_fracs(") === 1, s"\n$plan")
  }

  test("minhash LSH verify evaluates the jaccard kernel once per pair") {
    val plan = optimized(graft.textops.Dedup.minhashLsh(spark, sf))
    assert(count(plan, "graft.Kernels.jaccard(") === 1, s"\n$plan")
    assert(!plan.contains("array_intersect"))
  }

  test("ngram Jaccard verify evaluates the jaccard kernel once per pair") {
    val plan = optimized(graft.textops.Dedup.ngramJaccard(spark, sf))
    assert(count(plan, "graft.Kernels.jaccard(") === 1, s"\n$plan")
    assert(!plan.contains("array_intersect"))
  }

  test("embedding near-dup verify evaluates the dot_fold cosine once per pair") {
    // the query's own nodes only: the norms' dot_fold calls ran when the
    // vector table was checkpointed (a leaf now); a copy pushed into a
    // Filter or a join condition would count twice
    val opt = graft.textops.Similarity.embeddingNearDup(spark, sf).queryExecution.optimizedPlan
    val own = opt.flatMap(_.expressions).map(e => count(e.toString, "graft.Kernels.dot_fold("))
    assert(own.sum === 1, s"\n$opt")
  }

  test("near-dup pair queries block and verify without a pair aggregate") {
    import graft.textops.{Dedup, Similarity}
    Seq(Dedup.minhashLsh(spark, sf), Dedup.ngramJaccard(spark, sf),
        Dedup.simhashPairs(spark, sf), Similarity.embeddingNearDup(spark, sf)).foreach { df =>
      val phys = physical(df)
      assert(phys.find(_.nodeName.contains("Aggregate")).isEmpty, s"\n$phys")
      assert(phys.find(_.nodeName.contains("Join")).nonEmpty, s"\n$phys")
    }
  }

  test("simhash pairs block on fingerprints built without a sort") {
    // the fingerprint table the pair query checkpoints has no consumer
    // that needs doc_id order: no range exchange in its build
    val builds = checkpointBuilds(graft.textops.Dedup.simhashPairs(spark, sf))
    val fps = builds.filter(_.contains("graft.Kernels.simhash60("))
    assert(fps.size === 1, builds.mkString("\n"))
    assert(!fps.head.contains("rangepartitioning"), s"\n${fps.head}")
  }

  test("fingerprint/simhash/nfc kernels appear once in their queries") {
    val fp = optimized(graft.textops.TextAnalysis.fingerprint(spark, sf))
    assert(count(fp, "graft.Kernels.fingerprint60(") === 1, s"\n$fp")
    val sh = optimized(graft.textops.Dedup.simhashFingerprints(spark, sf))
    assert(count(sh, "graft.Kernels.simhash60(") === 1, s"\n$sh")
    val fu = optimized(graft.textops.TextAnalysis.fixUnicode(spark, sf))
    assert(count(fu, "graft.Kernels.nfc_normalize(") === 1, s"\n$fu")
  }

  test("sharded packing exchanges on shard, never SinglePartition") {
    import org.apache.spark.sql.functions.col
    val df = graft.textops.Corpus.packSequencesBy(
      spark.read.parquet(s"$sf/documents.parquet"),
      graft.textops.Corpus.packShard(col("doc_id")))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("hashpartitioning(shard"), s"\n$phys")
    assert(!phys.contains("SinglePartition"), s"\n$phys")
  }

  test("corpus build: keyed exchanges only, dedup is a partial agg not a window") {
    val df = graft.textops.Corpus.buildCorpusCore(
      spark.read.parquet(s"$sf/documents.parquet"))
    val phys = df.queryExecution.executedPlan.toString
    // dedup = partial-aggregate (map-side combined, skew-bounded) + a
    // join-back on text_hash — NOT a row_number window whose per-key sort
    // a degenerate hash would pin. At test scale the keeper side is small
    // enough that Catalyst BROADCASTS it (zero probe-side exchange); at
    // deployment stats it becomes an AQE-skew-splittable SMJ with one
    // exchange per side. Both are the wanted shape; the window is not.
    assert(phys.contains("partial_min"), s"\n$phys")
    val joins = count(phys, "BroadcastHashJoin") + count(phys, "SortMergeJoin")
    assert(joins === 1, s"\n$phys")
    assert(count(phys, "hashpartitioning(text_hash") <= 2, s"\n$phys")
    assert(!phys.contains("row_number"), s"\n$phys")
    assert(count(phys, "hashpartitioning(shard") === 1, s"\n$phys")
    assert(!phys.contains("SinglePartition"), s"\n$phys")
    assert(!phys.contains("rangepartitioning"), s"\n$phys")
  }

  test("curated build: anti-join decontam, partial-agg dedup, keyed pack exchange") {
    val d = graft.textops.TextAnalysis.loadDocs(spark, sf)
    val contaminated = graft.textops.Decontam.contaminatedIds(spark, sf)
    // the query plan plus the builds of its tag and survivor checkpoints:
    // every pin below covers all three
    val (_, phys) = withBuilds(graft.textops.Corpus.curateCore(d, contaminated))
    // the expensive text pass (word split, kernels) lives ONLY inside
    // the checkpointed tag table: no Filter re-inlines the classifier
    // features through the word-array projection (the pushdown
    // re-evaluation trap — it costs ~6 split evals per row on the full
    // corpus), and every downstream consumer reads the tag table
    val filterLines = phys.linesIterator
      .filter(l => l.contains("Filter") || l.contains("Condition"))
      .mkString("\n")
    assert(!filterLines.contains("split("), s"\n$filterLines")
    // keepers + probe share the tag table
    assert(checkpointScans(phys, "score_u8") >= 2, s"\n$phys")
    // the rate aggregate and the sampling probe share the survivors
    assert(checkpointScans(phys, "mix_h") >= 2, s"\n$phys")
    // decontamination is an anti-join against the contaminated-id set,
    // never a per-row verdict column carried through the pipeline
    assert(phys.contains("LeftAnti"), s"\n$phys")
    // dedup keeper = map-side-combined min aggregate, not a window sort
    assert(phys.contains("partial_min"), s"\n$phys")
    assert(!phys.contains("row_number"), s"\n$phys")
    // packing exchanges on shard; the only single-partition funnel
    // allowed is the one-row totals aggregate over per-source rows
    // (bounded by #sources — metadata scale, not data scale), and the
    // training branch never range-sorts globally
    assert(count(phys, "hashpartitioning(shard") === 1, s"\n$phys")
    assert(count(phys, "SinglePartition") <= 1, s"\n$phys")
    assert(!phys.contains("rangepartitioning"), s"\n$phys")
  }

  test("c4 cleaning: one kernel evaluation, sort-only exchange") {
    val df = graft.textops.TextAnalysis.c4Clean(spark, sf)
    val plan = optimized(df)
    // round 6: the staged HOF chain (whose CollapseProject duplication
    // the old literal-count pin guarded) is one native c4_doc pass; the
    // struct alias must stay staged so the kernel evaluates ONCE per
    // row despite its four downstream field references
    assert(count(plan, "graft.Kernels.c4_doc(") === 1, s"\n$plan")
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("hashpartitioning"), s"\n$phys")
    assert(!phys.contains("SinglePartition"), s"\n$phys")
    assert(count(phys, "rangepartitioning") === 1, s"\n$phys")
  }

  test("paragraph dedup: keyed exchanges only, checkpointed paragraph table shared") {
    val (_, phys) = withBuilds(graft.textops.Dedup.dedupParagraphs(spark, sf))
    // fixed-width branches exchange on the paragraph hash (frequency +
    // keeper, two-phase distinct agg) and doc_id (drop-set roll-up); the
    // only range sort is the trailing oracle-shape orderBy; paragraph
    // arrays come from ONE checkpoint shared by all consumers
    assert(phys.contains("hashpartitioning(ph"), s"\n$phys")
    assert(phys.contains("hashpartitioning(doc_id"), s"\n$phys")
    assert(!phys.contains("SinglePartition"), s"\n$phys")
    assert(count(phys, "rangepartitioning") === 1, s"\n$phys")
    assert(checkpointScans(phys) >= 3, s"\n$phys")
  }

  test("clean pipeline: keyed exchanges only, checkpointed kept-line table shared") {
    val (_, phys) = withBuilds(graft.textops.TextAnalysis.cleanPipeline(spark, sf))
    assert(phys.contains("hashpartitioning(ph"), s"\n$phys")
    assert(phys.contains("hashpartitioning(doc_id"), s"\n$phys")
    assert(!phys.contains("SinglePartition"), s"\n$phys")
    assert(count(phys, "rangepartitioning") === 1, s"\n$phys")
    assert(checkpointScans(phys) >= 3, s"\n$phys")
  }

  test("lm score: hash-keyed exchanges only, one bounded scalar agg, no text in shuffles") {
    val df = graft.textops.LmScore.scoreCore(spark, sf,
      graft.textops.LmScore.gramCore(spark, sf))
    val phys = df.queryExecution.executedPlan.toString
    // count aggregates shuffle on the 60-bit gram hashes, never on text
    assert(count(phys, "hashpartitioning(bg_h") >= 1, s"\n$phys")
    assert(count(phys, "hashpartitioning(u_h") >= 1, s"\n$phys")
    assert(count(phys, "hashpartitioning(doc_id") >= 1, s"\n$phys")
    // exactly one SinglePartition: the broadcast 1-row vocabulary agg
    assert(count(phys, "SinglePartition") <= 1, s"\n$phys")
    assert(!phys.contains("rangepartitioning"), s"\n$phys")
    // document text must not ride any exchange: every shuffle output is
    // hashes/counts (the only text-bearing node is the scan projection)
    assertNoTextInShuffles(df, Set("text", "pr"))
  }

  test("ppl buckets: histogram cutoffs, lang-keyed window on the tiny hist only") {
    val df = graft.textops.LmScore.bucketsFrom(
      graft.textops.LmScore.scoreCore(spark, sf,
        graft.textops.LmScore.gramCore(spark, sf)))
    val phys = df.queryExecution.executedPlan.toString
    // the tertile window runs per-language over the AGGREGATED histogram
    assert(count(phys, "hashpartitioning(lang") >= 1, s"\n$phys")
    // the bounded 1-row vocab agg is the only SinglePartition source; this
    // plain-plan fixture embeds the score subplan twice (histogram path +
    // join-back), so it may appear at most twice — the driver query
    // checkpoints the score table, and the lm-score test above pins the
    // single-copy shape.
    // Doc-level data is never globally sorted except by the output orderBy.
    assert(count(phys, "SinglePartition") <= 2, s"\n$phys")
    assert(count(phys, "rangepartitioning") <= 1, s"\n$phys")
  }

  test("containment: gram-keyed pair join, id-keyed roll-up, no text in shuffles") {
    val (df, phys) = withBuilds(graft.textops.Dedup.containment(spark, sf))
    // doc frequency + the pair join are keyed on the 60-bit gram hash;
    // intersection sizes roll up on the id pair
    assert(count(phys, "hashpartitioning(g#") >= 1, s"\n$phys")
    assert(count(phys, "hashpartitioning(id_contained") >= 1, s"\n$phys")
    assert(count(phys, "SinglePartition") === 0, s"\n$phys")
    // only the output orderBy sorts globally; no cartesian anywhere
    assert(count(phys, "rangepartitioning") <= 1, s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assertNoTextInShuffles(df)
  }

  test("incremental dedup: hash-keyed signature join, no window, no text in shuffles") {
    val (df, phys) = withBuilds(graft.textops.Dedup.incremental(spark, sf))
    // the tagged (doc_id, text_hash, in_base) projection is checkpointed
    // once; base sigs, delta, and the keeper agg all read the checkpoint
    // — one scan, one text-hashing pass
    assert(checkpointScans(phys) >= 3, s"\n$phys")
    assert(count(phys, "hashpartitioning(text_hash") >= 1, s"\n$phys")
    assert(count(phys, "SinglePartition") === 0, s"\n$phys")
    assert(!phys.contains("Window"), s"\n$phys")
    assert(count(phys, "rangepartitioning") <= 1, s"\n$phys")
    assertNoTextInShuffles(df)
  }

  test("semdedup: checkpointed assign table shared, keyed join, no cartesian") {
    val (_, phys) = withBuilds(graft.textops.Ivf.semDedup(spark, sf))
    // the verdict join-back and the dropped-id set (whose quadratic pair
    // join — an equi-join on the cluster id, pinned by the dropped-table
    // test below — runs once per query) read the one checkpointed
    // assignment table
    assert(checkpointScans(phys) >= 2, s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assert(!phys.contains("BroadcastNestedLoopJoin"), s"\n$phys")
    assert(count(phys, "SinglePartition") === 0, s"\n$phys")
    assert(count(phys, "rangepartitioning") <= 1, s"\n$phys")
  }

  test("semdedup dropped set: cid-keyed pair join over the shared assign table") {
    val (_, phys) = withBuilds(
      graft.textops.Ivf.droppedIds(graft.textops.Ivf.assignTable(spark, sf)))
    // both pair sides read the checkpointed assignment table; pair
    // generation is an equi-join on the cluster id — never a product
    assert(checkpointScans(phys) >= 2, s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assert(!phys.contains("BroadcastNestedLoopJoin"), s"\n$phys")
    assert(count(phys, "SinglePartition") === 0, s"\n$phys")
  }

  test("tfidf: doc/word-keyed exchanges only, no text in shuffles") {
    val df = graft.textops.TextAnalysis.tfidfKeywords(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    // tf + the rank window key on doc_id, df + the tf<->df join on word;
    // the document text is consumed by the explode before any exchange;
    // the only SinglePartition is the bounded one-row N aggregate that
    // rides the broadcast vocabulary side (round 6: in-plan N replaced
    // the per-call eager count() job)
    assert(count(phys, "hashpartitioning(doc_id") >= 1, s"\n$phys")
    assert(count(phys, "hashpartitioning(word") >= 1, s"\n$phys")
    assert(count(phys, "SinglePartition") <= 1, s"\n$phys")
    assert(count(phys, "rangepartitioning") <= 1, s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assertNoTextInShuffles(df)
  }

  test("text_search: in-row tf counters, one-row broadcast stats, top-k") {
    val df = graft.textops.TextAnalysis.searchRank(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    assertTermCountsOncePerScan(df)
    // round-6 shape: per-doc tf counts compute in-row (no posting
    // explode), so NO keyed exchange exists at all — the only shuffle
    // is the bounded one-row stats aggregate, broadcast back over the
    // conjunction-filtered rows; the ranked head is a
    // TakeOrderedAndProject, never a global sort
    assert(phys.contains("TakeOrderedAndProject"), s"\n$phys")
    assert(count(phys, "hashpartitioning") === 0, s"\n$phys")
    assert(count(phys, "SinglePartition") <= 1, s"\n$phys")
    assert(count(phys, "rangepartitioning") === 0, s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assertNoTextInShuffles(df)
  }

  test("bm25 search: in-row tf+dl counters, one-row broadcast stats, top-k") {
    val df = graft.textops.TextAnalysis.bm25Search(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    assertTermCountsOncePerScan(df)
    // round-6 shape: tf_i and dl ride the same in-row projection, so
    // the round-5 postings<->lengths equi-join is gone along with every
    // keyed exchange; stats (N, sum dl, df_i) are one bounded one-row
    // aggregate broadcast in-plan; the ranked head stays a top-k
    assert(phys.contains("TakeOrderedAndProject"), s"\n$phys")
    assert(count(phys, "hashpartitioning") === 0, s"\n$phys")
    assert(count(phys, "SinglePartition") <= 1, s"\n$phys")
    assert(count(phys, "rangepartitioning") === 0, s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assertNoTextInShuffles(df)
  }

  test("embed_diversity: cid-keyed window over the shared assign table") {
    val (_, phys) = withBuilds(graft.textops.Ivf.d4Diversity(spark, sf))
    // the checkpointed assignment table feeds the anti-join and the
    // window; prototype ranking partitions on the cluster id, never
    // globally
    assert(checkpointScans(phys) >= 2, s"\n$phys")
    assert(count(phys, "hashpartitioning(cid") >= 1, s"\n$phys")
    assert(count(phys, "SinglePartition") === 0, s"\n$phys")
    assert(count(phys, "rangepartitioning") <= 1, s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assert(!phys.contains("BroadcastNestedLoopJoin"), s"\n$phys")
  }

  test("ensemble filter: shared tag table, keyed keeper agg, no window") {
    val (_, phys) = withBuilds(graft.textops.Corpus.filterEnsemble(spark, sf))
    // the fixed-width tag table is checkpointed once; keeper agg + probe
    // side both read it (rule/clf/hash signals = ONE text pass)
    assert(checkpointScans(phys, "gopher_keep") >= 2, s"\n$phys")
    assert(count(phys, "hashpartitioning(text_hash") >= 1, s"\n$phys")
    assert(!phys.contains("Window"), s"\n$phys")
    assert(!phys.contains("CartesianProduct"), s"\n$phys")
    assert(count(phys, "rangepartitioning") <= 1, s"\n$phys")
  }

  test("corpus stats: one scan, Expand before partial aggregate, keyed exchange") {
    val df = graft.textops.Corpus.stats(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    // CUBE = Expand (4 grouping sets) feeding a PARTIAL HashAggregate
    // below the exchange — map-side combine bounds the shuffle by
    // |langs|*|sources|, not the corpus
    assert(phys.contains("Expand"), s"\n$phys")
    assert(count(phys, "partial_count") >= 1, s"\n$phys")
    assert(count(phys, "hashpartitioning(lang") >= 1, s"\n$phys")
    assert(count(phys, "SinglePartition") === 0, s"\n$phys")
    assert(count(phys, "FileScan") === 1, s"\n$phys")
  }

  test("dsir: bucket-keyed aggregates, broadcast lambda table, one scalar agg") {
    val df = graft.textops.Dsir.selectFrom(spark, sf,
      graft.textops.Dsir.featureCore(spark, sf))
    val phys = df.queryExecution.executedPlan.toString
    assert(count(phys, "hashpartitioning(b#") >= 1, s"\n$phys")
    assert(count(phys, "hashpartitioning(doc_id") >= 1, s"\n$phys")
    // the 64-row lambda table joins back as a BROADCAST, never a shuffle
    assert(phys.contains("BroadcastHashJoin"), s"\n$phys")
    assert(count(phys, "SinglePartition") <= 1, s"\n$phys")
  }

  // Every driver query pays its own way: a table it reads from several
  // branches is checkpointed by that query and never cached across
  // calls, so no call leaves a cache-manager entry behind and a second
  // call does the same work as the first. A checkpoint's blocks are not a
  // cache-manager entry: these tests do not pin when they are freed
  // (DedupClustersSpec pins it for the connected-components rounds).

  /** Evaluate every output column of every row (the `graft.Bench` force). */
  private def force(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, max, struct, xxhash64}
    df.select(max(xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*)))).collect()
  }

  /** Spark jobs started while `body` runs, counted after the bus drains. */
  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** The driver queries of `graft.textops` (curation, dedup, similarity,
    * text scoring).
    */
  private val textops = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
    Seq("dedup_", "sim_", "embed_", "text_", "corpus_").exists(name.startsWith)
  }

  test("no textops driver query leaves a cache entry behind") {
    spark.catalog.clearCache()
    assert(textops.size >= 40)
    textops.foreach { case (name, q) =>
      force(q(spark, sf))
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
    }
  }

  test("a second call runs as many Spark jobs as the first") {
    Seq("corpus_decontam", "dedup_semantic").foreach { name =>
      val q = SparkEntry.queries(name)
      val first = jobs(force(q(spark, sf)))
      val second = jobs(force(q(spark, sf)))
      assert(second === first, s"$name: $first jobs cold, $second on the second call")
    }
  }

  test("kernel queries carry no interpreted (CodegenFallback) expression") {
    import graft.textops.{Dedup, TextAnalysis}
    val registry = spark.range(1).select(Kernels.all.map(k =>
      k(GraftExtensionsSpec.args(k, GraftExtensionsSpec.empty): _*)): _*)
    for ((q, df) <- Seq(
        "registry" -> registry,
        "repetition" -> TextAnalysis.repetition(spark, sf),
        "fingerprint" -> TextAnalysis.fingerprint(spark, sf),
        "simhash" -> Dedup.simhashFingerprints(spark, sf),
        "fix_unicode" -> TextAnalysis.fixUnicode(spark, sf),
        "c4_clean" -> TextAnalysis.c4Clean(spark, sf)))
      assert(fallbacks(df).isEmpty, s"$q: ${fallbacks(df)}")
  }

  test("flagship extraction plan has no shuffle and a pruned scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-planshape").toString
    graft.synth.SpanSynth.docsInput(spark, sf).write.mode("overwrite")
      .parquet(s"$tmp/spans")
    val df = graft.extract.Extractor.extract(spark.read.parquet(s"$tmp/spans"))
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"\n$phys")
    assert(count(phys, "graft.Kernels.extract_spans(") === 1, s"\n$phys")
    assert(fallbacks(df).isEmpty, s"\n$phys")
  }
}
