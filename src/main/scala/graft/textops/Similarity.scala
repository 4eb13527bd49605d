package graft.textops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (`array<float>`, dim 64):
  * brute-force cosine top-k as the exact baseline, and seeded
  * random-hyperplane sign-LSH as the scale path.
  *
  * LSH layout (the scale-safe shape, same banded layout as MinHash):
  *  - a frozen pool of [[PoolSize]] random hyperplanes, components derived
  *    from the portable md5 hash ([[PortableHash]]) so the DuckDB oracle
  *    embeds the identical literals — no RNG, reproducible everywhere;
  *  - per vector, per table t: a B-bit signature (bit j = sign of the dot
  *    product against pool plane t*B+j). Bucket count per table is 2^B —
  *    65k at B=16 — so bucket occupancy FALLS as the corpus grows spread
  *    over more buckets; nothing degenerates to an all-pairs join (the
  *    round-1 shape, 16 fixed buckets = ~N²/16 pairs, is exactly what this
  *    replaces);
  *  - multi-table OR-probing for recall: candidates collide in ANY of the
  *    T tables. For top-k probing, Hamming<=1 multi-probe (Lv et al.,
  *    VLDB'07) adds the B one-bit-flip buckets per table: probe cost is
  *    T*(B+1)/2^B of the corpus — exponentially shrinking in B, so at a
  *    larger corpus B grows with log N and the scanned fraction stays tiny.
  *  - per-vector norms are projected ONCE before any pair join; each
  *    candidate pair costs one dot product, not three.
  *
  * The test corpus has no true near-duplicates (max pairwise cosine ~0.51),
  * so near-dup PLANTS deterministic duplicates derived from the corpus
  * itself: every [[PlantEvery]]-th vector re-appears (id + [[PlantIdOffset]])
  * with each coordinate scaled by a hash-seeded factor in [0.95, 1.05] —
  * cosine vs the source ~0.999. No external data; the DuckDB oracle
  * reproduces the same construction.
  */
object Similarity {

  val QueryVecId = 0L
  val TopK = 10
  val Dim = 64

  /** Near-dup: 4 tables x 16 bits (65,536 buckets per table). */
  val NearDupTables = 4
  val NearDupBits = 16

  /** Top-k probe: 4 tables x 8 bits + Hamming<=1 multi-probe. Bits are
    * deliberately lower than near-dup's: the probe must surface enough
    * candidates for a meaningful top-k at the sandbox corpus size (N=500);
    * at deployment B scales with log2(N / targetBucketSize).
    */
  val TopKTables = 4
  val TopKBits = 8

  /** Exact-cosine verification threshold for near-dup pairs (the planted
    * duplicates sit at ~0.999; the corpus's natural max is ~0.51).
    */
  val NearDupCosine = 0.9

  /** Every PlantEvery-th vector gets a planted near-duplicate. */
  val PlantEvery = 10L
  val PlantIdOffset = 1000000L

  /** Frozen hyperplane pool: component i of plane p is
    * `hexint32("rh-$p-$i") / 2^31 - 1.0` — uniform in [-1, 1), exactly
    * representable (integer / power of two), identical literal in DuckDB.
    */
  val PoolSize = 64
  val PlanePool: IndexedSeq[IndexedSeq[Double]] =
    (0 until PoolSize).map { p =>
      (0 until Dim).map(i =>
        PortableHash.hexint32(s"rh-$p-$i").toDouble / 2147483648.0 - 1.0)
    }

  /** DuckDB literal for the first n pool planes: [[...], [...], ...]. */
  def duckPlanes(n: Int): String =
    PlanePool.take(n)
      .map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n    ", "]")

  def loadEmb(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def dbl(c: Column): Column = c.cast("array<double>")

  /** Left-fold dot product — matches DuckDB's
    * `list_sum(list_transform(range(n), i -> a[i+1]*b[i+1]))`. Shared
    * with [[Ivf]] (one definition, one fold order). Round 6: native
    * kernel (the HOF form allocated a zipped array and folded it
    * interpreted, per scored row); [[dotColumnar]] remains as the
    * parity reference (SimilaritySpec pins kernel == columnar).
    */
  private[graft] def dot(a: Column, b: Column): Column = graft.Kernels.DotFold(a, b)

  /** Column-op reference twin of [[dot]] (identical fold order). */
  private[graft] def dotColumnar(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Scala twin of [[dot]]: sequential left-to-right multiply-add from
    * 0.0 — the same IEEE operation order as the HOF fold and DuckDB's
    * list_sum(list_transform(...)).
    */
  private[graft] def dotScala(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** B-bit sign signature of `emb` for LSH table `t` over the plane pool —
    * column-op reference implementation (what the DuckDB oracle mirrors;
    * parity-pinned against the native kernel in SimilaritySpec).
    */
  def tableSignature(emb: Column, t: Int, bits: Int): Column =
    (0 until bits).map { j =>
      // dotColumnar, deliberately: this is the pure column-op reference
      // the parity spec compares the native kernels against
      when(dotColumnar(emb, typedLit(PlanePool(t * bits + j))) > 0.0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Scala twin: all `tables` signatures in one pass. Dot products fold
    * left-to-right from 0.0, bit-identical with the column/DuckDB forms.
    */
  def signaturesScala(v: Array[Double], tables: Int, bits: Int): Array[Long] = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var j = 0
      while (j < bits) {
        val plane = PlanePool(t * bits + j)
        var d = 0.0
        var i = 0
        while (i < Dim) { d += v(i) * plane(i); i += 1 }
        if (d > 0.0) sig |= 1L << j
        j += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }

  /** `rh_signatures(e)` as a Column — native single-pass signature kernel
    * (the column-op form evaluates tables*bits interpreted HOF folds/row).
    */
  def rhSignatures(e: Column, tables: Int, bits: Int): Column =
    graft.Kernels.RhSignatures(e, lit(tables), lit(bits))

  /** (vec_id, e, nrm[, label]) with the norm projected once. */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("e"), col("e"))))

  /** Corpus plus planted near-duplicates (deterministic augmentation —
    * see object scaladoc). Column `e` is double-cast.
    */
  def plantedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = loadEmb(spark, sfDir).select(col("vec_id"), dbl(col("embedding")).as("e"))
    val src = base.where(col("vec_id") % PlantEvery === 0)
    val planted = src.select(
      (src("vec_id") + PlantIdOffset).as("vec_id"),
      transform(src("e"), (x, i) => x * (lit(1.0) +
        (PortableHash.hexint32(concat(lit("pert-"), src("vec_id").cast("string"),
          lit("-"), i.cast("string"))) % 101 - 50).cast("double") / 1000.0)).as("e"))
    base.unionByName(planted)
  }

  /** Brute-force cosine top-k vs the query vector (vec_id = QueryVecId).
    * The query row broadcasts; the scan stays partition-parallel and the
    * global top-k is a TakeOrderedAndProject — no full sort. Norms are
    * projected before the join (one dot per row scored).
    */
  def bruteForceTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = withNorm(loadEmb(spark, sfDir)
      .select(col("vec_id"), col("label"), dbl(col("embedding")).as("e")))
    val q = emb.where(col("vec_id") === QueryVecId)
      .select(col("e").as("qv"), col("nrm").as("qnrm"))
    emb.where(col("vec_id") =!= QueryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dot(col("e"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(TopK)
  }

  /** LSH top-k with Hamming<=1 multi-probe: per table, the query probes its
    * own bucket plus every one-bit-flip bucket; candidates from any table
    * union, dedupe, then exact-cosine rank. At scale `buckets` is a
    * materialized signature index partitioned by (tbl, bucket); the probe
    * prunes to T*(B+1) buckets of it.
    */
  def lshTopK(spark: SparkSession, sfDir: String): DataFrame = {
    // checkpointed: the bucket explode (query probes and candidates), the
    // query row and the candidate join-back all read it
    val vecs = withNorm(loadEmb(spark, sfDir)
      .select(col("vec_id"), col("label"), dbl(col("embedding")).as("e")))
      .localCheckpoint(eager = false)
    val buckets = vecs.select(col("vec_id"),
      posexplode(rhSignatures(col("e"), TopKTables, TopKBits))
        .as(Seq("tbl", "bucket")))
    val qprobes = buckets.where(col("vec_id") === QueryVecId)
      .select(col("tbl"), explode(array(
        (0 until TopKBits).map(j => col("bucket").bitwiseXOR(lit(1L << j))) :+
          col("bucket"): _*)).as("bucket"))
    val candIds = buckets.where(col("vec_id") =!= QueryVecId)
      .join(broadcast(qprobes), Seq("tbl", "bucket"))
      .select("vec_id").distinct()
    val q = vecs.where(col("vec_id") === QueryVecId)
      .select(col("e").as("qv"), col("nrm").as("qnrm"))
    candIds.join(vecs, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dot(col("e"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(TopK)
  }

  /** Embedding-cosine near-dup over the planted corpus: the 4x16-bit
    * signatures become `(tbl, bucket)` keys for [[Dedup.nearPairs]], then
    * one exact cosine per candidate pair with the norms precomputed in
    * the vector table, which is checkpointed: both blocking sides and
    * both payload join-backs read it.
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = withNorm(plantedCorpus(spark, sfDir)).localCheckpoint(eager = false)
    val keyed = vecs.select(col("vec_id").as("id"),
      transform(rhSignatures(col("e"), NearDupTables, NearDupBits),
        (sig, t) => struct(t.as("tbl"), sig.as("bucket"))).as("keys"),
      col("e"), col("nrm"))
    Dedup.nearPairs(keyed, "sim",
      round(dot(col("e_a"), col("e_b")) / (col("nrm_a") * col("nrm_b")), 6),
      col("sim") >= NearDupCosine)
  }
}
