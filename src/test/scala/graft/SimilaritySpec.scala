package graft

import graft.textops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shape + recall pins for the random-hyperplane LSH similarity ops
  * (value-exactness vs DuckDB is the driver oracle gate's job).
  */
class SimilaritySpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("plane pool is frozen, in [-1,1), and dimension-complete") {
    assert(Similarity.PlanePool.size === Similarity.PoolSize)
    assert(Similarity.PlanePool.forall(_.size === Similarity.Dim))
    assert(Similarity.PlanePool.flatten.forall(x => x >= -1.0 && x < 1.0))
    // frozen: first component pinned to its known value (md5("rh-0-0")
    // first-8-hex / 2^31 - 1) so an accidental reseed fails loudly
    assert(Similarity.PlanePool(0)(0) === -0.638358183670789)
    assert(Similarity.duckPlanes(1).startsWith("[["))
  }

  test("planted corpus adds one near-dup per PlantEvery-th vector") {
    val base = Similarity.loadEmb(spark, sfDir).count()
    val corpus = Similarity.plantedCorpus(spark, sfDir)
    val planted = corpus.where(col("vec_id") >= Similarity.PlantIdOffset)
    assert(corpus.count() === base + planted.count())
    assert(planted.count() === (0L until base).count(_ % Similarity.PlantEvery == 0))
  }

  test("table signatures stay within their bit budget") {
    val emb = Similarity.loadEmb(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("e")).limit(50)
    val sigs = emb.select(
      Similarity.tableSignature(col("e"), 0, Similarity.NearDupBits).as("s16"),
      Similarity.tableSignature(col("e"), 0, Similarity.TopKBits).as("s8"))
      .collect()
    assert(sigs.forall(r => r.getLong(0) >= 0 && r.getLong(0) < (1L << Similarity.NearDupBits)))
    assert(sigs.forall(r => r.getLong(1) >= 0 && r.getLong(1) < (1L << Similarity.TopKBits)))
  }

  test("native rh_signatures == columnar tableSignature (both configs)") {
    val emb = Similarity.plantedCorpus(spark, sfDir).limit(80).cache()
    for ((t, b) <- Seq((Similarity.NearDupTables, Similarity.NearDupBits),
        (Similarity.TopKTables, Similarity.TopKBits))) {
      val native = emb.select(Similarity.rhSignatures(col("e"), t, b))
        .collect().map(_.getSeq[Long](0))
      val columnar = emb.select(array((0 until t).map(i =>
        Similarity.tableSignature(col("e"), i, b)): _*))
        .collect().map(_.getSeq[Long](0))
      assert(native.toSeq === columnar.toSeq, s"tables=$t bits=$b")
    }
    emb.unpersist()
  }

  test("native dot_fold == columnar left-fold on real embeddings") {
    val emb = Similarity.loadEmb(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.where(col("vec_id") === 0L)
      .select(col("e").as("qv"))
    val rows = emb.crossJoin(broadcast(q))
      .select(Similarity.dot(col("e"), col("qv")).as("native"),
        Similarity.dotColumnar(col("e"), col("qv")).as("columnar"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // unequal lengths and null elements fold to null, empty vectors to 0
    val edge = spark.sql(
      "SELECT array(1D, 2D) AS e, array(3D) AS qv UNION ALL " +
        "SELECT array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D) UNION ALL " +
        "SELECT CAST(array() AS array<double>), CAST(array() AS array<double>)")
      .select(Similarity.dot(col("e"), col("qv")), Similarity.dotColumnar(col("e"), col("qv")))
      .collect()
    assert(edge.map(r => Option(r.get(0))).toSeq === Seq(None, None, Some(0.0)))
    edge.foreach(r => assert(r.get(0) === r.get(1)))
  }

  test("near-dup finds nearly all planted pairs at high similarity") {
    val out = Similarity.embeddingNearDup(spark, sfDir).collect()
    val plantedFound = out.count { r =>
      r.getLong(1) == r.getLong(0) + Similarity.PlantIdOffset
    }
    val plantedTotal = Similarity.loadEmb(spark, sfDir)
      .where(col("vec_id") % Similarity.PlantEvery === 0).count()
    // 4 tables x 16 bits at cos~0.999 => expected recall ~0.97
    assert(plantedFound >= (plantedTotal * 0.9).toInt,
      s"found $plantedFound of $plantedTotal planted pairs")
    assert(out.forall(_.getDouble(2) >= Similarity.NearDupCosine))
  }

  test("multi-probe top-k is a valid ranked subset containing brute top-1") {
    val brute = Similarity.bruteForceTopK(spark, sfDir).collect()
    val lsh = Similarity.lshTopK(spark, sfDir).collect()
    assert(lsh.length <= Similarity.TopK && lsh.nonEmpty)
    val sims = lsh.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted.reverse)
    // frozen data + frozen planes: the probe finds the true nearest
    assert(lsh.head.getLong(0) === brute.head.getLong(0))
  }

  test("IVF codebook is frozen; native ivf_assign == columnar argmin") {
    import graft.textops.Ivf
    assert(Ivf.Centroids.size === Ivf.NumLists)
    assert(Ivf.Centroids.forall(_.size === Ivf.Dim))
    assert(Ivf.Centroids.flatten.forall(x => x >= -1.0 && x < 1.0))
    val emb = Similarity.loadEmb(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .cache()
    val native = emb.select(col("vec_id"), Ivf.ivfAssign(col("e")))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val columnar = emb.select(col("vec_id"), Ivf.assignColumnar(col("e")))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(native.sortBy(_._1).toSeq === columnar.sortBy(_._1).toSeq)
    // every list id in range, assignment covers multiple lists
    assert(native.forall { case (_, l) => l >= 0 && l < Ivf.NumLists })
    assert(native.map(_._2).distinct.length > 1)
    emb.unpersist()
  }

  test("IVF top-k is a valid ranked subset; probes bound the candidate fraction") {
    import graft.textops.Ivf
    val ivf = Ivf.topK(spark, sfDir).collect()
    assert(ivf.nonEmpty && ivf.length <= Ivf.TopK)
    val sims = ivf.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted.reverse)
    // brute-force agreement on the TRUE nearest is data-dependent at
    // NProbe < NumLists; what IVF guarantees is that every returned
    // candidate lives in a list the query probed — under the TRAINED
    // codebook the query ran with
    val cb = Ivf.trainedCentroids(spark, sfDir)
    val probed = Ivf.nearestLists(cb,
      Similarity.loadEmb(spark, sfDir)
        .where(col("vec_id") === Ivf.QueryVecId)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray, Ivf.NProbe).toSet
    val emb = Similarity.loadEmb(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val listOf = emb.select(col("vec_id"), Ivf.ivfAssign(col("e"), cb))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    ivf.foreach(r => assert(probed.contains(listOf(r.getLong(0)))))
  }

  test("IVF training tightens the codebook: mean in-list distance shrinks") {
    import graft.textops.Ivf
    val emb = Similarity.loadEmb(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("e"))
      .collect().map(_.getSeq[Double](0).toArray)
    val cb = Ivf.trainedCentroids(spark, sfDir)
    assert(cb !== Ivf.Centroids) // training moved at least one centroid
    def cost(c: IndexedSeq[IndexedSeq[Double]]): Double =
      emb.map(v => c.map(ct => Ivf.distSq(v, ct)).min).sum / emb.length
    // one k-means pass can only lower the quantization objective on the
    // sample; on the full corpus it must at least not get dramatically
    // worse — assert the trained book is strictly better here
    assert(cost(cb) < cost(Ivf.Centroids),
      s"trained=${cost(cb)} seed=${cost(Ivf.Centroids)}")
  }
}
