package graft

import graft.textops.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Connected-component invariants of the near-dup clustering (the DuckDB
  * recursive-CTE oracle is the value gate; these pin the graph semantics
  * the label-propagation loop must satisfy at any scale).
  */
class DedupClustersSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("labels are a valid connected-component labeling of the pair graph") {
    val pairs = Dedup.minhashLsh(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val rows = Dedup.nearDupClusters(spark, sf).collect()
    val label = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap

    // every pair endpoint is labeled, and both ends share a label
    pairs.foreach { case (a, b) =>
      assert(label.contains(a) && label.contains(b))
      assert(label(a) === label(b), s"pair ($a,$b) split across clusters")
    }
    // exactly the pair endpoints are labeled (no phantom nodes)
    assert(label.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)

    // the label IS the component minimum, and the keeper is that minimum
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, rs) =>
      assert(rs.map(_.getAs[Long]("doc_id")).min === cid)
      val keepers = rs.filter(_.getAs[Boolean]("is_keeper"))
      assert(keepers.map(_.getAs[Long]("doc_id")).toSeq === Seq(cid))
    }
    // the labeling is not coarser than the graph: docs in one cluster are
    // actually connected (BFS over the pair edges)
    val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    byCluster.values.foreach { rs =>
      val members = rs.map(_.getAs[Long]("doc_id")).toSet
      val seen = scala.collection.mutable.Set(members.min)
      val queue = scala.collection.mutable.Queue(members.min)
      while (queue.nonEmpty) {
        val n = queue.dequeue()
        adj.getOrElse(n, Set.empty).filter(members).foreach { m =>
          if (seen.add(m)) queue.enqueue(m)
        }
      }
      assert(seen === members, "cluster members not mutually reachable")
    }
  }

  test("a 200-node chain graph converges (pointer jumping, O(log n) rounds)") {
    // the pathological duplicate-graph shape (template spam): plain
    // min-label propagation needs diameter rounds (199 here) and would
    // abort on the 50-round guard; the jump step must converge in ~log2 n
    import spark.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain)
    val rows = labels.collect()
    assert(rows.length === 200)
    assert(rows.forall(_.getAs[Long]("label") === 0L), "chain must collapse to min id 0")
    labels.unpersist()

    // two disjoint chains + a triangle keep distinct component minima
    val multi = ((100L until 149L).map(i => (i, i + 1)) ++
      (500L until 549L).map(i => (i, i + 1)) ++
      Seq((900L, 901L), (901L, 902L), (900L, 902L))).toDF("id_a", "id_b")
    val ml = Dedup.connectedComponents(multi)
    val byLabel = ml.collect().groupBy(_.getAs[Long]("label"))
      .view.mapValues(_.map(_.getAs[Long]("node")).sorted.toSeq).toMap
    assert(byLabel.keySet === Set(100L, 500L, 900L))
    assert(byLabel(100L) === (100L to 149L))
    assert(byLabel(500L) === (500L to 549L))
    assert(byLabel(900L) === Seq(900L, 901L, 902L))
    ml.unpersist()
  }

  test("connected components leaves only the returned round's blocks") {
    // the edges and every superseded round are unpersisted as the run
    // goes: of the RDDs it persists, only the returned labeling's stays
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = Dedup.connectedComponents(chain)
    assert(labels.where($"label" === 0L).count() === 64)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.size === 1, s"RDDs left persisted: $left")
  }

  test("a transitive chain merges into one cluster (a-b, b-c => {a,b,c})") {
    // found in the sf0.01 data: 47 labeled docs from 25 pairs means at
    // least one component has >2 members — check one explicitly
    val rows = Dedup.nearDupClusters(spark, sf).collect()
    val sizes = rows.groupBy(_.getAs[Long]("cluster_id")).values.map(_.length)
    // >= 3 is the actual transitivity pin: every cluster trivially has >= 2
    // members (all nodes come from pairs), but a 3+ cluster only exists if
    // a-b and b-c merged (sf0.01 contains exactly one size-3 component)
    assert(sizes.exists(_ >= 3))
    assert(rows.count(_.getAs[Boolean]("is_keeper")) ===
      rows.map(_.getAs[Long]("cluster_id")).distinct.length)
  }
}
