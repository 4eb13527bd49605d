package graft.textops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.nearPairs]] against the naive blocking it replaces (explode,
  * self-join on the key, `distinct`), over random keyed tables with the
  * fixed-seed harness of KernelPropsSpec: docs sharing several keys, one
  * key shared by many docs, empty and null key arrays, null keys, and
  * keys repeated within a doc. Odd cases run with broadcast joins off, so
  * both the broadcast and the sort-merge join paths are covered.
  */
class NearPairsSpec extends AnyFunSuite with SparkSpec {

  private val KeyType = StructType(Seq(
    StructField("band", IntegerType), StructField("key", StringType)))
  private val Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("keys", ArrayType(KeyType, containsNull = true)),
    StructField("v", LongType, nullable = false)))

  // a small universe so docs share several keys; "hot" is held by many
  private val key: Gen[Row] = Gen.frequency(
    6 -> Gen.zip(Gen.choose(0, 2), Gen.oneOf("a", "b", "c", "d")).map { case (b, k) => Row(b, k) },
    2 -> Gen.const(Row(0, "hot")),
    1 -> Gen.const(null),
    1 -> Gen.choose(0, 2).map(b => Row(b, null)))
  private val keys: Gen[Seq[Row]] = Gen.frequency(
    6 -> Gen.choose(0, 5).flatMap(Gen.listOfN(_, key)),
    1 -> Gen.const(Seq.empty[Row]),
    1 -> Gen.const(null))
  private val table: Gen[Seq[(Long, Seq[Row], Long)]] = for {
    n <- Gen.choose(0, 14)
    ids <- Gen.pick(n, -20L to 40L)
    ks <- Gen.listOfN(n, keys)
    vs <- Gen.listOfN(n, Gen.choose(0L, 99L))
  } yield ids.toList.zip(ks).zip(vs).map { case ((id, k), v) => (id, k, v) }

  private def naive(keyed: DataFrame): Set[(Long, Long)] = {
    val ex = keyed.select(col("id"), explode(col("keys")).as("k"))
    ex.as("a").join(ex.as("b"), col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("nearPairs == naive self-join + distinct, each pair exactly once, verified and kept") {
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    (0 until 24).foreach { i =>
      val rows = table.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val session: SparkSession = if (i % 2 == 0) spark else noBroadcast
      val keyed = session.createDataFrame(
        session.sparkContext.parallelize(rows.map { case (id, k, v) => Row(id, k, v) }, 3), Schema)
      val v = rows.map(r => r._1 -> r._3).toMap
      val out = Dedup.nearPairs(keyed, "s", col("v_a") * 1000 + col("v_b"),
          col("s") % 3 =!= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val expect = naive(keyed).filter { case (a, b) => (v(a) * 1000 + v(b)) % 3 != 0 }
      val pairs = out.map(r => (r._1, r._2))
      assert(pairs.distinct.length === pairs.length, s"case $i: a pair came out twice")
      assert(pairs.toSet === expect, s"case $i: $rows")
      assert(pairs === pairs.sorted, s"case $i: not ordered by (id_a, id_b)")
      out.foreach { case (a, b, s) => assert(s === v(a) * 1000 + v(b), s"case $i") }
    }
  }
}
