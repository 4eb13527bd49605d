package graft

import graft.textops.{Ivf, Jaccard, LmScore, PortableHash, SimHash, Similarity, TextAnalysis}
import graft.streaming.ScoreStream
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants of the round-3 native kernels (same bare-
  * ScalaCheck fixed-seed harness as ExtractPropsSpec). These check
  * MATHEMATICAL properties against independent formulations — not the
  * kernel against its own column twin (that parity lives in
  * PortableHashSpec / SimilaritySpec). The plan-lookup kernels' receivers
  * hold their tables in a broadcast, so those properties need a SparkSession.
  */
class KernelPropsSpec extends AnyFunSuite with SparkSpec {

  private def cases[A](g: Gen[A], n: Int = 300)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      check(g.pureApply(Gen.Parameters.default.withSize(1 + i % 40), Seed(i.toLong)))
    }

  private val shingle = Gen.oneOf("a b c", "b c d", "c d e", "x y z", "q w e",
    "uno dos tres", "fi fl ff", "", " ")
  private val arr: Gen[Array[UTF8String]] =
    Gen.listOf(shingle).map(_.distinct.map(UTF8String.fromString).toArray)

  test("jaccardScala == set-based reference, symmetric, bounded") {
    cases(Gen.zip(arr, arr)) { case (a, b) =>
      val sa = a.map(_.toString).toSet
      val sb = b.map(_.toString).toSet
      val j = Jaccard.jaccardScala(a, b)
      if (sa.isEmpty && sb.isEmpty) assert(j.isNaN)
      else {
        val expect = BigDecimal(
          sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(j === expect)
        assert(j >= 0.0 && j <= 1.0)
        assert(j === Jaccard.jaccardScala(b, a))
      }
      if (sa.nonEmpty) assert(Jaccard.jaccardScala(a, a) === 1.0)
    }
  }

  private val vec: Gen[Array[Double]] =
    Gen.listOfN(Ivf.Dim, Gen.chooseNum(-1000, 1000))
      .map(_.map(_ / 1000.0).toArray)

  test("ivf assignScala is the true argmin with lowest-index tie-break") {
    cases(vec) { v =>
      val c = Ivf.assignScala(v)
      assert(c >= 0 && c < Ivf.NumLists)
      val dc = Ivf.distSq(v, Ivf.Centroids(c))
      Ivf.Centroids.indices.foreach { o =>
        val d = Ivf.distSq(v, Ivf.Centroids(o))
        assert(d >= dc, s"centroid $o closer than assigned $c")
        if (o < c) assert(d > dc, s"tie not broken toward lower index $o")
      }
    }
  }

  test("nearestLists is a distinct (dist, idx)-sorted prefix whose head is the assignment") {
    cases(vec) { v =>
      val n = Ivf.NProbe
      val lists = Ivf.nearestLists(v, n)
      assert(lists.length === n)
      assert(lists.distinct.length === n)
      assert(lists.head === Ivf.assignScala(v))
      val key = lists.map(c => (Ivf.distSq(v, Ivf.Centroids(c)), c))
      assert(key === key.sorted)
      // nothing outside the prefix beats anything inside it
      val worstIn = key.last
      Ivf.Centroids.indices.filterNot(lists.contains).foreach { o =>
        assert(Ordering[(Double, Int)].gt((Ivf.distSq(v, Ivf.Centroids(o)), o), worstIn))
      }
    }
  }

  /** A vector of random length around `Dim`, some elements null. */
  private val ragged: Gen[Array[Any]] = for {
    n <- Gen.frequency(3 -> Gen.const(Similarity.Dim), 1 -> Gen.choose(0, Similarity.Dim + 2))
    xs <- Gen.listOfN(n, Gen.frequency(
      9 -> Gen.chooseNum(-1000, 1000).map(x => (x / 1000.0): Any), 1 -> Gen.const(null)))
  } yield xs.toArray

  private def doubles(a: Array[Any]): Option[Array[Double]] =
    if (a.contains(null)) None else Some(a.map(_.asInstanceOf[Double]))

  test("dot_fold is total: the left fold, or null on unequal lengths or a null element") {
    cases(Gen.zip(ragged, Gen.oneOf(true, false), ragged)) { case (a, same, b0) =>
      val b = if (same) a.map(x => if (x == null) null else (x.asInstanceOf[Double] * 0.5): Any) else b0
      val got = Kernels.dot_fold(new GenericArrayData(a), new GenericArrayData(b))
      (doubles(a), doubles(b)) match {
        case (Some(x), Some(y)) if x.length == y.length =>
          assert(got === Similarity.dotScala(x, y))
        case _ => assert(got === null)
      }
    }
  }

  test("rh_signatures is total: the signatures, or all zeros off Dim or on a null element") {
    val kernel = Kernels.BoundRhSignatures(Similarity.NearDupTables, Similarity.NearDupBits)
    cases(ragged) { v =>
      val got = kernel.rh_signatures(new GenericArrayData(v)).toLongArray()
      val expect = doubles(v).filter(_.length == Similarity.Dim)
        .map(Similarity.signaturesScala(_, Similarity.NearDupTables, Similarity.NearDupBits))
        .getOrElse(new Array[Long](Similarity.NearDupTables))
      assert(got.toSeq === expect.toSeq)
    }
  }

  test("simhash60 is total on empty, blank and lone-surrogate text, == SimHash.simhash") {
    val odd = Gen.oneOf("", " ", "   ", "\t", " \n ", "\ud800", "a \udc00 b", "\udbff\u00e9 ", "x\ud83d")
    val word = Gen.oneOf(odd, Gen.alphaStr, Gen.const("ﬁ"))
    cases(Gen.listOf(word).map(_.mkString(" "))) { text =>
      val got = Kernels.simhash60(UTF8String.fromString(text))
      assert(got === SimHash.simhash(text))
      assert(got >= 0L && got < (1L << SimHash.Bits))
    }
  }

  test("gram_hashes60 and fingerprint60 are total, and the fingerprint is the min gram") {
    val odd = Gen.oneOf("", " ", "  ", "\t", "\u0000", "a\u0000b", "\ud800", "x \udc00",
      "\udbff\u00e9", "ﬁ")
    val word = Gen.frequency(3 -> Gen.alphaStr, 2 -> odd)
    // runs of spaces come from empty words; every 40th case is a long text
    val text = Gen.oneOf(
      Gen.listOf(word).map(_.mkString(" ")),
      Gen.listOfN(3, word).map(_.mkString("   ")),
      Gen.const(""), Gen.const("     "))
    val long = Gen.listOfN(4000, Gen.alphaStr.map(_.take(8))).map(_.mkString(" "))
    (0 until 300).foreach { i =>
      val g = if (i % 40 == 39) long else text
      val t = g.pureApply(Gen.Parameters.default.withSize(1 + i % 40), Seed(i.toLong))
      val u = UTF8String.fromString(t)
      val grams = Kernels.gram_hashes60(u).toLongArray()
      val fp = Kernels.fingerprint60(u)
      // the kernels read the UTF-8 round trip of `t` (a lone surrogate
      // becomes '?'; word boundaries are unchanged)
      val s = u.toString
      assert(fp === grams.min)
      assert(grams.length === math.max(1, s.split(" ", -1).length - 4))
      assert(TextAnalysis.fingerprintScala(t) === TextAnalysis.gramHashesScala(t).min)
      assert(TextAnalysis.gramHashesScala(t).length === math.max(1, t.split(" ", -1).length - 4))
    }
  }

  /** Sorted distinct keys drawn from a small range, so lookups hit and miss. */
  private val keys: Gen[Array[Long]] = Gen.listOf(Gen.choose(0L, 60L)).map(_.distinct.sorted.toArray)

  private def plan(keys: Array[Long], values: Array[Long]) =
    spark.sparkContext.broadcast(new Kernels.PlanTable(keys, values))

  test("gram_member is Set.contains over the plan's keys; a null gram is no member") {
    val grams = Gen.listOf(Gen.frequency(9 -> Gen.choose(-5L, 65L).map(x => x: Any),
      1 -> Gen.const(null)))
    cases(Gen.zip(keys, grams)) { case (set, gs) =>
      val kernel = Kernels.BoundGramMember(plan(set, set))
      val expect = gs.exists(g => g != null && set.toSet.contains(g.asInstanceOf[Long]))
      assert(kernel.gram_member(new GenericArrayData(gs.toArray[Any])) === expect)
    }
  }

  test("keep_lines is the reference filter over random plans") {
    val pool = Seq("a b c", "the footer", "", " ", "café ñandú", "x", "menu home about")
    val lines = Gen.listOf(Gen.frequency(9 -> Gen.oneOf(pool), 1 -> Gen.const(null: String)))
    // a plan over a subset of the pool's hashes (empty and all-planned
    // included), keepers among docs 1..3; the doc is often the keeper
    val planned = Gen.oneOf(Gen.const(Seq.empty[String]), Gen.const(pool),
      Gen.someOf(pool).map(_.toSeq))
    val gen = for {
      ls <- lines; ps <- planned
      keepers <- Gen.listOfN(ps.length, Gen.choose(1L, 3L)); doc <- Gen.choose(1L, 3L)
    } yield (ls, ps.zip(keepers).map { case (l, k) => PortableHash.hexint60(l) -> k }.sorted, doc)
    cases(gen) { case (ls, table, doc) =>
      val kernel = Kernels.BoundKeepLines(plan(table.map(_._1).toArray, table.map(_._2).toArray))
      val keeper = table.toMap
      val expect = ls.filter(l => l == null || keeper.get(PortableHash.hexint60(l)).forall(_ == doc))
      val got = kernel.keep_lines(doc,
        new GenericArrayData(ls.map(l => if (l == null) null else UTF8String.fromString(l)).toArray[Any]))
      assert(got.toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(u => if (u == null) null else u.toString).toSeq === expect)
    }
  }

  test("bigram_nll equals LmScore.scoreCross rows bit for bit") {
    val spark2 = spark
    import spark2.implicits._
    // whitespace-only, one-word and non-ASCII texts; the model trains on
    // the "en" half only, so "pt" docs and random-letter words score
    // bigrams it never saw
    val word = Gen.oneOf("the", "a", "of", "cat", "café", "ñandú", "über", "日本", "x", "y")
    val text = Gen.oneOf(Gen.listOf(word).map(_.mkString(" ")),
      Gen.listOf(word).map(_.mkString("   ")), Gen.oneOf("", " ", "   ", "solo", "\t"),
      Gen.listOfN(3, Gen.alphaStr.map(_.take(6))).map(_.mkString(" ")))
    val docs = (0 until 300).map { i =>
      val t = text.pureApply(Gen.Parameters.default.withSize(1 + i % 40), Seed(i.toLong))
      (i.toLong, if (i % 2 == 0) "en" else "pt", t)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-nll").toString
    docs.toDF("doc_id", "lang", "text").write.parquet(s"$dir/documents.parquet")
    val (bg, uc, v) = LmScore.crossModel(spark, dir)
    val m = ScoreStream.planModel(bg, uc, v)
    val kernel = Kernels.BoundBigramNll(plan(m.bgH, m.bgC), plan(m.uH, m.uC), m.vocab)
    def opt(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    val batch = LmScore.scoreCross(spark, dir).collect().map(r => r.getLong(0) ->
      (r.getAs[Number]("n_words").longValue, r.getAs[Long]("n_bigrams"), opt(r, 4), opt(r, 5))).toMap
    assert(batch.size === docs.size)
    assert(batch.values.exists(_._3.isEmpty) && batch.values.exists(_._2 > 0))
    docs.foreach { case (id, _, t) =>
      val r = kernel.bigram_nll(UTF8String.fromString(t))
      val got = (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), if (r.isNullAt(3)) None else Some(r.getLong(3)))
      assert(got === batch(id), s"doc $id: '$t'")
    }
  }
}
