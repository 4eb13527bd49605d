package graft

import graft.textops.{Ivf, Jaccard, SimHash, Similarity}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants of the round-3 native kernels (same bare-
  * ScalaCheck fixed-seed harness as ExtractPropsSpec). These check
  * MATHEMATICAL properties against independent formulations — not the
  * kernel against its own column twin (that parity lives in
  * PortableHashSpec / SimilaritySpec).
  */
class KernelPropsSpec extends AnyFunSuite {

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
}
