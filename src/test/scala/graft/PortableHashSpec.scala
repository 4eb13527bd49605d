package graft

import graft.textops.{PortableHash, SimHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The portable md5-prefix hash must agree across its three
  * implementations (Spark column op, plain Scala, DuckDB — the last is
  * covered by the driver oracle gate; this spec pins Spark == Scala so the
  * mapPartitions media stub and the native SimHash stay consistent with
  * the column ops).
  */
class PortableHashSpec extends AnyFunSuite with SparkSpec {

  test("Spark hexint32/hexint60 == Scala md5-prefix ints") {
    import spark.implicits._
    val inputs = Seq("", "a", "hello world", "média açúcar ﬁ", "doc-00000042#w")
    val fromSpark = inputs.toDF("s")
      .select(PortableHash.hexint32(col("s")), PortableHash.hexint60(col("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fromScala = inputs.map { s =>
      (PortableHash.hexint32(s),
        java.lang.Long.parseLong(PortableHash.md5Hex(s).substring(0, 15), 16))
    }
    assert(fromSpark.toSeq === fromScala)
  }

  test("native simhash60 expression == Scala SimHash.simhash") {
    import spark.implicits._
    val inputs = Seq("", "a b c", "the quick fox", "x x x x y")
    val fromSpark = inputs.toDF("s")
      .select(SimHash.simhash60(col("s"))).collect().map(_.getLong(0))
    assert(fromSpark.toSeq === inputs.map(SimHash.simhash))
  }

  test("native fingerprint60 == columnar reference == Scala twin") {
    import graft.textops.TextAnalysis
    import spark.implicits._
    val inputs = Seq("", "a b c", "one two three four five",
      "one two three four five six seven", "the  double  space case x y z")
    val df = inputs.toDF("s").cache()
    val native = df.select(TextAnalysis.fingerprint60(col("s"))).collect().map(_.getLong(0))
    val columnar = df.select(TextAnalysis.fingerprintColumnar(col("s"))).collect().map(_.getLong(0))
    assert(native.toSeq === columnar.toSeq)
    assert(native.toSeq === inputs.map(TextAnalysis.fingerprintScala))
    df.unpersist()
  }

  test("native gram_hashes60 == columnar reference == Scala twin; min == fingerprint") {
    import graft.textops.TextAnalysis
    import spark.implicits._
    val inputs = Seq("", "a b c", "one two three four five",
      "one two three four five six seven", "the  double  space case x y z")
    val df = inputs.toDF("s").cache()
    val native = df.select(TextAnalysis.gramHashes60(col("s")))
      .collect().map(_.getSeq[Long](0).toSeq)
    val columnar = df.select(TextAnalysis.gramHashesColumnar(col("s")))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(native.toSeq === columnar.toSeq)
    assert(native.toSeq === inputs.map(TextAnalysis.gramHashesScala(_).toSeq))
    // consistency with the fingerprint family: min gram hash IS the
    // fingerprint (same split, same short-doc fallback)
    assert(native.map(_.min).toSeq === inputs.map(TextAnalysis.fingerprintScala))
    df.unpersist()
  }

  test("native repetition fracs == columnar reference (full sf0.001 docs)") {
    import graft.textops.TextAnalysis
    val d = TextAnalysis.loadDocs(SparkSpec.session, "/root/testdata/sf0.001")
    val native = d.select(col("doc_id"), TextAnalysis.repetitionFracs(col("text")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val columnar = d.select(col("doc_id"),
      TextAnalysis.repetitionFracColumnar(col("text"), 2),
      TextAnalysis.repetitionFracColumnar(col("text"), 3))
      .collect().map(r => (r.getLong(0), Seq(r.getDouble(1), r.getDouble(2))))
    assert(native.sortBy(_._1).toSeq === columnar.sortBy(_._1).toSeq)
  }

  test("native jaccard expression == columnar reference (sf0.001 shingle arrays)") {
    import graft.textops.Dedup
    import spark.implicits._
    // real shingle arrays: self-join a sample of docs on a cheap key so the
    // pair inputs have realistic overlap structure, plus edge pairs
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(w) - 3), i -> array_join(slice(w, i + 1, 3), ' ')))")
        .as("sh"))
      .limit(40).cache()
    val pairs = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
      .where(col("id_a") < col("id_b")).cache()
    val native = pairs
      .select(col("id_a"), col("id_b"), graft.Kernels.Jaccard(col("sh_a"), col("sh_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val columnar = pairs
      .select(col("id_a"), col("id_b"), Dedup.jaccardColumnar(col("sh_a"), col("sh_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(native.sortBy(p => (p._1, p._2)).toSeq ===
      columnar.sortBy(p => (p._1, p._2)).toSeq)
    pairs.unpersist(); d.unpersist()
    // edge cases: identical, disjoint, subset
    val edge = Seq(
      (Seq("a b c", "b c d"), Seq("a b c", "b c d")),
      (Seq("a b c"), Seq("x y z")),
      (Seq("a b c", "b c d", "c d e"), Seq("b c d"))).toDF("sh_a", "sh_b")
    val en = edge.select(graft.Kernels.Jaccard(col("sh_a"), col("sh_b"))).collect().map(_.getDouble(0))
    val ec = edge.select(Dedup.jaccardColumnar(col("sh_a"), col("sh_b"))).collect().map(_.getDouble(0))
    assert(en.toSeq === ec.toSeq)
    assert(en.toSeq === Seq(1.0, 0.0, BigDecimal(1.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("media stub decode is deterministic and in documented ranges") {
    val f = graft.media.MediaFeatures.decodeOne(
      graft.media.MediaFeatures.MediaRef("d", "media://d/0", 1))
    assert(f === graft.media.MediaFeatures.decodeOne(
      graft.media.MediaFeatures.MediaRef("d", "media://d/0", 1)))
    assert(f.width >= 64 && f.width < 64 + 1857)
    assert(f.height >= 64 && f.height < 64 + 1017)
    assert(Set("jpeg", "png", "webp").contains(f.format))
    assert(f.byte_size >= 1024)
  }
}
