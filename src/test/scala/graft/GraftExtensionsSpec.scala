package graft

import graft.textops.{SimHash, TextAnalysis}
import org.scalatest.funsuite.AnyFunSuite

/** The SQL function surface: every native kernel callable from pure SQL
  * (registered via GraftExtensions.register / spark.sql.extensions).
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  GraftExtensions.register(spark)

  test("simhash60 and fingerprint60 callable from SQL") {
    val r = spark.sql(
      "SELECT simhash60('a b c') AS s, fingerprint60('one two three four five six') AS f")
      .collect()(0)
    assert(r.getLong(0) === SimHash.simhash("a b c"))
    assert(r.getLong(1) === TextAnalysis.fingerprintScala("one two three four five six"))
  }

  test("gram_hashes60 and repetition_fracs callable from SQL") {
    val r = spark.sql(
      "SELECT gram_hashes60('one two three four five six') AS g, " +
        "repetition_fracs('a b a b a') AS rf")
      .collect()(0)
    assert(r.getSeq[Long](0).toSeq ===
      TextAnalysis.gramHashesScala("one two three four five six").toSeq)
    assert(r.getSeq[Double](1).toSeq ===
      TextAnalysis.repetitionScala("a b a b a").toSeq)
  }

  test("format_best_effort callable from SQL") {
    val r = spark.sql(
      """SELECT format_best_effort('name: acme, total: 2', '{"name": "", "total": ""}', NULL) AS x""")
      .collect()(0).getString(0)
    assert(r === """{"name": "acme", "total": "2"}""")
  }

  test("html_strip and extract_spans callable from SQL") {
    val html = "<html><body><div><p>some long enough paragraph of real text here</p></div></body></html>"
    val stripped = spark.sql(s"SELECT html_strip('$html') AS spans").collect()(0)
    assert(stripped.getSeq[Any](0).nonEmpty)
    val extracted = spark.sql(
      """SELECT extract_spans(
           array(named_struct('kind', 'text', 'text', ' hi ', 'media_ref', CAST(NULL AS STRING), 'offset', 0)),
           'doc-x') AS spans""").collect()(0)
    assert(extracted.getSeq[org.apache.spark.sql.Row](0).map(_.getString(1)) === Seq("hi"))
  }

  test("synth_spans callable from SQL matches the DataFrame path") {
    val viaSql = spark.sql(
      "SELECT synth_spans(CAST(7 AS BIGINT), 'alpha beta gamma') AS spans")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    val direct = graft.synth.SynthKernel.synthDoc(7L, "alpha beta gamma")
    assert(viaSql.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      === direct)
  }

  test("nfc_normalize callable from SQL, matches java.text.Normalizer") {
    val r = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n").collect()(0).getString(0)
    assert(r === java.text.Normalizer.normalize(
      "cafe\u0301", java.text.Normalizer.Form.NFC))
    assert(r.length === 4) // composed: combining acute folded into the e
  }

  test("plan lookups answer from SQL and refuse an unsorted or misaligned plan") {
    val a = graft.textops.PortableHash.hexint60("a")
    val r = spark.sql(
      "SELECT gram_member(array(5L, 9L), array(1L, 5L)) AS m, " +
        s"keep_lines(2L, array('a', 'b'), array(${a}L), array(1L)) AS k, " +
        "bigram_nll('a  b', CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>), " +
        "CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>), 4L) AS s").collect()(0)
    assert(r.getBoolean(0))
    assert(r.getSeq[String](1) === Seq("b"))
    // one unseen bigram: ln((0 + 4) / (0 + 1)) in micro-nats
    val term = math.round(1e6 * math.log(4.0))
    assert(r.getStruct(2) === org.apache.spark.sql.Row(2L, 1L, term, term))
    def refused(sql: String, why: String) = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(why)), e)
    }
    refused("SELECT gram_member(array(1L), array(5L, 1L))", "sorted")
    refused("SELECT gram_member(array(1L), array(5L, 5L))", "sorted")
    refused("SELECT keep_lines(1L, array('a'), array(1L, 2L), array(1L))", "align")
  }

  test("extensions class injects without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("every registry kernel, as a Column and by its SQL name: null in, null out; empty in, no throw") {
    import GraftExtensionsSpec.{args, empty}
    import org.apache.spark.sql.functions.{call_function, lit}
    val entries = Kernels.getClass.getDeclaredFields.toSeq
      .filter(_.getType == classOf[Kernel]).map { f => f.setAccessible(true); f.get(Kernels) }
    assert(entries.length === 24 && entries.toSet === Kernels.all.toSet)
    assert(Kernels.all.map(_.name).distinct.length === Kernels.all.length)
    for (k <- Kernels.all) {
      def run(a: Seq[org.apache.spark.sql.Column]) = Seq(
        spark.range(1).select(k(a: _*)).collect()(0),
        spark.range(1).select(call_function(k.name, a: _*)).collect()(0))
      run(args(k, t => lit(null).cast(t))).foreach(r => assert(r.isNullAt(0), k.name))
      run(args(k, empty))
    }
  }
}

object GraftExtensionsSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** The empty value of a kernel argument type: "", an empty array, 1. */
  def empty(t: DataType): Column = t match {
    case StringType => lit("")
    case _: ArrayType => array().cast(t)
    case LongType => lit(1L)
    case IntegerType => lit(1)
  }

  /** Arguments of `k` over `spark.range`: each data argument is `data` of
    * its type, computed per row so that nothing folds; each constant is
    * [[empty]].
    */
  def args(k: Kernel, data: DataType => Column): Seq[Column] = {
    val nData = k.argTypes.length - k.constants
    k.argTypes.zipWithIndex.map { case (t, i) =>
      if (i < nData) when(col("id") >= 0, data(t)) else empty(t)
    }
  }
}
