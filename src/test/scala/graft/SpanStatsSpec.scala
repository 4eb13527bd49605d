package graft

import graft.serve.SpanStats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 span-stats kernel must agree with the column-op HOF
  * forms the status projection used through round 5 — on real extracted
  * output (every doc class, sentinel, image and dead-letter path) and
  * on synthetic edge rows (empty array, null text, unicode text).
  */
class SpanStatsSpec extends AnyFunSuite with SparkSpec {

  test("span_stats kernel == columnar reference on real extracted output") {
    val out = graft.extract.Extractor.extract(
      graft.synth.SpanSynth.docsInput(spark, "/root/testdata/sf0.001"))
    val rows = out.select(
      SpanStats.stats(col("spans")).as("native"),
      SpanStats.statsColumnar(col("spans")).as("columnar")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // and on the raw INPUT span table (oversize dead-letter path)
    val in = graft.synth.SpanSynth.docsInput(spark, "/root/testdata/sf0.001")
    in.select(SpanStats.stats(col("spans")).as("n"),
        SpanStats.statsColumnar(col("spans")).as("c"))
      .collect().foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("span_stats kernel handles empty arrays, null text, unicode") {
    import spark.implicits._
    val spanType = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    val nullSpan = spark.range(1).selectExpr("4L AS doc_id",
      s"CAST(array(NULL, named_struct('kind', 'image', 'text', NULL, 'media_ref', 'm', " +
        s"'offset', 1)) AS $spanType) AS spans")
    val df = Seq(
      (1L, Seq.empty[(String, String, String, Int)]),
      (2L, Seq(("image", null: String, "media://x/0", 0))),
      (3L, Seq(("text", "café 😀", null: String, 0),
        ("error", "", null: String, 1))))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), col("raw").cast(spanType).as("spans"))
      .unionByName(nullSpan)
    val rows = df.orderBy("doc_id").select(SpanStats.stats(col("spans")).as("n"),
      SpanStats.statsColumnar(col("spans")).as("c")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    // unicode text_chars counts codepoints: "café 😀" = 6
    assert(rows(2).getSeq[Long](0) === Seq(2L, 0L, 1L, 6L))
    // a null span counts toward n_spans (Spark's `size`) and nothing else
    assert(rows(3).getSeq[Long](0) === Seq(2L, 1L, 0L, 0L))
  }
}
