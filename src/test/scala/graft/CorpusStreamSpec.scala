package graft

import graft.extract.Extractor
import graft.model.Span
import graft.streaming.CorpusStream
import graft.synth.SpanSynth
import graft.textops.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming corpus tail must reproduce the batch
  * tag → exact-dedup → stratified-sample stages exactly when the corpus
  * fits one trigger, and keep excluding known content across restarts
  * from recovered state.
  */
class CorpusStreamSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-scorpus").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  private def docsBelow(n: Int) =
    SpanSynth.docsInput(spark, "/root/testdata/sf0.01")
      .where(substring(col("doc_id"), 5, 8).cast("long") < n)

  /** Edge documents: empty and whitespace-only text, media spans only
    * (empty `docText`), '#'/'...'-heavy text, Portuguese stopwords, and
    * words of non-ASCII letters only.
    */
  private def edgeDocs() = {
    import spark.implicits._
    val texts = Seq("", "   ", "### the ... of ### and ... the ### ... a ...",
      "o gato de a casa e que do da em um para a mesa da vila",
      "a escola para a professora muito obrigada pela aula sobre historia antiga",
      "café niño ação über straße ñandú çà")
    val withText = texts.zipWithIndex.map { case (t, i) =>
      (f"edge-$i%02d", Seq(Span("text", t, null, 0)))
    }
    val mediaOnly = Seq(("edge-media", Seq(Span("image", null, "img/a.png", 0),
      Span("image", null, "img/b.png", 1))))
    (withText ++ mediaOnly).toDF("doc_id", "spans")
  }

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_tokens", "lang_guess", "text_hash").collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("lang_guess"), r.getAs[Long]("text_hash"))).toSet

  test("streamed corpus tail matches the batch tag->dedup->sample stages") {
    val root = tmp()
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val base = docsBelow(60).cache()
    // re-id'd copies of the first 15 docs: "-dup" sorts after the
    // original, so the original is the keeper in both engines
    val dups = base.where(substring(col("doc_id"), 5, 8).cast("long") < 15)
      .select(concat(col("doc_id"), lit("-dup")).as("doc_id"), col("spans"))
    // a null-spans doc: a file-source column is nullable, so one can
    // arrive; its null hash must not kill the stateful dedup
    val nullSpans = base.limit(1).select(lit("edge-null").as("doc_id"),
      lit(null).cast(base.schema("spans").dataType).as("spans"))
    base.unionByName(dups).unionByName(edgeDocs()).unionByName(nullSpans)
      .write.mode("append").parquet(in)

    val q = CorpusStream.start(spark, in, out, ckpt, availableNow = true)
    q.awaitTermination()
    val streaming = collectRows(spark.read.parquet(out))

    // batch reference: the SAME extract + text derivation fed through the
    // batch build's pre-pack stages
    val batchText = Extractor.extract(spark.read.parquet(in))
      .select(col("doc_id"), CorpusStream.docText(col("spans")).as("text"))
    val batch = collectRows(Corpus.tagDedupSample(batchText))

    assert(batch.nonEmpty, "fixture must yield surviving corpus docs")
    assert(streaming === batch)
    // duplicates are excluded, keepers are the originals
    assert(!streaming.exists(_._1.endsWith("-dup")))
    base.unpersist()
  }

  test("resume drains only new files; recovered state still excludes dups") {
    val root = tmp()
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val base = docsBelow(60).cache()
    base.write.mode("append").parquet(in)
    val q1 = CorpusStream.start(spark, in, out, ckpt, availableNow = true)
    q1.awaitTermination()
    val r1 = collectRows(spark.read.parquet(out))

    // run 2 (same checkpoint): copies of run-1 content + genuinely new docs
    val dups2 = base.where(substring(col("doc_id"), 5, 8).cast("long") < 20)
      .select(concat(col("doc_id"), lit("-d2")).as("doc_id"), col("spans"))
    val fresh = SpanSynth.docsInput(spark, "/root/testdata/sf0.01")
      .where(substring(col("doc_id"), 5, 8).cast("long").between(60, 119))
    dups2.unionByName(fresh).write.mode("append").parquet(in)
    val q2 = CorpusStream.start(spark, in, out, ckpt, availableNow = true)
    q2.awaitTermination()
    val r2 = collectRows(spark.read.parquet(out))

    // run-1 rows are NOT re-emitted (exactly-once), no "-d2" copy ever
    // survives (state recovered from the checkpoint), and the fresh docs
    // that pass quality+sample appear
    assert(r1.subsetOf(r2))
    assert(!r2.exists(_._1.endsWith("-d2")))
    val expectedFresh = collectRows(Corpus.tagDedupSample(
      Extractor.extract(fresh)
        .select(col("doc_id"), CorpusStream.docText(col("spans")).as("text"))))
    val added = r2 -- r1
    // subset (not equality): a fresh doc whose content collides with
    // run-1 content is rightly excluded by the recovered state but
    // invisible to the fresh-only batch reference
    assert(added.nonEmpty)
    assert(added.subsetOf(expectedFresh))
    // every expected-fresh doc that does NOT collide with run-1 content
    // must have been emitted
    val seenHashes = r1.map(_._4)
    assert(expectedFresh.filterNot(f => seenHashes.contains(f._4)) === added)
    base.unpersist()
  }
}
