package graft

import graft.streaming.CurateStream
import graft.textops.{Corpus, Decontam, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming curated tail must reproduce the batch capstone's
  * surviving set exactly when the corpus fits one trigger (same tag,
  * keeper, classifier, benchmark, decontamination, and mix decisions),
  * and keep excluding known content across restarts from recovered
  * state while applying the STATIC planned inputs unchanged.
  */
class CurateStreamSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-scurate").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  /** Edge documents: empty and whitespace-only text, '#'/'...'-heavy
    * text, Portuguese stopwords, and words of non-ASCII letters only.
    */
  private def edgeDocs() = {
    import spark.implicits._
    Seq("", "   ", "### the ... of ### and ... the ### ... a ...",
      "o gato de a casa e que do da em um para a mesa da vila",
      "a escola para a professora muito obrigada pela aula sobre historia antiga",
      "café niño ação über straße ñandú çà")
      .zipWithIndex.map { case (t, i) => (990000L + i, s"src${i % 3}", t) }
      .toDF("doc_id", "source", "text")
  }

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "source", "n_tokens", "lang_guess").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("lang_guess"))).toSet

  test("streamed curated tail matches the batch capstone in one trigger") {
    val root = tmp()
    val in = s"$root/in/documents.parquet"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val base = TextAnalysis.loadDocs(spark, sf).cache()
    // re-id'd copies of some docs: higher ids, so the original is the
    // keeper in both engines (batch: min doc_id; stream: one-trigger min)
    val dups = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text"))
    // <= 64 files so availableNow drains everything in ONE micro-batch
    // (keeper parity needs a single trigger)
    base.select("doc_id", "source", "text").unionByName(dups).unionByName(edgeDocs())
      .repartition(4).write.mode("append").parquet(in)

    // offline planning over the stream's own input dir — the deployment
    // recipe, derived from the same audited batch definitions
    val benchGrams = Decontam.benchGramSet(spark, s"$root/in")
    val rates = Corpus.curatePlanRates(spark, s"$root/in")
    assert(benchGrams.nonEmpty, "fixture must contain benchmark docs")

    val q = CurateStream.start(spark, in, out, ckpt, benchGrams, rates,
      availableNow = true)
    q.awaitTermination()
    val streaming = collectRows(spark.read.parquet(out))

    // batch reference: the capstone over the same input dir (packed rows
    // carry doc_id/source/n_tokens/lang_guess through)
    val batch = collectRows(Corpus.curateCore(
      TextAnalysis.loadDocs(spark, s"$root/in"),
      Decontam.contaminatedIds(spark, s"$root/in")))

    assert(batch.nonEmpty, "fixture must yield curated survivors")
    assert(streaming === batch)
    // no re-id'd copy survives; originals decided dedup
    assert(!streaming.exists(_._1 >= 1000000L))
    base.unpersist()
  }

  test("null rows are dropped at the source, never poison pills") {
    import spark.implicits._
    val root = tmp()
    val in = s"$root/in/documents.parquet"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val base = TextAnalysis.loadDocs(spark, sf).where(col("doc_id") < 100)
      .select("doc_id", "source", "text")
    // a file-source schema is nullable: a null-text (and null-source)
    // row must be dropped, not crash the typed encode and wedge the
    // stream on every restart of the same micro-batch
    val nulls = Seq((999998L, "web", null: String), (999999L, null: String, null: String))
      .toDF("doc_id", "source", "text")
    base.unionByName(nulls).repartition(4).write.mode("append").parquet(in)

    val benchGrams = Decontam.benchGramSet(spark, s"$root/in")
    val rates = Corpus.curatePlanRates(spark, s"$root/in")
    val q = CurateStream.start(spark, in, out, ckpt, benchGrams, rates,
      availableNow = true)
    q.awaitTermination() // a poison pill would throw StreamingQueryException
    val streaming = collectRows(spark.read.parquet(out))

    // parity with the batch capstone, which drops the same rows silently
    val batch = collectRows(Corpus.curateCore(
      TextAnalysis.loadDocs(spark, s"$root/in"),
      Decontam.contaminatedIds(spark, s"$root/in")))
    assert(streaming === batch)
    assert(!streaming.exists(_._1 >= 999998L))
  }

  test("resume drains only new files; static plan and state persist") {
    val root = tmp()
    val in = s"$root/in/documents.parquet"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val base = TextAnalysis.loadDocs(spark, sf).cache()
    val run1 = base.where(col("doc_id") < 300).select("doc_id", "source", "text")
    run1.repartition(4).write.mode("append").parquet(in)

    // the plan is fixed ONCE, from run-1's corpus — later triggers apply
    // it unchanged (the lambda split this tail exists to demonstrate)
    val benchGrams = Decontam.benchGramSet(spark, s"$root/in")
    val rates = Corpus.curatePlanRates(spark, s"$root/in")

    val q1 = CurateStream.start(spark, in, out, ckpt, benchGrams, rates,
      availableNow = true)
    q1.awaitTermination()
    val r1 = collectRows(spark.read.parquet(out))
    assert(r1.nonEmpty)

    // run 2 (same checkpoint): copies of run-1 content under new ids +
    // genuinely new docs
    val dups2 = base.where(col("doc_id") < 50)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("source"), col("text"))
    val fresh = base.where(col("doc_id") >= 300).select("doc_id", "source", "text")
    dups2.unionByName(fresh).repartition(4).write.mode("append").parquet(in)
    val q2 = CurateStream.start(spark, in, out, ckpt, benchGrams, rates,
      availableNow = true)
    q2.awaitTermination()
    val r2 = collectRows(spark.read.parquet(out))

    // exactly-once: run-1 rows are not re-emitted; recovered state still
    // excludes every re-id'd copy; fresh docs landed
    assert(r1.subsetOf(r2))
    assert(!r2.exists(_._1 >= 2000000L))
    val added = r2 -- r1
    assert(added.nonEmpty)
    assert(added.forall(_._1 >= 300))
    base.unpersist()
  }
}
