package graft

import graft.streaming.StreamingDedup
import graft.synth.SpanSynth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streaming dedup: first-seen wins within a batch (min doc_id),
  * and the state store remembers hashes ACROSS restarts via the
  * checkpoint — a duplicate arriving in a later run is still flagged.
  */
class StreamingDedupSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  /** 40 base docs + re-id'd copies of the first 10 (suffix "-dup"). */
  private def corpus() = {
    val base = SpanSynth.docsInput(spark, "/root/testdata/sf0.001")
      .where(substring(col("doc_id"), 5, 8).cast("long") < 40)
      .cache()
    val dups = base.where(substring(col("doc_id"), 5, 8).cast("long") < 10)
      .select(concat(col("doc_id"), lit("-dup")).as("doc_id"), col("spans"))
    (base, dups)
  }

  test("within-batch dups flag by min doc_id; state survives restart") {
    val root = tmp()
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val (base, dups) = corpus()

    // batch 1: originals + within-batch copies ("-dup" sorts AFTER the
    // original, so the original is the keeper)
    base.unionByName(dups).write.mode("append").parquet(in)
    val q1 = StreamingDedup.start(spark, in, out, ckpt, availableNow = true)
    q1.awaitTermination()
    val r1 = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
    assert(r1.size === 50)
    assert(r1.count(_._2) === 10)
    (0 until 10).foreach { i =>
      val id = f"doc-$i%08d"
      assert(r1(id) === false, s"original $id must be the keeper")
      assert(r1(s"$id-dup") === true, s"copy $id-dup must be flagged")
    }

    // batch 2 in a NEW query run (fresh process semantics, same ckpt):
    // copies of already-seen content are flagged from RECOVERED state
    val dups2 = base.where(substring(col("doc_id"), 5, 8).cast("long") >= 10 &&
        substring(col("doc_id"), 5, 8).cast("long") < 15)
      .select(concat(col("doc_id"), lit("-dup2")).as("doc_id"), col("spans"))
    dups2.write.mode("append").parquet(in)
    val q2 = StreamingDedup.start(spark, in, out, ckpt, availableNow = true)
    q2.awaitTermination()
    val r2 = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
    assert(r2.size === 55)
    (10 until 15).foreach { i =>
      assert(r2(f"doc-$i%08d-dup2") === true,
        s"cross-run duplicate of doc $i must be flagged from recovered state")
    }
    // originals stay unflagged
    assert(r2.count(_._2) === 15)
    base.unpersist()
  }

  test("streaming flags agree with the batch exact-dedup semantics") {
    val root = tmp()
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val (base, dups) = corpus()
    // a null-spans doc has a null content hash; the batch window groups
    // null hashes together, and the stream must not die on one
    val nullSpans = base.limit(1).select(lit("doc-null-spans").as("doc_id"),
      lit(null).cast(base.schema("spans").dataType).as("spans"))
    val all = base.unionByName(dups).unionByName(nullSpans)
    all.write.mode("append").parquet(in)
    val q = StreamingDedup.start(spark, in, out, ckpt, availableNow = true)
    q.awaitTermination()
    val streaming = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
    // batch reference: rank by doc_id within content-hash groups
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    val batch = all.select(col("doc_id"),
        StreamingDedup.contentHash(col("spans")).as("content_hash"))
      .withColumn("is_duplicate", row_number().over(w) > 1)
      .collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
    assert(streaming === batch)
    base.unpersist()
  }
}
