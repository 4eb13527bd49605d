package graft

import graft.pipeline.ExtractPipeline
import graft.serve.Queries
import graft.synth.SpanSynth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint/resume semantics (north_rule; SURVEY.md §3.4, §5.2 item 4):
  * a killed run resumes computing ONLY the missing buckets, re-runs are
  * no-ops, and the invariant checker flags nothing on a healthy store.
  */
class ResumeSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-resume").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  private def input = SpanSynth.docsInput(spark, "/root/testdata/sf0.001")
    .where(substring(col("doc_id"), 5, 8).cast("long") < 200)

  /** The same documents keyed by a long `doc_id`. */
  private def longKeyed = input.withColumn("doc_id", substring(col("doc_id"), 5, 8).cast("long"))

  /** `body`'s result and the number of Spark jobs it ran, read from its
    * job group once the listener bus has delivered every event.
    */
  private def jobsOf[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val r = try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    (r, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Every row of every store, so "untouched" covers claims, lineage and data. */
  private def snapshot(out: String) = Seq("_checkpoints", "_lineage", "data").map(t =>
    spark.read.parquet(s"$out/$t").collect().map(_.toString).sorted.toSeq)

  /** Rewrites `_checkpoints` without the rows matching `lost`, as a crash
    * that never wrote them would have left it.
    */
  private def loseCkptRows(out: String, lost: org.apache.spark.sql.Column): Unit = {
    val kept = spark.read.parquet(s"$out/_checkpoints").where(!lost).cache()
    kept.count()
    kept.coalesce(1).write.mode("overwrite").parquet(s"$out/_ckpt_tmp")
    kept.unpersist()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_checkpoints"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$out/_ckpt_tmp"),
      new org.apache.hadoop.fs.Path(s"$out/_checkpoints"))
  }

  /** The physical plans of the parquet writes that `body` runs, each with
    * the name of the directory it writes into, read from a
    * `QueryExecutionListener` once the listener bus has delivered every
    * event.
    */
  private def writePlans(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.SparkPlan)]()
    val l = new QueryExecutionListener {
      // adaptive execution wraps the write command itself
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        Aqe.collect(qe.executedPlan) {
          case w @ DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) =>
            i.outputPath.getName -> w
        }.foreach(plans.add)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** Walks adaptive plans and query stages as well. */
  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def llm(cfg: ExtractPipeline.Config) = ExtractPipeline.runLlmStage(spark, cfg,
    transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every row of `out`'s `table`, read with schema inference, without
    * the `dropped` columns.
    */
  private def rowsOf(out: String, table: String, dropped: String*): Seq[String] =
    sorted(spark.read.parquet(s"$out/$table").drop(dropped: _*))

  /** The terminal `_checkpoints` rows without what differs between runs. */
  private def terminalRows(out: String): Seq[String] =
    sorted(spark.read.parquet(s"$out/_checkpoints").where(col("status") =!= "running")
      .drop("run_id", "started_ts", "finished_ts"))

  /** The parquet physical types of column `c` over the visible files of
    * `out`'s `table`.
    */
  private def timestampTypes(out: String, table: String, c: String): Set[String] =
    new java.io.File(s"$out/$table").listFiles().filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex(c)).asPrimitiveType.getPrimitiveTypeName.name
        }
        finally r.close()
      }.toSet

  /** The bookkeeping stores with their writer's schemas. */
  private val bookkeeping = Seq("_checkpoints" -> ExtractPipeline.CkptSchema,
    "_lineage" -> ExtractPipeline.LineageSchema)

  private def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("partial run + resume covers all buckets exactly once") {
    val out = freshDir()
    val B = 8
    // simulate a crashed run: only buckets 0-3 got done
    val partial = input.where(ExtractPipeline.bucketCol(B) < 4)
    val r1 = ExtractPipeline.run(spark, partial,
      ExtractPipeline.Config(out, "run-1", numBuckets = B))
    assert(r1.bucketsDone === 0)

    // resume with the FULL input: only buckets 4-7 must be computed
    val r2 = ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "run-2", numBuckets = B))
    assert(r2.bucketsDone === 4)
    assert(r2.bucketsRun === 4)

    // output covers every input doc exactly once
    val data = spark.read.parquet(s"$out/data")
    assert(data.count() === input.count())
    assert(data.select("doc_id").distinct().count() === input.count())

    // third run is a no-op
    val r3 = ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "run-3", numBuckets = B))
    assert(r3.bucketsDone === 8)
    assert(r3.docsProcessed === 0)

    // invariant checker: healthy store has no violations
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
  }

  test("checkpoint counters match output content") {
    val out = freshDir()
    ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "run-1", numBuckets = 4))
    val ckpt = spark.read.parquet(s"$out/_checkpoints")
    val fromCkpt = ckpt.agg(sum("n_docs"), sum("n_spans"), sum("n_errors")).collect()(0)
    val data = spark.read.parquet(s"$out/data")
    val actual = data.agg(
      count(lit(1)),
      sum(size(col("spans"))),
      sum(size(filter(col("spans"), s => s.getField("kind") === "error")))).collect()(0)
    assert(fromCkpt.getLong(0) === actual.getLong(0))
    assert(fromCkpt.getLong(1) === actual.getLong(1))
    assert(fromCkpt.getLong(2) === actual.getLong(2))
    // lineage row written per run
    assert(spark.read.parquet(s"$out/_lineage").count() === 1)

    // more buckets than the input covers: every claimed bucket without
    // rows closes as 'empty' with zero counters, in the same commit file
    // as the done rows — one claim file plus one commit file per run
    val sparse = freshDir()
    val B = 8
    val partial = input.where(ExtractPipeline.bucketCol(B) < 3)
    val r = ExtractPipeline.run(spark, partial,
      ExtractPipeline.Config(sparse, "run-1", numBuckets = B))
    assert(r.bucketsRun === 3 && r.docsProcessed === partial.count())
    val files = Option(new java.io.File(s"$sparse/_checkpoints").listFiles()).toSeq
      .flatten.count(_.getName.endsWith(".parquet"))
    assert(files === 2)
    val rows = spark.read.parquet(s"$sparse/_checkpoints").where(col("status") =!= "running")
      .orderBy("bucket").collect()
    assert(rows.map(_.getAs[Int]("bucket")).toSeq === (0 until B))
    assert(rows.map(_.getAs[String]("status")).toSeq ===
      Seq.fill(3)("done") ++ Seq.fill(B - 3)("empty"))
    val counters = Seq("n_docs", "n_spans", "text_chars", "n_images", "n_errors",
      "n_dead_letter")
    rows.drop(3).foreach(row => counters.foreach(c => assert(row.getAs[Long](c) === 0L)))
    val perBucket = spark.read.parquet(s"$sparse/data").groupBy("bucket")
      .agg(count(lit(1)), sum(size(col("spans")))).collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    rows.take(3).foreach { row =>
      assert((row.getAs[Long]("n_docs"), row.getAs[Long]("n_spans")) ===
        perBucket(row.getAs[Int]("bucket")))
    }
    assert(spark.read.parquet(s"$sparse/_checkpoints").where(col("status") === "running")
      .count() === B)
  }

  test("resumed buckets overwrite idempotently (no duplicate docs)") {
    val out = freshDir()
    val B = 4
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r1", numBuckets = B))
    // wipe one bucket's checkpoint rows to force recompute of bucket 2
    loseCkptRows(out, col("bucket") === 2)

    val r = ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r2", numBuckets = B))
    assert(r.bucketsRun === 1)
    val data = spark.read.parquet(s"$out/data")
    assert(data.count() === input.count())
    assert(data.select("doc_id").distinct().count() === input.count())
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
  }

  test("stuck scan (Q6) flags claimed-but-uncommitted buckets only") {
    val out = freshDir()
    val B = 8
    // fresh store: nothing claimed => nothing stuck (and no crash)
    assert(ExtractPipeline.staleCheckpoints(spark, out, 0.0).count() === 0)

    // a partial-coverage input leaves buckets 4-7 claimed but dataless —
    // they terminate as 'empty', NOT stuck (no standing false alarms)
    val partial = input.where(ExtractPipeline.bucketCol(B) < 4)
    ExtractPipeline.run(spark, partial,
      ExtractPipeline.Config(out, "run-1", numBuckets = B))
    assert(ExtractPipeline.staleCheckpoints(spark, out, 0.0).count() === 0)

    // simulate a genuine crash: strip bucket 2's terminal row, leaving its
    // 'running' claim dangling
    loseCkptRows(out, col("bucket") === 2 && col("status") =!= "running")

    val stale = ExtractPipeline.staleCheckpoints(spark, out, 0.0).collect()
    assert(stale.map(_.getAs[Int]("bucket")).toSeq === Seq(2))
    assert(stale.forall(_.getAs[String]("status") === "running"))

    // resume recommits it; nothing is stuck afterwards; empty buckets
    // (4-7) were never marked done, so a fuller input recomputes them
    val r2 = ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "run-2", numBuckets = B))
    assert(r2.bucketsDone === 3) // 0,1,3 done; 2 wiped; 4-7 only 'empty'
    assert(ExtractPipeline.staleCheckpoints(spark, out, 0.0).count() === 0)
  }

  test("crashed cleanup rewrite is recovered from the renamed-aside copy") {
    val out = freshDir()
    ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r1", numBuckets = 4))
    val n = spark.read.parquet(s"$out/_checkpoints").count()
    // simulate the crash window: store renamed aside, new copy never landed
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$out/_checkpoints"),
      new org.apache.hadoop.fs.Path(s"$out/_checkpoints_old"))
    // any reader recovers the store instead of seeing it empty
    assert(ExtractPipeline.doneBuckets(spark, out, "extract").size === 4)
    assert(spark.read.parquet(s"$out/_checkpoints").count() === n)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/_checkpoints_old")))
  }

  test("retention cleanup (P6) keeps young rows, drops expired, crash-safe") {
    val out = freshDir()
    ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r1", numBuckets = 4))
    val before = spark.read.parquet(s"$out/_checkpoints").count()

    // young rows survive a 24h retention pass; resume stays a no-op
    val kept = ExtractPipeline.cleanupCheckpoints(spark, out, maxAgeHours = 24)
    assert(kept === before)
    assert(spark.read.parquet(s"$out/_lineage").count() === 1)
    val noop = ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r2", numBuckets = 4))
    assert(noop.docsProcessed === 0)

    // zero retention expires everything; the store rewrites without a
    // delete window (_old/_tmp staging dirs must be gone afterwards)
    val kept0 = ExtractPipeline.cleanupCheckpoints(spark, out, maxAgeHours = 0)
    assert(kept0 === 0)
    assert(spark.read.parquet(s"$out/_checkpoints").count() === 0)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/_checkpoints_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/_checkpoints_tmp")))
    // expired checkpoints mean the next run recomputes from scratch
    val redo = ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r3", numBuckets = 4))
    assert(redo.bucketsDone === 0 && redo.docsProcessed === input.count())
  }

  test("serve queries over the STORED table: lookup prunes to one bucket partition") {
    val out = freshDir()
    val B = 8
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r1", numBuckets = B))

    // queue over data/ covers every stored doc with derived status; the
    // table schema comes from the store manifest, so building the query
    // (like the llm stage's read of data/) runs no schema-inference job
    val (q, queueJobs) = jobsOf("queue-build")(Queries.queueFrom(spark, out))
    assert(queueJobs === 0)
    assert(q.count() === input.count())
    assert(q.columns.contains("status"))
    assert(jobsOf("llm-data-read")(ExtractPipeline.readTable(spark, out, "data",
      ExtractPipeline.manifest(spark, out)))._2 === 0)

    // driver-side bucket matches the stored partition of every doc, and
    // evaluating it runs no Spark job
    val stored = spark.read.parquet(s"$out/data").select("doc_id", "bucket").collect()
    assert(jobsOf("bucket-of")(stored.foreach(r =>
      assert(Queries.bucketOf(spark, r.getString(0), B) === r.getInt(1))))._2 === 0)
    val docId = stored(0).getString(0)

    // bucket count comes from the store manifest, read on the driver; the
    // lookup runs one job, its scan
    assert(jobsOf("stored-buckets")(Queries.storedNumBuckets(spark, out)) === ((Some(B), 0)))
    val (found, lookupJobs) = jobsOf("lookup")(Queries.lookupFrom(spark, out, docId).collect())
    assert(found.length === 1)
    assert(lookupJobs === 1)
    // a directory without a manifest is not a store
    val notAStore = freshDir()
    assert(Queries.storedNumBuckets(spark, notAStore) === None)
    assert(intercept[IllegalArgumentException](Queries.lookupFrom(spark, notAStore, docId))
      .getMessage.contains("_manifest.json"))

    val lk = Queries.lookupFrom(spark, out, docId)
    val rows = lk.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("doc_id") === docId)
    assert(rows(0).getAs[String]("extracted_text") !== null)

    // the physical scan must carry the bucket PARTITION filter (pruning to
    // one directory) and push the doc_id filter to parquet
    val scan = lk.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
      s"no bucket partition filter in: ${scan.partitionFilters}")
    assert(scan.metadata("PushedFilters").contains("EqualTo(doc_id,"),
      s"doc_id not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("a lookup whose bucket has no directory returns no row") {
    val out = freshDir()
    val B = 8
    val partial = input.where(ExtractPipeline.bucketCol(B) < 3)
    ExtractPipeline.run(spark, partial, ExtractPipeline.Config(out, "r1", numBuckets = B))
    val absent = input.where(ExtractPipeline.bucketCol(B) === 5).head().getString(0)
    assert(!new java.io.File(s"$out/data/bucket=5").exists())
    assert(Queries.lookupFrom(spark, out, absent).collect().isEmpty)
    val present = partial.head().getString(0)
    assert(Queries.lookupFrom(spark, out, present).collect().map(_.getString(0)).toSeq ===
      Seq(present))
  }

  test("a lookup on a long-keyed store finds every stored id") {
    val out = freshDir()
    ExtractPipeline.run(spark, longKeyed, ExtractPipeline.Config(out, "r1", numBuckets = 8))
    val ids = spark.read.parquet(s"$out/data").select("doc_id").collect().map(_.getLong(0))
    assert(ids.length === longKeyed.count())
    ids.foreach(id => assert(Queries.lookupFrom(spark, out, id.toString).collect()
      .map(_.getLong(0)).toSeq === Seq(id), s"doc_id $id"))
    // an id that is no long is absent, not an error
    assert(Queries.lookupFrom(spark, out, "doc-17").collect().isEmpty)
  }

  test("a pipeline round writes no bookkeeping through Spark, and a done set runs no job") {
    val out = freshDir()
    val cfg = ExtractPipeline.Config(out, "r1", numBuckets = 8)
    val written = writePlans { ExtractPipeline.run(spark, input, cfg); llm(cfg) }.map(_._1)
    assert(written.sorted === Seq("data", "llm"))
    val (done, jobs) = jobsOf("done-buckets")(ExtractPipeline.doneBuckets(spark, out, "extract"))
    assert(done.nonEmpty)
    assert(jobs === 0)
  }

  test("a hidden half-written bookkeeping file is invisible to every reader") {
    val out = freshDir()
    val cfg = ExtractPipeline.Config(out, "r1", numBuckets = 4)
    ExtractPipeline.run(spark, input, cfg)
    llm(cfg)
    def seen = (
      Seq("extract", "llm").map(st => (ExtractPipeline.doneBuckets(spark, out, st),
        ExtractPipeline.verifyCheckpoints(spark, out, st).count(),
        ExtractPipeline.staleCheckpoints(spark, out, -1.0, st).count())),
      sorted(ExtractPipeline.metrics(spark, out)),
      rowsOf(out, "_checkpoints"), rowsOf(out, "_lineage"))
    val before = seen
    // a writer that died mid-file leaves its hidden temp name behind
    Seq("_checkpoints", "_lineage").foreach { t =>
      val f = new java.io.File(s"$out/$t").listFiles().filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      java.nio.file.Files.write(java.nio.file.Paths.get(
        s"$out/$t/_part-${java.util.UUID.randomUUID()}.parquet"), bytes.take(bytes.length / 2))
    }
    assert(seen === before)
    assert(ExtractPipeline.compactCheckpoints(spark, out) === before._3.size)
    assert(seen === before)
    assert(ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r2", numBuckets = 4)).docsProcessed === 0)
  }

  test("a crash between the claim and the data write is stale, and resumes to a clean run's rows") {
    val B = 8
    val clean = freshDir()
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(clean, "r1", numBuckets = B))
    // what such a crash leaves: the manifest and the claim rows; no data,
    // no terminal rows, no lineage row
    val out = freshDir()
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r1", numBuckets = B))
    Seq("data", "_lineage").foreach(t => delete(s"$out/$t"))
    loseCkptRows(out, col("status") =!= "running")
    assert(ExtractPipeline.staleCheckpoints(spark, out, 0.0).collect()
      .map(_.getAs[Int]("bucket")).sorted.toSeq === (0 until B))
    assert(ExtractPipeline.doneBuckets(spark, out, "extract").isEmpty)
    // the manifest records `data`, which has no directory: no rows, no violation
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)

    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r2", numBuckets = B))
    assert(ExtractPipeline.staleCheckpoints(spark, out, 0.0).count() === 0)
    assert(rowsOf(out, "data") === rowsOf(clean, "data"))
    assert(terminalRows(out) === terminalRows(clean))
    assert(rowsOf(out, "_lineage", "run_id", "run_ts") ===
      rowsOf(clean, "_lineage", "run_id", "run_ts"))
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
  }

  test("a crash between the data write and the terminal rows resumes to a clean run's rows") {
    val B = 8
    val clean = freshDir()
    val cleanCfg = ExtractPipeline.Config(clean, "r1", numBuckets = B)
    ExtractPipeline.run(spark, input, cleanCfg)
    llm(cleanCfg)
    // extract wrote its data, then lost its terminal rows and lineage row
    val out = freshDir()
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r1", numBuckets = B))
    loseCkptRows(out, col("status") =!= "running")
    delete(s"$out/_lineage")
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() > 0)
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r2", numBuckets = B))
    // then the llm stage did the same
    llm(ExtractPipeline.Config(out, "l1", numBuckets = B))
    loseCkptRows(out, col("stage") === "llm" && col("status") =!= "running")
    assert(ExtractPipeline.verifyCheckpoints(spark, out, "llm").count() > 0)
    llm(ExtractPipeline.Config(out, "l2", numBuckets = B))

    Seq("data", "llm").foreach(t => assert(rowsOf(out, t) === rowsOf(clean, t), t))
    assert(terminalRows(out) === terminalRows(clean))
    Seq("extract", "llm").foreach { st =>
      assert(ExtractPipeline.verifyCheckpoints(spark, out, st).count() === 0, st)
      assert(ExtractPipeline.staleCheckpoints(spark, out, 0.0, st).count() === 0, st)
    }
  }

  test("a store with bookkeeping files from a Spark-job writer and the driver writer") {
    import scala.jdk.CollectionConverters._
    val B = 8
    val ref = freshDir()
    val refCfg = ExtractPipeline.Config(ref, "r1", numBuckets = B)
    ExtractPipeline.run(spark, input, refCfg)
    llm(refCfg)

    // run 1 covers buckets 0-3; its files are rewritten as a Spark job
    // appended them, one file per write (claims, terminal rows, lineage)
    val out = freshDir()
    ExtractPipeline.run(spark, input.where(ExtractPipeline.bucketCol(B) < 4),
      ExtractPipeline.Config(out, "r1", numBuckets = B))
    val run1 = bookkeeping.map { case (t, _) => rowsOf(out, t) }
    bookkeeping.foreach { case (t, schema) =>
      val rows = spark.read.schema(schema).parquet(s"$out/$t").collect().toSeq
      delete(s"$out/$t")
      rows.groupBy(r => schema.fieldNames.contains("status") && r.getAs[String]("status") == "running")
        .values.foreach(part => spark.createDataFrame(part.asJava, schema).coalesce(1)
          .write.mode("append").parquet(s"$out/$t"))
    }
    assert(bookkeeping.map { case (t, _) => rowsOf(out, t) } === run1)
    // run 2 resumes under the driver writer, and runs the llm stage
    val cfg = ExtractPipeline.Config(out, "r2", numBuckets = B)
    assert(ExtractPipeline.run(spark, input, cfg).bucketsDone === 4)
    llm(cfg)

    def files(t: String) = new java.io.File(s"$out/$t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    def types = (timestampTypes(out, "_checkpoints", "started_ts"),
      timestampTypes(out, "_lineage", "run_ts"))
    assert(types === ((Set("INT96", "INT64"), Set("INT96", "INT64"))))
    // the driver reader decodes both kinds of file to the values Spark reads
    bookkeeping.foreach { case (t, schema) =>
      val driver = ExtractPipeline.StoreFiles.read(spark, s"$out/$t", schema).map(_.toString)
      val viaSpark = spark.read.schema(schema).parquet(s"$out/$t").collect().toSeq.map(r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.map {
          case ts: java.sql.Timestamp => ts.toInstant
          case v => v
        }).toString)
      assert(driver.sorted === viaSpark.sorted, t)
    }
    // schema inference reads every file of either kind with the writer's types
    bookkeeping.foreach { case (t, schema) =>
      assert(spark.read.parquet(s"$out/$t").schema === schema, t)
      files(t).foreach(f => assert(spark.read.parquet(f).schema === schema, f))
    }
    assert(sorted(spark.read.parquet(s"$out/_checkpoints").where(col("run_id") === "r1")) ===
      run1.head)

    def readers(dir: String) = (
      Seq("extract", "llm").map(st => (ExtractPipeline.doneBuckets(spark, dir, st),
        ExtractPipeline.verifyCheckpoints(spark, dir, st).count(),
        ExtractPipeline.staleCheckpoints(spark, dir, -1.0, st).count())),
      sorted(ExtractPipeline.metrics(spark, dir).drop("run_id", "finished_ts")),
      ExtractPipeline.metrics(spark, dir).schema)
    assert(readers(out) === readers(ref))
    assert(jobsOf("mixed-done")(ExtractPipeline.doneBuckets(spark, out, "llm"))._2 === 0)
    val all = bookkeeping.map { case (t, _) => rowsOf(out, t) }
    assert(ExtractPipeline.compactCheckpoints(spark, out) === all.head.size)
    assert(bookkeeping.map { case (t, _) => rowsOf(out, t) } === all)
    assert(readers(out) === readers(ref))
    // the rewrite is driver-written: one timestamp type per store
    assert(types === ((Set("INT64"), Set("INT64"))))
  }

  test("compaction and cleanup run no Spark job, and a crashed rewrite's _tmp adds no row") {
    val out = freshDir()
    val cfg = ExtractPipeline.Config(out, "r1", numBuckets = 4)
    ExtractPipeline.run(spark, input, cfg)
    llm(cfg)
    def rows = bookkeeping.map { case (t, _) => rowsOf(out, t) }
    val before = rows
    // a rewrite that died after staging leaves <store>_tmp with a file in it
    def strayTmp(): Unit = bookkeeping.foreach { case (t, _) =>
      val f = new java.io.File(s"$out/$t").listFiles().filter(_.getName.endsWith(".parquet")).head
      new java.io.File(s"$out/${t}_tmp").mkdirs()
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$out/${t}_tmp/part-stray.parquet"))
    }
    strayTmp()
    val written = writePlans {
      assert(jobsOf("compact")(ExtractPipeline.compactCheckpoints(spark, out)) ===
        ((before.head.size, 0)))
      assert(rows === before)
      strayTmp()
      assert(jobsOf("cleanup")(ExtractPipeline.cleanupCheckpoints(spark, out, 24)) ===
        ((before.head.size, 0)))
    }
    assert(written.isEmpty)
    assert(rows === before)
    bookkeeping.foreach { case (t, _) =>
      assert(!new java.io.File(s"$out/${t}_tmp").exists(), t)
      assert(timestampTypes(out, t, if (t == "_lineage") "run_ts" else "started_ts") ===
        Set("INT64"), t)
    }
  }

  test("the bookkeeping views scan no _checkpoints file; an llm stage that never ran is clean") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = freshDir()
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r1", numBuckets = 4))
    val views = Seq(
      ExtractPipeline.metrics(spark, out),
      ExtractPipeline.verifyCheckpoints(spark, out),
      ExtractPipeline.staleCheckpoints(spark, out, -1.0))
    assert(views.map(_.count()) === Seq(4L, 0L, 0L))
    views.foreach { v =>
      v.collect()
      val scanned = Aqe.collect(v.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
      }.flatten
      assert(!scanned.contains("_checkpoints"), s"\n${v.queryExecution.executedPlan}")
    }
    assert(ExtractPipeline.verifyCheckpoints(spark, out, "llm").collect().isEmpty)
  }

  test("store manifest records the schemas spark.read.parquet infers (string and long doc_id)") {
    val docIdTypes = Seq(input, longKeyed).map { in =>
      val out = freshDir()
      val cfg = ExtractPipeline.Config(out, "r1", numBuckets = 4)
      ExtractPipeline.run(spark, in, cfg)
      ExtractPipeline.runLlmStage(spark, cfg,
        transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
      val m = ExtractPipeline.manifest(spark, out)
      assert(m.numBuckets === 4)
      assert(m.schemas.keySet === Set("data", "llm"))
      m.schemas.foreach { case (table, schema) =>
        assert(schema === spark.read.parquet(s"$out/$table").schema, table)
      }
      m.schemas("data")("doc_id").dataType
    }
    assert(docIdTypes === Seq(org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.LongType))
  }

  test("resume with another numBuckets or doc_id type fails before claiming anything") {
    val out = freshDir()
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r8", numBuckets = 8))
    val before = snapshot(out)
    // a 16-bucket resume would claim buckets 8-15 and store documents a
    // second time under the other layout
    val e = intercept[IllegalArgumentException] {
      ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r16", numBuckets = 16))
    }
    assert(e.getMessage.contains("numBuckets=8"))
    intercept[IllegalArgumentException] {
      ExtractPipeline.run(spark, longKeyed, ExtractPipeline.Config(out, "rl", numBuckets = 8))
    }
    intercept[IllegalArgumentException] {
      ExtractPipeline.runLlmStage(spark, ExtractPipeline.Config(out, "l16", numBuckets = 16),
        transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    }
    assert(snapshot(out) === before)
    assert(spark.read.parquet(s"$out/data").select("doc_id").distinct().count() ===
      input.count())
    assert(Queries.storedNumBuckets(spark, out) === Some(8))
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
  }

  test("each stage writes one parquet file per bucket, through a resume") {
    val out = freshDir()
    val B = 8
    // a document past the salter's threshold, so the heavy path's shuffle
    // output is clustered too, in an input of 4 partitions that each hold
    // rows of every bucket
    val n = graft.pipeline.SkewSalter.DefaultHeavyThreshold + 100
    val heavy = input.limit(1).select(concat(col("doc_id"), lit("-heavy")).as("doc_id"),
      transform(sequence(lit(0), lit(n - 1)), i => struct(lit("text").as("kind"),
        concat(lit("w"), i.cast("string")).as("text"),
        lit(null).cast("string").as("media_ref"), i.as("offset"))).as("spans"))
    val in = input.unionByName(heavy).repartition(4)
    assert(in.rdd.getNumPartitions === 4)
    val cfg = ExtractPipeline.Config(out, "r1", numBuckets = B)
    ExtractPipeline.run(spark, in, cfg)
    ExtractPipeline.runLlmStage(spark, cfg,
      transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    // a crash lost bucket 2's terminal rows in both stages: the resume
    // recomputes and rewrites that bucket only
    loseCkptRows(out, col("bucket") === 2 && col("status") =!= "running")
    val cfg2 = ExtractPipeline.Config(out, "r2", numBuckets = B)
    assert(ExtractPipeline.run(spark, in, cfg2).bucketsRun === 1)
    assert(ExtractPipeline.runLlmStage(spark, cfg2,
      transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L).bucketsRun === 1)

    Seq("data", "llm").foreach { t =>
      val files = new java.io.File(s"$out/$t").listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      assert(files.size === B, t)
      assert(files.values.forall(_ == 1), s"$t: $files")
      assert(spark.read.parquet(s"$out/$t").count() === input.count() + 1, t)
    }
    assert(spark.read.parquet(s"$out/data").where(col("doc_id").endsWith("-heavy")).count() === 1)
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
    assert(ExtractPipeline.verifyCheckpoints(spark, out, "llm").count() === 0)
  }

  test("llm rows land in their data row's bucket, from one scan of data/ and no join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    Seq(input, longKeyed).foreach { in =>
      val out = freshDir()
      val cfg = ExtractPipeline.Config(out, "r1", numBuckets = 8)
      ExtractPipeline.run(spark, in, cfg)
      val plans = writePlans(ExtractPipeline.runLlmStage(spark, cfg,
        transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L))
        .collect { case ("llm", p) => p }
      assert(plans.size === 1)
      val scans = Aqe.collect(plans.head) { case s: FileSourceScanExec => s }
      assert(scans.map(_.relation.location.rootPaths.map(_.getName)) === Seq(Seq("data")),
        s"\n${plans.head}")
      assert(Aqe.collect(plans.head) { case j: BaseJoinExec => j }.isEmpty, s"\n${plans.head}")

      val data = spark.read.parquet(s"$out/data")
        .select(col("doc_id").cast("string").as("doc_id"), col("bucket").as("data_bucket"))
      val both = spark.read.parquet(s"$out/llm").select("doc_id", "bucket")
        .join(data, Seq("doc_id"), "full_outer")
      assert(both.count() === in.count())
      assert(both.where(!(col("bucket") <=> col("data_bucket"))).count() === 0)
    }
  }

  test("the llm stage rejects a doc_id type it cannot bucket back, before claiming") {
    val out = freshDir()
    val cfg = ExtractPipeline.Config(out, "r1", numBuckets = 4)
    ExtractPipeline.run(spark,
      input.withColumn("doc_id", substring(col("doc_id"), 5, 8).cast("double")), cfg)
    val before = snapshot(out)
    val e = intercept[IllegalArgumentException] {
      ExtractPipeline.runLlmStage(spark, cfg,
        transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    }
    assert(e.getMessage.contains("doc_id double"))
    assert(snapshot(out) === before)
    assert(!new java.io.File(s"$out/llm").exists())
    assert(ExtractPipeline.manifest(spark, out).schemas.keySet === Set("data"))
  }

  test("LLM stage (P2/P3) runs checkpointed over extract-done buckets and resumes") {
    val out = freshDir()
    val B = 4
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r1", numBuckets = B))

    val r1 = ExtractPipeline.runLlmStage(spark,
      ExtractPipeline.Config(out, "llm-1", numBuckets = B),
      transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    assert(r1.bucketsDone === 0)
    assert(r1.docsProcessed === input.count())

    // one reply row per extracted doc, formatted, no transport errors
    val llm = spark.read.parquet(s"$out/llm")
    assert(llm.count() === input.count())
    assert(llm.where(col("llm_error").isNotNull).count() === 0)
    assert(llm.where(col("formatted_response").isNull).count() === 0)

    // rerun is a no-op (all buckets llm-done)
    val r2 = ExtractPipeline.runLlmStage(spark,
      ExtractPipeline.Config(out, "llm-2", numBuckets = B), transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    assert(r2.docsProcessed === 0L)

    // simulate a crash: drop one bucket's llm checkpoint rows -> resume
    // recomputes exactly that bucket, idempotently
    loseCkptRows(out, col("stage") === "llm" && col("bucket") === 1)
    // the stage-aware invariant checker flags the missing llm checkpoint
    // (data exists for bucket 1 but no done row) before the resume...
    assert(ExtractPipeline.verifyCheckpoints(spark, out, "llm")
      .select("bucket").collect().map(_.getInt(0)).toSeq === Seq(1))
    val r3 = ExtractPipeline.runLlmStage(spark,
      ExtractPipeline.Config(out, "llm-3", numBuckets = B), transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    assert(r3.bucketsRun === 1)
    // ...and is clean after it; extract-stage view stays healthy too
    assert(ExtractPipeline.verifyCheckpoints(spark, out, "llm").count() === 0)
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
    // llm claim rows are visible to the stage-aware stuck scan
    assert(ExtractPipeline.staleCheckpoints(spark, out, -1.0, "llm").count() === 0)
    assert(spark.read.parquet(s"$out/llm").count() === input.count())
    assert(spark.read.parquet(s"$out/llm")
      .select("doc_id").distinct().count() === input.count())

    // transport failures become dead-letter ROWS with per-bucket counts
    val out2 = freshDir()
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out2, "r1", numBuckets = B))
    ExtractPipeline.runLlmStage(spark,
      ExtractPipeline.Config(out2, "llm-1", numBuckets = B),
      transport = LlmStageSpec.BrokenPromptTransport(), backoffMs = _ => 0L)
    val dead = spark.read.parquet(s"$out2/llm")
    assert(dead.where(col("llm_error").isNotNull).count() === input.count())
    val ck = spark.read.parquet(s"$out2/_checkpoints")
      .where(col("stage") === "llm" && col("status") === "done")
    assert(ck.agg(sum("n_errors")).collect()(0).getLong(0) === input.count())
  }

  test("LLM bucket yielding zero rows gets a terminal checkpoint, not stuck") {
    val out = freshDir()
    val B = 4
    ExtractPipeline.run(spark, input, ExtractPipeline.Config(out, "r1", numBuckets = B))

    // poison one stored bucket: every row loses its doc_id, so the llm
    // stage drops them all and writes NOTHING for that bucket (the ADVICE
    // scenario: a claimed bucket absent from the written output)
    val data = spark.read.parquet(s"$out/data")
    val poisoned = data.where(col("bucket") === 1)
      .withColumn("doc_id", lit(null).cast("string"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    poisoned.write.mode("overwrite").partitionBy("bucket").parquet(s"$out/data")

    val r1 = ExtractPipeline.runLlmStage(spark,
      ExtractPipeline.Config(out, "llm-1", numBuckets = B), transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    assert(r1.bucketsRun === B - 1) // bucket 1 produced no output rows

    // bucket 1 still got a TERMINAL 0-doc done row...
    val ck = spark.read.parquet(s"$out/_checkpoints")
      .where(col("stage") === "llm" && col("bucket") === 1 && col("status") === "done")
      .collect()
    assert(ck.length === 1)
    assert(ck(0).getAs[Long]("n_docs") === 0L)
    // ...so the stuck scan is quiet, the invariant checker accepts the
    // fileless 0-doc bucket (missing data partition == 0 docs), and a
    // rerun is a no-op instead of recomputing the bucket forever
    assert(ExtractPipeline.staleCheckpoints(spark, out, -1.0, "llm").count() === 0)
    assert(ExtractPipeline.verifyCheckpoints(spark, out, "llm").count() === 0)
    val r2 = ExtractPipeline.runLlmStage(spark,
      ExtractPipeline.Config(out, "llm-2", numBuckets = B), transport = graft.llm.LlmStage.EchoTransport(), backoffMs = _ => 0L)
    assert(r2.docsProcessed === 0L)
    assert(r2.bucketsRun === 0)
  }

  test("compaction folds N runs' small files into one, resume semantics intact") {
    val out = freshDir()
    val B = 4
    // several runs against the same store: run 1 does the work, later runs
    // are no-ops but still append claim/lineage files — the small-file
    // accumulation the compactor exists for
    (1 to 4).foreach { i =>
      ExtractPipeline.run(spark, input,
        ExtractPipeline.Config(out, s"run-$i", numBuckets = B))
    }
    def parquetFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$out/_checkpoints") > 1)
    assert(parquetFiles(s"$out/_lineage") > 1)
    val doneBefore = spark.read.parquet(s"$out/_checkpoints")
      .where(col("status") === "done").count()
    val metricsBefore = ExtractPipeline.metrics(spark, out)
      .orderBy("bucket").collect().toSeq

    val kept = ExtractPipeline.compactCheckpoints(spark, out)

    // one file per store, zero rows lost, identical metrics view
    assert(parquetFiles(s"$out/_checkpoints") === 1)
    assert(parquetFiles(s"$out/_lineage") === 1)
    assert(kept === spark.read.parquet(s"$out/_checkpoints").count())
    assert(spark.read.parquet(s"$out/_checkpoints")
      .where(col("status") === "done").count() === doneBefore)
    assert(spark.read.parquet(s"$out/_lineage").count() === 4)
    assert(ExtractPipeline.metrics(spark, out)
      .orderBy("bucket").collect().toSeq === metricsBefore)

    // resume after compaction is still a no-op
    val r = ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "run-post", numBuckets = B))
    assert(r.bucketsDone === B)
    assert(r.docsProcessed === 0)
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
  }

  test("oversize cap (V2) records an error row instead of extracting") {
    val out = freshDir()
    val cap = 400L
    ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r1", numBuckets = 4,
        oversizeCapChars = Some(cap)))
    val data = spark.read.parquet(s"$out/data")
    // every input doc still has exactly one output row (resume invariant)
    assert(data.count() === input.count())
    val oversize = data.where(
      element_at(col("spans"), 1).getField("text")
        .startsWith(ExtractPipeline.OversizePrefix))
    val expected = input.select(aggregate(col("spans"), lit(0L),
      (acc, s) => acc + coalesce(length(s.getField("text")), lit(0))).as("c"))
      .where(col("c") > cap).count()
    assert(oversize.count() === expected)
    assert(expected > 0)
    assert(oversize.where(size(col("spans")) =!= 1).count() === 0)
    assert(ExtractPipeline.verifyCheckpoints(spark, out).count() === 0)
  }

  test("metrics view exposes latest done counters per bucket") {
    val out = freshDir()
    ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r1", numBuckets = 4))
    val m = ExtractPipeline.metrics(spark, out)
    assert(m.count() === 4) // one row per bucket, running rows excluded
    assert(m.agg(sum("n_docs")).collect()(0).getLong(0) === input.count())
  }

  test("written output carries per-doc dead-letter counts into checkpoints") {
    val out = freshDir()
    ExtractPipeline.run(spark, input,
      ExtractPipeline.Config(out, "r1", numBuckets = 4))
    val fromCkpt = spark.read.parquet(s"$out/_checkpoints")
      .agg(sum("n_dead_letter")).collect()(0).getLong(0)
    val fromInput = input
      .select(graft.extract.Extractor.deadLetterCount(col("spans")).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(fromCkpt === fromInput)
    assert(fromInput > 0) // the synth corpus plants unknown-kind spans
  }
}
