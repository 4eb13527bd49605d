package graft.pipeline

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, MapType,
  ShortType, StringType, StructType}
import scala.jdk.CollectionConverters._

/** The resumable extraction job (north_rule: "resumable from checkpoint
  * with per-partition lineage + metrics"; SURVEY.md §3.4). Re-expresses the
  * reference's per-row status state machine (reference models.py:8-13) and
  * its manual repair script (reference fix_extraction_bug.py:26-70) as
  * bucket-level checkpointing: stage completion IS the status, and resume =
  * anti-join of buckets against done checkpoints.
  *
  * Layout under `outDir` (bucketed Parquet with Iceberg-compatible layout
  * semantics — no Iceberg jar in-sandbox, see SURVEY.md §7.1):
  *   data/bucket=N/            extracted docs (+ per-doc n_dead counter),
  *                             parquet partitioned by bucket: one file per
  *                             bucket per stage run, written by one task
  *   llm/bucket=N/             the llm stage's replies, laid out the same
  *   _checkpoints/             [[CkptSchema]]; a stage run appends one file
  *                             of status='running' rows for the buckets it
  *                             claims, then ONE file of terminal rows when
  *                             it commits ([[commitStage]]) — so a crashed
  *                             run leaves 'running' rows the stuck scan
  *                             (Q6) finds
  *   _lineage/                 [[LineageSchema]], one row per extract run
  *                             (the audit record; no reader depends on it).
  *                             Both are written and read on the driver, by
  *                             [[StoreFiles]] alone: no Spark job
  *   _manifest.json            the store [[Manifest]]: `numBuckets` and the
  *                             reader schema of each stage table, written
  *                             by [[commitStage]] before the table's data
  * The metrics surface is [[metrics]] — a view over `_checkpoints`
  * (latest done row per bucket), not a second store to keep consistent.
  * Every reader of `_checkpoints` / `_lineage` goes through
  * [[StoreFiles.read]], on the driver; the DataFrame views ([[metrics]],
  * [[verifyCheckpoints]], [[staleCheckpoints]]) are built over its rows.
  * Every reader of a stage table goes through [[readTable]] with the
  * manifest's schema. So no read runs a schema-inference job. A directory
  * without a manifest is not a store: its stage tables have no reader.
  *
  * Buckets come from `pmod(xxhash64(doc_id), numBuckets)` — uniform for any
  * id distribution (monotonic int-derived ids included), and the output
  * directory partitioning lets resume prune scans to missing buckets only.
  *
  * Scan discipline: the job reads its input from storage ONCE. The tagged
  * projection (bucket + per-doc dead-letter count) persists with
  * MEMORY_AND_DISK, and the skew salter's light/heavy split plus the heavy
  * chunk path all read the persisted copy — at deployment scale one
  * materialized pass (spilling to executor-local disk) beats re-scanning a
  * remote 100 TB source three times, which is what the naive
  * dead-agg + light + heavy layout did. Dead-letter counts ride through
  * extraction as a carried column and are aggregated from the WRITTEN
  * output, so no separate input-side aggregate exists at all. Extraction
  * itself is map-only; the stage output shuffles once, at commit, so that
  * each bucket is written by exactly one task ([[commitStage]]).
  */
object ExtractPipeline {

  case class Config(
      outDir: String,
      runId: String,
      numBuckets: Int = 32,
      inputPath: String = "",
      // V2 size cap (reference utils.py:504-506, main.py:258-264): docs
      // whose input span chars exceed the cap are recorded as a single
      // error span instead of extracted — the job continues (the reference
      // rejects the request; a 10^12-doc job must not die per row)
      oversizeCapChars: Option[Long] = None)

  /** Oversize sentinel prefix (kind="error" span text). */
  val OversizePrefix = "[ERRO: Arquivo excede o limite de "

  case class RunReport(bucketsTotal: Int, bucketsDone: Int, bucketsRun: Int,
      docsProcessed: Long)

  object BuildInfo { val version = "0.1.0" }

  private val Stage = "extract"
  private val LlmStageName = "llm"

  /** Data subdirectory per checkpointed stage (the write, read and verify
    * surfaces resolve their table through this map, so the invariant
    * checker covers every stage, not just extract).
    */
  private val StageData = Map(Stage -> "data", LlmStageName -> "llm")

  /** `_checkpoints` row schema: appended only by [[appendCkpt]],
    * rewritten only by [[rewriteKeeping]], read only by [[StoreFiles.read]].
    * The counters a stage does not measure stay null.
    */
  private[graft] val CkptSchema = StructType.fromDDL(
    "run_id STRING, stage STRING, bucket INT, status STRING, n_docs BIGINT, " +
      "n_spans BIGINT, text_chars BIGINT, n_images BIGINT, n_errors BIGINT, " +
      "n_dead_letter BIGINT, started_ts TIMESTAMP, finished_ts TIMESTAMP")

  /** The `_checkpoints` columns a done set reads. */
  private val DoneColumns = StructType(Seq("stage", "bucket", "status").map(CkptSchema(_)))

  /** `_lineage` row schema: one row per extract run, written by [[run]]. */
  private[graft] val LineageSchema = StructType.fromDDL(
    "run_id STRING, input_path STRING, code_version STRING, " +
      "params_json STRING, run_ts TIMESTAMP")

  /** THE bucket function of the storage layout — every consumer (the
    * write path, resume, and the serving layer's driver-side pruning)
    * derives from this one definition, so the layout can never drift
    * from its readers.
    */
  def bucketColOf(id: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(id), lit(numBuckets.toLong)).cast("int")

  def bucketCol(numBuckets: Int) = bucketColOf(col("doc_id"), numBuckets)

  /** Bucket of one FOLDABLE doc id (a literal, or a literal cast to the
    * stored `doc_id` type): the same expression as [[bucketCol]], analyzed
    * and evaluated on the driver, so no Spark job runs. Used by the serving
    * layer to turn a point lookup into a partition-pruning predicate.
    */
  def bucketOfId(spark: SparkSession, docId: Column, numBuckets: Int): Int =
    spark.range(1).select(bucketColOf(docId, numBuckets))
      .queryExecution.analyzed.expressions.head.eval().asInstanceOf[Int]

  /** Buckets already checkpointed 'done' for this stage (any run). A
    * bucket checkpointed 'empty' (claimed, no data in that run's input) is
    * NOT done: a later resume with a fuller input must recompute it.
    */
  def doneBuckets(spark: SparkSession, outDir: String, stage: String): Set[Int] =
    doneByStage(spark, outDir).getOrElse(stage, Set.empty)

  /** Done buckets of every stage from ONE `_checkpoints` read, on the
    * driver ([[StoreFiles.read]]): three columns of a few hundred rows, so
    * no Spark job runs.
    */
  private def doneByStage(spark: SparkSession, outDir: String): Map[String, Set[Int]] =
    StoreFiles.read(spark, s"$outDir/_checkpoints", DoneColumns)
      .collect { case Row(stage: String, bucket: Int, "done") => stage -> bucket }
      .groupMap(_._1)(_._2).map { case (s, bs) => s -> bs.toSet }

  /** `_checkpoints` as a DataFrame over the driver's rows: it scans no file. */
  private def readCkpt(spark: SparkSession, outDir: String): DataFrame =
    spark.createDataFrame(StoreFiles.read(spark, s"$outDir/_checkpoints", CkptSchema).asJava,
      CkptSchema)

  /** The store manifest: the bucket count of the layout and, per stage
    * table written so far (`data`, `llm`), the schema its readers see. The
    * table schema depends on the input (a long-keyed input stores a long
    * `doc_id`), so it is recorded at write time rather than inferred from
    * parquet footers by a Spark job on every read.
    */
  private[graft] case class Manifest(numBuckets: Int, schemas: Map[String, StructType])

  private val ManifestFile = "_manifest.json"
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The store's manifest, read on the driver (no Spark job); None when
    * `outDir` holds none, i.e. is not a store.
    */
  private[graft] def readManifest(spark: SparkSession, outDir: String): Option[Manifest] = {
    val path = s"$outDir/$ManifestFile"
    recoverStore(spark, path)
    if (!fileExists(spark, path)) None
    else {
      val in = hadoopFs(spark, path).open(new org.apache.hadoop.fs.Path(path))
      val root = try Json.readTree(in) finally in.close()
      Some(Manifest(root.get("numBuckets").asInt,
        root.get("schemas").properties.asScala.map(e =>
          e.getKey -> DataType.fromJson(e.getValue.toString).asInstanceOf[StructType]).toMap))
    }
  }

  /** [[readManifest]] for a reader that needs a store. */
  private[graft] def manifest(spark: SparkSession, outDir: String): Manifest =
    readManifest(spark, outDir).getOrElse(throw new IllegalArgumentException(
      s"$outDir is not a pipeline store: no manifest $outDir/$ManifestFile"))

  /** Writes `m` as `<outDir>/_manifest.json_tmp`, then swaps it in
    * ([[swapIn]]), so a crash never leaves a half-written manifest.
    */
  private def writeManifest(spark: SparkSession, outDir: String, m: Manifest): Unit = {
    val root = Json.createObjectNode().put("numBuckets", m.numBuckets)
    val schemas = root.putObject("schemas")
    m.schemas.toSeq.sortBy(_._1).foreach { case (table, s) =>
      schemas.set[com.fasterxml.jackson.databind.JsonNode](table, Json.readTree(s.json))
    }
    val path = s"$outDir/$ManifestFile"
    val out = hadoopFs(spark, path).create(new org.apache.hadoop.fs.Path(s"${path}_tmp"), true)
    try Json.writeValue(out: java.io.OutputStream, root) finally out.close()
    swapIn(spark, path)
  }

  /** The schema a reader of a bucket-partitioned table sees for a written
    * `schema`: the data columns, then the `bucket` partition column, all
    * nullable (file sources read every column as nullable).
    */
  private def readerSchema(schema: StructType): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    val (bucket, data) = schema.fields.partition(_.name == "bucket")
    nullable(StructType(data ++ bucket)).asInstanceOf[StructType]
  }

  /** The manifest after a commit of `table` written with `schema`. An
    * existing manifest must agree with `cfg.numBuckets` and with the
    * table's recorded schema — a run with another layout would claim
    * buckets that mean other documents, and store some documents twice —
    * so a mismatch fails here, before any claim or write. A changed
    * manifest is written before the table's data, so no data lands without
    * one.
    */
  private def commitManifest(spark: SparkSession, cfg: Config, table: String,
      schema: StructType): Manifest = {
    val prior = readManifest(spark, cfg.outDir)
    val stored = readerSchema(schema)
    prior.foreach { m =>
      require(m.numBuckets == cfg.numBuckets, s"${cfg.outDir} was written with " +
        s"numBuckets=${m.numBuckets} (from its manifest); this run has " +
        s"numBuckets=${cfg.numBuckets}")
      m.schemas.get(table).foreach(s => require(s == stored,
        s"${cfg.outDir}/$table was written with schema ${s.simpleString}; this " +
          s"run writes ${stored.simpleString}"))
    }
    val m = Manifest(cfg.numBuckets,
      prior.fold(Map.empty[String, StructType])(_.schemas) + (table -> stored))
    if (!prior.contains(m)) writeManifest(spark, cfg.outDir, m)
    m
  }

  /** THE reader of a stage table (`data`, `llm`), with the schema `m`
    * records for it: no schema-inference job.
    */
  private[graft] def readTable(spark: SparkSession, outDir: String, table: String,
      m: Manifest): DataFrame =
    spark.read.schema(tableSchema(outDir, table, m)).parquet(s"$outDir/$table")

  /** [[readTable]] restricted to `bucket`: only that bucket's directory is
    * listed (`basePath` keeps `bucket` a partition column), and the bucket
    * predicate stays in the plan as a partition filter. A bucket with no
    * directory (no document of the store hashes to it) reads as no rows.
    */
  private[graft] def readBucket(spark: SparkSession, outDir: String, table: String,
      m: Manifest, bucket: Int): DataFrame = {
    val schema = tableSchema(outDir, table, m)
    val dir = s"$outDir/$table/bucket=$bucket"
    (if (fileExists(spark, dir))
       spark.read.schema(schema).option("basePath", s"$outDir/$table").parquet(dir)
     else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
      .where(col("bucket") === bucket)
  }

  private[graft] def tableSchema(outDir: String, table: String, m: Manifest): StructType =
    m.schemas.getOrElse(table, throw new IllegalArgumentException(
      s"the manifest of $outDir records no `$table` table"))

  /** Crash recovery for [[swapIn]] (the checkpoint/lineage rewrite and the
    * manifest write): if the store is missing but the renamed-aside copy
    * exists (crash between the two renames), restore it — otherwise every
    * reader sees an empty store and resume recomputes the world.
    */
  private def recoverStore(spark: SparkSession, path: String): Unit =
    synchronized {
      val fs = hadoopFs(spark, path)
      val p = new org.apache.hadoop.fs.Path(path)
      val pOld = new org.apache.hadoop.fs.Path(s"${path}_old")
      if (!fs.exists(p) && fs.exists(pOld)) {
        // The rename result is deliberately tolerated either way: a
        // concurrent recoverer winning the race leaves the source gone
        // (rename returns false — fine, the store is restored). The
        // harmful interleave — the destination appearing BETWEEN the
        // exists-check and the rename, which nests pOld INSIDE the
        // restored store — is detected and undone here. In-JVM racers
        // (serving layer + pipeline share a driver) are serialized by the
        // monitor; a cross-process race against a live cleanup aborts
        // loudly in rewriteKeeping's rename guards.
        if (fs.rename(pOld, p)) {
          val nested = new org.apache.hadoop.fs.Path(p, pOld.getName)
          // the undo rename must not fail silently: a stuck nested _old
          // directory inside the restored store makes every reader see
          // phantom extra files — fail loudly so the operator intervenes
          if (fs.exists(nested) && !fs.rename(nested, pOld))
            throw new IllegalStateException(
              s"recoverStore: restored $path but could not move nested " +
                s"$nested back out — readers would see phantom checkpoint rows")
        }
      }
    }

  private def fileExists(spark: SparkSession, path: String): Boolean =
    hadoopFs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  private def hadoopFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One `_checkpoints` row, bound to [[CkptSchema]] by field name:
    * `counters` holds the counter columns a stage measures (the rest stay
    * null).
    */
  private def ckptRow(runId: String, stage: String, bucket: Int, status: String,
      startedTs: Instant, finishedTs: Option[Instant],
      counters: Map[String, Any] = Map.empty): Row =
    Row.fromSeq(CkptSchema.fieldNames.toSeq.map {
      case "run_id" => runId
      case "stage" => stage
      case "bucket" => bucket
      case "status" => status
      case "started_ts" => startedTs
      case "finished_ts" => finishedTs.orNull
      case counter => counters.getOrElse(counter, null)
    })

  /** THE appender of `_checkpoints`: one file per call, written on the
    * driver ([[StoreFiles.append]]), with the one [[CkptSchema]] — a
    * divergent schema would append parquet files every reader then unions.
    */
  private def appendCkpt(spark: SparkSession, rows: Seq[Row], outDir: String): Unit =
    if (rows.nonEmpty) StoreFiles.append(spark, s"$outDir/_checkpoints", CkptSchema, rows)

  /** THE commit path of a checkpointed stage. Checks and writes the store
    * manifest ([[commitManifest]]), claims the buckets, writes `output` into
    * the stage's bucketed table (dynamic partition overwrite: only the
    * claimed buckets' directories are replaced, so a re-run after a crash is
    * idempotent), reads it back with the manifest's schema, aggregates
    * the named `counters` (`n_docs` among them) per claimed bucket ONCE
    * and collects that (at most numBuckets rows) to the driver. From that
    * array it appends every claimed bucket's terminal row as ONE
    * `_checkpoints` file and builds the [[RunReport]]. Counting the WRITTEN
    * output verifies the write like the reference's paranoid re-read
    * (reference workers.py:91-109), as one scan instead of per-row
    * round-trips.
    *
    * The write is clustered by bucket: `output` is hash-repartitioned on
    * `bucket` into `min(numBuckets, defaultParallelism)` partitions, so each
    * bucket is written by exactly one task, as one file, and every task
    * slot writes. A task writes one file per bucket it holds rows for, and
    * each file has a fixed creation cost, so an unclustered write pays it
    * up to `numBuckets` times per task. The count is explicit because
    * adaptive execution would coalesce a small shuffle into one serial
    * write task.
    *
    * `emptyStatus` closes a claimed bucket with no output rows, so the
    * stuck scan does not flag it forever. The stages differ on purpose:
    * extract writes 'empty', which resume does NOT count as done (a fuller
    * input may cover the bucket later); llm writes a 0-doc 'done', because
    * its input is the frozen extract output and a rerun would yield the
    * same nothing.
    */
  private def commitStage(spark: SparkSession, cfg: Config, stage: String,
      claimed: Seq[Int], doneBefore: Int, output: DataFrame,
      counters: Seq[Column], emptyStatus: String): RunReport = {
    val table = StageData(stage)
    val m = commitManifest(spark, cfg, table, output.schema)
    val startedTs = Instant.now()
    // the claim: one 'running' row per claimed bucket, from the driver-local
    // list (no input scan); the stuck scan keys off these
    appendCkpt(spark, claimed.map(ckptRow(cfg.runId, stage, _, "running", startedTs, None)),
      cfg.outDir)
    output.repartition(math.min(cfg.numBuckets, spark.sparkContext.defaultParallelism),
        col("bucket"))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(s"${cfg.outDir}/$table")
    // the manifest's schema also reads an all-empty run's fileless
    // directory, where schema inference over zero files would throw
    val agg = readTable(spark, cfg.outDir, table, m)
      .where(col("bucket").isin(claimed: _*))
      .groupBy("bucket").agg(counters.head, counters.tail: _*)
    val names = agg.columns.toSeq.tail
    val perBucket = agg.collect().map(r => r.getInt(0) -> r.getValuesMap[Any](names)).toMap
    val finishedTs = Some(Instant.now())
    appendCkpt(spark, claimed.map(b => perBucket.get(b) match {
      case Some(cs) => ckptRow(cfg.runId, stage, b, "done", startedTs, finishedTs, cs)
      case None => ckptRow(cfg.runId, stage, b, emptyStatus, startedTs, finishedTs,
        names.map(_ -> 0L).toMap)
    }), cfg.outDir)
    RunReport(cfg.numBuckets, doneBefore, perBucket.size,
      perBucket.values.map(_("n_docs").asInstanceOf[Long]).sum)
  }

  private def spanChars(spans: Column): Column =
    aggregate(spans, lit(0L), (acc, s) => acc + coalesce(length(s.getField("text")), lit(0)))

  /** Run (or resume) the extraction job. Only buckets without a 'done'
    * checkpoint are computed and committed through [[commitStage]]; a
    * resume must keep the store's `numBuckets` and input schema, or it
    * fails before claiming anything.
    */
  def run(spark: SparkSession, input: DataFrame, cfg: Config): RunReport = {
    val done = doneBuckets(spark, cfg.outDir, Stage)
    val claimed = (0 until cfg.numBuckets).filterNot(done)

    // THE input scan: bucket + per-doc dead-letter count tagged in one
    // projection, persisted so the light/heavy split below re-reads the
    // materialized copy, not the source (see object scaladoc)
    val bucketed = input
      .withColumn("bucket", bucketCol(cfg.numBuckets))
      .withColumn("n_dead", graft.extract.Extractor.deadLetterCount(col("spans")))
    val todo =
      (if (done.isEmpty) bucketed
       else bucketed.where(!col("bucket").isin(done.toSeq: _*)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // n_dead rides through extraction as a carried column (unknown kinds
    // are dropped by the kernel, so the count must be taken from the input
    // side — but it is WRITTEN with the output and aggregated from there)
    val extracted = cfg.oversizeCapChars match {
      case None => SkewSalter.extract(todo)
      case Some(cap) =>
        // V2 cap: both branches read the SAME persisted projection — still
        // one source scan; oversize docs keep a row (resume invariants:
        // data covers every input doc exactly once)
        val chars = spanChars(col("spans"))
        val normal = todo.where(chars <= cap)
        val oversize = todo.where(chars > cap).select(
          col("doc_id"), col("bucket"), col("n_dead"),
          array(struct(
            lit("error").as("kind"),
            concat(lit(OversizePrefix), lit(cap), lit(" caracteres: "),
              col("doc_id"), lit("]")).as("text"),
            lit(null).cast("string").as("media_ref"),
            lit(0).as("offset"))).as("spans"))
        SkewSalter.extract(normal).unionByName(oversize)
    }

    val spans = col("spans")
    val kinds = (k: String) => sum(size(filter(spans, s => s.getField("kind") === k)))
    val report = try commitStage(spark, cfg, Stage, claimed, done.size, extracted, Seq(
        count(lit(1)).as("n_docs"),
        sum(size(spans)).as("n_spans"),
        sum(spanChars(spans)).as("text_chars"),
        kinds("image").as("n_images"),
        kinds("error").as("n_errors"),
        sum(col("n_dead")).as("n_dead_letter")),
      emptyStatus = "empty")
    finally todo.unpersist()

    val params = s"""{"numBuckets":${cfg.numBuckets},"heavyThreshold":""" +
      s"""${SkewSalter.DefaultHeavyThreshold},"chunkTarget":${SkewSalter.DefaultChunkTarget}}"""
    StoreFiles.append(spark, s"${cfg.outDir}/_lineage", LineageSchema,
      Seq(Row(cfg.runId, cfg.inputPath, BuildInfo.version, params, Instant.now())))
    report
  }

  /** P2/P3 as a CHECKPOINTED pipeline stage (reference workers.py:145-345:
    * the prompt→LLM→format chain that follows extraction), with the same
    * bucket-resume discipline as the extract stage: only buckets that are
    * extract-'done' but not llm-'done' are computed, claim rows make a
    * crashed run visible to the stuck scan, and [[commitStage]] commits
    * them. Layout adds `llm/bucket=N/` rows `(doc_id, full_prompt,
    * llm_response, llm_error, llm_attempts, formatted_response)`; dead-lettered transport failures
    * are ROWS here (`llm_error` set), counted per bucket in `n_errors`.
    *
    * The stage scans `data/` once and joins nothing: a reply's `bucket` is
    * recomputed from its `doc_id`, which `generate` stringifies, cast back
    * to the `doc_id` type the manifest records for `data`. The cast-back is
    * exact for string and integral ids (`xxhash64` of the restored value is
    * the write path's), so a `data` table keyed by any other type fails
    * here with `IllegalArgumentException`, before anything is claimed.
    *
    * The transport is the pluggable [[graft.llm.LlmStage.LlmTransport]]
    * (liveness-probed at submit; EchoTransport in-sandbox — the network
    * call stays out of the extraction invariant, SURVEY.md §0).
    */
  def runLlmStage(spark: SparkSession, cfg: Config,
      model: String = graft.llm.LlmStage.DefaultModel,
      // deployment entry point: the transport comes from the
      // GRAFT_LLM_TRANSPORT env gate (echo unless a deployment opts in —
      // driver queries keep an explicit EchoTransport for the oracle)
      transport: graft.llm.LlmStage.LlmTransport = graft.llm.LlmStage.transportFromEnv(),
      maxRetries: Int = graft.llm.LlmStage.MaxRetries,
      backoffMs: Int => Long = graft.llm.LlmStage.referenceBackoffMs): RunReport = {
    import graft.llm.LlmStage
    val done = doneByStage(spark, cfg.outDir)
    val doneLlm = done.getOrElse(LlmStageName, Set.empty)
    val todo = (done.getOrElse(Stage, Set.empty) -- doneLlm).toSeq.sorted
    if (todo.isEmpty)
      return RunReport(cfg.numBuckets, doneLlm.size, 0, 0L)

    val m = manifest(spark, cfg.outDir)
    val idType = tableSchema(cfg.outDir, StageData(Stage), m)("doc_id").dataType
    require(idType match {
      case _: StringType | ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }, s"${cfg.outDir}/${StageData(Stage)} is keyed by doc_id ${idType.simpleString}; " +
      "the llm stage takes string or integral ids")

    // prompt build (L1) over the STORED extracted text, pruned to the
    // resumable buckets (prompt/format expressions shared with the
    // inline llm_pipeline query — one definition)
    val prompts = readTable(spark, cfg.outDir, StageData(Stage), m)
      .where(col("bucket").isin(todo: _*))
      .select(col("doc_id"), LlmStage.promptFromSpans(col("spans")).as("full_prompt"))
    val replied = LlmStage.generate(prompts, model, transport, maxRetries, backoffMs)
      .withColumn("formatted_response", LlmStage.formattedCol(col("llm_response")))
      .withColumn("bucket", bucketColOf(col("doc_id").cast(idType), cfg.numBuckets))

    commitStage(spark, cfg, LlmStageName, todo, doneLlm.size, replied,
      Seq(count(lit(1)).as("n_docs"),
        sum(when(col("llm_error").isNotNull, 1L).otherwise(0L)).as("n_errors")),
      emptyStatus = "done")
  }

  /** The per-bucket metrics view (the VERBOSE counter logs of the
    * reference, utils.py:62,111,153,197, as a queryable table): latest
    * 'done' checkpoint row per bucket. This IS the `_metrics` surface the
    * layout doc describes — a projection of `_checkpoints`, not a second
    * store to keep consistent.
    */
  def metrics(spark: SparkSession, outDir: String): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy(desc("finished_ts"))
    readCkpt(spark, outDir)
      .where(col("stage") === Stage && col("status") === "done")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("bucket", "run_id", "n_docs", "n_spans", "text_chars",
        "n_images", "n_errors", "n_dead_letter", "finished_ts")
  }

  /** Q4/Q5 analog — the invariant checker (reference main.py:1063-1218,
    * fix_extraction_bug.py:26-70): buckets claimed done whose data is
    * missing or doc counts disagree. Empty result = healthy.
    */
  def verifyCheckpoints(spark: SparkSession, outDir: String,
      stage: String = Stage): DataFrame = {
    val ckpt = readCkpt(spark, outDir)
      .where(col("stage") === stage && col("status") === "done")
      .groupBy("bucket").agg(max("n_docs").as("ckpt_docs"))
    val table = StageData(stage)
    val actual = readManifest(spark, outDir)
      .filter(m => m.schemas.contains(table) && fileExists(spark, s"$outDir/$table"))
      .map(readTable(spark, outDir, table, _).groupBy("bucket").agg(count(lit(1)).as("data_docs")))
    // a 0-doc 'done' bucket legitimately has NO data partition (the llm
    // stage closes claims that produced no rows that way), and a table the
    // manifest does not record, or a crash left without a directory, has
    // no rows — missing data counts as 0, and only a genuine count
    // mismatch (or data with no checkpoint at all) is a violation
    actual.fold(ckpt.withColumn("data_docs", lit(null).cast("long")))(
        ckpt.join(_, Seq("bucket"), "full_outer"))
      .where(col("ckpt_docs").isNull ||
        coalesce(col("data_docs"), lit(0L)) =!= col("ckpt_docs"))
  }

  /** Q6 analog — the stuck-doc scan (reference fix_extraction_bug.py:48-53:
    * `status IN non-terminal AND created_at < now()-1h`): buckets whose
    * LATEST checkpoint row is still 'running' and older than
    * `olderThanHours` — a run claimed them and never committed. The
    * monitoring query every operator of a long-running pipeline runs first.
    */
  def staleCheckpoints(spark: SparkSession, outDir: String,
      olderThanHours: Double, stage: String = Stage): DataFrame = {
    // ties (a run's running+done rows share started_ts): 'done' wins
    val w = Window.partitionBy("bucket")
      .orderBy(desc("started_ts"), asc("status"))
    val olderThanSec = math.round(olderThanHours * 3600)
    readCkpt(spark, outDir).where(col("stage") === stage)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("status") === "running" &&
        col("started_ts") < current_timestamp() - expr(s"INTERVAL $olderThanSec SECONDS"))
      .select("run_id", "bucket", "status", "started_ts")
  }

  /** P6 analog — retention cleanup (reference workers.py:347-390,
    * utils.py:476-502): drop checkpoint AND lineage rows older than
    * `maxAgeHours` — a checkpoint row's age is its `finished_ts`, or its
    * `started_ts` while it is still 'running'. Returns checkpoint rows
    * kept. Both stores are rewritten on the driver by [[rewriteKeeping]]
    * (no Spark job), each as one file, so cleanup compacts as well.
    */
  def cleanupCheckpoints(spark: SparkSession, outDir: String, maxAgeHours: Int): Long = {
    val cutoff = Instant.now().minusSeconds(maxAgeHours * 3600L)
    def young(r: Row, ts: String*) =
      ts.map(c => r.getAs[Instant](c)).find(_ != null).exists(!_.isBefore(cutoff))
    rewriteKeeping(spark, s"$outDir/_lineage", LineageSchema, young(_, "run_ts"))
    rewriteKeeping(spark, s"$outDir/_checkpoints", CkptSchema,
      young(_, "finished_ts", "started_ts"))
  }

  /** Small-file compaction for the checkpoint + lineage stores, with no
    * retention cut: every run appends one driver-written parquet file per
    * write ([[StoreFiles.append]]: a stage run's claim rows, its commit
    * rows, an extract run's lineage row), so thousands of runs leave
    * thousands of tiny files that `metrics`/`doneBuckets` re-list on every
    * call. The crash-safe rewrite in [[rewriteKeeping]] lands each store
    * in one driver-written file (no Spark job); this entry point keeps
    * every row, so operators can compact WITHOUT expiring rows (the
    * reference's hourly beat couples the two, workers.py:385-390;
    * [[cleanupCheckpoints]] is that coupled shape). Returns the CHECKPOINT
    * rows kept (the lineage store is compacted too, but its count is not
    * part of the return — same convention as [[cleanupCheckpoints]]).
    * Single-writer, like cleanup.
    */
  def compactCheckpoints(spark: SparkSession, outDir: String): Long = {
    rewriteKeeping(spark, s"$outDir/_lineage", LineageSchema, _ => true)
    rewriteKeeping(spark, s"$outDir/_checkpoints", CkptSchema, _ => true)
  }

  /** Rewrites the store at `path` with its rows that satisfy `keep`, as one
    * file staged in `<path>_tmp`, then [[swapIn]]. Returns the rows kept.
    */
  private def rewriteKeeping(spark: SparkSession, path: String,
      schema: StructType, keep: Row => Boolean): Long = {
    // the read restores a crashed prior rewrite that left only <path>_old
    val kept = StoreFiles.read(spark, path, schema).filter(keep)
    if (!fileExists(spark, path)) return 0L
    val tmp = new org.apache.hadoop.fs.Path(s"${path}_tmp")
    hadoopFs(spark, path).delete(tmp, true) // leftover from a crashed rewrite
    StoreFiles.append(spark, tmp.toString, schema, kept)
    swapIn(spark, path)
    kept.size
  }

  /** Replaces the store (or manifest file) at `path` with its staged copy
    * `<path>_tmp`, crash-safely: the old copy is renamed ASIDE to
    * `<path>_old` (not deleted), the new one is renamed in, then the old
    * copy is dropped. A crash at any point leaves either the original or
    * the `_old` copy on disk, which [[recoverStore]] restores — never zero
    * copies.
    */
  private def swapIn(spark: SparkSession, path: String): Unit = {
    val fs = hadoopFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val pTmp = new org.apache.hadoop.fs.Path(s"${path}_tmp")
    val pOld = new org.apache.hadoop.fs.Path(s"${path}_old")
    if (fs.exists(pOld)) fs.delete(pOld, true) // leftover from a past crash
    // a store has a SINGLE writer (cleanup is one hourly beat in the
    // reference, workers.py:385-390; a pipeline run owns its outDir);
    // readers self-heal via recoverStore, but two concurrent writers are
    // not supported. Rename results are checked so an interleaving fails
    // LOUDLY instead of silently leaving stale rows or nesting directories —
    // including the quiet one: if a concurrent reader's recoverStore
    // restores the store between the two renames, `rename(pTmp, p)` with an
    // existing DIRECTORY destination moves _tmp INSIDE it and still returns
    // true.
    if (fs.exists(p)) {
      require(fs.rename(p, pOld), s"replace $path: rename $p aside failed")
      require(!fs.exists(p),
        s"replace $path: $p reappeared between renames (concurrent recoverStore?) — aborting")
    }
    require(fs.rename(pTmp, p), s"replace $path: rename $pTmp into place failed")
    require(!fs.exists(new org.apache.hadoop.fs.Path(p, pTmp.getName)),
      s"replace $path: rename nested $pTmp inside $p instead of replacing it")
    fs.delete(pOld, true)
  }

  /** Driver-side parquet IO for the store's bookkeeping tables
    * (`_checkpoints`, `_lineage`), as Iceberg commits its metadata: small
    * files from the one writer process, no distributed job. It is their
    * only reader and writer. Rows of a flat schema of string, int, bigint
    * and timestamp columns go through parquet-hadoop's example object
    * model, from Spark's own jars. The files carry the parquet types Spark
    * writes for that schema, with timestamps as `TIMESTAMP(MICROS)`.
    */
  private[graft] object StoreFiles {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
    import org.apache.parquet.schema.MessageType
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types.TimestampType

    /** Spark's file index skips these names, and so does [[read]]. */
    private def hidden(name: String) = name.startsWith("_") || name.startsWith(".")

    /** Writes `rows` as one new parquet file in `dir` (an empty file for
      * no rows, so the schema stays readable), under a hidden name, then
      * renames it to a `*.parquet` name: no reader ever sees half a file.
      */
    def append(spark: SparkSession, dir: String, schema: StructType, rows: Seq[Row]): Unit = {
      val name = s"part-${java.util.UUID.randomUUID()}.parquet"
      val tmp = new Path(dir, s"_$name")
      val pt = new SparkToParquetSchemaConverter(
        outputTimestampType = SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS).convert(schema)
      val groups = new SimpleGroupFactory(pt)
      val w = ExampleParquetWriter.builder(tmp).withConf(spark.sparkContext.hadoopConfiguration)
        .withType(pt).build()
      try rows.foreach { r =>
        val g = groups.newGroup()
        schema.fields.indices.filterNot(r.isNullAt).foreach(i => schema(i).dataType match {
          case StringType => g.add(i, r.getString(i))
          case IntegerType => g.add(i, r.getInt(i))
          case LongType => g.add(i, r.getLong(i))
          case TimestampType => g.add(i, DateTimeUtils.instantToMicros(r.getAs[Instant](i)))
        })
        w.write(g)
      } finally w.close()
      require(hadoopFs(spark, dir).rename(tmp, new Path(dir, name)),
        s"append $dir: rename $tmp into place failed")
    }

    /** Reads the named columns of a file, each with its own physical type. */
    private class Projection(names: Seq[String]) extends GroupReadSupport {
      override def init(ctx: InitContext): ReadSupport.ReadContext = {
        val file = ctx.getFileSchema
        new ReadSupport.ReadContext(
          new MessageType(file.getName, names.map(n => file.getType(file.getFieldIndex(n))): _*))
      }
    }

    /** Column `i` of `g` as a [[Row]] value of `t`. A timestamp is INT64
      * micros ([[append]]) or INT96 (a Spark job's file), decoded as Spark does.
      */
    private def value(g: Group, i: Int, t: DataType): Any =
      if (g.getFieldRepetitionCount(i) == 0) null
      else t match {
        case StringType => g.getString(i, 0)
        case IntegerType => g.getInteger(i, 0)
        case LongType => g.getLong(i, 0)
        case TimestampType => DateTimeUtils.microsToInstant(
          if (g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName != INT96) g.getLong(i, 0)
          else {
            val nt = NanoTime.fromBinary(g.getInt96(i, 0))
            DateTimeUtils.fromJulianDay(nt.getJulianDay, nt.getTimeOfDayNanos)
          })
      }

    /** The `columns` of every row in `dir`'s visible files, as rows with
      * that schema, after [[recoverStore]]; a missing `dir` reads as no
      * rows. Only those columns are decoded.
      */
    def read(spark: SparkSession, dir: String, columns: StructType): Seq[Row] = {
      recoverStore(spark, dir)
      if (!fileExists(spark, dir)) return Nil
      val files = hadoopFs(spark, dir).listStatus(new Path(dir)).toSeq
      files.filter(s => s.isFile && !hidden(s.getPath.getName)).flatMap { s =>
        val r = ParquetReader.builder(new Projection(columns.fieldNames.toSeq), s.getPath)
          .withConf(spark.sparkContext.hadoopConfiguration).build()
        try Iterator.continually(r.read()).takeWhile(_ != null).map(g =>
          new GenericRowWithSchema(columns.fields.indices.map(i =>
            value(g, i, columns(i).dataType)).toArray, columns)).toVector
        finally r.close()
      }
    }
  }
}
