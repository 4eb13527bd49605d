package perfbench

import graft.SparkEntry
import graft.extract.{ExtractKernel, Extractor}
import graft.llm.LlmStage
import graft.pipeline.{ExtractPipeline, SkewSalter}
import graft.serve.{Queries, SpanStats}
import graft.streaming._
import graft.synth.{SpanSynth, SynthKernel}
import graft.textops._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The JVM side of the benchmark: starts one local Spark session, runs one
  * workload against the program's public entry points, times the calls
  * from outside, and writes a result file. Correctness of the outputs the
  * rounds leave behind is checked afterwards by `check.py` (DuckDB running
  * the program's oracle SQL), except the checks that need the program
  * itself (`verifyCheckpoints`, `metrics`), which run here after timing.
  *
  * Every workload runs in rounds of the same operations: `--warmup` rounds
  * first, then timed rounds until `--seconds` have passed and at least
  * `--timed-min` rounds have run, at most `--timed-max`.
  * With `--trace 1`, `--traced` more rounds follow with tracing on, and the
  * result carries the per-layer metrics and the tracing overhead.
  */
object Harness {

  final case class Args(workload: String, input: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, result: String,
      launchMs: Long, warmup: Int, timedMin: Int, timedMax: Int, traced: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("result"), m("launch-ms").toLong,
      m("warmup").toInt, m("timed-min").toInt, m("timed-max").toInt, m("traced").toInt)
  }

  /** Writes the result, the trace and the oracle SQL as JSON. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Metrics and check records, written as JSON at the end. */
  final class Result {
    val nums = mutable.LinkedHashMap.empty[String, Double]
    val lists = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val checks = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    var attempted = 0L

    def check(kind: String, fields: (String, Any)*): Unit =
      checks += ListMap(("kind" -> kind) +: fields: _*)

    def json: String = {
      val missing = nums.collect { case (k, v) if v.isNaN || v.isInfinite => k }
      require(missing.isEmpty, s"metrics without a value: ${missing.mkString(", ")}")
      mapper.writeValueAsString(ListMap("attempted" -> attempted, "nums" -> nums,
        "lists" -> lists, "checks" -> checks))
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process, all threads, in ns. */
  def processCpuNs(): Long = os.getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    // JVM start plus session start, from the moment the launcher forked
    res.nums("session_s") = (System.currentTimeMillis() - a.launchMs) / 1e3
    val tr = new Tracer(spark.sparkContext, a.trace)
    val w: Workload = a.workload match {
      case "ingest" => new Ingest(spark, a, tr, res)
      case "curate" => new Curate(spark, a, tr, res)
      case "stream" => new Stream(spark, a, tr, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    w.runAll()
    val f0 = System.nanoTime()
    w.finish()
    res.nums("finish_s") = secs(f0)
    res.nums("jvm.peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(a.result), res.json)
    if (a.trace)
      Files.writeString(Paths.get(a.result.stripSuffix(".json") + ".trace.json"), tr.json)
    spark.stop()
  }
}

/** Writes the program's own oracle SQL (`SparkEntry.oracleSql` plus the
  * lookup oracle with a placeholder id) as JSON, for the generator and the
  * DuckDB checks. Run once per build.
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Harness.mapper.writeValueAsString(
      SparkEntry.oracleSql +
        ("lookup_template" -> graft.verify.ExtractOracle.lookupSql("__PERFBENCH_ID__"))))
}

/** Common round loop; a workload fills in set-up, one round, and the
  * metrics it derives from the timed rounds.
  */
abstract class Workload(val spark: SparkSession, val a: Harness.Args,
    val tr: Tracer, val res: Harness.Result) {
  import Harness._

  def setup(): Unit
  /** Run round `r`; return its time in seconds (printed, and the base of
    * the tracing overhead). */
  def round(r: Int, timed: Boolean): Double
  /** Derive metrics from the timed rounds (and, traced, the spans). */
  def finish(): Unit
  /** Whether round `r` can run (a workload with a finite pool says no). */
  def more(r: Int): Boolean = true

  /** Rounds a run needs at most: the pool a finite workload must hold. */
  def roundsNeeded: Int = a.warmup + a.timedMax + (if (a.trace) a.traced else 0)

  val timedRounds = mutable.ArrayBuffer.empty[Int]
  val tracedRounds = mutable.ArrayBuffer.empty[Int]
  private var next = 0

  private def runRounds(label: String, timed: Boolean, seconds: Double,
      minRounds: Int, maxRounds: Int): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < maxRounds && (out.size < minRounds || secs(t0) < seconds)) {
      require(more(next), s"round $next ($label): the input pool is used up")
      tr.run = s"$label$next"
      out += round(next, timed)
      next += 1
    }
    out.toSeq
  }

  def runAll(): Unit = {
    res.lists("warmup_round_s") = runRounds("warmup", timed = false, 0, a.warmup, a.warmup)
    val first = next
    val untraced = runRounds("timed", timed = true, a.seconds, a.timedMin, a.timedMax)
    timedRounds ++= (first until next)
    res.lists("timed_round_s") = untraced
    if (a.trace) {
      tr.active = true
      val f2 = next
      val traced = runRounds("traced", timed = false, 0, a.traced, a.traced)
      tracedRounds ++= (f2 until next)
      tr.active = false
      res.nums("trace.overhead_pct") = (median(traced) / median(untraced) - 1) * 100
      res.lists("traced_round_s") = traced
    }
  }

  def spanMs(name: String, runPrefix: String = "traced"): Seq[Double] =
    tr.named(name, runPrefix).map(_.ms)

  /** Inclusive counts of each span named `name`. */
  def spanCounts(name: String, runPrefix: String = "traced"): Seq[Counts] =
    tr.named(name, runPrefix).map(tr.inclusive)

  def layer(name: String, v: Double): Unit = res.nums(name) = v
}

/** ingest: span documents through `ExtractPipeline.run`, `runLlmStage`
  * with the echo transport, then point lookups on the store just written.
  */
final class Ingest(spark0: SparkSession, a0: Harness.Args, tr0: Tracer,
    res0: Harness.Result) extends Workload(spark0, a0, tr0, res0) {
  import Harness._

  private val spansPath = s"${a.work}/spans.parquet"
  private var ids: Seq[String] = Nil
  private var nDocs = 0L
  private val extractS = mutable.HashMap.empty[Int, Double]
  private val llmS = mutable.HashMap.empty[Int, Double]
  private val lookupMs = mutable.HashMap.empty[Int, Seq[Double]]
  private val cpuS = mutable.HashMap.empty[Int, Double]
  private val lookupRows = mutable.HashMap.empty[Int, Array[Row]]

  def outDir(r: Int) = s"${a.work}/ingest/r$r"

  def setup(): Unit = {
    val t0 = System.nanoTime()
    ids = Files.readAllLines(Paths.get(s"${a.input}/lookup_ids.txt")).asScala.toSeq
    // the span-document table the operator's job reads, materialised once
    SpanSynth.docsInput(spark, a.input).write.mode("overwrite").parquet(spansPath)
    nDocs = spark.read.parquet(spansPath).count()
    res.nums("prep_s") = secs(t0)
  }

  def round(r: Int, timed: Boolean): Double = {
    val cfg = ExtractPipeline.Config(outDir = outDir(r), runId = s"r$r",
      inputPath = spansPath)
    val (t0, c0) = (System.nanoTime(), processCpuNs())
    tr("pipeline.extract") {
      ExtractPipeline.run(spark, spark.read.parquet(spansPath), cfg)
    }
    val t1 = System.nanoTime()
    tr("pipeline.llm") {
      ExtractPipeline.runLlmStage(spark, cfg, transport = LlmStage.EchoTransport())
    }
    val (t2, c2) = (System.nanoTime(), processCpuNs())
    val lat = mutable.ArrayBuffer.empty[Double]
    val rows = mutable.ArrayBuffer.empty[Row]
    for (id <- ids) {
      if (tr.active) {
        // the lookup's first two steps as their own public calls
        val n = tr("serve.lineage") { Queries.storedNumBuckets(spark, outDir(r)).get }
        tr("serve.bucket") { Queries.bucketOf(spark, id, n) }
      }
      val s = System.nanoTime()
      rows ++= tr("serve.lookup") { Queries.lookupFrom(spark, outDir(r), id).collect() }
      lat += (System.nanoTime() - s) / 1e6
    }
    if (timed) {
      extractS(r) = (t1 - t0) / 1e9
      llmS(r) = (t2 - t1) / 1e9
      lookupMs(r) = lat.toSeq
      cpuS(r) = (c2 - c0) / 1e9
      lookupRows(r) = rows.toArray
    }
    (t2 - t0) / 1e9
  }

  def finish(): Unit = {
    import org.apache.spark.sql.types._
    val lookupSchema = StructType(Seq(StructField("doc_id", StringType),
      StructField("n_spans", IntegerType), StructField("status", StringType),
      StructField("extracted_text", StringType)))
    // documents past the salter threshold: the stored (chunked, salted,
    // re-assembled) spans must equal the direct kernel's
    def hashes(df: DataFrame) = df.select(col("doc_id"), xxhash64(col("spans")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val heavyIn = spark.read.parquet(spansPath)
      .where(size(col("spans")) > SkewSalter.DefaultHeavyThreshold)
    val direct = hashes(Extractor.extract(heavyIn))
    res.nums("heavy_docs") = direct.size.toDouble
    for (r <- timedRounds) {
      val out = outDir(r)
      // checks that need the program: the invariant checker must find
      // nothing, and the per-bucket metrics must account for every doc
      val badExtract = ExtractPipeline.verifyCheckpoints(spark, out).count()
      val badLlm = ExtractPipeline.verifyCheckpoints(spark, out, "llm").count()
      val docsInMetrics = ExtractPipeline.metrics(spark, out)
        .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
      res.check("property", "name" -> "verifyCheckpoints(extract) is empty",
        "ok" -> (badExtract == 0), "op" -> s"r$r/extract", "ops" -> 1L)
      res.check("property", "name" -> "verifyCheckpoints(llm) is empty",
        "ok" -> (badLlm == 0), "op" -> s"r$r/llm", "ops" -> 1L)
      res.check("property", "name" -> s"sum(n_docs) = $nDocs input docs",
        "ok" -> (docsInMetrics == nDocs), "op" -> s"r$r/extract", "ops" -> 1L)
      val stored = hashes(spark.read.parquet(s"$out/data")
        .where(col("doc_id").isin(direct.keys.toSeq: _*)))
      res.check("property", "name" -> "heavy documents: salter output = direct kernel",
        "ok" -> (direct.nonEmpty && stored == direct), "op" -> s"r$r/extract", "ops" -> 1L)
      spark.createDataFrame(lookupRows(r).toSeq.asJava, lookupSchema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/_bench_lookups")
      res.check("ingest_spans", "dir" -> s"$out/data", "op" -> s"r$r/extract", "ops" -> 1L)
      res.check("ingest_llm", "dir" -> s"$out/llm", "op" -> s"r$r/llm", "ops" -> 1L)
      res.check("lookups", "dir" -> s"$out/_bench_lookups", "op" -> s"r$r/lookups",
        "ops" -> ids.size.toLong)
      res.attempted += 2 + ids.size
    }
    val rounds = timedRounds.toSeq
    res.nums("n_docs") = nDocs.toDouble
    res.lists("docs_per_s") = rounds.map(r => nDocs / (extractS(r) + llmS(r)))
    res.lists("lookup_ms") = rounds.flatMap(lookupMs)
    res.lists("cpu_ms_per_doc") = rounds.map(r => cpuS(r) * 1e3 / nDocs)
    if (a.trace) traceLayers()
  }

  private def traceLayers(): Unit = {
    tr.active = true
    tr.run = "probe"
    val ex = spanCounts("pipeline.extract")
    val ll = spanCounts("pipeline.llm")
    layer("pipeline.extract_s", median(spanMs("pipeline.extract")) / 1e3)
    layer("pipeline.llm_s", median(spanMs("pipeline.llm")) / 1e3)
    val both = ex.zip(ll).map { case (x, y) => val c = new Counts; c.add(x); c.add(y); c }
    layer("pipeline.jobs", median(both.map(_.jobs.toDouble)))
    layer("pipeline.shuffle_bytes", median(both.map(c => (c.shuffleRead + c.shuffleWrite).toDouble)))
    layer("pipeline.output_bytes", median(both.map(_.output.toDouble)))
    layer("pipeline.cpu_s", median(both.map(_.cpuNs / 1e9)))
    val lin = spanMs("serve.lineage"); val bkt = spanMs("serve.bucket")
    val look = spanMs("serve.lookup")
    layer("serve.lineage_ms", median(lin))
    layer("serve.bucket_ms", median(bkt))
    layer("serve.scan_ms", median(look.indices.map(i => look(i) - lin(i) - bkt(i))))
    layer("serve.lookup_jobs", median(spanCounts("serve.lookup").map(_.jobs.toDouble)))
    // tail of the untraced timed lookups (nearest rank)
    val lk = res.lists("lookup_ms").sorted
    layer("serve.lookup_p90_ms", lk(math.ceil(0.9 * lk.size).toInt - 1))
    // extract kernel over the cached input, forced with an int-only
    // aggregate; the salter over the heavy documents only
    val input = spark.read.parquet(spansPath).cache()
    input.count()
    val heavy = input.where(size(col("spans")) > SkewSalter.DefaultHeavyThreshold).cache()
    heavy.count()
    val k = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tr("extract.kernel") {
        Extractor.extract(input).agg(sum(size(col("spans")))).collect()
      }
      secs(t0)
    }
    val h = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tr("extract.salter_heavy") {
        SkewSalter.extract(heavy).agg(sum(size(col("spans")))).collect()
      }
      secs(t0)
    }
    layer("extract.kernel_s", median(k))
    layer("extract.salter_heavy_s", median(h))
    heavy.unpersist(); input.unpersist()
    CurateQueries.probe(this, CurateQueries.names.take(7))
  }
}

/** The 15 curation queries of the curate workload, each run on a fresh
  * session so no memo entry of another query can serve it.
  */
object CurateQueries {
  import Harness._

  val names = Seq("text_quality", "text_gopher", "text_c4_clean",
    "text_pii_scrub", "text_tokens", "corpus_clean", "corpus_curate",
    "corpus_dsir", "corpus_filter_ensemble", "corpus_ppl_buckets",
    "text_lm_score_cross", "dedup_clusters", "dedup_containment",
    "dedup_passages", "dedup_semantic")

  /** Run `q` over `input` and write its result to `out`; return ms. */
  def run(w: Workload, q: String, input: String, out: String): Double = {
    val s = w.spark.newSession()
    val t0 = System.nanoTime()
    w.tr(s"textops.$q") {
      SparkEntry.queries(q)(s, input).write.mode("overwrite").parquet(out)
    }
    (System.nanoTime() - t0) / 1e6
  }

  val ProbeDocs = 200

  /** The layer figures of `qs` in a traced run of a gated workload (none
    * of which runs the curation queries): each query once, on a fresh
    * session, over the first ProbeDocs documents without the heavy ones.
    * The traced ingest and stream runs take half the queries each, so
    * that neither runs past the time limit.
    */
  def probe(w: Workload, qs: Seq[String]): Unit = {
    val probeIn = s"${w.a.work}/probe"
    w.spark.read.parquet(s"${w.a.input}/documents.parquet")
      .where(length(col("text")) < 20000).orderBy("doc_id").limit(ProbeDocs)
      .coalesce(2).write.mode("overwrite").parquet(s"$probeIn/documents.parquet")
    w.spark.read.parquet(s"${w.a.input}/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$probeIn/embeddings.parquet")
    for (q <- qs) run(w, q, probeIn, s"$probeIn/out/$q")
    layers(w, "probe", qs)
  }

  /** The textops layer metrics of `qs` from the spans of runs named
    * `runPrefix`. */
  def layers(w: Workload, runPrefix: String, qs: Seq[String] = names): Unit =
    for (q <- qs) {
      val c = w.spanCounts(s"textops.$q", runPrefix)
      w.layer(s"textops.$q.s", median(w.spanMs(s"textops.$q", runPrefix)) / 1e3)
      w.layer(s"textops.$q.jobs", median(c.map(_.jobs.toDouble)))
      w.layer(s"textops.$q.shuffle_bytes",
        median(c.map(x => (x.shuffleRead + x.shuffleWrite).toDouble)))
      w.layer(s"textops.$q.cpu_s", median(c.map(_.cpuNs / 1e9)))
    }
}

/** curate: one pass runs the 15 curation queries, each on a fresh session,
  * and writes each result where the checker reads it.
  */
final class Curate(spark0: SparkSession, a0: Harness.Args, tr0: Tracer,
    res0: Harness.Result) extends Workload(spark0, a0, tr0, res0) {
  import Harness._

  private var nDocs = 0L
  private val passS = mutable.HashMap.empty[Int, Double]
  private val passCpuS = mutable.HashMap.empty[Int, Double]
  private val queryMs = mutable.HashMap.empty[Int, Seq[Double]]

  def setup(): Unit = {
    val t0 = System.nanoTime()
    nDocs = spark.read.parquet(s"${a.input}/documents.parquet").count()
    res.nums("prep_s") = secs(t0)
  }

  def outDir(r: Int, q: String) = s"${a.work}/curate/r$r/$q"

  def round(r: Int, timed: Boolean): Double = {
    val (t0, c0) = (System.nanoTime(), processCpuNs())
    val ms = CurateQueries.names.map(q => CurateQueries.run(this, q, a.input, outDir(r, q)))
    val t = secs(t0)
    if (timed) { passS(r) = t; passCpuS(r) = (processCpuNs() - c0) / 1e9; queryMs(r) = ms }
    t
  }

  def finish(): Unit = {
    for (r <- timedRounds; q <- CurateQueries.names) {
      res.check("oracle_query", "query" -> q, "dir" -> outDir(r, q), "op" -> s"r$r/$q",
        "ops" -> 1L)
      res.attempted += 1
    }
    res.nums("n_docs") = nDocs.toDouble
    res.lists("docs_per_s") = timedRounds.toSeq.map(r => nDocs / passS(r))
    res.lists("query_ms") = timedRounds.toSeq.flatMap(queryMs)
    res.lists("cpu_ms_per_doc") = timedRounds.toSeq.map(r => passCpuS(r) * 1e3 / nDocs)
    if (a.trace) CurateQueries.layers(this, "traced")
  }
}

/** stream: the documents arrive as drops, as span documents and text
  * documents (both cut by the generator), into all seven tails, which run
  * for the
  * whole run; the next drop lands only after every tail has committed the
  * previous one. Every drop holds new documents, so state stores grow as
  * in a deployment. The drops come from a pool cut by the generator; the
  * offline plans cover the whole pool.
  */
final class Stream(spark0: SparkSession, a0: Harness.Args, tr0: Tracer,
    res0: Harness.Result) extends Workload(spark0, a0, tr0, res0) {
  import Harness._

  val tails = Seq("extract", "dedup", "corpus", "llm", "clean", "curate", "score")
  /** Watched directory of each tail. The llm tail reads what the extract
    * tail commits (its sink directory), as deployed.
    */
  def inDir(t: String) = t match {
    case "extract" | "dedup" | "corpus" => s"${dir("in")}/spans"
    case "llm" => s"${dir("out")}/extract"
    case _ => s"${dir("in")}/text"
  }
  private var drops: Seq[String] = Nil
  private var dropDocs: Seq[Long] = Nil
  private var queries: Seq[(String, StreamingQuery)] = Nil
  private val dropMs = mutable.HashMap.empty[Int, Double]
  private val dropCpuMs = mutable.HashMap.empty[Int, Double]
  private var landed = 0

  private def dir(kind: String) = s"${a.work}/stream/$kind"

  override def more(r: Int): Boolean = r < drops.size

  def setup(): Unit = {
    val t0 = System.nanoTime()
    // "dNNN <documents>" per drop, written by the generator
    val pool = Files.readAllLines(Paths.get(s"${a.input}/drop_docs.txt")).asScala
      .map(_.split(' ')).toSeq
    drops = pool.map(_(0))
    dropDocs = pool.map(_(1).toLong)
    require(drops.size >= roundsNeeded,
      s"${drops.size} drops in the pool, a run needs $roundsNeeded")
    res.nums("prep_s") = secs(t0)
    // offline plans over the whole pool
    val p0 = System.nanoTime()
    val s = spark.newSession()
    var cleanPlan: (Array[Long], Array[Long]) = null
    var model: ScoreStream.Model = null
    var benchGrams: Array[Long] = null
    var rates: DataFrame = null
    tr("streaming.plan") {
      cleanPlan = CleanStream.planArrays(TextAnalysis.cleanPlanDupLines(s, a.input))
      val (bg, uc, v) = LmScore.crossModel(s, a.input)
      model = ScoreStream.planModel(bg, uc, v)
      benchGrams = Decontam.benchGramSet(s, a.input)
      // the rates table is small; collect it so every micro-batch reads
      // the planned rows instead of re-running the batch curation
      val planned = Corpus.curatePlanRates(s, a.input)
      rates = spark.createDataFrame(planned.collect().toSeq.asJava, planned.schema)
    }
    res.nums("plan_s") = secs(p0)
    Seq("spans", "text").foreach(k => Files.createDirectories(Paths.get(s"${dir("in")}/$k")))
    // in tail order: the extract sink exists before the llm tail reads it
    queries = tails.map { t =>
      val (in, out, ck) = (inDir(t), s"${dir("out")}/$t", s"${dir("ckpt")}/$t")
      t -> (t match {
        case "extract" => ExtractStream.start(spark, in, out, ck)
        case "dedup" => StreamingDedup.start(spark, in, out, ck)
        case "corpus" => CorpusStream.start(spark, in, out, ck)
        case "llm" => LlmStream.start(spark, in, out, ck, transport = LlmStage.EchoTransport())
        case "clean" => CleanStream.start(spark, in, out, ck, cleanPlan._1, cleanPlan._2)
        case "curate" => CurateStream.start(spark, in, out, ck, benchGrams, rates)
        case "score" => ScoreStream.start(spark, in, out, ck, model)
      })
    }
  }

  /** Land drop `k` by hard-linking its staged files into the watched
    * directories (each link appears atomically, whole).
    */
  private def land(k: Int): Unit =
    for ((kind, root) <- Seq("spans" -> s"${a.input}/span_drops", "text" -> s"${a.input}/drops")) {
      val src = s"$root/drop=${drops(k)}"
      val dst = Paths.get(s"${dir("in")}/$kind")
      Files.list(Paths.get(src)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.createLink(dst.resolve(s"d$k-${f.getFileName}"), f))
    }

  private def batches(q: StreamingQuery) = q.recentProgress.toSeq.filter(_.numInputRows > 0)

  def round(r: Int, timed: Boolean): Double = {
    val (t0, c0) = (System.nanoTime(), processCpuNs())
    tr("streaming.drop") {
      land(r)
      queries.foreach { case (t, q) => tr(s"streaming.$t") { q.processAllAvailable() } }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    landed = r + 1
    if (timed) { dropMs(r) = ms; dropCpuMs(r) = (processCpuNs() - c0) / 1e6 }
    ms / 1e3
  }

  def finish(): Unit = {
    val progress = queries.map { case (t, q) => q.stop(); t -> batches(q) }.toMap
    val total = dropDocs.take(landed).sum
    for (t <- tails) {
      // every landed row reached the tail exactly once
      res.check("property", "name" -> s"$t read every dropped row once",
        "ok" -> (progress(t).map(_.numInputRows).sum == total), "op" -> t,
        "ops" -> landed.toLong)
      res.check(s"stream_$t", "dir" -> s"${dir("out")}/$t", "op" -> t, "ops" -> landed.toLong)
    }
    res.attempted += landed * tails.size
    res.nums("landed_drops") = landed.toDouble
    res.nums("stream_batches") = progress.values.map(_.size).sum.toDouble
    res.nums("n_docs") = total.toDouble
    val timed = timedRounds.toSeq
    res.lists("docs_per_s") = Seq(timed.map(dropDocs(_)).sum / (timed.map(dropMs).sum / 1e3))
    res.lists("drop_ms") = timed.map(dropMs)
    res.lists("cpu_ms_per_doc") = Seq(timed.map(dropCpuMs).sum / timed.map(dropDocs(_)).sum)
    if (a.trace) {
      tr.active = true
      tr.run = "probe"
      for (t <- tails) {
        // batches of the traced drops (one or more per drop, in order)
        val rows = tracedRounds.map(dropDocs(_)).sum
        val first = dropDocs.take(tracedRounds.head).sum
        var seen = 0L
        val ps = progress(t).filter { p =>
          val in = seen >= first && seen < first + rows
          seen += p.numInputRows
          in
        }
        def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        layer(s"streaming.$t.drop_ms", dur("triggerExecution") / tracedRounds.size)
        layer(s"streaming.$t.add_batch_ms", dur("addBatch") / tracedRounds.size)
        layer(s"streaming.$t.state_rows",
          ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
      }
      layer("streaming.plan_s", res.nums("plan_s"))
      Kernels.probe(this, a.input)
      CurateQueries.probe(this, CurateQueries.names.drop(7))
    }
  }
}

/** Per-kernel ns/row over a cached text table (traced stream and curate
  * runs): each
  * native kernel reached through its public Column helper, forced with an
  * aggregate over its result, median of three passes.
  */
object Kernels {
  import Harness._

  val MinRows = 30000L

  val kernels: Seq[(String, Column)] = Seq(
    "extract_spans" -> sum(size(ExtractKernel.extract_spans(col("spans"), col("doc_key")))),
    "synth_spans" -> sum(size(SynthKernel.synth_spans(col("doc_id"), col("text")))),
    "span_stats" -> sum(size(SpanStats.stats(col("xspans")))),
    "word_stats" -> sum(size(WordStats.stats(col("text")))),
    "word_count" -> sum(WordStats.wordCount(col("text"))),
    "word_tf" -> sum(size(WordStats.wordTf(col("text")))),
    "c4_doc" -> sum(size(TextAnalysis.c4Doc(col("doc_id"), col("text")).getField("kept"))),
    "pii_scrub" -> sum(length(TextAnalysis.piiScrubStruct(col("text")).getField("clean_text"))),
    "repetition_fracs" -> sum(size(TextAnalysis.repetitionFracs(col("text")))),
    "nfc_normalize" -> sum(length(TextAnalysis.nfcNormalize(col("text")))),
    "fingerprint60" -> sum(TextAnalysis.fingerprint60(col("text")) % 1024L),
    "gram_hashes60" -> sum(size(TextAnalysis.gramHashes60(col("text")))),
    "simhash60" -> sum(SimHash.simhash60(col("text")) % 1024L))


  def probe(w: Workload, input: String): Unit = {
    val spark = w.spark
    val docs = spark.read.parquet(s"$input/documents.parquet")
      .select("doc_id", "text")
    val n = docs.count()
    val copies = math.max(1L, (MinRows + n - 1) / n)
    val base = docs.crossJoin(spark.range(copies).toDF("copy"))
      .select((col("doc_id") + col("copy") * 100000000L).as("doc_id"), col("text"))
    val withSpans = base.select(col("doc_id"), col("text"),
      concat(lit("doc-"), lpad(col("doc_id").cast("string"), 8, "0")).as("doc_key"),
      SynthKernel.synth_spans(col("doc_id"), col("text")).as("spans"))
    val t = withSpans.select(col("*"),
      ExtractKernel.extract_spans(col("spans"), col("doc_key")).as("xspans"))
      .repartition(w.a.cores * 2).cache()
    val rows = t.count()
    for ((name, agg) <- kernels) {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        w.tr(s"kernel.$name") { t.agg(agg).collect() }
        secs(t0)
      }
      w.layer(s"kernel.$name.ns_row", median(times) * 1e9 / rows)
    }
    t.unpersist()
  }
}
