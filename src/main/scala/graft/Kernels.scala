package graft

import graft.model.SpanCodec
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One native kernel: the function `name` on [[Kernels]], which takes and
  * returns Catalyst values (`UTF8String`, `ArrayData`, `InternalRow`,
  * primitives), with its argument and result types. Spark calls it through
  * `StaticInvoke`, so it compiles into whole-stage codegen.
  *
  * The last `constants` arguments are fixed when the plan is built: they
  * must be foldable, are evaluated once, and `bind` turns them into the
  * object whose method `name` the plan calls through `Invoke`, so no row
  * decodes them again.
  */
final class Kernel(val name: String, val argTypes: Seq[DataType], val result: DataType,
    propagateNull: Boolean = true, returnNullable: Boolean = false,
    val constants: Int = 0, bind: Seq[Any] => AnyRef = null) {

  /** The kernel as a Column: every public helper is one of these. */
  def apply(args: Column*): Column =
    ColumnShim.column(call(args.map(ColumnShim.expression)))

  /** The kernel as an expression: the builder of its SQL function. */
  def call(args: Seq[Expression]): Expression = {
    require(args.length == argTypes.length,
      s"$name expects ${argTypes.length} arguments, got ${args.length}")
    KernelCall(this, args)
  }

  private[graft] def nullable(args: Seq[Expression]): Boolean =
    returnNullable || (propagateNull && args.exists(_.nullable))

  private[graft] def invoke(args: Seq[Expression]): Expression = {
    val (data, consts) = args.splitAt(args.length - constants)
    val types = argTypes.take(data.length)
    if (constants == 0)
      StaticInvoke(Kernels.getClass, result, name, data, types, propagateNull, returnNullable)
    else
      Invoke(Literal.fromObject(bind(consts.map(_.eval()))), name, result, data, types,
        propagateNull, returnNullable)
  }
}

/** A kernel call as the analyzer sees it: shown and auto-named by the
  * kernel's SQL name, with its arguments cast to the kernel's types; the
  * optimizer replaces it by the call itself ([[Kernel.invoke]]).
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override lazy val replacement: Expression = kernel.invoke(children)
  override def inputTypes: Seq[DataType] = kernel.argTypes
  override def dataType: DataType = kernel.result
  override def nullable: Boolean = kernel.nullable(children)
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.takeRight(kernel.constants).forall(_.foldable)) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name}: the last ${kernel.constants} argument(s) must be constants")
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

/** The registry of native kernels: one entry and one function per kernel.
  * The public Column helpers apply these entries, and [[GraftExtensions]]
  * registers every entry of [[all]] as a SQL function. To add a kernel,
  * write its body, add its function and entry here, and list it in [[all]].
  */
object Kernels {

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private val Doubles = ArrayType(DoubleType, containsNull = false)

  /** A kernel bound to its plan-time constants. It prints like the static
    * calls, so every kernel call in a plan reads `graft.Kernels.<name>(`.
    */
  sealed trait Bound { override def toString: String = "graft.Kernels" }

  private def str(u: UTF8String): String = if (u == null) null else u.toString
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  val ExtractSpans = new Kernel("extract_spans", Seq(SpanCodec.Type, StringType), SpanCodec.Type)
  def extract_spans(spans: ArrayData, docId: UTF8String): ArrayData =
    SpanCodec.encode(extract.ExtractKernel.extractDoc(docId.toString, SpanCodec.decode(spans)))

  val SynthSpans = new Kernel("synth_spans", Seq(LongType, StringType), SpanCodec.Type)
  def synth_spans(docId: Long, text: UTF8String): ArrayData =
    SpanCodec.encode(synth.SynthKernel.synthDoc(docId, text.toString))

  val ChunkSpans = new Kernel("chunk_spans", Seq(SpanCodec.Type, IntegerType),
    ArrayType(SpanCodec.Type, containsNull = false))
  def chunk_spans(spans: ArrayData, target: Int): ArrayData =
    new GenericArrayData(
      pipeline.SpanChunker.chunk(SpanCodec.decode(spans), target).map(SpanCodec.encode).toArray[Any])

  val HtmlStrip = new Kernel("html_strip", Seq(StringType), ArrayType(StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType),
    StructField("media_ref", StringType))), containsNull = false))
  def html_strip(html: UTF8String): ArrayData =
    new GenericArrayData(extract.HtmlStrip.strip(html.toString).map { case (k, t, m) =>
      InternalRow(utf8(k), utf8(t), utf8(m))
    }.toArray[Any])

  /** [n_spans, n_images, n_errors, text_chars]: null elements count as
    * spans and add nothing else, as in `SpanStats.statsColumnar`.
    */
  val SpanStats = new Kernel("span_stats", Seq(SpanCodec.Type), Longs)
  private val Image = utf8("image")
  private val Error = utf8("error")
  def span_stats(spans: ArrayData): ArrayData = {
    val n = spans.numElements()
    var images = 0L; var errors = 0L; var chars = 0L
    var i = 0
    while (i < n) {
      val s = SpanCodec.span(spans, i)
      if (s != null) {
        val kind = SpanCodec.kind(s)
        if (Image == kind) images += 1 else if (Error == kind) errors += 1
        val text = SpanCodec.text(s)
        if (text != null) chars += text.numChars()
      }
      i += 1
    }
    ArrayData.toArrayData(Array(n.toLong, images, errors, chars))
  }

  val WordStats = new Kernel("word_stats", Seq(StringType), Longs)
  def word_stats(text: UTF8String): ArrayData =
    ArrayData.toArrayData(textops.WordStats.statsScala(text.toString))

  val WordCount = new Kernel("word_count", Seq(StringType), LongType)
  def word_count(text: UTF8String): Long = textops.WordStats.wordCountScala(text.toString)

  val WordTf = new Kernel("word_tf", Seq(StringType), ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false))
  def word_tf(text: UTF8String): ArrayData =
    new GenericArrayData(textops.WordStats.wordTfScala(text.toString).map { case (w, tf) =>
      InternalRow(utf8(w), tf)
    }.toArray[Any])

  /** `term_counts(text, terms)`: `terms` is a constant. */
  val TermCounts = new Kernel("term_counts", Seq(StringType, Strings), Longs,
    constants = 1, bind = c => BoundTermCounts(c.head.asInstanceOf[ArrayData]
      .toArray[UTF8String](StringType).map(str).toIndexedSeq))
  final case class BoundTermCounts(terms: IndexedSeq[String]) extends Bound {
    require(!terms.contains(null), "term_counts: terms must not be null")
    def term_counts(text: UTF8String): ArrayData =
      ArrayData.toArrayData(textops.WordStats.termCountsScala(text.toString, terms))
  }

  val C4Doc = new Kernel("c4_doc", Seq(LongType, StringType), StructType(Seq(
    StructField("lines", Strings, nullable = false),
    StructField("kept", Strings, nullable = false),
    StructField("page_keep", BooleanType, nullable = false))))
  def c4_doc(docId: Long, text: UTF8String): InternalRow = {
    val (lines, kept, keep) = textops.TextAnalysis.c4DocScala(docId, text.toString)
    InternalRow(ArrayData.toArrayData(lines.map(utf8)), ArrayData.toArrayData(kept.map(utf8)), keep)
  }

  val PiiScrub = new Kernel("pii_scrub", Seq(StringType), StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_ips", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false))))
  def pii_scrub(text: UTF8String): InternalRow = {
    val (clean, emails, ips, phones) = textops.TextAnalysis.piiScrubScala(text.toString)
    InternalRow(utf8(clean), emails, ips, phones)
  }

  val RepetitionFracs = new Kernel("repetition_fracs", Seq(StringType), Doubles)
  def repetition_fracs(text: UTF8String): ArrayData =
    ArrayData.toArrayData(textops.TextAnalysis.repetitionScala(text.toString))

  val NfcNormalize = new Kernel("nfc_normalize", Seq(StringType), StringType)
  def nfc_normalize(text: UTF8String): UTF8String =
    utf8(java.text.Normalizer.normalize(text.toString, java.text.Normalizer.Form.NFC))

  val Fingerprint60 = new Kernel("fingerprint60", Seq(StringType), LongType)
  def fingerprint60(text: UTF8String): Long = textops.TextAnalysis.fingerprintScala(text.toString)

  val GramHashes60 = new Kernel("gram_hashes60", Seq(StringType), Longs)
  def gram_hashes60(text: UTF8String): ArrayData =
    ArrayData.toArrayData(textops.TextAnalysis.gramHashesScala(text.toString))

  val SimHash60 = new Kernel("simhash60", Seq(StringType), LongType)
  def simhash60(text: UTF8String): Long = textops.SimHash.simhash(text.toString)

  val Jaccard = new Kernel("jaccard", Seq(Strings, Strings), DoubleType)
  def jaccard(a: ArrayData, b: ArrayData): Double =
    textops.Jaccard.jaccardScala(a.toArray[UTF8String](StringType), b.toArray[UTF8String](StringType))

  /** Left-fold dot product; null on unequal lengths or a null element, as
    * `Similarity.dotColumnar`.
    */
  val DotFold = new Kernel("dot_fold", Seq(Doubles, Doubles), DoubleType, returnNullable = true)
  def dot_fold(a: ArrayData, b: ArrayData): java.lang.Double =
    if (a.numElements() != b.numElements() || hasNull(a) || hasNull(b)) null
    else Double.box(textops.Similarity.dotScala(a.toDoubleArray(), b.toDoubleArray()))

  /** `rh_signatures(e, tables, bits)`: `tables` and `bits` are constants.
    * A vector that is not `Dim` long or has a null element gets all-zero
    * signatures, as `Similarity.tableSignature`.
    */
  val RhSignatures = new Kernel("rh_signatures", Seq(Doubles, IntegerType, IntegerType), Longs,
    constants = 2, bind = c => BoundRhSignatures(c(0).asInstanceOf[Int], c(1).asInstanceOf[Int]))
  final case class BoundRhSignatures(tables: Int, bits: Int) extends Bound {
    require(tables >= 0 && bits >= 0 && tables.toLong * bits <= textops.Similarity.PoolSize,
      s"rh_signatures: $tables tables x $bits bits exceed the ${textops.Similarity.PoolSize}-plane pool")
    def rh_signatures(e: ArrayData): ArrayData = ArrayData.toArrayData(
      if (e.numElements() != textops.Similarity.Dim || hasNull(e)) new Array[Long](tables)
      else textops.Similarity.signaturesScala(e.toDoubleArray(), tables, bits))
  }

  /** `ivf_assign(e, codebook)`: the codebook is a constant. Null when the
    * vector is not `Dim` long, has a null element, or the codebook is empty.
    */
  val IvfAssign = new Kernel("ivf_assign", Seq(Doubles, ArrayType(Doubles)), IntegerType,
    returnNullable = true, constants = 1, bind = c => {
      val cb = c.head.asInstanceOf[ArrayData]
      BoundIvfAssign((0 until cb.numElements()).map(i => cb.getArray(i).toDoubleArray().toIndexedSeq))
    })
  final case class BoundIvfAssign(codebook: IndexedSeq[IndexedSeq[Double]]) extends Bound {
    require(codebook.forall(_.length == textops.Ivf.Dim),
      s"ivf_assign: centroids must have ${textops.Ivf.Dim} dimensions")
    def ivf_assign(e: ArrayData): java.lang.Integer =
      if (codebook.isEmpty || e.numElements() != textops.Ivf.Dim || hasNull(e)) null
      else Int.box(textops.Ivf.nearestLists(codebook, e.toDoubleArray(), 1).head)
  }

  /** A plan's sorted `bigint` column as a kernel constant. The literal holds
    * it unboxed and prints without its elements, so no plan string carries it.
    */
  def planArray(a: Array[Long]): Column =
    ColumnShim.column(Literal(UnsafeArrayData.fromPrimitiveArray(a), Longs))

  /** Sorted distinct keys with aligned values: the table a plan lookup binds. */
  final class PlanTable(val keys: Array[Long], val values: Array[Long]) extends Serializable {
    require(keys.length == values.length, "plan arrays must align (same length)")
    require((1 until keys.length).forall(i => keys(i - 1) < keys(i)),
      "plan keys must be sorted ascending and distinct")
    def contains(k: Long): Boolean = java.util.Arrays.binarySearch(keys, k) >= 0
    def getOrElse(k: Long, default: Long): Long =
      java.util.Arrays.binarySearch(keys, k) match { case i if i >= 0 => values(i); case _ => default }
  }

  /** Binds a plan table from constant arrays (`values` null: the keys are a
    * set). It is checked here, because a binary search over an unsorted
    * array answers wrong silently, then shipped in one broadcast, so task
    * binaries carry only the handle and each executor fetches it once.
    */
  private def plan(kernel: String, keys: Any, values: Any): Broadcast[PlanTable] = {
    val arrays = Seq(keys, values).filter(_ != null).map(_.asInstanceOf[ArrayData])
    require(!arrays.exists(hasNull), s"$kernel: plan arrays must not hold nulls")
    val ks = arrays.head.toLongArray()
    SparkSession.active.sparkContext.broadcast(
      new PlanTable(ks, if (values == null) ks else arrays(1).toLongArray()))
  }

  /** `gram_member(grams, set)`: true when some gram is in `set`, a constant
    * of sorted distinct keys. A null gram is in no set.
    */
  val GramMember = new Kernel("gram_member", Seq(Longs, Longs), BooleanType,
    constants = 1, bind = c => BoundGramMember(plan("gram_member", c(0), null)))
  final case class BoundGramMember(set: Broadcast[PlanTable]) extends Bound {
    def gram_member(grams: ArrayData): Boolean = {
      val s = set.value
      (0 until grams.numElements()).exists(i => !grams.isNullAt(i) && s.contains(grams.getLong(i)))
    }
  }

  /** `keep_lines(doc_id, lines, ph, keeper)`: the lines a document keeps
    * under a duplicate-line plan, constants `ph` (sorted distinct line
    * hashes) and `keeper` (each hash's keeper doc). A line goes when its
    * hash is planned for another doc; a null line stays.
    */
  val KeepLines = new Kernel("keep_lines", Seq(LongType, ArrayType(StringType), Longs, Longs),
    ArrayType(StringType), constants = 2,
    bind = c => BoundKeepLines(plan("keep_lines", c(0), c(1))))
  final case class BoundKeepLines(table: Broadcast[PlanTable]) extends Bound {
    def keep_lines(docId: Long, lines: ArrayData): ArrayData = {
      val p = table.value
      new GenericArrayData(lines.toArray[UTF8String](StringType).filter(l => l == null ||
        p.getOrElse(textops.PortableHash.hexint60(l.toString), docId) == docId).toArray[Any])
    }
  }

  /** `bigram_nll(text, bg_h, bg_c, u_h, u_c, vocab)`: the text's add-one
    * smoothed bigram NLL under a frozen model, the constants: bigram and
    * context counts by sorted hash, and the vocabulary size. Words are the
    * non-empty tokens of a split on " ". Each bigram's term is rounded
    * HALF_UP to micro-nats, the terms are summed as longs, and the mean is
    * rounded HALF_UP again: `LmScore.scoreCore`'s two rounding points.
    * Under two words, the sum and the mean are null.
    */
  val BigramNll = new Kernel("bigram_nll", Seq(StringType, Longs, Longs, Longs, Longs, LongType),
    StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("n_bigrams", LongType, nullable = false),
      StructField("nll_micro_sum", LongType),
      StructField("avg_nll_micro", LongType))),
    constants = 5, bind = c => BoundBigramNll(plan("bigram_nll", c(0), c(1)),
      plan("bigram_nll", c(2), c(3)), c(4).asInstanceOf[Long]))
  final case class BoundBigramNll(bigrams: Broadcast[PlanTable], contexts: Broadcast[PlanTable],
      vocab: Long) extends Bound {
    private def u6(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def bigram_nll(text: UTF8String): InternalRow = {
      val (bg, u, h) = (bigrams.value, contexts.value, textops.PortableHash.hexint60(_: String))
      val ws = text.toString.split(" ").filter(_.nonEmpty)
      if (ws.length < 2) return InternalRow(ws.length.toLong, 0L, null, null)
      val sum = (1 until ws.length).iterator.map { i =>
        u6(1e6 * math.log((u.getOrElse(h(ws(i - 1)), 0L) + vocab).toDouble /
          (bg.getOrElse(h(s"${ws(i - 1)} ${ws(i)}"), 0L) + textops.LmScore.Smoothing).toDouble))
      }.sum
      InternalRow(ws.length.toLong, ws.length - 1L, sum, u6(sum.toDouble / (ws.length - 1)))
    }
  }

  /** The L4 JSON cascade; null arguments are passed through, not propagated. */
  val FormatBestEffort = new Kernel("format_best_effort", Seq(StringType, StringType, StringType),
    StringType, propagateNull = false, returnNullable = true)
  def format_best_effort(response: UTF8String, template: UTF8String,
      example: UTF8String): UTF8String =
    utf8(textops.LlmFormat.formatBestEffort(str(response), str(template), str(example)))

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Every kernel, each registered as a SQL function under its name. */
  val all: Seq[Kernel] = Seq(ExtractSpans, SynthSpans, ChunkSpans, HtmlStrip, SpanStats,
    WordStats, WordCount, WordTf, TermCounts, C4Doc, PiiScrub, RepetitionFracs, NfcNormalize,
    Fingerprint60, GramHashes60, SimHash60, Jaccard, DotFold, RhSignatures, IvfAssign,
    GramMember, KeepLines, BigramNll, FormatBestEffort)
}
