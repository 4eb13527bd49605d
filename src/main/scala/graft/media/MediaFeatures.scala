package graft.media

import graft.extract.Extractor
import graft.synth.SpanSynth
import graft.textops.PortableHash
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media spans are opaque references or
  * `binary` payloads flowing through a typed batch decode stage.
  *
  * Two decode paths, both real Spark plumbing (schema, partition-parallel
  * `mapPartitions` batching, deterministic output):
  *
  *  - [[decodeBlob]] — REAL header-level image decode via `javax.imageio`
  *    (ships with the JDK — zero new dependencies): width / height /
  *    format come from the actual bytes, read from the image HEADER
  *    (`ImageReader.getWidth`, no full raster decode — the right cost
  *    model for a 100 TB metadata pass). Exercised end-to-end by the
  *    `media_decode` driver query, which synthesizes real PNGs of
  *    hash-derived dimensions per media ref and verifies the DECODED
  *    dimensions against the DuckDB oracle's closed-form expectation —
  *    the decoder must agree with the encoder for the hash to match.
  *  - [[decodeOne]] — deterministic md5-derived pseudo-metadata for media
  *    REFS with no payload in reach (the sandbox span table carries URIs,
  *    not bytes). Declared stub, DuckDB-oracle verifiable
  *    (`media_features`).
  *
  * A production pipeline swaps the payload fetch into [[features]]'s
  * partition iterator; nothing else moves.
  */
object MediaFeatures {

  case class MediaRef(doc_id: String, media_ref: String, offset: Int)
  case class MediaBlob(doc_id: String, media_ref: String, offset: Int,
      payload: Array[Byte])
  case class MediaFeature(doc_id: String, media_ref: String, offset: Int,
      width: Int, height: Int, format: String, byte_size: Long)

  /** STUB decode for payload-less refs: deterministic pseudo-metadata from
    * the ref string (md5-derived, DuckDB-mirrorable).
    */
  def decodeOne(r: MediaRef): MediaFeature = {
    import PortableHash.hexint32
    val w = 64 + (hexint32(r.media_ref + "#w") % 1857L).toInt
    val h = 64 + (hexint32(r.media_ref + "#h") % 1017L).toInt
    val f = (hexint32(r.media_ref + "#f") % 3L) match {
      case 0 => "jpeg"; case 1 => "png"; case _ => "webp"
    }
    val bytes = 1024L + hexint32(r.media_ref + "#b") % 4194304L
    MediaFeature(r.doc_id, r.media_ref, r.offset, w, h, f, bytes)
  }

  /** REAL decode: image metadata from the payload header via
    * `javax.imageio`. Only the header is parsed — `getWidth(0)` on the
    * reader does not decode the raster, so a metadata pass over 100 TB of
    * media costs header reads, not full decodes. Undecodable bytes yield a
    * `format="unknown"` row (dead-letter semantics — one corrupt blob must
    * not kill the job); a null payload falls back to the [[decodeOne]]
    * stub.
    */
  def decodeBlob(b: MediaBlob): MediaFeature = {
    if (b.payload == null) return decodeOne(MediaRef(b.doc_id, b.media_ref, b.offset))
    val dead = MediaFeature(b.doc_id, b.media_ref, b.offset, 0, 0, "unknown",
      b.payload.length.toLong)
    // memory-backed stream built here, not through
    // ImageIO.createImageInputStream: that wraps the buffer in a temp-FILE
    // cache per image unless the process-wide ImageIO.setUseCache(false)
    // is flipped (measured 2-3x wall on the decode query)
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b.payload))
    // a reader that CLAIMS the payload by signature can still throw
    // parsing a corrupt header — that must dead-letter, never kill the task
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) dead
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          MediaFeature(b.doc_id, b.media_ref, b.offset,
            r.getWidth(0), r.getHeight(0),
            r.getFormatName.toLowerCase(java.util.Locale.ROOT),
            b.payload.length.toLong)
        } finally r.dispose()
      }
    } catch { case scala.util.control.NonFatal(_) => dead }
    finally iis.close()
  }

  /** Typed decode stage over payload-bearing rows — the shape a real
    * deployment runs (binary column in, feature row out, one partition
    * iterator per task amortizing codec init).
    */
  def decodeBlobs(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(decodeBlob)).toDF()
  }

  private def imageRefs(spark: SparkSession, sfDir: String): Dataset[MediaRef] = {
    import spark.implicits._
    val extracted = Extractor.extract(SpanSynth.docsInput(spark, sfDir))
    extracted
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind") === "image")
      .select(col("doc_id"), col("s.media_ref").as("media_ref"),
        col("s.offset").as("offset"))
      .as[MediaRef]
  }

  /** Spread the FIXED-WIDTH ref rows across the session's configured
    * shuffle parallelism before an expensive per-row decode (guide §8:
    * decide/balance on small rows, pay the heavy compute in parallel).
    * The rows are ~60 bytes each — the exchange is noise at any scale —
    * while the codec work per row dwarfs it; without this the decode
    * inherits the scan's split count (ONE task on a single-file input).
    * The explicit count pins the layout against AQE's byte-based
    * coalescing, which would fold KB-sized-but-CPU-heavy partitions
    * back into one; the value is the session's shuffle-partition
    * setting, so deployments keep their configured width (never a
    * local constant).
    */
  private def spreadRefs(refs: Dataset[MediaRef]): Dataset[MediaRef] = {
    val n = refs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    refs.repartition(n, col("doc_id"), col("offset"))
  }

  /** Image spans of the EXTRACTED output → stub-decoded features
    * (`media_features` driver query).
    */
  def features(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    imageRefs(spark, sfDir).mapPartitions(_.map(decodeOne))
      .toDF()
      .orderBy("doc_id", "offset")
  }

  /** PNG-encode a tiny image of the given dimensions with deterministic
    * pixel content (row-major gradient seeded by the ref hash).
    */
  def synthPng(mediaRef: String, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val seed = PortableHash.hexint32(mediaRef).toInt
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, seed + y * width + x)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    // memory-backed for the same reason as [[decodeBlob]]'s input stream;
    // close() flushes the cached bytes into baos
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
    baos.toByteArray
  }

  /** The `media_decode` driver query — REAL encode→decode round trip per
    * image span: synthesize a PNG whose dimensions are a closed-form hash
    * of the ref (`1 + h32(ref#w) % 48`), decode it back through
    * [[decodeBlob]], and emit the DECODED metadata. The DuckDB oracle
    * computes the closed form directly, so a hash match proves the real
    * `javax.imageio` decode chain returns exactly what was encoded.
    * (`byte_size` is excluded: PNG's compressed length has no closed
    * form.)
    */
  def decodeRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spreadRefs(imageRefs(spark, sfDir))
      .mapPartitions(_.map { r =>
        val w = 1 + (PortableHash.hexint32(r.media_ref + "#w") % 48L).toInt
        val h = 1 + (PortableHash.hexint32(r.media_ref + "#h") % 48L).toInt
        decodeBlob(MediaBlob(r.doc_id, r.media_ref, r.offset, synthPng(r.media_ref, w, h)))
      })
      .toDF()
      .select("doc_id", "media_ref", "offset", "width", "height", "format")
      .orderBy("doc_id", "offset")
  }
}
