package graft

import graft.media.MediaFeatures
import graft.media.MediaFeatures.{MediaBlob, MediaRef}
import org.scalatest.funsuite.AnyFunSuite

/** Real `javax.imageio` decode path: actual PNG/JPEG bytes in, actual
  * header metadata out; corrupt bytes dead-letter; payload-less refs fall
  * back to the declared deterministic stub.
  */
class MediaFeaturesSpec extends AnyFunSuite with SparkSpec {

  private def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  test("decodeBlob reads real PNG and JPEG headers") {
    val png = MediaFeatures.decodeBlob(MediaBlob("d", "m://1", 0, encode("png", 17, 9)))
    assert((png.width, png.height, png.format) === ((17, 9, "png")))
    assert(png.byte_size > 0)
    val jpg = MediaFeatures.decodeBlob(MediaBlob("d", "m://2", 1, encode("jpg", 33, 21)))
    assert((jpg.width, jpg.height) === ((33, 21)))
    assert(jpg.format === "jpeg")
  }

  test("corrupt payload dead-letters as format=unknown, job continues") {
    val junk = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    val f = MediaFeatures.decodeBlob(MediaBlob("d", "m://x", 0, junk))
    assert((f.width, f.height, f.format, f.byte_size) === ((0, 0, "unknown", 64L)))
    // valid PNG signature, corrupt header: the reader CLAIMS the payload
    // (signature match) then throws from the header parse — must
    // dead-letter too, not kill the task
    val truncated = encode("png", 17, 9).take(12)
    val t = MediaFeatures.decodeBlob(MediaBlob("d", "m://y", 0, truncated))
    assert((t.width, t.height, t.format, t.byte_size) === ((0, 0, "unknown", 12L)))
  }

  test("decode and encode leave ImageIO's process-wide cache setting as found") {
    import javax.imageio.ImageIO
    val (useCache, cacheDir) = (ImageIO.getUseCache, ImageIO.getCacheDirectory)
    // file caching on, into a directory that is gone: a decode that goes
    // through ImageIO's cache-backed streams dead-letters, and one that
    // flips the setting off is caught by the getUseCache check
    val gone = java.nio.file.Files.createTempDirectory("graft-imageio").toFile
    try {
      ImageIO.setUseCache(true)
      ImageIO.setCacheDirectory(gone)
      gone.delete()
      val f = MediaFeatures.decodeBlob(
        MediaBlob("d", "m://c", 0, MediaFeatures.synthPng("m://c", 6, 4)))
      assert((f.width, f.height, f.format) === ((6, 4, "png")))
      assert(ImageIO.getUseCache)
    } finally {
      ImageIO.setCacheDirectory(cacheDir)
      ImageIO.setUseCache(useCache)
    }
  }

  test("null payload falls back to the deterministic stub") {
    val f = MediaFeatures.decodeBlob(MediaBlob("d", "media://d/0", 1, null))
    assert(f === MediaFeatures.decodeOne(MediaRef("d", "media://d/0", 1)))
  }

  test("decodeBlobs dataset stage decodes a mixed batch") {
    import spark.implicits._
    val blobs = Seq(
      MediaBlob("a", "m://1", 0, encode("png", 5, 7)),
      MediaBlob("b", "m://2", 0, Array[Byte](1, 2, 3)),
      MediaBlob("c", "media://d/0", 0, null)).toDS()
    val rows = MediaFeatures.decodeBlobs(blobs).orderBy("doc_id").collect()
    assert(rows(0).getAs[Int]("width") === 5)
    assert(rows(0).getAs[String]("format") === "png")
    assert(rows(1).getAs[String]("format") === "unknown")
    assert(rows(2).getAs[String]("format") ===
      MediaFeatures.decodeOne(MediaRef("c", "media://d/0", 0)).format)
  }

  test("synthPng round trip: decoded dims equal encoded dims (the media_decode oracle contract)") {
    val refs = Seq("media://doc-1/0", "media://doc-2/4", "x")
    refs.foreach { ref =>
      import graft.textops.PortableHash.hexint32
      val w = 1 + (hexint32(ref + "#w") % 48L).toInt
      val h = 1 + (hexint32(ref + "#h") % 48L).toInt
      val f = MediaFeatures.decodeBlob(MediaBlob("d", ref, 0, MediaFeatures.synthPng(ref, w, h)))
      assert((f.width, f.height, f.format) === ((w, h, "png")))
    }
  }
}
