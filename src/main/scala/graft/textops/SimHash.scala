package graft.textops

import org.apache.spark.sql.Column

/** 60-bit SimHash over space-separated tokens (empty tokens included, to
  * stay bit-identical with `string_split(text, ' ')` in the DuckDB
  * oracle). Word hash = md5 hex prefix as int ([[PortableHash]]); bit b of
  * the fingerprint is the sign of the Σ(±1) vote over words.
  *
  * Native single-pass expression: the column-op equivalent needs 60
  * interpreted `aggregate` folds per row. 60 bits (not 64) because the
  * portable hash yields 15 hex chars; 4 bands of 15 bits give GUARANTEED
  * recall for Hamming distance <= 3 (pigeonhole: 3 flips cannot touch all
  * 4 bands).
  */
object SimHash {
  val Bits = 60
  val BandBits = 15
  val Bands = 4
  val BandMask = (1L << BandBits) - 1

  def simhash(text: String): Long = {
    val words = text.split(" ", -1)
    val votes = new Array[Int](Bits)
    var wi = 0
    while (wi < words.length) {
      val h = PortableHash.hexint60(words(wi))
      var b = 0
      while (b < Bits) {
        votes(b) += (((h >> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      wi += 1
    }
    var fp = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }

  def simhash60(c: Column): Column = graft.Kernels.SimHash60(c)
}
