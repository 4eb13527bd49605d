package graft.textops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hashes computable bit-identically in Spark, DuckDB, and plain Scala —
  * the foundation for oracle-verifiable dedup/similarity operators. md5 is
  * the only hash all three share; we take hex prefixes as integers.
  *
  * At 100 TB the md5 cost is irrelevant next to the shuffle it feeds, and
  * a keyed-prefix family (`md5(i + ":" + s)`) gives unlimited independent
  * hash functions for MinHash without custom expressions.
  */
object PortableHash {

  /** First 15 hex chars of md5 as a non-negative long (< 2^60).
    * DuckDB: `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`.
    */
  def hexint60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** First 8 hex chars of md5 as a long (< 2^32) — fits exactly in a
    * double, so bit extraction stays exact in any engine.
    * DuckDB: `CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)`.
    */
  def hexint32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  // --- Scala-side equivalents (for the native kernels) ---
  // Hot-path form: thread-local digest + byte math. The 60-bit value IS the
  // first 15 hex chars of md5 (drop the low nibble of byte 7), so the
  // fingerprints stay bit-identical with the Column/DuckDB forms while
  // skipping the per-word hex formatting + parse (~4 allocations/word).

  private val tlMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 bytes as a big-endian long. */
  private def md5Prefix64(s: String): Long = {
    val md = tlMd5.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** Scala twin of the Column [[hexint60]] (== first 15 hex chars of md5). */
  def hexint60(s: String): Long = md5Prefix64(s) >>> 4

  /** Scala twin of the Column [[hexint32]] (== first 8 hex chars of md5). */
  def hexint32(s: String): Long = md5Prefix64(s) >>> 32

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  // --- DuckDB SQL fragments ---

  def duckHexint60(x: String): String = s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
  def duckHexint32(x: String): String = s"CAST('0x' || substr(md5($x), 1, 8) AS BIGINT)"
}
