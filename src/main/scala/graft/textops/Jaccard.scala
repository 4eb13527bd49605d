package graft.textops

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Exact Jaccard similarity of two DISTINCT string arrays in one pass —
  * the verification kernel of the near-dup dedup family.
  *
  * Why native: the column-op formula
  * `size(array_intersect(a,b)) / (size(a)+size(b)-size(array_intersect))`
  * references `array_intersect` twice, and Catalyst's filter pushdown
  * re-inlines the whole expression into the bucket join's condition —
  * round-2 plans showed THREE `array_intersect` evaluations per candidate
  * pair on the dominant verify stage (each one building a hash set). This
  * expression builds one hash set per pair and computes
  * intersection + union sizes in a single membership sweep.
  *
  * Semantics are pinned to the column-op twin [[Dedup.jaccardColumnar]]
  * (what the DuckDB oracle mirrors): inputs are distinct arrays, result is
  * `round(|∩| / (|a|+|b|-|∩|), 6)` with Spark's HALF_UP rounding, and a
  * 0-element union (both arrays empty) yields NaN exactly like the
  * column-op division does. Parity is spec-pinned in PortableHashSpec.
  */
object Jaccard {

  /** One-pass exact Jaccard over distinct arrays, rounded to 6 places
    * (BigDecimal HALF_UP — bit-identical to Spark's `round(x, 6)`).
    */
  def jaccardScala(a: Array[UTF8String], b: Array[UTF8String]): Double = {
    val (small, large) = if (a.length <= b.length) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](small.length * 2)
    var i = 0
    while (i < small.length) { set.add(small(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < large.length) {
      if (set.contains(large(i))) inter += 1
      i += 1
    }
    val union = a.length + b.length - inter
    val j = inter.toDouble / union.toDouble // 0/0 => NaN, like the column op
    if (union == 0) j
    else BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def jaccard(a: Column, b: Column): Column = graft.Kernels.Jaccard(a, b)
}
