package graft.textops

import org.apache.spark.unsafe.types.UTF8String

/** Exact Jaccard similarity of two DISTINCT string arrays in one pass —
  * the verification kernel of the near-dup dedup family.
  *
  * Why native: the column-op formula
  * `size(array_intersect(a,b)) / (size(a)+size(b)-size(array_intersect))`
  * builds a hash set per `array_intersect` reference, two per pair. This
  * kernel builds one hash set per pair and computes intersection + union
  * sizes in a single membership sweep. Its callers run it once per pair
  * as the output of [[Dedup.nearPairs]]'s one-row generator, which filter
  * pushdown cannot inline into the threshold's condition.
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
}
