package graftbench

import org.apache.spark.sql.types.StructType
import graft.core.columns.ColVec

/** Output checks. Each returns None when the output is right and a short
  * description of the first difference otherwise.
  */
object Check {

  def digest(what: String, expected: Data.Digest, actual: Data.Digest): Option[String] =
    if (expected == actual) None else Some(s"$what: expected $expected, got $actual")

  /** Decoded batches against the input vec, value for value, over a flat
    * schema (the bit-identical decode contract). Batches are compared as
    * they arrive, so none is retained.
    */
  def sameValues(schema: StructType, expected: ColVec, actual: Iterator[ColVec]): Option[String] = {
    var base = 0
    while (actual.hasNext) {
      val b = actual.next()
      if (base + b.len > expected.len)
        return Some(s"decoded more than the ${expected.len} rows written")
      var c = 0
      while (c < schema.length) {
        val e = expected.children(c)
        val a = b.children(c)
        var i = 0
        while (i < b.len) {
          if (!same(e, base + i, a, i))
            return Some(s"column ${schema(c).name} differs at row ${base + i}")
          i += 1
        }
        c += 1
      }
      base += b.len
    }
    if (base != expected.len) Some(s"decoded $base rows, wrote ${expected.len}") else None
  }

  private def same(e: ColVec, i: Int, a: ColVec, j: Int): Boolean = {
    val en = e.isNull(i)
    if (en || a.isNull(j)) return en == a.isNull(j)
    if (e.longs != null) a.longs != null && e.longs(i) == a.longs(j)
    else if (e.doubles != null)
      a.doubles != null &&
        java.lang.Double.doubleToLongBits(e.doubles(i)) ==
        java.lang.Double.doubleToLongBits(a.doubles(j))
    else if (e.bigs != null) a.bigs != null && e.bigs(i) == a.bigs(j)
    else if (e.packed != null || e.bins != null) {
      if (a.packed == null && a.bins == null) return false
      val (ea, eo, el) = slice(e, i)
      val (aa, ao, al) = slice(a, j)
      java.util.Arrays.equals(ea, eo, eo + el, aa, ao, ao + al)
    } else false
  }

  private def slice(v: ColVec, i: Int): (Array[Byte], Int, Int) =
    if (v.packed != null) (v.packed, v.binOff(i), v.binLen(i))
    else (v.bins(i), 0, v.bins(i).length)
}
