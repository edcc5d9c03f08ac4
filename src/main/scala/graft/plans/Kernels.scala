package graft.plans

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** JIT-friendly kernels shared by the interpreted (`nullSafeEval`) and
  * generated (`doGenCode`) paths of the hottest custom expressions.
  *
  * A top-level Scala object emits static forwarders, so janino-generated
  * Java can call `graft.plans.Kernels.cosine(...)` directly: the expression
  * participates in whole-stage codegen as a single static call on unboxed
  * operands instead of a per-row interpreted `eval` dispatch through
  * `CodegenFallback`.
  */
object Kernels {

  /** [[TextExprs.ShingleHashesExpr]] kernel. */
  def shingleHashes(input: UTF8String, n: Int): ArrayData = {
    val toks = TextExprs.tokenize(input.toString)
    val count = math.max(toks.length - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[Long](count * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      val end = math.min(i + n, toks.length)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(TextExprs.xxh64(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    ArrayData.toArrayData(out)
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** [[VectorExprs.MinHashBuckets]] kernel. */
  def minhashBuckets(arr: ArrayData, k: Int, bands: Int): ArrayData = {
    val r = k / bands
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val x = arr.getLong(e)
        var i = 0
        while (i < k) {
          val h = mix(x + (i + 1).toLong * 0x9e3779b97f4a7c15L)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      e += 1
    }
    val buckets = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var acc = mix(j.toLong + 0x2545f4914f6cdd1dL)
      var t = 0
      while (t < r) { acc = mix(acc ^ mins(j * r + t)); t += 1 }
      buckets(j) = acc
      j += 1
    }
    ArrayData.toArrayData(buckets)
  }

  /** [[VectorExprs.CosineSim]] kernel; element types resolved at codegen
    * time into the two boolean flags (true = float32 elements). 0.0 when
    * either norm is 0. Elements are read straight from memory (element `i`
    * at the values offset + `i * width`), widened to double exactly, in
    * index order: the same floating-point operations as a getter loop, so
    * the same bits (PropertySpec's `kernels` property pins it).
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    val oa = values(a, aFloat); val pa = valuesOffset(a, aFloat)
    val ob = values(b, bFloat); val pb = valuesOffset(b, bFloat)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (aFloat) Platform.getFloat(oa, pa + 4L * i).toDouble
              else Platform.getDouble(oa, pa + 8L * i)
      val y = if (bFloat) Platform.getFloat(ob, pb + 4L * i).toDouble
              else Platform.getDouble(ob, pb + 8L * i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** The object holding `a`'s elements: an UnsafeArrayData's own memory
    * (any array read from a row; the array writer zeroes a null element's
    * slot), otherwise a primitive copy (a null element becomes 0.0, as
    * through the getters).
    */
  private def values(a: ArrayData, float: Boolean): AnyRef = a match {
    case u: UnsafeArrayData => u.getBaseObject
    case _                  => if (float) a.toFloatArray() else a.toDoubleArray()
  }

  /** Byte offset of element 0 in [[values]]: past an UnsafeArrayData's
    * length word and null bitmap, or a primitive array's header.
    */
  private def valuesOffset(a: ArrayData, float: Boolean): Long = a match {
    case u: UnsafeArrayData =>
      u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(u.numElements())
    case _ => if (float) Platform.FLOAT_ARRAY_OFFSET.toLong else Platform.DOUBLE_ARRAY_OFFSET.toLong
  }

  /** [[VectorExprs.HilbertIndex]] kernel: classic xy2d recurrence. Inputs
    * are masked into the grid here (Hilbert's flip arithmetic is
    * grid-relative, so high bits are NOT benignly ignorable the way
    * Morton's are).
    */
  def hilbert(x0: Long, y0: Long, bits: Int): Long = {
    val n1 = (1L << bits) - 1
    var x = x0 & n1; var y = y0 & n1
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = n1 - x; y = n1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** [[TextExprs.JaroWinklerExpr]] kernel: Jaro-Winkler similarity over the
    * UTF-8 BYTES of the two strings (byte semantics match DuckDB's
    * `jaro_winkler_similarity`, the cross-engine oracle; for ASCII entity
    * names bytes == characters). Standard definition: match window
    * `max(l1,l2)/2 - 1`, transpositions halved by integer division, Winkler
    * prefix boost (scale 0.1, prefix capped at 4) applied only when the
    * Jaro score exceeds 0.7. Both empty → 0.0, matching DuckDB (NOT the
    * rapidfuzz 1.0 convention).
    *
    * IEEE op order is pinned to `((m/l1 + m/l2) + (m-t)/m) / 3` then
    * `sim + (l*0.1)*(1-sim)` — bit-identical to DuckDB on every pair
    * probed (7k random + realistic-name property test, round-6 session),
    * which is what lets q-level oracles hash-match on raw doubles.
    */
  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.getBytes; val b = ub.getBytes
    val l1 = a.length; val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    val wRaw = (if (l1 > l2) l1 else l2) / 2 - 1
    val w = if (wRaw < 0) 0 else wRaw
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = if (i - w > 0) i - w else 0
      val hi = if (i + w + 1 < l2) i + w + 1 else l2
      var unmatched = true
      while (j < hi && unmatched) {
        if (!m2(j) && a(i) == b(j)) { m1(i) = true; m2(j) = true; m += 1; unmatched = false }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var j = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      i += 1
    }
    t /= 2
    val md = m.toDouble
    var sim = (md / l1 + md / l2 + (m - t) / md) / 3.0
    if (sim > 0.7) {
      val maxp = if (l1 < l2) (if (l1 < 4) l1 else 4) else (if (l2 < 4) l2 else 4)
      var l = 0
      while (l < maxp && a(l) == b(l)) l += 1
      sim = sim + l * 0.1 * (1.0 - sim)
    }
    sim
  }
}
