package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the dedup / similarity extensions
  * (SURVEY.md §7 "beyond-parity"). These are native `Expression`s rather
  * than Scala UDFs: they evaluate directly on Catalyst's internal
  * `ArrayData` with no encoder round-trip, keep null semantics explicit,
  * and slot into the optimized plan like any builtin. CodegenFallback is
  * acceptable here — each call does O(d) arithmetic on a small array, so
  * the per-call virtual dispatch is noise.
  */
object VectorExprs {

  /** 64-bit SimHash over an array of 64-bit token hashes: per bit position,
    * sum +1/-1 across tokens by that bit's value; the sign vector is the
    * fingerprint. Standard Charikar construction — near-identical token
    * multisets land within a small Hamming distance.
    */
  case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val h = arr.getLong(i)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
    override def prettyName: String = "simhash64"
  }

  /** Fused MinHash + LSH banding over an array of 64-bit shingle hashes:
    * computes the k-value signature (h_i(x) = splitmix64(x + odd_i), min per
    * i) and folds each band of r = k/bands consecutive signature values into
    * one 64-bit bucket key, in a single JIT-friendly loop.
    *
    * This exists because the HOF formulation
    * (`transform(sequence(0,k-1), i -> array_min(transform(sh, h -> hash(h,i))))`)
    * is interpreted per lambda call AND gets inlined by CollapseProject into
    * each of the `bands` slice references — recomputing the whole signature
    * bands× per row (measured 102 s for 500 docs at k=128/b=32; this
    * expression does the same work in one O(k·|shingles|) pass).
    *
    * Returns array<long> of length `bands`; element j is band j's bucket.
    */
  case class MinHashBuckets(child: Expression, k: Int, bands: Int)
      extends UnaryExpression with CodegenFallback {
    require(bands > 0 && k % bands == 0, s"bands=$bands must divide k=$k")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    // Kernel shared with the (rejected) generated path: a doGenCode
    // static-call form was A/B measured with no win on q33 (wash by
    // median, slightly negative by min) — the O(k*|shingles|) kernel
    // dwarfs the dispatch cost codegen would save.
    override def nullSafeEval(input: Any): Any =
      Kernels.minhashBuckets(input.asInstanceOf[ArrayData], k, bands)
    override protected def withNewChildInternal(c: Expression): MinHashBuckets = copy(child = c)
    override def prettyName: String = "minhash_buckets"
  }

  /** Random-hyperplane (sign) LSH bucket keys: element t of the result is
    * table t's bucket — `planes` sign bits of deterministic pseudo-random
    * hyperplane dot products. One pass over the vector for all
    * tables×planes (the Column-expr formulation was a
    * tables×planes×dims-term tree — thousands of nodes — which overflowed
    * janino's 64KB method limit and fell back to interpreted eval).
    *
    * Hyperplane coefficients come from a splitmix64 of (table, plane, dim)
    * — no RNG state, reproducible across executors and runs.
    */
  case class SignLshBuckets(child: Expression, dims: Int, planes: Int, tables: Int)
      extends UnaryExpression with CodegenFallback {
    require(planes > 0 && planes <= 63 && tables > 0, s"bad planes=$planes/tables=$tables")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val coeffs: Array[Double] = {
      val out = new Array[Double](tables * planes * dims)
      var t = 0
      var i = 0
      while (t < tables) {
        var p = 0
        while (p < planes) {
          var d = 0
          while (d < dims) {
            var z = t.toLong * 0x9e3779b97f4a7c15L + p.toLong * 0xbf58476d1ce4e5b9L +
              d.toLong * 0x94d049bb133111ebL
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            z = z ^ (z >>> 31)
            out(i) = z.toDouble / Long.MaxValue.toDouble
            i += 1
            d += 1
          }
          p += 1
        }
        t += 1
      }
      out
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val et = child.dataType.asInstanceOf[ArrayType].elementType
      val n = math.min(dims, arr.numElements())
      val v = new Array[Double](n)
      var d = 0
      while (d < n) { v(d) = toDouble(arr, d, et); d += 1 }
      val buckets = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var p = 0
        while (p < planes) {
          val base = (t * planes + p) * dims
          var dot = 0.0
          var i = 0
          while (i < n) { dot += v(i) * coeffs(base + i); i += 1 }
          if (dot >= 0) bucket |= (1L << p)
          p += 1
        }
        buckets(t) = bucket
        t += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buckets)
    }
    override protected def withNewChildInternal(c: Expression): SignLshBuckets = copy(child = c)
    override def prettyName: String = "sign_lsh_buckets"
  }

  private def toDouble(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType  => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case _          => throw new IllegalArgumentException(s"unsupported element type $et")
  }

  /** Arguments of the vector expressions: array<float> or array<double>.
    * Any other element type is reachable via the registered SQL functions
    * (e.g. array<int>); [[Kernels.cosine]] would reinterpret its bytes as
    * garbage and `toDouble` throws only at run time, so it is rejected at
    * analysis.
    */
  trait FloatArrays extends Expression {
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(dt: DataType): Boolean = dt match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _                                    => false
      }
      if (children.forall(c => ok(c.dataType)))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float> or array<double> arguments, " +
            s"got ${children.map(_.dataType.simpleString).mkString(" and ")}")
    }
    /** True for float32 elements, false for float64. */
    protected def isFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  }

  abstract class VectorBinary extends BinaryExpression with FloatArrays with CodegenFallback {
    override def dataType: DataType = DoubleType
    protected def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType
  }

  /** Dot product of two numeric arrays (float or double elements). */
  case class DotProduct(left: Expression, right: Expression) extends VectorBinary {
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
      val (ta, tb) = (elemType(left), elemType(right))
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0; var i = 0
      while (i < n) { s += toDouble(a, i, ta) * toDouble(b, i, tb); i += 1 }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)
    override def prettyName: String = "dot_product"
  }

  /** Cosine similarity of two numeric arrays; 0.0 when either norm is 0.
    * Generates code (one static [[Kernels.cosine]] call with element types
    * resolved at plan time) — this sits inside the join condition of the
    * pair queries, the hottest expression position in the engine.
    */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression with FloatArrays {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      Kernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
        isFloat(left), isFloat(right))
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.Kernels.cosine($a, $b, ${isFloat(left)}, ${isFloat(right)});")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
    override def prettyName: String = "cosine_sim"
  }

  /** Squared L2 distance of two numeric arrays, accumulated STRICTLY in
    * index order (s += (a_i - b_i)^2, left to right): the IEEE op sequence
    * is then identical to a SQL `list_reduce` fold over per-index squares,
    * so results are bit-comparable cross-engine (the centroid-assignment
    * oracle depends on this). Floats widen to double exactly before the
    * subtraction.
    */
  case class L2DistSq(left: Expression, right: Expression) extends VectorBinary {
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
      val (ta, tb) = (elemType(left), elemType(right))
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0; var i = 0
      while (i < n) {
        val d = toDouble(a, i, ta) - toDouble(b, i, tb)
        s += d * d
        i += 1
      }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): L2DistSq =
      copy(left = l, right = r)
    override def prettyName: String = "l2_dist_sq"
  }

  /** L2 norm of a numeric array. */
  case class L2Norm(child: Expression) extends UnaryExpression with FloatArrays with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val t = child.dataType.asInstanceOf[ArrayType].elementType
      var s = 0.0; var i = 0
      val n = a.numElements()
      while (i < n) { val x = toDouble(a, i, t); s += x * x; i += 1 }
      math.sqrt(s)
    }
    override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
    override def prettyName: String = "l2_norm"
  }

  /** Per-vector int8 scalar quantization: 256 levels over the vector's own
    * [min, max] — `q_i = floor((x_i - mn)/scale + 0.5)` clamped to
    * [0, 255], `scale = (mx - mn)/255`. At 100 TB this is the embedding
    * STORAGE format: 4x smaller than float32 (plus 16 bytes of struct
    * header), and dequantized cosine stays within ~1e-2 of exact (spec-
    * pinned), which candidate generation tolerates — rerank the shortlist
    * with full-precision vectors.
    *
    * `floor(x + 0.5)` rather than `round`: both engines' IEEE double add +
    * floor are bit-identical, while round's half-tie rule differs across
    * engines. A constant (mx == mn) vector quantizes to all-zeros with
    * scale 0.
    *
    * Returns struct(mn double, scale double, q array<int>).
    */
  case class QuantizeInt8(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("mn", DoubleType, nullable = false),
      StructField("scale", DoubleType, nullable = false),
      StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false)))
    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val t = child.dataType.asInstanceOf[ArrayType].elementType
      val n = a.numElements()
      var mn = Double.PositiveInfinity
      var mx = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        val x = toDouble(a, i, t)
        if (x < mn) mn = x
        if (x > mx) mx = x
        i += 1
      }
      if (n == 0) { mn = 0.0; mx = 0.0 }
      val scale = (mx - mn) / 255.0
      val q = new Array[Int](n)
      if (scale != 0.0) {
        i = 0
        while (i < n) {
          val lv = math.floor((toDouble(a, i, t) - mn) / scale + 0.5)
          q(i) = math.min(255.0, math.max(0.0, lv)).toInt
          i += 1
        }
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](mn, scale, new org.apache.spark.sql.catalyst.util.GenericArrayData(q)))
    }
    override protected def withNewChildInternal(c: Expression): QuantizeInt8 = copy(child = c)
    override def prettyName: String = "quantize_int8"
  }

  /** Inverse of [[QuantizeInt8]]: `mn + q_i * scale` as array<double>.
    * Lossy by construction — error per element is <= scale/2.
    */
  case class DequantizeInt8(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val row = input.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val mn = row.getDouble(0)
      val scale = row.getDouble(1)
      val q = row.getArray(2)
      val n = q.numElements()
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = mn + q.getInt(i) * scale; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): DequantizeInt8 = copy(child = c)
    override def prettyName: String = "dequantize_int8"
  }

  /** Hilbert curve index of a 2-D grid cell (classic xy2d) as ONE native
    * expression. The recurrence is stateful per bit level, so unrolling it
    * into Column algebra re-inlines each level's subexpressions into the
    * next — the tree grows ~6x per level and an 8-bit unroll OOM'd codegen
    * under bench heap pressure (q216); a loop kernel is the honest shape.
    * Inputs are masked into the grid by the kernel.
    */
  case class HilbertIndex(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (left.dataType == LongType && right.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hilbert_index requires two BIGINT arguments, " +
            s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    override def nullSafeEval(l: Any, r: Any): Any =
      Kernels.hilbert(l.asInstanceOf[Long], r.asInstanceOf[Long], bits)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.Kernels.hilbert($a, $b, $bits);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertIndex =
      copy(left = l, right = r)
    override def prettyName: String = "hilbert_index"
  }

  // --- Column wrappers ------------------------------------------------------
  // Spark 4.x: Column wraps a ColumnNode; the classic converters are
  // private[sql], bridged via org.apache.spark.sql.graft.Bridge.

  import org.apache.spark.sql.graft.Bridge.{column => asCol, expression => asExpr}

  def hilbertIndex(x: Column, y: Column, bits: Int): Column =
    asCol(HilbertIndex(asExpr(x), asExpr(y), bits))

  def simhash64(c: Column): Column = asCol(SimHash64(asExpr(c)))
  def signLshBuckets(c: Column, dims: Int, planes: Int, tables: Int): Column =
    asCol(SignLshBuckets(asExpr(c), dims, planes, tables))
  def minhashBuckets(c: Column, k: Int, bands: Int): Column =
    asCol(MinHashBuckets(asExpr(c), k, bands))
  def dot(a: Column, b: Column): Column = asCol(DotProduct(asExpr(a), asExpr(b)))
  def cosine(a: Column, b: Column): Column = asCol(CosineSim(asExpr(a), asExpr(b)))
  def l2norm(c: Column): Column = asCol(L2Norm(asExpr(c)))
  def l2DistSq(a: Column, b: Column): Column = asCol(L2DistSq(asExpr(a), asExpr(b)))
  def quantizeInt8(c: Column): Column = asCol(QuantizeInt8(asExpr(c)))
  def dequantizeInt8(c: Column): Column = asCol(DequantizeInt8(asExpr(c)))

  /** SQL-name registration so these also work via `spark.sql` /
    * `call_function` (same registry the Agent's builtin functions live in).
    */
  /** SQL-name → builder table, the single source for both
    * [[register]] (temp functions on one session) and
    * [[graft.GraftExtensions]] (session-independent injection via
    * `spark.sql.extensions`).
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (es => SimHash64(es.head)),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "l2_norm" -> (es => L2Norm(es.head)),
    "l2_dist_sq" -> (es => L2DistSq(es(0), es(1))),
    "quantize_int8" -> (es => QuantizeInt8(es.head)),
    "dequantize_int8" -> (es => DequantizeInt8(es.head)),
    // third arg = literal bit width (evaluated at resolution; a scalar
    // layout function has no data-dependent grid)
    "hilbert_index" -> (es => HilbertIndex(es(0), es(1),
      es(2).eval().asInstanceOf[Number].intValue)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (n, b) =>
      reg.createOrReplaceTempFunction(n, b, "built-in")
    }
  }
}
