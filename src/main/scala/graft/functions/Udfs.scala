package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.DataType

/** Scalar UDF surface — the reference's `define-udf` + `udf/call`
  * (`/root/reference/src/main.rs:598-636,580` and `src/main.rs:138-142,521`).
  *
  * The reference's Scheme<->DataFusion value bridge is a stub: it invokes the
  * interpreter closure with a Void arg, discards the result, and always
  * returns NULL (`src/main.rs:622-629`), serializing every call on a global
  * mutex (`src/main.rs:589-595`). We implement the evident intent: arguments
  * flow in, return values flow out, and execution is embarrassingly parallel
  * across partitions (no interpreter mutex exists on Spark's side — the
  * function ships to executors as ordinary JVM bytecode).
  *
  * Volatility: the reference registers UDFs as Immutable
  * (`src/main.rs:617-630`); Spark UDFs are assumed deterministic by default,
  * which is the same contract (call `.asNondeterministic()` to opt out).
  */
object Udfs {

  /** UDF handle carrying the DECLARED contract — the reference's
    * `(name, arg-types, ret-type)` triple. [[udfCall(g:GraftUdf*]] enforces
    * it at graft level (the reference accepts the list but its stub bridge
    * never checks; we implement the evident intent).
    */
  case class GraftUdf(name: String, argTypes: Seq[DataType], ret: DataType,
      fn: UserDefinedFunction)

  /** `define-udf` with the reference's full signature: declared arg types
    * are retained on the handle and enforced/coerced at every call. Arity
    * 1-3 (the reference's test surface); the lambda receives the argument
    * values positionally.
    */
  def defineUdfTyped(
      spark: SparkSession,
      name: String,
      argTypes: Seq[DataType],
      ret: DataType,
      f: Seq[Any] => Any
  ): GraftUdf = {
    import org.apache.spark.sql.api.java.{UDF1, UDF2, UDF3}
    val u = argTypes.length match {
      case 1 => udf(new UDF1[Any, Any] { def call(a: Any): Any = f(Seq(a)) }, ret)
      case 2 => udf(new UDF2[Any, Any, Any] { def call(a: Any, b: Any): Any = f(Seq(a, b)) }, ret)
      case 3 => udf(new UDF3[Any, Any, Any, Any] {
        def call(a: Any, b: Any, c: Any): Any = f(Seq(a, b, c))
      }, ret)
      case n => throw new IllegalArgumentException(
        s"define-udf supports 1-3 args (the reference's surface), got $n")
    }
    spark.udf.register(name, u)
    GraftUdf(name, argTypes, ret, u)
  }

  /** `udf/call` on a typed handle: graft-level arity error, then each
    * argument is coerced (cast) to its declared type — DataFusion's
    * call-site coercion semantics. An impossible coercion (e.g. map -> int)
    * fails analysis at this call, not at action time.
    */
  def udfCall(g: GraftUdf, args: Seq[Column]): Column = {
    if (args.length != g.argTypes.length)
      throw new IllegalArgumentException(
        s"udf '${g.name}' expects ${g.argTypes.length} arg(s) " +
          s"(${g.argTypes.map(_.simpleString).mkString(", ")}), got ${args.length}")
    g.fn(args.zip(g.argTypes).map { case (c, t) => c.cast(t) }: _*)
  }

  /** The reference's datatype surface: the 17 Arrow types exposed as
    * first-class values in module `steel/datafusion/datatypes`
    * (`/root/reference/src/main.rs:392-469`), mapped to Spark SQL types per
    * SURVEY.md §1.2. Spark has no unsigned ints or half floats — each
    * widens one step (the same convention Spark's own Parquet reader
    * applies to unsigned columns); Large* variants differ only in offset
    * width (a physical detail), collapsing to the one logical type.
    */
  def arrowType(name: String): DataType = {
    import org.apache.spark.sql.types._
    name match {
      case "null"                   => NullType
      case "boolean"                => BooleanType
      case "int8"                   => ByteType
      case "int16"                  => ShortType
      case "int32"                  => IntegerType
      case "int64"                  => LongType
      case "uint8"                  => ShortType
      case "uint16"                 => IntegerType
      case "uint32"                 => LongType
      case "uint64"                 => DecimalType(20, 0)
      case "float16"                => FloatType
      case "float32"                => FloatType
      case "float64"                => DoubleType
      case "binary" | "large-binary" => BinaryType
      case "utf8" | "large-utf8"    => StringType
      case other => throw new IllegalArgumentException(
        s"unknown datatype '$other' — the reference exposes exactly 17 (src/main.rs:392-469)")
    }
  }
}
