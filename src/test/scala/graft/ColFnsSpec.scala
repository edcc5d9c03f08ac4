package graft

import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** Expression surface (SURVEY.md §2.4) — including the reference's smoke
  * program and its documented `lt -> gt` copy-paste bug
  * (`/root/reference/src/main.rs:66-68`).
  */
class ColFnsSpec extends SparkSpec {
  import spark.implicits._

  // The reference's only fixture: example.csv (a,b,c = (1,2,3), (20,10,50)).
  private def exampleDf = Seq((1L, 2L, 3L), (20L, 10L, 50L)).toDF("a", "b", "c")

  test("reference smoke: select a,b then filter a >= b keeps only (20,10)") {
    // test.scm:11-14 — select + filter through our surface.
    val out = exampleDf
      .select(ColFns.column("a"), ColFns.column("b"))
      .filter(ColFns.geq(col("a"), col("b")))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((20L, 10L)))
  }

  test("lt is a correct less-than (reference's col< computes > by bug)") {
    val ours = exampleDf.filter(ColFns.lt(col("a"), col("b"))).collect().map(_.getLong(0)).toSeq
    assert(ours == Seq(1L)) // 1 < 2; the reference's buggy col< would return the 20 row
  }

  test("variadic arithmetic left-folds with arity >= 1") {
    val r = exampleDf
      .select(
        ColFns.add(col("a"), col("b"), col("c")).as("s"),
        ColFns.sub(col("c"), col("b"), col("a")).as("d"),
        ColFns.mul(col("a"), col("b")).as("m"),
        ColFns.div(col("c"), col("a")).as("q"),
        ColFns.add(col("a")).as("one"))
      .collect()
    assert(r(0).getLong(0) == 6L && r(0).getLong(1) == 0L && r(0).getLong(2) == 2L)
    assert(r(0).getDouble(3) == 3.0)
    assert(r(0).getLong(4) == 1L)
    assertThrows[IllegalArgumentException](ColFns.add())
  }

  test("eq, leq and neq are null-propagating (not null-safe)") {
    val df = Seq((Some(1), Some(1)), (Some(2), Some(1)), (None, Some(1)), (None, None))
      .toDF("x", "y")
    def kept(c: org.apache.spark.sql.Column): Seq[Int] =
      df.filter(c).collect().map(_.getInt(0)).toSeq.sorted
    // NULL <op> anything -> NULL, filtered out (even NULL = NULL)
    assert(kept(ColFns.eq(col("x"), col("y"))) == Seq(1))
    assert(kept(ColFns.leq(col("x"), col("y"))) == Seq(1))
    assert(kept(ColFns.neq(col("x"), col("y"))) == Seq(2))
  }

  test("LIKE family with expression-valued patterns") {
    val df = Seq("Alpha", "alpha", "beta").toDF("s")
    assert(df.filter(ColFns.like(col("s"), lit("al%"))).count() == 1)
    assert(df.filter(ColFns.ilike(col("s"), lit("al%"))).count() == 2)
    assert(df.filter(ColFns.notLike(col("s"), lit("al%"))).count() == 2)
    assert(df.filter(ColFns.notIlike(col("s"), lit("al%"))).count() == 1)
    // pattern can be a computed column, not just a literal
    val dyn = Seq(("beta", "be%")).toDF("s", "p")
    assert(dyn.filter(ColFns.like(col("s"), col("p"))).count() == 1)
  }

  test("searched CASE: otherwise vs end (END without ELSE => NULL)") {
    val df = Seq(1, 2, 3).toDF("x")
    val closed = df.select(
      ColFns.caseWhen(col("x") === 1, lit("one")).when(col("x") === 2, lit("two"))
        .otherwise(lit("other")).as("w")).collect().map(_.getString(0)).toSeq
    assert(closed == Seq("one", "two", "other"))
    val open = df.select(
      ColFns.caseWhen(col("x") === 1, lit("one")).end.as("w"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(open == Seq(Some("one"), None, None))
  }

  test("simple CASE desugars to base = when-value comparisons") {
    val df = Seq("F", "O", "P").toDF("st")
    val out = df.select(
      ColFns.caseOf(col("st")).when(lit("F"), lit("done")).when(lit("O"), lit("open"))
        .end.as("w")).collect().map(r => Option(r.getString(0))).toSeq
    assert(out == Seq(Some("done"), Some("open"), None))
  }

  test("sortExpr covers all four asc/desc x nulls-first/last combos") {
    val df = Seq(Some(2), None, Some(1)).toDF("x")
    def order(asc: Boolean, nf: Boolean) =
      df.orderBy(ColFns.sortExpr(col("x"), asc, nf)).collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
    assert(order(asc = true, nf = false) == Seq(1, 2, -1))  // DataFusion default
    assert(order(asc = true, nf = true) == Seq(-1, 1, 2))
    assert(order(asc = false, nf = true) == Seq(-1, 2, 1))  // DataFusion desc default
    assert(order(asc = false, nf = false) == Seq(2, 1, -1))
  }

  test("typed UDF handle: declared arity enforced, declared types coerce args") {
    import org.apache.spark.sql.types._
    import graft.functions.Udfs
    val u = Udfs.defineUdfTyped(spark, "graft_spec_add2",
      Seq(DoubleType, DoubleType), DoubleType,
      { case Seq(a: Double, b: Double) => a + b })
    // graft-level arity error, at call-construction time
    val err = intercept[IllegalArgumentException] {
      Udfs.udfCall(u, Seq(col("x")))
    }
    assert(err.getMessage.contains("expects 2 arg(s)") && err.getMessage.contains("double"))
    // declared-type coercion: INT columns are cast to the declared DOUBLE
    val out = Seq((1, 2)).toDF("x", "y")
      .select(Udfs.udfCall(u, Seq(col("x"), col("y"))).as("s")).collect()(0).getDouble(0)
    assert(out == 3.0)
    // > 3 args: outside the reference's surface, refused at definition
    intercept[IllegalArgumentException] {
      Udfs.defineUdfTyped(spark, "graft_spec_bad",
        Seq(IntegerType, IntegerType, IntegerType, IntegerType), IntegerType, _ => 0)
    }
  }

  test("arrowType maps all 17 reference datatype names (SURVEY.md 1.2 widening)") {
    import org.apache.spark.sql.types._
    import graft.functions.Udfs.arrowType
    // exact
    assert(arrowType("null") == NullType && arrowType("boolean") == BooleanType)
    assert(arrowType("int8") == ByteType && arrowType("int16") == ShortType &&
      arrowType("int32") == IntegerType && arrowType("int64") == LongType)
    assert(arrowType("float32") == FloatType && arrowType("float64") == DoubleType)
    // widened: Spark has no unsigned / half-float
    assert(arrowType("uint8") == ShortType && arrowType("uint16") == IntegerType &&
      arrowType("uint32") == LongType && arrowType("uint64") == DecimalType(20, 0))
    assert(arrowType("float16") == FloatType)
    // Large* collapses to the one logical type
    assert(arrowType("binary") == BinaryType && arrowType("large-binary") == BinaryType)
    assert(arrowType("utf8") == StringType && arrowType("large-utf8") == StringType)
    intercept[IllegalArgumentException](arrowType("decimal128"))
  }
}
