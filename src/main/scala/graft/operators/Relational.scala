package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's core relational surface (SURVEY.md §2.2-2.3), as an
  * extension-method layer over `DataFrame`. Each method cites the wrapper it
  * re-expresses in `/root/reference/src/main.rs`. Everything here builds a
  * declarative logical plan — Catalyst keeps predicate pushdown, column
  * pruning, join selection, and AQE re-planning for free (SURVEY.md §4).
  */
object Relational {

  /** Join-type names accepted by `df/join` / `df/join-on`
    * (`/root/reference/src/main.rs:99-101`: DataFusion JoinType). Spark has
    * no right-semi/right-anti; those flip the sides (see [[GraftOps.joinNames]]).
    */
  val JoinTypes: Set[String] =
    Set("inner", "left", "right", "full", "left_semi", "right_semi", "left_anti", "right_anti", "cross")

  /** Parallelize an under-split input before expensive fused per-row work
    * (codec/synth UDFs, tokenization+shingling, wide decimal aggregation).
    *
    * A scan with fewer splits than cores serializes everything whole-stage
    * codegen fuses onto it — the optimization guide's input-skew case
    * ("one huge unsplittable file", §2.5), which single-row-group parquet
    * reproduces exactly: Spark can plan byte-range splits, but only the
    * split holding the row-group midpoint reads rows, so the stage runs on
    * ONE core regardless of the session's parallelism. The fix is the
    * guide's: repartition immediately after the read, BEFORE attaching the
    * expensive expressions, so the narrow raw rows pay one tiny exchange
    * and the heavy map work runs cores-wide.
    *
    * Conditional by measurement, not configuration: when the input already
    * has >= defaultParallelism partitions (any real multi-split table — the
    * 100 TB case), this is the identity, so callers can use it
    * unconditionally without pessimizing scale. The partition count tracks
    * the session's parallelism (`local[$SPARK_GRAFT_CPUS]` under the
    * driver), never a tuned constant. (A/B at sf0.1: TPC-H Q1's fused
    * scan+decimal-agg 2.3 s -> 1.4 s; the checked `rdd.getNumPartitions`
    * costs one plan->RDD conversion, no job.)
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Pin an exploding join's input partitioning at the session's
    * parallelism. AQE coalesces post-shuffle partitions by INPUT shuffle
    * bytes, so a pair-generating self-join whose input is megabytes but
    * whose OUTPUT is Σ|bucket|² rows collapses to a single task — the
    * 73M-row candidate join behind the TF-IDF cosine pairs ran on ONE core
    * (measured: one 2.8 s single-task stage inside a 13 s query). A
    * user-specified repartition is exempt from AQE coalescing, and keying
    * it on the join column means the self-join reuses this one exchange
    * for both sides. The count tracks `defaultParallelism` (the session's
    * core budget under the driver contract), never a tuned constant — at
    * cluster scale the same call pins the join at cluster parallelism,
    * which is what an exploding join wants there too.
    */
  def spreadBy(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, cols: _*)

  /** Symmetrize an edge list in ONE scan: each (a, b) row explodes to
    * (a, b) and (b, a). Semantically identical to
    * `e.union(e.select(b as a, a as b))` — same output multiset, row order
    * aside — but the union instantiates the edge frame's plan TWICE, and
    * exchange/stage reuse does not dedup across the union legs (their final
    * projections differ), so an expensive upstream (a pair-generating
    * similarity join, a kNN graph build) executes twice per
    * materialization. Measured on q51's cleanCorpus: the 819k-row shingle
    * explode+shuffle ran 2x per execution through the union form. Both
    * columns must share one data type (ids), or analysis fails loudly on
    * the array(struct, struct).
    */
  def bothDirections(e: DataFrame, a: String, b: String): DataFrame = {
    // Mixed-but-compatible endpoint types (int src / long dst) must unify
    // before the struct-array form — array(struct, struct) requires one
    // exact element type where the old union form coerced implicitly
    // (ADVICE r12). Numeric endpoints widen to the wider of the two;
    // non-numeric mismatches keep the loud analysis failure (a schema bug).
    import org.apache.spark.sql.types._
    val order: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
    val (ta, tb) = (e.schema(a).dataType, e.schema(b).dataType)
    val e2 =
      if (ta == tb) e
      else if (order.contains(ta) && order.contains(tb)) {
        val wide = if (order.indexOf(ta) >= order.indexOf(tb)) ta else tb
        e.withColumn(a, col(a).cast(wide)).withColumn(b, col(b).cast(wide))
      } else e
    e2.select(explode(array(
        struct(col(a).alias(a), col(b).alias(b)),
        struct(col(b).alias(a), col(a).alias(b)))).alias("__dir"))
      .select(col(s"__dir.$a").alias(a), col(s"__dir.$b").alias(b))
  }

  implicit class GraftOps(val df: DataFrame) extends AnyVal {

    /** Force analysis now (name resolution + type checking), returning the
      * same frame.
      *
      * NOTE: classic-mode Spark ALREADY analyzes at every Dataset
      * construction (`Dataset.ofRows` runs `assertAnalyzed`), so each
      * GraftOps operator fails fast on bad references at CALL time — the
      * same per-operator error timing as the reference (DataFusion validates
      * per-op, `src/main.rs:176-181`; SURVEY.md §3 EP2). RelationalSpec pins
      * this. `.analyzed` is therefore a no-op kept for API clarity and for
      * Spark Connect environments, where analysis IS deferred to the server
      * round-trip.
      */
    def analyzed: DataFrame = { df.schema; df }

    /** `df/select` — `src/main.rs:225-230,489`. */
    def selectCols(exprs: Seq[Column]): DataFrame = df.select(exprs: _*)

    /** `df/filter` — `src/main.rs:176-181,483`. */
    def filterCol(pred: Column): DataFrame = df.filter(pred)

    /** `df/aggregate` — `src/main.rs:183-195,484`. Empty group list =>
      * global aggregate (one row), matching DataFusion.
      * Scale: Spark plans this as partial (map-side) + final hash
      * aggregation — the shuffle carries pre-combined state, not rows.
      */
    def aggregate(group: Seq[Column], aggs: Seq[Column]): DataFrame = {
      require(aggs.nonEmpty, "df/aggregate needs >=1 aggregate expr")
      if (group.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(group: _*).agg(aggs.head, aggs.tail: _*)
    }

    /** ROLLUP aggregation: hierarchical subtotals over `group` prefixes
      * plus the grand total, with `grouping_id()` (bit i set = column i
      * aggregated away) appended as `gid` to disambiguate subtotal levels
      * from genuine NULL group values.
      *
      * Scale shape: Spark expands rollup into one Expand + ONE hash
      * aggregate pass (n+1 grouping sets from a single scan) — partial
      * aggregation still applies per set, so the shuffle carries one row
      * per (set, key), never the table.
      */
    def rollupAgg(group: Seq[Column], aggs: Seq[Column]): DataFrame = {
      require(group.nonEmpty, "rollup needs >= 1 group column")
      require(aggs.nonEmpty, "rollup needs >= 1 aggregate expr")
      df.rollup(group: _*).agg(grouping_id().cast("long").alias("gid"), aggs: _*)
    }

    /** CUBE aggregation: subtotals over EVERY subset of `group` (2^n sets)
      * — same Expand + single-pass shape as [[rollupAgg]]; `gid` appended.
      * 2^n grows fast: keep `group` to the few low-cardinality dimensions
      * a reporting rollup actually needs.
      */
    def cubeAgg(group: Seq[Column], aggs: Seq[Column]): DataFrame = {
      require(group.nonEmpty, "cube needs >= 1 group column")
      require(aggs.nonEmpty, "cube needs >= 1 aggregate expr")
      df.cube(group: _*).agg(grouping_id().cast("long").alias("gid"), aggs: _*)
    }

    /** `df/window` — `src/main.rs:197-202,485`: append window-function
      * columns (auto-named `w0, w1, ...`) to all existing columns.
      * The caller builds each expr with `.over(windowSpec)` already applied.
      */
    def windowCols(exprs: Seq[Column]): DataFrame =
      df.select(col("*") +: exprs.zipWithIndex.map { case (e, i) => e.alias(s"w$i") }: _*)

    /** Rolling aggregates over a ROWS frame: each `(name, agg)` — `agg` a
      * BARE aggregate call (`.over` must bind to the aggregate itself, so
      * cast/round the RESULT column afterwards) — evaluated over the last
      * `rowsBefore` rows plus the current one, per `group`, in `order`.
      * The order must be TOTAL within each group (add a unique tie-break
      * column) or the frame's row set — unlike a RANGE frame — depends on
      * the sort's tie order. One window exchange on the group keys; frames
      * never cross partitions, so 100 TB cost is the groupBy-shaped
      * shuffle plus a per-group sort.
      */
    def rollingAgg(group: Seq[Column], order: Seq[Column], rowsBefore: Int,
        aggs: Seq[(String, Column)]): DataFrame = {
      require(rowsBefore >= 0, s"rowsBefore must be >= 0, got $rowsBefore")
      val w = Window.partitionBy(group: _*).orderBy(order: _*)
        .rowsBetween(-rowsBefore.toLong, Window.currentRow)
      df.select(col("*") +: aggs.map { case (n, a) => a.over(w).alias(n) }: _*)
    }

    /** Rolling aggregates over a RANGE frame on a numeric order column
      * (e.g. epoch micros): rows whose order value lies within `lookback`
      * of the current row's. RANGE includes ALL peers of a tied order
      * value, so the result is deterministic even when the order is not
      * total — the time-window sibling of [[rollingAgg]]. Same bare-
      * aggregate contract.
      */
    def rollingRangeAgg(group: Seq[Column], order: Column, lookback: Long,
        aggs: Seq[(String, Column)]): DataFrame = {
      require(lookback >= 0, s"lookback must be >= 0, got $lookback")
      val w = Window.partitionBy(group: _*).orderBy(order)
        .rangeBetween(-lookback, Window.currentRow)
      df.select(col("*") +: aggs.map { case (n, a) => a.over(w).alias(n) }: _*)
    }

    /** `df/sort` — `src/main.rs:218-223,488`: explicit sort exprs (built via
      * ColFns.sortExpr with asc/desc + nulls ordering).
      * Scale: total sort = range-partitioned shuffle; prefer sortWithinPartitions
      * when global order is not required.
      */
    def sortExprs(sorts: Seq[Column]): DataFrame = df.orderBy(sorts: _*)

    /** `df/sort-by` — `src/main.rs:211-216,487`: default order. DataFusion's
      * default is ASC NULLS LAST; Spark's bare `.asc` is nulls-first, so we
      * must be explicit.
      *
      * A total sort range-partitions, and the range partitioner's sampling
      * job runs the sort's input pipeline a second time up to its last
      * exchange. Use [[sortByStaged]] instead when that input is a map
      * pipeline with no exchange that costs more than its rows (a
      * nested-loop join, codec or synth UDFs, explodes).
      */
    def sortBy(exprs: Seq[Column]): DataFrame = df.orderBy(exprs.map(_.asc_nulls_last): _*)

    /** [[sortBy]] behind a hash exchange on the sort keys, so the input
      * pipeline runs once: in the exchange's map stage. The range sampler
      * then reads that shuffle's output instead of re-running the pipeline
      * (measured q244: two identical 1 s decode stages back to back; q37:
      * the cosine nested-loop join scored twice). No block outlives the
      * query, and a lost executor's output is recomputed from lineage. The
      * partition count is `defaultParallelism`, as in [[Relational.spreadBy]];
      * results are identical to [[sortBy]]'s.
      */
    def sortByStaged(exprs: Seq[Column]): DataFrame =
      spreadBy(df, exprs: _*).orderBy(exprs.map(_.asc_nulls_last): _*)

    /** `df/limit` — `src/main.rs:204-209,486`: OFFSET skip, optional LIMIT
      * fetch (Spark >= 3.4 has a real `offset`).
      */
    def limitOffset(skip: Int, fetch: Option[Int]): DataFrame = {
      val off = if (skip > 0) df.offset(skip) else df
      fetch.fold(off)(off.limit)
    }

    /** `df/distinct` — `src/main.rs:156-158,481`. */
    def distinctAll: DataFrame = df.distinct()

    /** `df/distinct-on` — `src/main.rs:160-174,482`: Postgres DISTINCT ON —
      * first row per `on`-group under `sort` order, projecting `select`.
      * Composed as row_number over a window (SURVEY.md §2.2): one shuffle on
      * the `on` keys, no second pass.
      */
    def distinctOn(on: Seq[Column], select: Seq[Column], sort: Seq[Column]): DataFrame = {
      require(on.nonEmpty, "distinct-on needs >=1 ON expr")
      val w = Window.partitionBy(on: _*).orderBy(sort: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(select: _*)
    }

    /** `df/join` — `src/main.rs:232-253,490`: equi-join on named column
      * pairs + optional extra (possibly non-equi) filter; both sides'
      * columns are retained.
      *
      * Scale: the equi keys make this hash-joinable; Catalyst/AQE picks
      * broadcast vs shuffled-hash vs sort-merge from size stats. Callers
      * join small dimensions with `broadcast(right)` to pin the strategy.
      */
    def joinNames(
        right: DataFrame,
        joinType: String,
        leftCols: Seq[String],
        rightCols: Seq[String],
        extra: Option[Column] = None
    ): DataFrame = {
      require(leftCols.length == rightCols.length, "left/right key lists must align")
      require(JoinTypes.contains(joinType), s"unknown join type $joinType")
      // right_semi/right_anti: Spark only has left-variants; flip the sides.
      if (joinType == "right_semi" || joinType == "right_anti") {
        val flipped = joinType.replace("right", "left")
        return right.joinNames(df, flipped, rightCols, leftCols, extra)
      }
      val eq = leftCols
        .zip(rightCols)
        .map { case (l, r) => df(l) === right(r) }
        .reduceOption(_ && _)
      val cond = (eq, extra) match {
        case (Some(e), Some(f)) => Some(e && f)
        case (Some(e), None)    => Some(e)
        case (None, f)          => f
      }
      cond.fold(df.crossJoin(right))(c => df.join(right, c, joinType))
    }

    /** Skew-salted inner equi-join: the hot-key antidote when a handful of
      * join keys carry a disproportionate share of rows. The left (big,
      * skewed) side is spread over `buckets` sub-partitions by a
      * deterministic salt hashed from `saltFrom` (any high-cardinality
      * column, e.g. the row id); the right side is replicated across all
      * salts. The shuffle then distributes each hot key over `buckets`
      * reducers instead of one.
      *
      * Use when AQE's skew handling can't help: AQE splits oversized
      * partitions of sort-merge joins, but a single hot KEY inside one
      * partition, or a shuffled-hash plan, still lands on one task.
      * Replication multiplies the right side — keep it the small side.
      */
    def saltedJoin(
        right: DataFrame,
        leftKeys: Seq[String],
        rightKeys: Seq[String],
        saltFrom: Column,
        buckets: Int
    ): DataFrame = {
      require(buckets > 1, "salting needs >1 bucket")
      require(leftKeys.length == rightKeys.length, "left/right key lists must align")
      val salted = df.withColumn("__salt", pmod(xxhash64(saltFrom), lit(buckets.toLong)))
      val replicated = right.withColumn("__salt", explode(sequence(lit(0L), lit(buckets.toLong - 1))))
      val eq = leftKeys.zip(rightKeys)
        .map { case (l, r) => salted(l) === replicated(r) }
        .reduce(_ && _) && salted("__salt") === replicated("__salt")
      // Pin the shuffle-join regime ("merge" hint): salting exists to spread
      // a hot key across reducers — if the right side were broadcastable,
      // no salting would be needed at all, and broadcasting the
      // buckets-times-replicated side would only multiply the build cost.
      salted.join(replicated.hint("merge"), eq, "inner").drop("__salt")
    }

    /** As-of join (time-series nearest-match): for each left row, the
      * single right row with the LARGEST `rightTs <= leftTs` within the
      * same key; left rows with no earlier right row are dropped (inner
      * semantics — DuckDB/kdb ASOF JOIN). Returns two struct columns `l`
      * and `r` (the matched rows) so same-named columns never collide;
      * callers project `col("l.x")` / `col("r.y")`.
      *
      * Shape: ONE shuffle on the key — both sides union into a single
      * frame, a per-key window sorted by (ts, side) carries the last
      * non-null right row forward onto each left row. No range join, no
      * per-key loop; cost class of a sessionization. (A naive
      * `l.ts >= r.ts` theta join would be a nested loop over every pair.)
      * Right rows must be unique per (key, ts) — pre-dedup otherwise, or
      * the tie survivor is partition-order-dependent.
      */
    def asofJoin(
        right: DataFrame,
        leftKeys: Seq[String],
        rightKeys: Seq[String],
        leftTs: String,
        rightTs: String
    ): DataFrame = {
      require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
        "as-of join needs aligned, non-empty key lists")
      val lType = org.apache.spark.sql.types.StructType(df.schema.fields)
      val rType = org.apache.spark.sql.types.StructType(right.schema.fields)
      val lPart = df.select(
        leftKeys.zipWithIndex.map { case (k, i) => df(k).alias(s"__k$i") } ++ Seq(
          df(leftTs).alias("__ts"), lit(1).alias("__side"),
          struct(df.columns.map(df(_)): _*).alias("__l"),
          lit(null).cast(rType).alias("__r")): _*)
      val rPart = right.select(
        rightKeys.zipWithIndex.map { case (k, i) => right(k).alias(s"__k$i") } ++ Seq(
          right(rightTs).alias("__ts"), lit(0).alias("__side"),
          lit(null).cast(lType).alias("__l"),
          struct(right.columns.map(right(_)): _*).alias("__r")): _*)
      // right rows sort before left rows at equal ts => ts-equal matches
      // count (ASOF's >= semantics)
      val w = Window
        .partitionBy(leftKeys.indices.map(i => col(s"__k$i")): _*)
        .orderBy(col("__ts"), col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lPart.union(rPart)
        .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
        .filter(col("__side") === 1 && col("__m").isNotNull)
        .select(col("__l").alias("l"), col("__m").alias("r"))
    }

    /** Interval (range) join: each left row pairs with every right row
      * whose `[rightStart, rightEnd]` interval (inclusive) contains the
      * left row's `leftTs`, with equi-keys ANDed in. Returns the same
      * (`l` struct, `r` struct) layout as [[asofJoin]].
      *
      * Scale shape: a naive BETWEEN predicate forces a nested-loop per key
      * group — quadratic when key groups are large (or absent). Here both
      * sides bucket time by `bucketWidth` micros: intervals explode to each
      * covered bucket, points take their single bucket, and the join becomes
      * a pure EQUI-join on (keys..., bucket) that Catalyst hash-partitions;
      * the containment predicate re-checks inside the join. A point matches
      * an interval in exactly one bucket (its own), so no post-join dedup is
      * needed. Pick `bucketWidth` near the typical interval length: each
      * interval then explodes to ~2 rows.
      */
    def rangeJoin(
        right: DataFrame,
        leftKeys: Seq[String],
        rightKeys: Seq[String],
        leftTs: String,
        rightStart: String,
        rightEnd: String,
        bucketWidth: Long
    ): DataFrame = {
      require(leftKeys.length == rightKeys.length, "range join needs aligned key lists")
      require(bucketWidth > 0, "bucketWidth must be positive micros")
      val lb = df.select(
        leftKeys.zipWithIndex.map { case (k, i) => df(k).alias(s"__k$i") } ++ Seq(
          floor(unix_micros(df(leftTs).cast("timestamp")) / bucketWidth).cast("long").alias("__b"),
          df(leftTs).alias("__ts"),
          struct(df.columns.map(df(_)): _*).alias("__l")): _*)
      val rb = right.select(
        rightKeys.zipWithIndex.map { case (k, i) => right(k).alias(s"__k$i") } ++ Seq(
          explode(sequence(
            floor(unix_micros(right(rightStart).cast("timestamp")) / bucketWidth).cast("long"),
            floor(unix_micros(right(rightEnd).cast("timestamp")) / bucketWidth).cast("long")))
            .alias("__b"),
          right(rightStart).alias("__s"), right(rightEnd).alias("__e"),
          struct(right.columns.map(right(_)): _*).alias("__r")): _*)
      val keyCond = leftKeys.indices.map(i => lb(s"__k$i") === rb(s"__k$i"))
      val cond = (keyCond :+ (lb("__b") === rb("__b")) :+
        (lb("__ts") >= rb("__s")) :+ (lb("__ts") <= rb("__e"))).reduce(_ && _)
      lb.join(rb, cond).select(lb("__l").alias("l"), rb("__r").alias("r"))
    }

    /** Interval OVERLAP join (timestamps): every (left, right) pair with the
      * same keys whose [start, end] intervals intersect — the
      * concurrency/coverage primitive ([[rangeJoin]] is the point-in-interval
      * special case).
      *
      * Scale shape: both sides explode their covered time buckets and the
      * join is an equi-join on (keys..., bucket). An overlapping pair shares
      * every bucket of its intersection, so the pair is counted ONCE by
      * anchoring on the intersection's FIRST bucket
      * (`bucket == floor(max(l.start, r.start) / width)`) — a predicate, not
      * a post-join dedup shuffle. Pick `bucketWidth` near the typical
      * interval length: each interval explodes to ~2 rows.
      */
    def intervalJoin(
        right: DataFrame,
        leftKeys: Seq[String],
        rightKeys: Seq[String],
        leftStart: String,
        leftEnd: String,
        rightStart: String,
        rightEnd: String,
        bucketWidth: Long
    ): DataFrame = {
      require(leftKeys.length == rightKeys.length, "interval join needs aligned key lists")
      require(bucketWidth > 0, "bucketWidth must be positive micros")
      def us(d: DataFrame, c: String) = unix_micros(d(c).cast("timestamp"))
      val lb = df.select(
        leftKeys.zipWithIndex.map { case (k, i) => df(k).alias(s"__k$i") } ++ Seq(
          explode(sequence(
            floor(us(df, leftStart) / bucketWidth).cast("long"),
            floor(us(df, leftEnd) / bucketWidth).cast("long"))).alias("__b"),
          us(df, leftStart).alias("__ls"), us(df, leftEnd).alias("__le"),
          struct(df.columns.map(df(_)): _*).alias("__l")): _*)
      val rb = right.select(
        rightKeys.zipWithIndex.map { case (k, i) => right(k).alias(s"__k$i") } ++ Seq(
          explode(sequence(
            floor(us(right, rightStart) / bucketWidth).cast("long"),
            floor(us(right, rightEnd) / bucketWidth).cast("long"))).alias("__b"),
          us(right, rightStart).alias("__rs"), us(right, rightEnd).alias("__re"),
          struct(right.columns.map(right(_)): _*).alias("__r")): _*)
      val keyCond = leftKeys.indices.map(i => lb(s"__k$i") === rb(s"__k$i"))
      val overlap = (lb("__ls") <= rb("__re")) && (rb("__rs") <= lb("__le"))
      val anchor = lb("__b") === floor(greatest(lb("__ls"), rb("__rs")) / bucketWidth).cast("long")
      val cond = (keyCond :+ (lb("__b") === rb("__b")) :+ overlap :+ anchor).reduce(_ && _)
      lb.join(rb, cond).select(lb("__l").alias("l"), rb("__r").alias("r"))
    }

    /** `df/join-on` — `src/main.rs:255-265,491`: theta join, predicates
      * ANDed; empty list => cross join (DataFusion semantics).
      * Scale: a pure theta join is broadcast-nested-loop — keep at least one
      * equi predicate in `preds` wherever possible so Catalyst can hash-join.
      */
    def joinOn(right: DataFrame, joinType: String, preds: Seq[Column]): DataFrame =
      preds.reduceOption(_ && _) match {
        case Some(p) => df.join(right, p, joinType)
        case None    => df.crossJoin(right)
      }

    /** `df/union` — `src/main.rs:145-147,479`: UNION ALL by position. */
    def unionAll(other: DataFrame): DataFrame = df.union(other)

    /** `df/union-distinct` — `src/main.rs:149-154,480`. */
    def unionDistinct(other: DataFrame): DataFrame = df.union(other).distinct()

    /** `df/intersect` — `src/main.rs:274-279,493` (distinct semantics). */
    def intersectDistinct(other: DataFrame): DataFrame = df.intersect(other)

    /** `df/except` — `src/main.rs:281-286,494` (distinct semantics). */
    def exceptDistinct(other: DataFrame): DataFrame = df.except(other)

    /** `df/explain` — `src/main.rs:267-272,492`: the reference returns the
      * plan as a DataFrame (rows = plan text). We capture the formatted
      * queryExecution the same way.
      */
    def explainDf(extended: Boolean = false): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val text =
        if (extended) df.queryExecution.toString
        else df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      spark.createDataset(text.linesIterator.toSeq).toDF("plan")
    }

    /** Fixed-width histogram of a numeric column over [lo, hi): bucket i
      * covers [lo + i*w, lo + (i+1)*w), out-of-range values clamp to the
      * end buckets. One partial-aggregated groupBy — the profiling scan a
      * pipeline runs before choosing filters/bounds. Returns
      * (bucket, bucket_lo, n) for non-empty buckets.
      */
    def histogramOf(c: Column, lo: Double, hi: Double, buckets: Int): DataFrame = {
      require(buckets > 0 && hi > lo, s"need hi > lo and buckets > 0")
      val w = (hi - lo) / buckets
      val b = least(greatest(floor((c - lit(lo)) / lit(w)), lit(0.0)), lit((buckets - 1).toDouble))
        .cast("long")
      df.select(b.alias("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).alias("n"))
        .select(col("bucket"), (lit(lo) + col("bucket") * lit(w)).alias("bucket_lo"), col("n"))
    }

    /** Per-group Pearson correlation, sample covariance, and sample
      * stddevs of (x, y) — computed from EXACT decimal co-moments
      * (n, Σx, Σy, Σxy, Σx², Σy²) rather than Spark's streaming `corr`:
      * the six sums are order-independent (decimal adds are exact), so the
      * result is identical on any partitioning/engine, and the final
      * double formula is one fixed IEEE sequence. One partial-aggregated
      * pass; at 100 TB this shuffles six decimals per group.
      *
      * corr is NULL where either variance is zero (constant column).
      */
    def corrStats(group: Seq[Column], x: Column, y: Column): DataFrame = {
      def dec(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(30, 6))
      // spread before the partial aggregation: the per-row cost here is
      // three Decimal128 multiplies, so a few-split input leaves cores
      // idle exactly where the work is (measured on q78: a 2.0 s 3-task
      // stage over 600k lineitem rows). Conditional — at real scale the
      // input has >= cores splits and this is a no-op, preserving the
      // "six decimals per group through the shuffle" scale shape.
      val agged = spread(df).groupBy(group: _*).agg(
        count(lit(1)).alias("n"),
        sum(dec(x)).alias("sx"), sum(dec(y)).alias("sy"),
        sum(dec(x * y)).alias("sxy"),
        sum(dec(x * x)).alias("sxx"), sum(dec(y * y)).alias("syy"))
      val n = col("n").cast("double")
      def d(name: String) = col(name).cast("double")
      val vx = n * d("sxx") - d("sx") * d("sx")
      val vy = n * d("syy") - d("sy") * d("sy")
      val cov = n * d("sxy") - d("sx") * d("sy")
      agged.select(group.indices.map(i => col(agged.columns(i))) ++ Seq(
        col("n"),
        when(vx > 0 && vy > 0, cov / (sqrt(vx) * sqrt(vy))).alias("corr"),
        (cov / (n * (n - lit(1.0)))).alias("covar_samp"),
        sqrt(vx / (n * (n - lit(1.0)))).alias("std_x"),
        sqrt(vy / (n * (n - lit(1.0)))).alias("std_y")): _*)
    }

    /** Join-key skew diagnosis: the top-k hottest keys with their share of
      * all rows and their skew factor (count / mean-count-per-key). The
      * profiling pass you run BEFORE choosing between a plain shuffle
      * join, [[saltedJoin]], or a broadcast — at 100 TB a skew factor in
      * the thousands on one key is the difference between a 10-minute job
      * and a hung stage.
      *
      * One partial-aggregated groupBy (narrow key + count through the
      * shuffle), a 1-row global reduce broadcast back, and a bounded top-k
      * (TakeOrderedAndProject). share and skew are two-op IEEE sequences
      * on exact integers — hash-matchable.
      */
    def keySkewStats(key: Column, k: Int = 20): DataFrame = {
      require(k > 0, s"k must be positive, got $k")
      val counts = df.groupBy(key.alias("key")).agg(count(lit(1)).alias("cnt"))
      val tot = counts.agg(
        count(lit(1)).alias("n_keys"),
        sum(col("cnt")).alias("n_rows"))
      counts.crossJoin(broadcast(tot))
        .orderBy(col("cnt").desc, col("key"))
        .limit(k)
        // unpartitioned window, bounded: top-k rows
        .withColumn("rank",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("key"))).cast("long"))
        .select(col("rank"), col("key"), col("cnt"), col("n_keys"), col("n_rows"),
          (col("cnt").cast("double") / col("n_rows").cast("double")).alias("share"),
          ((col("cnt").cast("double") * col("n_keys").cast("double"))
            / col("n_rows").cast("double")).alias("skew"))
    }

    /** Long→wide pivot with EXPLICIT pivot values: one aggregate pass, no
      * preliminary distinct-collect job over the pivot column (Spark runs
      * one when `values` is omitted — an extra scan a 100 TB pipeline
      * shouldn't pay for a dimension the caller already knows). Output
      * columns are `{value}_{aggAlias}`.
      */
    def pivotAgg(group: Seq[Column], pivotCol: String, values: Seq[Any],
        aggs: Seq[Column]): DataFrame = {
      require(group.nonEmpty, "pivot needs >= 1 group column")
      require(values.nonEmpty, "pivot needs explicit pivot values")
      require(aggs.nonEmpty, "pivot needs >= 1 aggregate expr")
      df.groupBy(group: _*).pivot(pivotCol, values).agg(aggs.head, aggs.tail: _*)
    }

    /** Weighted SYSTEMATIC sample, stratified: within each stratum, walk
      * rows in `order` order accumulating integer `weight`, and keep every
      * row whose weight interval crosses a multiple of `step` — i.e. one
      * row per `step` weight units, spread evenly, selection probability
      * proportional to weight. Deterministic (no RNG, no partition-layout
      * dependence) and exact cross-engine: the running sum is integer, the
      * crossing test is `floor` on doubles that are exact integers.
      *
      * The proportional-to-size composition step: with weight = doc length
      * this samples tokens-per-source uniformly rather than docs-per-source.
      * Scale shape: ONE shuffle on the stratum key; the running sum is a
      * per-stratum window, so parallelism = number of strata (pick strata
      * accordingly — this is a per-source op, not a global one; zero-weight
      * rows are never selected).
      */
    def systematicSample(stratum: Column, order: Column, weight: Column,
        step: Long): DataFrame = {
      require(step > 0, s"step must be positive, got $step")
      val w = Window.partitionBy(stratum).orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
      df.withColumn("__w", weight.cast("long"))
        .withColumn("__cum", sum(col("__w")).over(w))
        .filter(floor(col("__cum").cast("double") / step) >
          floor((col("__cum") - col("__w")).cast("double") / step))
        .drop("__w", "__cum")
    }

    /** Exact weighted percentile per group: the smallest `value` whose
      * cumulative weight reaches `pPpm` millionths of the group's total —
      * the weighted median (p = 500000) and friends, computed as pure
      * integer arithmetic so the answer replays bit-for-bit (DuckDB's
      * quantile_cont interpolates; this is the lower weighted quantile by
      * contract). Weight = token count turns a per-DOC median into a
      * per-TOKEN median — the corpus-composition read that doc-level
      * percentiles get wrong whenever length correlates with the value.
      *
      * Returns one row per group: (group…, total_w, p_value, cum_w) with
      * cum_w the cumulative weight at the picked value. `value` and
      * `weight` must be integer-valued (cast to long); zero/negative
      * weights are rejected as meaningless.
      *
      * Scale shape: one (group, value) partial-agg groupBy collapses
      * duplicates BEFORE any ordering (row order can't matter), one
      * cumulative window per group over that collapsed frame (distinct
      * values per group is the frame size, not rows), one argmin
      * reduction. Products go through DECIMAL(38,0) so ppm · total never
      * overflows at 100 TB weight totals.
      */
    def weightedPercentile(group: Seq[Column], value: Column, weight: Column,
        pPpm: Long): DataFrame = {
      require(pPpm >= 1 && pPpm <= 1000000L, s"pPpm must be in [1, 1e6], got $pPpm")
      require(group.nonEmpty, "weightedPercentile needs >= 1 group column")
      val gk = group.indices.map(i => s"__g$i")
      // NO spread here (measured q290, r13): the (group, value) collapse is
      // a partial-aggregating groupBy, so the map side already combines
      // in-scan; a pre-shuffle spread just moves 600 k raw rows through an
      // extra exchange to save nothing (A/B: 3.3 s → 4.6 s WITH spread).
      // The per-group cumulative window is bounded by group count either way.
      val perValue = df
        .select(group.zip(gk).map { case (g, n) => g.alias(n) } :+
          value.cast("long").alias("__v") :+ weight.cast("long").alias("__w"): _*)
        .groupBy((gk.map(col) :+ col("__v")): _*)
        .agg(sum(col("__w")).alias("__vw"))
      val w = Window.partitionBy(gk.map(col): _*).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = perValue.withColumn("__cum", sum(col("__vw")).over(w))
      val totals = cum.groupBy(gk.map(col): _*)
        .agg(max(col("__cum")).alias("total_w"))
      cum.join(totals, gk)
        .filter(col("__cum").cast(DecimalType(38, 0)) * 1000000L >=
          col("total_w").cast(DecimalType(38, 0)) * pPpm)
        .groupBy(gk.map(col): _*)
        .agg(max(col("total_w")).alias("total_w"),
          min(struct(col("__v").alias("v"), col("__cum").alias("c"))).alias("__m"))
        .select((gk.map(col) :+ col("total_w") :+
          col("__m.v").alias("p_value") :+ col("__m.c").alias("cum_w")): _*)
        .toDF(group.indices.map(i => s"g$i") ++ Seq("total_w", "p_value", "cum_w"): _*)
    }

    /** Per-group winsorization (outlier clipping): `value` is clamped to its
      * group's [lo, hi] exact percentiles — the standard feature-cleaning
      * step before normalization/training. Clipping is pure SELECTION
      * (comparisons + the percentile value itself), no per-row arithmetic,
      * so outputs are engine-exact up to the percentile interpolation
      * (`percentile` == DuckDB `quantile_cont`, pinned by q61).
      * Returns the input plus `{p_lo, p_hi, clipped}`.
      *
      * Scale shape: one partial-aggregating groupBy computes both bounds,
      * then a broadcast join feeds the clamp — the big table streams once,
      * unshuffled. The default EXACT `percentile` buffers every group value
      * in its aggregation buffer (the oracle-able form, fine up to
      * ~10^8-value groups); at 100 TB pass `approximate = true` to swap in
      * the `approx_percentile` sketch — identical plan shape, O(accuracy)
      * memory per group, rank error <= n/accuracy.
      */
    def winsorize(group: Seq[Column], value: Column, lo: Double,
        hi: Double, approximate: Boolean = false,
        accuracy: Int = 10000): DataFrame = {
      require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
      require(group.nonEmpty, "winsorize needs >= 1 group column")
      val v = value.cast("double")
      // ONE percentile aggregate with both targets: two separate calls each
      // buffer/sort the whole group — the array form halves the dominant
      // cost (measured 2x on 600k rows)
      val both =
        if (approximate) percentile_approx(v, array(lit(lo), lit(hi)), lit(accuracy))
        else percentile(v, array(lit(lo), lit(hi)))
      val gk = group.indices.map(i => s"__g$i")
      // spread: the exact percentile buffers every value in its aggregation
      // buffer during the scan-fused partial agg — on a single-split input
      // that whole pass runs on one core (the clamp side still streams the
      // raw table unshuffled)
      val bounds = Relational.spread(df)
        .groupBy(group.zip(gk).map { case (g, n) => g.alias(n) }: _*)
        .agg(both.alias("__p"))
        .select(col("*"), element_at(col("__p"), 1).alias("p_lo"),
          element_at(col("__p"), 2).alias("p_hi"))
        .drop("__p")
      val cond = group.zip(gk).map { case (g, n) => g === col(n) }.reduce(_ && _)
      df.join(broadcast(bounds), cond)
        .withColumn("clipped",
          when(v < col("p_lo"), col("p_lo"))
            .when(v > col("p_hi"), col("p_hi"))
            .otherwise(v))
        .drop(gk: _*)
    }

    /** Per-group min-max normalization: `(x - min) / (max - min)` into
      * [0, 1] (0.0 for constant groups) — the feature-scaling sibling of
      * [[winsorize]]. Each output value is exactly three correctly-rounded
      * IEEE ops on exact inputs (group min/max are selections, not
      * arithmetic), so results are bit-identical across engines with NO
      * rounding slack. Same shape: one partial-aggregating groupBy for the
      * bounds, broadcast join, narrow per-row math.
      * Returns the input plus `{v_min, v_max, normalized}`.
      */
    def normalizeMinMax(group: Seq[Column], value: Column): DataFrame = {
      require(group.nonEmpty, "normalizeMinMax needs >= 1 group column")
      val v = value.cast("double")
      val gk = group.indices.map(i => s"__g$i")
      val bounds = df
        .groupBy(group.zip(gk).map { case (g, n) => g.alias(n) }: _*)
        .agg(min(v).alias("v_min"), max(v).alias("v_max"))
      val cond = group.zip(gk).map { case (g, n) => g === col(n) }.reduce(_ && _)
      df.join(broadcast(bounds), cond)
        .withColumn("normalized",
          when(col("v_max") === col("v_min"), lit(0.0))
            .otherwise((v - col("v_min")) / (col("v_max") - col("v_min"))))
        .drop(gk: _*)
    }

    /** Per-group robust scaling: `(x - median) / MAD` (median absolute
      * deviation) — the outlier-insensitive sibling of
      * [[normalizeMinMax]] (one extreme value shifts a min-max range
      * arbitrarily but moves a median/MAD not at all). Constant groups
      * (MAD = 0) scale to 0.0.
      *
      * Two aggregate passes by construction (MAD needs the median first);
      * both reduce to per-group rows broadcast back, the corpus itself
      * never shuffles. Exact percentile buffers each group in its
      * aggregate — at 100 TB flip `approximate = true` (t-digest).
      */
    def robustScale(group: Seq[Column], value: Column,
        approximate: Boolean = false, accuracy: Int = 10000): DataFrame = {
      require(group.nonEmpty, "robustScale needs >= 1 group column")
      val v = value.cast("double")
      def med(c: Column) =
        if (approximate) percentile_approx(c, lit(0.5), lit(accuracy))
        else percentile(c, lit(0.5))
      val gk = group.indices.map(i => s"__g$i")
      // spread: both percentile aggregations (median, then MAD over the
      // broadcast-joined deviations) are scan-fused — single-split inputs
      // would run each 600k-value buffer pass on one core
      val dfS = Relational.spread(df)
      val medians = dfS
        .groupBy(group.zip(gk).map { case (g, n) => g.alias(n) }: _*)
        .agg(med(v).alias("v_med"))
      val cond = group.zip(gk).map { case (g, n) => g === col(n) }.reduce(_ && _)
      val withMed = dfS.join(broadcast(medians), cond)
      val mads = withMed
        .groupBy(gk.map(col): _*)
        .agg(med(abs(v - col("v_med"))).alias("v_mad"))
      withMed.join(broadcast(mads), gk)
        .withColumn("scaled",
          when(col("v_mad") === 0.0, lit(0.0))
            .otherwise((v - col("v_med")) / col("v_mad")))
        .drop(gk: _*)
    }

    /** Banded-deviation contract for [[winsorize]]'s `approximate = true`
      * path — upgrades the sketch configuration from "rows-only, a spec
      * bounds the error" to an independently hash-verifiable artifact.
      * Sketch cut points are engine-specific, so the contract emits only
      * values an independent engine can replay from the EXACT
      * distribution: per group — `n_rows`, the exact percentile bounds
      * (`p_lo`, `p_hi`, round-6), and three integers that are the
      * constants (1, 1, 0) WHENEVER the sketch honors its guarantee:
      *
      *   - `lo_in_band` / `hi_in_band`: the approx percentile lies inside
      *     the exact quantile band [q(p−δ), q(p+δ)]. The GK summary under
      *     `percentile_approx` guarantees rank error ≤ n/accuracy;
      *     δ = 2/accuracy + bandSlack, where the 2× covers the sketch
      *     bound with interpolation margin and the additive slack
      *     (default 0.002) absorbs the rank-convention gap between the
      *     sketch's discrete rank and the interpolated exact quantile at
      *     small n (at n = 2000 the band is still only ~4 ranks wide).
      *   - `n_decision_diff_outside`: rows whose CLIP DECISION differs
      *     between the approx and exact bounds while sitting OUTSIDE both
      *     bands. Both bounds live inside their band when the flags hold,
      *     so any decision flip happens between them — the count is 0
      *     unless the sketch broke its bound or the per-row clamp itself
      *     is wrong (the per-row coverage the group flags alone lack).
      *
      * A violation flips an integer and fails the driver's hash compare;
      * the oracle replays the exact quantiles plus the constants. Group
      * output columns keep their input expression names — pass plain or
      * aliased columns.
      *
      * Scale shape: the operator under test runs unchanged (sketch
      * aggregate + broadcast clamp); the contract adds one exact
      * percentile aggregate (the instrument — it buffers per-group values
      * exactly like [[winsorize]]'s default, so run the contract at audit
      * scale, not on the 100 TB corpus) and a per-group re-aggregation of
      * the operator's own output.
      */
    def winsorizeApproxBands(group: Seq[Column], value: Column, lo: Double,
        hi: Double, accuracy: Int = 10000,
        bandSlack: Double = 0.002): DataFrame = {
      require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
      require(group.nonEmpty, "winsorizeApproxBands needs >= 1 group column")
      require(accuracy > 0 && bandSlack >= 0, "accuracy > 0, bandSlack >= 0")
      val delta = 2.0 / accuracy + bandSlack
      def cl(p: Double) = math.min(1.0, math.max(0.0, p))
      val v = value.cast("double")
      val gk = group.indices.map(i => s"__g$i")
      // one exact aggregate carries the band edges AND the oracle-able
      // bounds: [lo−δ, lo, lo+δ, hi−δ, hi, hi+δ]
      val fr = Seq(cl(lo - delta), lo, cl(lo + delta), cl(hi - delta), hi, cl(hi + delta))
      val exact = df
        .groupBy(group.zip(gk).map { case (g, n) => g.alias(n) }: _*)
        .agg(percentile(v, array(fr.map(lit): _*)).alias("__pe"))
      val cond = group.zip(gk).map { case (g, n) => g === col(n) }.reduce(_ && _)
      // the operator under test: approx bounds + per-row clip decisions
      val approx = winsorize(group, value, lo, hi, approximate = true,
        accuracy = accuracy)
      def pe(i: Int) = element_at(col("__pe"), i)
      val (eLoLo, eLo, eLoHi, eHiLo, eHi, eHiHi) =
        (pe(1), pe(2), pe(3), pe(4), pe(5), pe(6))
      val decisionDiffOutside =
        ((v < col("p_lo")) =!= (v < eLo)) && !v.between(eLoLo, eLoHi) ||
        ((v > col("p_hi")) =!= (v > eHi)) && !v.between(eHiLo, eHiHi)
      approx.join(broadcast(exact), cond)
        .groupBy(group: _*)
        .agg(
          count(lit(1)).alias("n_rows"),
          round(min(eLo), 6).alias("p_lo"),
          round(min(eHi), 6).alias("p_hi"),
          min(when(col("p_lo").between(eLoLo, eLoHi), 1L).otherwise(0L))
            .alias("lo_in_band"),
          min(when(col("p_hi").between(eHiLo, eHiHi), 1L).otherwise(0L))
            .alias("hi_in_band"),
          sum(when(decisionDiffOutside, 1L).otherwise(0L))
            .alias("n_decision_diff_outside"))
    }

    /** Banded-deviation contract for [[robustScale]]'s `approximate =
      * true` path — [[winsorizeApproxBands]]' sibling for the median/MAD
      * sketch, with one extra derivation step because the approx MAD is a
      * sketch over deviations from the approx (engine-specific) median:
      *
      *   - `med_in_band`: approx median ∈ [q(0.5−δ), q(0.5+δ)] of x —
      *     the direct GK rank guarantee, δ = 2/accuracy + bandSlack.
      *   - `mad_in_band`: with B₁ = max(med−q(0.5−δ), q(0.5+δ)−med) the
      *     worst in-band median displacement, |x−med_a| and |x−med_e|
      *     differ pointwise by ≤ B₁, so every quantile of the approx
      *     deviation distribution lives within ±B₁ of the exact one:
      *     approx MAD ∈ [D(0.5−δ) − B₁, D(0.5+δ) + B₁] where D is the
      *     exact quantile of |x − med_e|. Both edges replay from exact
      *     values only.
      *   - `n_scaled_mismatch`: rows where the operator's `scaled` does
      *     not round-trip `scaled·mad + med = x` to 1e-9 relative (or a
      *     zero-MAD group scaled ≠ 0) — the per-row arithmetic check.
      *
      * Output per group: `n_rows`, exact `v_med`/`v_mad` (round-6,
      * oracle-replayable), `med_in_band`, `mad_in_band`,
      * `n_scaled_mismatch` — the constants (1, 1, 0) whenever the sketch
      * honors its bound. Same instrument caveat as
      * [[winsorizeApproxBands]]: the contract itself runs exact
      * percentiles; audit scale only.
      */
    def robustScaleApproxBands(group: Seq[Column], value: Column,
        accuracy: Int = 10000, bandSlack: Double = 0.002): DataFrame = {
      require(group.nonEmpty, "robustScaleApproxBands needs >= 1 group column")
      require(accuracy > 0 && bandSlack >= 0, "accuracy > 0, bandSlack >= 0")
      val delta = math.min(0.49, 2.0 / accuracy + bandSlack)
      val v = value.cast("double")
      val gk = group.indices.map(i => s"__g$i")
      val frs = Seq(0.5 - delta, 0.5, 0.5 + delta)
      val medE = df
        .groupBy(group.zip(gk).map { case (g, n) => g.alias(n) }: _*)
        .agg(percentile(v, array(frs.map(lit): _*)).alias("__me"))
      val cond = group.zip(gk).map { case (g, n) => g === col(n) }.reduce(_ && _)
      def me(i: Int) = element_at(col("__me"), i)
      // exact deviation-quantile band of |x − med_e| (second pass, as the
      // exact MAD itself needs)
      val madE = df.join(broadcast(medE), cond)
        .groupBy(gk.map(col): _*)
        .agg(percentile(abs(v - me(2)), array(frs.map(lit): _*)).alias("__de"))
      val bands = medE.join(madE, gk)
      def de(i: Int) = element_at(col("__de"), i)
      val b1 = greatest(me(2) - me(1), me(3) - me(2))
      // the operator under test: per-group approx (v_med, v_mad) +
      // per-row scaled
      val approx = robustScale(group, value, approximate = true,
        accuracy = accuracy)
      val scaledMismatch =
        when(col("v_mad") === 0.0, col("scaled") =!= 0.0)
          .otherwise(abs(col("scaled") * col("v_mad") + col("v_med") - v) >
            greatest(abs(v), lit(1.0)) * 1e-9)
      approx.join(broadcast(bands), cond)
        .groupBy(group: _*)
        .agg(
          count(lit(1)).alias("n_rows"),
          round(min(me(2)), 6).alias("v_med"),
          round(min(de(2)), 6).alias("v_mad"),
          min(when(col("v_med").between(me(1), me(3)), 1L).otherwise(0L))
            .alias("med_in_band"),
          min(when(col("v_mad").between(de(1) - b1, de(3) + b1), 1L)
            .otherwise(0L)).alias("mad_in_band"),
          sum(when(scaledMismatch, 1L).otherwise(0L)).alias("n_scaled_mismatch"))
    }

    /** Exact two-sample Kolmogorov-Smirnov statistic between the `value`
      * distributions of two label groups — the drift monitor that says
      * whether yesterday's corpus (or source A) is length/score-
      * distributed like today's (source B), before any gate threshold
      * silently starts meaning something else.
      *
      * Integer-exact: with cumulative counts c1, c2 and totals n1, n2,
      * sup|F1 - F2| = max|c1*n2 - c2*n1| / (n1*n2) — one division at the
      * end, everything before it exact 64-bit arithmetic.
      *
      * Returns one row (label_a, label_b, n_a, n_b, ks).
      *
      * Scale note: the cumulative walk is a window over DISTINCT values —
      * fine for discrete/bounded domains (lengths, scores, bins); bucket
      * a continuous column first, which changes the statistic to its
      * binned variant (monotone underestimate).
      */
    def ksDrift(value: Column, label: Column,
        labelA: String, labelB: String): DataFrame = {
      require(labelA != labelB, "labels must differ")
      val counts = df
        .filter(label === labelA || label === labelB)
        .groupBy(value.alias("v"))
        .agg(
          sum(when(label === labelA, 1L).otherwise(0L)).alias("c_a"),
          sum(when(label === labelB, 1L).otherwise(0L)).alias("c_b"))
      // unpartitioned window, UNBOUNDED: distinct-value-sized (see the scale note)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts
        .withColumn("cum_a", sum(col("c_a")).over(w))
        .withColumn("cum_b", sum(col("c_b")).over(w))
      val tot = counts.agg(sum(col("c_a")).alias("n_a"), sum(col("c_b")).alias("n_b"))
      cum.crossJoin(broadcast(tot))
        .withColumn("diff",
          abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
        .groupBy(col("n_a"), col("n_b"))
        .agg(max(col("diff")).alias("ks_num"))
        .select(lit(labelA).alias("label_a"), lit(labelB).alias("label_b"),
          col("n_a"), col("n_b"),
          (col("ks_num").cast("double")
            / (col("n_a") * col("n_b")).cast("double")).alias("ks"))
    }

    /** Physically lay the frame out in z-order: range-repartition on the
      * interleaved key, sort within partitions. The write-side companion of
      * [[Relational.zorderValue]]; follow with a parquet write so row-group
      * stats align with the curve.
      */
    def layoutZOrder(x: Column, y: Column, bits: Int,
        numPartitions: Int): DataFrame = {
      require(numPartitions > 0, s"numPartitions must be positive")
      df.withColumn("__z", Relational.zorderValue(x, y, bits))
        .repartitionByRange(numPartitions, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }

    /** As [[layoutZOrder]] but on the Hilbert key
      * ([[Relational.hilbertValue]]) — strictly tighter 2-D clustering per
      * row group (consecutive codes are always grid-adjacent). Inputs are
      * masked into the grid here, honoring hilbertValue's contract.
      */
    def layoutHilbert(x: Column, y: Column, bits: Int,
        numPartitions: Int): DataFrame = {
      require(numPartitions > 0, s"numPartitions must be positive")
      val n1 = (1L << bits) - 1
      df.withColumn("__h", Relational.hilbertValue(
          x.cast("long").bitwiseAND(lit(n1)),
          y.cast("long").bitwiseAND(lit(n1)), bits))
        .repartitionByRange(numPartitions, col("__h"))
        .sortWithinPartitions(col("__h"))
        .drop("__h")
    }

    /** Deterministic exactly-k-per-stratum sample — eval-set construction
      * ("exactly 1000 docs per language"): rank rows within each stratum
      * by the multiplicative Knuth hash of the id (rerun-, engine- and
      * partition-layout-independent, the [[graft.operators.Corpus.deterministicShuffle]]
      * constant) and keep the first `k`. Strata smaller than `k` keep
      * everything. Appends `sample_rank` (1-based).
      * One window exchange on the stratum; contrast [[stratifiedSample]]
      * (rate-based, size-proportional) — this one fixes the COUNT.
      */
    def exactKSample(stratum: Column, id: Column, k: Int,
        salt: Long = 0L): DataFrame = {
      require(k > 0, s"k must be positive, got $k")
      val h = pmod(id.cast("long") * lit(2654435761L) + lit(salt),
        lit(4294967296L))
      val w = Window.partitionBy(stratum).orderBy(h.asc, id.asc)
      df.withColumn("sample_rank", row_number().over(w).cast("long"))
        .filter(col("sample_rank") <= k)
    }

    /** Leakage-safe TEMPORAL split with embargo (the time-series /
      * financial-ML evaluation contract): `train` strictly before
      * cutoff − embargo, `test` at/after cutoff, and the embargo band
      * between them LABELED AND KEPT (not silently dropped) so the
      * excluded rows are auditable — feature windows that end in the
      * embargo can't leak test-period information into training. Pure
      * row-local predicate: pushdown-transparent, no shuffle.
      */
    def temporalSplit(ts: Column, cutoff: String,
        embargoSeconds: Long): DataFrame = {
      require(embargoSeconds >= 0, s"embargo must be >= 0, got $embargoSeconds")
      val cut = lit(cutoff).cast("timestamp")
      val emb = cut - expr(s"INTERVAL $embargoSeconds SECONDS")
      df.withColumn("split",
        when(ts < emb, lit("train"))
          .when(ts < cut, lit("embargo"))
          .otherwise(lit("test")))
    }

    /** Deterministic WEIGHTED sample without replacement — sequential
      * Poisson sampling (Ohlsson 1998, the πps method order-sampling
      * family): each row draws the reproducible Knuth-hash uniform
      * `u ∈ [0, 2^32)` and ranks by priority `(u * 10^6) DIV weight` —
      * smaller priority wins, so inclusion odds scale ~proportional to the
      * integer weight ("sample 10k docs, long docs proportionally more
      * often"). Pure integer floor division, engine-replayable; ties break
      * by ascending id. Appends `u`, `priority`, `sample_rank` and keeps
      * the `k` smallest priorities.
      *
      * Scale shape: TakeOrdered-style global top-k on the priority — no
      * full sort, no per-stratum window; weights never leave their rows.
      */
    def weightedSample(id: Column, weight: Column, k: Int,
        salt: Long = 0L): DataFrame = {
      require(k > 0, s"k must be positive, got $k")
      val u = pmod(id.cast("long") * lit(2654435761L) + lit(salt),
        lit(4294967296L))
      df.withColumn("__u", u)
        .withColumn("__w", weight.cast("long"))
        .filter(col("__w") > 0)
        .withColumn("priority", expr("(__u * 1000000L) DIV __w"))
        .withColumn("u", col("__u")).drop("__u", "__w")
        .orderBy(col("priority").asc, id.asc)
        .limit(k)
        // unpartitioned window, bounded: top-k rows
        .withColumn("sample_rank",
          row_number().over(Window.orderBy(col("priority").asc, id.asc))
            .cast("long"))
    }

    /** Deterministic hash sample: keep a row iff a multiplicative hash of
      * `id` lands in the lowest `fraction` of the 32-bit range. Reproducible
      * across runs, engines, and partitionings (unlike `df.sample`, whose
      * result depends on partition layout) — the property a training-data
      * subset needs so downstream runs see the same corpus. Knuth
      * multiplicative hashing; `id * 2654435761 + salt` must stay inside
      * Long (ids < ~2^32) for cross-engine parity.
      */
    def hashSample(id: Column, fraction: Double, salt: Long = 0L): DataFrame = {
      require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction outside [0,1]")
      val h = pmod(id.cast("long") * lit(2654435761L) + lit(salt), lit(4294967296L))
      df.filter(h < lit((fraction * 4294967296.0).toLong))
    }

    /** Stratified deterministic sample: per-stratum keep rates (a rate per
      * `strata` value, `default` otherwise), same reproducible hash as
      * [[hashSample]]. The training-corpus mixer: "50% of en, 25% of de,
      * 10% of everything else", stable across reruns.
      */
    def stratifiedSample(id: Column, strata: Column, rates: Map[String, Double],
        default: Double = 0.0, salt: Long = 0L): DataFrame = {
      (rates.values.toSeq :+ default).foreach(r =>
        require(r >= 0.0 && r <= 1.0, s"rate $r outside [0,1]"))
      val rate = rates.foldLeft(lit(default)) { case (acc, (k, v)) =>
        when(strata === lit(k), lit(v)).otherwise(acc)
      }
      val h = pmod(id.cast("long") * lit(2654435761L) + lit(salt), lit(4294967296L))
      df.filter(h.cast("double") < rate * lit(4294967296.0))
    }

    /** `df/describe` — `src/main.rs:533-541`: DataFusion's describe emits
      * rows `count, null_count, mean, std, min, max, median` x all columns
      * (non-numeric stats are null). Spark's `summary()` lacks null_count
      * and exact median, so this composes both: one aggregate pass computing
      * every cell, then a transpose into the reference's row layout.
      * All cells are stringified (mixed types in one column).
      *
      * Numeric cells are stringified through DECIMAL(38,6) — a fixed-point
      * print that is engine-independent (double shortest-repr differs in
      * style between the JVM and C-family printers, e.g. the 1e7 scientific
      * cutoff) and absorbs last-ulp aggregation-order differences, which is
      * what lets q25 carry an INDEPENDENT DuckDB oracle instead of a pinned
      * snapshot. `median` is the exact interpolated percentile
      * (== DuckDB's quantile_cont, the q61-pinned equivalence); its
      * aggregation state is bounded by the column's distinct-value count —
      * for open-domain doubles at extreme scale, the sketch-based siblings
      * are q147/q148 (percentile_approx, spec-bounded error).
      *
      * Scale: a single full-scan aggregation, partial-combined per mapper.
      */
    def describeDf: DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val numeric = df.schema.fields.map(f => f.name -> f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).toMap
      val cols = df.columns.toSeq
      // fixed-point print (see scaladoc): engine-independent, ulp-absorbing
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      def fp(e: Column): Column = e.cast(dec6).cast("string")
      val aggs = cols.flatMap { c =>
        val base = Seq(
          count(col(c)).cast("string").alias(s"${c}__count"),
          count(when(col(c).isNull, 1)).cast("string").alias(s"${c}__null_count"),
          (if (numeric(c)) fp(min(col(c))) else min(col(c)).cast("string")).alias(s"${c}__min"),
          (if (numeric(c)) fp(max(col(c))) else max(col(c)).cast("string")).alias(s"${c}__max")
        )
        val num =
          if (numeric(c))
            Seq(
              fp(avg(col(c))).alias(s"${c}__mean"),
              fp(stddev(col(c))).alias(s"${c}__std"),
              fp(percentile(col(c), lit(0.5))).alias(s"${c}__median")
            )
          else
            Seq(
              lit(null).cast("string").alias(s"${c}__mean"),
              lit(null).cast("string").alias(s"${c}__std"),
              lit(null).cast("string").alias(s"${c}__median")
            )
        base ++ num
      }
      // spread: two exact-percentile buffers + the stat battery are fused
      // into the scan — single-split inputs would run the whole pass on
      // one core (q25 measured 3.5 s at sf0.1, dominated by this stage)
      val row = Relational.spread(df).agg(aggs.head, aggs.tail: _*).collect()(0)
      val idx = row.schema.fieldNames.zipWithIndex.toMap
      val stats = Seq("count", "null_count", "mean", "std", "min", "max", "median")
      val data = stats.map { s =>
        (s, cols.map(c => Option(row.get(idx(s"${c}__$s"))).map(_.toString).orNull))
      }
      val out = data.map { case (s, vs) => org.apache.spark.sql.Row.fromSeq(s +: vs) }
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("describe", org.apache.spark.sql.types.StringType, false) +:
          cols.map(c => org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType, true))
      )
      spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
    }

    /** `df/show` — `src/main.rs:552-559`: DataFusion prints ALL rows;
      * Spark's bare `show()` caps at 20, so pass the explicit cap.
      */
    def showAll(): Unit = df.show(Int.MaxValue, truncate = false)

    /** `df/show-limit` — `src/main.rs:561-568`. */
    def showLimit(n: Int): Unit = df.show(n)
  }

  /** Reporting pivot: per `group`, for each pivot value `v` emit `{v}_n`
    * (row count) and `{v}_sum` (long sum of `measure`), absent cells as 0
    * (Spark's pivot yields NULL for combinations with no rows; the
    * conditional-aggregation SQL an analyst would write yields 0 — this
    * wrapper pins the 0 convention so the two spell the same table).
    */
  /** Z-order (Morton) interleave of the low `bits` bits of two non-negative
    * integer columns: bit i of `x` lands at position 2i, bit i of `y` at
    * 2i+1. Sorting by the result clusters rows close in BOTH dimensions, so
    * parquet row-group min/max stats prune 2-D predicates (the
    * Delta/Iceberg OPTIMIZE ZORDER layout trick). Callers bucket raw values
    * into [0, 2^bits) first; higher bits are ignored by construction.
    * Pure Column bit algebra — whole-stage codegen'd, replayable exactly in
    * any engine with shift/and/or.
    */
  def zorderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(xl, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftrightunsigned(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Hilbert curve index of a 2-D grid cell — [[zorderValue]]'s
    * locality-stronger sibling: consecutive Hilbert codes are ALWAYS
    * grid-adjacent (Morton order jumps at quadrant boundaries), so a sort
    * by this key clusters 2-D neighborhoods strictly tighter, which is
    * what parquet row-group min/max stats see.
    *
    * Backed by the native [[graft.plans.VectorExprs.HilbertIndex]]
    * expression (a loop kernel, codegen'd): the xy2d recurrence is
    * stateful per bit level, so a Column-algebra unroll re-inlines each
    * level's subexpressions into the next — ~6x tree growth per level,
    * which OOM'd codegen at 8 bits (q216 post-mortem). Inputs are masked
    * into [0, 2^bits) by the kernel (Hilbert's flip arithmetic is
    * grid-relative, so high bits are NOT benignly ignorable the way
    * Morton's are).
    */
  def hilbertValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 15, s"bits must be in [1,15], got $bits")
    graft.plans.VectorExprs.hilbertIndex(x.cast("long"), y.cast("long"), bits)
  }

  def pivotCounts(df: DataFrame, group: Seq[Column], pivotCol: String,
      values: Seq[String], measure: Column): DataFrame = {
    val wide = df.pivotAgg(group, pivotCol, values,
      Seq(count(lit(1)).alias("n"), sum(measure.cast("long")).alias("sum")))
    val cells = values.flatMap(v => Seq(
      coalesce(wide.col(s"${v}_n"), lit(0L)).alias(s"${v}_n"),
      coalesce(wide.col(s"${v}_sum"), lit(0L)).alias(s"${v}_sum")))
    wide.select(group.indices.map(i => wide.columns(i)).map(wide.col) ++ cells: _*)
  }

  // --- incremental aggregate maintenance (materialized-view delta merge) --

  /** Count + sum aggregate in the MAINTAINABLE form [[maintainAgg]] updates:
    * keys ++ (`n` = row count) ++ one column per named sum measure. Sums
    * over count-and-sum measures form an abelian group (every delta has an
    * inverse), which is exactly what makes the view incrementally
    * maintainable — min/max do NOT qualify (a delete can't lower a max
    * without rescanning the group), and belong in a rebuild, not here.
    */
  def groupedAgg(df: DataFrame, keys: Seq[Column],
      sums: Seq[(String, Column)]): DataFrame =
    df.groupBy(keys: _*).agg(
      count(lit(1)).alias("n"),
      sums.map { case (nm, m) => sum(m).alias(nm) }: _*)

  /** Signed delta of a changelog against a [[groupedAgg]] view: inserts
    * contribute (+1, +measure), deletes (-1, -measure). An update is a
    * delete of the old row plus an insert of the new one. One
    * partial-aggregated groupBy over the CHANGELOG ONLY — the base view is
    * not touched, which is the whole point at 100 TB: maintaining a
    * fact-table rollup costs the size of the day's changelog, not a rescan
    * of the fact table.
    */
  def deltaAgg(changelog: DataFrame, isDelete: Column, keys: Seq[Column],
      sums: Seq[(String, Column)]): DataFrame = {
    val sign = when(isDelete, lit(-1L)).otherwise(lit(1L))
    changelog.groupBy(keys: _*).agg(
      sum(sign).alias("n"),
      sums.map { case (nm, m) =>
        sum(when(isDelete, m.unary_-).otherwise(m)).alias(nm)
      }: _*)
  }

  /** Merge a [[groupedAgg]] base view with one or more [[deltaAgg]] deltas:
    * union-by-name + re-aggregate (partial-agg combine, one shuffle keyed
    * like the view itself), dropping groups whose count reaches zero —
    * identical to recomputing [[groupedAgg]] over the post-changelog state,
    * which is what the oracle checks. Deltas compose: yesterday's view +
    * today's delta + tomorrow's delta in one call.
    *
    * `dropEmpty = false` KEEPS zero/negative-count groups — required for
    * intermediate states of a STREAMING maintenance loop, where a
    * retraction can arrive in an earlier micro-batch than its insert
    * (count+sum deltas commute, but only if pending negatives aren't
    * dropped mid-stream); apply the n > 0 filter once, at read time.
    */
  def maintainAgg(base: DataFrame, deltas: DataFrame*): DataFrame =
    maintainAggKeep(base, dropEmpty = true, deltas: _*)

  def maintainAggKeep(base: DataFrame, dropEmpty: Boolean,
      deltas: DataFrame*): DataFrame = {
    require(deltas.nonEmpty, "maintainAgg needs at least one delta")
    val keyCols = base.columns.takeWhile(_ != "n")
    val measureCols = base.columns.dropWhile(_ != "n")
    val merged = deltas.foldLeft(base)(_.unionByName(_))
    val agged = merged.groupBy(keyCols.map(col): _*)
      .agg(sum(col(measureCols.head)).alias("n"),
        measureCols.tail.map(nm => sum(col(nm)).alias(nm)): _*)
    if (dropEmpty) agged.filter(col("n") > 0) else agged
  }

  /** Bucket index of `v` against a SORTED (non-decreasing) driver-side
    * bounds array: the count of bounds `b` with `b <= v` (`b < v` when
    * `strict`), as an INT column — exactly `size(filter(typedLit(bounds),
    * b => v >= b))`, which is what every probe-bucketized operator used
    * to inline. That HOF form is the wrong tool in the hot path: a
    * higher-order function's lambda is evaluated INTERPRETED per array
    * element (it never joins whole-stage codegen) and `filter` also
    * materializes the kept-elements array per row just so `size` can
    * count it — measured 12.6 µs/row at 64 bounds (a 1.26 s single-task
    * stage on q214's 100k rows). This replacement is a balanced
    * `CASE WHEN` binary-search tree over the literal bounds: log2(|b|)
    * codegen'd long comparisons per row, no allocation, bit-identical
    * output on every input — NULL takes every `otherwise` branch down to
    * bucket 0, matching the HOF's null-dropping filter; duplicates in a
    * non-decreasing array keep the prefix property the search needs.
    */
  def probeBucket(v: Column, bounds: Seq[Long], strict: Boolean = false): Column = {
    val b = bounds.toIndexedSeq
    require(b.zip(b.drop(1)).forall { case (x, y) => x <= y },
      s"probeBucket bounds must be non-decreasing, got ${b.mkString(", ")}")
    def go(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        val pass = if (strict) v > lit(b(mid)) else v >= lit(b(mid))
        when(pass, go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, b.length)
  }

  /** Probe-balanced bucket of `df`'s long column `key`: `buckets - 1`
    * approxQuantile probes over the key's distribution, then
    * [[probeBucket]]. The bucket is non-decreasing in `key`, so it can
    * carry a [[prefixScan]] over any order that leads with `key`; unlike
    * key top-bits it splits any distribution evenly, even one packed into
    * a narrow range. Probes only balance buckets, so the epsilon never
    * reaches an exact caller's output. Loose epsilon and a modest bucket
    * count on purpose — A/B at sf0.1 (100k events) under the old HOF
    * probe: 256 bounds at eps 0.001 cost 9.3 s, 64 at 0.02 cost 2.4 s,
    * identical output; raise `buckets` with cluster size, not precision.
    * Runs the probe scan eagerly.
    */
  def quantileBucket(df: DataFrame, key: String, buckets: Int): Column = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val bounds = df.stat.approxQuantile(key,
      (1 until buckets).map(_.toDouble / buckets).toArray, 0.02)
      .map(_.toLong).distinct.sorted
    probeBucket(col(key), bounds)
  }

  /** Running sums over a total order without a global single-partition
    * window. For each `(name, value)` it appends `name`, the inclusive sum
    * of `value` over every row at or before this one in `order` (nulls
    * count as 0). A rank is the running sum of `lit(1L)`; an exclusive sum
    * is the inclusive one minus the row's own value.
    *
    * Two levels over the caller's `bucket`, which must be non-null and
    * non-decreasing in `order` (a null bucket drops its rows): per-bucket
    * partials, one offset window over the bucket-sized partial frame (the
    * only unpartitioned window), a broadcast join of the offsets, and a
    * ROWS running window inside each bucket. The bucketing decides balance
    * only — probe quantiles ([[quantileBucket]]), key top bits, range
    * partition ids, id blocks — and never reaches a sum. `order` must be
    * total: ties make a ROWS frame layout-dependent.
    */
  def prefixScan(df: DataFrame, bucket: Column, order: Seq[Column],
      sums: (String, Column)*): DataFrame = {
    require(sums.nonEmpty, "prefixScan needs at least one (name, value) sum")
    val ix = sums.indices
    val vals = sums.map { case (_, v) => coalesce(v, lit(0L)) }
    val keyed = df.withColumn("__ps_b", bucket)
    val partials = ix.map(i => sum(vals(i)).alias(s"__ps_p$i"))
    val wOff = Window.orderBy(col("__ps_b")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("__ps_b")).agg(partials.head, partials.tail: _*)
      .select(col("__ps_b") +: ix.map(i =>
        coalesce(sum(col(s"__ps_p$i")).over(wOff), lit(0L)).alias(s"__ps_o$i")): _*)
    val wIn = Window.partitionBy(col("__ps_b")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.join(broadcast(offsets), Seq("__ps_b"))
      .withColumns(scala.collection.immutable.ListMap(ix.map(i =>
        sums(i)._1 -> (col(s"__ps_o$i") + sum(vals(i)).over(wIn))): _*))
      .drop(("__ps_b" +: ix.map(i => s"__ps_o$i")): _*)
  }

  /** Exact rank-proportional quantile binning: every row's bin is
    * `floor((rank - 1) * nBins / n)` under the total order (value, id) —
    * the feature-bucketing transform (deciles, percentile caps) computed
    * EXACTLY, layout-independently, and without a global single-partition
    * window. (Not NTILE: remainder rows spread rank-proportionally, not
    * front-loaded — the formula is what replays in one line of SQL.)
    *
    * Returns (id, v, rank, bin).
    *
    * Scale shape: the rank is a [[prefixScan]] over [[quantileBucket]]s
    * of the value — one probe scan, one bucket-keyed window, a 1-row
    * count broadcast.
    */
  def quantileBins(df: DataFrame, id: Column, value: Column, nBins: Int,
      buckets: Int = 64): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    // NOT spread (A/B-rejected in r12): round-robin-repartitioning `base`
    // before the probe scan looked like a win for q250's two single-task
    // 100k-row passes, but it 4x'd q246's decisionStump (interleaved: 2.0-
    // 4.5 s -> 9.5-17.8 s) — the keyless repartition pays a per-consumer
    // local sort (sortBeforeRepartition) and the exchange is re-executed
    // per consumer subtree instead of reused. The single-task probe pass
    // is the cheaper evil at this size; revisit only with a keyed spread.
    val base = df.select(id.cast("long").alias("id"), value.cast("long").alias("v"))
    val ranked = prefixScan(base, quantileBucket(base, "v", buckets),
      Seq(col("v"), col("id")), "rank" -> lit(1L))
    val n = base.agg(count(lit(1)).alias("n"))
    ranked.crossJoin(broadcast(n))
      .select(col("id"), col("v"), col("rank"),
        expr(s"((rank - 1) * ${nBins}L) DIV n").alias("bin"))
  }

  /** Column-encoding advisor: for each candidate column, the exact
    * run-length profile under the table's ARRIVAL order (unique long
    * `order` column — the write sequence) next to its best case — sorted
    * by the column itself, where runs collapse to one per distinct value.
    * `rle_gain_ppm` is the fraction of runs a sort-by-this-column rewrite
    * eliminates: the dictionary/RLE compressibility question parquet
    * writers answer implicitly, here as a measured number per column
    * (the [[zoneMapSkipReport]] sibling — that one prices SCAN SKIPPING
    * from a sorted rewrite, this one prices ENCODING). NULL-safe equality:
    * a null run is a run.
    *
    * Returns one row per column: (col_name, n, n_distinct, runs_arrival,
    * runs_sorted = n_distinct, arrival_mean_run_ppk, sorted_mean_run_ppk,
    * rle_gain_ppm).
    *
    * Scale shape: the global neighbor pairing uses the two-level
    * [[quantileBins]] rank over the order key (probe scan + bucketed
    * window, never a global single-partition window), ONE self equi-join
    * at rank+1 scoring every column's boundaries in a single conditional-
    * sum pass, one exact count_distinct aggregate (the audit mode; at
    * 100 TB swap in approx_count_distinct the q77 way if distinct counts
    * may exceed memory-comfortable agg state), unpivoted via stack.
    */
  def encodingAdvisor(df: DataFrame, order: Column,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "encodingAdvisor needs >= 1 column")
    val base = df.select(order.cast("long").alias("__o") +: cols.map(col): _*)
    val ranked = quantileBins(base.select(col("__o").alias("id")), col("id"),
        col("id"), 2)
      .select(col("id").alias("__o"), col("rank"))
      .join(base, "__o")
    // pair rank r with rank r+1 once; score every column in one pass
    val nxt = ranked.select(
      (col("rank") - 1L).alias("rank") +:
        cols.map(c => col(c).alias(s"__x_$c")): _*)
    val boundAggs = cols.map(c =>
      coalesce(sum(when(!(col(c) <=> col(s"__x_$c")), 1L).otherwise(0L)), lit(0L))
        .alias(s"__b_$c"))
    val boundRow = ranked.join(nxt, Seq("rank"))
      .agg(boundAggs.head, boundAggs.tail: _*)
    // distinct counts incl. the null group (a null run is a run)
    val distinctAggs = count(lit(1)).alias("__n") +: cols.map(c =>
      (count_distinct(col(c)) +
        max(when(col(c).isNull, 1L).otherwise(0L))).alias(s"__d_$c"))
    val distinctRow = base.agg(distinctAggs.head, distinctAggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', __d_$c, __b_$c").mkString(", ")
    distinctRow.crossJoin(boundRow)
      .selectExpr("__n AS n",
        s"stack(${cols.length}, $stackArgs) AS (col_name, n_distinct, nb)")
      .selectExpr("col_name", "n", "n_distinct",
        "nb + CASE WHEN n > 0 THEN 1L ELSE 0L END AS runs_arrival",
        "n_distinct AS runs_sorted")
      .selectExpr("col_name", "n", "n_distinct", "runs_arrival", "runs_sorted",
        "CASE WHEN runs_arrival = 0 THEN NULL ELSE (n * 1000L) DIV runs_arrival END AS arrival_mean_run_ppk",
        "CASE WHEN runs_sorted = 0 THEN NULL ELSE (n * 1000L) DIV runs_sorted END AS sorted_mean_run_ppk",
        """CASE WHEN runs_arrival = 0 THEN NULL
             ELSE ((runs_arrival - runs_sorted) * 1000000L) DIV runs_arrival
           END AS rle_gain_ppm""")
  }

  /** Deterministic Poisson bootstrap for an aggregate's sampling spread:
    * replicate r resamples every row with weight w(id, r) ~ pseudo-
    * Poisson(1) — the classic streaming bootstrap (each replicate's
    * expected mass equals the corpus, no row list is ever materialized)
    * made RNG-free: w comes from the multiply → xor-shift → multiply
    * integer mix (the [[graft.operators.Multimodal.synthNoisePcmWav]]
    * finalizer) cut at the PINNED Poisson(1) CDF points
    * floor(65536·P(X ≤ k)) = 24109 / 48218 / 60273, tail capped at w = 3
    * (99.98% of the mass; no runtime exp, the Benford-constants rule).
    * The replicate spread around the true sum is the confidence read a
    * single point estimate can't give — and every replicate replays
    * bit-for-bit cross-engine.
    *
    * Returns one row per replicate: (rep, n_eff, boot_sum, n, total_sum).
    * `id` must be integer-valued below ~9e12 (the no-overflow contract on
    * id·1000003).
    *
    * Scale shape: the corpus streams ONCE — the ×replicates explode and
    * the partial-agg groupBy on the replicate id live in the same scan,
    * and aggregate state is replicate-count-sized. Row cost is
    * O(replicates); pick B accordingly (32-128 is the usual bootstrap
    * range).
    */
  def bootstrapSums(df: DataFrame, id: Column, value: Column,
      replicates: Int): DataFrame = {
    require(replicates >= 1 && replicates <= 4096,
      s"replicates must be in [1, 4096], got $replicates")
    val base = df.select(id.cast("long").alias("id"), value.cast("long").alias("v"))
    val totals = base.agg(count(lit(1)).alias("n"),
      sum(col("v")).alias("total_sum"))
    base
      .select(col("id"), col("v"),
        explode(sequence(lit(0), lit(replicates - 1))).alias("rep"))
      .withColumn("__h1",
        expr("((((id * 1000003L + rep) % 2147483648L) * 2654435761L) % 4294967296L)"))
      .withColumn("__u",
        expr("(((__h1 ^ (__h1 DIV 65536L)) * 40503L) % 4294967296L) DIV 65536L"))
      .withColumn("__w",
        expr("""CASE WHEN __u < 24109L THEN 0L WHEN __u < 48218L THEN 1L
                  WHEN __u < 60273L THEN 2L ELSE 3L END"""))
      .groupBy(col("rep").cast("long").alias("rep"))
      .agg(sum(col("__w")).alias("n_eff"),
        sum(col("__w") * col("v")).alias("boot_sum"))
      .crossJoin(broadcast(totals))
      .select(col("rep"), col("n_eff"), col("boot_sum"), col("n"),
        col("total_sum"))
  }

  /** Per-group [[bootstrapSums]]: the same pinned-weight replicates keyed
    * by a group column — per-segment error bars from one corpus scan
    * (groups × replicates aggregate state). Same hash, same CDF cuts,
    * same overflow contract.
    */
  def bootstrapSumsGrouped(df: DataFrame, group: Column, id: Column,
      value: Column, replicates: Int): DataFrame = {
    require(replicates >= 1 && replicates <= 4096,
      s"replicates must be in [1, 4096], got $replicates")
    val base = df.select(group.alias("g"), id.cast("long").alias("id"),
      value.cast("long").alias("v"))
    val totals = base.groupBy("g").agg(count(lit(1)).alias("n"),
      sum(col("v")).alias("total_sum"))
    base
      .select(col("g"), col("id"), col("v"),
        explode(sequence(lit(0), lit(replicates - 1))).alias("rep"))
      .withColumn("__h1",
        expr("((((id * 1000003L + rep) % 2147483648L) * 2654435761L) % 4294967296L)"))
      .withColumn("__u",
        expr("(((__h1 ^ (__h1 DIV 65536L)) * 40503L) % 4294967296L) DIV 65536L"))
      .withColumn("__w",
        expr("""CASE WHEN __u < 24109L THEN 0L WHEN __u < 48218L THEN 1L
                  WHEN __u < 60273L THEN 2L ELSE 3L END"""))
      .groupBy(col("g"), col("rep").cast("long").alias("rep"))
      .agg(sum(col("__w")).alias("n_eff"),
        sum(col("__w") * col("v")).alias("boot_sum"))
      .join(totals, Seq("g"))
      .select(col("g"), col("rep"), col("n_eff"), col("boot_sum"), col("n"),
        col("total_sum"))
  }

  /** Quantile normalization: remap a cohort's values onto a REFERENCE
    * distribution by rank — row at rank r of n_c takes the reference
    * value at rank ceil(r·n_r/n_c) — the distribution-matching transform
    * (batch-effect removal, score recalibration across re-scored corpora)
    * done exactly: both ranks come from the two-level [[quantileBins]]
    * machinery under the (v, id) total order, and the rank map is one
    * integer ceiling division, so the whole output hash-replays.
    *
    * Returns (id, v, mapped_v). The mapped distribution equals the
    * reference's up to rank granularity; equal input values can map to
    * different reference values (their ranks differ by the id tie-break)
    * — the standard rank-based semantics.
    *
    * Scale shape: two quantileBins passes (probe scan + bucketed window
    * each), one equi-join on the mapped rank, two 1-row count broadcasts.
    */
  def quantileNormalize(ref: DataFrame, cur: DataFrame, id: Column,
      value: Column): DataFrame = {
    val rv = ref.select(value.cast("long").alias("v"))
      .withColumn("rid", monotonically_increasing_id())
    val rRank = quantileBins(rv, col("rid"), col("v"), 2)
      .select(col("rank").alias("rrank"), col("v").alias("mapped_v"))
    val cv = cur.select(id.cast("long").alias("id"), value.cast("long").alias("v"))
    val cRank = quantileBins(cv, col("id"), col("v"), 2)
      .select(col("id"), col("v"), col("rank"))
    val nr = rv.agg(count(lit(1)).alias("n_r"))
    val nc = cv.agg(count(lit(1)).alias("n_c"))
    cRank.crossJoin(broadcast(nr)).crossJoin(broadcast(nc))
      .withColumn("rrank", expr("(rank * n_r + n_c - 1) DIV n_c"))
      .join(rRank, Seq("rrank"))
      .select(col("id"), col("v"), col("mapped_v"))
  }

  /** Rendezvous (highest-random-weight) shard assignment: key -> the shard
    * s in [0, nShards) maximizing `fnv64(s || ':' || key)` — Thaler &
    * Ravishankar's HRW rule, the layout that makes cluster RESIZING cheap:
    * growing n -> n+1 moves ONLY the keys whose new shard's hash wins
    * (~1/(n+1) of them), where mod-n hashing reshuffles nearly everything.
    * The raw FNV fold is NOT enough to decorrelate the nShards
    * candidates of one key: FNV-1a is affine in input differences
    * (Δacc after k more steps is Δ·P^k mod 2⁶⁴), so candidate hashes are
    * a random base plus structured offsets and the argmax is heavily
    * biased — measured movement at 8→9 shards was 49% (suffix s) and
    * 27% (prefix s) instead of the promised ~11%. One xorshift64 round
    * (z ^= z<<13; z ^= z>>>7; z ^= z<<17 — Marsaglia) breaks the
    * affinity and is the one mixer ANSI mode allows (shifts WRAP where a
    * wrap-multiply throws); measured movement with it: 167/1500 ≈ 1/9
    * exactly as promised, all shards populated. Replayable in SQL as
    * HUGEINT multiply-by-2^k mod 2⁶⁴. Ties
    * (equal hashes) break toward the smaller shard id via the
    * negated-id struct-max. Returns (id, shard).
    *
    * Scale shape: one narrow projection — nShards hash evaluations per
    * row, an `array_max` over an nShards-length struct array, no shuffle,
    * no state. The assignment IS the partitioner; `repartition(col)` on
    * the result routes rows.
    */
  /** Interval union-length (coverage) per key, by sweep: intervals are
    * half-open `[start, end)` in caller units (epoch days, micros —
    * anything Long); rows with `end <= start` contribute nothing and are
    * dropped. Touching intervals (`[1,3) [3,5)`) merge. Returns per key:
    * `(key, n_intervals, n_islands, covered, span)` where `covered` is
    * the union length and `span = max end − min start`.
    *
    * The sweep is the O(n log n) classic: order by (start, end) within
    * the key, a row opens a new island iff its start exceeds the running
    * max end of all EARLIER rows; island id = running sum of the flag.
    * Same-(start,end) duplicate rows are order-stable by construction
    * (whichever lands first absorbs the other), so the aggregate outputs
    * are deterministic even though the window tie order isn't.
    *
    * Scale shape: one shuffle on the key; both windows and both groupBys
    * reuse that partitioning (the window is per-key, never global), and
    * the island groupBy partially aggregates map-side. The naive
    * alternative — all-pairs overlap testing — is quadratic per key;
    * this never materializes a pair.
    */
  def intervalCoverage(df: DataFrame, key: Column, start: Column,
      end: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("s").asc, col("e").asc)
    df.select(key.alias("k"), start.cast("long").alias("s"),
        end.cast("long").alias("e"))
      .filter(col("e") > col("s"))
      .withColumn("prev_max_e",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        (col("prev_max_e").isNull || col("s") > col("prev_max_e")).cast("long"))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("k"), col("island"))
      .agg(min(col("s")).alias("is"), max(col("e")).alias("ie"),
        count(lit(1)).alias("n"))
      .groupBy(col("k"))
      .agg(sum(col("n")).alias("n_intervals"),
        count(lit(1)).alias("n_islands"),
        sum(col("ie") - col("is")).alias("covered"),
        (max(col("ie")) - min(col("is"))).alias("span"))
      .withColumnRenamed("k", "key")
  }

  /** Exact per-group simple OLS (y = a + b·x) over INTEGER-valued inputs
    * (caller pre-scales: cents, counts — per-row |x·y| and |y²| must fit
    * a Long, i.e. |x|,|y| ≲ 3e9). Closed forms over five DECIMAL(38,0)
    * sums:
    *   b  = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   a  = (Σy·Σx² − Σx·Σxy) / same-denominator
    *   r² = (n·Σxy − Σx·Σy)² / (den · (n·Σy² − (Σy)²))
    * reported as truncation-toward-zero ppm BIGINTs (sign-split in the
    * oracle — the house DIV contract), NULL when x (or, for r², y) is
    * constant in the group. The per-segment trend-line scan: ONE
    * partial-aggregating groupBy, five map-side sums — nothing else
    * moves, the ideal 100 TB shape.
    */
  def groupOls(df: DataFrame, key: Column, x: Column, y: Column): DataFrame = {
    val d = DecimalType(38, 0)
    df.select(key.alias("key"), x.cast("long").alias("x"), y.cast("long").alias("y"))
      .groupBy(col("key"))
      .agg(count(lit(1)).alias("n"),
        sum((col("x")).cast(d)).alias("sx"),
        sum((col("y")).cast(d)).alias("sy"),
        sum((col("x") * col("y")).cast(d)).alias("sxy"),
        sum((col("x") * col("x")).cast(d)).alias("sxx"),
        sum((col("y") * col("y")).cast(d)).alias("syy"))
      .withColumn("den", expr("n * sxx - sx * sx"))
      .withColumn("den2", expr("n * syy - sy * sy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("numi", expr("sy * sxx - sx * sxy"))
      .withColumn("slope_ppm", expr(
        """CASE WHEN den = 0 THEN NULL
           WHEN num >= 0 THEN CAST((num * 1000000) DIV den AS BIGINT)
           ELSE CAST(-((-num * 1000000) DIV den) AS BIGINT) END"""))
      .withColumn("intercept_ppm", expr(
        """CASE WHEN den = 0 THEN NULL
           WHEN numi >= 0 THEN CAST((numi * 1000000) DIV den AS BIGINT)
           ELSE CAST(-((-numi * 1000000) DIV den) AS BIGINT) END"""))
      .withColumn("r2_ppm", expr(
        """CASE WHEN den = 0 OR den2 = 0 THEN NULL
           ELSE CAST((num * num * 1000000) DIV (den * den2) AS BIGINT) END"""))
      .select(col("key"), col("n"), col("slope_ppm"), col("intercept_ppm"),
        col("r2_ppm"))
  }

  /** Per-group TWO-regressor OLS — ŷ = b0 + b1·x1 + b2·x2 fit exactly by
    * the 3×3 normal equations solved with Cramer's rule entirely in
    * DECIMAL(38,0): nine partial-agg sums (n, Σx1, Σx2, Σx1², Σx1x2,
    * Σx2², Σy, Σx1y, Σx2y) and four integer determinants, coefficients
    * as the [[groupOls]] sign-split truncation ppm. The multivariate
    * step [[groupOls]] cannot take: "is spend explained by quantity
    * AFTER controlling for discount" needs the partialled coefficient,
    * not two marginal slopes. NULL coefficients on a singular system
    * (collinear or constant regressors).
    *
    * Scale shape: ONE map-side-combined groupBy — the whole fit rides a
    * 9-number sufficient statistic per group, so data size only affects
    * the scan; Cramer runs on the aggregated rows. Magnitude contract:
    * determinant terms are ~n·max(x)⁴ and numerators ~n·max(x)³·max(y) —
    * keep regressors in small integer units (counts, bp, cents/100) so
    * products stay inside DECIMAL(38,0); the q330 discipline.
    */
  def olsTwo(df: DataFrame, key: Column, x1: Column, x2: Column,
      y: Column): DataFrame = {
    val d = DecimalType(38, 0)
    def ppm(num: String, den: String, out: String) = expr(
      s"""CASE WHEN $den = 0 THEN NULL
          WHEN $num >= 0 THEN CAST(($num * 1000000) DIV $den AS BIGINT)
          ELSE CAST(-((-$num * 1000000) DIV $den) AS BIGINT) END""").alias(out)
    // spread before the partial aggregation (the corrStats rationale):
    // nine per-row decimal products/sums otherwise run on the input
    // file's split count (measured on q360: a 1.8 s 3-task stage over
    // 600k rows); conditional, so real many-split inputs are untouched
    spread(df.select(key.alias("key"), x1.cast("long").alias("x1"),
        x2.cast("long").alias("x2"), y.cast("long").alias("yy")))
      .groupBy(col("key"))
      .agg(count(lit(1)).cast(d).alias("n"),
        sum(col("x1").cast(d)).alias("s1"),
        sum(col("x2").cast(d)).alias("s2"),
        sum((col("x1") * col("x1")).cast(d)).alias("s11"),
        sum((col("x1") * col("x2")).cast(d)).alias("s12"),
        sum((col("x2") * col("x2")).cast(d)).alias("s22"),
        sum(col("yy").cast(d)).alias("sy"),
        sum((col("x1") * col("yy")).cast(d)).alias("s1y"),
        sum((col("x2") * col("yy")).cast(d)).alias("s2y"))
      .withColumn("det", expr(
        """n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2)"""))
      .withColumn("det0", expr(
        """sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y)"""))
      .withColumn("det1", expr(
        """n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2)"""))
      .withColumn("det2", expr(
        """n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2)"""))
      // normalize det > 0 (flip all four signs together — the ratios are
      // invariant) so the sign-split ppm never divides by a negative
      .withColumn("deta", expr("CASE WHEN det < 0 THEN -det ELSE det END"))
      .withColumn("nd0", expr("CASE WHEN det < 0 THEN -det0 ELSE det0 END"))
      .withColumn("nd1", expr("CASE WHEN det < 0 THEN -det1 ELSE det1 END"))
      .withColumn("nd2", expr("CASE WHEN det < 0 THEN -det2 ELSE det2 END"))
      .select(col("key"), col("n").cast("long").alias("n"),
        ppm("nd0", "deta", "b0_ppm"), ppm("nd1", "deta", "b1_ppm"),
        ppm("nd2", "deta", "b2_ppm"))
  }

  /** Per-group Theil-Sen robust slope: the LOWER median of all pairwise
    * slopes `(y_j − y_i)/(x_j − x_i)` over pairs with `x_i < x_j` —
    * outlier-resistant where [[groupOls]] is not (breakdown point ~29%
    * vs 0). Slopes are truncation-toward-zero ppm BIGINTs (the sign-split
    * q330 convention) and the lower median (rank `(n+1) DIV 2`) keeps the
    * statistic integer-exact cross-engine — no averaging of middle pairs.
    * Pairs with equal x are undefined-slope and skipped (classic T-S);
    * groups whose x is constant therefore vanish from the output.
    *
    * Scale contract: pairwise-in-group is O(g²) BY DESIGN — this is the
    * robust-trend instrument for bounded panels (a key × time-window
    * slice), not corpus-scale pair generation; the caller bounds g the
    * way q335 does (one ship-year per supplier). The group equi-join and
    * per-key window both shuffle on `key` once; nothing is collected.
    * Returns (key, n_pairs, ts_slope_ppm).
    */
  def theilSenSlope(df: DataFrame, key: Column, x: Column, y: Column): DataFrame = {
    // spread: the O(g²) pair fan-out is generated in the map stage of the
    // self-join (the slice side broadcasts), so an under-split input runs
    // the whole pair sweep on its few scan tasks — measured q335: 3 tasks
    // producing 3.83 M slope rows in 4.2 s; spread makes it core-wide
    val d = spread(df.select(key.alias("key"), x.cast("long").alias("x"),
        y.cast("long").alias("y"))
      .filter(col("key").isNotNull && col("x").isNotNull && col("y").isNotNull))
    val p = d.alias("a").join(d.alias("b"),
        col("a.key") === col("b.key") && col("a.x") < col("b.x"))
      .select(col("a.key").alias("key"),
        (col("b.y") - col("a.y")).alias("dy"),
        (col("b.x") - col("a.x")).alias("dx"))
      .withColumn("slope_ppm", expr(
        """CASE WHEN dy >= 0 THEN CAST((dy * 1000000) DIV dx AS BIGINT)
           ELSE CAST(-((-dy * 1000000) DIV dx) AS BIGINT) END"""))
    p.withColumn("rn",
        row_number().over(Window.partitionBy("key").orderBy("slope_ppm")))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy("key")))
      .filter(col("rn") === expr("(n_pairs + 1) DIV 2"))
      .select(col("key"), col("n_pairs"), col("slope_ppm").alias("ts_slope_ppm"))
  }

  /** Rolling exact OLS slope per key — [[groupOls]] over a trailing
    * RANGE window instead of the whole group: at every observation, the
    * regression of the last `windowRange`+1 x-units (inclusive frame
    * [x − windowRange, x]) ends there. The trend monitor that answers
    * "is this key's metric drifting, judged on the recent window only" —
    * early rows regress over however much history exists (honest n says
    * how much). Same DECIMAL(38,0) sums and sign-split truncation-ppm
    * slope as q330; x must be an integer axis (epoch days, minutes).
    *
    * Scale shape: one window PARTITIONED BY KEY with a RANGE frame on
    * the integer axis — the frame sums are incremental per partition,
    * never a per-row rescan, and nothing is global.
    */
  def rollingOls(df: DataFrame, key: Column, x: Column, y: Column,
      windowRange: Long): DataFrame = {
    require(windowRange >= 1, s"windowRange must be >= 1, got $windowRange")
    val d = DecimalType(38, 0)
    val base = df.select(key.alias("key"), x.cast("long").alias("x"),
      y.cast("long").alias("y"))
    val w = Window.partitionBy(col("key")).orderBy(col("x"))
      .rangeBetween(-windowRange, 0)
    base
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x").cast(d)).over(w))
      .withColumn("sy", sum(col("y").cast(d)).over(w))
      .withColumn("sxy", sum((col("x") * col("y")).cast(d)).over(w))
      .withColumn("sxx", sum((col("x") * col("x")).cast(d)).over(w))
      .withColumn("den", expr("n * sxx - sx * sx"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("slope_ppm", expr(
        """CASE WHEN den = 0 THEN NULL
           WHEN num >= 0 THEN CAST((num * 1000000) DIV den AS BIGINT)
           ELSE CAST(-((-num * 1000000) DIV den) AS BIGINT) END"""))
      .select(col("key"), col("x"), col("y"), col("n"), col("slope_ppm"))
  }

  /** Priority timeline resolution: overlapping half-open intervals
    * `[start, end)` per key, each carrying a priority and a value,
    * resolved so that AT EVERY INSTANT the highest-priority covering
    * interval wins (ties by larger (start, value) — the later, then
    * larger claim), then maximal same-winner runs merge into one output
    * segment. The identity-timeline / override-layer primitive (base
    * config vs campaign overrides, vendor feed vs manual correction).
    * Returns (key, seg_start, seg_end, prio, value); uncovered time
    * yields nothing.
    *
    * Shape: boundary sweep — per key the distinct endpoints cut time
    * into elementary segments (lead window), each segment equi-joins
    * back to its covering intervals (BOUNDED-GROUP contract: cost is
    * O(intervals × segments) per key, so keys must hold panel-sized
    * interval sets — q351 slices one quarter), the winner is one
    * max(struct), and adjacent same-winner segments merge via the
    * run-flag cumulative-sum trick (windows all PARTITIONED BY KEY).
    */
  def timelineResolve(intervals: DataFrame, key: Column, start: Column,
      end: Column, prio: Column, value: Column): DataFrame = {
    val ivl = intervals.select(key.alias("k"), start.cast("long").alias("s"),
        end.cast("long").alias("e"), prio.cast("long").alias("p"),
        value.cast("long").alias("v"))
      .filter(col("s") < col("e"))
    val bounds = ivl.select(col("k"), col("s").alias("b"))
      .union(ivl.select(col("k"), col("e").alias("b"))).distinct()
    val wB = Window.partitionBy("k").orderBy("b")
    val segs = bounds.withColumn("nb", lead(col("b"), 1).over(wB))
      .filter(col("nb").isNotNull)
      .select(col("k"), col("b").alias("seg_s"), col("nb").alias("seg_e"))
    val winners = segs.join(ivl, Seq("k"))
      .filter(col("s") <= col("seg_s") && col("seg_s") < col("e"))
      .groupBy(col("k"), col("seg_s"), col("seg_e"))
      .agg(max(struct(col("p"), col("s"), col("v"))).alias("m"))
      .select(col("k"), col("seg_s"), col("seg_e"),
        col("m.p").alias("p"), col("m.v").alias("v"))
    val wS = Window.partitionBy("k").orderBy("seg_s")
    val runs = winners
      .withColumn("newrun",
        when(lag(col("seg_e"), 1).over(wS) === col("seg_s") &&
          lag(col("p"), 1).over(wS) === col("p") &&
          lag(col("v"), 1).over(wS) === col("v"), 0L).otherwise(1L))
      .withColumn("run", sum(col("newrun")).over(
        wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col("k"), col("run"))
      .agg(min(col("seg_s")).alias("seg_start"),
        max(col("seg_e")).alias("seg_end"),
        first(col("p")).alias("prio"), first(col("v")).alias("value"))
      .select(col("k").alias("key"), col("seg_start"), col("seg_end"),
        col("prio"), col("value"))
  }

  /** Golden-record survivorship merge: collapse an entity's version
    * history to one record, each field independently taking its LATEST
    * NON-NULL value — the standard MDM survivorship rule (a field absent
    * from the newest version survives from an older one; fields never
    * regress to null once seen). `ord` must totally order a key's
    * versions (pass `struct(ts, version_id)` — a bare timestamp with
    * ties would make the winner ambiguous); on a true ord tie the larger
    * value wins, deterministically.
    *
    * Scale shape: ONE partial-agg groupBy — each field is a
    * `max(struct(ord, value))` over non-null rows, so the map side
    * reduces every partition to one candidate per (key, field) before
    * the shuffle; no window, no sort, no per-entity collect. This is the
    * merge step that follows [[graft.operators.Dedup.nearDupComponents]]
    * + representatives in an ER pipeline. Returns
    * (key, n_versions, <col>_latest...).
    */
  def goldenRecord(df: DataFrame, key: Column, ord: Column,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    val base = df.select(
      (Seq(key.alias("key"), ord.alias("__ord")) ++ valueCols.map(col)): _*)
    val aggs = count(lit(1)).alias("n_versions") +:
      valueCols.map(c =>
        max(when(col(c).isNotNull,
          struct(col("__ord").alias("o"), col(c).alias("v"))))
          .getField("v").alias(c + "_latest"))
    base.groupBy(col("key")).agg(aggs.head, aggs.tail: _*)
  }

  def rendezvousAssign(df: DataFrame, id: Column, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val key = id.cast("long")
    // one xorshift64 round; shifts wrap (ANSI-safe), xor is bitwise
    def mix64(c: Column): Column = {
      val z1 = c.bitwiseXOR(shiftleft(c, 13))
      val z2 = z1.bitwiseXOR(shiftrightunsigned(z1, 7))
      z2.bitwiseXOR(shiftleft(z2, 17))
    }
    val cands = (0 until nShards).map { s =>
      struct(
        mix64(graft.plans.TextExprs.fnv64(
          concat(lit(s + ":"), key.cast("string")))).alias("h"),
        lit(-s.toLong).alias("ns"))
    }
    df.select(key.alias("id"),
      (-array_max(array(cands: _*)).getField("ns")).alias("shard"))
  }

  /** Interval sweep-line concurrency profile: given per-row [start, end)
    * intervals (sessions, jobs, connections), emit every boundary event
    * with the EXACT number of concurrently-open intervals after it — the
    * capacity-planning curve (peak concurrency, overlap distribution)
    * computed without materializing any interval pair. Classic sweep:
    * each interval contributes (+1 at start, -1 at end); the running sum
    * over the boundary order is the concurrency. Ties order (t, d, id)
    * with d = -1 first, so an interval ending exactly where another
    * starts never overlaps it — the half-open convention.
    *
    * Returns (seq, t, d, id, active): seq is the 1-based boundary rank,
    * active the open count AFTER applying this boundary. max(active) is
    * peak concurrency; the d = +1 rows alone give each interval's
    * concurrency-at-admission.
    *
    * Scale shape: `active` and `seq` are one [[prefixScan]] over
    * [[quantileBucket]]s of t.
    */
  def concurrencyProfile(df: DataFrame, id: Column, start: Column,
      end: Column, buckets: Int = 64): DataFrame = {
    // spread: the boundary frame is consumed three times (quantile probe,
    // bucket partials, the bucketed windows) with the per-row bucket
    // search fused in — single-split inputs would run each pass one-core
    val b = spread(df.select(id.cast("long").alias("id"),
        start.cast("long").alias("t"), lit(1L).alias("d"))
      .union(df.select(id.cast("long").alias("id"),
        end.cast("long").alias("t"), lit(-1L).alias("d"))))
    prefixScan(b, quantileBucket(b, "t", buckets),
        Seq(col("t"), col("d"), col("id")), "active" -> col("d"), "seq" -> lit(1L))
      .select(col("seq"), col("t"), col("d"), col("id"), col("active"))
  }

  /** Zone-map (per-file min/max statistics) skip report: QUANTIFIES what a
    * sort-by-value layout buys a range predicate BEFORE anyone rewrites
    * 100 TB. Rows are assigned to `nFiles` equal files two ways — arrival
    * order (the id sequence, what an unsorted ingest produces) and value
    * order (what [[quantileBins]]-style sorted rewrite produces) — and for
    * each layout the report counts the files whose [min, max] zone
    * intersects [lo, hi], i.e. the files a stats-pruning scan must read.
    * One row per layout: (layout, n_files, files_hit, rows_in_hit_files,
    * rows_matching, skip_ppm, scan_ppm) — rows_matching is
    * layout-invariant (the true selectivity); the scan_ppm gap between
    * layouts is the read amplification the rewrite removes.
    *
    * File assignment is [[quantileBins]]'s exact rank-proportional rule on
    * each ordering, so the whole report replays as integer SQL. Scale
    * shape: two quantileBins passes (each: probe scan + bucketed window),
    * two file-sized groupBys, two 1-row reductions — the report costs two
    * scans, the rewrite it evaluates costs the full shuffle.
    */
  def zoneMapSkipReport(df: DataFrame, id: Column, value: Column,
      nFiles: Int, lo: Long, hi: Long): DataFrame = {
    require(nFiles >= 2, s"nFiles must be >= 2, got $nFiles")
    require(lo <= hi, s"need lo <= hi, got [$lo, $hi]")
    val base = df.select(id.cast("long").alias("id"), value.cast("long").alias("v"))
    def report(layout: String, order: Column): DataFrame = {
      val bins = quantileBins(base, col("id"), order, nFiles)
        .select(col("id"), col("bin"))
      val files = base.join(bins, Seq("id"))
        .groupBy(col("bin"))
        .agg(min(col("v")).alias("mn"), max(col("v")).alias("mx"),
          count(lit(1)).alias("n"),
          sum(when(col("v") >= lo && col("v") <= hi, 1L).otherwise(0L))
            .alias("nm"))
      files.agg(
          count(lit(1)).alias("n_files"),
          coalesce(sum(when(col("mx") >= lo && col("mn") <= hi, 1L)
            .otherwise(0L)), lit(0L)).alias("files_hit"),
          coalesce(sum(when(col("mx") >= lo && col("mn") <= hi, col("n"))
            .otherwise(0L)), lit(0L)).alias("rows_in_hit_files"),
          coalesce(sum(col("nm")), lit(0L)).alias("rows_matching"),
          coalesce(sum(col("n")), lit(0L)).alias("__nr"))
        .withColumn("skip_ppm", expr(
          "CASE WHEN n_files = 0 THEN 0L ELSE ((n_files - files_hit) * 1000000L) DIV n_files END"))
        .withColumn("scan_ppm", expr(
          "CASE WHEN __nr = 0 THEN 0L ELSE (rows_in_hit_files * 1000000L) DIV __nr END"))
        .withColumn("layout", lit(layout))
        .select(col("layout"), col("n_files"), col("files_hit"),
          col("rows_in_hit_files"), col("rows_matching"), col("skip_ppm"),
          col("scan_ppm"))
    }
    report("arrival", col("id")).union(report("value_sorted", col("v")))
  }

  /** 2-D skyline (Pareto frontier): the rows NOT dominated by any other —
    * q dominates p when q.x <= p.x AND q.y >= p.y with at least one strict
    * (minimize x, maximize y; Börzsönyi et al.'s skyline operator). The
    * multi-objective shortlist query — "no other candidate is at least as
    * good on both axes and better on one" — without materializing any
    * dominance pair: under the (x asc) order, p survives iff
    * max y over {x' < x} < p.y (a strictly-cheaper point at least as good
    * on y would dominate) AND p.y = max y over {x' = x} (an equal-cost
    * point strictly better on y would). Exact duplicates (x, y) tie the
    * group max and all survive — equal points never dominate each other.
    *
    * Returns (id, x, y) of the frontier rows.
    *
    * Scale shape: the strictly-smaller-x running max is two-level over
    * [[quantileBucket]]s of x — per-bucket max-y partials broadcast as
    * preceding-bucket offsets, the in-bucket strict max as a RANGE ... -1
    * frame — with no global single-partition window and no O(n²)
    * dominance join. Equal x always land in one bucket (bucket is a
    * function of x), so the equal-x group max is bucket-local too.
    */
  def skyline2D(df: DataFrame, id: Column, minimizeX: Column, maximizeY: Column,
      buckets: Int = 64): DataFrame = {
    val base = df.select(id.cast("long").alias("id"),
      minimizeX.cast("long").alias("x"), maximizeY.cast("long").alias("y"))
    val bucketed = base.withColumn("bkt", quantileBucket(base, "x", buckets))
    val partials = bucketed.groupBy(col("bkt")).agg(max(col("y")).alias("bm"))
    // not prefixScan: a running MAX over a strict RANGE frame has no exact
    // sum formulation, and prefixScan's offset arithmetic is additive
    val wOff = Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("pm", max(col("bm")).over(wOff))
      .select(col("bkt"), col("pm"))
    val wStrict = Window.partitionBy(col("bkt")).orderBy(col("x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("bkt"), col("x"))
    bucketed.join(broadcast(offsets), Seq("bkt"))
      // greatest skips NULLs: NULL iff no strictly-smaller x exists anywhere
      .withColumn("prior", greatest(max(col("y")).over(wStrict), col("pm")))
      .withColumn("xeqmax", max(col("y")).over(wEq))
      .filter(col("y") === col("xeqmax") &&
        (col("prior").isNull || col("prior") < col("y")))
      .select(col("id"), col("x"), col("y"))
  }

  /** Join-cardinality and skew estimate WITHOUT executing the join — the
    * planner-style diagnostic that decides, before a 100 TB join runs,
    * whether its output explodes (many-to-many key blowup) and whether one
    * key dominates (the salting trigger for [[GraftOps.saltedJoin]]).
    * Exact, not a sketch: |A ⋈ B| = Σ_k cA(k)·cB(k) over the per-key
    * histograms, which cost two partial-agg groupBys (key-cardinality
    * sized — tiny next to the join itself) plus a histogram-sized
    * equi-join; the candidate output NEVER materializes.
    *
    * Returns one row: (est_rows, n_keys_left, n_keys_right,
    * n_matched_keys, max_key, max_key_rows, max_share_ppm) — max_key is
    * the heaviest-output key (smallest key wins ties, via the
    * `min(struct(-rows, key))` argmax), max_share_ppm its floor-division
    * share of the estimated output (the skew threshold a pipeline
    * compares against 1e6/shuffle-partitions before choosing a salted
    * plan). Keys are compared as longs; NULL keys never match in an
    * equi-join and are excluded from both histograms, matching the join
    * they predict.
    */
  def joinCardinalityEstimate(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column): DataFrame = {
    val lh = left.filter(leftKey.isNotNull)
      .groupBy(leftKey.cast("long").alias("k")).agg(count(lit(1)).alias("cl"))
    val rh = right.filter(rightKey.isNotNull)
      .groupBy(rightKey.cast("long").alias("k")).agg(count(lit(1)).alias("cr"))
    val sides = lh.agg(count(lit(1)).alias("n_keys_left"))
      .crossJoin(rh.agg(count(lit(1)).alias("n_keys_right")))
    val matched = lh.join(rh, Seq("k"))
      .select(col("k"), (col("cl") * col("cr")).alias("rows"))
    matched.agg(
        coalesce(sum(col("rows")), lit(0L)).alias("est_rows"),
        count(lit(1)).alias("n_matched_keys"),
        min(struct((-col("rows")).alias("nr"), col("k"))).alias("m"))
      .crossJoin(broadcast(sides))
      .select(col("est_rows"), col("n_keys_left"), col("n_keys_right"),
        col("n_matched_keys"),
        col("m.k").alias("max_key"), (-col("m.nr")).alias("max_key_rows"))
      .withColumn("max_share_ppm", expr(
        "CASE WHEN est_rows = 0 THEN 0L ELSE (max_key_rows * 1000000L) DIV est_rows END"))
  }

  /** Output row of [[groupGapStats]]. NOT `private`: the generated
    * encoder class must be able to construct it (the [[Multimodal.Feat]]
    * rule).
    */
  private[operators] case class GroupGapStats(
      key: Long, n: Long, max_gap_days: Long, span_days: Long)

  /** Per-group imperative analysis through the TYPED Dataset API —
    * `groupByKey(...).mapGroups` with case-class encoders, the Scala
    * analogue of a pandas `applyInPandas` stage: each group's day series
    * is sorted and walked in plain Scala (max inter-event gap, span).
    * Exists as the API-surface demonstration AND the escape hatch for
    * logic that genuinely cannot be expressed as window/aggregate
    * functions; where it CAN (this gap computation can — the oracle is a
    * LAG window), prefer the declarative form: mapGroups shuffles whole
    * rows and materializes each group on one task, so it is only
    * 100 TB-safe when groups are bounded (orders per customer here).
    */
  def groupGapStats(df: DataFrame, key: Column, day: Column): DataFrame = {
    import org.apache.spark.sql.Encoders
    df.select(key.cast("long"), day.cast("long"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (k, rows) =>
        val days = rows.map(_._2).toArray.sorted
        var maxGap = 0L
        var i = 1
        while (i < days.length) {
          if (days(i) - days(i - 1) > maxGap) maxGap = days(i) - days(i - 1)
          i += 1
        }
        GroupGapStats(k, days.length.toLong, maxGap, days.last - days.head)
      }(Encoders.product[GroupGapStats])
      .toDF()
  }

  /** Geometric-decay smoothing over a DATE-keyed series — the EWMA a
    * metrics pipeline lays over daily revenue/volume, made exact: for each
    * present date d, smoothed_xS = Σ_{i=0..w−1} v(d−i) · 2^(w−1−i) with
    * S = 2^w and absent dates contributing zero (decay over CALENDAR
    * days, not previous rows — a gap day decays the average, which is the
    * semantics an alerting pipeline wants). Keeping the ×S scaling makes
    * every term an integer-weighted DECIMAL product — no 1/2^i rounding
    * to disagree on — and the caller can divide at display time.
    *
    * Scale shape: no global single-partition window. Each row fans out to
    * the w target dates it contributes to (explode by a w-element
    * broadcast weight array), then one partial-aggregating groupBy on the
    * target date and an equi-join back to the present-date frame. Both
    * shuffles are date-keyed — calendar-bounded cardinality, immune to
    * row-count growth.
    */
  def geometricDateSmoothing(df: DataFrame, date: Column, value: Column,
      window: Int = 8): DataFrame = {
    require(window >= 1 && window <= 62, s"window must be in [1,62], got $window")
    val base = df.select(date.alias("d"), value.alias("v"))
    val weights = typedLit((0 until window).map(i => 1L << (window - 1 - i)).toArray)
    val contrib = base
      .select(col("d"), col("v"),
        explode(sequence(lit(0), lit(window - 1))).alias("i"))
      .select(date_add(col("d"), col("i")).alias("d"),
        (col("v") * element_at(weights, col("i") + 1)).alias("wv"))
      .groupBy(col("d"))
      .agg(sum(col("wv")).alias("smoothed_scaled"),
        count(lit(1)).alias("n_terms"))
    base.join(contrib, Seq("d"))
      .select(col("d"), col("v"), col("smoothed_scaled"), col("n_terms"))
  }

  /** Concentration report per group — the inequality statistics of a
    * non-negative value column: exact Gini coefficient via the sorted
    * rank identity G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) (tie-invariant:
    * permuting equal values among ranks leaves Σi·x unchanged, so the
    * window's tie order cannot leak into the result), Herfindahl index
    * Σxᵢ²/(Σx)², and the top-1 share — all DECIMAL(38,0) rationals with
    * one ppm floor each, NULL on an all-zero group. "How concentrated is
    * revenue/traffic/token mass" in one partial-agg pass.
    *
    * Scale shape: one per-group rank window (partitioned — never
    * global) feeding one map-side-combined groupBy of five sums.
    */
  def concentrationReport(df: DataFrame, key: Column,
      value: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("v"))
    df.select(key.alias("key"), value.cast("long").alias("v"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("key"))
      .agg(count(lit(1)).cast(d).alias("n"),
        sum(col("v").cast(d)).alias("sv"),
        sum((col("rn") * col("v")).cast(d)).alias("siv"),
        sum((col("v") * col("v")).cast(d)).alias("svv"),
        max(col("v")).cast(d).alias("mx"))
      .select(col("key"), col("n").cast("long").alias("n"),
        col("sv").cast("long").alias("total"),
        expr("""CASE WHEN sv = 0 THEN NULL ELSE
                CAST(((2 * siv - (n + 1) * sv) * 1000000) DIV (n * sv)
                  AS BIGINT) END""").alias("gini_ppm"),
        expr("""CASE WHEN sv = 0 THEN NULL ELSE
                CAST((svv * 1000000) DIV (sv * sv) AS BIGINT) END""")
          .alias("hhi_ppm"),
        expr("""CASE WHEN sv = 0 THEN NULL ELSE
                CAST((mx * 1000000) DIV sv AS BIGINT) END""")
          .alias("top1_ppm"))
  }

  /** All-pairs correlation matrix in ONE scan: k integer variables, one
    * aggregate of k(k+3)/2 + 1 DECIMAL(38,0) sufficient statistics,
    * pairs exploded from the single result row (no per-pair re-scan).
    * Pearson r is irrational, so each pair reports the signed r² in ppm:
    * sign(num)·⌊num²·10⁶/(dx·dy)⌋ with num = nΣxy−ΣxΣy — NULL on a
    * constant side. Magnitude contract: num²·10⁶ must fit 38 digits —
    * |x| ≲ 100-scale variables hold to ~10⁶ rows per call; rescale
    * inputs (not the output) beyond that.
    */
  def corrMatrix(df: DataFrame, vars: Seq[(String, Column)]): DataFrame = {
    require(vars.size >= 2, s"need >= 2 variables, got ${vars.size}")
    val d = DecimalType(38, 0)
    val base = df.select(vars.map { case (n, c) =>
      c.cast("long").alias(n) }: _*)
    val names = vars.map(_._1)
    val aggs = Seq(count(lit(1)).cast(d).alias("__n")) ++
      names.map(n => sum(col(n).cast(d)).alias(s"__s_$n")) ++
      (for { i <- names.indices; j <- i until names.size } yield {
        val (a, b) = (names(i), names(j))
        sum((col(a) * col(b)).cast(d)).alias(s"__p_${a}_$b")
      })
    val agg = base.agg(aggs.head, aggs.tail: _*)
    val pairs = for { i <- names.indices; j <- i + 1 until names.size }
      yield {
        val (a, b) = (names(i), names(j))
        struct(lit(a).alias("var_a"), lit(b).alias("var_b"),
          (col("__n") * col(s"__p_${a}_$b") -
            col(s"__s_$a") * col(s"__s_$b")).alias("num"),
          (col("__n") * col(s"__p_${a}_$a") -
            col(s"__s_$a") * col(s"__s_$a")).alias("dx"),
          (col("__n") * col(s"__p_${b}_$b") -
            col(s"__s_$b") * col(s"__s_$b")).alias("dy"))
      }
    agg.select(col("__n").cast("long").alias("n"),
        explode(array(pairs: _*)).alias("p"))
      .select(col("p.var_a").alias("var_a"), col("p.var_b").alias("var_b"),
        col("n"),
        expr("""CASE WHEN p.dx = 0 OR p.dy = 0 THEN NULL
                WHEN p.num >= 0 THEN
                  CAST((p.num * p.num * 1000000) DIV (p.dx * p.dy) AS BIGINT)
                ELSE -CAST((p.num * p.num * 1000000) DIV (p.dx * p.dy)
                  AS BIGINT) END""").alias("r2_signed_ppm"))
  }

  /** 3-D skyline (Pareto frontier), all-minimize convention (negate a
    * dimension to maximize): rows not dominated in (x, y, z) —
    * [[skyline2D]]'s two-level sort trick is 2-D-only, so the third
    * dimension needs the real distributed algorithm. Two phases:
    * (1) a streaming block-nested local pass per partition (Börzsönyi
    * BNL window: keep a candidate set, drop newcomers dominated by it,
    * evict members the newcomer dominates — memory = local skyline
    * size, NOT partition size, and order-independent by dominance
    * transitivity); (2) the surviving candidates — already
    * skyline-of-their-partition — meet in one broadcast LEFT ANTI
    * self-join on the strict-dominance predicate. Equal points dominate
    * neither direction and co-survive, matching the NOT EXISTS oracle.
    * Contract: the GLOBAL skyline (phase-2 broadcast side) is
    * bounded — true for correlated dimensions in practice; the
    * anti-dominance join is the oracle's O(n²) shape only over
    * candidates, never the corpus.
    */
  def skyline3D(df: DataFrame, id: Column, x: Column, y: Column,
      z: Column): DataFrame = {
    import org.apache.spark.sql.Encoders
    val base = df.select(id.cast("long").alias("id"),
        x.cast("long").alias("x"), y.cast("long").alias("y"),
        z.cast("long").alias("z"))
      .as[(Long, Long, Long, Long)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
    def dom(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)) =
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4 &&
        (a._2 < b._2 || a._3 < b._3 || a._4 < b._4)
    val local = base.mapPartitions { it =>
      val kept = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      it.foreach { r =>
        if (!kept.exists(k => dom(k, r))) {
          var i = 0
          while (i < kept.size) {
            if (dom(r, kept(i))) kept.remove(i) else i += 1
          }
          kept += r
        }
      }
      kept.iterator
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong))
      .toDF("id", "x", "y", "z")
    val d = local.select(col("x").alias("dx"), col("y").alias("dy"),
      col("z").alias("dz"))
    local.join(broadcast(d),
      col("dx") <= col("x") && col("dy") <= col("y") &&
        col("dz") <= col("z") &&
        (col("dx") < col("x") || col("dy") < col("y") ||
          col("dz") < col("z")), "left_anti")
  }

  /** Allen's interval-algebra relation of [s1,e1] vs [s2,e2] as a
    * column — the 13 mutually-exclusive temporal relations (Allen 1983:
    * equals, before/after, meets/met_by, overlaps/overlapped_by,
    * starts/started_by, during/contains, finishes/finished_by), the
    * vocabulary interval joins (q63) flatten away. Pure endpoint
    * comparisons, so it rides any join and replays as the same CASE in
    * any engine. Degenerate (zero-length) intervals can satisfy two
    * relations at once; the documented CASE order — equals, before,
    * after, meets, met_by, overlaps, overlapped_by, starts, started_by,
    * during, contains, finishes, finished_by — resolves them
    * deterministically.
    */
  def allenRelation(s1: Column, e1: Column, s2: Column, e2: Column): Column =
    when(s1 === s2 && e1 === e2, "equals")
      .when(e1 < s2, "before")
      .when(e2 < s1, "after")
      .when(e1 === s2, "meets")
      .when(e2 === s1, "met_by")
      .when(s1 < s2 && e1 > s2 && e1 < e2, "overlaps")
      .when(s2 < s1 && e2 > s1 && e2 < e1, "overlapped_by")
      .when(s1 === s2 && e1 < e2, "starts")
      .when(s1 === s2 && e1 > e2, "started_by")
      .when(s1 > s2 && e1 < e2, "during")
      .when(s1 < s2 && e1 > e2, "contains")
      .when(e1 === e2 && s1 > s2, "finishes")
      .otherwise("finished_by")

  /** Longest-prefix-match enrichment: tag each row's IPv4 address (as an
    * unsigned 32-bit value in a BIGINT) with the owner of the most
    * specific covering CIDR block — the router's LPM rule, and the
    * standard log-enrichment join (GeoIP, ASN, tenant subnets) that a
    * plain equi-join cannot express. `prefixes` is (net BIGINT, len INT
    * in [1,32], owner STRING) and must be unique per (len, net>>32−len);
    * rows covered by no block get NULL owner / NULL lpm_len.
    *
    * Scale shape: ZERO shuffles — one broadcast LEFT join per DISTINCT
    * prefix length present (≤ 32, read via a bounded ≤32-row collect,
    * the k-means-centroid discipline), probing `ip >> (32−len)` against
    * the block's masked key, then a longest-first COALESCE picks the
    * winner map-side. The alternative (explode ×lengths + shuffle join +
    * per-row argmax) pays two shuffles of the full log; a prefix table
    * is reference data and belongs on the broadcast side.
    */
  def lpmEnrich(df: DataFrame, ip: Column, prefixes: DataFrame): DataFrame = {
    val lens = prefixes.select(col("len").cast("int").alias("l")).distinct()
      .collect().map(_.getInt(0)).sorted.reverse
    require(lens.nonEmpty && lens.forall(l => l >= 1 && l <= 32),
      s"prefix lengths must be within [1,32], got ${lens.mkString(",")}")
    var out = df.withColumn("__ip", ip.cast("long"))
    lens.foreach { l =>
      val p = prefixes.filter(col("len") === l)
        .select(expr(s"shiftright(CAST(net AS BIGINT), ${32 - l})")
          .alias(s"__k_$l"), col("owner").cast("string").alias(s"__o_$l"))
      out = out.join(broadcast(p),
        expr(s"shiftright(__ip, ${32 - l}) = __k_$l"), "left")
    }
    val lenCol = lens.foldRight(lit(null).cast("int")) { (l, acc) =>
      when(col(s"__o_$l").isNotNull, lit(l)).otherwise(acc)
    }
    out.withColumn("lpm_owner", coalesce(lens.map(l => col(s"__o_$l")): _*))
      .withColumn("lpm_len", lenCol)
      .drop("__ip" +: lens.flatMap(l => Seq(s"__k_$l", s"__o_$l")): _*)
  }
}
