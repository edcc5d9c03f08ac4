package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ColFns, TextFns, Udfs}
import graft.operators.{Corpus, Dedup, Multimodal, Retrieval, Similarity, Spatial, Validation}
import graft.operators.Relational
import graft.operators.Relational.GraftOps
import graft.streaming.EventStreams

import graft.SparkEntry.{t, pqFixture, dsum, q1Pricing, scratchRoot, deleteRecursively, spread, tfidfBigramVecs, bucketedRevenue, skewRebalanced}

/** [[SparkEntry.queries]] part: 196 entries, q371_concentration .. q65_centroid_assign. Mechanical split
  * of the single registry map (round 12) — entry order, bodies, and keys
  * are unchanged; SparkEntry composes the parts and asserts key
  * disjointness. Add new queries to whichever part keeps files < 4k
  * lines.
  */
private[graft] object SparkEntryQueriesB {
  def m: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q371_concentration" -> ((s, dir) => {
      // revenue inequality per nation: exact Gini (sorted-rank identity,
      // tie-invariant), Herfindahl, and top-customer share — the
      // "is this market one whale or many minnows" readout, one window
      // + one five-sum groupBy.
      val per = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .aggregate(Seq(col("c_nationkey").as("nk"),
          col("o_custkey").as("ck")),
          Seq(sum(expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("rev")))
      graft.operators.Relational.concentrationReport(
          per, col("nk"), col("rev"))
        .sortBy(Seq(col("key")))
    }),

    "q372_weighted_scheduling" -> ((s, dir) => {
      // value-optimal session selection per user (q368 maximizes COUNT;
      // under weights the greedy is suboptimal): classic weighted
      // interval scheduling DP, sessions [ts, ts + value s] worth their
      // value in micros.
      val iv = t(s, dir, "events").selectCols(Seq(
        col("user_id").as("u"), col("event_id").as("i"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
          .as("en"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
          .as("vm")))
      graft.streaming.EventStreams.weightedIntervalSchedule(
          iv, col("u"), col("st"), col("en"), col("i"), col("vm"))
        .sortBy(Seq(col("u")))
    }),

    "q373_kaplan_meier" -> ((s, dir) => {
      // time-to-failure survival per cohort: entry = first signup, event
      // = first error at-or-after entry, right-censored at the global
      // horizon; Kaplan-Meier steps as the ppm floor recurrence
      // S <- floor(S * (n-d)/n), replayed by a recursive-CTE oracle.
      val ev = t(s, dir, "events").selectCols(Seq(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tm")))
      val entry = ev.filterCol(col("event_type") === "signup")
        .aggregate(Seq(col("user_id").as("u")), Seq(min(col("tm")).as("ent")))
      val hz = ev.aggregate(Nil, Seq(max(col("tm")).as("hz")))
      val subj = entry
        .join(ev.filterCol(col("event_type") === "error")
            .selectCols(Seq(col("user_id").as("du"), col("tm").as("dts"))),
          col("u") === col("du") && col("dts") >= col("ent"), "left")
        .aggregate(Seq(col("u"), col("ent")), Seq(min(col("dts")).as("dt")))
        .crossJoin(broadcast(hz))
        .selectCols(Seq((col("u") % 3).as("g"),
          expr("(coalesce(dt, hz) - ent) DIV 1000000").as("dur"),
          when(col("dt").isNotNull, 1L).otherwise(0L).as("evt")))
      graft.operators.Validation.kaplanMeier(
          subj, col("g"), col("dur"), col("evt"))
        .sortBy(Seq(col("g"), col("t")))
    }),

    "q374_did" -> ((s, dir) => {
      // difference-in-differences readout per event family: treatment =
      // user parity, post = days 16+, metric = value in micros; the
      // causal delta as one exact rational per group.
      val e = t(s, dir, "events").selectCols(Seq(
        col("event_type").as("g"), (col("user_id") % 2).as("tr"),
        when(expr("day(ts) > 15"), 1).otherwise(0).as("po"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
          .as("v")))
      graft.operators.Validation.didReadout(
          e, col("g"), col("tr"), col("po"), col("v"))
        .sortBy(Seq(col("g")))
    }),

    "q375_ccf_lag" -> ((s, dir) => {
      // does purchasing FOLLOW clicking, and by how many hours: hourly
      // click/purchase counts cross-correlated at lags 0-6, exact signed
      // r-squared ppm per lag.
      val hb = t(s, dir, "events")
        .filterCol(col("event_type").isin("click", "purchase"))
        .aggregate(Seq(expr("unix_micros(ts) DIV 3600000000").as("hb")),
          Seq(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y")))
      graft.streaming.EventStreams.crossCorrelation(
          hb, col("hb"), col("x"), col("y"), maxLag = 6)
        .sortBy(Seq(col("lag")))
    }),

    "q376_drawdown" -> ((s, dir) => {
      // per-user net ledger (purchases credit, errors debit, micros):
      // running-peak drawdown report — max depth and the step where the
      // worst trough FIRST occurs, ordered by (ts, event_id).
      val fl = t(s, dir, "events")
        .filterCol(col("event_type").isin("purchase", "error"))
        .selectCols(Seq(col("user_id").as("u"),
          unix_micros(col("ts")).as("tm"), col("event_id").as("i"),
          when(col("event_type") === "purchase",
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
            .otherwise(
              -expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
            .as("v")))
      graft.streaming.EventStreams.drawdownReport(
          fl, col("u"), Seq(col("tm"), col("i")), col("v"))
        .sortBy(Seq(col("k")))
    }),

    "q377_uplift_qini" -> ((s, dir) => {
      // uplift evaluation: users ranked by pre-period click count,
      // treatment = parity, outcome = post-period purchases; per-decile
      // uplift and the cumulative Qini curve as exact rationals.
      val per = t(s, dir, "events").aggregate(
        Seq(col("user_id").as("u")),
        Seq(sum(when(expr("day(ts) <= 15") &&
            col("event_type") === "click", 1L).otherwise(0L)).as("sc"),
          sum(when(expr("day(ts) > 15") &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("oc")))
      graft.operators.Validation.upliftDeciles(
          per, col("sc"), col("u"), col("u") % 2, col("oc"), buckets = 10)
        .sortBy(Seq(col("bucket")))
    }),

    "q378_seasonal_decompose" -> ((s, dir) => {
      // weekly-seasonal additive decomposition of daily revenue (micros)
      // per event family: centered 7-day integer moving-average trend,
      // phase means sign-split, residual exact.
      val daily = t(s, dir, "events").aggregate(
        Seq(col("event_type").as("k"),
          expr("unix_micros(ts) DIV 86400000000").as("d")),
        Seq(sum(expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
          .as("v")))
      graft.streaming.EventStreams.seasonalDecompose(
          daily, col("k"), col("d"), col("v"), period = 7)
        .sortBy(Seq(col("k"), col("t")))
    }),

    "q379_runs_test" -> ((s, dir) => {
      // is the per-event value sequence random around its median: runs
      // count vs the Wald-Wolfowitz expectation, exact ppm.
      val e = t(s, dir, "events").selectCols(Seq(
        col("event_type").as("k"), unix_micros(col("ts")).as("tm"),
        col("event_id").as("i"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
          .as("v")))
      graft.streaming.EventStreams.runsTest(
          e, col("k"), Seq(col("tm"), col("i")), col("v"))
        .sortBy(Seq(col("k")))
    }),

    "q380_pettitt" -> ((s, dir) => {
      // nonparametric single-changepoint scan over daily revenue per
      // event family: doubled-midrank Pettitt statistic, first argmax.
      val daily = t(s, dir, "events").aggregate(
        Seq(col("event_type").as("k"),
          expr("unix_micros(ts) DIV 86400000000").as("d")),
        Seq(sum(expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
          .as("v")))
      graft.streaming.EventStreams.pettittChangepoint(
          daily, col("k"), Seq(col("d")), col("v"))
        .sortBy(Seq(col("k")))
    }),

    "q381_seq_patterns" -> ((s, dir) => {
      // GSP-style sequential-pattern mining: which ordered event-type
      // triples do users actually traverse — exact support via the
      // first/last-extremes identity, no triple self-join.
      val ev = t(s, dir, "events").selectCols(Seq(col("user_id").as("u"),
        col("event_type").as("ty"), unix_micros(col("ts")).as("tm")))
      graft.streaming.EventStreams.seqPatternSupport(
          ev, col("u"), col("ty"), col("tm"))
        .sortBy(Seq(col("a"), col("b"), col("c")))
    }),

    "q382_cvm" -> ((s, dir) => {
      // whole-distribution drift check per user cohort: click vs view
      // value distributions under the two-sample Cramer-von Mises
      // statistic, doubled midranks, exact ppm.
      val e = t(s, dir, "events")
        .filterCol(col("event_type").isin("click", "view"))
        .selectCols(Seq((col("user_id") % 2).as("k"),
          when(col("event_type") === "view", 1).otherwise(0).as("s"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            .as("v")))
      graft.operators.Validation.cramerVonMises(
          e, col("k"), col("s"), col("v"))
        .sortBy(Seq(col("k")))
    }),

    "q383_mcnemar" -> ((s, dir) => {
      // did the SAME users purchase differently before vs after mid-
      // month: McNemar discordant-pair statistic per cohort.
      val per = t(s, dir, "events").aggregate(
        Seq(col("user_id").as("u")),
        Seq(max(when(expr("day(ts) <= 15") &&
            col("event_type") === "purchase", 1).otherwise(0)).as("p0"),
          max(when(expr("day(ts) > 15") &&
            col("event_type") === "purchase", 1).otherwise(0)).as("p1")))
      graft.operators.Validation.mcnemarReadout(
          per, col("u") % 3, col("p0"), col("p1"))
        .sortBy(Seq(col("g")))
    }),

    "q384_spearman" -> ((s, dir) => {
      // monotone association between event value and time per event
      // family: Spearman over doubled midranks, signed rho-squared ppm.
      val e = t(s, dir, "events").selectCols(Seq(
        col("event_type").as("k"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
          .as("x"),
        unix_micros(col("ts")).as("y")))
      graft.operators.Validation.spearmanReport(
          e, col("k"), col("x"), col("y"))
        .sortBy(Seq(col("k")))
    }),

    "q385_pr_curve" -> ((s, dir) => {
      // operating-point sweep for the q377 ranking used as a converter
      // classifier: precision/recall/F1 at each score-decile threshold,
      // exact ppm.
      val per = t(s, dir, "events").aggregate(
        Seq(col("user_id").as("u")),
        Seq(sum(when(expr("day(ts) <= 15") &&
            col("event_type") === "click", 1L).otherwise(0L)).as("sc"),
          max(when(expr("day(ts) > 15") &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("y")))
      graft.operators.Validation.prCurveDeciles(
          per, col("sc"), col("u"), col("y"), buckets = 10)
        .sortBy(Seq(col("bucket")))
    }),

    "q386_corr_matrix" -> ((s, dir) => {
      // all-pairs association screen over four small-integer lineitem
      // variables from ONE scan: 15 sufficient statistics, 6 pair rows
      // exploded from the single aggregate.
      graft.operators.Relational.corrMatrix(t(s, dir, "lineitem"), Seq(
          "qty" -> col("l_quantity").cast("long"),
          "disc_pct" ->
            expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)"),
          "tax_pct" ->
            expr("CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)"),
          "ship_day" -> dayofmonth(col("l_shipdate"))))
        .sortBy(Seq(col("var_a"), col("var_b")))
    }),

    "q387_holt_winters" -> ((s, dir) => {
      // weekly-seasonal exponential smoothing of daily revenue per event
      // family: additive Holt-Winters, ppm weights, truncated integer
      // steps, 3-day-ahead forecasts; recursive-CTE oracle carries the
      // seasonal circular queue as a BIGINT list.
      val daily = t(s, dir, "events").aggregate(
        Seq(col("event_type").as("k"),
          expr("unix_micros(ts) DIV 86400000000").as("d")),
        Seq(sum(expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
          .as("v")))
      graft.streaming.EventStreams.holtWinters(
          daily, col("k"), col("d"), col("v"), period = 7,
          alphaPpm = 300000L, betaPpm = 100000L, gammaPpm = 200000L)
        .sortBy(Seq(col("k")))
    }),

    "q388_cdc_apply" -> ((s, dir) => {
      // materialize the current user table from the event log read as a
      // CDC changelog: signup inserts, interactions upsert, errors
      // delete, later activity resurrects — last writer wins inside the
      // aggregate, no window.
      val ch = t(s, dir, "events").selectCols(Seq(col("user_id").as("u"),
        unix_micros(col("ts")).as("tm"), col("event_id").as("i"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D").otherwise("U").as("op"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
          .as("v")))
      graft.streaming.EventStreams.cdcApply(
          ch, col("u"), Seq(col("tm"), col("i")), col("op"), col("v"))
        .sortBy(Seq(col("k")))
    }),

    "q389_burst_viterbi" -> ((s, dir) => {
      // which event families have genuine burst DAYS (vs noise): the
      // integer L1 two-state Viterbi over daily counts, burst rate 3x
      // the key's own median, fewest-burst-days tie break.
      val daily = t(s, dir, "events").aggregate(
        Seq(col("event_type").as("k"),
          expr("unix_micros(ts) DIV 86400000000").as("d")),
        Seq(count(lit(1)).as("y")))
      graft.streaming.EventStreams.burstViterbi(
          daily, col("k"), col("d"), col("y"))
        .sortBy(Seq(col("k")))
    }),

    "q390_best_streak" -> ((s, dir) => {
      // best contiguous net-positive run of the q376 ledger per user —
      // Kadane's DP as two prefix windows, zero sequential code.
      val fl = t(s, dir, "events")
        .filterCol(col("event_type").isin("purchase", "error"))
        .selectCols(Seq(col("user_id").as("u"),
          unix_micros(col("ts")).as("tm"), col("event_id").as("i"),
          when(col("event_type") === "purchase",
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
            .otherwise(
              -expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
            .as("v")))
      graft.streaming.EventStreams.bestStreak(
          fl, col("u"), Seq(col("tm"), col("i")), col("v"))
        .sortBy(Seq(col("k")))
    }),

    "q391_lorenz" -> ((s, dir) => {
      // the curve behind q371's Gini: cumulative revenue share by
      // customer decile, cents-exact.
      val per = t(s, dir, "orders").aggregate(
        Seq(col("o_custkey").as("ck")),
        Seq(sum(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("rev")))
      graft.operators.Validation.lorenzDeciles(
          per, col("rev"), col("ck"), buckets = 10)
        .sortBy(Seq(col("bucket")))
    }),

    "q392_simpson_diversity" -> ((s, dir) => {
      // language concentration per document source: Simpson match
      // probability and Gini-Simpson diversity, exact rationals.
      graft.operators.Validation.simpsonDiversity(
          t(s, dir, "documents"), col("source"), col("lang"))
        .sortBy(Seq(col("g")))
    }),

    "q393_motifs" -> ((s, dir) => {
      // SAX-lite: daily event counts symbolized into within-key rank
      // quartiles, most frequent 3-day shape per event family.
      val daily = t(s, dir, "events").aggregate(
        Seq(col("event_type").as("k"),
          expr("unix_micros(ts) DIV 86400000000").as("d")),
        Seq(count(lit(1)).as("y")))
      graft.streaming.EventStreams.quartileMotifs(
          daily, col("k"), Seq(col("d")), col("y"))
        .sortBy(Seq(col("k")))
    }),

    "q394_sql_variables" -> ((s, dir) => {
      // Spark 4 SQL-surface trio in one pass: a SESSION VARIABLE holds
      // the mean order value in cents (exact SUM DIV COUNT), EXECUTE
      // IMMEDIATE binds it into parameterized dynamic SQL via USING
      // (never string interpolation), and the statement itself uses
      // GROUP BY ALL / ORDER BY ALL.
      t(s, dir, "orders").createOrReplaceTempView("graft_q394_orders")
      s.sql("DECLARE OR REPLACE VARIABLE graft_q394_cut BIGINT")
      s.sql("""SET VARIABLE graft_q394_cut =
           (SELECT SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
              AS BIGINT)) DIV COUNT(*) FROM graft_q394_orders)""")
      s.sql("""EXECUTE IMMEDIATE
           'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * 100 AS BIGINT) > ? THEN 1 ELSE 0 END) AS BIGINT)
                AS n_above,
              ? AS cut_cents
            FROM graft_q394_orders GROUP BY ALL ORDER BY ALL'
           USING graft_q394_cut, graft_q394_cut""")
    }),

    "q395_clustering_coeff" -> ((s, dir) => {
      // neighborhood cliquishness of the near-dup graph: local
      // clustering coefficient per doc — near-1 inside true duplicate
      // clusters, 0 along q50's transitive chains.
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), threshold = 0.8)
      graft.operators.Graph.clusteringCoefficients(pairs)
        .sortBy(Seq(col("id")))
    }),

    "q396_ktruss" -> ((s, dir) => {
      // densest-core extraction from the near-dup graph: 3-truss peeling
      // (every surviving edge closes a triangle) — the edge-level
      // cohesion filter that separates true duplicate cliques from
      // borderline chains q50's closure would merge.
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), threshold = 0.8)
      graft.operators.Graph.kTrussPeel(pairs, k = 3, rounds = 2)
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q397_rfm" -> ((s, dir) => {
      // classic RFM segmentation of the user base: recency (days from
      // the corpus horizon), frequency, monetary micros, each quintiled
      // independently, composite code 100r+10f+m.
      val per = t(s, dir, "events").aggregate(
        Seq(col("user_id").as("u")),
        Seq(max(expr("unix_micros(ts) DIV 86400000000")).as("last_d"),
          count(lit(1)).as("fq"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
            .as("mo")))
      val hz = per.aggregate(Nil, Seq(max(col("last_d")).as("hz")))
      val rf = per.crossJoin(broadcast(hz)).selectCols(Seq(col("u"),
        (col("hz") - col("last_d")).as("rd"), col("fq"), col("mo")))
      graft.operators.Validation.rfmScores(
          rf, col("u"), col("rd"), col("fq"), col("mo"), buckets = 5)
        .sortBy(Seq(col("u")))
    }),

    "q398_logrank" -> ((s, dir) => {
      // does the odd-parity cohort hit its first error faster than
      // chance: log-rank O-E per event time over the q373 subjects.
      val ev = t(s, dir, "events").selectCols(Seq(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tm")))
      val entry = ev.filterCol(col("event_type") === "signup")
        .aggregate(Seq(col("user_id").as("u")), Seq(min(col("tm")).as("ent")))
      val hz = ev.aggregate(Nil, Seq(max(col("tm")).as("hz")))
      val subj = entry
        .join(ev.filterCol(col("event_type") === "error")
            .selectCols(Seq(col("user_id").as("du"), col("tm").as("dts"))),
          col("u") === col("du") && col("dts") >= col("ent"), "left")
        .aggregate(Seq(col("u"), col("ent")), Seq(min(col("dts")).as("dt")))
        .crossJoin(broadcast(hz))
        .selectCols(Seq((col("u") % 2).as("g"),
          expr("(coalesce(dt, hz) - ent) DIV 1000000").as("dur"),
          when(col("dt").isNotNull, 1L).otherwise(0L).as("evt")))
      graft.operators.Validation.logRank(
          subj, col("g"), col("dur"), col("evt"))
        .sortBy(Seq(col("t")))
    }),

    "q399_read_csv" -> ((s, dir) => {
      // read-csv as a driver fact (closing the one §2 row without an
      // oracle-backed CORRECTNESS entry): orders written to CSV through
      // Engine.writeCsv, read back through Engine.readCsv — header row =
      // column names, schema inferred: the reference's exact
      // CsvReadOptions::new() defaults (main.rs:574) — and hash-matched
      // against the parquet original. Proves header naming, type
      // inference, quoting, and double textual round-trip (Java
      // shortest-repr Double.toString reparses exactly) are lossless.
      // Inference correctly picks the narrowest integer type (INT at
      // this key range); the cast restores the parquet width so the
      // driver's dtype-sensitive hash compares like for like.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/orders_csv"
      Engine.writeCsv(t(s, dir, "orders").selectCols(Seq(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))), scratch)
      Engine.readCsv(s, scratch).selectCols(Seq(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority")))
        .sortBy(Seq(col("o_orderkey")))
    }),

    "q400_udtf_ngrams" -> ((s, dir) => {
      // UDTF (generator) surface end-to-end through SQL: a positional
      // 3-gram shingler registered as a table function (functions/Udtfs
      // — a Catalyst Generator planned by GenerateExec, row-local, no
      // shuffle), LATERAL VIEW'd over documents and aggregated. The
      // generator tier completes the UDF family beyond the reference's
      // scalar-only stub (main.rs:598-636). Tokenization mirrors
      // TextFns.tokens / the q50 oracle: lower(trim), split \s+, drop
      // empties; docs with < 3 tokens emit nothing.
      graft.functions.Udtfs.defineUdtf(s, "q400_ngrams",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("gram",
            org.apache.spark.sql.types.StringType))),
        args => {
          val n = 3
          val toks = Option(args.head).map(_.asInstanceOf[String]).getOrElse("")
            .trim.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
          (0 to toks.length - n).iterator.map(i =>
            Seq(i.toLong, toks.slice(i, i + n).mkString(" ")))
        }, arity = 1)
      t(s, dir, "documents").createOrReplaceTempView("q400_docs")
      s.sql("""
        SELECT g.gram AS gram, count(*) AS n, sum(g.pos) AS pos_sum
        FROM q400_docs d
        LATERAL VIEW q400_ngrams(d.text) g AS pos, gram
        GROUP BY g.gram
        HAVING count(*) >= 3
        ORDER BY n DESC, gram
        LIMIT 100""")
    }),

    "q401_udtf_sql_function" -> ((s, dir) => {
      // UDTF composed INTO a catalog object: the Scala-closure generator
      // (q400's tier) wrapped by a SQL CREATE FUNCTION ... RETURNS TABLE
      // (q277's tier), so downstream SQL users call a PARAMETERIZED table
      // function — q401_long_toks(minLen) — with zero knowledge that a
      // JVM closure sits underneath. The registration chain this
      // exercises: FunctionRegistry (generator) -> SQL function catalog
      // (wrapper) -> analyzer inlining the wrapper body with the bound
      // parameter; the generator stays a row-local Generate node (no
      // shuffle) inside the inlined plan.
      graft.functions.Udtfs.defineUdtf(s, "q401_tok",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("tok",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("nchars",
            org.apache.spark.sql.types.LongType))),
        args => {
          val toks = Option(args.head).map(_.asInstanceOf[String]).getOrElse("")
            .trim.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
          toks.iterator.zipWithIndex.map { case (tk, i) =>
            Seq(i.toLong, tk, tk.length.toLong)
          }
        }, arity = 1)
      t(s, dir, "documents").createOrReplaceTempView("q401_docs")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q401_long_toks(minLen BIGINT)
           RETURNS TABLE (doc_id BIGINT, pos BIGINT, tok STRING)
           RETURN SELECT d.doc_id, t.pos, t.tok
             FROM q401_docs d
             LATERAL VIEW q401_tok(d.text) t AS pos, tok, nchars
             WHERE t.nchars >= minLen""")
      s.sql("""
        SELECT tok, count(*) AS n, min(pos) AS first_pos,
               count(DISTINCT doc_id) AS n_docs
        FROM q401_long_toks(5)
        GROUP BY tok
        HAVING count(*) >= 3
        ORDER BY n DESC, tok
        LIMIT 50""")
    }),

    "q316_ivf_cell_drift" -> ((s, dir) => {
      // ANN index maintenance signal: assign the OLD half and the NEW
      // half of the corpus to the same centroids (q65's fixed first-8,
      // exact l2) and compare per-cell populations — a cell whose share
      // moves is where the IVF index goes stale first; growth in
      // sign-split floor ppm. Two broadcast assignments + cell-sized
      // aggregates.
      val e = t(s, dir, "embeddings")
      val cents = e.filterCol(col("vec_id") < 8)
        .selectCols(Seq(col("vec_id").as("cid"), col("embedding").as("cv")))
      def cells(half: Long) = Similarity.assignToCentroids(
          e.filterCol(pmod(col("vec_id"), lit(2L)) === half)
            .selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v"))),
          cents)
        .groupBy(col("cid")).agg(count(lit(1)).as(s"n_$half"))
      cells(0L).join(cells(1L), Seq("cid"), "full")
        .selectCols(Seq(col("cid"),
          coalesce(col("n_0"), lit(0L)).as("n_old"),
          coalesce(col("n_1"), lit(0L)).as("n_new")))
        .withColumn("growth_ppm", expr(
          """CASE WHEN n_old = 0 THEN NULL
               WHEN n_new >= n_old THEN ((n_new - n_old) * 1000000L) DIV n_old
               ELSE -(((n_old - n_new) * 1000000L) DIV n_old) END"""))
        .sortBy(Seq(col("cid")))
    }),

    "q317_order_reconciliation" -> ((s, dir) => {
      // money-column reconciliation: does each order's header total equal
      // the sum of its lines' extendedprice·(1−disc)·(1+tax)? Compared in
      // exact integer MICROS (decimal sums — never a float equality);
      // headerless/lineless orders counted separately, one report row.
      // The cross-table consistency gate a finance pipeline runs nightly.
      val o = t(s, dir, "orders").selectCols(Seq(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("o_mic")))
      val l = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr(
          "CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
          .as("rev_mic"))
      o.join(l, col("o_orderkey") === col("l_orderkey"), "full")
        .selectCols(Seq(col("o_orderkey"), col("l_orderkey"), col("o_mic"),
          col("rev_mic")))
        .aggregate(Seq.empty, Seq(
          count(lit(1)).as("n"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_orphan_lines"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("n_lineless"),
          sum(when(col("o_mic") === col("rev_mic"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(abs(col("o_mic") - col("rev_mic")) <= 10000L, 1L).otherwise(0L))
            .as("n_within_cent"),
          max(abs(col("o_mic") - col("rev_mic"))).as("max_abs_diff_mic")))
    }),

    "q315_rendezvous_resize" -> ((s, dir) => {
      // HRW sharding's resize promise, measured: assign every customer at
      // 8 shards and again at 9 — only keys whose NEW shard's hash wins
      // move (~1/9 of them), where mod-n hashing reshuffles nearly all.
      // Per-shard movement + the global moved share in ppm; portable FNV
      // makes every assignment (and so the movement ratio) replayable.
      val keys = t(s, dir, "customer").selectCols(Seq(col("c_custkey")))
      val a8 = Relational.rendezvousAssign(keys, col("c_custkey"), 8)
        .withColumnRenamed("shard", "shard8")
      val a9 = Relational.rendezvousAssign(keys, col("c_custkey"), 9)
        .withColumnRenamed("shard", "shard9")
      val j = a8.join(a9, Seq("id"))
      val total = j.agg(count(lit(1)).as("n_total"),
        sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L)).as("n_moved_total"))
      j.groupBy(col("shard8").as("shard"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L)).as("n_moved"))
        .crossJoin(broadcast(total))
        .selectCols(Seq(col("shard"), col("n"), col("n_moved"),
          expr("(n_moved * 1000000L) DIV n").as("moved_ppm"),
          col("n_total"), col("n_moved_total"),
          expr("(n_moved_total * 1000000L) DIV n_total").as("moved_total_ppm")))
        .sortBy(Seq(col("shard")))
    }),

    "q313_embedding_drift" -> ((s, dir) => {
      // did the embedding space move: even vs odd vec_id splits as two
      // "versions" — per-dim DECIMAL-exact centroids (q79's mean rule),
      // per-dim diff, squared centroid shift as the dim-ordered IEEE fold
      // (q185's norm discipline). The ANN-index-rebuild monitor.
      val e = t(s, dir, "embeddings")
      Similarity.embeddingDrift(
          e.filterCol(pmod(col("vec_id"), lit(2L)) === 0L),
          e.filterCol(pmod(col("vec_id"), lit(2L)) === 1L),
          col("embedding"))
        .sortBy(Seq(col("dim")))
    }),

    "q314_dup_cluster_sizes" -> ((s, dir) => {
      // dedup observability: the near-dup component SIZE distribution —
      // near-cliques vs chain over-merge shows up here first (q129's
      // triangle census is the other lens); plus how many docs pair at
      // all. Composition of q34 pairs -> q50 components -> histogram.
      val comps = Dedup.nearDupComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"),
          col("text"), threshold = 0.8))
      val sizes = comps.groupBy(col("component_id")).agg(count(lit(1)).as("sz"))
      val totals = sizes.agg(count(lit(1)).as("n_components"),
        sum(col("sz")).as("n_docs_paired"), max(col("sz")).as("largest"))
      sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_comps"))
        .crossJoin(broadcast(totals))
        .selectCols(Seq(col("sz"), col("n_comps"), col("n_components"),
          col("n_docs_paired"), col("largest")))
        .sortBy(Seq(col("sz")))
    }),

    "q310_bootstrap_grouped" -> ((s, dir) =>
      // q298's deterministic Poisson bootstrap PER SEGMENT: 16 replicate
      // revenue sums per event type from one corpus scan — the
      // per-segment error bar; same pinned hash and CDF cuts
      Relational.bootstrapSumsGrouped(t(s, dir, "events"), col("event_type"),
          col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"),
          replicates = 16)
        .withColumnRenamed("g", "event_type")
        .sortBy(Seq(col("event_type"), col("rep")))),

    "q311_lateness_profile" -> ((s, dir) => {
      // watermark-delay measurement: the testdata feed is perfectly
      // ordered, so simulate a realistic ingest by jittering each event's
      // ARRIVAL ±1 h with the pinned xor-mix hash (deterministic — both
      // engines replay the same feed), then profile event-time disorder:
      // lateness vs the running event-time max, worst case, and the exact
      // lower p95 — "set withWatermark to p95 and you drop <= 5%".
      val ev = t(s, dir, "events")
        .withColumn("__tus", unix_micros(col("ts")))
        .withColumn("__h1", expr(
          "((((event_id * 1000003L) % 2147483648L) * 2654435761L) % 4294967296L)"))
        .withColumn("__u", expr(
          "(((__h1 ^ (__h1 DIV 65536L)) * 40503L) % 4294967296L) DIV 65536L"))
        // unique arrival key: jittered micros, event_id breaking ties
        .withColumn("__arrival",
          expr("(__tus + __u * 109863L - 3600000000L) * 1000L + event_id % 1000L"))
      EventStreams.latenessProfile(ev, col("event_type"), col("__arrival"),
          col("ts"))
        .sortBy(Seq(col("key")))
    }),

    "q312_vocab_drift" -> ((s, dir) =>
      // which WORDS moved between corpus halves: q195's categorical-drift
      // machinery over exploded tokens — per-term shares, diffs, TVD; the
      // vocabulary-drift read before retraining a tokenizer or trusting a
      // frequency-sensitive filter on a new crawl
      Validation.categoricalDrift(
          t(s, dir, "documents").filterCol(pmod(col("doc_id"), lit(2)) === 0)
            .selectCols(Seq(explode(TextFns.tokens(col("text"))).as("term"))),
          t(s, dir, "documents").filterCol(pmod(col("doc_id"), lit(2)) === 1)
            .selectCols(Seq(explode(TextFns.tokens(col("text"))).as("term"))),
          col("term"))
        .sortBy(Seq(col("category")))),

    "q307_sliding_dau_hll" -> ((s, dir) => {
      // q302's rolling 24 h distinct users through SKETCHES — the scale
      // path its Scaladoc promises: per-hour HLL register vectors (2^6
      // longs each), each hour's registers fanned to its 24 covering
      // window starts, merged by element-wise max (the HLL union law —
      // raw user ids never enter the window fan-out), per-window scaled
      // harmonic sum EXACT in a long; q302's exact count rides along as
      // the instrument. Registers + sums hash-match; only the final
      // alpha/s double is approximate BY NATURE and stays out.
      val ev = t(s, dir, "events")
      val hourly = Corpus.hllSketchGrouped(
        ev.selectCols(Seq(unix_micros(date_trunc("hour", col("ts"))).as("h"),
          col("user_id").cast("string").as("u"))),
        col("h"), col("u"), b = 6)
      val merged = hourly
        .selectCols(Seq(col("group").as("h"), col("bucket"), col("register"),
          explode(sequence(lit(0), lit(23))).as("k")))
        .selectCols(Seq((col("h") - col("k") * (3600L * 1000000L)).as("win_start_us"),
          col("bucket"), col("register")))
        .groupBy(col("win_start_us"), col("bucket"))
        .agg(max(col("register")).as("register"))
      // b = 6 -> sum scale 56 (the q191 constant)
      val sums = merged.groupBy(col("win_start_us"))
        .agg(sum(expr(
          "CAST(CASE WHEN register <= 56 THEN shiftleft(1L, 56 - register) ELSE 0L END AS BIGINT)"))
          .as("s_scaled"))
      val exact = EventStreams.slidingDistinct(ev, col("user_id"), col("ts"),
        windowHours = 24).withColumnRenamed("n_users", "n_exact")
      merged.join(sums, Seq("win_start_us")).join(exact, Seq("win_start_us"))
        .selectCols(Seq(col("win_start_us"), col("bucket"), col("register"),
          col("s_scaled"), col("n_exact")))
        .sortBy(Seq(col("win_start_us"), col("bucket")))
    }),

    "q308_ohlc_stream" -> ((s, dir) => {
      // q301's candle chart running MID-INGEST: the same per-(type, hour)
      // OHLC aggregate in complete mode — min_by/max_by state is one
      // (order, value) pair per group; the oracle is the batch SQL
      // verbatim (stream == batch is the claim)
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runOhlcStreamSmoke(s, staged,
          "event_type", "event_id",
          "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
        .selectCols(Seq(col("key"), unix_micros(col("bucket")).as("bucket_us"),
          col("n"), col("open"), col("close"), col("high"), col("low"),
          col("sum_v")))
        .sortBy(Seq(col("key"), col("bucket_us")))
    }),

    "q309_blocking_eval" -> ((s, dir) => {
      // dedup-pipeline evaluation as a driver fact: the linear
      // sorted-neighborhood blocker (q208) scored against exact trigram
      // Jaccard >= 0.5 ground truth (q34's instrument) — TP counts,
      // precision and recall in floor ppm. The number that justifies (or
      // indicts) a blocking configuration BEFORE it gates a 100 TB dedup.
      val docs = t(s, dir, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          ngram = 3, threshold = 0.5)
        .selectCols(Seq(col("id_a"), col("id_b")))
      // q213's similarity-preserving 3-token-PREFIX key — a whole-doc
      // fingerprint would scatter near-dups (one changed token flips the
      // rolling hash; measured recall 0 on this corpus), the prefix key
      // blocks them together
      val cand = Dedup.sortedNeighborhoodPairs(docs, col("doc_id"),
          TextFns.fingerprint(
            array_join(slice(TextFns.tokens(col("text")), 1, 3), " "),
            portable = true), w = 8)
        .selectCols(Seq(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b")))
        .distinct()
      val tp = truth.join(cand, Seq("id_a", "id_b"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .selectExpr("n_truth", "n_cand", "n_tp",
          "CASE WHEN n_cand = 0 THEN NULL ELSE (n_tp * 1000000L) DIV n_cand END AS precision_ppm",
          "CASE WHEN n_truth = 0 THEN NULL ELSE (n_tp * 1000000L) DIV n_truth END AS recall_ppm")
    }),

    "q305_jl_projection" -> ((s, dir) => {
      // RNG-free Johnson-Lindenstrauss: 64-dim embeddings -> int8 codes
      // (q76's codec) -> 16-dim ±1 sign projection with the sign matrix a
      // pure function of (i, j) — every output an exact integer, the
      // cheap pre-filter in front of exact re-rank. No shuffle at all.
      // spread + staged sort: the per-(row, j) aggregate lambda is
      // interpreted (HOF CodegenFallback) and the single-split scan ran it
      // on one core — twice, because the range sampler re-executes the
      // map pipeline (measured: 1.65 s + 1.28 s single-task stages)
      val q = spread(t(s, dir, "embeddings")
        .selectCols(Seq(col("vec_id"),
          graft.plans.VectorExprs.quantizeInt8(col("embedding"))
            .getField("q").as("codes"))))
      Similarity.jlProjectCodes(q, col("vec_id"), col("codes"), outDim = 16)
        .selectCols(Seq(col("id").as("vec_id"), col("j"), col("y")))
        .sortByStaged(Seq(col("vec_id"), col("j")))
    }),

    "q306_profile_drift" -> ((s, dir) => {
      // the dataset-card diff per refresh: q187's derived v2 (every 11th
      // doc dropped, every remaining 7th edited, one added per 13th with
      // a NEW source) profiled against v1 — row/null/distinct deltas and
      // min/max excursions per column; the schema-level companion of the
      // row-level corpusDiff. Two single-pass profiles + a columns-sized
      // join.
      val v1 = t(s, dir, "documents")
      val edited = v1.filterCol(pmod(col("doc_id"), lit(11)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" v2-edit"))).otherwise(col("text")))
        .withColumn("n_chars",
          when(pmod(col("doc_id"), lit(7)) === 0,
            length(col("text")).cast("long")).otherwise(col("n_chars")))
      val v2 = edited.unionByName(
        v1.filterCol(pmod(col("doc_id"), lit(13)) === 0)
          .selectCols(Seq((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id")).as("text"),
            lit("xx").as("lang"), lit("new-src").as("source"),
            length(concat(lit("new doc "), col("doc_id"))).cast("long")
              .as("n_chars"))))
      Validation.profileDrift(v1, v2, Seq("text", "lang", "source", "n_chars"))
        .sortBy(Seq(col("column")))
    }),

    "q304_tfidf_cosine_pairs" -> ((s, dir) => {
      // lexical document-similarity join WITHOUT embeddings: bigram
      // hashed-TF-IDF sparse vectors (q94's integer weights, scale 1000
      // for the Σw² overflow contract) through the inverted-index cosine
      // join — sqrt-free (dot²·1e6 vs t²·n2·n2 in DECIMAL), every pair
      // exact. Pairs sharing no bucket never materialize; PPJoin (q222)
      // is the prefix-filtered sibling for unweighted sets.
      // even-doc subset: this corpus is ADVERSARIALLY dense for a sparse
      // join (a ~930-bigram vocabulary shared by every doc — candidate
      // mass Σ df² grows with corpus² on identical vocab); real corpora
      // get sparser as they grow, this one doesn't. A third of the docs
      // keeps the bench honest without changing any semantics.
      Dedup.sparseCosinePairs(tfidfBigramVecs(s, dir),
          thresholdThousandths = 300)
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q301_ohlc_bars" -> ((s, dir) =>
      // canonical value-stream downsampling: hourly open/high/low/close
      // per event type — open/close via min_by/max_by over the
      // (ts, event_id) total order, ONE partial-agg pass, constant state
      // per group (never a window over the events)
      EventStreams.ohlcBars(t(s, dir, "events"), col("event_type"),
          col("ts"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
        .selectCols(Seq(col("key"), unix_micros(col("bucket")).as("bucket_us"),
          col("n"), col("open"), col("close"), col("high"), col("low"),
          col("sum_v")))
        .sortBy(Seq(col("key"), col("bucket_us")))),

    "q302_sliding_dau" -> ((s, dir) =>
      // rolling 24 h distinct users at hourly steps: each event fans out
      // to the 24 hour-aligned window starts covering it (horizon-bounded
      // explode — never a per-window rescan), one distinct aggregate;
      // the exact sliding metric, HLL-by-start being the sketch sibling
      EventStreams.slidingDistinct(t(s, dir, "events"), col("user_id"),
          col("ts"), windowHours = 24)
        .sortBy(Seq(col("win_start_us")))),

    "q303_churn_hazard" -> ((s, dir) =>
      // life table without the unreplayable cumulative product: per
      // lifetime day, users still observed (at_risk), uncensored users
      // ending exactly there (churned), hazard in floor ppm; last-week
      // actives are censored — at risk, never churned
      EventStreams.churnHazard(t(s, dir, "events"), col("user_id"),
          col("ts"), censorDays = 7)
        .sortBy(Seq(col("lifetime")))),

    "q297_forget_rewrite" -> ((s, dir) => {
      // deletion compliance over a plain parquet lake: land events in a
      // partitioned store, purge every 10th user by anti-join rewrite
      // into a NEW layout (the no-table-format delete; immutability rule
      // of compactPartitionedParquet), and hash-audit the survivors —
      // n_forgotten = 0 is the load-bearing witness column.
      val sf = new java.io.File(dir).getName
      val base = s"${scratchRoot}/$sf/forget"
      val ev = t(s, dir, "events").selectCols(Seq(col("event_id"),
        col("user_id"), col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("vmic")))
      Engine.writeParquetPartitioned(ev, s"$base/src", Seq("event_type"))
      val forget = ev.filterCol(pmod(col("user_id"), lit(10L)) === 0L)
        .selectCols(Seq(col("user_id")))
      Engine.forgetRewrite(s, s"$base/src", s"$base/dst", "user_id",
          forget, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(pmod(col("user_id"), lit(10L)) === 0L, 1L).otherwise(0L))
            .as("n_forgotten"),
          sum(col("vmic")).as("sum_vmic"))
        .sortBy(Seq(col("event_type")))
    }),

    "q298_bootstrap_ci" -> ((s, dir) =>
      // sampling spread of the revenue total without RNG: 32 deterministic
      // Poisson-bootstrap replicates of sum(value) over events — pinned
      // Poisson(1) CDF cuts on the xor-mix hash, every replicate
      // bit-replayable. The spread around total_sum is the error bar a
      // point estimate can't give.
      Relational.bootstrapSums(t(s, dir, "events"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"),
          replicates = 32)
        .sortBy(Seq(col("rep")))),

    "q299_span_dedup_by_source" -> ((s, dir) => {
      // which sources carry boilerplate: q107's corpus-duplicated 64-char
      // windows rolled up per source — docs flagged, windows flagged,
      // flagged-doc share ppm; zero-flag sources kept (a LEFT join, the
      // honest denominator). The observability read before tuning any
      // span-cut threshold.
      val docs = t(s, dir, "documents")
      val spans = Corpus.repeatedSpans(docs, col("doc_id"), col("text"),
        winLen = 64, step = 16, minDocs = 2L)
      val flagged = spans
        .join(docs.selectCols(Seq(col("doc_id").as("id"), col("source"))), Seq("id"))
        .groupBy(col("source"))
        .agg(countDistinct(col("id")).as("n_docs_flagged"),
          count(lit(1)).as("n_windows_flagged"))
      docs.groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .join(flagged, Seq("source"), "left")
        .selectCols(Seq(col("source"), col("n_docs"),
          coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"),
          coalesce(col("n_windows_flagged"), lit(0L)).as("n_windows_flagged")))
        .withColumn("flagged_share_ppm",
          expr("(n_docs_flagged * 1000000L) DIV n_docs"))
        .sortBy(Seq(col("source")))
    }),

    "q300_two_hop_features" -> ((s, dir) => {
      // message passing STACKED: round 2 aggregates round 1's neighbor
      // sums — the 2-hop receptive field a GNN builds, as two plain
      // joins; proves neighborAgg's feed-the-output-back contract as a
      // driver fact, not a Scaladoc claim.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      val feats = t(s, dir, "part").selectCols(Seq(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")))
      val round1 = graft.operators.Graph.neighborAgg(e, feats)
        .selectCols(Seq(col("id"), col("f_sum")))
      graft.operators.Graph.neighborAgg(e, round1)
        .sortBy(Seq(col("id")))
    }),

    "q295_neighbor_agg" -> ((s, dir) => {
      // one round of graph message passing: each part in the q199
      // co-purchase graph aggregates its NEIGHBORS' retail price (cents)
      // — count/sum/min/max + exact floor-ppk mean, the feature a
      // graph-aware quality or recommendation model consumes. One
      // orientation union, one feature equi-join, one partial-agg groupBy.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      val feats = t(s, dir, "part").selectCols(Seq(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")))
      graft.operators.Graph.neighborAgg(e, feats)
        .sortBy(Seq(col("id")))
    }),

    "q296_markov_backtest" -> ((s, dir) => {
      // the zero-parameter sequence baseline: argmax next-event-type per
      // current type learned on EVEN users, scored on ODD users' actual
      // consecutive pairs — per-state accuracy in floor ppm; q288's
      // seasonal-naive idea for categorical sequences (and the number a
      // session model must beat).
      val ev = t(s, dir, "events")
      EventStreams.markovBacktest(
          ev.filterCol(pmod(col("user_id"), lit(2L)) === 0L),
          ev.filterCol(pmod(col("user_id"), lit(2L)) === 1L),
          col("user_id"), Seq(col("ts"), col("event_id")), col("event_type"))
        .sortBy(Seq(col("from_state")))
    }),

    "q294_textrank_keywords" -> ((s, dir) => {
      // TextRank keyword extraction (Mihalcea-Tarau): corpus-level word
      // graph from q235's skip-gram co-occurrence (window 3, minCount 5
      // prunes noise edges), then 3 integer-exact PageRank rounds — the
      // centrality ranking IS the keyword list, no supervision. Pure
      // composition of two spec-covered operators; the oracle unrolls
      // q235's pair SQL into q100's round SQL with string node ids.
      val cooc = Corpus.skipgramCounts(t(s, dir, "documents"), col("doc_id"),
        TextFns.tokens(col("text")), window = 3, minCount = 5L)
      val edges = cooc
        .selectCols(Seq(col("w_a").as("src"), col("w_b").as("dst")))
        .union(cooc.selectCols(Seq(col("w_b").as("src"), col("w_a").as("dst"))))
      graft.operators.Graph.pagerank(edges, rounds = 3)
        .selectCols(Seq(col("id").as("word"), col("rank")))
        .sortExprs(Seq(col("rank").desc, col("word").asc))
    }),

    "q293_video_frameset_neardup" -> ((s, dir) => {
      // VIDEO near-dup by shared frame content: synth animated GIFs
      // (content groups of 3 sharing a seed, frame COUNTS differing inside
      // a group — shorter cuts of the same clip), REAL-demux every frame,
      // fingerprint each clip as its distinct (frame_idx, pixel_sum) set,
      // and join clips on shared frames (the q34 inverted-index shape over
      // narrow keys — pairs sharing no frame never materialize). The
      // index RIDES IN THE KEY on purpose: the synthesis formula is
      // mod-256 affine, so bare pixel sums take only 256 values and
      // collide across unrelated clips (measured: 1875 pairs vs the 499
      // planted); time-aligned (idx, sum) keys make the witness honest.
      // Set Jaccard >= 0.6 keeps the planted prefix cuts; GIF is lossless
      // so the oracle replays every frame sum from the synthesis formula.
      val clips = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), expr("doc_id DIV 3").as("seed"),
          (lit(6) + pmod(col("doc_id"), lit(4L)).cast("int")).as("nf"))))
        .withColumn("gif", Multimodal.synthAnimGifUdf(
          col("seed"), lit(16), lit(12), col("nf")))
      // persisted: the frame-set fingerprint is consumed THREE times (sizes
      // + both join sides); without it every consumer re-synthesizes and
      // re-demuxes all 500 GIFs (the q304 column-pruning reuse defeat)
      val frames = clips
        .selectCols(Seq(col("doc_id").as("id"),
          explode(Multimodal.sampleFrameInfos(1)(col("gif"))).as("fr")))
        .selectCols(Seq(col("id"), col("fr._1").as("fidx"), col("fr._4").as("fsum")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = frames.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      frames.alias("a")
        .join(frames.alias("b"),
          col("a.fidx") === col("b.fidx") && col("a.fsum") === col("b.fsum") &&
            col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes.selectCols(Seq(col("id").as("id_a"), col("sz").as("sz_a"))), Seq("id_a"))
        .join(sizes.selectCols(Seq(col("id").as("id_b"), col("sz").as("sz_b"))), Seq("id_b"))
        .withColumn("jaccard_ppm",
          expr("(shared * 1000000L) DIV (sz_a + sz_b - shared)"))
        .filterCol(col("jaccard_ppm") >= 600000L)
        .selectCols(Seq(col("id_a"), col("id_b"), col("shared"),
          col("sz_a"), col("sz_b"), col("jaccard_ppm")))
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q292_audio_fingerprint_neardup" -> ((s, dir) => {
      // perceptual AUDIO near-dup — the q190 story for sound: synth a
      // noise-like PCM WAV per doc (content groups of 3, lengths
      // varying INSIDE a group), REAL-decode into the 65-window
      // energy-delta sign print, and find all Hamming<=3 pairs with the
      // exact pigeonhole join. Same content + different byte length =>
      // identical print — the perceptual-match-across-binaries claim,
      // pinned because PCM is lossless and the print is integer
      // arithmetic the oracle replays from the synth formula.
      val wavs = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), expr("doc_id DIV 3").as("seed"),
          (lit(2080) + pmod(col("doc_id"), lit(5L)).cast("int") * lit(32))
            .cast("int").as("n"))))
        .withColumn("wav", Multimodal.synthNoisePcmWavUdf(col("seed"), col("n")))
        .withColumn("sig", Multimodal.audioFingerprint64(32)(col("wav")))
      Dedup.hamming64Pairs(wavs, col("doc_id"), col("sig"), maxHamming = 3)
        .selectCols(Seq(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming")))
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q291_encoding_advisor" -> ((s, dir) =>
      // per-column RLE/dictionary compressibility, measured: exact run
      // counts under the write order (event_id) vs the one-run-per-value
      // best case a sort-by-that-column rewrite reaches — the encoding
      // decision parquet writers make implicitly, priced per column.
      // zoneMapSkipReport (q223) prices scan skipping; this prices
      // encoding. Neighbor pairing via the two-level rank, never a global
      // single-partition window.
      Relational.encodingAdvisor(t(s, dir, "events"), col("event_id"),
          Seq("event_type", "user_id", "value"))
        .sortBy(Seq(col("col_name")))),

    "q289_fairness_report" -> ((s, dir) =>
      // group-fairness audit of a length gate (n_chars >= 500) across
      // sources, with lang='en' as the "relevant" label: selection rate +
      // demographic-parity gap, TPR + equal-opportunity gap, all integer
      // ppm vs the global rates — the corpus-composition decision a gate
      // silently makes, surfaced per segment. One groupBy scan; globals
      // reduced from the cells, never a second pass.
      Validation.fairnessReport(t(s, dir, "documents"), col("source"),
          col("n_chars") >= 500L, col("lang") === "en")
        .sortBy(Seq(col("grp")))),

    "q290_weighted_median" -> ((s, dir) =>
      // token-weighted percentiles, exact: the quantity-weighted median
      // unit price per return flag — lower weighted quantile by integer
      // contract (no interpolation), duplicates collapsed per (group,
      // value) BEFORE ordering so row layout can't matter. Weight = qty
      // turns a per-line median into a per-unit one.
      t(s, dir, "lineitem")
        .weightedPercentile(Seq(col("l_returnflag")),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"),
          col("l_quantity"), pPpm = 500000L)
        .withColumnRenamed("g0", "l_returnflag")
        .sortBy(Seq(col("l_returnflag")))),

    "q286_cusum_changepoints" -> ((s, dir) =>
      // structural level-shift detection per event type: scaled cumulative
      // deviation dev_r = C_r·T − r·N over hourly counts (division-free
      // CUSUM, exact longs), peak |dev| = the single-changepoint estimate.
      // q127's z-scores flag outlier HOURS; this finds the rate SHIFT.
      EventStreams.cusumChangepoints(t(s, dir, "events"),
          col("event_type"), col("ts"))
        .selectCols(Seq(col("key"), unix_micros(col("bucket")).as("bucket_us"),
          col("n"), col("r"), col("cum"), col("t_buckets"), col("n_total"),
          col("dev"), col("is_peak")))
        .sortBy(Seq(col("key"), col("r")))),

    "q287_dow_profile" -> ((s, dir) =>
      // calendar seasonality read per event type: weekday share in ppm,
      // deviation vs the uniform 1/7, peak weekday (tie to smaller dow) —
      // what a seasonal adjustment consults before trusting any
      // day-over-day comparison. dow: 1 = Sunday … 7 = Saturday.
      EventStreams.dowProfile(t(s, dir, "events"), col("event_type"),
          col("ts"))
        .sortBy(Seq(col("key"), col("dow")))),

    "q288_seasonal_naive_backtest" -> ((s, dir) =>
      // the zero-parameter forecast baseline: predict each day's value
      // total as the same type's total 7 days earlier, score days where
      // both sides exist — exact integer micro sums, MAE/bias as floor
      // divisions. The number a real forecaster must beat.
      EventStreams.seasonalNaiveBacktest(t(s, dir, "events"),
          col("event_type"), col("ts"), col("value"), seasonDays = 7)
        .sortBy(Seq(col("key")))),

    "q284_degree_stats" -> ((s, dir) => {
      // first diagnostic read on a derived graph: the q199/q220 co-purchase
      // part graph's degree histogram — a fat degree-1 tail means mostly
      // noise edges, a heavy head means hub parts that will dominate wedge
      // joins (q231's maxWedgeDegree decision input). One endpoint union +
      // two partial-agg groupBys + a 1-row totals broadcast.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      graft.operators.Graph.degreeStats(e)
        .sortBy(Seq(col("degree")))
    }),

    "q285_assortativity" -> ((s, dir) => {
      // do hub parts co-purchase with other hubs? Newman's degree
      // assortativity over the same graph — EXACTLY RATIONAL on an
      // undirected graph (symmetry collapses Pearson's sqrt), so the ppm
      // replays bit-for-bit; negative = hub-and-spoke (the typical
      // purchase-graph shape). One degree groupBy + two lookup joins +
      // a 1-row reduction.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      graft.operators.Graph.degreeAssortativity(e)
        .selectCols(Seq(col("m"), col("sx"), col("sxy"), col("sxx"),
          col("num").cast("long").as("num"), col("den").cast("long").as("den"),
          col("r_ppm")))
    }),

    "q283_chained_stateful" -> ((s, dir) => {
      // CHAINED stateful operators in one streaming query: the source
      // arrives in duplicate (two unioned file streams), dropDuplicates
      // absorbs the copies, and the tumbling 1-day window aggregation
      // counts the survivors — dedup state and window state live in the
      // same query, the shape Spark only allows with aligned event-time
      // semantics. Append emits a day once the watermark passes its end;
      // the oracle replays the finalized-window set exactly.
      EventStreams.runChainedStatefulSmoke(s, s"$dir/events.parquet",
          Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00"), "1 hour")
        .sortBy(Seq(col("day_start_us")))
    }),

    "q282_skew_rebalance" -> ((s, dir) => {
      // AQE runtime skew handling — the AUTOMATIC counterpart of q47's
      // manual salting: two thirds of the rows share one synthetic key,
      // and the REBALANCE hint's shuffle lets AQE both SPLIT the hot
      // key's oversized partition into advisory-sized pieces and coalesce
      // the slivers ("coalesced and skewed" on the read, asserted
      // post-execution in ExplainAuditSpec). This is the write-path skew
      // answer at 100 TB: balanced output tasks from organically skewed
      // keys, no salting column, no code change. Advisory size is scaled
      // down so sf-sized shuffles exhibit what production defaults
      // reserve for multi-GB partitions; the relayout changes
      // partitioning, not the answer.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/skew_rebalance"
      val reb = skewRebalanced(s, dir)
      // the balanced WRITE is the demo: the skewed partition lands as
      // several advisory-sized files, the slivers coalesce
      reb.write.mode("overwrite").parquet(scratch)
      reb.sparkSession.read.parquet(scratch)
        .aggregate(Seq(pmod(col("k"), lit(7L)).as("bucket")), Seq(
          count(lit(1)).as("n"),
          countDistinct(col("k")).as("n_keys"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value")))
        .sortBy(Seq(col("bucket")))
    }),

    "q281_lateral_join" -> ((s, dir) =>
      // correlated LATERAL derived table: each nation's two highest-value
      // customers computed by a per-row subquery — the SQL morphology for
      // "top-N per key without a window over the whole table" (Catalyst
      // decorrelates it into the same ranked join) plus deterministic
      // acctbal/custkey tie-break.
      s.sql(s"""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM parquet.`$dir/nation.parquet` n,
        LATERAL (
          SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
          FROM parquet.`$dir/customer.parquet`
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t""")
        .sortBy(Seq(col("n_name"), col("c_custkey")))),

    "q280_union_by_name" -> ((s, dir) => {
      // schema-drift union — the ingestion reality where shards disagree
      // on columns: unionByName(allowMissingColumns) aligns by NAME and
      // null-fills the gaps (positional union would silently mis-bind);
      // the profile then aggregates with GROUP BY inferred from the
      // aggregation (the Dataset groupBy shape). Old shard: no props;
      // new shard: no value.
      val ev = t(s, dir, "events")
      val oldShard = ev.filterCol(pmod(col("event_id"), lit(2L)) === 0L)
        .selectCols(Seq(col("event_id"), col("event_type"), col("value")))
      val newShard = ev.filterCol(pmod(col("event_id"), lit(2L)) === 1L)
        .selectCols(Seq(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k")))
      oldShard.unionByName(newShard, allowMissingColumns = true)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          count(col("k")).as("n_with_k"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"),
          sum(col("k")).as("sum_k"))
        .sortBy(Seq(col("event_type")))
    }),

    "q279_stream_full_outer_join" -> ((s, dir) => {
      // q269's contract extended to FULL OUTER: unmatched views emit when
      // the watermark closes their join window (l_ts + 2h < W), unmatched
      // purchases when it passes them outright (r_ts < W — any matching
      // view would be wholly behind the watermark). Same pinned three-
      // batch drain; the oracle replays all three emission sets.
      EventStreams.runStreamLeftOuterJoinSmoke(s, s"$dir/events.parquet",
          "user_id", "view", "purchase", 7200L,
          Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00"), "1 hour",
          joinType = "full_outer")
        .selectCols(Seq(col("l_event_id"), col("l_user_id"),
          unix_micros(col("l_ts")).as("l_ts_us"),
          col("r_event_id"), col("r_user_id"),
          unix_micros(col("r_ts")).as("r_ts_us")))
        .sortBy(Seq(col("l_event_id"), col("r_event_id")))
    }),

    "q278_sql_scripting" -> ((s, dir) => {
      // SQL scripting (Spark 4 BEGIN…END): DECLARE/SET/WHILE driving an
      // iterative-doubling search — the smallest power-of-2 price cap
      // with fewer than 100 orders above it — entirely inside the SQL
      // surface; the script's last SELECT is the result. The oracle
      // replays the doubling rule as a generate-series argmin (the count
      // is monotone in the cap, so first-power-under-100 == loop exit).
      t(s, dir, "orders").createOrReplaceTempView("graft_q278_orders")
      s.sql("""BEGIN
           DECLARE c BIGINT DEFAULT 1024;
           WHILE (SELECT COUNT(*) FROM graft_q278_orders WHERE o_totalprice > c) >= 100 DO
             SET c = c * 2;
           END WHILE;
           SELECT c AS cap,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM graft_q278_orders WHERE o_totalprice > c) AS n_above;
         END""")
    }),

    "q277_sql_udf" -> ((s, dir) => {
      // SQL-DEFINED functions (Spark 4 CREATE FUNCTION … RETURN): a
      // scalar ppm ratio and a PARAMETERIZED TABLE FUNCTION — reusable
      // logic shipped as catalog objects with zero Scala on the user
      // side; the reference's define-udf tier expressed in pure SQL.
      t(s, dir, "events").createOrReplaceTempView("graft_q277_events")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_q277_share_ppm(
             x BIGINT, y BIGINT) RETURNS BIGINT
           RETURN CASE WHEN y = 0 THEN 0 ELSE x * 1000000 DIV y END""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_q277_by_type(tt STRING)
           RETURNS TABLE (user_id BIGINT, value DOUBLE)
           RETURN SELECT user_id, value FROM graft_q277_events
           WHERE event_type = tt""")
      s.sql("""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
          graft_q277_share_ppm(COUNT(*),
            (SELECT COUNT(*) FROM graft_q277_by_type('purchase'))) AS share_ppm
        FROM graft_q277_by_type('purchase')
        GROUP BY user_id ORDER BY user_id""")
    }),

    "q276_tws_timers" -> ((s, dir) => {
      // TWS EVENT-TIME TIMERS (q271 covers ValueState; this covers the
      // timer half): one open inactivity session per purchasing user,
      // timer re-armed at last-purchase + 6h, fired — emitting the closed
      // session — when a batch's watermark passes the horizon with no
      // newer rows to re-arm it. Three time-split batches pin watermark
      // progression; rows-processed-before-timers is pinned by the
      // StreamingSpec hand case, so the emission set is an exact
      // two-phase state machine the oracle replays.
      EventStreams.runTimerSessionsSmoke(s, s"$dir/events.parquet",
          "purchase", 21600L,
          Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00"), "1 hour")
        .sortBy(Seq(col("user_id")))
    }),

    "q275_map_groups" -> ((s, dir) =>
      // the TYPED Dataset API as a driver fact: groupByKey + mapGroups
      // with case-class encoders (the Scala applyInPandas) walking each
      // customer's order-day series imperatively — max inter-order gap
      // and active span. The oracle is the declarative LAG-window form:
      // same answer, two APIs, and the Scaladoc says when each is right.
      Relational.groupGapStats(
          t(s, dir, "orders"),
          col("o_custkey"),
          datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date")))
        .sortBy(Seq(col("key")))),

    "q274_restart_ingest" -> ((s, dir) => {
      // exactly-once ACROSS RESTARTS: half the events land, the
      // AvailableNow file-stream ingest drains them into the partitioned
      // store and STOPS; the other half lands, a NEW query restarts from
      // the SAME checkpoint and drains only the new files. The hash match
      // against the all-events batch aggregate proves checkpoint recovery
      // delivered every row exactly once — the property a 100 TB
      // incremental backfill stands on (q155 proves one drain; this
      // proves the restart).
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/restart"
      val landing = s"$scratch/landing"
      val ev = t(s, dir, "events")
        .selectCols(Seq(col("event_id"), col("user_id"), col("value"),
          col("event_type")))
      ev.filterCol(pmod(col("event_id"), lit(2L)) === 0L)
        .write.mode("overwrite").parquet(landing)
      EventStreams.runPartitionedIngest(s, landing, s"$scratch/data",
        s"$scratch/ckpt", Seq("event_type"),
        Seq("event_id", "user_id", "value", "event_type"), fresh = true)
      ev.filterCol(pmod(col("event_id"), lit(2L)) === 1L)
        .write.mode("append").parquet(landing)
      EventStreams.runPartitionedIngest(s, landing, s"$scratch/data",
        s"$scratch/ckpt", Seq("event_type"),
        Seq("event_id", "user_id", "value", "event_type"), fresh = false)
      s.read.parquet(s"$scratch/data")
        .aggregate(Seq(col("event_type")), Seq(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value")))
        .sortBy(Seq(col("event_type")))
    }),

    "q273_pipe_syntax" -> ((s, dir) =>
      // Spark 4 SQL pipe syntax (|>): the dataflow-ordered dialect —
      // FROM … |> WHERE … |> AGGREGATE — planning to the identical
      // Catalyst tree as the classic form; the oracle is that classic
      // form. Surface parity for users arriving from pipe-first engines.
      s.sql(s"""
        FROM parquet.`$dir/lineitem.parquet`
        |> WHERE l_quantity >= 30
        |> AGGREGATE COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_items, revenue""")
        .sortBy(Seq(col("l_returnflag"), col("l_linestatus")))),

    "q272_listagg" -> ((s, dir) =>
      // ordered string aggregation (LISTAGG … WITHIN GROUP — the ANSI
      // form warehouses standardized on): per event_type, the ordered id
      // list of its sampled events. The explicit WITHIN GROUP order is
      // what makes a concatenated string hash-checkable at all.
      t(s, dir, "events")
        .filterCol(pmod(col("event_id"), lit(500L)) === 0L)
        .aggregate(Seq(col("event_type")), Seq(
          count(lit(1)).as("n"),
          expr("listagg(CAST(event_id AS STRING), ',') WITHIN GROUP (ORDER BY event_id)")
            .as("ids")))
        .sortBy(Seq(col("event_type")))),

    "q271_transform_with_state" -> ((s, dir) => {
      // Spark 4 transformWithState — the arbitrary-stateful API running a
      // per-user online profile (count, exact micros sum, batches seen)
      // in a ValueState over the RocksDB store, drained across THREE
      // micro-batches (event_id % 3 split, so active users span batches).
      // Commutative accumulators make the final per-key emission equal
      // the batch groupBy exactly; batches_seen (= distinct event_id % 3
      // per user) proves the state survived batch boundaries.
      EventStreams.runTransformWithStateSmoke(s, s"$dir/events.parquet")
        .sortBy(Seq(col("user_id")))
    }),

    "q270_recursive_cte" -> ((s, dir) =>
      // Spark 4 recursive CTEs (WITH RECURSIVE … UNION ALL): the ancestor
      // closure of the halving hierarchy node → node DIV 2 — each node
      // has ONE parent, so the recursion is acyclic with unique paths and
      // terminates in ⌈log2 n⌉ rounds; the iterative-plan morphology
      // (UnionLoop) the engine previously only reached through
      // hand-unrolled joins, now driven from the SQL surface.
      s.sql(s"""
        WITH RECURSIVE anc(node, anc, depth) AS (
          SELECT p_partkey AS node, p_partkey DIV 2L AS anc, 1L AS depth
          FROM parquet.`$dir/part.parquet` WHERE p_partkey BETWEEN 2 AND 2000
          UNION ALL
          SELECT a.node, a.anc DIV 2L, a.depth + 1L
          FROM anc a WHERE a.anc >= 2
        )
        SELECT node, anc, depth FROM anc""")
        .sortBy(Seq(col("node"), col("depth")))),

    "q269_stream_left_outer_join" -> ((s, dir) => {
      // TRUE left-outer stream-stream join: inner matches emit with the
      // data; unmatched views emit null-extended only when the advancing
      // watermark EVICTS them — the harness pins watermark progression
      // (three time-split files, one per micro-batch, watermark before
      // the type filter) so the emission set is an exact contract the
      // oracle replays: matches ∪ unmatched with window-end < final-batch
      // watermark. The outer-join semantics Structured Streaming is
      // genuinely hard about, made hash-checkable.
      EventStreams.runStreamLeftOuterJoinSmoke(s, s"$dir/events.parquet",
          "user_id", "view", "purchase", 7200L,
          Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00"), "1 hour")
        .selectCols(Seq(col("l_event_id"), col("l_user_id"),
          unix_micros(col("l_ts")).as("l_ts_us"),
          col("r_event_id"), unix_micros(col("r_ts")).as("r_ts_us")))
        .sortBy(Seq(col("l_event_id"), col("r_event_id")))
    }),

    "q268_collation" -> ((s, dir) =>
      // Spark 4 collations: UTF8_LCASE makes case-insensitivity a COLUMN
      // TYPE property the whole engine honors (groupBy/join/distinct),
      // not a lower() call sprinkled per query — the i18n-correct dedup
      // key for web-scale text where 'EN', 'En', 'en' are one value.
      // Planted mixed case (odd doc_ids upper their source), then the
      // sensitive vs collated distinct counts side by side.
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 1, upper(col("source")))
            .otherwise(col("source")).as("src_mixed")))
        .aggregate(Seq.empty, Seq(
          count(lit(1)).as("n_rows"),
          countDistinct(col("src_mixed")).as("n_distinct_cs"),
          countDistinct(expr("collate(src_mixed, 'UTF8_LCASE')"))
            .as("n_distinct_ci")))),

    "q267_nullsafe_join" -> ((s, dir) => {
      // null-safe equality join (<=>): NULL keys match each other instead
      // of vanishing — the semantic a sessionless-events enrichment needs
      // when "no user" is itself a group. Every 10th user id is nulled,
      // per-key counts computed INCLUDING the NULL group, then joined
      // back null-safely; a plain equi-join would drop the NULL rows
      // (the bug this query exists to contrast).
      val e = t(s, dir, "events")
        .selectCols(Seq(col("event_id"),
          when(pmod(col("user_id"), lit(10L)) === 0L, lit(null))
            .otherwise(col("user_id")).cast("long").as("uid_n")))
      val cnt = e.groupBy(col("uid_n")).agg(count(lit(1)).as("n_for_uid"))
      e.alias("ev").join(cnt.alias("ct"),
          col("ev.uid_n") <=> col("ct.uid_n"))
        .selectCols(Seq(col("ev.event_id").as("event_id"),
          col("ev.uid_n").as("uid_n"), col("ct.n_for_uid").as("n_for_uid")))
        .sortBy(Seq(col("event_id")))
    }),

    "q266_xml_roundtrip" -> ((s, dir) => {
      // the fifth lake format: documents written through the built-in XML
      // source (Spark 4 folded spark-xml into core) and read back
      // losslessly — ids, categoricals, numerics; free text stays with
      // q153's ORC/JSON roundtrip, since XML readers legitimately trim
      // surrounding whitespace. Hash match vs the parquet original proves
      // a lake standardized on XML interchange gets identical semantics.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf"
      val docs = t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), col("lang"), col("source"), col("n_chars")))
      Engine.writeXml(docs, s"$scratch/docs_xml", "doc")
      Engine.readXml(s, s"$scratch/docs_xml", "doc")
        .selectCols(Seq(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("source"), col("n_chars").cast("long").as("n_chars")))
        .sortBy(Seq(col("doc_id")))
    }),

    "q265_variant_json" -> ((s, dir) =>
      // Spark 4 VARIANT for semi-structured columns: parse_json lands the
      // payload in the binary variant encoding ONCE at the scan (shredded
      // typed access thereafter — the scale answer to per-query string
      // re-parsing that q62's get_json_object does), variant_get extracts
      // with a type. Same answer as the string path, different storage
      // posture; the oracle is plain json_extract.
      t(s, dir, "events")
        .selectCols(Seq(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k")))
        .aggregate(Seq(col("event_type")), Seq(
          count(lit(1)).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max")))
        .sortBy(Seq(col("event_type")))),

    "q264_unpivot" -> ((s, dir) =>
      // wide→long relayout (UNPIVOT/melt — the inverse of q73's pivot):
      // three measure columns fold into (metric, val) rows via one Expand
      // (no union of three scans), then a per-metric decimal-exact profile
      t(s, dir, "lineitem")
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount")))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "metric", "val")
        .aggregate(Seq(col("metric")), Seq(
          count(lit(1)).as("n"),
          sum(col("val").cast(DecimalType(18, 2))).cast("double").as("total")))
        .sortBy(Seq(col("metric")))),

    "q263_bitmap_distinct" -> ((s, dir) =>
      // EXACT distinct counting that merges across shards — the bitmap
      // aggregate family (Spark 3.5+): per (event_type, bucket, shard)
      // the member bit positions become a bitmap, shard bitmaps OR-merge
      // (associative — the re-aggregation HLL can't do exactly), and the
      // popcount sum is the exact distinct-user count. At 100 TB this is
      // the pre-aggregated distinct: shards build bitmaps independently,
      // only 4 KB bitmaps cross the wire, never user ids. The shard split
      // here (user_id % 4) simulates independent ingest shards; the
      // oracle is the plain COUNT(DISTINCT).
      t(s, dir, "events")
        .selectCols(Seq(col("event_type"), col("user_id")))
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bucket"),
          pmod(col("user_id"), lit(4L)).as("shard"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .sortBy(Seq(col("event_type")))),

    "q262_cbo_join_reorder" -> ((s, dir) => {
      // Cost-based optimization as a driver fact: catalog tables with
      // ANALYZE'd row counts + column NDVs (the statistics layer a 100 TB
      // warehouse runs on), then a star query planned under
      // spark.sql.cbo.enabled + joinReorder — Catalyst picks the join
      // order from measured cardinalities instead of the textual order
      // the query happens to be written in (scan stats asserted in
      // ExplainAuditSpec). Stats attach to catalog entries, so the tables
      // are saveAsTable'd (Engine.writeTable), not read from bare paths.
      // Conf is isolated in a newSession; stats change the plan, not the
      // answer — the oracle is the plain 3-way join.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf"
      Engine.writeTable(t(s, dir, "customer")
        .selectCols(Seq(col("c_custkey"), col("c_mktsegment"))),
        "graft_customer_cbo", Some(s"$scratch/customer_cbo"))
      Engine.writeTable(t(s, dir, "orders")
        .selectCols(Seq(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),
        "graft_orders_cbo", Some(s"$scratch/orders_cbo"))
      Engine.writeTable(t(s, dir, "lineitem")
        .selectCols(Seq(col("l_orderkey"), col("l_extendedprice"))),
        "graft_lineitem_cbo", Some(s"$scratch/lineitem_cbo"))
      Seq("graft_customer_cbo", "graft_orders_cbo", "graft_lineitem_cbo")
        .foreach(tn => s.sql(s"ANALYZE TABLE $tn COMPUTE STATISTICS FOR ALL COLUMNS"))
      val s2 = s.newSession()
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      // written biggest-first on purpose: the reorder has something to fix
      s2.table("graft_lineitem_cbo")
        .join(s2.table("graft_orders_cbo")
            .filterCol(col("o_totalprice") > 150000.0),
          col("l_orderkey") === col("o_orderkey"))
        .join(s2.table("graft_customer_cbo"),
          col("o_custkey") === col("c_custkey"))
        .aggregate(Seq(col("c_mktsegment")), Seq(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue")))
        .sortBy(Seq(col("c_mktsegment")))
    }),

    "q261_fd_audit" -> ((s, dir) =>
      // functional-dependency audit — does the denormalized column obey
      // its contract? Two rules, one report row each: documents'
      // source→lang (mostly clean) and orders' custkey→orderpriority
      // (emphatically not a dependency — the negative control);
      // n_violation_rows is the minimum fix-to-majority repair size.
      Validation.functionalDependency(
          t(s, dir, "documents"), "docs_source_determines_lang",
          col("source"), col("lang"))
        .union(Validation.functionalDependency(
          t(s, dir, "orders"), "orders_custkey_determines_priority",
          col("o_custkey"), col("o_orderpriority")))
        .sortBy(Seq(col("rule")))),

    "q260_bloom_join" -> ((s, dir) => {
      // Runtime bloom-filter join pruning — Spark's row-level semi-join
      // pushdown for the 100 TB fact⋈dim shape: the selective dim side
      // (p_size = 1, ~2% of part) builds a bloom filter during its own
      // scan, Catalyst injects it as a might_contain predicate on the
      // FACT scan, and rows that cannot match die before the shuffle
      // instead of after it. An isolated newSession turns the feature on
      // (and disables broadcast so the shuffle join it targets exists)
      // without leaking config into sibling queries — the returned frame
      // carries its session, so the driver's later action still plans
      // under it. Layout/filter changes the plan, not the answer: the
      // oracle is the plain join+agg.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = Engine.table(s2, dir, "lineitem")
      val p = Engine.table(s2, dir, "part")
        .filterCol(col("p_size") === 1)
      l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .sortBy(Seq(col("p_brand")))
    }),

    "q259_rand_index" -> ((s, dir) =>
      // chance-corrected agreement between two labelings of the corpus —
      // here lang vs source, the "does provenance predict language?"
      // diagnostic; the same operator scores a dedup clustering against
      // ground truth. Pure pair counting: every component an exact
      // integer, ppm sign-split over non-negative DECIMAL(38,0) integral
      // division so floor-vs-truncate never diverges across engines.
      Validation.adjustedRandIndex(
        t(s, dir, "documents"), col("lang"), col("source"))),

    "q258_ewma_revenue" -> ((s, dir) => {
      // exact geometric-decay smoothed daily revenue (EWMA ×256): absent
      // dates decay the average (calendar semantics, not previous-rows),
      // every term an integer-weighted DECIMAL product — the alerting
      // baseline a metrics pipeline lays over daily totals. No global
      // window: contribution fan-out + date-keyed groupBy, calendar-
      // bounded shuffles.
      val daily = t(s, dir, "orders")
        .selectCols(Seq(to_date(col("o_orderdate")).as("d"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("p")))
        .groupBy(col("d"))
        .agg(sum(col("p")).cast(DecimalType(28, 2)).as("v"))
      // decimal internally, DOUBLE at the output boundary (the dsum
      // pattern): both engines cast the same exact decimal, and the
      // magnitudes (≤ daily revenue × 256, cents-scaled) sit far inside
      // the 2^53 exact-integer range
      Relational.geometricDateSmoothing(daily, col("d"), col("v"), 8)
        .selectCols(Seq(col("d"), col("v").cast("double").as("v"),
          col("smoothed_scaled").cast("double").as("smoothed_x256"),
          col("n_terms")))
        .sortBy(Seq(col("d")))
    }),

    "q257_wht_bands" -> ((s, dir) => {
      // integer-exact "spectral" profile over REAL decoded PCM: q146's
      // synth WAV cut into 8-sample frames, each frame's 8 Walsh–Hadamard
      // coefficients (±1 matrix — every c_k an exact integer, unlike a
      // float FFT) abs-summed per band. Band 0 is DC, band 7 the fastest
      // alternation: the energy-by-frequency witness an audio-quality
      // filter thresholds on (hiss = high bands, hum = low), and the
      // oracle replays it with bit_count arithmetic because PCM is
      // lossless.
      val withWav = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(64) + pmod(col("doc_id"), lit(41))).cast("int").as("n"))))
        .withColumn("wav", Multimodal.synthPcmWavUdf(col("doc_id"), col("n")))
      withWav
        .selectCols(Seq(col("doc_id").as("id"),
          explode(Multimodal.whtBands(col("wav"))).as("b")))
        .selectCols(Seq(col("id"), col("b._1").cast("long").as("band"),
          col("b._2").as("c_abs_sum")))
        .sortByStaged(Seq(col("id"), col("band")))
    }),

    "q256_video_motion" -> ((s, dir) => {
      // REAL scene-change detection: q149's animated clips demuxed with
      // EVERY frame decoded, SAD = Σ|p_next − p_prev| per consecutive
      // pair, and a cut flag from one integer compare (mean per-pixel
      // diff ≥ 30 ⟺ sad·100 ≥ 30·w·h). The synth pattern shifts +17 mod
      // 256 each frame, so per-pixel diffs are 17 or 239 (wraparound) —
      // the oracle replays both branches exactly because GIF LZW is
      // lossless on the indexed raster.
      val withGif = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(6) + pmod(col("doc_id"), lit(5))).cast("int").as("w"),
          (lit(6) + pmod(col("doc_id"), lit(4))).cast("int").as("h"),
          (lit(3) + pmod(col("doc_id"), lit(4))).cast("int").as("nf"))))
        .withColumn("gif",
          Multimodal.synthAnimGifUdf(col("doc_id"), col("w"), col("h"), col("nf")))
      withGif
        .withColumn("m", explode(Multimodal.frameMotion(col("gif"))))
        .selectCols(Seq(
          col("doc_id").as("id"),
          col("m._1").cast("long").as("to_frame"),
          col("m._2").as("sad"),
          (col("m._2") * lit(100L) >= lit(30L) * col("w") * col("h")).as("cut")))
        .sortByStaged(Seq(col("id"), col("to_frame")))
    }),

    "q255_drift_stream" -> ((s, dir) => {
      // q195's mix-shift monitor running MID-INGEST: the odd-user split's
      // event_type counts as a complete-mode streaming aggregation,
      // drained through the identical batch drift decoration against the
      // even-user reference — stream == batch, and the oracle replays the
      // batch shape
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runDriftStreamSmoke(s, staged,
          "event_type", "user_id % 2 = 0", "user_id % 2 = 1")
        .sortBy(Seq(col("category")))
    }),

    "q254_power_iteration" -> ((s, dir) =>
      // the corpus's dominant principal direction (uncentered PCA axis) —
      // the anisotropy axis retrieval pipelines remove — by two power
      // iteration rounds whose every number is exactly replayable: IEEE
      // dot folds, floor()-quantized terms, DECIMAL sums, sign-split
      // integer normalization. The corpus never shuffles; each round
      // collects 64 driver rows.
      Similarity.powerIteration(
          t(s, dir, "embeddings").selectCols(Seq(
            col("vec_id").as("id"), col("embedding").as("v"))),
          dim = 64, rounds = 2)
        .sortBy(Seq(col("dim")))),

    "q253_conversion_lag" -> ((s, dir) =>
      // how long does signup -> purchase take? First strictly-after
      // purchase per signed-up user (the funnel rule), lag decomposed
      // into exact deciles — ten (bin, n, lo, hi) rows instead of one
      // opaque mean; non-converters absent by funnel semantics
      EventStreams.conversionLagDeciles(
          t(s, dir, "events"), col("user_id"), col("ts"),
          col("event_type") === "signup", col("event_type") === "purchase")
        .sortBy(Seq(col("bin")))),

    "q252_event_paths" -> ((s, dir) =>
      // what do users ACTUALLY do: every consecutive event_type trigram
      // per user under (ts, event_id), counted — the n-gram view of
      // behavior a hypothesized funnel can't surface; one per-user window
      // pass, minCount prunes the tail
      EventStreams.eventPaths(
          t(s, dir, "events"), col("user_id"),
          Seq(col("ts"), col("event_id")), col("event_type"),
          depth = 3, minCount = 10L)
        .sortBy(Seq(col("path")))),

    "q251_html_strip" -> ((s, dir) => {
      // web-corpus text extraction as a driver fact: markup planted
      // deterministically (q83's pattern), tags to spaces, the five core
      // entities decoded with &amp; LAST — the cleaned STRING hash-matches,
      // so both engines strip byte-identically
      val planted = t(s, dir, "documents").selectCols(Seq(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<p class=\"x\">"), col("text"),
            lit("</p><br><a href=\"https://e.x/y?q=1\">link &amp; more &lt;b&gt;</a>")))
          .otherwise(col("text")).as("t")))
      planted.selectCols(Seq(col("doc_id"),
          TextFns.stripHtml(col("t")).as("clean_text"),
          (length(col("t")) - length(TextFns.stripHtml(col("t")))).cast("long")
            .as("removed_chars")))
        .sortBy(Seq(col("doc_id")))
    }),

    "q250_quantile_normalize" -> ((s, dir) => {
      // distribution matching: odd-user event values remapped onto the
      // even-user cohort's distribution by exact rank — the batch-effect
      // removal / recalibration transform; two two-level rank passes and
      // one equi-join on the mapped rank
      val ev = t(s, dir, "events").selectCols(Seq(col("user_id"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("vmicros")))
      Relational.quantileNormalize(
          ev.filterCol(col("user_id") % 2 === 0),
          ev.filterCol(col("user_id") % 2 === 1),
          col("event_id"), col("vmicros"))
        .sortBy(Seq(col("id")))
    }),

    "q249_hits" -> ((s, dir) => {
      // hubs vs authorities over the purchase bipartite graph — the two
      // roles q100's single PageRank score conflates: prolific customers
      // (hubs) vs widely-bought suppliers (authorities). Max-normalized
      // integer rounds (no sqrt), unrolled exactly by the oracle.
      val o = t(s, dir, "orders").selectCols(Seq(col("o_orderkey"), col("o_custkey")))
      val l = t(s, dir, "lineitem").selectCols(Seq(col("l_orderkey"), col("l_suppkey")))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .selectCols(Seq(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst")))
        .distinct()
      graft.operators.Graph.hits(edges, rounds = 2)
        .sortBy(Seq(col("kind"), col("id")))
    }),

    "q248_attribution" -> ((s, dir) =>
      // what action immediately precedes a purchase? Last-touch credit
      // within 24h per user — user-keyed join, per-conversion argmax, the
      // '(none)' bucket for unattributable conversions; deterministic
      // larger-id tie at equal timestamps
      EventStreams.lastTouchAttribution(
          t(s, dir, "events"), col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "purchase", col("event_type"),
          windowHours = 24)
        .sortBy(Seq(col("channel")))),

    "q247_autocorrelation" -> ((s, dir) =>
      // daily-cycle detector: lag-1 and lag-24 autocorrelation of hourly
      // event counts per type, from exact DECIMAL co-moments with q78's
      // IEEE tail — pairs exist only where both hours do (sparse
      // semantics)
      EventStreams.autocorrelation(
          t(s, dir, "events"), col("event_type"), col("ts"), Seq(1, 24))
        .sortBy(Seq(col("key"), col("lag")))),

    "q246_decision_stump" -> ((s, dir) =>
      // the strongest cheap baseline: one exact Gini-optimal threshold on
      // n_chars predicting lang='en', candidates = the exact decile edges,
      // majority-vote accuracy attached — a learned quality classifier
      // must beat this number to justify its cost
      Validation.decisionStump(t(s, dir, "documents"),
        col("n_chars"), col("lang") === "en")),

    "q245_gini_importance" -> ((s, dir) =>
      // which metadata column carries signal about language? Gini
      // impurity reduction per feature (source, and the n_chars/100
      // length bucket) — entropy's logs fail the no-log rule, Gini ranks
      // the same and stays integer
      Validation.giniFeatureImportance(t(s, dir, "documents"),
          col("lang"), Seq(
            "lenbucket" -> expr("n_chars DIV 100"),
            "source" -> col("source")))
        .sortBy(Seq(col("feature")))),

    "q244_audio_energy" -> ((s, dir) => {
      // windowed audio energy / silence map over REAL decoded PCM: q146's
      // synth WAV folded into 32-sample windows of exact integer
      // (abs_sum, energy = Σ s²) — the VAD/silence-trim primitive; the
      // silence flag is one integer compare (mean |s| < 16384 ⟺ abs_sum <
      // 16384·n). PCM is lossless, so every window replays from the synth
      // formula in the oracle.
      val withWav = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(64) + pmod(col("doc_id"), lit(41))).cast("int").as("n"))))
        .withColumn("wav", Multimodal.synthPcmWavUdf(col("doc_id"), col("n")))
      withWav
        .selectCols(Seq(col("doc_id").as("id"),
          explode(Multimodal.decodeAudioWindows(col("wav"), lit(32))).as("w")))
        .selectCols(Seq(col("id"), col("w._1").as("win"), col("w._2").as("n"),
          col("w._3").as("abs_sum"), col("w._4").as("energy"),
          (col("w._3") < lit(16384L) * col("w._2")).as("silence")))
        // staged sort: the range sampler otherwise re-runs the synth +
        // decode UDF pipeline (measured: 2x 1 s stages per execution)
        .sortByStaged(Seq(col("id"), col("win")))
    }),

    "q243_benford_stream" -> ((s, dir) => {
      // q234's fabricated-feed alarm running MID-INGEST: leading-digit
      // counts as a complete-mode streaming aggregation (9 longs of state),
      // drained through the identical batch decoration — the oracle is
      // q234's, row for row
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runBenfordStreamSmoke(s, staged,
          "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
        .sortBy(Seq(col("digit")))
    }),

    "q242_personalized_pagerank" -> ((s, dir) => {
      // trust radiating from seed customers (every 10th) over the q100
      // purchase graph: teleport mass lands ONLY on seeds, so rank is
      // proximity to the trusted set — zero means unreachable within 3
      // rounds of the seed flow. Same DIV-floor arithmetic as q100,
      // unrolled exactly by the oracle.
      val o = t(s, dir, "orders").selectCols(Seq(col("o_orderkey"), col("o_custkey")))
      val l = t(s, dir, "lineitem").selectCols(Seq(col("l_orderkey"), col("l_suppkey")))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .selectCols(Seq(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst")))
        .distinct()
      val seeds = edges.selectCols(Seq(col("src").as("id")))
        .filterCol(col("id") % 10 === 0).distinct()
      graft.operators.Graph.personalizedPagerank(edges, seeds, rounds = 3)
        .sortBy(Seq(col("id")))
    }),

    "q241_cluster_purity" -> ((s, dir) => {
      // do embedding clusters recover the ground-truth labels? q79's
      // deterministic first-8 centroids assign every vector; per-cluster
      // majority label + global purity ppm (NMI's logs fail the no-log
      // rule — purity is the integer-exact quick read)
      val e = t(s, dir, "embeddings")
      Similarity.clusterPurity(
          e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v"),
            col("label").cast("long").as("label"))),
          e.filterCol(col("vec_id") < 8)
            .selectCols(Seq(col("vec_id").as("cid"), col("embedding").as("cv"))))
        .sortBy(Seq(col("cid")))
    }),

    "q240_ab_test" -> ((s, dir) => {
      // did the even-user cohort convert (any purchase) differently? The
      // two-proportion z² fraction-cleared in DECIMAL — significance is
      // one integer compare against the pinned 3841459 ppm (z=1.96)
      // threshold, no sqrt anywhere
      val units = t(s, dir, "events")
        .aggregate(Seq(col("user_id")),
          Seq(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c")))
      Validation.abTestProportions(units,
        col("user_id") % 2 === 0, col("c") === 1L)
    }),

    "q239_calibration" -> ((s, dir) => {
      // is the stopword score honest as an English-probability proxy?
      // Fixed-decile reliability report: per-bin empirical P(lang=en) vs
      // mean score, ECE as the one-number answer — q228's AUC says the
      // score ranks; this says whether its VALUE can be thresholded as-is
      val toks = TextFns.tokens(col("text"))
      val en = TextFns.StopwordSets.head._2
      val scored = t(s, dir, "documents").selectCols(Seq(
        size(toks).cast("long").as("nt"),
        TextFns.stopwordHits(toks, en).cast("long").as("nh"),
        (col("lang") === "en").as("is_en")))
        .selectCols(Seq(
          expr("CASE WHEN nt = 0 THEN 0L ELSE (nh * 1000000L) DIV nt END").as("score"),
          col("is_en")))
      Validation.calibrationReport(scored, col("score"), col("is_en"))
        .sortBy(Seq(col("bin")))
    }),

    "q238_association_rules" -> ((s, dir) =>
      // market-basket rules over (user, day) baskets of event types:
      // "users who did X that day also did Y" with integer conf/lift ppm
      // — the q80 no-log rule keeps lift exact. Joint support >= 20
      // bounds the rule set; all arithmetic replays in SQL.
      EventStreams.associationRules(
          t(s, dir, "events"),
          Seq(col("user_id"), date_trunc("day", col("ts"))),
          col("event_type"), minSupport = 20L)
        .sortBy(Seq(col("antecedent"), col("consequent")))),

    "q237_source_overlap" -> ((s, dir) => {
      // split-contamination audit: every source vs a deterministic mirror
      // slice (every 7th doc re-labeled) — the operator joins 8-byte FNV
      // fingerprints, the oracle joins raw text; identical counts up to
      // 2^-64 collisions (q57 convention). Real sources share nothing on
      // this corpus, which is itself the finding the mirror makes visible.
      val d = t(s, dir, "documents")
      val mirrored = d.filterCol(col("doc_id") % 7 === 0)
        .selectCols(Seq(lit("mirror").as("source"), col("text")))
      Corpus.crossSourceOverlap(
          d.selectCols(Seq(col("source"), col("text"))).union(mirrored),
          col("source"), col("text"))
        .sortBy(Seq(col("src_a"), col("src_b")))
    }),

    "q236_pii_redact" -> ((s, dir) => {
      // privacy scrub as a driver fact: PII planted deterministically
      // (q83's same-construction-both-sides pattern), counted per family
      // on the raw text, redacted sequentially — the output IS the
      // redacted string, so the hash match proves both engines scrub
      // byte-identically under the shared Java-regex/RE2 pattern subset
      val planted = t(s, dir, "documents").selectCols(Seq(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id"),
            lit("@ex"), col("doc_id") % 7, lit(".org ip 10."),
            col("doc_id") % 256, lit(".0.1 acct 90000000"), col("doc_id")))
          .otherwise(col("text")).as("t")))
      Corpus.piiScan(planted, col("doc_id"), col("t"))
        .sortBy(Seq(col("id")))
    }),

    "q235_skipgram_cooc" -> ((s, dir) =>
      // word2vec/GloVe preprocessing: within-document skip-gram pairs at
      // distance <= 3 with 1/d floor-ppm weights; one (doc, position)
      // equi-join, partial-agg pair counts, minCount prunes the tail
      Corpus.skipgramCounts(
          t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), window = 3, minCount = 5L)
        .sortBy(Seq(col("w_a"), col("w_b")))),

    "q234_benford" -> ((s, dir) =>
      // first-digit audit of event values (micros): shares vs the pinned
      // Benford ppm constants, TVD as the drift number — synthetic
      // uniform-ish values SHOULD fail Benford, and the distance says by
      // how much
      Validation.benfordAudit(
          t(s, dir, "events").selectCols(Seq(
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("vmicros"))),
          col("vmicros"))
        .sortBy(Seq(col("digit")))),

    "q233_cohens_kappa" -> ((s, dir) =>
      // do two cheap quality gates agree beyond chance? rater A =
      // character length >= 200, rater B = whitespace token count >= 40 —
      // kappa in exact sign-split ppm; the gates are correlated by
      // construction, and kappa says how much
      Validation.cohensKappa(
          t(s, dir, "documents").selectCols(Seq(
            (col("n_chars") >= 200).as("ra"),
            (size(TextFns.tokens(col("text"))) >= 40).as("rb"))),
          col("ra"), col("rb"))),

    "q232_numeric_drift" -> ((s, dir) => {
      // numeric-column drift between two event cohorts: the even-user
      // split's exact deciles (rank rule, never approxQuantile) bin both
      // splits; TVD in ppm is the drift number. Edges are value-determined
      // (ties shift ids between bins, never the bin's max value), so the
      // report replays as integer SQL.
      val ev = t(s, dir, "events").selectCols(Seq(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("vmicros")))
      Validation.numericDrift(
          ev.filterCol(col("user_id") % 2 === 0),
          ev.filterCol(col("user_id") % 2 === 1),
          col("vmicros"), nBins = 10)
        .sortBy(Seq(col("bin")))
    }),

    "q231_link_prediction" -> ((s, dir) => {
      // "edges that should exist" over the q220 co-purchase graph:
      // common-neighbor count + neighborhood Jaccard for every non-edge
      // pair sharing a neighbor — the wedge join bounds candidates to
      // Σ deg², the anti join removes known edges, zero-overlap pairs
      // never materialize
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      graft.operators.Graph.linkPrediction(e)
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q230_kcenter" -> ((s, dir) =>
      // diversity selection: greedy farthest-first over the embedding
      // corpus — 8 exemplars maximally spread in L2, the coverage-radius
      // sequence attached. One new-center broadcast + one narrow min-dist
      // update + one argmax per round; the k×n score table never exists.
      // Distances are q79's IEEE-sequence doubles, so the oracle unrolls
      // every round exactly.
      Similarity.kCenterSelect(
          t(s, dir, "embeddings").selectCols(Seq(
            col("vec_id").as("id"), col("embedding").as("v"))), k = 8)
        .selectCols(Seq(col("rank"), col("id"),
          round(col("dist_sq"), 6).as("dist_sq")))
        .sortBy(Seq(col("rank")))),

    "q229_chi2_independence" -> ((s, dir) =>
      // is language independent of source? per-cell chi-square
      // contributions in exact integer ppm — margins from the cell table,
      // DECIMAL(38,0) clears overflow at any corpus size; the statistic is
      // the contrib_ppm sum at (R-1)(C-1) dof
      Validation.chiSquareIndependence(
          t(s, dir, "documents"), col("lang"), col("source"))
        .sortBy(Seq(col("a"), col("b")))),

    "q228_roc_auc" -> ((s, dir) =>
      // does document length separate English from the rest? Exact
      // Mann-Whitney AUC with half-credit ties, integer end to end — the
      // quality-signal evaluation a threshold sweep starts from. The
      // corpus collapses to the score histogram before any ranking work.
      Validation.rocAuc(t(s, dir, "documents"),
          col("n_chars"), col("lang") === "en")),

    "q227_markov_transitions" -> ((s, dir) =>
      // behavioral model over user event sequences: every adjacent
      // event_type pair per user under the (ts, event_id) total order,
      // row-normalized to floor-ppm probabilities — the lead() window is
      // per-user (never global), the normalizing window runs over the
      // |states|^2 aggregate, not the events
      EventStreams.transitionMatrix(
          t(s, dir, "events"),
          col("user_id"), Seq(col("ts"), col("event_id")), col("event_type"))
        .sortBy(Seq(col("from_state"), col("to_state")))),

    "q226_skyline" -> ((s, dir) =>
      // multi-objective shortlist: parts no other part beats on both
      // (cheaper-or-equal price, bigger-or-equal size, strict somewhere) —
      // the Pareto frontier computed by the two-level running-max pattern,
      // never the O(n^2) dominance join the oracle uses. Price in exact
      // cents via DECIMAL.
      Relational.skyline2D(
          t(s, dir, "part"),
          col("p_partkey"),
          expr("CAST(CAST(p_retailprice AS DECIMAL(18,6)) * 100 AS BIGINT)"),
          col("p_size"))
        .sortBy(Seq(col("id")))),

    "q225_concurrency" -> ((s, dir) =>
      // capacity-planning sweep: each event opens a session lasting its
      // value in seconds; every boundary carries the exact number of
      // concurrently-open sessions after it (max(active) = the peak a
      // capacity plan provisions for). No interval pair ever materializes;
      // the running sum is the two-level bucketed pattern, not a global
      // window. Half-open [s, e): a session ending exactly at another's
      // start never overlaps it.
      Relational.concurrencyProfile(
          t(s, dir, "events").selectCols(Seq(col("event_id"),
            expr("unix_micros(ts)").as("s_us"),
            expr("unix_micros(ts) + CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
              .as("e_us"))),
          col("event_id"), col("s_us"), col("e_us"))
        .sortBy(Seq(col("seq")))),

    "q224_table_fingerprint" -> ((s, dir) => {
      // replication audit as a driver fact: the same table fingerprinted
      // twice — once as stored, once re-shuffled into a different
      // partitioning — produces the SAME mod-2^64 FNV row-hash sum, so
      // two 100 TB copies compare by exchanging one row each. The oracle
      // replays the full checksum in HUGEINT arithmetic, proving the
      // fingerprint is engine-portable, not just layout-portable.
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      Validation.tableFingerprint(li, "lineitem", cols)
        .union(Validation.tableFingerprint(
          li.repartition(7, col("l_partkey")), "lineitem_shuffled", cols))
        .sortBy(Seq(col("tbl")))
    }),

    "q223_zone_map_skip" -> ((s, dir) =>
      // what would a sort-by-value rewrite buy this predicate? The
      // layout-advisor report over event values (micros-exact, q214's
      // rendering): arrival order leaves every file's zone straddling the
      // band; value order confines it — the scan_ppm gap IS the read
      // amplification a 100 TB rewrite would remove, measured for two
      // scans instead of a full shuffle.
      Relational.zoneMapSkipReport(
          t(s, dir, "events").selectCols(Seq(col("event_id"),
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("vmicros"))),
          col("event_id"), col("vmicros"), nFiles = 32,
          lo = 30000000L, hi = 40000000L)
        .sortBy(Seq(col("layout")))),

    "q222_ppjoin" -> ((s, dir) =>
      // EXACT Jaccard >= 0.9 over token sets via prefix filtering — the
      // no-false-negative sibling of the MinHash families (q33/q144): at
      // t=0.9 each doc indexes ~10% of its tokens, so the inverted-index
      // candidate join stays linear-ish while the result is the full
      // threshold join, boundary inclusive. Oracle is the brute-force
      // quadratic — feasible at sf0.01, which is exactly why the exact
      // operator needs the sub-quadratic candidate path at scale.
      Dedup.ppJoinPairs(
          t(s, dir, "documents").selectCols(Seq(col("doc_id"),
            array_distinct(TextFns.tokens(col("text"))).as("tk"))),
          col("doc_id"), col("tk"), tPpm = 900000L)
        .sortBy(Seq(col("id_a"), col("id_b")))),

    "q221_bfs_distance" -> ((s, dir) => {
      // graph-proximity feature from seed nodes: multi-source BFS over the
      // q199 co-purchase graph, 3 rounds of frontier relaxation — the
      // hops-from-trusted-seed signal a curation pipeline thresholds on.
      // Unreached nodes absent by contract (the reached set is the small
      // output at 100 TB; its complement is not).
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      val src = e.selectCols(Seq(col("id_a").as("id")))
        .union(e.selectCols(Seq(col("id_b").as("id")))).distinct()
        .filterCol(col("id") % 7 === 0)
      graft.operators.Graph.bfsDistances(e, src, rounds = 3)
        .sortBy(Seq(col("id")))
    }),

    "q220_label_propagation" -> ((s, dir) => {
      // community detection over the co-purchase graph: 3 synchronous
      // rounds with deterministic smallest-label ties — splits the graph
      // into locally-dense product families where components (q50/q199's
      // sibling question) would merge everything reachable into one blob
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      graft.operators.Graph.labelPropagation(e, rounds = 3)
        .sortBy(Seq(col("id")))
    }),

    "q219_schema_evolution" -> ((s, dir) => {
      // additive schema evolution as a driver fact: batch 1 written before
      // n_chars existed, batch 2 after; the merged read unions footers and
      // pads old files with NULL — the no-table-format evolution contract
      // every long-lived ingest keeps (batch rides along as a partition
      // column, so the provenance of each row is visible too)
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf"
      val docs = t(s, dir, "documents")
      Engine.writeParquet(docs.filterCol(col("doc_id") % 2 === 0)
        .selectCols(Seq(col("doc_id"), col("lang"))), s"$scratch/evo/batch=1")
      Engine.writeParquet(docs.filterCol(col("doc_id") % 2 === 1)
        .selectCols(Seq(col("doc_id"), col("lang"), col("n_chars"))),
        s"$scratch/evo/batch=2")
      Engine.readParquetMerged(s, s"$scratch/evo")
        .selectCols(Seq(col("doc_id"), col("lang"), col("n_chars"),
          col("batch").cast("long").as("batch")))
        .sortBy(Seq(col("doc_id")))
    }),

    "q218_join_card_estimate" -> ((s, dir) => {
      // join-size + skew forecast WITHOUT running the joins: the 1:N
      // orders-lineitem join (est_rows == lineitem's matched rows — safe)
      // next to the lineitem self-join on partkey (the quadratic-key
      // blowup a planner must refuse or salt). Histograms only — the
      // candidate output never materializes; this is the pre-flight check
      // a 100 TB pipeline runs before committing shuffle capacity.
      import graft.operators.Relational
      val li = t(s, dir, "lineitem")
      val cols = Seq(col("pair"), col("est_rows"), col("n_keys_left"),
        col("n_keys_right"), col("n_matched_keys"), col("max_key"),
        col("max_key_rows"), col("max_share_ppm"))
      val a = Relational.joinCardinalityEstimate(
          t(s, dir, "orders"), col("o_orderkey"), li, col("l_orderkey"))
        .withColumn("pair", lit("orders_lineitem")).selectCols(cols)
      val b = Relational.joinCardinalityEstimate(
          li, col("l_partkey"), li, col("l_partkey"))
        .withColumn("pair", lit("lineitem_self_partkey")).selectCols(cols)
      a.union(b).sortBy(Seq(col("pair")))
    }),

    "q217_t_closeness" -> ((s, dir) =>
      // the third release-gate leg after q202 (class size) and q210 (class
      // variety): does any source's lang DISTRIBUTION diverge more than
      // 10% TVD from the corpus-wide one (the skewness attack k-anonymity
      // and l-diversity both miss)? Genuinely mixed on this data — some
      // sources sit within the band, some outside.
      Validation.tCloseness(t(s, dir, "documents"), "docs_lang_by_source_t10",
          Seq(col("source")), col("lang"), tPpm = 100000L)
        .sortBy(Seq(col("rule")))),

    "q216_hilbert" -> ((s, dir) =>
      // Hilbert layout key over (partkey, suppkey) — q90's Morton key with
      // strictly tighter 2-D locality (every consecutive code is
      // grid-adjacent; RelationalSpec proves the property). Inputs masked
      // into the grid: Hilbert's flip arithmetic is grid-relative, so high
      // bits cannot be benignly ignored the way Morton's are.
      t(s, dir, "lineitem")
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          Relational.hilbertValue(col("l_partkey").bitwiseAND(lit(255L)),
            col("l_suppkey").bitwiseAND(lit(255L)), 8).as("h")))
        .sortBy(Seq(col("h"), col("l_orderkey"), col("l_linenumber")))),

    "q215_retrieval_eval" -> ((s, dir) => {
      // retrieval metrics with the ranking signal deliberately WEAKER than
      // the judgment (rank by 2-term containment, judge by all-3-term
      // containment): precision/recall@10 and MRR are then genuinely
      // informative, not 1.0 by construction. All integer ppm. The rank
      // window runs over the bounded top-50 frame only.
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents").selectCols(Seq(col("doc_id"),
        array_distinct(TextFns.tokens(col("text"))).as("tk")))
      val ranked = toks
        .selectCols(Seq(col("doc_id"),
          size(array_intersect(col("tk"), array(lit("spark"), lit("join"))))
            .cast("long").as("m2")))
        .orderBy(col("m2").desc, col("doc_id").asc).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("m2").desc, col("doc_id").asc)).cast("long"))
        .withColumn("qid", lit(1L))
        .selectCols(Seq(col("qid"), col("doc_id"), col("rank")))
      val qrels = toks
        .filterCol(size(array_intersect(col("tk"),
          array(lit("spark"), lit("join"), lit("window")))) === 3)
        .selectCols(Seq(lit(1L).as("qid"), col("doc_id")))
      Retrieval.evalRetrieval(ranked, qrels, k = 10)
        .sortBy(Seq(col("qid")))
    }),

    "q214_quantile_bins" -> ((s, dir) =>
      // exact decile assignment over event values (micros-scaled decimal ->
      // long, so the sort key is integer-exact): rank-proportional bins via
      // the two-level rank with quantile-probed buckets — no global
      // single-partition window, probe epsilon never reaches the output
      Relational.quantileBins(
          t(s, dir, "events").selectCols(Seq(col("event_id"),
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("vmicros"))),
          col("event_id"), col("vmicros"), nBins = 10)
        .sortBy(Seq(col("id")))),

    "q213_entity_resolution" -> ((s, dir) => {
      // the composed entity-resolution story: prefix-key sorted-
      // neighborhood blocking -> trigram-Jaccard verification on the
      // w-window candidates ONLY -> connected components -> longest-text
      // canonical record (q111's rule). The linear blocking stream
      // replaces the corpus-wide inverted-index candidate generation of
      // q50 (which stays as the exhaustive instrument); on this corpus
      // the 3-token-prefix key recalls every q34 pair (same-prefix runs
      // of <= 3 docs sit inside the w=8 window). The oracle replays the
      // same blocking algorithm, so the contract is exact replay.
      val docs = t(s, dir, "documents")
      val pfxFp = TextFns.fingerprint(
        array_join(slice(TextFns.tokens(col("text")), 1, 3), " "),
        portable = true)
      val cand = Dedup.sortedNeighborhoodPairs(docs, col("doc_id"), pfxFp, w = 8)
        .selectCols(Seq(col("id_a"), col("id_b")))
      // NOT materialized: both verification join sides consume this frame,
      // but their subtrees are canonically identical, so exchange reuse
      // already computes the ngram pass once (a truncate here measured
      // 1.4 s SLOWER — it forces a full materialization the plan avoids)
      val sh = docs.selectCols(Seq(col("doc_id"),
        array_distinct(TextFns.wordNgrams(col("text"), 3)).as("sh")))
      val verified = cand
        .join(sh.selectCols(Seq(col("doc_id").as("id_a"), col("sh").as("sh_a"))), "id_a")
        .join(sh.selectCols(Seq(col("doc_id").as("id_b"), col("sh").as("sh_b"))), "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("uni",
          size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("inter"))
        .filterCol(expr("inter * 1000000L DIV uni >= 800000L"))
        .selectCols(Seq(col("id_a"), col("id_b")))
      val comps = Dedup.nearDupComponents(verified)
      val scores = docs.selectCols(Seq(col("doc_id").as("id"),
        length(col("text")).cast("long").as("score")))
      Dedup.componentRepresentatives(comps, scores)
        .sortBy(Seq(col("id")))
    }),

    "q212_mmr_rerank" -> ((s, dir) => {
      // diversified top-k: MMR (lambda=0.5) over the 20 best documents for
      // a 3-term query — rel = query-term containment ppm, sim = token-set
      // Jaccard ppm, both integers, so the greedy argmax chain replays
      // exactly in the unrolled oracle. The quadratic sim stage runs over
      // the BOUNDED candidate pool (20 rows), never the corpus.
      val qterms = array(lit("spark"), lit("join"), lit("window"))
      val toks = t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          array_distinct(TextFns.tokens(col("text"))).as("tk")))
      val cand = toks
        .selectCols(Seq(col("doc_id"),
          (size(array_intersect(col("tk"), qterms)).cast("long") * lit(1000000L))
            .as("num")))
        .selectCols(Seq(col("doc_id"), expr("num DIV 3").as("rel_ppm")))
        .orderBy(col("rel_ppm").desc, col("doc_id").asc).limit(20)
        .withColumn("qid", lit(1L))
      // identity limit: the equi-join on the unique doc_id key returns
      // exactly the 20 candidate rows, but only a static Limit gives the
      // plan a provable maxRows — which is what lets ExplainAuditSpec verify
      // the theta-join below is bounded rather than exempting it
      val ct = cand.join(toks, "doc_id").limit(20)
      val a = ct.selectCols(Seq(col("doc_id").as("id_a"), col("tk").as("tk_a")))
      val b = ct.selectCols(Seq(col("doc_id").as("id_b"), col("tk").as("tk_b")))
      val sims = a.join(b, col("id_a") < col("id_b"))
        .withColumn("inter", size(array_intersect(col("tk_a"), col("tk_b"))).cast("long"))
        .withColumn("uni",
          size(col("tk_a")).cast("long") + size(col("tk_b")).cast("long") - col("inter"))
        .selectCols(Seq(lit(1L).as("qid"), col("id_a"), col("id_b"),
          expr("inter * 1000000L DIV uni").as("sim_ppm")))
      Retrieval.mmrSelect(cand, sims, k = 8)
        .sortBy(Seq(col("round")))
    }),

    "q211_temperature_weights" -> ((s, dir) =>
      // alpha=0.5 temperature rebalancing of the source mixture: weight
      // proportional to sqrt(count), integer-exact via floor(1000*sqrt(n))
      // = FLOOR(SQRT(n*1e6)) (exact double below 2^53, correctly-rounded
      // IEEE sqrt), then ppm floor division — engine-replayable end to end
      Corpus.temperatureWeights(t(s, dir, "documents"), col("source"))
        .sortBy(Seq(col("group")))),

    "q210_l_diversity" -> ((s, dir) =>
      // homogeneity-attack audit: is every source's lang distribution at
      // least 3-diverse? k-anonymity (q202) bounds class SIZE; this bounds
      // class VARIETY — the pair gates a release together
      Validation.lDiversity(t(s, dir, "documents"), "docs_lang_by_source_l3",
          Seq(col("source")), col("lang"), l = 3)
        .sortBy(Seq(col("rule")))),

    "q209_profile" -> ((s, dir) =>
      // dataset-card column profile: ONE aggregate pass over one scan ->
      // per-column rows via a literal stack (no reshuffle); exact distincts
      // are the oracle/audit mode, approx_count_distinct the 100 TB switch.
      // Integral + string columns only — their min/max string rendering is
      // engine-portable (double rendering is not).
      Validation.profileColumns(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .sortBy(Seq(col("column")))),

    "q208_sorted_neighborhood" -> ((s, dir) =>
      // sorted-neighborhood candidate pairs (Hernández-Stolfo) over the
      // portable-fingerprint order, w=8: linear candidate volume where hot
      // blocking keys go quadratic; global rank is two-level (per-bucket
      // windows + a buckets-sized offset frame), pairs are an explode +
      // equi-join on rank targets — no range join, no cross product
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), col("doc_id"),
          TextFns.fingerprint(col("text"), portable = true), w = 8)
        .sortBy(Seq(col("id_a"), col("id_b")))),

    "q207_stream_funnel" -> ((s, dir) => {
      // TRUE streaming daily conversion funnel: per (user, day) the
      // view->click->purchase strictly-after cascade, computed when the
      // watermark passes the day end (event-time timeout), one row per
      // REACHED stage. Day windows the watermark never passes stay open
      // and emit nothing — the q42 last-session contract — and the oracle
      // replays the cascade for exactly the closed days.
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runFunnelSmoke(s, staged, Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .selectCols(Seq(col("user_id"), col("win_us"), col("stage"), col("t_us")))
        .sortBy(Seq(col("user_id"), col("win_us"), col("stage")))
    }),

    "q206_streaming_ivm" -> ((s, dir) => {
      // STREAMING materialized-view maintenance: a 4-file changelog
      // (every event as an insert + a delete row for every 7th event_id,
      // hash-scattered across files so retractions can precede their
      // inserts) folded batch-by-batch into a versioned store — each batch
      // costs the batch, never a fact rescan. The final snapshot must
      // equal a from-scratch rollup of the surviving events, which is
      // what the oracle computes. Decimal-exact, so fold == recompute
      // bit-for-bit regardless of batch order.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/ivm"
      val e = t(s, dir, "events")
      val changelog = e.selectCols(Seq(col("event_type"),
          col("value").cast("decimal(18,6)").as("v"), lit(false).as("is_del")))
        .unionAll(e.filterCol(pmod(col("event_id"), lit(7)) === 0)
          .selectCols(Seq(col("event_type"),
            col("value").cast("decimal(18,6)").as("v"), lit(true).as("is_del"))))
      changelog.repartition(4).write.mode("overwrite")
        .parquet(s"$scratch/landing")
      EventStreams.runStreamingViewMaintenance(s, s"$scratch/landing",
        s"$scratch/view", s"$scratch/ckpt", "is_del",
        keys = Seq("event_type"), sums = Seq("revenue" -> col("v")))
      EventStreams.readMaintainedView(s, s"$scratch/view")
        .selectCols(Seq(col("event_type"), col("n"),
          col("revenue").cast("double").as("revenue")))
        .sortBy(Seq(col("event_type")))
    }),

    "q205_temporal_split" -> ((s, dir) =>
      // leakage-safe evaluation split: 3-day embargo before the cutoff,
      // labeled and kept (auditable), per-split boundary stats proving the
      // bands never overlap
      t(s, dir, "events")
        .temporalSplit(col("ts"), "2024-01-24 00:00:00", 3L * 86400)
        .aggregate(Seq(col("split")), Seq(
          count(lit(1)).as("n"),
          min(expr("unix_micros(ts)")).as("min_us"),
          max(expr("unix_micros(ts)")).as("max_us")))
        .sortBy(Seq(col("split")))),

    "q204_hll_windowed_stream" -> ((s, dir) => {
      // distinct-per-hour over a TRUE stream without storing values:
      // register max grouped by (tumbling hour, bucket) — 64 longs of
      // state per window — drained dense; the oracle computes every
      // window's registers from the batch table
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runHllWindowedSmoke(s, staged, "event_id")
        .selectCols(Seq(col("win_start").cast("long").as("win_epoch"),
          col("bucket"), col("register"), col("n_exact")))
        .sortBy(Seq(col("win_epoch"), col("bucket")))
    }),

    "q203_hll_overlap" -> ((s, dir) => {
      // sketch set algebra: en/de vocabulary overlap by inclusion-exclusion
      // over three HLL sketches (registers only — raw tokens never
      // co-shuffle); exact distinct counts ride along as instruments so
      // the compounded estimate error is visible, not asserted
      val d = t(s, dir, "documents")
      def tok(l: String) = d.filterCol(col("lang") === l)
        .selectCols(Seq(explode(TextFns.tokens(col("text"))).as("tok")))
      Corpus.hllOverlap(tok("en"), tok("de"), col("tok"))
    }),

    "q202_k_anonymity" -> ((s, dir) =>
      // release-gate audit: (lang, source) as quasi-identifiers over the
      // document corpus at k=3 — the count-1 cells seen in q195 make this
      // a genuinely failing (non-anonymous) report, not a vacuous pass
      Validation.kAnonymity(t(s, dir, "documents"), "docs_lang_source_k3",
          Seq(col("lang"), col("source")), k = 3)
        .sortBy(Seq(col("rule")))),

    "q201_hll_stream" -> ((s, dir) => {
      // q191's sketch as a TRUE streaming aggregation: bucket-wise register
      // max in complete mode (64 longs of state for any stream length),
      // drained and finalized through the identical batch math — the
      // oracle computes the batch registers over event_id directly.
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runHllStreamSmoke(s, staged, "event_id")
        .sortBy(Seq(col("bucket")))
    }),

    "q200_image_dedup_pipeline" -> ((s, dir) => {
      // the composed MULTIMODAL dedup pipeline: synth -> REAL decode ->
      // dHash -> pigeonhole pairs (q190) -> connected components (q50's
      // operator) -> largest-area representative per cluster. One driver
      // fact for the whole image-dedup story; the oracle recomputes every
      // stage from the synthesis formula, recursive CTE included.
      // Bench note: the ~6 s at sf0.1 is CODEC-bound (one PNG encode +
      // decode per doc) plus component rounds — strictly linear in corpus
      // size; the pair join stays pigeonhole-bounded (no quadratic term).
      val d = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          pmod(col("doc_id"), lit(47)).as("g"),
          expr("doc_id div 47").as("off"))))
        .selectCols(Seq(col("doc_id"), col("g"), col("off"),
          (lit(8) + pmod(col("g"), lit(9))).cast("int").as("w"),
          (lit(8) + pmod(col("g"), lit(7))).cast("int").as("h")))
        .withColumn("png", Multimodal.synthGrayPatternPngUdf(
          col("g"), col("off"), col("w"), col("h")))
        .withColumn("sig", Multimodal.dHash64(col("png")))
      val pairs = Dedup.hamming64Pairs(d, col("doc_id"), col("sig"), maxHamming = 3)
      val comps = Dedup.nearDupComponents(pairs)
      val scores = d.selectCols(Seq(col("doc_id").as("id"),
        (col("w") * col("h")).cast("long").as("score")))
      Dedup.componentRepresentatives(comps, scores)
        .sortBy(Seq(col("id")))
    }),

    "q199_kcore" -> ((s, dir) => {
      // dense-core extraction: high-quantity co-purchase part graph peeled
      // 4 rounds at k=3 — a real cascade on this data (1494 -> 533 -> 241
      // -> 112 -> 74 nodes at sf0.01: round-1 survivors starve as their
      // fringe vanishes). Fixed rounds = mechanically unrollable oracle,
      // the q100 pagerank contract.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey")))
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b")))
        .distinct()
      graft.operators.Graph.kCorePeel(e, k = 3, rounds = 4)
        .sortBy(Seq(col("id")))
    }),

    "q198_weighted_sample" -> ((s, dir) =>
      // sequential Poisson sampling: 50 docs weighted by n_chars — long
      // docs win proportionally more often, reproducibly (Knuth-hash
      // uniforms, integer floor-division priorities, id tie-break)
      t(s, dir, "documents")
        .weightedSample(col("doc_id"), col("n_chars"), k = 50)
        .selectCols(Seq(col("doc_id"), col("n_chars"), col("u"),
          col("priority"), col("sample_rank")))
        .sortBy(Seq(col("sample_rank")))),

    "q197_hll_merge" -> ((s, dir) => {
      // HLL union law as a DRIVER fact, not just a spec: per-source shard
      // sketches merged by element-wise register max must equal the global
      // sketch — which is exactly what the oracle computes, never seeing
      // the grouping. Count-distinct across shards, no raw-value shuffle.
      val d = t(s, dir, "documents")
      Corpus.hllMerge(
          Corpus.hllSketchGrouped(d, col("source"), col("doc_id")),
          d.aggregate(Nil, Seq(countDistinct(col("doc_id")).as("n_exact"))))
        .sortBy(Seq(col("bucket")))
    }),

    "q196_stream_validation_gate" -> ((s, dir) => {
      // q189's rule math as a TRUE streaming aggregation (complete mode,
      // rule-count-sized state): the final per-batch report must equal the
      // batch report over the same events — which is what the oracle
      // computes. Mixed pass/fail rules on live data (value cap fires).
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runValidationGateSmoke(s, staged, Seq(
          "type_domain" -> !col("event_type").isin(
            "click", "error", "purchase", "signup", "view"),
          "user_complete" -> col("user_id").isNull,
          "value_cap_400" -> (col("value") > 400.0),
          "value_positive" -> (col("value") <= 0.0)))
        .sortBy(Seq(col("rule")))
    }),

    "q195_categorical_drift" -> ((s, dir) => {
      // distribution-shift monitor: even-id docs as the reference snapshot,
      // odd-id docs as the current batch, (lang, source) as the category —
      // 97 cells, some one-sided (count-1 cells fall entirely into one
      // half), so the outer-join zero path is live data, not just spec
      val d = t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          concat(col("lang"), lit(":"), col("source")).as("cat")))
      Validation.categoricalDrift(
          d.filterCol(pmod(col("doc_id"), lit(2)) === 0),
          d.filterCol(pmod(col("doc_id"), lit(2)) === 1),
          col("cat"))
        .sortBy(Seq(col("category")))
    }),

    "q194_ann_sq8" -> ((s, dir) => {
      // int8 scalar-quantized ANN: q76's codec feeding a pure-INTEGER dot
      // product — the one ANN variant whose whole search path (codes,
      // scores, ranking) hash-matches an oracle instead of needing a
      // recall measurement. Same query set as q36 for comparability.
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      Similarity.sq8TopK(corpus, queries, k = 5)
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    // q193 — historically a numbering gap; filled in r9 with the
    // distributed-tier gate for connected components. q50 takes the
    // step-0 driver union-find at sf scales (the graph fits); this runs
    // the IDENTICAL pair graph through the distributed label-propagation
    // + star-contraction phases (maxLocalEdges=0, the 100 TB code path)
    // against the SAME recursive-CTE oracle — so the tier that actually
    // runs at cluster scale is itself driver-verified per round, not
    // just spec-pinned at toy sizes.
    "q193_components_distributed" -> ((s, dir) =>
      Dedup.nearDupComponents(
          Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"),
            col("text"), threshold = 0.8),
          maxLocalEdges = 0L)
        .sortBy(Seq(col("id")))),

    "q192_incremental_agg" -> ((s, dir) => {
      // incremental view maintenance: the pre-cutoff rollup is NEVER
      // recomputed — a changelog (post-cutoff inserts + every-13th-key
      // deletes) folds in as a signed delta, and the result must equal a
      // from-scratch rollup of the final state (which is what the oracle
      // computes). Decimal-exact sums make merge == recompute bit-for-bit.
      val o = t(s, dir, "orders")
      val cut = lit("2000-01-01").cast("timestamp")
      val keys = Seq(col("o_orderstatus"), col("o_orderpriority"))
      val rev = Seq("revenue" -> col("o_totalprice").cast("decimal(18,2)"))
      val base = Relational.groupedAgg(
        o.filterCol(col("o_orderdate") < cut), keys, rev)
      val changelog = o.filterCol(col("o_orderdate") >= cut)
        .withColumn("is_del", lit(false))
        .unionAll(o.filterCol(col("o_orderdate") < cut &&
            pmod(col("o_orderkey"), lit(13)) === 0)
          .withColumn("is_del", lit(true)))
      val delta = Relational.deltaAgg(changelog, col("is_del"), keys, rev)
      Relational.maintainAgg(base, delta)
        .selectCols(Seq(col("o_orderstatus"), col("o_orderpriority"),
          col("n").as("n_orders"), col("revenue").cast("double").as("revenue")))
        .sortBy(Seq(col("o_orderstatus"), col("o_orderpriority")))
    }),

    "q191_hll_distinct" -> ((s, dir) =>
      // bounded-state distinct counter (HLL, portable-FNV hashed like
      // q173's CMS): 64 integer registers + exact scaled harmonic sum;
      // the float estimate is one shared IEEE op sequence, so even it
      // hash-matches. n_exact rides along as the oracle instrument.
      Corpus.hllSketch(t(s, dir, "lineitem"), col("l_orderkey"), b = 6)
        .sortBy(Seq(col("bucket")))),

    "q190_image_dhash_neardup" -> ((s, dir) => {
      // perceptual image near-dup: synthesize a nonlinear gray test pattern
      // per doc (47 structural groups, brightness offset varying inside a
      // group), REAL-decode each PNG into a 64-bit dHash, and find all
      // Hamming<=3 pairs with the exact 4x16-bit pigeonhole join (no cross
      // join). PNG is lossless + dHash is integer arithmetic, so the oracle
      // replays the exact bits from the synthesis formula and brute-forces
      // the 500-doc pair set — the driver hash pins decode + hash + join.
      val d = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          pmod(col("doc_id"), lit(47)).as("g"),
          expr("doc_id div 47").as("off"))))
        .selectCols(Seq(col("doc_id"), col("g"), col("off"),
          (lit(8) + pmod(col("g"), lit(9))).cast("int").as("w"),
          (lit(8) + pmod(col("g"), lit(7))).cast("int").as("h")))
        .withColumn("png", Multimodal.synthGrayPatternPngUdf(
          col("g"), col("off"), col("w"), col("h")))
        .withColumn("sig", Multimodal.dHash64(col("png")))
      Dedup.hamming64Pairs(d, col("doc_id"), col("sig"), maxHamming = 3)
        .selectCols(Seq(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming")))
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q137_tpch_q19" -> ((s, dir) => {
      // TPC-H Q19 shape: disjunctive multi-column predicate over the part
      // join — the OR-of-ANDs Catalyst must keep partially pushable
      // (common conjunct l_quantity <= 36 extracted to the scan)
      val l = t(s, dir, "lineitem"); val p = t(s, dir, "part")
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 12)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(8, 24)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(16, 36))
      l.join(p, col("l_partkey") === col("p_partkey") && cond)
        .aggregate(Seq.empty, Seq(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines")))
        .withColumn("revenue", round(col("revenue"), 4))
    }),

    "q138_tpch_q22" -> ((s, dir) => {
      // TPC-H Q22 shape: positive-balance customers above the global
      // average balance (decimal-exact scalar, broadcast — no collect)
      // with no RECENT orders (anti join on the filtered order set —
      // "lapsed high-value customers"), grouped by nation
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val avgBal = c.filterCol(col("c_acctbal") > 0.0)
        .aggregate(Seq.empty, Seq(
          (sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
            / count(lit(1))).as("avg_bal")))
      c.crossJoin(broadcast(avgBal))
        .filterCol(col("c_acctbal") > col("avg_bal"))
        .join(o.filterCol(col("o_orderdate").cast("date") >=
            lit(java.sql.Date.valueOf("2000-01-01")))
            .selectCols(Seq(col("o_custkey"))),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .aggregate(Seq(col("c_nationkey")), Seq(
          count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("total_bal")))
        .sortBy(Seq(col("c_nationkey")))
    }),

    "q139_sql_surface" -> ((s, dir) => {
      // the engine serves PLAIN SQL text end to end (the reference's
      // DataFusion ctx also executes SQL strings): temp views + spark.sql,
      // same text shape as the DuckDB oracle
      t(s, dir, "lineitem").createOrReplaceTempView("g139_lineitem")
      t(s, dir, "orders").createOrReplaceTempView("g139_orders")
      s.sql("""
        SELECT o.o_orderpriority, COUNT(*) AS n_lines,
          CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM g139_lineitem l JOIN g139_orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority""")
    }),

    "q136_passage_retrieval" -> ((s, dir) =>
      // the retrieval-family flagship composition: docs -> overlapping
      // 32/16 chunks (q112) -> BM25 over the CHUNK corpus (q104) -> top-20
      // passages; chunk identity packed as doc_id*1000 + chunk_id
      Retrieval.passageTopK(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), Seq("spark", "join", "window", "hash"),
          k = 20)
        .withColumn("score", round(col("score"), 6))
        .sortBy(Seq(col("rank")))),

    "q132_window_family" -> ((s, dir) => {
      // the remaining §2.2 window constructors in one query: lag/lead with
      // defaults, ntile, percent_rank, cume_dist — the window ordering
      // covers every output column, so tied rows yield identical output
      // rows (an ntile boundary swap permutes equal rows only)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("price"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .filterCol(col("l_quantity") <= 2)
        .selectCols(Seq(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("price"),
          col("l_orderkey"), col("l_linenumber")))
        .withColumn("prev_price", lag(col("price"), 1, -1.0).over(w))
        .withColumn("next_price", lead(col("price"), 1, -1.0).over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", round(percent_rank().over(w), 9))
        .withColumn("cdist", round(cume_dist().over(w), 9))
        .sortBy(Seq(col("l_returnflag"), col("price"), col("l_orderkey"),
          col("l_linenumber"), col("quartile")))
    }),

    "q133_multiset_ops" -> ((s, dir) => {
      // INTERSECT ALL / EXCEPT ALL multiset semantics (the distinct forms
      // are q19/q20): quantity-flag multisets of the two shipdate halves
      val l = t(s, dir, "lineitem")
      val cut = lit(java.sql.Date.valueOf("1997-06-01"))
      val a = l.filterCol(col("l_shipdate").cast("date") < cut)
        .selectCols(Seq(col("l_quantity").cast("long").as("qty"), col("l_returnflag").as("flag")))
      val b = l.filterCol(col("l_shipdate").cast("date") >= cut)
        .selectCols(Seq(col("l_quantity").cast("long").as("qty"), col("l_returnflag").as("flag")))
      a.intersectAll(b).withColumn("op", lit("intersect_all"))
        .unionAll(a.exceptAll(b).withColumn("op", lit("except_all")))
        .aggregate(Seq(col("op"), col("qty"), col("flag")),
          Seq(count(lit(1)).as("n")))
        .sortBy(Seq(col("op"), col("qty"), col("flag")))
    }),

    "q134_tpch_q14" -> ((s, dir) => {
      // TPC-H Q14 shape: promo (ECONOMY-type) revenue share for one month
      // — conditional aggregate over the part join, decimal-exact sums,
      // one final division
      val l = t(s, dir, "lineitem")
        .filterCol(col("l_shipdate").cast("date") >= lit(java.sql.Date.valueOf("1996-03-01")) &&
          col("l_shipdate").cast("date") < lit(java.sql.Date.valueOf("1996-04-01")))
      val p = t(s, dir, "part")
      val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .aggregate(Seq.empty, Seq(
          sum(when(col("p_type") === "ECONOMY", disc).otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast("double").as("promo_revenue"),
          sum(disc).cast("double").as("total_revenue")))
        .withColumn("promo_share",
          round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 9))
        .withColumn("promo_revenue", round(col("promo_revenue"), 4))
        .withColumn("total_revenue", round(col("total_revenue"), 4))
    }),

    "q135_grouping_sets" -> ((s, dir) =>
      // explicit GROUPING SETS beyond q72's rollup/cube: (flag, status),
      // (flag), (status) — one Expand + single aggregate pass,
      // grouping_id disambiguates
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .selectCols(Seq(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"), col("gid")))
        .sortBy(Seq(col("gid"), col("flag"), col("status")))),

    "q131_lang_confusion" -> ((s, dir) => {
      // language-ID QA: ground-truth lang x predicted lang counts with
      // per-truth share — the accuracy surface behind the q28/q51 gates;
      // truth totals broadcast back (no window)
      val docs = t(s, dir, "documents")
      val truth = docs.aggregate(Seq(col("lang")), Seq(count(lit(1)).as("n_truth")))
      docs
        .withColumn("lang_pred", TextFns.langId(col("text")))
        .aggregate(Seq(col("lang"), col("lang_pred")), Seq(count(lit(1)).as("n")))
        .join(broadcast(truth), "lang")
        .selectCols(Seq(col("lang"), col("lang_pred"), col("n"), col("n_truth"),
          round(col("n").cast("double") / col("n_truth").cast("double"), 9).as("share")))
        .sortBy(Seq(col("lang"), col("lang_pred")))
    }),

    "q130_ks_drift" -> ((s, dir) =>
      // source drift monitor: exact two-sample KS on doc-length
      // distributions (max|c1*n2 - c2*n1| / (n1*n2) — integer-exact to
      // the final division)
      t(s, dir, "documents")
        .ksDrift(col("n_chars"), col("source"), "src0", "src1")
        .withColumn("ks", round(col("ks"), 9))
        .sortBy(Seq(col("label_a")))),

    "q128_tpch_q18" -> ((s, dir) => {
      // TPC-H Q18 shape: big-order HAVING pre-aggregate, then join the
      // survivors (tiny) to orders and customers — the aggregate feeds
      // the join as its broadcast side
      val big = t(s, dir, "lineitem")
        .aggregate(Seq(col("l_orderkey")), Seq(dsum(col("l_quantity")).as("sum_qty")))
        .filterCol(col("sum_qty") > 300.0)
      big
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .selectCols(Seq(col("c_name"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"),
          col("o_totalprice").cast("double").as("o_totalprice"), col("sum_qty")))
        .orderBy(col("o_totalprice").desc, col("od_us"), col("o_orderkey"))
        .limit(50)
    }),

    "q129_triangles" -> ((s, dir) => {
      // triangle census of the near-dup graph: dup clusters are
      // near-cliques, borderline chains are triangle-free — the
      // over-merge diagnostic for q50's transitive closure
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        threshold = 0.8)
      graft.operators.Graph.triangleCounts(pairs)
        .sortBy(Seq(col("id")))
    }),

    "q126_hard_negatives" -> ((s, dir) => {
      // contrastive pair mining: top-5 positives + ranks 6-20 as
      // semi-hard negatives for 10 query vectors, one kNN pass
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      Similarity.hardNegatives(corpus, corpus.filterCol(col("id") < 10),
          kPos = 5, kNeg = 15)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumn("rank", col("rank").cast("long"))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q127_rate_anomalies" -> ((s, dir) =>
      // hourly event-rate z-scores per type from exact integer co-moments
      // (the corrStats discipline applied to rate monitoring)
      EventStreams.rateAnomalies(t(s, dir, "events"), col("event_type"),
          col("ts"), z = 3.0)
        .selectCols(Seq(col("key"), unix_micros(col("bucket")).as("bucket_us"),
          col("n"), round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"),
          round(col("zscore"), 6).as("zscore"), col("is_anomaly")))
        .sortBy(Seq(col("key"), col("bucket_us")))),

    "q124_tpch_q3" -> ((s, dir) => {
      // TPC-H Q3 (shippriority dropped — not in the synthetic schema):
      // 3-way join narrows via two pushed-down date/segment filters before
      // the fact join; revenue is decimal-exact
      val cutoff = lit(java.sql.Date.valueOf("1996-06-30"))
      val c = t(s, dir, "customer").filterCol(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filterCol(col("o_orderdate").cast("date") < cutoff)
      val l = t(s, dir, "lineitem").filterCol(col("l_shipdate").cast("date") > cutoff)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .aggregate(Seq(col("l_orderkey"), col("o_orderdate")), Seq(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double").as("revenue")))
        .selectCols(Seq(col("l_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ in parquet; session is UTC, so
          // the LTZ cast is instant-preserving
          unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"),
          col("revenue")))
        .orderBy(col("revenue").desc, col("od_us"), col("l_orderkey"))
        .limit(10)
    }),

    "q125_tpch_q5" -> ((s, dir) => {
      // TPC-H Q5: 6-way snowflake join, local-supplier condition
      // (c_nationkey = s_nationkey), one-year window; region/nation are
      // broadcast dims, revenue decimal-exact
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem"); val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .filterCol(col("o_orderdate").cast("date") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("o_orderdate").cast("date") < lit(java.sql.Date.valueOf("1997-01-01")))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey") &&
          col("r_name") === "ASIA")
        .aggregate(Seq(col("n_name")), Seq(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double").as("revenue")))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q123_novelty_curve" -> ((s, dir) => {
      // corpus saturation: 10 ingestion batches by doc_id range
      // (count-based => sf-agnostic); novelty = share of 3-gram shingles
      // first seen in that batch
      val docs = t(s, dir, "documents")
      val bs = (docs.count() + 9) / 10
      Corpus.noveltyCurve(docs,
          floor(col("doc_id").cast("double") / bs).cast("long"),
          TextFns.wordNgrams(col("text"), 3))
        .withColumn("novelty", round(col("novelty"), 9))
        .sortBy(Seq(col("batch")))
    }),

    "q121_cohort_retention" -> ((s, dir) =>
      // daily cohort retention matrix in long form (the 30-day synthetic
      // event span yields a dense matrix at day granularity); integer
      // microsecond offsets, one distinct-count shuffle
      EventStreams.cohortRetention(t(s, dir, "events"), col("user_id"),
          col("ts"), period = "day")
        .withColumn("retention", round(col("retention"), 9))
        .sortBy(Seq(col("cohort_us"), col("period_offset")))),

    "q122_state_intervals" -> ((s, dir) =>
      // SCD-2 interval build: runs of consecutive identical event_type per
      // user with [valid_from, valid_to) bounds; event_id breaks ts ties
      EventStreams.stateIntervals(t(s, dir, "events"), col("user_id"),
          col("ts"), col("event_type"), col("event_id"))
        .selectCols(Seq(col("key").as("user_id"), col("state"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us")))
        .withColumn("to_us", coalesce(col("to_us"), lit(-1L)))
        .sortBy(Seq(col("user_id"), col("from_us"), col("state")))),

    "q119_source_health" -> ((s, dir) =>
      // per-source corpus health report: doc count, decimal-exact mean
      // quality / token count, language spread, exact-dup rate (keyed on
      // raw text for oracle parity — xxhash64 the key at scale, q31's rule)
      t(s, dir, "documents")
        .withColumn("q", TextFns.qualityScore(col("text")))
        .withColumn("ntok", TextFns.tokenCount(col("text")).cast("long"))
        .aggregate(Seq(col("source")), Seq(
          count(lit(1)).as("n_docs"),
          (sum(col("q").cast(DecimalType(18, 9))).cast("double")
            / count(lit(1))).as("mean_quality"),
          (sum(col("ntok")).cast("double") / count(lit(1))).as("mean_tokens"),
          count_distinct(col("lang")).as("n_langs"),
          (count(lit(1)) - count_distinct(col("text"))).as("n_exact_dups")))
        .withColumn("mean_quality", round(col("mean_quality"), 6))
        .withColumn("mean_tokens", round(col("mean_tokens"), 6))
        .sortBy(Seq(col("source")))),

    "q120_funnel" -> ((s, dir) =>
      // ordered conversion funnel view -> click -> purchase: per user the
      // earliest stage time strictly after the previous stage; one narrow
      // min-aggregate per stage, no per-user event lists
      EventStreams.funnel(t(s, dir, "events"), col("user_id"), col("ts"), Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .selectCols(Seq(col("user_id"),
          unix_micros(col("t_view")).as("t_view_us"),
          unix_micros(col("t_click")).as("t_click_us"),
          unix_micros(col("t_purchase")).as("t_purchase_us"),
          col("stages_completed")))
        .sortBy(Seq(col("user_id")))),

    "q118_component_split" -> ((s, dir) => {
      // leakage-safe 80/20 split: near-dup cluster members always land on
      // the same side (per-doc splits leak near-dups into eval); singleton
      // docs hash their own id
      val docs = t(s, dir, "documents")
      val comps = Dedup.nearDupComponents(
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), threshold = 0.8))
      Dedup.componentSplit(docs, col("doc_id"), comps)
        .sortBy(Seq(col("id")))
    }),

    "q116_oov_rate" -> ((s, dir) =>
      // tokenizer-fit signal: OOV rate against the corpus's own top-50
      // vocab (small cap so the synthetic ~30-word vocabulary still
      // yields OOV mass); vocab broadcast to an anti join
      Corpus.oovRate(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), vocabSize = 25)
        .withColumn("oov_rate", round(col("oov_rate"), 9))
        .sortBy(Seq(col("id")))),

    "q117_mutual_knn" -> ((s, dir) => {
      // reciprocal-NN graph: (a,b) kept iff each is in the other's top-10
      // — the hub-pruned symmetric graph clustering consumes. Exact brute
      // kNN here (the oracle-checkable config — full corpus as queries is
      // the q37-style verify tool); at scale feed mutualPairs from
      // ivfTopK, which partitions instead of broadcasting
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      Similarity.mutualPairs(Similarity.bruteForceTopK(corpus, corpus, k = 10))
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q115_robust_scale" -> ((s, dir) =>
      // outlier-insensitive feature scaling: (x - median) / MAD per group
      // (q95's min-max sibling; one extreme value can't move the bounds)
      t(s, dir, "lineitem")
        .robustScale(Seq(col("l_returnflag")), col("l_extendedprice"))
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice").cast("double").as("x"),
          round(col("v_med"), 6).as("v_med"),
          round(col("v_mad"), 6).as("v_mad"),
          round(col("scaled"), 6).as("scaled")))
        // (orderkey, linenumber) is NOT unique in the synthetic lineitem —
        // returnflag + x make the order total
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("x")))),

    "q114_stream_lsh_ingest" -> ((s, dir) => {
      // TRUE streaming near-dup ingestion: documents arrive as two
      // micro-batches (count/2 split, mod-time ordered); each batch checks
      // the accumulated LSH index then joins it. Because the index holds
      // every prior doc, the result is batch-cut-INDEPENDENT — the oracle
      // is the one-shot global keep-first rule
      val staged = EventStreams.stagedOnce(s"doc_halves|$dir") { d =>
        val stagedP = java.nio.file.Paths.get(d)
        def writeHalf(cond: Column, name: String, modTime: Long): Unit = {
          val tmp = stagedP.resolve(name + "_tmp")
          t(s, dir, "documents").filterCol(cond).coalesce(1)
            .write.parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
          val dest = stagedP.resolve(name + ".parquet")
          java.nio.file.Files.move(part, dest)
          dest.toFile.setLastModified(modTime)
          deleteRecursively(tmp.toString)
        }
        val mid = t(s, dir, "documents").count() / 2
        writeHalf(col("doc_id") < mid, "b0", 1000000000L)
        writeHalf(col("doc_id") >= mid, "b1", 2000000000L)
      }
      EventStreams.runLshIngestSmoke(s, staged, "doc_id", "text",
          threshold = 0.8)
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
        .sortBy(Seq(col("id")))
    }),

    "q112_sliding_chunks" -> ((s, dir) =>
      // RAG-index chunking: 32-token windows every 16 tokens, last start
      // pinned so the final chunk ends at the doc end; narrow explode,
      // no shuffle
      Corpus.slidingChunks(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), chunkTokens = 32, stride = 16)
        .sortBy(Seq(col("id"), col("chunk_id")))),

    "q113_gopher_rules" -> ((s, dir) =>
      // Gopher-style composite gate with per-rule diagnosis flags; only
      // the repetition rule needs an aggregate (bounded by distinct
      // (doc, term) pairs)
      Corpus.gopherQualityFlags(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")))
        .sortBy(Seq(col("id")))),

    "q111_component_best" -> ((s, dir) => {
      // near-dup clusters keep their LONGEST member (ties to smaller id)
      // instead of q50/q51's min-id rule — the complete copy of a page
      // beats its truncated variant regardless of crawl order
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        threshold = 0.8)
      val comps = Dedup.nearDupComponents(pairs)
      val scores = docs.selectCols(Seq(col("doc_id").as("id"),
        length(col("text")).cast("long").as("score")))
      Dedup.componentRepresentatives(comps, scores)
        .sortBy(Seq(col("id")))
    }),

    "q109_difficulty_bins" -> ((s, dir) =>
      // curriculum schedule input: quartile bins over token count (exact
      // global percentile thresholds — one aggregate, one broadcast row;
      // approximate=true is the 100 TB path); scores AT a cut point land
      // in the lower bin
      Corpus.difficultyBins(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokenCount(col("text")))
        .sortBy(Seq(col("id")))),

    "q110_key_skew" -> ((s, dir) =>
      // pre-join skew profiling: hottest 20 order keys by row count with
      // share-of-table and skew-vs-mean-key factors
      t(s, dir, "lineitem").keySkewStats(col("l_orderkey"), k = 20)
        .withColumn("share", round(col("share"), 9))
        .withColumn("skew", round(col("skew"), 6))
        .sortBy(Seq(col("rank")))),

    "q108_incremental_lsh" -> ((s, dir) => {
      // near-dup ingestion: the second half of documents (count/2 midpoint,
      // doc_ids dense from 0 — sf-agnostic) checks against an LSH index of
      // the first half; history is banded once, only the batch is shingled
      // at "ingest". k=128/b=32 => the exact-Jaccard oracle applies (miss
      // prob ~5e-9, the q33 argument)
      val docs = t(s, dir, "documents")
      val mid = docs.count() / 2
      val index = Dedup.lshIndex(docs.filterCol(col("doc_id") < mid),
        col("doc_id"), col("text"))
      Dedup.incrementalLshDedup(docs.filterCol(col("doc_id") >= mid),
          col("doc_id"), col("text"), index, threshold = 0.8)
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
        .sortBy(Seq(col("id")))
    }),

    "q107_repeated_spans" -> ((s, dir) =>
      // exact-substring dedup signal (Lee et al.): 64-char windows every
      // 16 chars, flagged when the same text appears in >= 2 docs; hashes
      // move through the shuffle, never window text
      Corpus.repeatedSpans(t(s, dir, "documents"), col("doc_id"), col("text"),
          winLen = 64, step = 16, minDocs = 2L)
        .sortBy(Seq(col("id"), col("pos")))),

    "q98_stream_static_enrich" -> ((s, dir) => {
      // TRUE streaming stateless enrichment: the events file stream joins
      // the static customer dim (broadcast per micro-batch, no state
      // stores); append output equals the batch left join => exact oracle
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      val dim = t(s, dir, "customer")
        .selectCols(Seq(col("c_custkey").as("user_id"),
          col("c_mktsegment"), col("c_nationkey")))
      EventStreams.runStreamEnrichSmoke(s, staged, dim, Seq("user_id"))
        .selectCols(Seq(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment"), col("c_nationkey")))
        .sortBy(Seq(col("event_id")))
    }),

    "q97_containment_pairs" -> ((s, dir) => {
      // asymmetric (doc-inside-doc) dedup: every 10th doc gets a synthetic
      // "digest" page wrapping it plus its neighbor — containment ~1 where
      // Jaccard stays ~0.5, exactly what the symmetric metric misses
      val base = t(s, dir, "documents").selectCols(Seq(col("doc_id"), col("text")))
      val nxt = base.selectCols(Seq((col("doc_id") - 1).as("doc_id"),
        col("text").as("text_next")))
      val digests = base.join(nxt, Seq("doc_id"))
        .filterCol(pmod(col("doc_id"), lit(10)) === 0)
        .selectCols(Seq((col("doc_id") + 10000).as("doc_id"),
          concat_ws(" ", col("text"), col("text_next")).as("text")))
      Dedup.containmentPairs(base.union(digests), col("doc_id"), col("text"),
          ngram = 3, threshold = 0.9)
        .withColumn("containment", round(col("containment"), 6))
        .sortBy(Seq(col("id_in"), col("id_out")))
    }),

    "q96_training_pipeline" -> ((s, dir) => {
      // the flagship end-to-end composition: q83's multi-line construction
      // -> boilerplate strip -> lang/quality gate -> exact dedup ->
      // 24-token truncation -> 256-token sequence packing. Every stage is
      // replayed in the oracle
      val doc = concat(col("text"), lit("\n"),
        when(col("doc_id") % 2 === 0,
          concat(lit("subscribe to "), col("source"), lit(" weekly")))
          .otherwise(concat(lit("contact "), col("doc_id"))),
        lit("\n"), lit("all rights reserved"))
      graft.operators.Pipeline.prepareTrainingData(
          t(s, dir, "documents").withColumn("doc", doc),
          col("doc_id"), col("doc"),
          minDocsBoiler = 10L, minQuality = 0.66,
          maxTokens = 24, ctxLen = 256, bucketSize = 64)
        .withColumn("quality", round(col("quality"), 6))
        .withColumn("was_truncated", col("was_truncated").cast("long"))
        .sortBy(Seq(col("id")))
    }),

    "q410_nsw_graph" -> ((s, dir) => {
      // graph-ANN tier (r12), BUILD half: each vector's top-8 neighbors
      // among its 2 nearest fixture cells (q38's first-16 quantizer) —
      // the kNN edge list a navigable-small-world search walks. The build
      // is ivfTopK with the corpus on both sides (broadcastQueries=false:
      // the probe side is corpus-sized), so cell assignment, probe join,
      // exact cosine, and the (score desc, id) top-degree cut all replay
      // as plain SQL — the graph itself is a hash-verified fact before
      // any search runs over it.
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      Similarity.nswBuildGraph(corpus, cents, nprobe = 2, degree = 8)
        .withColumn("score", round(col("score"), 6))
        .withColumn("rank", col("rank").cast("long"))
        .sortBy(Seq(col("src"), col("rank")))
    }),

    "q411_nsw_search" -> ((s, dir) => {
      // graph-ANN tier, SERVE half: greedy beam search over the
      // symmetrized q410 graph — entry = min node id, 5 hops, beam ef=16,
      // top-10 out. A FIXED hop count (not a convergence loop) makes the
      // whole walk an exact contract: the oracle replays every hop as an
      // unrolled CTE (expand neighbors, score, keep top-ef by raw score
      // desc / id — raw-score order is engine-equal, q38 precedent).
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      val edges = Similarity.nswBuildGraph(corpus, cents, nprobe = 2, degree = 8)
      Similarity.nswGreedySearch(edges, corpus, corpus.filterCol(col("id") < 10),
          hops = 5, ef = 16, k = 10)
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q412_nsw_index_persist" -> ((s, dir) => {
      // build-once/serve-many for the graph tier (q405's layout contract):
      // the kNN edges + vector table persist to parquet and the search is
      // served from the store — same graph, same walk, so the served
      // answer must hash-match q411's independent oracle VERBATIM; a
      // stored layout that changed the answer would fail here.
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      val sf = new java.io.File(dir).getName
      val idx = s"${scratchRoot}/$sf/nsw_index"
      Similarity.writeNswIndex(
        Similarity.nswBuildGraph(corpus, cents, nprobe = 2, degree = 8),
        corpus, idx)
      Similarity.nswSearchIndexed(s, idx, corpus.filterCol(col("id") < 10),
          hops = 5, ef = 16, k = 10)
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q413_ann_ivf_recall" -> ((s, dir) => {
      // measured answer quality of the approximate tier, hash-verified:
      // recall@10 of pruned IVF (nprobe=2 of the 16-cell fixture) against
      // the exact brute-force ground truth, per query — integers only
      // (hit counts, ppm), and BOTH sides replay in SQL, so the recall
      // number itself is an oracle-checked fact rather than a README
      // claim. The eval harness for every future ANN variant.
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
        .selectCols(Seq(col("query_id"), col("neighbor_id")))
      val approx = Similarity.ivfTopK(corpus, queries, nlist = 16, nprobe = 2,
          k = 10, centroids = Some(cents))
        .selectCols(Seq(col("query_id"), col("neighbor_id")))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      queries.selectCols(Seq(col("id").as("query_id")))
        .join(hits, Seq("query_id"), "left")
        .selectCols(Seq(col("query_id"), lit(10L).as("k"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) * 100000L).as("recall_ppm")))
        .sortBy(Seq(col("query_id")))
    }),

    "q414_nsw_recall" -> ((s, dir) => {
      // q413's harness pointed at the graph tier: recall@10 of the 5-hop
      // ef=16 greedy walk vs exact ground truth — the navigability of the
      // degree-8 graph measured as a hash-checked integer per query
      // (where q413 measures what cell pruning loses, this measures what
      // the graph's connectivity loses).
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
        .selectCols(Seq(col("query_id"), col("neighbor_id")))
      val edges = Similarity.nswBuildGraph(corpus, cents, nprobe = 2, degree = 8)
      val approx = Similarity.nswGreedySearch(edges, corpus, queries,
          hops = 5, ef = 16, k = 10)
        .selectCols(Seq(col("query_id"), col("neighbor_id")))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      queries.selectCols(Seq(col("id").as("query_id")))
        .join(hits, Seq("query_id"), "left")
        .selectCols(Seq(col("query_id"), lit(10L).as("k"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) * 100000L).as("recall_ppm")))
        .sortBy(Seq(col("query_id")))
    }),

    "q65_centroid_assign" -> ((s, dir) => {
      // nearest-centroid labeling; centroids = the first 8 embeddings (exact
      // float values from parquet => bit-identical distances cross-engine)
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cents = e.filterCol(col("vec_id") < 8)
        .selectCols(Seq(col("vec_id").as("cid"), col("embedding").as("cv")))
      Similarity.assignToCentroids(corpus, cents)
        .withColumn("dist_sq", round(col("dist_sq"), 6))
        .sortBy(Seq(col("id")))
    })
  )
}
