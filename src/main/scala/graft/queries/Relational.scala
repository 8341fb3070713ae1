package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.WeightedMean

/** The relational operator surface (SURVEY.md §2.2-§2.6) expressed as
  * named queries over the driver's TPC-H-ish tables, each paired with
  * ANSI SQL for the DuckDB oracle.
  *
  * Every query is a declarative DataFrame plan: filters and column
  * pruning reach the parquet scan, small dimension sides are
  * broadcast explicitly, and aggregates use the [[Num]] decimal
  * recipe so results hash-match the oracle bit-for-bit.
  */
object Relational {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables(spark, sfDir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // AGG-1/2 + FLT: TPC-H Q1-flavor pricing summary.
    "q1_pricing_summary" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Num.exactSum2(col("l_quantity")).as("sum_qty"),
          Num.exactSum2(col("l_extendedprice")).as("sum_base_price"),
          sum(Num.dec4(Num.dec2(col("l_extendedprice")) * (lit(1) - Num.dec2(col("l_discount")))))
            .cast(DoubleType).as("sum_disc_price"),
          Num.exactAvg2(col("l_quantity")).as("avg_qty"),
          Num.exactAvg2(col("l_extendedprice")).as("avg_price"),
          Num.exactAvg2(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // AGG-1: group-by max (reference frequencyAnalysis.py:31-35).
    "q2_groupby_max" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          max(Num.dec2(col("o_totalprice"))).cast(DoubleType).as("max_price"),
          min(Num.dec2(col("o_totalprice"))).cast(DoubleType).as("min_price"),
          count(lit(1)).as("n")
        )
        .orderBy(col("o_orderpriority"))
    },

    // AGG-2: group-by avg per composite key (frequencyAnalysis.py:38-51).
    "q3_groupby_avg" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(Num.exactAvg2(col("l_extendedprice")).as("avg_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // AGG-3: the custom weighted-mean UDAF (frequencyAnalysis.py:55-75),
    // weight = l_quantity, value = l_extendedprice.
    "q4_weighted_mean" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(WeightedMean(col("l_extendedprice"), col("l_quantity")), 6).as("wmean"))
        .orderBy(col("l_returnflag"))
    },

    // JN-1: inner equi-join with an explicitly broadcast dimension
    // (frequencyAnalysis.py:54,66 joins per-variant rows to a tiny
    // per-dataset table).
    "q5_join_broadcast" -> { (s, d) =>
      val li   = t(s, d, "lineitem")
      val part = t(s, d, "part")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          Num.exactSum2(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n")
        )
        .orderBy(col("p_brand"))
    },

    // JN-2: left-outer equi-join, optional side aggregated
    // (frequencyAnalysis.py:78 — MAF drives, EAF optional).
    "q6_join_left_outer" -> { (s, d) =>
      val cust   = t(s, d, "customer")
      val orders = t(s, d, "orders")
      cust
        .join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(Num.exactSum2(col("o_totalprice")), lit(0.0)).as("total_spent")
        )
        .orderBy(col("c_custkey"))
    },

    // JN-3: anti-join with an equi + theta residual — the shape of the
    // reference's versioned incremental diff (Stage.scala:249-266):
    // keep "inputs" (orders) with NO recorded "run" (lineitem) whose
    // timestamp is >= the input's version.
    "q7_anti_join_theta" -> { (s, d) =>
      val orders = t(s, d, "orders")
      val li     = t(s, d, "lineitem")
      orders
        .join(
          li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >= col("o_orderdate"),
          "left_anti"
        )
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Num.exactSum2(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // FLT-2: null/NaN predicate filter (frequencyAnalysis.py:20-21).
    "q8_filter_nan" -> { (s, d) =>
      t(s, d, "events")
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          Num.exactSum2(col("value")).as("sum_value")
        )
        .orderBy(col("event_type"))
    },

    // PRJ-1/PRJ-2: rename/alias projection + literal column
    // (frequencyAnalysis.py:25-28, :85).
    "q9_project_literal" -> { (s, d) =>
      t(s, d, "nation")
        .select(
          col("n_nationkey").as("nation_id"),
          col("n_name").as("nation"),
          lit("tpch").as("source_tag")
        )
        .orderBy(col("nation_id"))
    },

    // SRT + limit: deterministic top-k with unique tie-break.
    "q10_top_k" -> { (s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), Num.dec2(col("o_totalprice")).cast(DoubleType).as("price"))
    },

    // SET-1/SET-2: union + distinct (getmerge/header-dedup analogue).
    "q11_union_distinct" -> { (s, d) =>
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.union(sn).distinct().orderBy(col("nationkey"))
    },

    // Window functions: rank-per-group + running sum (beyond-parity
    // surface; Catalyst native).
    "q12_window" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val o = t(s, d, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      o.withColumn("order_seq", row_number().over(w))
        .withColumn(
          "running_spend",
          sum(Num.dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType)
        )
        .filter(col("order_seq") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("order_seq"), col("running_spend"))
        .orderBy(col("o_custkey"), col("order_seq"))
    },

    // S-1/S-2: basename/dirname as columnar expressions over a
    // synthesized path column (Implicits.scala:23-26 semantics).
    "q13_string_paths" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("path", concat_ws("/", col("source"), col("lang"), col("doc_id")))
        .select(
          col("doc_id"),
          element_at(split(col("path"), "/"), -1).as("basename"),
          regexp_extract(col("path"), "^(.*/)", 1).as("dirname")
        )
        .orderBy(col("doc_id"))
    },

    // S-8: JSON extraction from a string column (Config/commitRun
    // parsing, columnar form).
    "q14_json_extract" -> { (s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    },

    // S-5/S-6/S-7: timestamp bucketing + comparison.
    "q15_date_trunc" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"), Num.exactSum2(col("o_totalprice")).as("total"))
        .orderBy(col("month"))
    },

    // FLT-4/S-4: glob predicate + capture pushed down as codegen'd
    // regex (Glob.scala semantics, columnar form): match keys shaped
    // `src*/<lang>/...`, capture the source suffix, count per capture.
    "q16_glob_capture" -> { (s, d) =>
      val g = graft.core.Glob("src*/" ).regex // prefix form
      t(s, d, "documents")
        .withColumn("key", concat_ws("/", col("source"), col("lang"), col("doc_id")))
        .filter(col("key").rlike(g))
        .withColumn("capture", regexp_extract(col("key"), g, 1))
        .groupBy(col("capture"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("capture"))
    },

    // Multi-way join over the full snowflake with broadcast dims
    // (TPC-H Q5 flavor): revenue per nation.
    "q17_snowflake_join" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      val o  = t(s, d, "orders")
      val c  = t(s, d, "customer")
      val su = t(s, d, "supplier")
      val n  = t(s, d, "nation")
      val r  = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(Num.dec4(Num.dec2(col("l_extendedprice")) * (lit(1) - Num.dec2(col("l_discount")))))
            .cast(DoubleType).as("revenue")
        )
        .orderBy(col("n_name"))
    },

    // Rollup (grouping sets surface; Catalyst native).
    "q18_rollup" -> { (s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Num.exactSum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // The navigation/distribution window-function family in one
    // gate: lag/lead (value navigation), ntile (equal-height
    // bucketing), percent_rank and cume_dist (rank distributions) —
    // all over one fully-deterministic order (date, then unique key)
    // so every engine ranks identically. lag/lead copy values (no
    // arithmetic, bit-exact); the rank distributions are exact
    // rationals rounded at 6.
    "q38_window_functions" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .filter(col("o_custkey") < 500)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // Explicit GROUPING SETS (not derivable from rollup/cube): per-
    // flag totals, per-status totals, and the grand total in one
    // pass; grouping() flags disambiguate aggregation nulls from
    // data nulls — the part of the contract a naive union-of-groupbys
    // gets wrong.
    "q36_grouping_sets" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          Num.exactSum2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // Semi join (EXISTS): customers that placed at least one urgent order.
    "q19_semi_join" -> { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },

    // Set ops: nation keys with customers but no suppliers, and both.
    "q20_set_ops" -> { (s, d) =>
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      val both   = cn.intersect(sn).withColumn("which", lit("both"))
      val custOnly = cn.except(sn).withColumn("which", lit("customer_only"))
      both.unionByName(custOnly).orderBy(col("which"), col("nationkey"))
    },

    // Distinct aggregation: per segment, distinct nations + orders.
    "q21_distinct_agg" -> { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_nationkey")).as("n_nations"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    },

    // Conditional aggregation (sum/count over CASE).
    "q22_conditional_agg" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("l_returnflag") === "R", Num.dec2(col("l_quantity")))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast(DoubleType).as("returned_qty"),
          count(when(col("l_discount") > 0.05, lit(1))).as("n_discounted"),
          Num.exactSum2(col("l_quantity")).as("total_qty"))
        .orderBy(col("l_linestatus"))
    },

    // Correlated scalar subquery (Catalyst decorrelates to a join):
    // parts priced above their type's average.
    "q23_correlated_subquery" -> { (s, d) =>
      t(s, d, "part").createOrReplaceTempView("part_v")
      s.sql(
        """SELECT p_type, count(*) AS n_above
          |FROM part_v p
          |WHERE p_retailprice > (SELECT avg(p2.p_retailprice)
          |                       FROM part_v p2 WHERE p2.p_type = p.p_type)
          |GROUP BY p_type ORDER BY p_type""".stripMargin)
    },

    // The NOT IN null trap, pinned cross-engine: one NULL in the
    // subquery list makes `NOT IN` three-valued (never TRUE → zero
    // rows), while NOT EXISTS is the null-safe anti-join users
    // almost always meant. Same membership list both times (urgent
    // orders), but one injected NULL zeroes the NOT IN count while
    // NOT EXISTS reports the real complement — the DIFFERENCE is
    // what hashes.
    "q39_not_in_nulls" -> { (s, d) =>
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT
          |  (SELECT count(*) FROM customer_v
          |   WHERE c_custkey NOT IN
          |     (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
          |                  ELSE o_custkey END
          |      FROM orders_v WHERE o_orderpriority = '1-URGENT')) AS n_not_in,
          |  (SELECT count(*) FROM customer_v c
          |   WHERE NOT EXISTS
          |     (SELECT 1 FROM orders_v o WHERE o.o_custkey = c.c_custkey
          |        AND o.o_orderpriority = '1-URGENT')) AS n_not_exists""".stripMargin)
    },

    // TPC-H Q13 shape: customer order-count histogram via outer join
    // then count-of-counts.
    "q24_histogram" -> { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // AS-OF join (composed union-and-carry-forward operator) checked
    // against DuckDB's native ASOF JOIN: each event gets the user's
    // most recent order at-or-before the event time.
    "q25_asof_join" -> { (s, d) =>
      import graft.operators.TemporalJoins
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ords = t(s, d, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ots"))
        .agg(max(struct(col("o_orderkey").as("o_key"),
          Num.dec2(col("o_totalprice")).as("p"))).as("m"))
        .select(col("user_id"), col("ots"),
          col("m.o_key").as("o_key"),
          col("m.p").cast(DoubleType).as("o_price"))
      TemporalJoins.asOf(ev, ords, "user_id", "ts", "ots", Seq("o_key", "o_price"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("o_key"), col("o_price"))
        .orderBy(col("event_id"))
    },

    // The SAME as-of semantics through the custom-operator path:
    // AsofJoinPlan → AsofJoinStrategy → AsofJoinExec (co-partitioned
    // sorted streaming merge, O(1) state per partition) — gated by
    // the identical DuckDB ASOF JOIN oracle, so the custom physical
    // operator is hash-verified end-to-end, not just spec'd.
    "q42_asof_native" -> { (s, d) =>
      import graft.plans.AsofJoin
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ords = t(s, d, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ots"))
        .agg(max(struct(col("o_orderkey").as("o_key"),
          Num.dec2(col("o_totalprice")).as("p"))).as("m"))
        .select(col("user_id"), col("ots"),
          col("m.o_key").as("o_key"),
          col("m.p").cast(DoubleType).as("o_price"))
      AsofJoin.asOf(ev, ords, "user_id", "ts", "ots", Seq("o_key", "o_price"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("o_key"), col("o_price"))
        .orderBy(col("event_id"))
    },

    // Range join via bucket-and-residual (equi-join shuffle, not a
    // nested loop): follow-up events by the same user within the hour
    // after each anchor event. A self range join — both sides corpus-
    // sized, which is exactly the case the bucketing exists for.
    "q26_range_join" -> { (s, d) =>
      import graft.operators.TemporalJoins
      val hourUs = 3600L * 1000000L
      val ev = t(s, d, "events")
      val anchors = ev.select(
        col("user_id"), col("event_id").as("anchor_id"), col("ts").as("ats"))
      val follows = ev.select(
        col("user_id"), col("event_id").as("follow_id"), col("ts").as("fts"))
      TemporalJoins.rangeJoin(anchors, follows, "user_id",
          unix_micros(col("ats")), unix_micros(col("fts")), hourUs)
        .filter(col("follow_id") =!= col("anchor_id"))
        .groupBy(col("anchor_id"))
        .agg(count(lit(1)).as("n_follow"))
        .orderBy(col("anchor_id"))
    },

    // Interval OVERLAP join (both sides are intervals — the genomics
    // variants×regions shape, vs q26's point-in-window): per-user
    // activity intervals derived deterministically from the events
    // fixture, binned to the hour grid, residual-joined, each pair
    // emitted once at its first common bin (no distinct shuffle).
    // Overlap math stays in integer micros — exact on both engines.
    "q55_interval_overlap" -> { (s, d) =>
      import graft.operators.IntervalJoin
      val ev = t(s, d, "events").select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("sus"))
      val la = ev.filter(col("event_id") % 2 === 0).select(
        col("user_id"), col("event_id").as("a_id"), col("sus").as("a_s"),
        (col("sus") + (col("event_id") % 7200 + 60) * 1000000L).as("a_e"))
      val rb = ev.filter(col("event_id") % 2 === 1).select(
        col("user_id"), col("event_id").as("b_id"), col("sus").as("b_s"),
        (col("sus") + (col("event_id") % 5400 + 60) * 1000000L).as("b_e"))
      IntervalJoin.overlap(la, rb, "user_id", "a_s", "a_e", "b_s", "b_e",
          binSize = 3600L * 1000000L)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlap"),
          sum(least(col("a_e"), col("b_e")) -
            greatest(col("a_s"), col("b_s"))).as("overlap_us"))
        .orderBy(col("a_id"))
    },

    // Interval COALESCE (union/coverage — the q55 shape's other
    // half): per-user activity intervals merge into maximal disjoint
    // spans via one gaps-and-islands window pass; the oracle replays
    // the same running-max island assignment. Integer micros
    // throughout — exact on both engines.
    "q56_interval_coalesce" -> { (s, d) =>
      import graft.operators.IntervalJoin
      val ev = t(s, d, "events").select(col("user_id"),
        unix_micros(col("ts")).as("iv_s"),
        (unix_micros(col("ts")) + (col("event_id") % 7200 + 60) * 1000000L)
          .as("iv_e"))
      IntervalJoin.coalesce(ev, "user_id", "iv_s", "iv_e")
        .orderBy(col("user_id"), col("span_start"))
    },

    // Sketch aggregates, made cross-engine deterministic (the d4/a3
    // md5-bridge pattern): a hand-rolled HyperLogLog over Md5Bucket60
    // hashes (m=64 registers: bucket = top 6 bits, rank = leading
    // zeros of the 54-bit suffix + 1) whose registers, zero count,
    // and estimate the DuckDB oracle replays exactly — the harmonic
    // sum is kept in INTEGER arithmetic (Σ 2^(55-reg) ≤ 64·2^55 <
    // 2^63, exact in BIGINT on both engines) so no float fold order
    // can diverge. Alongside it, a deterministic sampled-quantile
    // sketch: an md5-threshold sample (bounded size — the rate is
    // the scale knob) + a manual order-statistic median, avoiding
    // engine-specific interpolation. Spark's built-in HLL++ sketches
    // stay covered by SketchSpec's error-bound check.
    "q28_sketches" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Md5Bucket60
      val li = t(s, d, "lineitem")
      // --- deterministic HLL on l_partkey, grouped by returnflag ---
      val mask54 = (1L << 54) - 1
      val hashed = li.select(
        col("l_returnflag"),
        Md5Bucket60(concat_ws("|", lit("q28hll"), col("l_partkey").cast("string"))).as("h"))
      val suffix = col("h").bitwiseAND(lit(mask54))
      val regs = hashed
        .select(col("l_returnflag"), shiftright(col("h"), 54).as("bucket"),
          when(suffix === 0L, lit(55))
            .otherwise(lit(55) - length(bin(suffix))).cast("int").as("rank"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(max(col("rank")).as("reg"))
      val hll = regs.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("nb"),
          sum(expr("shiftleft(1L, 55 - reg)")).as("s_present"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("bucket"), col("reg")))),
            x => concat(x.getField("bucket").cast("string"), lit(":"),
              x.getField("reg").cast("string"))), ",")).as("hll_digest"))
      val est = lit(0.709) * lit(4096.0) * lit(3.6028797018963968e16) /
        (col("s_present") + (lit(64L) - col("nb")) * lit(1L << 55)).cast("double")
      val hllOut = hll.select(col("l_returnflag"),
        est.cast("decimal(28,4)").cast(DoubleType).as("est_parts"),
        (lit(64L) - col("nb")).as("hll_zeros"),
        col("hll_digest"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      // --- deterministic sampled median of l_extendedprice ---
      val smp = li.select(
          col("l_returnflag"), Num.dec2(col("l_extendedprice")).as("price"),
          Md5Bucket60(concat_ws("|", lit("q28smp"),
            col("l_orderkey").cast("string"),
            col("l_linenumber").cast("string"))).as("hs"))
        .filter(col("hs") < lit(1L << 57)) // keep ~1/8, deterministic
      val w = Window.partitionBy("l_returnflag").orderBy(col("price"), col("hs"))
      val cw = Window.partitionBy("l_returnflag")
      val med = smp
        .select(col("l_returnflag"), col("price"),
          row_number().over(w).as("rn"), count(lit(1)).over(cw).as("n"))
        .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("(n + 2) div 2"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("sample_n"),
          (sum(col("price")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
            .as("median_price"))
      hllOut.join(exact, Seq("l_returnflag")).join(med, Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },

    // KMV (k-minimum-values / bottom-k theta) distinct sketch — the
    // MERGEABLE distinct-count structure: per returnflag the k=64
    // smallest md5-60bit hashes of DISTINCT part keys give
    // est = (k-1)·2^60 / h_k, and the "ALL" row is built from the
    // per-flag sketches ALONE (union the k-min sets, re-take the k
    // smallest) — the property that lets 1000 executors sketch
    // partitions independently and a coordinator merge fixed-size
    // state. Deterministic md5 hashing (the q28/d4 bridge) means the
    // oracle replays every register; the kmin digest pins the whole
    // sketch, not just the estimate. Bottom-k is a bounded map-side
    // aggregation (BottomKAgg — the sketch-building reduction
    // itself): the window form would sort the whole corpus-sized
    // distinct-hash relation inside each flag's single partition —
    // with 3 flags, 3 tasks sorting everything; the aggregator ships
    // ≤k longs per flag per partition. The ALL row merges the
    // per-flag k-min sets the same way (≤ flags×k input rows).
    "q43_kmv_distinct" -> { (s, d) =>
      import graft.functions.{BottomKAgg, Md5Bucket60}
      val k  = 64
      val li = t(s, d, "lineitem")
      val hashed = li.select(
          col("l_returnflag").as("scope"),
          Md5Bucket60(concat_ws("|", lit("q43"),
            col("l_partkey").cast("string"))).as("h"))
        .distinct()
      val mins = hashed
        .groupBy(col("scope"))
        .agg(BottomKAgg(col("h"), k).as("kmin"))
        .select(col("scope"), posexplode(col("kmin")).as(Seq("pos", "h")))
        .select(col("scope"), col("h"), (col("pos") + 1).as("rn"))
      val allMins = mins.select(col("h")).distinct()
        .agg(BottomKAgg(col("h"), k).as("kmin"))
        .select(posexplode(col("kmin")).as(Seq("pos", "h")))
        .select(lit("ALL").as("scope"), col("h"), (col("pos") + 1).as("rn"))
      val sketches = mins.select(col("scope"), col("h"), col("rn"))
        .unionByName(allMins)
        .groupBy(col("scope"))
        .agg(
          count(lit(1)).as("n_mins"),
          max(when(col("rn") === k, col("h"))).as("kth_hash"),
          md5(array_join(transform(array_sort(collect_list(col("h"))),
            x => x.cast("string")), ",").cast("binary")).as("kmin_digest"))
      val twoPow60 = 1152921504606846976.0
      val exact = li.groupBy(col("l_returnflag").as("scope"))
        .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
        .unionByName(li.agg(countDistinct(col("l_partkey")).as("exact_distinct"))
          .select(lit("ALL").as("scope"), col("exact_distinct")))
      sketches.join(exact, Seq("scope"))
        .select(col("scope"),
          when(col("n_mins") < k, col("n_mins").cast(DoubleType))
            .otherwise((lit((k - 1).toDouble) * lit(twoPow60) /
              col("kth_hash").cast(DoubleType))
              .cast("decimal(28,4)").cast(DoubleType)).as("est_distinct"),
          col("exact_distinct"), col("kth_hash"), col("kmin_digest"))
        .orderBy(col("scope"))
    },

    // Z-order (Morton) codes — the clustering key of a
    // multi-dimensional layout: low 20 bits of (custkey, orderkey)
    // interleave into one long, entirely in codegen'd shift/mask/or
    // built-ins. Gated on the first 1000 curve positions (zval ties
    // broken by orderkey).
    "q45_zorder" -> { (s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          graft.functions.ZOrder.bucketed(
            Seq(col("o_custkey"), col("o_orderkey")), bits = 20).as("zval"))
        .orderBy(col("zval"), col("o_orderkey"))
        .limit(1000)
    },

    // Bloom-filter join pruning with exact false-positive
    // accounting: the dim side (suppliers of nations < 13) hashes
    // into a 512-slot space with 4 seeded md5 hashes and only the
    // occupied-slot set broadcasts; every distinct fact key reports
    // its bloom verdict AND true membership, so the filter's exact
    // collision set hashes — not just the final (always-exact) join.
    // BloomPruneSpec proves no-false-negatives and pruned ≡ plain
    // semi-join.
    "q46_bloom_prune" -> { (s, d) =>
      graft.operators.BloomPrune.candidacyReport(
          fact = t(s, d, "lineitem"), dim = t(s, d, "supplier")
            .filter(col("s_nationkey") < 13),
          factKey = col("l_suppkey"), dimKey = col("s_suppkey"),
          seedPrefix = "q46b", k = 4, m = 512)
        .select(col("key").as("suppkey"), col("bloom_hit"), col("is_member"))
        .orderBy(col("suppkey"))
    },

    // Declarative data-quality validation (the Deequ/expectations
    // pattern): six scan-pass checks fold into ONE aggregation over
    // lineitem (single scan + associative partials no matter how
    // many checks), plus a key-uniqueness aggregate and an orders→
    // customer referential anti-join, all unioned into one exact-
    // integer report the oracle replays.
    "q49_validation" -> { (s, d) =>
      import graft.operators.Validate
      import graft.operators.Validate.Check
      val li = t(s, d, "lineitem")
      val scanChecks = Validate.report(li, Seq(
        Check("li_orderkey_not_null", col("l_orderkey").isNull),
        Check("li_quantity_positive", col("l_quantity") <= 0),
        Check("li_quantity_upper", col("l_quantity") > 50),
        // tolerance check: violations exist and stay under budget, so
        // the report's non-zero/non-trivial branches are exercised
        Check("li_quantity_gt45", col("l_quantity") > 45, maxViolations = 1000000L),
        Check("li_discount_range", col("l_discount") < 0 || col("l_discount") > 0.1),
        Check("li_price_nonneg", col("l_extendedprice") < 0),
        Check("li_flag_domain", !col("l_returnflag").isin("A", "N", "R"))))
      val uniq = Validate.uniqueness(li, "li_key_unique",
        Seq("l_orderkey", "l_linenumber"))
      val ref = Validate.referential(
        t(s, d, "orders"), "o_custkey", t(s, d, "customer"), "c_custkey",
        "orders_custkey_ref")
      scanChecks.unionByName(uniq).unionByName(ref)
        .orderBy(col("check"))
    },

    // Fixed-iteration PageRank over the customer↔supplier bipartite
    // graph (symmetric edges from lineitem⋈orders) — the third
    // iterative distributed algorithm (CC, k-means, PageRank), made
    // cross-engine replayable by quantizing per-edge contributions
    // to DECIMAL(24,12) before the order-independent sum and
    // rounding each round's ranks to 9 decimals. The oracle unrolls
    // the same two rounds.
    "g1_pagerank" -> { (s, d) =>
      val ed = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
          Seq("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 1000000L).as("p"))
        .distinct()
      val edges = ed.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(ed.select(col("p").as("src"), col("c").as("dst")))
      graft.operators.PageRank.run(edges, iters = 2)
        .orderBy(col("id"))
    },

    // Weighted PageRank: rank flows proportionally to relationship
    // strength — the customer↔supplier edge carries its lineitem
    // count, so high-volume pairs dominate. Same oracle style as g1
    // (both rounds unrolled to bit equality), weights exact longs.
    "g4_pagerank_weighted" -> { (s, d) =>
      val ed = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
          Seq("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), (col("l_suppkey") + 1000000L).as("p"))
        .agg(count(lit(1)).as("w"))
      val edges = ed.select(col("c").as("src"), col("p").as("dst"), col("w"))
        .unionByName(ed.select(col("p").as("src"), col("c").as("dst"), col("w")))
      graft.operators.PageRank.runWeighted(edges, iters = 2)
        .orderBy(col("id"))
    },

    // Triangle counting over the part co-purchase graph (parts are
    // adjacent when one order contains both): degree-ordered
    // orientation bounds every node's wedge fan-out to O(√m), so the
    // hub that breaks a naive neighborhood² join is exactly the node
    // the orientation demotes — the Suri–Vassilvitskii scheme. The
    // oracle replays the same triangle set via canonical a<b<c
    // joins; counts agree because orientation only changes discovery
    // order, never the triangle set.
    "g2_triangles" -> { (s, d) =>
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val a  = li.select(col("l_orderkey"), col("l_partkey").as("u"))
      val b  = li.select(col("l_orderkey"), col("l_partkey").as("v"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("u") < col("v"))
        .select(col("u"), col("v"))
      graft.operators.Triangles.perNode(edges)
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    },

    // BFS shortest-path hops over a sparse co-purchase graph (one
    // edge per even order: its line-1 part — line-2 part), from the
    // minimum part: seven populated levels plus an unreached fringe
    // (everything past 6 hops reports -1), so the level-synchronous
    // loop genuinely iterates while the bench stays round-bounded. The oracle replays the whole expansion with a
    // recursive CTE — frontier semantics, cap, and -1 fringe all
    // hash-checked.
    "g3_bfs" -> { (s, d) =>
      val li = t(s, d, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(2)) === 0)
      val l1 = li.filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_partkey").as("u"))
      val l2 = li.filter(col("l_linenumber") === 2)
        .select(col("l_orderkey"), col("l_partkey").as("v"))
      val e0 = l1.join(l2, Seq("l_orderkey"))
        .filter(col("u") =!= col("v"))
        .select(col("u"), col("v"))
      val edges = e0.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
        .distinct()
      val source = edges.agg(min(col("src")).as("id"))
      graft.operators.Bfs.distances(edges, source, maxHops = 6)
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    },

    // Correlation / regression aggregates from exact decimal moment
    // sums — corr(), covar, regr_slope are all order-dependent float
    // folds engine-internally, so none hash cross-engine directly;
    // the five raw moments (Σx, Σy, Σx², Σy², Σxy) in DECIMAL are
    // exact and order-independent (the Num recipe), and one identical
    // double-expression tree on top gives bit-stable statistics. One
    // shuffle, mergeable partials — the distributed form of every
    // two-variable statistic.
    "q48_corr" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      val x  = Num.dec2(col("l_quantity"))
      val y  = Num.dec2(col("l_extendedprice"))
      val agg = li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      def dd(c: String) = col(c).cast(DoubleType)
      val n     = dd("n")
      val covN  = n * dd("sxy") - dd("sx") * dd("sy")
      val varxN = n * dd("sxx") - dd("sx") * dd("sx")
      val varyN = n * dd("syy") - dd("sy") * dd("sy")
      val slope = covN / varxN
      agg.select(col("l_returnflag"), col("n"),
          round(covN / sqrt(varxN * varyN), 6).as("corr_qty_price"),
          round(covN / (n * n), 6).as("covar_pop"),
          round(slope, 6).as("regr_slope"),
          round((dd("sy") - slope * dd("sx")) / n, 6).as("regr_intercept"),
          round(dd("sx") / n, 6).as("avg_qty"),
          round(dd("sy") / n, 6).as("avg_price"))
        .orderBy(col("l_returnflag"))
    },

    // Count-Min sketch — the mergeable FREQUENCY structure (HLL
    // counts distinct, KMV counts distinct mergeably, CM estimates
    // per-key counts): d=3 seeded md5 hash rows × w=256 counter
    // slots; a counter is a SUM, so partials merge associatively and
    // order can't perturb anything — 1000 executors sketch
    // partitions independently into 3×256 longs. Every distinct key
    // then reports est = min over rows of its slot counter vs its
    // exact count; overcount = est − exact ≥ 0 (CM never
    // undercounts) and the full per-key error surface hashes.
    "q47_countmin" -> { (s, d) =>
      import graft.functions.Md5Bucket60
      val dRows = 3
      val w     = 256
      val li = t(s, d, "lineitem").select(col("l_suppkey").as("key"))
      def slot(j: Int, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        pmod(Md5Bucket60(concat_ws("|", lit(s"q47r$j"), c.cast("string"))), lit(w.toLong))
      // ONE corpus scan: aggregate per key first (map-side combine →
      // a distinct-key-sized shuffle), then derive the counters FROM
      // the key table — a slot's counter is Σ exact_n over the keys
      // hashing to it, identical by arithmetic to counting the raw
      // rows, so the d·n per-row md5 evaluations and the second
      // corpus scan collapse to d·|keys| (the r19 shape hashed every
      // row 3× AND re-scanned the corpus for the per-key counts).
      // The checkpoint pins the key-sized aggregate so the counter
      // and probe branches share it instead of re-scanning lineitem.
      val keys = li.groupBy(col("key")).agg(count(lit(1)).as("exact_n"))
        .localCheckpoint(false)
      val counters = keys
        .select(col("exact_n"),
          posexplode(array((0 until dRows).map(j => slot(j, col("key"))): _*))
            .as(Seq("row", "slot")))
        .groupBy(col("row"), col("slot"))
        .agg(sum(col("exact_n")).as("c"))
      val probes = keys
        .select(col("key"), col("exact_n"),
          posexplode(array((0 until dRows).map(j => slot(j, col("key"))): _*))
            .as(Seq("row", "slot")))
      probes.join(counters, Seq("row", "slot"))
        .groupBy(col("key"), col("exact_n"))
        .agg(min(col("c")).as("est_n"))
        .select(col("key").as("suppkey"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overcount"))
        .orderBy(col("suppkey"))
    },

    // SCD2 dimension history from a change feed: per customer, the
    // order-priority attribute tracked over (o_orderdate, o_orderkey)
    // sequence — consecutive no-change rows collapse, each surviving
    // change opens a validity interval closed by the next change
    // (null = current). Two window passes over the same
    // (custkey-partitioned) sort — one shuffle, no self-join, the
    // standard warehouse history-build at any scale.
    "q44_scd2" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val chg = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderpriority"))
        .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      chg
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to_ts", lead(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("version"),
          col("o_orderpriority").as("priority"),
          // o_orderdate is TIMESTAMP_NTZ; the session is pinned UTC,
          // so the cast is an identity re-tag
          unix_micros(col("o_orderdate").cast("timestamp")).as("valid_from_us"),
          unix_micros(col("valid_to_ts").cast("timestamp")).as("valid_to_us"),
          col("valid_to_ts").isNull.cast("int").as("is_current"))
        .orderBy(col("o_custkey"), col("version"))
    },

    // Pivot: per returnflag, quantity sums pivoted by linestatus.
    "q29_pivot" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Num.exactSum2(col("l_quantity")))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy(col("l_returnflag"))
    },

    // Unpivot (melt wide → long).
    "q30_unpivot" -> { (s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"),
          Num.dec2(col("c_acctbal")).cast(DoubleType).as("acctbal"),
          col("c_nationkey").cast(DoubleType).as("nation"))
        .unpivot(Array(col("c_custkey")), Array(col("acctbal"), col("nation")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast("decimal(18,2)")).cast(DoubleType).as("total"))
        .orderBy(col("measure"))
    },

    // Null semantics: nullif/coalesce, count(col) vs count(*),
    // group-by over a nullable key.
    "q31_null_semantics" -> { (s, d) =>
      t(s, d, "orders")
        .withColumn("maybe_status", nullif(col("o_orderstatus"), lit("O")))
        .groupBy(col("maybe_status"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("maybe_status")).as("n_nonnull"),
          coalesce(max(col("maybe_status")), lit("none")).as("status_or_default"))
        .orderBy(col("maybe_status").asc_nulls_first)
    },

    // String function breadth over a derived column.
    "q32_string_fns" -> { (s, d) =>
      t(s, d, "nation")
        .select(
          col("n_nationkey").as("k"),
          upper(col("n_name")).as("uname"),
          lower(col("n_name")).as("lname"),
          substring(col("n_name"), 1, 3).as("pre3"),
          lpad(col("n_name"), 12, ".").as("padded"),
          regexp_replace(col("n_name"), "[AEIOU]", "_").as("devoweled"),
          length(col("n_name")).cast(LongType).as("len"),
          levenshtein(col("n_name"), lit("UNITED STATES")).cast(LongType).as("lev_us"))
        .orderBy(col("k"))
    },

    // SQL higher-order array functions (transform/filter/aggregate).
    "q33_array_hof" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .select(
          col("doc_id"),
          size(filter(col("toks"), t => length(t) > 4)).cast(LongType).as("n_long"),
          size(array_distinct(transform(col("toks"), t => substring(t, 1, 1))))
            .cast(LongType).as("n_initials"),
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("total_len"))
        .orderBy(col("doc_id"))
    },

    // Timestamp arithmetic: datediff / date_add / extract.
    "q34_date_arith" -> { (s, d) =>
      t(s, d, "orders")
        .select(
          col("o_orderkey"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
            .cast(LongType).as("days_to_eoy"),
          date_add(col("o_orderdate").cast("date"), 90).as("due_date"),
          year(col("o_orderdate")).cast(LongType).as("y"),
          quarter(col("o_orderdate")).cast(LongType).as("q"),
          dayofweek(col("o_orderdate")).cast(LongType).as("dow"))
        .orderBy(col("o_orderkey"))
        .limit(1000)
    },

    // Map-side bounded top-k per key (TopKAgg aggregator) — same
    // result as the window formulation but only k rows per key per
    // partition reach the shuffle.
    "q35_topk_per_group" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAgg(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("rank0", "st")))
        .select(col("o_custkey"), col("st.tag").as("o_orderkey"),
          (col("rank0") + 1).cast("int").as("rank"),
          Num.dec2(col("st.score")).cast(DoubleType).as("price"))
        .orderBy(col("o_custkey"), col("rank"))
    },

    // Exact interpolated percentiles per group.
    "q27_percentiles" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q25_qty"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("q75_price"))
        .orderBy(col("l_returnflag"))
    },

    // Full CUBE lattice: all four grouping sets of (flag, status) in
    // ONE pass — Spark expands the lattice inside the aggregate
    // (each input row feeds every set's partial), no re-scan per
    // level; grouping() disambiguates real NULLs from subtotal rows.
    "q50_cube" -> { (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Num.exactSum2(col("l_quantity")).as("sum_qty"),
          Num.exactSum2(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // The q28 HLL as a first-class TypedImperativeAggregate: one
    // 64-byte serialized buffer per group, map-side partial merge —
    // no groupBy(bucket) shuffle at all — with the SAME register
    // math, so the oracle replays the identical sketch. This is the
    // custom-Catalyst aggregate surface (imperative buffer), next to
    // the codegen expressions and the AS-OF plan ladder.
    "q53_hll_agg" -> { (s, d) =>
      import graft.functions.HllDistinct
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(HllDistinct(concat_ws("|", lit("q28hll"),
          col("l_partkey").cast("string"))).as("hll"))
        .select(col("l_returnflag"),
          col("hll.est_parts").as("est_parts"),
          col("hll.hll_zeros").as("hll_zeros"),
          col("hll.hll_digest").as("hll_digest"))
        .orderBy(col("l_returnflag"))
    },

    // Bottom-k (KMV) quantile sketch: p25/p50/p75/p90 of extended
    // price per return flag from a 256-row deterministic hash sample
    // per group — the bounded-state mergeable form of q27's exact
    // percentiles. The oracle replays the identical sample (ORDER BY
    // shared md5-hash LIMIT k) and the identical lo+(hi−lo)·frac
    // interpolation, so the doubles match bit-for-bit.
    "q54_kmv_quantiles" -> { (s, d) =>
      import graft.functions.KmvQuantiles
      t(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"),
          concat_ws("|", lit("q54"), col("l_orderkey").cast("string"),
            col("l_linenumber").cast("string")).as("kk"),
          col("l_extendedprice").as("v"))
        .groupBy(col("grp"))
        .agg(KmvQuantiles(col("kk"), col("v"), k = 256,
          qs = Seq(0.25, 0.5, 0.75, 0.9)).as("sk"))
        .select(col("grp"), col("sk.n_sample").as("n_sample"),
          col("sk.quantiles")(0).as("q25"),
          col("sk.quantiles")(1).as("q50"),
          col("sk.quantiles")(2).as("q75"),
          col("sk.quantiles")(3).as("q90"))
        .orderBy(col("grp"))
    },

    // Item-item collaborative filtering ("bought X, also bought Y"):
    // basket co-occurrence counts → exact Jaccard over integer
    // support counts → top-3 neighbors per item. The co-occurrence
    // join is keyed on the basket id and bounded by Σ basket-size²
    // (downsample pathological baskets at ingest — the standard cap);
    // supports join back keyed on item. All ratios divide exact
    // integers, so cross-engine ordering ties resolve identically.
    // Plan shape (the naive form is a distinct → basket self-join →
    // two sort-merge support joins → row_number window — five full
    // shuffles of the pair relation): baskets group ONCE on the order
    // key (collect_set is the in-basket dedup), pairs and the
    // symmetric view generate MAP-SIDE by double explode over the
    // (ingest-capped) basket arrays, the supports table is items-
    // sized — smaller than the pair relation by the Σ basket-size²
    // factor — so both support joins broadcast WHEN a pre-flight
    // proves the catalog under a fixed row bound: l_partkey is the
    // part catalog's FK, so the bound is the catalog table's row
    // count — parquet footer metadata, no column decode. Above the
    // bound the identical plan runs SMJ, so the hint can never cover
    // an unbounded build side (PlanAuditSpec's keyedBroadcastOk
    // rationale). Top-3 is a bounded map-side aggregation
    // (TopKPayloadAgg), not a window: the window totally sorts every
    // scored pair, the aggregator ships ≤3 rows per item per
    // partition. Net: two pair-sized shuffles (baskets, co-counts).
    // Measured at sf10: 92 → 42 s (SCALE.md round-14 sweep).
    "r1_item_similarity" -> { (s, d) =>
      // Broadcast cap in CATALOG ROWS, sized by what a HashedRelation
      // actually costs per entry — UnsafeRow (key + count + header)
      // plus LongToUnsafeRowMap page/index overhead is ~64 B, not the
      // 16 B of raw payload — so 4M rows ≈ 256 MB per broadcast, two
      // live at once, comfortably inside the default 8g driver. (TPC-H
      // part crosses 4M rows around sf20; above it the same plan runs
      // SMJ.)
      val maxBroadcastItems = 4000000L
      val catalogSmall = t(s, d, "part").count() <= maxBroadcastItems
      def dim(df: DataFrame): DataFrame = if (catalogSmall) broadcast(df) else df
      val baskets = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("items"))
      val cx = baskets.select(explode(col("items")).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("cx"))
      val co = baskets
        .select(explode(col("items")).as("u"), col("items"))
        .select(col("u"), explode(col("items")).as("v"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cxy"))
      val sym = co.select(explode(array(
          struct(col("u").as("item"), col("v").as("other"), col("cxy")),
          struct(col("v").as("item"), col("u").as("other"), col("cxy")))).as("e"))
        .select(col("e.item").as("item"), col("e.other").as("other"),
          col("e.cxy").as("cxy"))
      val j = sym
        .join(dim(cx.select(col("x").as("item"), col("cx").as("c1"))),
          Seq("item"))
        .join(dim(cx.select(col("x").as("other"), col("cx").as("c2"))),
          Seq("other"))
        .withColumn("j", col("cxy").cast(DoubleType) /
          (col("c1") + col("c2") - col("cxy")).cast(DoubleType))
      j.groupBy(col("item"))
        .agg(graft.functions.TopKPayloadAgg(
          col("j"), col("other"), col("cxy"), 3).as("top"))
        .select(col("item"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("item"), col("t.tag").as("other"),
          col("t.payload").as("cxy"),
          round(col("t.score"), 6).as("jaccard"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy(col("item"), col("rank"))
    },

    // Skyline / Pareto front: the cheapest-and-largest parts no other
    // part beats on both criteria. Exact two-phase prune — the
    // broadcast sample-skyline anti-join drops ~everything without
    // shuffling the table; only the skyline-sized candidate set pays
    // the non-equi dominance join. Ties keep every member; the
    // oracle is the textbook NOT EXISTS dominance predicate.
    "q52_skyline" -> { (s, d) =>
      val parts = t(s, d, "part")
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      graft.operators.Skyline.pareto(
          parts, minimize = Seq("p_retailprice"), maximize = Seq("p_size"))
        .orderBy(col("p_partkey"))
    },

    // ANALYZE-style column statistics — the stats collection a
    // cost-based optimizer feeds on: per column, non-null count,
    // exact NDV, min/max, and equi-depth quartile boundaries. One
    // unpivot (rows × 4, map-side) into one grouped aggregate; at
    // 100 TB the exact NDV/percentiles swap for the q28/q43 sketches,
    // same plan shape.
    "q51_column_stats" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      li.unpivot(Array.empty, cols.map(col).toArray, "col_name", "x")
        .groupBy(col("col_name"))
        .agg(
          count(col("x")).as("n_notnull"),
          countDistinct(col("x")).as("ndv"),
          round(min(col("x")), 6).as("min_x"),
          round(max(col("x")), 6).as("max_x"),
          round(expr("percentile(x, 0.25)"), 4).as("p25"),
          round(expr("percentile(x, 0.5)"), 4).as("p50"),
          round(expr("percentile(x, 0.75)"), 4).as("p75"))
        .orderBy(col("col_name"))
    }
  )

  val oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_groupby_max" ->
      """SELECT o_orderpriority,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q3_groupby_avg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q4_weighted_mean" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wmean
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q5_join_broadcast" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q6_join_left_outer" ->
      """SELECT c_custkey, c_name,
        |  count(o_orderkey) AS n_orders,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "q7_anti_join_theta" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate >= o.o_orderdate)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q8_filter_nan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q9_project_literal" ->
      """SELECT n_nationkey AS nation_id, n_name AS nation, 'tpch' AS source_tag
        |FROM nation ORDER BY nation_id""".stripMargin,
    "q10_top_k" ->
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q11_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q12_window" ->
      """SELECT o_custkey, o_orderkey, order_seq, running_spend FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER w AS order_seq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC))
        |WHERE order_seq <= 3 ORDER BY o_custkey, order_seq""".stripMargin,
    "q13_string_paths" ->
      """SELECT doc_id,
        |  regexp_extract(path, '([^/]*)$', 1) AS basename,
        |  regexp_extract(path, '^(.*/)', 1) AS dirname
        |FROM (SELECT doc_id, source || '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q14_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q15_date_trunc" ->
      """SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q16_glob_capture" ->
      """SELECT regexp_extract(key, '^src([^/]*)/', 1) AS capture, count(*) AS n
        |FROM (SELECT source || '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS key FROM documents)
        |WHERE regexp_matches(key, '^src([^/]*)/')
        |GROUP BY 1 ORDER BY capture""".stripMargin,
    "q17_snowflake_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q18_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q38_window_functions" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders WHERE o_custkey < 500
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q36_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q19_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q20_set_ops" ->
      """SELECT nationkey, 'both' AS which FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS which FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT SELECT s_nationkey FROM supplier)
        |ORDER BY which, nationkey""".stripMargin,
    "q21_distinct_agg" ->
      """SELECT c_mktsegment,
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
        |  count(*) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q22_conditional_agg" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_quantity AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_qty,
        |  count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q23_correlated_subquery" ->
      """SELECT p_type, count(*) AS n_above
        |FROM part p
        |WHERE p_retailprice > (SELECT avg(p2.p_retailprice)
        |                       FROM part p2 WHERE p2.p_type = p.p_type)
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    "q39_not_in_nulls" ->
      """SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN
        |     (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |                  ELSE o_custkey END
        |      FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_not_in,
        |  (SELECT count(*) FROM customer c
        |   WHERE NOT EXISTS
        |     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |        AND o.o_orderpriority = '1-URGENT')) AS n_not_exists""".stripMargin,
    "q24_histogram" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q25_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS ots,
        |    CAST(max(o_orderkey) AS BIGINT) AS o_key,
        |    CAST(arg_max(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS DOUBLE) AS o_price
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
        |  o.o_key, o.o_price
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.ots
        |ORDER BY e.event_id""".stripMargin,

    // same oracle as q25: the custom exec must be value-identical
    "q42_asof_native" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS ots,
        |    CAST(max(o_orderkey) AS BIGINT) AS o_key,
        |    CAST(arg_max(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS DOUBLE) AS o_price
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
        |  o.o_key, o.o_price
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.ots
        |ORDER BY e.event_id""".stripMargin,
    "q26_range_join" ->
      """SELECT a.event_id AS anchor_id, count(*) AS n_follow
        |FROM events a JOIN events b
        |  ON b.user_id = a.user_id
        |  AND b.event_id <> a.event_id
        |  AND b.ts >= a.ts
        |  AND b.ts < a.ts + INTERVAL 1 HOUR
        |GROUP BY anchor_id ORDER BY anchor_id""".stripMargin,
    "q55_interval_overlap" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS sus FROM events),
        |a AS (
        |  SELECT user_id, event_id AS a_id, sus AS a_s,
        |    sus + (event_id % 7200 + 60) * 1000000 AS a_e
        |  FROM ev WHERE event_id % 2 = 0),
        |b AS (
        |  SELECT user_id, event_id AS b_id, sus AS b_s,
        |    sus + (event_id % 5400 + 60) * 1000000 AS b_e
        |  FROM ev WHERE event_id % 2 = 1)
        |SELECT a_id, count(*) AS n_overlap,
        |  CAST(sum(least(a_e, b_e) - greatest(a_s, b_s)) AS BIGINT) AS overlap_us
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND a_s < b_e AND b_s < a_e
        |GROUP BY a_id ORDER BY a_id""".stripMargin,
    "q56_interval_coalesce" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (event_id % 7200 + 60) * 1000000 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM ev WHERE s < e),
        |i AS (
        |  SELECT user_id, s, e,
        |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m)
        |SELECT user_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_intervals
        |FROM i GROUP BY user_id, island ORDER BY user_id, span_start""".stripMargin,
    "q29_pivot" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q30_unpivot" ->
      """SELECT measure, count(*) AS n,
        |  CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT c_custkey, 'acctbal' AS measure,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS val FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'nation' AS measure,
        |    CAST(c_nationkey AS DOUBLE) AS val FROM customer)
        |GROUP BY measure ORDER BY measure""".stripMargin,
    "q31_null_semantics" ->
      """SELECT nullif(o_orderstatus, 'O') AS maybe_status,
        |  count(*) AS n_rows,
        |  count(nullif(o_orderstatus, 'O')) AS n_nonnull,
        |  coalesce(max(nullif(o_orderstatus, 'O')), 'none') AS status_or_default
        |FROM orders GROUP BY 1 ORDER BY maybe_status ASC NULLS FIRST""".stripMargin,
    "q32_string_fns" ->
      """SELECT n_nationkey AS k,
        |  upper(n_name) AS uname,
        |  lower(n_name) AS lname,
        |  substring(n_name, 1, 3) AS pre3,
        |  lpad(n_name, 12, '.') AS padded,
        |  regexp_replace(n_name, '[AEIOU]', '_', 'g') AS devoweled,
        |  CAST(length(n_name) AS BIGINT) AS len,
        |  CAST(levenshtein(n_name, 'UNITED STATES') AS BIGINT) AS lev_us
        |FROM nation ORDER BY k""".stripMargin,
    "q33_array_hof" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(toks, t -> strlen(t) > 4)) AS BIGINT) AS n_long,
        |  CAST(len(list_distinct(list_transform(toks, t -> substr(t, 1, 1)))) AS BIGINT) AS n_initials,
        |  CAST(list_sum(list_transform(toks, t -> strlen(t))) AS BIGINT) AS total_len
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q34_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
        |  CAST(o_orderdate AS DATE) + 90 AS due_date,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin,
    "q35_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank,
        |  CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "q27_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS q25_qty,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS q75_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q50_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    // same register replay as q28's HLL section — the aggregate must
    // produce the identical sketch
    "q53_hll_agg" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    (CAST('0x' || substr(md5('q28hll|' || CAST(l_partkey AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT AS h
        |  FROM lineitem
        |), br AS (
        |  SELECT l_returnflag, h >> 54 AS bucket,
        |    MAX(CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
        |             ELSE 55 - length(bin(h & ((1::BIGINT << 54) - 1))) END) AS reg
        |  FROM h GROUP BY 1, 2
        |), hll AS (
        |  SELECT l_returnflag, count(*) AS nb,
        |    SUM(1::BIGINT << (55 - reg)) AS s_present,
        |    md5(string_agg(bucket || ':' || reg, ',' ORDER BY bucket)) AS hll_digest
        |  FROM br GROUP BY 1
        |)
        |SELECT l_returnflag,
        |  CAST(CAST(0.709::DOUBLE * 4096.0::DOUBLE * 36028797018963968.0::DOUBLE
        |    / CAST(s_present + (64 - nb) * (1::BIGINT << 55) AS DOUBLE) AS DECIMAL(28,4)) AS DOUBLE) AS est_parts,
        |  CAST(64 - nb AS BIGINT) AS hll_zeros, hll_digest
        |FROM hll ORDER BY l_returnflag""".stripMargin,

    "q54_kmv_quantiles" ->
      """WITH h AS (
        |  SELECT l_returnflag AS grp, l_extendedprice AS v,
        |    (CAST('0x' || substr(md5('q54|' || CAST(l_orderkey AS VARCHAR)
        |      || '|' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT AS hk
        |  FROM lineitem),
        |samp AS (
        |  SELECT grp, v FROM (
        |    SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY hk, v) AS rn
        |    FROM (SELECT DISTINCT grp, v, hk FROM h))
        |  WHERE rn <= 256),
        |ord AS (
        |  SELECT grp, v,
        |    row_number() OVER (PARTITION BY grp ORDER BY v) - 1 AS rv,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM samp)
        |SELECT grp, CAST(max(n) AS BIGINT) AS n_sample,
        |  round(max(CASE WHEN rv = CAST(floor(0.25 * (n - 1)) AS BIGINT) THEN v END)
        |    + (max(CASE WHEN rv = CAST(ceil(0.25 * (n - 1)) AS BIGINT) THEN v END)
        |       - max(CASE WHEN rv = CAST(floor(0.25 * (n - 1)) AS BIGINT) THEN v END))
        |      * (0.25 * (n - 1) - floor(0.25 * (n - 1))), 9) AS q25,
        |  round(max(CASE WHEN rv = CAST(floor(0.5 * (n - 1)) AS BIGINT) THEN v END)
        |    + (max(CASE WHEN rv = CAST(ceil(0.5 * (n - 1)) AS BIGINT) THEN v END)
        |       - max(CASE WHEN rv = CAST(floor(0.5 * (n - 1)) AS BIGINT) THEN v END))
        |      * (0.5 * (n - 1) - floor(0.5 * (n - 1))), 9) AS q50,
        |  round(max(CASE WHEN rv = CAST(floor(0.75 * (n - 1)) AS BIGINT) THEN v END)
        |    + (max(CASE WHEN rv = CAST(ceil(0.75 * (n - 1)) AS BIGINT) THEN v END)
        |       - max(CASE WHEN rv = CAST(floor(0.75 * (n - 1)) AS BIGINT) THEN v END))
        |      * (0.75 * (n - 1) - floor(0.75 * (n - 1))), 9) AS q75,
        |  round(max(CASE WHEN rv = CAST(floor(0.9 * (n - 1)) AS BIGINT) THEN v END)
        |    + (max(CASE WHEN rv = CAST(ceil(0.9 * (n - 1)) AS BIGINT) THEN v END)
        |       - max(CASE WHEN rv = CAST(floor(0.9 * (n - 1)) AS BIGINT) THEN v END))
        |      * (0.9 * (n - 1) - floor(0.9 * (n - 1))), 9) AS q90
        |FROM ord GROUP BY grp, n ORDER BY grp""".stripMargin,

    "r1_item_similarity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |cx AS (SELECT l_partkey AS x, count(*) AS cx FROM li GROUP BY 1),
        |co AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS cxy
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT u AS item, v AS other, cxy FROM co
        |        UNION ALL SELECT v, u, cxy FROM co),
        |sc AS (
        |  SELECT s.item, s.other, s.cxy,
        |    CAST(s.cxy AS DOUBLE) / CAST(c1.cx + c2.cx - s.cxy AS DOUBLE) AS j
        |  FROM sym s
        |  JOIN cx c1 ON c1.x = s.item
        |  JOIN cx c2 ON c2.x = s.other),
        |rk AS (
        |  SELECT item, other, cxy, round(j, 6) AS jaccard,
        |    row_number() OVER (PARTITION BY item ORDER BY j DESC, other ASC) AS rank
        |  FROM sc)
        |SELECT item, other, cxy, jaccard, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 3
        |ORDER BY item, rank""".stripMargin,

    "q52_skyline" ->
      """SELECT p_partkey, p_size, p_retailprice
        |FROM part a
        |WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
        |  AND NOT EXISTS (
        |    SELECT 1 FROM part b
        |    WHERE b.p_retailprice <= a.p_retailprice
        |      AND b.p_size >= a.p_size
        |      AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin,

    "q51_column_stats" ->
      """WITH stacked AS (
        |  SELECT 'l_quantity' AS col_name, l_quantity AS x FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT col_name,
        |  count(x) AS n_notnull,
        |  CAST(count(DISTINCT x) AS BIGINT) AS ndv,
        |  round(min(x), 6) AS min_x,
        |  round(max(x), 6) AS max_x,
        |  round(quantile_cont(x, 0.25), 4) AS p25,
        |  round(quantile_cont(x, 0.5), 4) AS p50,
        |  round(quantile_cont(x, 0.75), 4) AS p75
        |FROM stacked GROUP BY col_name ORDER BY col_name""".stripMargin,
    "q28_sketches" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    (CAST('0x' || substr(md5('q28hll|' || CAST(l_partkey AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT AS h
        |  FROM lineitem
        |), br AS (
        |  SELECT l_returnflag, h >> 54 AS bucket,
        |    MAX(CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
        |             ELSE 55 - length(bin(h & ((1::BIGINT << 54) - 1))) END) AS reg
        |  FROM h GROUP BY 1, 2
        |), hll AS (
        |  SELECT l_returnflag, count(*) AS nb,
        |    SUM(1::BIGINT << (55 - reg)) AS s_present,
        |    md5(string_agg(bucket || ':' || reg, ',' ORDER BY bucket)) AS hll_digest
        |  FROM br GROUP BY 1
        |), ex AS (
        |  SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
        |  FROM lineitem GROUP BY 1
        |), smp AS (
        |  SELECT * FROM (
        |    SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |      (CAST('0x' || substr(md5('q28smp|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT AS hs
        |    FROM lineitem)
        |  WHERE hs < (1::BIGINT << 57)
        |), rn AS (
        |  SELECT l_returnflag, price,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY price, hs) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM smp
        |), med AS (
        |  SELECT l_returnflag, CAST(max(n) AS BIGINT) AS sample_n,
        |    CAST(SUM(price) AS DOUBLE) / count(*) AS median_price
        |  FROM rn WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1
        |)
        |SELECT hll.l_returnflag,
        |  CAST(CAST(0.709::DOUBLE * 4096.0::DOUBLE * 36028797018963968.0::DOUBLE
        |    / CAST(s_present + (64 - nb) * (1::BIGINT << 55) AS DOUBLE) AS DECIMAL(28,4)) AS DOUBLE) AS est_parts,
        |  CAST(64 - nb AS BIGINT) AS hll_zeros, hll_digest, exact_parts, sample_n, median_price
        |FROM hll JOIN ex USING (l_returnflag) JOIN med USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q43_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag AS scope,
        |    (CAST('0x' || substr(md5('q43|' || CAST(l_partkey AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT AS h
        |  FROM lineitem),
        |rk AS (
        |  SELECT scope, h, row_number() OVER (PARTITION BY scope ORDER BY h) AS rn
        |  FROM h),
        |mins AS (SELECT scope, h, rn FROM rk WHERE rn <= 64),
        |allm AS (
        |  SELECT 'ALL' AS scope, h, row_number() OVER (ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT h FROM mins)),
        |sk AS (
        |  SELECT * FROM mins
        |  UNION ALL SELECT * FROM allm WHERE rn <= 64),
        |agg AS (
        |  SELECT scope, count(*) AS n_mins,
        |    max(CASE WHEN rn = 64 THEN h END) AS kth_hash,
        |    md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) AS kmin_digest
        |  FROM sk GROUP BY scope),
        |ex AS (
        |  SELECT l_returnflag AS scope,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
        |  FROM lineitem GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem)
        |SELECT a.scope,
        |  CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE)
        |       ELSE CAST(CAST(63.0::DOUBLE * 1152921504606846976.0::DOUBLE
        |         / CAST(kth_hash AS DOUBLE) AS DECIMAL(28,4)) AS DOUBLE) END AS est_distinct,
        |  exact_distinct, kth_hash, kmin_digest
        |FROM agg a JOIN ex USING (scope) ORDER BY scope""".stripMargin,
    "q45_zorder" -> {
      val terms = graft.functions.ZOrder.zValueSql(Seq("k0", "k1"), bits = 20)
      s"""WITH b AS (
         |  SELECT o_orderkey, o_custkey,
         |    o_custkey % 1048576 AS k0, o_orderkey % 1048576 AS k1
         |  FROM orders)
         |SELECT o_orderkey, o_custkey, CAST($terms AS BIGINT) AS zval
         |FROM b ORDER BY zval, o_orderkey LIMIT 1000""".stripMargin
    },
    "q49_validation" ->
      """WITH scan AS (
        |  SELECT * FROM (VALUES
        |    ('li_orderkey_not_null',
        |      (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL), 0),
        |    ('li_quantity_positive',
        |      (SELECT count(*) FROM lineitem WHERE l_quantity <= 0), 0),
        |    ('li_quantity_upper',
        |      (SELECT count(*) FROM lineitem WHERE l_quantity > 50), 0),
        |    ('li_quantity_gt45',
        |      (SELECT count(*) FROM lineitem WHERE l_quantity > 45), 1000000),
        |    ('li_discount_range',
        |      (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1), 0),
        |    ('li_price_nonneg',
        |      (SELECT count(*) FROM lineitem WHERE l_extendedprice < 0), 0),
        |    ('li_flag_domain',
        |      (SELECT count(*) FROM lineitem WHERE l_returnflag NOT IN ('A', 'N', 'R')), 0)
        |  ) AS v(check_name, observed, expected_max)),
        |uniq AS (
        |  SELECT 'li_key_unique' AS check_name,
        |    (SELECT count(*) FROM (
        |      SELECT l_orderkey, l_linenumber FROM lineitem
        |      GROUP BY 1, 2 HAVING count(*) > 1)) AS observed, 0 AS expected_max),
        |ref AS (
        |  SELECT 'orders_custkey_ref' AS check_name,
        |    (SELECT count(*) FROM (
        |      SELECT DISTINCT o_custkey FROM orders
        |      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))) AS observed,
        |    0 AS expected_max),
        |allc AS (
        |  SELECT * FROM scan UNION ALL SELECT * FROM uniq UNION ALL SELECT * FROM ref)
        |SELECT check_name AS "check", CAST(observed AS BIGINT) AS observed,
        |  CAST(expected_max AS BIGINT) AS expected_max,
        |  CAST(observed <= expected_max AS INT) AS passed
        |FROM allc ORDER BY check_name""".stripMargin,
    "g1_pagerank" ->
      """WITH ed AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, p AS dst FROM ed UNION ALL SELECT p, c FROM ed),
        |nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |pr0 AS (
        |  SELECT id, round(1.0::DOUBLE / (SELECT n FROM nn), 9) AS pr FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS id,
        |    sum(CAST(round(pr0.pr / deg.outdeg, 12) AS DECIMAL(24,12))) AS s
        |  FROM e JOIN pr0 ON e.src = pr0.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst),
        |pr1 AS (
        |  SELECT n.id, round((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |    + 0.85::DOUBLE * CAST(coalesce(c1.s, 0) AS DOUBLE), 9) AS pr
        |  FROM nodes n LEFT JOIN c1 ON n.id = c1.id),
        |c2 AS (
        |  SELECT e.dst AS id,
        |    sum(CAST(round(pr1.pr / deg.outdeg, 12) AS DECIMAL(24,12))) AS s
        |  FROM e JOIN pr1 ON e.src = pr1.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst),
        |pr2 AS (
        |  SELECT n.id, round((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |    + 0.85::DOUBLE * CAST(coalesce(c2.s, 0) AS DOUBLE), 9) AS pr
        |  FROM nodes n LEFT JOIN c2 ON n.id = c2.id)
        |SELECT id, pr FROM pr2 ORDER BY id""".stripMargin,

    "g4_pagerank_weighted" ->
      """WITH ed AS (
        |  SELECT o_custkey AS c, l_suppkey + 1000000 AS p, count(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT c AS src, p AS dst, w FROM ed
        |      UNION ALL SELECT p, c, w FROM ed),
        |nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |sw AS (SELECT src, sum(w) AS sumw FROM e GROUP BY src),
        |pr0 AS (
        |  SELECT id, round(1.0::DOUBLE / (SELECT n FROM nn), 9) AS pr FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS id,
        |    sum(CAST(round(pr0.pr * e.w / sw.sumw, 12) AS DECIMAL(24,12))) AS s
        |  FROM e JOIN pr0 ON e.src = pr0.id JOIN sw ON e.src = sw.src
        |  GROUP BY e.dst),
        |pr1 AS (
        |  SELECT n.id, round((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |    + 0.85::DOUBLE * CAST(coalesce(c1.s, 0) AS DOUBLE), 9) AS pr
        |  FROM nodes n LEFT JOIN c1 ON n.id = c1.id),
        |c2 AS (
        |  SELECT e.dst AS id,
        |    sum(CAST(round(pr1.pr * e.w / sw.sumw, 12) AS DECIMAL(24,12))) AS s
        |  FROM e JOIN pr1 ON e.src = pr1.id JOIN sw ON e.src = sw.src
        |  GROUP BY e.dst),
        |pr2 AS (
        |  SELECT n.id, round((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |    + 0.85::DOUBLE * CAST(coalesce(c2.s, 0) AS DOUBLE), 9) AS pr
        |  FROM nodes n LEFT JOIN c2 ON n.id = c2.id)
        |SELECT id, pr FROM pr2 ORDER BY id""".stripMargin,

    "g2_triangles" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a
        |  JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |nodes AS (SELECT u AS id FROM pairs UNION SELECT v FROM pairs),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e2.u = e1.v
        |  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pern AS (
        |  SELECT id, count(*) AS n_tri FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY id)
        |SELECT n.id AS part, coalesce(p.n_tri, 0) AS n_tri
        |FROM nodes n LEFT JOIN pern p USING (id)
        |ORDER BY part""".stripMargin,

    "g3_bfs" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a
        |  JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_linenumber = 1 AND b.l_linenumber = 2
        |   AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 2 = 0),
        |pairs AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
        |bfs(id, dist) AS (
        |  SELECT (SELECT min(u) FROM pairs) AS id, 0 AS dist
        |  UNION
        |  SELECT p.v, b.dist + 1
        |  FROM bfs b JOIN pairs p ON p.u = b.id
        |  WHERE b.dist < 6),
        |best AS (SELECT id, min(dist) AS dist FROM bfs GROUP BY id),
        |nodes AS (SELECT DISTINCT u AS id FROM pairs)
        |SELECT n.id AS part, CAST(coalesce(b.dist, -1) AS INT) AS dist
        |FROM nodes n LEFT JOIN best b USING (id)
        |ORDER BY part""".stripMargin,
    "q48_corr" ->
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
        |    CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy, CAST(sxy AS DOUBLE) AS sxy
        |  FROM a)
        |SELECT l_returnflag, n,
        |  round((nd * sxy - sx * sy) / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) AS corr_qty_price,
        |  round((nd * sxy - sx * sy) / (nd * nd), 6) AS covar_pop,
        |  round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6) AS regr_slope,
        |  round((sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx) / nd, 6) AS regr_intercept,
        |  round(sx / nd, 6) AS avg_qty,
        |  round(sy / nd, 6) AS avg_price
        |FROM d ORDER BY l_returnflag""".stripMargin,
    "q47_countmin" ->
      """WITH li AS (SELECT l_suppkey AS key FROM lineitem),
        |pos AS (
        |  SELECT key, j AS row,
        |    (CAST('0x' || substr(md5('q47r' || j || '|' || CAST(key AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT % 256 AS slot
        |  FROM li, unnest([0, 1, 2]) AS t(j)),
        |counters AS (
        |  SELECT row, slot, count(*) AS c FROM pos GROUP BY row, slot),
        |keys AS (SELECT key, count(*) AS exact_n FROM li GROUP BY key),
        |kpos AS (
        |  SELECT key, j AS row,
        |    (CAST('0x' || substr(md5('q47r' || j || '|' || CAST(key AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT % 256 AS slot
        |  FROM keys, unnest([0, 1, 2]) AS t(j)),
        |est AS (
        |  SELECT kp.key, min(c.c) AS est_n
        |  FROM kpos kp JOIN counters c ON kp.row = c.row AND kp.slot = c.slot
        |  GROUP BY kp.key)
        |SELECT k.key AS suppkey, k.exact_n, e.est_n,
        |  e.est_n - k.exact_n AS overcount
        |FROM keys k JOIN est e ON k.key = e.key
        |ORDER BY suppkey""".stripMargin,
    "q46_bloom_prune" ->
      """WITH dim AS (
        |  SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_nationkey < 13),
        |dpos AS (
        |  SELECT DISTINCT
        |    (CAST('0x' || substr(md5('q46b' || j || '|' || CAST(k AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT % 512 AS p
        |  FROM dim, unnest([0, 1, 2, 3]) AS t(j)),
        |facts AS (SELECT DISTINCT l_suppkey AS k FROM lineitem),
        |fpos AS (
        |  SELECT k,
        |    (CAST('0x' || substr(md5('q46b' || j || '|' || CAST(k AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT % 512 AS p
        |  FROM facts, unnest([0, 1, 2, 3]) AS t(j)),
        |hit AS (
        |  SELECT k, CAST(min(CASE WHEN p IN (SELECT p FROM dpos) THEN 1 ELSE 0 END) AS INT) AS bloom_hit
        |  FROM fpos GROUP BY k)
        |SELECT f.k AS suppkey, h.bloom_hit,
        |  CAST(f.k IN (SELECT k FROM dim) AS INT) AS is_member
        |FROM facts f JOIN hit h ON f.k = h.k
        |ORDER BY suppkey""".stripMargin,
    "q44_scd2" ->
      """WITH src AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |chg AS (SELECT * FROM src WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  o_orderpriority AS priority,
        |  CAST(epoch_us(o_orderdate) AS BIGINT) AS valid_from_us,
        |  CAST(epoch_us(lead(o_orderdate) OVER w) AS BIGINT) AS valid_to_us,
        |  CAST(lead(o_orderdate) OVER w IS NULL AS INT) AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin
  )
}
