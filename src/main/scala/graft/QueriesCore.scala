package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.OddsFunctions._
import graft.functions.PortableRound.pround
import graft.operators.{Devig, Backtest}

/** Core query catalog: the reference's odds/EV/arb/feature semantics
  * (SURVEY §2) exercised over the driver's TPC-H-ish testdata, each
  * with an equivalent DuckDB oracle (SparkEntry contract).
  *
  * The synthetic odds view maps lineitem → an odds table
  * deterministically (game = order, outcome = line parity, bookmaker =
  * supplier mod 7, mixed American/decimal prices from part keys), so
  * every odds operator runs at testdata scale and is SQL-checkable.
  *
  * Float discipline: all derived double outputs are rounded (6 dp) in
  * BOTH engines; ranks are computed on the rounded values with full
  * deterministic tiebreaks so both engines pick identical rows.
  */
object QueriesCore {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  import GraftSession.{query => q}

  // ---- synthetic odds view over lineitem (deterministic) ----

  /** lineitem arrives as one row-group (one input split); repartition
    * by game so the odds arithmetic runs on all cores AND the window
    * shuffles downstream are pre-satisfied (HashPartitioning(game_id)
    * clusters every (game_id, outcome) window partition too — no
    * second exchange).
    */
  private def oddsBase(spark: SparkSession, dir: String): DataFrame =
    oddsBaseNoShuffle(spark, dir).repartition(col("game_id"))

  private def oddsBaseNoShuffle(spark: SparkSession, dir: String)
      : DataFrame =
    t(spark, dir, "lineitem").select(
      col("l_orderkey").as("game_id"),
      (col("l_linenumber") % 2).as("outcome"),
      concat(lit("book_"), (col("l_suppkey") % 7).cast("string"))
        .as("bookmaker"),
      col("l_linenumber"),
      when(col("l_partkey") % 3 === 0,
        when(col("l_partkey") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)) *
          (lit(100.0) + (col("l_partkey") % 150).cast("double")))
        .otherwise(((col("l_partkey") % 300).cast("double") + 101.0) / 100.0)
        .as("price"))

  private val oddsBaseSql: String =
    """WITH odds AS (
      |  SELECT l_orderkey AS game_id,
      |         l_linenumber % 2 AS outcome,
      |         'book_' || CAST(l_suppkey % 7 AS VARCHAR) AS bookmaker,
      |         l_linenumber,
      |         CASE WHEN l_partkey % 3 = 0
      |              THEN (CASE WHEN l_partkey % 2 = 0 THEN 1.0 ELSE -1.0 END)
      |                   * (100.0 + CAST(l_partkey % 150 AS DOUBLE))
      |              ELSE (CAST(l_partkey % 300 AS DOUBLE) + 101.0) / 100.0
      |         END AS price
      |  FROM lineitem)""".stripMargin

  private val decSql =
    """dec AS (
      |  SELECT *, CASE WHEN price <= 0 OR abs(price) >= 100
      |                 THEN CASE WHEN price > 0 THEN price / 100.0 + 1.0
      |                           ELSE 100.0 / (-price) + 1.0 END
      |                 ELSE price END AS decimal_odds
      |  FROM odds)""".stripMargin

  private def withDecimal(base: DataFrame): DataFrame =
    base.withColumn("decimal_odds", decimalize(col("price")))

  // devig chain shared by q03/q06: adds devig_prob, true_prob (power)
  private def devigChain(base: DataFrame): DataFrame = {
    val d = withDecimal(base)
      .withColumn("implied_prob", impliedProb(col("decimal_odds")))
    Devig.power(
      Devig.proportional(d, "implied_prob", Seq("game_id"), "devig_prob"),
      "implied_prob", Seq("game_id"), 1.05, "true_prob")
  }

  private val devigSqlPrefix: String =
    s"""$oddsBaseSql,
       |$decSql,
       |imp AS (SELECT *, 1.0 / decimal_odds AS implied_prob FROM dec),
       |t1 AS (SELECT *, SUM(implied_prob) OVER (PARTITION BY game_id) AS tot
       |       FROM imp),
       |t2 AS (SELECT *, CASE WHEN tot IS NULL OR tot <= 0 THEN implied_prob
       |                      ELSE implied_prob / tot END AS norm
       |       FROM t1),
       |t3 AS (SELECT *, POWER(norm, CAST(1 AS DOUBLE) / CAST(1.05 AS DOUBLE))
       |                 AS adj FROM t2),
       |t4 AS (SELECT *, SUM(adj) OVER (PARTITION BY game_id) AS tota
       |       FROM t3),
       |t5 AS (SELECT *, norm AS devig_prob,
       |              CASE WHEN tota IS NULL OR tota <= 0 THEN norm
       |                   ELSE adj / tota END AS true_prob
       |       FROM t4)""".stripMargin

  // ---- queries ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_odds_convert" -> q { (spark, dir) =>
      withDecimal(oddsBase(spark, dir))
        .select(col("game_id"), col("outcome"), col("l_linenumber"),
          col("bookmaker"), col("price"),
          pround(col("decimal_odds"), 6).as("decimal_odds"),
          decimalToAmerican(col("decimal_odds"), pround)
            .as("odds_american"),
          pround(impliedProb(col("decimal_odds")), 6).as("implied_prob"))
    },

    "q02_numeric_coerce" -> q { (spark, dir) =>
      val base = t(spark, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_partkey") % 11 === 0, lit("N/A"))
          .when(col("l_partkey") % 2 === 0,
            concat(lit("+"),
              ((col("l_partkey") % 150) + 100).cast("int").cast("string")))
          .otherwise(
            concat(lit("-"),
              ((col("l_partkey") % 150) + 100).cast("int").cast("string")))
          .as("price_str"))
      base.select(col("l_orderkey"), col("l_linenumber"), col("price_str"),
        numericCoerce(col("price_str")).as("price_num"),
        pround(decimalize(numericCoerce(col("price_str"))), 6)
          .as("decimal_odds"))
    },

    "q03_devig" -> q { (spark, dir) =>
      devigChain(oddsBase(spark, dir))
        .select(col("game_id"), col("outcome"), col("l_linenumber"),
          pround(col("devig_prob"), 6).as("devig_prob"),
          pround(col("true_prob"), 6).as("true_prob"))
    },

    "q04_best_price" -> q { (spark, dir) =>
      val d = withDecimal(oddsBase(spark, dir))
      val w = Window.partitionBy(col("game_id"), col("outcome"))
        .orderBy(col("decimal_odds").desc, col("bookmaker").asc,
          col("l_linenumber").asc)
      d.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("game_id"), col("outcome"),
          col("bookmaker").as("best_bookmaker"),
          pround(col("decimal_odds"), 6).as("best_price"))
    },

    "q05_arb" -> q { (spark, dir) =>
      val d = withDecimal(oddsBase(spark, dir))
      val w = Window.partitionBy(col("game_id"), col("outcome"))
        .orderBy(col("decimal_odds").desc, col("bookmaker").asc,
          col("l_linenumber").asc)
      val best = d.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      best.groupBy(col("game_id"))
        .agg(sum(lit(1.0) / col("decimal_odds")).as("total_implied"),
          count(lit(1)).as("n_outcomes"))
        .select(col("game_id"), col("n_outcomes"),
          pround(col("total_implied"), 6).as("total_implied"),
          when(col("n_outcomes") === 2 && col("total_implied") < 1,
            pround((lit(1.0) - col("total_implied")) * 100.0, 2))
            .as("arbitrage_margin"))
    },

    "q06_ev" -> q { (spark, dir) =>
      val d = devigChain(oddsBase(spark, dir))
      val ev = expectedValue(col("true_prob"), col("decimal_odds"))
      val vr = outcomeVariance(col("true_prob"), col("decimal_odds"),
        col("ev"))
      d.withColumn("ev", ev)
        .withColumn("variance", vr)
        .withColumn("ev_adj", adjustedEv(col("ev"), col("variance")))
        .withColumn("kelly_fraction",
          halfKelly(col("true_prob"), col("decimal_odds")))
        .withColumn("bet_flag", betFlag(col("ev")))
        .select(col("game_id"), col("outcome"), col("l_linenumber"),
          pround(col("ev"), 6).as("ev"),
          pround(col("variance"), 6).as("variance"),
          pround(col("ev_adj"), 6).as("ev_adj"),
          pround(col("kelly_fraction"), 6).as("kelly_fraction"),
          col("bet_flag"))
    },

    "q07_high_ev" -> q { (spark, dir) =>
      val d = devigChain(oddsBase(spark, dir))
        .withColumn("ev",
          expectedValue(col("true_prob"), col("decimal_odds")))
      d.withColumn("variance",
          outcomeVariance(col("true_prob"), col("decimal_odds"), col("ev")))
        .withColumn("ev_adj", adjustedEv(col("ev"), col("variance")))
        .filter(col("ev") >= 0.02)
        .select(col("game_id"), col("outcome"), col("l_linenumber"),
          pround(col("ev"), 6).as("ev"),
          pround(col("ev_adj"), 6).as("ev_adj"),
          decisionLabel(betFlag(col("ev"))).as("decision"))
    },

    "q08_rolling_features" -> q { (spark, dir) =>
      val ev = t(spark, dir, "events")
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val wr = wo.rowsBetween(-4, 0)
      ev.withColumn("rolling_avg", avg(col("value")).over(wr))
        .withColumn("target", lead(col("value"), 1).over(wo))
        .filter(col("target").isNotNull)
        .select(col("event_id"), col("user_id"),
          pround(col("rolling_avg"), 6).as("rolling_avg"),
          pround(col("target"), 6).as("target"))
    },

    "q09_hourly_windows" -> q { (spark, dir) =>
      val ev = t(spark, dir, "events")
      ev
        .withColumn("us", graft.functions.EventTime.epochUs(ev))
        .withColumn("hour_us",
          expr("(us DIV 3600000000) * 3600000000"))
        .groupBy(col("hour_us"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          pround(sum(col("value")), 4).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
    },

    "q10_sessionize" -> q { (spark, dir) =>
      val ev = t(spark, dir, "events")
      // order by MICROS (+ event_id), not raw nanos: the oracle can
      // only order by epoch_us, and two events in the same microsecond
      // with distinct nanos would otherwise sort differently per
      // engine at a session boundary
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("event_id").asc)
      val gapUs = 1800L * 1000000L
      val withFlag = ev
        .withColumn("us", graft.functions.EventTime.epochUs(ev))
        .withColumn("prev_us", lag(col("us"), 1).over(wo))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      withFlag
        .withColumn("session_id",
          sum(col("new_session")).over(
            wo.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("us")) - min(col("us"))).as("duration_us"),
          pround(sum(col("value")), 4).as("total_value"))
    },

    "q11_json_extract" -> q { (spark, dir) =>
      t(spark, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          pround(avg(col("k")), 6).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },

    "q12_join_enrich" -> q { (spark, dir) =>
      val orders = t(spark, dir, "orders")
      val customer = t(spark, dir, "customer")
      val nation = t(spark, dir, "nation")
      val region = t(spark, dir, "region")
      // customer is SCALE-PROPORTIONAL (1.5M rows/SF) — never force a
      // broadcast hint on it (r2 verdict: driver-OOM shape at 100 TB,
      // and the hint overrides AQE's own size-based choice, which
      // still picks a broadcast at small SF on its own). Only the
      // fixed-cardinality dims (nation=25, region=5) get the hint.
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation),
          customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region),
          nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          pround(sum(col("o_totalprice")), 2).as("revenue"),
          pround(avg(col("o_totalprice")), 4).as("avg_price"))
    },

    // Re-expressed through the bounded-heap aggregate (r5 verdict
    // task 7): same window-form oracle, but NO WindowExec — the heap
    // absorbs each partition map-side and the exchange carries ≤ k
    // rows per (partition, group). The payload here is a STRUCT
    // (generalized TopKAggregate: any orderable payload, interpreted
    // struct ordering for ties = (o_orderkey ASC), matching the
    // window's tie-break); q109 keeps the primitive (Double, Long)
    // shape of the same aggregate.
    "q13_topk_per_group" -> q { (spark, dir) =>
      import graft.functions.TopKAggregate
      t(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(TopKAggregate.topK(col("o_totalprice"),
          struct(col("o_orderkey"), col("o_totalprice")), 3).as("tk"))
        .select(col("o_custkey"), posexplode(col("tk")).as(Seq("pos", "s")))
        .select(col("o_custkey"),
          (col("pos") + 1).cast("int").as("rank"),
          col("s.id.o_orderkey").as("o_orderkey"),
          col("s.id.o_totalprice").as("o_totalprice"))
    },

    "q14_union_dedup" -> q { (spark, dir) =>
      val o = t(spark, dir, "orders")
      val snap1 = o.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), lit(1).as("snapshot"))
      val snap2 = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 1.05).as("o_totalprice"),
          lit(2).as("snapshot"))
      val w = Window.partitionBy(col("o_orderkey"))
        .orderBy(col("snapshot").desc)
      snap1.unionByName(snap2)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("snapshot"),
          pround(col("o_totalprice"), 4).as("o_totalprice"))
    },

    "q15_string_agg" -> q { (spark, dir) =>
      t(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          array_join(array_sort(collect_set(col("o_orderpriority"))), ", ")
            .as("priorities"))
    },

    "q16_group_stats" -> q { (spark, dir) =>
      t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          pround(sum(col("l_extendedprice")), 2).as("sum_base"),
          pround(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
            2).as("sum_disc"),
          pround(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("n"))
    },

    "q17_mktseg_rollup" -> q { (spark, dir) =>
      val customer = t(spark, dir, "customer")
      val orders = t(spark, dir, "orders")
      customer.join(orders,
          customer("c_custkey") === orders("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"),
          pround(sum(col("o_totalprice")), 2).as("revenue"))
    },

    "q18_backtest" -> q { (spark, dir) =>
      val ev = t(spark, dir, "events").select(
        (((col("event_id") % 97) + 1).cast("double") / 100.0).as("pred"),
        (((col("user_id") % 50) + 25).cast("double") / 100.0).as("line"))
      Backtest.summarize(Backtest.label(ev))
        .select(col("wins"), col("losses"), col("passes"),
          pround(col("bankroll"), 2).as("bankroll"),
          pround(col("roi"), 6).as("roi"))
    },

    "q19_accuracy" -> q { (spark, dir) =>
      val ev = t(spark, dir, "events").select(
        (((col("event_id") % 97) + 1).cast("double") / 100.0).as("pred"),
        (col("event_id") % 2).as("outcome"))
      Backtest.accuracy(ev)
        .select(pround(col("accuracy"), 6).as("accuracy"))
    },

    // F-family shape over testdata: nest rows into array<struct> per
    // key, then explode back through a market-key-style filter — the
    // reference's games→bookmakers→outcomes traversal as a
    // collect/explode round trip (semantically a filtered projection,
    // which is exactly what the oracle asserts).
    "q31_nested_flatten" -> q { (spark, dir) =>
      val nested = t(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(struct(col("o_orderkey"),
          col("o_totalprice"), col("o_orderpriority")))).as("orders"))
      nested
        .select(col("o_custkey"), explode(col("orders")).as("o"))
        .filter(col("o.o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"), col("o.o_orderkey").as("o_orderkey"),
          pround(col("o.o_totalprice"), 4).as("o_totalprice"))
    },

    // A10 grouped first-value: earliest order per customer.
    "q32_group_first" -> q { (spark, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(spark, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"),
          col("o_orderpriority").as("first_priority"),
          pround(col("o_totalprice"), 4).as("first_totalprice"))
    },

    // O2/O5 global top-k: sort + limit plans as TakeOrderedAndProject
    // (no global sort materialization).
    "q33_global_topk" -> q { (spark, dir) =>
      t(spark, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"),
          pround(col("o_totalprice"), 4).as("o_totalprice"))
    },

    // A11 distinct values.
    "q34_distinct_values" -> q { (spark, dir) =>
      t(spark, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"))
        .distinct()
    },

    // As-of join (line-movement primitive): for each purchase, the
    // latest click at-or-before it per user. Spark lacks ASOF JOIN —
    // graft.operators.AsOfJoin is the single-shuffle union+window
    // formulation; DuckDB's native ASOF LEFT JOIN is the oracle.
    "q35_asof_join" -> q { (spark, dir) =>
      import graft.operators.AsOfJoin
      val evRaw = t(spark, dir, "events")
      val ev = evRaw
        .withColumn("us", graft.functions.EventTime.epochUs(evRaw))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val wDedup = Window.partitionBy(col("user_id"), col("us"))
        .orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"), col("value"))
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn")
      AsOfJoin.backward(purchases, clicks, Seq("user_id"), "us",
          "event_id")
        .select(col("event_id"), col("user_id"), col("us"),
          col("right_us").as("last_click_us"),
          pround(col("right_value"), 4).as("last_click_value"))
    },

    // Forward as-of with tolerance: for each purchase, the NEXT click
    // at-or-after it, nulled beyond one hour (pandas merge_asof
    // direction='forward', tolerance). Same one-shuffle union+window
    // machinery as q35 run in descending time; equal-time clicks are
    // deduped so the DuckDB ASOF oracle is deterministic.
    "q82_asof_forward" -> q { (spark, dir) =>
      import graft.operators.AsOfJoin
      val evRaw = t(spark, dir, "events")
      val ev = evRaw
        .withColumn("us", graft.functions.EventTime.epochUs(evRaw))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val wDedup = Window.partitionBy(col("user_id"), col("us"))
        .orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"), col("value"))
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn")
      AsOfJoin.forward(purchases, clicks, Seq("user_id"), "us",
          "event_id", tolerance = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"), col("us"),
          col("right_us").as("next_click_us"),
          pround(col("right_value"), 4).as("next_click_value"))
    },

    // Left-anti join: customers that never ordered.
    "q37_anti_join" -> q { (spark, dir) =>
      val customer = t(spark, dir, "customer")
      val orders = t(spark, dir, "orders")
      customer.join(orders,
          customer("c_custkey") === orders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"),
          pround(col("c_acctbal"), 4).as("c_acctbal"))
    },

    // ROLLUP with grouping id (subtotal hierarchy).
    "q38_rollup" -> q { (spark, dir) =>
      t(spark, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id(col("l_returnflag"), col("l_linestatus"))
            .cast("int").as("grp"))
    },

    // CUBE: all 2^k grouping-set combinations (rollup's sibling —
    // q38 covers the hierarchy, this covers the full lattice,
    // including the (·, l_linestatus) slice rollup omits). Same
    // single-pass expand+aggregate plan shape.
    "q53_cube" -> q { (spark, dir) =>
      t(spark, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id(col("l_returnflag"), col("l_linestatus"))
            .cast("int").as("grp"))
    },

    // Exact interpolated percentiles per group — DISTRIBUTED
    // formulation (VERDICT r1 #6): quantile_cont(p) over n ordered
    // values is v_lo + frac*(v_hi - v_lo) at h = p*(n-1)+1,
    // lo = floor(h). row_number over a sorted window (external,
    // spillable sort) + a conditional aggregate picks exactly the two
    // boundary rows per percentile; nothing buffers a whole group in
    // memory the way the exact `percentile` aggregate does (3 groups
    // => 3 tasks holding every value — an OOM straggler at 100x).
    // Interpolation formula matches both Spark `percentile` and DuckDB
    // `quantile_cont` bit-for-bit.
    "q39_percentiles" -> q { (spark, dir) =>
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"))
      val wAll = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val ranked = t(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        // percentile/quantile_cont skip NULLs; without this filter the
        // window would rank NULLs first and shift every rn
        .filter(col("l_extendedprice").isNotNull)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
      val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75")
      val aggCols = ps.flatMap { case (p, a) =>
        val h = lit(p) * (col("n") - 1).cast("double") + 1.0
        val lo = floor(h)
        Seq(
          max(when(col("rn") === lo, col("l_extendedprice")))
            .as(s"__lo_$a"),
          max(when(col("rn") === lo + 1, col("l_extendedprice")))
            .as(s"__hi_$a"),
          // h (hence frac) is constant within a group: min = the value
          min(h - lo).as(s"__f_$a"))
      }
      ranked.groupBy(col("l_returnflag"))
        .agg(aggCols.head, aggCols.tail: _*)
        .select(col("l_returnflag") +: ps.map { case (_, a) =>
          val lo = col(s"__lo_$a")
          val hi = col(s"__hi_$a")
          val f = col(s"__f_$a")
          // frac = 0 ⇒ hi row may not exist (h = n): take lo directly
          pround(when(f > 0, lo + f * (hi - lo)).otherwise(lo), 4).as(a)
        }: _*)
    },

    // Pivot (status counts per priority as columns).
    "q40_pivot" -> q { (spark, dir) =>
      t(spark, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L)
    },

    // Window-function sampler: lag-with-default, ntile, cume_dist,
    // percent_rank, nth_value, and a RANGE frame — the analytic SQL
    // surface an engine user expects beyond the pipeline's own windows.
    "q44_window_funcs" -> q { (spark, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      // the Scala rangeBetween API is Long-only; a fractional RANGE
      // frame goes through the SQL window syntax
      val rangeSum = expr(
        """SUM(o_totalprice) OVER (
          |  PARTITION BY o_custkey ORDER BY o_totalprice
          |  RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)""".stripMargin)
      t(spark, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        pround(lag(col("o_totalprice"), 1, 0.0).over(w), 4).as("prev"),
        ntile(4).over(w).as("quartile"),
        pround(cume_dist().over(w), 6).as("cd"),
        pround(percent_rank().over(w), 6).as("pr"),
        pround(nth_value(col("o_totalprice"), 2).over(w), 4).as("nth2"),
        pround(rangeSum, 4).as("range_sum"))
    },

    // Set operations with DISTINCT semantics (EXCEPT / INTERSECT).
    "q45_set_ops" -> q { (spark, dir) =>
      val o = t(spark, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      val low = o.filter(col("o_orderpriority") === "5-LOW")
        .select(col("o_custkey")).distinct()
      urgent.except(low).withColumn("set_op", lit("except"))
        .unionByName(
          urgent.intersect(low).withColumn("set_op", lit("intersect")))
    },

    // Conditional aggregation + struct-max argmax (deterministic via
    // the (acctbal, custkey) composite).
    "q46_conditional_agg" -> q { (spark, dir) =>
      t(spark, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          count_if(col("c_acctbal") > 0).as("n_positive"),
          pround(sum(when(col("c_acctbal") > 0, col("c_acctbal"))
            .otherwise(0.0)), 4).as("positive_total"),
          max(struct(col("c_acctbal"), col("c_custkey")))
            .getField("c_custkey").as("richest_custkey"))
    },

    // Full star-schema reach: lineitem ⋈ part ⋈ supplier ⋈ nation,
    // margin analysis per brand and supplier nation. Dims broadcast.
    "q43_star_schema" -> q { (spark, dir) =>
      val li = t(spark, dir, "lineitem")
      val part = t(spark, dir, "part")
      val supplier = t(spark, dir, "supplier")
      val nation = t(spark, dir, "nation")
      li
        .join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(broadcast(supplier), li("l_suppkey") === supplier("s_suppkey"))
        .join(broadcast(nation),
          supplier("s_nationkey") === nation("n_nationkey"))
        .groupBy(col("p_brand"), col("n_name"))
        .agg(count(lit(1)).as("n_lines"),
          pround(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity")), 2).as("margin"),
          pround(avg(col("l_discount")), 6).as("avg_discount"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q01_odds_convert" ->
      s"""$oddsBaseSql,
         |$decSql
         |SELECT game_id, outcome, l_linenumber, bookmaker, price,
         |       round(decimal_odds, 6) AS decimal_odds,
         |       CASE WHEN decimal_odds IS NULL OR decimal_odds <= 1
         |              THEN NULL
         |            WHEN decimal_odds >= 2
         |              THEN round((decimal_odds - 1) * 100.0, 2)
         |            ELSE round(-100.0 / (decimal_odds - 1), 2)
         |       END AS odds_american,
         |       round(1.0 / decimal_odds, 6) AS implied_prob
         |FROM dec""".stripMargin,

    "q02_numeric_coerce" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_partkey % 11 = 0 THEN 'N/A'
        |              WHEN l_partkey % 2 = 0
        |                THEN '+' || CAST(CAST((l_partkey % 150) + 100 AS INT)
        |                                 AS VARCHAR)
        |              ELSE '-' || CAST(CAST((l_partkey % 150) + 100 AS INT)
        |                               AS VARCHAR)
        |         END AS price_str
        |  FROM lineitem),
        |num AS (
        |  SELECT *, TRY_CAST(regexp_replace(trim(price_str), '^\+', '')
        |                     AS DOUBLE) AS price_num
        |  FROM base)
        |SELECT l_orderkey, l_linenumber, price_str, price_num,
        |       round(CASE WHEN price_num <= 0 OR abs(price_num) >= 100
        |                  THEN CASE WHEN price_num > 0
        |                            THEN price_num / 100.0 + 1.0
        |                            ELSE 100.0 / (-price_num) + 1.0 END
        |                  ELSE price_num END, 6) AS decimal_odds
        |FROM num""".stripMargin,

    "q03_devig" ->
      s"""$devigSqlPrefix
         |SELECT game_id, outcome, l_linenumber,
         |       round(devig_prob, 6) AS devig_prob,
         |       round(true_prob, 6) AS true_prob
         |FROM t5""".stripMargin,

    "q04_best_price" ->
      s"""$oddsBaseSql,
         |$decSql
         |SELECT game_id, outcome, bookmaker AS best_bookmaker,
         |       round(decimal_odds, 6) AS best_price
         |FROM dec
         |QUALIFY row_number() OVER (
         |  PARTITION BY game_id, outcome
         |  ORDER BY decimal_odds DESC, bookmaker ASC, l_linenumber ASC) = 1
         |""".stripMargin,

    "q05_arb" ->
      s"""$oddsBaseSql,
         |$decSql,
         |best AS (
         |  SELECT * FROM dec
         |  QUALIFY row_number() OVER (
         |    PARTITION BY game_id, outcome
         |    ORDER BY decimal_odds DESC, bookmaker ASC, l_linenumber ASC) = 1),
         |agg AS (
         |  SELECT game_id, SUM(1.0 / decimal_odds) AS total_implied,
         |         COUNT(*) AS n_outcomes
         |  FROM best GROUP BY game_id)
         |SELECT game_id, n_outcomes, round(total_implied, 6) AS total_implied,
         |       CASE WHEN n_outcomes = 2 AND total_implied < 1
         |            THEN round((1.0 - total_implied) * 100.0, 2) END
         |         AS arbitrage_margin
         |FROM agg""".stripMargin,

    "q06_ev" ->
      s"""$devigSqlPrefix,
         |ev1 AS (
         |  SELECT *, true_prob * (decimal_odds - 1.0)
         |            - (1.0 - true_prob) AS ev
         |  FROM t5),
         |ev2 AS (
         |  SELECT *, true_prob * POWER(decimal_odds - 1.0 - ev, 2)
         |            + (1.0 - true_prob) * POWER(-1.0 - ev, 2) AS variance
         |  FROM ev1),
         |ev3 AS (
         |  SELECT *, ev - 0.5 * variance AS ev_adj,
         |         LEAST(GREATEST(CASE WHEN decimal_odds - 1.0 > 0
         |             THEN ((decimal_odds - 1.0) * true_prob
         |                   - (1.0 - true_prob)) / (decimal_odds - 1.0)
         |             ELSE 0.0 END, 0.0) * 0.5, 0.05) AS kelly_fraction
         |  FROM ev2)
         |SELECT game_id, outcome, l_linenumber,
         |       round(ev, 6) AS ev, round(variance, 6) AS variance,
         |       round(ev_adj, 6) AS ev_adj,
         |       round(kelly_fraction, 6) AS kelly_fraction,
         |       ev >= 0.02 AS bet_flag
         |FROM ev3""".stripMargin,

    "q07_high_ev" ->
      s"""$devigSqlPrefix,
         |ev1 AS (
         |  SELECT *, true_prob * (decimal_odds - 1.0)
         |            - (1.0 - true_prob) AS ev
         |  FROM t5),
         |ev2 AS (
         |  SELECT *, true_prob * POWER(decimal_odds - 1.0 - ev, 2)
         |            + (1.0 - true_prob) * POWER(-1.0 - ev, 2) AS variance
         |  FROM ev1)
         |SELECT game_id, outcome, l_linenumber,
         |       round(ev, 6) AS ev,
         |       round(ev - 0.5 * variance, 6) AS ev_adj,
         |       CASE WHEN ev >= 0.02 THEN '✅ Bet' ELSE '❌ Pass' END
         |         AS decision
         |FROM ev2
         |WHERE ev >= 0.02""".stripMargin,

    "q08_rolling_features" ->
      """WITH w AS (
        |  SELECT event_id, user_id,
        |         AVG(value) OVER (
        |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rolling_avg,
        |         LEAD(value, 1) OVER (
        |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |           AS target
        |  FROM events)
        |SELECT event_id, user_id, round(rolling_avg, 6) AS rolling_avg,
        |       round(target, 6) AS target
        |FROM w WHERE target IS NOT NULL""".stripMargin,

    "q09_hourly_windows" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
        |       event_type,
        |       COUNT(*) AS n, round(SUM(value), 4) AS total_value,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q10_sessionize" ->
      """WITH f AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |         LAG(epoch_us(ts), 1) OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_us IS NULL
        |                   OR us - prev_us > 1800000000 THEN 1 ELSE 0 END
        |            AS new_session
        |  FROM f),
        |g AS (
        |  SELECT *, CAST(SUM(new_session) OVER (
        |           PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_id
        |  FROM s)
        |SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       MAX(us) - MIN(us) AS duration_us,
        |       round(SUM(value), 4) AS total_value
        |FROM g GROUP BY user_id, session_id""".stripMargin,

    "q11_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INT))
        |            AS BIGINT) AS sum_k,
        |       round(AVG(TRY_CAST(json_extract_string(props, '$.k') AS INT)),
        |             6) AS avg_k,
        |       MIN(TRY_CAST(json_extract_string(props, '$.k') AS INT))
        |         AS min_k,
        |       MAX(TRY_CAST(json_extract_string(props, '$.k') AS INT))
        |         AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q12_join_enrich" ->
      """SELECT r_name, o_orderpriority, COUNT(*) AS n_orders,
        |       round(SUM(o_totalprice), 2) AS revenue,
        |       round(AVG(o_totalprice), 4) AS avg_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, o_orderpriority""".stripMargin,

    "q13_topk_per_group" ->
      """SELECT o_custkey,
        |       CAST(row_number() OVER w AS INT) AS rank,
        |       o_orderkey, o_totalprice
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)
        |QUALIFY row_number() OVER w <= 3""".stripMargin,

    "q14_union_dedup" ->
      """WITH snaps AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, 1 AS snapshot
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice * 1.05, 2 AS snapshot
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT o_orderkey, o_custkey, snapshot,
        |       round(o_totalprice, 4) AS o_totalprice
        |FROM snaps
        |QUALIFY row_number() OVER (
        |  PARTITION BY o_orderkey ORDER BY snapshot DESC) = 1""".stripMargin,

    "q15_string_agg" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |       string_agg(DISTINCT o_orderpriority, ', '
        |                  ORDER BY o_orderpriority) AS priorities
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "q16_group_stats" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       round(SUM(l_extendedprice), 2) AS sum_base,
        |       round(SUM(l_extendedprice * (1.0 - l_discount)), 2)
        |         AS sum_disc,
        |       round(AVG(l_quantity), 6) AS avg_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q17_mktseg_rollup" ->
      """SELECT c_mktsegment,
        |       COUNT(DISTINCT c_custkey) AS n_customers,
        |       COUNT(o_orderkey) AS n_orders,
        |       round(SUM(o_totalprice), 2) AS revenue
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q18_backtest" ->
      """WITH b AS (
        |  SELECT CAST((event_id % 97) + 1 AS DOUBLE) / 100.0 AS pred,
        |         CAST((user_id % 50) + 25 AS DOUBLE) / 100.0 AS line
        |  FROM events),
        |l AS (
        |  SELECT CASE WHEN pred > line AND pred > 0.55 THEN 'win'
        |              WHEN pred < line AND (1.0 - pred) > 0.55 THEN 'loss'
        |              ELSE 'pass' END AS bet_result
        |  FROM b),
        |s AS (
        |  SELECT CAST(SUM(CASE WHEN bet_result = 'win' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS wins,
        |         CAST(SUM(CASE WHEN bet_result = 'loss' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS losses,
        |         CAST(SUM(CASE WHEN bet_result = 'pass' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS passes
        |  FROM l)
        |SELECT wins, losses, passes,
        |       round(1000.0 + 10.0 * (wins - losses), 2) AS bankroll,
        |       round((1000.0 + 10.0 * (wins - losses) - 1000.0) / 1000.0, 6)
        |         AS roi
        |FROM s""".stripMargin,

    "q19_accuracy" ->
      """SELECT round(AVG(CASE WHEN
        |         (CAST((event_id % 97) + 1 AS DOUBLE) / 100.0 >= 0.5)
        |         = (event_id % 2 = 1) THEN 1 ELSE 0 END), 6) AS accuracy
        |FROM events""".stripMargin,

    "q31_nested_flatten" ->
      """SELECT o_custkey, o_orderkey,
        |       round(o_totalprice, 4) AS o_totalprice
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q32_group_first" ->
      """SELECT o_custkey, o_orderpriority AS first_priority,
        |       round(o_totalprice, 4) AS first_totalprice
        |FROM orders
        |QUALIFY row_number() OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC) = 1""".stripMargin,

    "q33_global_topk" ->
      """SELECT o_orderkey, o_custkey,
        |       round(o_totalprice, 4) AS o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "q34_distinct_values" ->
      """SELECT DISTINCT o_orderpriority, o_orderstatus
        |FROM orders""".stripMargin,

    "q35_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'purchase'),
        |c0 AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, value
        |  FROM events WHERE event_type = 'click'),
        |c AS (
        |  SELECT * FROM c0
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, us ORDER BY event_id DESC) = 1)
        |SELECT p.event_id, p.user_id, p.us,
        |       c.us AS last_click_us,
        |       round(c.value, 4) AS last_click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.us >= c.us""".stripMargin,

    // DuckDB ASOF with the inequality flipped (p.us <= c.us) walks
    // forward; the tolerance is a post-join CASE — the nearest match
    // beyond it implies no match within it.
    "q82_asof_forward" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'purchase'),
        |c0 AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, value
        |  FROM events WHERE event_type = 'click'),
        |c AS (
        |  SELECT * FROM c0
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, us ORDER BY event_id DESC) = 1)
        |SELECT p.event_id, p.user_id, p.us,
        |       CASE WHEN c.us - p.us <= 3600000000 THEN c.us END
        |         AS next_click_us,
        |       CASE WHEN c.us - p.us <= 3600000000
        |            THEN round(c.value, 4) END AS next_click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.us <= c.us""".stripMargin,

    "q37_anti_join" ->
      """SELECT c_custkey, c_mktsegment,
        |       round(c_acctbal, 4) AS c_acctbal
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS grp
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q53_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS grp
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q39_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q40_pivot" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS F,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS O,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q44_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       round(lag(o_totalprice, 1, 0.0) OVER w, 4) AS prev,
        |       CAST(ntile(4) OVER w AS INT) AS quartile,
        |       round(cume_dist() OVER w, 6) AS cd,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(nth_value(o_totalprice, 2) OVER w, 4) AS nth2,
        |       round(SUM(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_totalprice
        |         RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW), 4)
        |         AS range_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,

    "q45_set_ops" ->
      """WITH urgent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |low AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '5-LOW')
        |SELECT o_custkey, 'except' AS set_op
        |FROM (SELECT o_custkey FROM urgent
        |      EXCEPT SELECT o_custkey FROM low)
        |UNION ALL
        |SELECT o_custkey, 'intersect' AS set_op
        |FROM (SELECT o_custkey FROM urgent
        |      INTERSECT SELECT o_custkey FROM low)""".stripMargin,

    "q46_conditional_agg" ->
      """SELECT c_mktsegment,
        |       CAST(count_if(c_acctbal > 0) AS BIGINT) AS n_positive,
        |       round(SUM(CASE WHEN c_acctbal > 0 THEN c_acctbal
        |                      ELSE 0.0 END), 4) AS positive_total,
        |       max(struct_pack(c_acctbal := c_acctbal,
        |                       c_custkey := c_custkey)).c_custkey
        |         AS richest_custkey
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q43_star_schema" ->
      """SELECT p_brand, n_name, COUNT(*) AS n_lines,
        |       round(SUM(l_extendedprice * (1.0 - l_discount)
        |                 - p_retailprice * l_quantity), 2) AS margin,
        |       round(AVG(l_discount), 6) AS avg_discount
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY p_brand, n_name""".stripMargin
  )
}
