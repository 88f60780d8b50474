package graft.queries

import Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] analytic surface (SURVEY.md §2.2): joins, aggregations, window
  * functions, as-of join, cube, set ops, date/JSON scalar functions —
  * none exist in the reference (documented absent there); these are the
  * harness-mandated extensions, built Spark-first.
  *
  * Scale notes (100 TB thinking, verified via .explain):
  * - dimension joins broadcast (region/nation/customer) — no shuffle of
  *   the fact side beyond the aggregation's own exchange;
  * - aggregates are partial+final hash aggs (map-side combine);
  * - money sums run in DECIMAL (exact, order-insensitive) and convert to
  *   DOUBLE only at the output boundary — oracle parity can't be broken
  *   by float summation order;
  * - the as-of join is the union+running-max pattern: one shuffle on
  *   user_id, no range-join explosion.
  */
object AnalyticQueries {

  // 6-hour tumbling window in micros (batch twin of the streaming window)
  private val WinUs = 21600000000L
  // 1-hour session gap in micros (batch twin of streaming sessionization)
  private val SessGapUs = 3600000000L
  // 10-minute attribution window in micros (range-join funnel)
  private val FunnelWinUs = 600000000L
  // per-step max gap for the time-bounded funnel: 1 day in micros (the
  // sf0.01 step-1→2 gap quartiles are ~0.5/1.3/2.7 days, so a 1-day
  // bound converts a real fraction and cuts a real fraction — both
  // branches exercised at every scale)
  private[queries] val FunnelMaxGapUs = 86400000000L

  /** Ordered-step conversion report (view → click → purchase), the
    * greedy earliest-completion semantics: t1 = min view ts, then step
    * k completes at the earliest event strictly after step k−1 —
    * bounded, when `maxGapUs` is set, to at most that far after (closed
    * boundary: an event at exactly t_prev + gap converts). Declarative
    * chain of conditional MINs — each step one map-combined agg + one
    * equi-join, all keyed on user_id so the shuffles align on one
    * partitioning; no window over events, no per-user sort. The 3-row
    * report's step-1 denominator rides the whole-frame constant window,
    * which GlobalConstantAgg plans as the zero-exchange
    * constant spread (plan-pinned in queries/PlanShapeSpec). */
  private[queries] def funnelReport(ev: DataFrame,
                                    maxGapUs: Option[Long]): DataFrame = {
    val e = ev.select(col("user_id"), col("event_type"), col("ts_us"))
    def within(t: org.apache.spark.sql.Column, prev: org.apache.spark.sql.Column) =
      maxGapUs.fold(t > prev)(w => t > prev && t <= prev + lit(w))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
      .filter(within(col("ts_us"), col("t1")))
      .groupBy("user_id").agg(min("ts_us").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(within(col("ts_us"), col("t2")))
      .groupBy("user_id").agg(min("ts_us").as("t3"))
    val counts = t1.agg(count(lit(1)).as("n_users"))
      .select(lit(1L).as("step"), lit("view").as("step_name"), col("n_users"))
      .unionByName(t2.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("step"), lit("click").as("step_name"), col("n_users")))
      .unionByName(t3.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("step"), lit("purchase").as("step_name"), col("n_users")))
    counts
      .withColumn("n_step1",
        max(when(col("step") === 1L, col("n_users"))).over(Window.partitionBy()))
      .withColumn("conv_ppm", expr(
        "cast(cast(n_users AS decimal(38,0)) * 1000000 div n_step1 AS bigint)"))
      .select("step", "step_name", "n_users", "conv_ppm")
      .orderBy("step")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style flag/status rollup over lineitem
    "q1_agg" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // 3-way join: revenue by market segment (broadcast the dimension)
    "q_join_revenue" -> ((s, dir) =>
      lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          countDistinct("o_orderkey").as("n_orders"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("c_mktsegment")),

    // 4-way star join: order volume by region / nation (broadcast dims)
    "q_join_nation_region" -> ((s, dir) =>
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("r_name", "n_name")),

    // anti join: customers with no orders
    "q_join_anti" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // semi join: customers with ≥1 order, counted per segment
    "q_join_semi" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")),

    // ranking + lag analytics per user over event time
    "q_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .filter(col("user_id") < 10)
        .select("user_id", "event_id", "rn", "gap_us")
        .orderBy("user_id", "rn")
    }),

    // extended window analytics: distribution ranks and positional values
    // over the same per-user event-time ordering
    "q_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, dir)
        .filter(col("user_id") < 10)
        .select(
          col("user_id"), col("event_id"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          first("event_id").over(wFull).as("first_event"),
          last("event_id").over(wFull).as("last_event"))
        .orderBy("user_id", "event_id")
    }),

    // FUNNEL ANALYSIS — ordered-step conversion (view → click →
    // purchase), the product-analytics query every event pipeline
    // runs: a user completes step k only with an event strictly AFTER
    // their step-k−1 completion (greedy earliest-completion, the
    // standard funnel semantics). Declarative chain of conditional
    // MINs: t1 = min view ts; t2 = min click ts > t1; t3 = min
    // purchase ts > t2 — each step is a map-combined agg + an
    // equi-join, ALL keyed on user_id, so the per-step shuffles align
    // on one partitioning (no window, no per-user sort, no collect).
    // The report is 3 rows; conversion is integer-exact ppm of step-1
    // users via a whole-report constant window (zero-exchange rescue).
    "q_funnel" -> ((s, dir) =>
      funnelReport(events(s, dir), maxGapUs = None)),

    // TIME-BOUNDED FUNNEL — the real-world variant: step k counts only
    // when completed within `FunnelMaxGapUs` of step k−1 ("click within
    // a day of first view"). Same conditional-MIN chain: because any
    // later qualifying event is even further from the anchor, the
    // windowed min is the unbounded min WHEN it lands inside the
    // window and null otherwise — so the per-step bound is one extra
    // predicate (`ts <= t_prev + W`) on the same join+agg, no new
    // shuffle. Boundary is CLOSED at exactly t_prev + W (spec-pinned,
    // FunnelBoundarySpec).
    "q_funnel_windowed" -> ((s, dir) =>
      funnelReport(events(s, dir), maxGapUs = Some(FunnelMaxGapUs))),

    // MULTI-KEY ORDER BY windows — composite (a, b) global ordering
    // with heavy ties at BOTH grains, across the rescued families:
    // rank/dense_rank and peer-inclusive running sum at the tied
    // composite grain (their value is tie-run invariant), a suffix
    // RANGE count, and row_number/lag over the 3-key unique order. All
    // GLOBAL (empty partition spec) so every node rides its rescue at
    // any scale; multi-key tie runs hit KeyRunEquality's composite
    // path. Fuzz-pinned in GlobalWindowFuzzSpec cases 10/11.
    "q_window_multikey" -> ((s, dir) => {
      val a = pmod(col("user_id"), lit(50L))
      val b = pmod(col("event_id"), lit(7L))
      val byAB = Window.orderBy("a", "b")
      val u3 = Window.orderBy("a", "b", "event_id")
      events(s, dir)
        .select(col("event_id"), a.as("a"), b.as("b"))
        .withColumn("rnk", rank().over(byAB).cast("bigint"))
        .withColumn("drnk", dense_rank().over(byAB).cast("bigint"))
        .withColumn("csum", sum("event_id").over(byAB))
        .withColumn("scnt", count(lit(1)).over(
          byAB.rangeBetween(Window.currentRow, Window.unboundedFollowing)))
        .withColumn("rn3", row_number().over(u3).cast("bigint"))
        .withColumn("lg3", lag("event_id", 3).over(u3))
        .filter(pmod(col("event_id"), lit(89L)) === 0L)
        .select("event_id", "a", "b", "rnk", "drnk", "csum", "scnt",
          "rn3", "lg3")
        .orderBy("event_id")
    }),

    // SORTED COLLECT WINDOW — `collect_list OVER (... ROWS BETWEEN
    // UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)` with an explicit
    // total ORDER BY: each row carries its user's full event path in
    // event-time order. Rides the ordered constant-agg rescue
    // (the GlobalConstantAgg family's ordered collect_list): range exchange over
    // (user_id, ts_us, event_id), Collect partials APPEND under the
    // left-to-right edge merge, so the distributed list equals the
    // sorted sequential build — the last commonly-written window shape
    // that previously stayed on the single-task built-in. Gate-pinned
    // in Verify/Bench (SparkEntry.pinsRescueGate) so the rescue is the
    // plan actually exercised.
    "q_collect_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("visit_path",
          concat_ws(",", collect_list(col("event_id").cast("string")).over(w)))
        .filter(pmod(col("event_id"), lit(97L)) === 0L)
        .select("user_id", "event_id", "visit_path")
        .orderBy("event_id")
    }),

    // date/time scalar breadth over the event timestamps
    "q_date_funcs" -> ((s, dir) =>
      events(s, dir)
        .filter(col("event_id") < 500)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .select(
          col("event_id"),
          year(col("ts")).cast("bigint").as("y"),
          quarter(col("ts")).cast("bigint").as("q"),
          month(col("ts")).cast("bigint").as("m"),
          dayofmonth(col("ts")).cast("bigint").as("d"),
          hour(col("ts")).cast("bigint").as("h"),
          date_add(to_date(col("ts")), 30).cast("string").as("plus30"),
          last_day(to_date(col("ts"))).cast("string").as("month_end"),
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("bigint").as("days_since"))
        .orderBy("event_id")),

    // running (prefix) sum per user — frame clause
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("running_value", sum(dec(col("value"))).over(w).cast("double"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy("ts_us", "event_id")).cast("bigint"))
        .filter(col("user_id") < 10)
        .select("user_id", "rn", "event_id", "running_value")
        .orderBy("user_id", "rn")
    }),

    // as-of join: for each purchase, the user's most recent click at-or-
    // before it. Union + running-max over one user_id shuffle — the
    // scalable as-of pattern (no per-row range probe, no join explosion).
    "q_asof_click_before_purchase" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("click_ts",
          when(col("event_type") === "click", col("ts_us")))
        .withColumn("last_click_us", max("click_ts").over(w))
        .filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts_us", "last_click_us")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // NEAREST-EITHER-DIRECTION AS-OF — the other as-of users write:
    // for each purchase, the click CLOSEST in time, before OR after
    // (attribution windows, sensor alignment). Same union + per-key
    // window pattern as the backward as-of, twice: last click at-or-
    // before = running max over the prefix frame, next click after =
    // running min over the suffix frame — ONE exchange on user_id
    // shared by both (prefix + suffix rescues / gate-governed stock),
    // never a range-join explosion. Nearest = smaller absolute gap,
    // ties to the earlier (before) click; direction reported.
    "q_asof_nearest_click" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("click_ts",
          when(col("event_type") === "click", col("ts_us")))
        .withColumn("prev_click_us", max("click_ts").over(wPrev))
        .withColumn("next_click_us", min("click_ts").over(wNext))
        .filter(col("event_type") === "purchase")
        .withColumn("gap_prev", col("ts_us") - col("prev_click_us"))
        .withColumn("gap_next", col("next_click_us") - col("ts_us"))
        .withColumn("nearest_click_us", expr(
          """CASE WHEN prev_click_us IS NULL THEN next_click_us
                  WHEN next_click_us IS NULL THEN prev_click_us
                  WHEN gap_prev <= gap_next THEN prev_click_us
                  ELSE next_click_us END"""))
        // direction = WHICH branch won, not a timestamp re-compare: a
        // click at the exact purchase timestamp found via the suffix
        // window is an 'after' click with gap 0, but
        // `nearest_click_us <= ts_us` would mislabel it 'before'
        .withColumn("direction", expr(
          """CASE WHEN nearest_click_us IS NULL THEN NULL
                  WHEN prev_click_us IS NULL THEN 'after'
                  WHEN next_click_us IS NULL THEN 'before'
                  WHEN gap_prev <= gap_next THEN 'before'
                  ELSE 'after' END"""))
        .withColumn("gap_us", expr("abs(ts_us - nearest_click_us)"))
        .select("user_id", "event_id", "ts_us", "nearest_click_us",
          "gap_us", "direction")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // grouping sets: cube over (event_type, day)
    "q_cube" -> ((s, dir) =>
      events(s, dir)
        .withColumn("day",
          to_date(timestamp_micros(col("ts_us"))).cast("string"))
        .cube("event_type", "day")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)),

    // rollup (hierarchical grouping sets): region → nation → total
    "q_rollup" -> ((s, dir) =>
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "o_totalprice")
        // Column-arg rollup: the String-arg overload resolves through a
        // path that trips the ambiguous-self-join check on multi-join
        // lineage (Column args resolve cleanly)
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)),

    // arbitrary GROUPING SETS (the general form under cube/rollup) with
    // grouping_id disambiguating the null-as-total rows — via spark.sql,
    // exercising the SQL entry point over a registered view
    "q_grouping_sets" -> ((s, dir) => {
      events(s, dir)
        .withColumn("day",
          to_date(timestamp_micros(col("ts_us"))).cast("string"))
        .createOrReplaceTempView("events_gs")
      s.sql(
        """SELECT event_type, day, grouping__id AS gid,
             count(*) AS n, count(DISTINCT user_id) AS users
           FROM events_gs
           GROUP BY GROUPING SETS ((event_type), (day), (event_type, day), ())
           ORDER BY gid, event_type NULLS FIRST, day NULLS FIRST"""
        .replace("grouping__id", "CAST(grouping_id() AS BIGINT)"))
    }),

    // pivot: event-type counts as columns, one row per day — the
    // wide-format reshape; each output column is a filtered count, so
    // the oracle states it as CASE aggregation
    "q_pivot" -> ((s, dir) =>
      events(s, dir)
        .withColumn("day",
          to_date(timestamp_micros(col("ts_us"))).cast("string"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")),

    // UNPIVOT (melt) — the inverse of q_pivot: the wide per-type count
    // matrix back to long (day, event_type, cnt) rows. Spark's native
    // unpivot is a row-local Expand (no shuffle beyond the pivot's own
    // agg); ids/values are explicit so the shape survives schema
    // evolution. Zero-count cells are kept (the melt is lossless).
    "q_unpivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      events(s, dir)
        .withColumn("day",
          to_date(timestamp_micros(col("ts_us"))).cast("string"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L)
        .unpivot(Array(col("day")), types.map(col).toArray,
          "event_type", "cnt")
        .orderBy("day", "event_type")
    }),

    // PERIOD-OVER-PERIOD GROWTH — the weekly business series every
    // analytics surface ships: revenue per week (integer day-arithmetic
    // Monday alignment, the cohort queries' convention) with ppm change
    // vs the previous week (NULL for the first). Arithmetic is integer
    // CENTS throughout, and the signed division is sign-split so every
    // engine division sees NON-NEGATIVE operands — Spark's `div`
    // truncates while DuckDB's `//` floors, and they only agree above
    // zero. The lag rides the rescued global offset window.
    "q_wow_growth" -> ((s, dir) => {
      val week = expr(
        "(datediff(o_orderdate, date '1970-01-05') div 7) * 7")
      orders(s, dir)
        .withColumn("week_num", week.cast("bigint"))
        .groupBy("week_num")
        .agg(sum(Tables.dec(col("o_totalprice"))).as("revenue"))
        .withColumn("rev_c", expr("cast(revenue * 100 AS bigint)"))
        .withColumn("prev_c",
          lag("rev_c", 1).over(Window.orderBy("week_num")))
        .withColumn("growth_ppm", expr(
          """cast(CASE WHEN prev_c IS NULL THEN NULL
               WHEN rev_c >= prev_c
                 THEN (cast(rev_c - prev_c AS decimal(38,0)) * 1000000) div prev_c
               ELSE -((cast(prev_c - rev_c AS decimal(38,0)) * 1000000) div prev_c)
             END AS bigint)"""))
        .select(col("week_num"), col("revenue").cast("double").as("revenue"),
          col("growth_ppm"))
        .orderBy("week_num")
    }),

    // exact percentiles (sort-based; identical linear interpolation in
    // both engines) per group
    "q_percentiles" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
          expr("percentile(l_extendedprice, 0.75)").as("p75_price"),
          expr("percentile(l_extendedprice, 0.99)").as("p99_price"))
        .orderBy("l_returnflag")),

    // EXACT GLOBAL QUANTILES WITHOUT A SINGLE REDUCER — `percentile()`
    // on a global agg funnels every value into ONE aggregation buffer
    // (q_percentiles dodges the cliff only because its groups are
    // small). Nearest-rank definition, integer-exact in ppm arithmetic:
    // global rank from the two-pass range-partition index, target rank
    // = ceil(p·n). One range exchange + a broadcast of per-partition
    // offsets — no window exec, no single-task stage at any scale.
    "q_exact_quantiles" -> ((s, dir) => {
      val vals = lineitem(s, dir)
        .select(col("l_extendedprice").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val ranked = graft.pipeline.Corpus.withGlobalIndex(vals,
          Seq(col("v"), col("l_orderkey"), col("l_linenumber")), "__idx", "__n")
        .withColumn("rnk", col("__idx") + 1L)
      def tgt(p: Long) = expr(s"(__n * ${p}L + 999999) div 1000000")
      ranked.withColumn("p_ppm",
          when(col("rnk") === tgt(250000L), 250000L)
            .when(col("rnk") === tgt(500000L), 500000L)
            .when(col("rnk") === tgt(990000L), 990000L))
        .filter(col("p_ppm").isNotNull)
        .select(col("p_ppm"), col("v").as("value"))
        .orderBy("p_ppm")
    }),

    // set ops beyond the reference's implicit union
    "q_intersect" -> ((s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "click").select("user_id")
        .intersect(e.filter(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    }),
    "q_except" -> ((s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "error").select("user_id")
        .except(e.filter(col("event_type") === "signup").select("user_id"))
        .orderBy("user_id")
    }),

    // null-safe equality join (<=>): null keys MATCH each other, unlike
    // plain = which drops them — the semantic gap every dedup-by-key
    // pipeline hits when key extraction can fail
    "q_null_safe_join" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("k", when(pmod(col("user_id"), lit(10)) === 0, lit(null)).otherwise(col("user_id")))
      val l = e.filter(col("event_type") === "click")
        .groupBy("k").agg(count(lit(1)).as("n_clicks"))
      val r = e.filter(col("event_type") === "purchase")
        .groupBy(col("k").as("k2")).agg(count(lit(1)).as("n_purchases"))
      l.join(r, col("k") <=> col("k2"))
        .select(col("k"), col("n_clicks"), col("n_purchases"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // JSON scalar function over the props column
    "q_json_props" -> ((s, dir) =>
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // date functions: daily activity rollup
    "q_date_daily" -> ((s, dir) =>
      events(s, dir)
        .withColumn("day",
          to_date(timestamp_micros(col("ts_us"))).cast("string"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          countDistinct("user_id").as("users"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy("day")),

    // tumbling 6h window agg — the deterministic batch twin of the
    // Structured Streaming ingest (graft.streaming)
    "q_window_tumbling" -> ((s, dir) =>
      events(s, dir)
        .withColumn("win_start_us", expr(s"(ts_us div $WinUs) * $WinUs"))
        .groupBy("win_start_us", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy("win_start_us", "event_type")),

    // skew-safe two-phase aggregation: low-cardinality hot keys
    // (event_type) spread over 8 salts, partial per (key, salt), combined
    // per key — result provably identical to the direct groupBy (oracle)
    "q_salted_agg" -> ((s, dir) =>
      graft.operators.SaltedAgg.aggregate(
        events(s, dir).withColumn("dec_value", dec(col("value"))),
        keys = Seq("event_type"),
        spreadCol = col("user_id"),
        aggs = Seq(
          "n" -> (col("value"), "count"),
          "total" -> (col("dec_value"), "sum"),
          "min_value" -> (col("value"), "min"),
          "max_value" -> (col("value"), "max")),
        salts = 8)
        .withColumn("total", col("total").cast("double"))
        .orderBy("event_type")),

    // skew-safe salted join: hot large-side keys spread over 4 salts,
    // small side replicated per salt — result identical to the plain join
    "q_salted_join" -> ((s, dir) => {
      val l = lineitem(s, dir)
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"), col("l_partkey"))
      val r = supplier(s, dir)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.SaltedJoin.join(l, r, Seq("suppkey"), col("l_partkey"), salts = 4)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
        .orderBy("s_nationkey")
    }),

    // TPC-H Q3 shape (shipping-priority top-k): selective dimension
    // filter broadcast against two fact tables, grouped revenue, top-10
    // by revenue — the canonical "filter early, broadcast the small
    // side, TakeOrderedAndProject the result" analytic plan
    "q_tpch_q3" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1996-06-30"))
        .join(orders(s, dir).filter(col("o_orderdate") < lit("1996-07-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, dir).filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .withColumn("o_orderdate", col("o_orderdate").cast("string"))),

    // gap sessions via the BUILT-IN session_window aggregation — the
    // Spark-first twin of q_sessionize (same strictly-greater gap rule,
    // verified; window end = last event + gap)
    "q_session_window" -> ((s, dir) =>
      events(s, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("clicks"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start"),
          unix_micros(col("session_window.end")).as("sess_end_excl"),
          col("clicks"))
        .orderBy("user_id", "sess_start")),

    // scalable range join (point-in-interval via coarse time buckets —
    // graft.operators.RangeJoin): clicks from any user in the 10 minutes
    // before each purchase. A raw BETWEEN join would plan as a
    // nested-loop; the bucket decomposition turns it into one equi-join.
    "q_range_join_funnel" -> ((s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_us").as("cts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts_us").as("pts"))
        .withColumn("lo", col("pts") - lit(FunnelWinUs))
      graft.operators.RangeJoin
        .pointInInterval(clicks, purchases, col("cts"), col("lo"), col("pts"),
          width = FunnelWinUs)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"), min("cts").as("first_click_us"))
        .orderBy("purchase_id")
    }),

    // INTERVAL-OVERLAP JOIN — both join sides are intervals (the shape
    // point-in-interval can't express): per purchase, the sessions (any
    // user) active during its 10-minute attribution window. RangeJoin
    // .intervalOverlap explodes BOTH sides over their covered 1h
    // buckets and equi-joins on the bucket; each overlapping pair is
    // emitted only in the bucket owning the overlap's start (one
    // comparison — no distinct, no second shuffle). Session intervals
    // are half-open [start, end+1) so single-event sessions still
    // cover their instant.
    "q_interval_join" -> ((s, dir) => {
      val e = events(s, dir)
      val sess = graft.streaming.StreamingIngest
        .sessionizeBatch(e.select("user_id", "ts_us"), SessGapUs)
        .select(col("user_id"), col("sess_start"),
          (col("sess_end") + lit(1L)).as("sess_stop"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts_us").as("pts"))
        .withColumn("plo", col("pts") - lit(FunnelWinUs))
      graft.operators.RangeJoin
        .intervalOverlap(sess, pur, col("sess_start"), col("sess_stop"),
          col("plo"), col("pts"), width = SessGapUs)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_sessions"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("purchase_id")
    }),

    // gap-based sessionization (1h gap) — batch twin of the streaming
    // flatMapGroupsWithState sessionizer (graft.streaming.sessionize);
    // one user_id shuffle, two window passes, then a hash agg.
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.StreamingIngest
        .sessionizeBatch(events(s, dir).select("user_id", "ts_us"), SessGapUs)
        .orderBy("user_id", "sess_id")),

    // SCD2 INTERVALIZATION — turn a change log into slowly-changing-
    // dimension rows: per user, each run of consecutive equal
    // event_type values collapses to one [valid_from, valid_to) row
    // (half-open; the current state carries NULL valid_to). The
    // warehouse-standard temporal-table builder. Two chained per-key
    // windows (lag to find change points, lead to close intervals) on
    // ONE (user_id, ts) sort order — the same shape as sessionize:
    // stock hash-partition windows below the size gate, the skew-safe
    // per-key rescue above it.
    "q_scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val changes = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      // same spec `w` for the lead: the one-exchange invariant the plan
      // guard asserts is structural, not a coincidence of two literals
      changes
        .withColumn("valid_to_us", lead("ts_us", 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"))
        .orderBy("user_id", "valid_from_us")
    }),

    // SCD2 POINT-IN-TIME attribution — "what state was the user in just
    // BEFORE this purchase?": each fact row joins the dimension segment
    // that PRECEDES its own (the segment containing the fact is
    // trivially its own type — the prior segment is the informative
    // one). No interval range-join: the segment ordinal is a running
    // count of change flags (one per-key exchange shared by all three
    // windows), the change-sized dimension carries lag(seg_type) as the
    // prior state, and facts equi-join on (user, seg). At 100 TB the
    // interval formulation explodes fact × interval candidates; this is
    // one window pass + one hash join on a dim the size of the CHANGE
    // stream, not the event stream.
    "q_scd2_pit" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      // persisted: the flagged+numbered stream feeds BOTH the dim and the
      // fact side — without it the event table scans (and windows) twice
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("chg",
          when(lag("event_type", 1).over(w).isNull ||
            lag("event_type", 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("seg", sum("chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val eP = graft.queries.PipelineQueries.Persisted
        .persistSwap1("scd2_pit_events", dir, e)
      val dim = eP.filter(col("chg") === 1L)
        .select(col("user_id"), col("seg"), col("event_type").as("seg_type"))
      val prior = dim
        .withColumn("prior_state",
          lag("seg_type", 1).over(Window.partitionBy("user_id").orderBy("seg")))
        .select("user_id", "seg", "prior_state")
      eP.filter(col("event_type") === "purchase")
        .join(prior, Seq("user_id", "seg"))
        .select("user_id", "event_id", "ts_us", "prior_state")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // WEEKLY COHORT RETENTION — the product-analytics staple: users
    // cohorted by their first active ISO week; each later active week
    // counts toward (cohort, offset). Weeks are derived in pure INTEGER
    // day arithmetic from the epoch-micros key (Monday-aligned: epoch
    // day 4 = 1970-01-05 was a Monday) so the result is bit-identical on
    // any engine — no calendar/zone functions in the grouping key.
    // Scale shape: the distinct (user, week) grain collapses the event
    // stream FIRST (map-side combinable — one exchange over the pair),
    // then the cohort is a whole-group min window over user_id: at
    // 100 TB that window is per-key bounded (≤ #weeks rows per user) and
    // rides the skew rescue if a bot user spans every week. The final
    // (cohort, offset) rollup is a tiny partial+final hash agg.
    "q_retention_cohort" -> ((s, dir) => {
      val wk = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("4 + 7 * ((ts_us div 86400000000 - 4) div 7)").as("wk_day"))
        .distinct()
      wk.withColumn("cohort_day",
          min("wk_day").over(Window.partitionBy("user_id")))
        .withColumn("week_offset", expr("(wk_day - cohort_day) div 7"))
        // one row per (user, week) ⇒ count(*) IS the distinct-user count
        .groupBy("cohort_day", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .select(
          date_from_unix_date(col("cohort_day").cast("int")).as("cohort_week"),
          col("week_offset"), col("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // PAGERANK over the customer–supplier trade graph (who ordered from
    // whom, via orders ⋈ lineitem), 3 Jacobi iterations, damping 0.85.
    // The graph is symmetrized (both directions of each trade edge) so
    // every node has out-degree ≥ 1 — no dangling-mass correction term.
    // Ranks are carried as exact INTEGER parts-per-million (r₀ = 10⁶;
    // r' = 0.15·10⁶ + (0.85·10⁶ · Σ (r_u div deg_u)) div 10⁶ — integer
    // division end-to-end) so the fixed-point is bit-identical on any
    // engine and any partitioning: no floating-point fold order exists.
    // Scale shape (graft.operators.PageRank): the degree-annotated edge
    // list builds ONCE and persists (at 100 TB: one shuffle on src,
    // reused by every iteration); each iteration is the canonical
    // distributed PageRank step — join ranks to edges on src,
    // partial+final sum by dst, |nodes| ≪ |edges|; the final top-20 is
    // TakeOrderedAndProject over the |nodes|-row cut, never a global
    // sort.
    "q_pagerank" -> ((s, dir) => {
      val pairs = orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val e = PipelineQueries.Persisted.persistSwap1("pagerank_edges", dir,
        graft.operators.PageRank.edges(pairs))
      // the iteration chain is a fixed-shape tiny-stage loop — run it
      // eagerly with AQE off (its per-stage re-planning barrier
      // multiplies by round count; same treatment as the CC loop in
      // graft.pipeline.Dedup) and with loop shuffles sized to the edge
      // count, not the session default (a 100 TB graph keeps its full
      // parallelism; a dictionary-sized one stops paying 32-task
      // scheduling per tiny stage). The |nodes|-row result is a tracked
      // PERSIST, not a localCheckpoint: re-invocation on the same dir is
      // a CacheManager no-op reading the warm cache (no per-invocation
      // block generations — the Persisted-hygiene discipline), and a new
      // dir releases the old generation first.
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val nEdges = e.count()
        s.conf.set("spark.sql.shuffle.partitions",
          math.max(1L, math.min(prevParts.toLong, nEdges / 500000L + 1L)).toString)
        val r = PipelineQueries.Persisted.persistSwap1("pagerank_ranks", dir,
          graft.operators.PageRank
            .iterate(e, graft.operators.PageRank.initRanks(e), 3))
        r.count()
        r.orderBy(col("rank").desc, col("node")).limit(20)
      } finally {
        s.conf.set("spark.sql.adaptive.enabled", prevAqe)
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    }),

    // TRIANGLE COUNT over the frequent co-purchase graph (market-basket
    // analytics). Three scale levers, each load-bearing at 100 TB:
    // (1) pairs are generated per order — the self-join key is the
    // order, whose line count is bounded (~7), so the pair fanout per
    // key is O(lines²) = O(50), never a hub explosion; (2) a SUPPORT
    // threshold (co-purchased in ≥ 2 orders) prunes the co-occurrence
    // graph to its non-noise core before any quadratic step — the edge
    // relation collapses from |samples| to a dictionary-sized set that
    // BROADCASTS; (3) edges are ORIENTED a < b, so each wedge (and hence
    // each triangle) is enumerated exactly once and the wedge fanout per
    // node is C(out-degree, 2), bounded by the support filter. The count
    // is exact integer — engine-order-free by construction.
    "q_triangles" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val e = PipelineQueries.Persisted.persistSwap1("triangle_edges", dir,
        li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
          .agg(count(lit(1)).as("sup"))
          .filter(col("sup") >= 2L)
          .select("a", "b"))
      val w = e.as("e1").join(broadcast(e.as("e2")),
          col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
        .select(col("e1.b").as("x"), col("e2.b").as("y"))
      val closed = w.join(broadcast(e),
          col("x") === col("a") && col("y") === col("b"))
        .select(lit("triangle").as("kind"))
      // tag-and-count: edge rows and closed wedges union into ONE
      // aggregation — no scalar-combine join in the plan
      e.select(lit("edge").as("kind")).unionAll(closed)
        .groupBy("kind").agg(count(lit(1)).as("n"))
        .orderBy("kind")
    }),

    // BLOCKED FUZZY JOIN (entity resolution): near-identical part names
    // within Levenshtein distance 4, blocked on the head noun. The two
    // scale levers every production ER pipeline uses: (1) the join runs
    // at the DISTINCT-name grain — the name dictionary is orders of
    // magnitude smaller than the base table (here 64 vs 2000; on a
    // 100 TB catalog, millions vs trillions) and carries its occurrence
    // count; (2) the candidate space is BLOCKED — only pairs sharing the
    // blocking key (last token) are compared, so the quadratic
    // edit-distance kernel runs per block, never all-pairs. The
    // dictionary side broadcasts; codegen'd levenshtein() does the rest.
    "q_fuzzy_join" -> ((s, dir) => {
      val names = part(s, dir)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("noun", element_at(split(col("name"), " "), -1))
      val a = names.select(col("name").as("name_a"), col("n_parts").as("n_a"),
        col("noun"))
      val b = names.select(col("name").as("name_b"), col("n_parts").as("n_b"),
        col("noun"))
      a.join(b, Seq("noun"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 4L)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
        .orderBy("name_a", "name_b")
    })
  )

  def oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_join_revenue" ->
      """SELECT c_mktsegment,
           count(DISTINCT o_orderkey) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    "q_join_nation_region" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "q_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1 ORDER BY 1""",

    "q_window_funcs" ->
      """SELECT user_id, event_id, rn, gap_us FROM (
           SELECT user_id, event_id,
             row_number() OVER w AS rn,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         WHERE user_id < 10 ORDER BY user_id, rn""",

    "q_unpivot" ->
      """WITH p AS (
           SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type
           FROM events),
         w AS (SELECT day,
             CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
             CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
             CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
           FROM p GROUP BY day)
         SELECT day, event_type, cnt FROM (
           SELECT day, 'click' AS event_type, click AS cnt FROM w
           UNION ALL SELECT day, 'view', view FROM w
           UNION ALL SELECT day, 'purchase', purchase FROM w
           UNION ALL SELECT day, 'signup', signup FROM w
           UNION ALL SELECT day, 'error', error FROM w)
         ORDER BY day, event_type""",

    "q_wow_growth" ->
      """WITH o AS (SELECT
             CAST((datediff('day', DATE '1970-01-05',
                 CAST(o_orderdate AS DATE)) // 7) * 7 AS BIGINT)
               AS week_num,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders),
         r AS (SELECT week_num, SUM(p) AS revenue FROM o GROUP BY 1),
         c AS (SELECT week_num, revenue,
                 CAST(revenue * 100 AS BIGINT) AS rev_c FROM r),
         l AS (SELECT week_num, revenue, rev_c,
                 lag(rev_c) OVER (ORDER BY week_num) AS prev_c FROM c)
         SELECT week_num, CAST(revenue AS DOUBLE) AS revenue,
           CASE WHEN prev_c IS NULL THEN NULL
                WHEN rev_c >= prev_c THEN CAST(
                  (CAST(rev_c - prev_c AS HUGEINT) * 1000000) // prev_c AS BIGINT)
                ELSE -CAST(
                  (CAST(prev_c - rev_c AS HUGEINT) * 1000000) // prev_c AS BIGINT)
           END AS growth_ppm
         FROM l ORDER BY week_num""",

    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                    FROM events),
         s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e
                JOIN s1 ON s1.user_id = e.user_id
                WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e
                JOIN s2 ON s2.user_id = e.user_id
                WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1),
         c AS (SELECT 1 AS step, 'view' AS step_name,
                 count(*) AS n_users FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         SELECT CAST(step AS BIGINT) AS step, step_name,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(CAST(n_users AS HUGEINT) * 1000000 //
             max(CASE WHEN step = 1 THEN n_users END) OVER ()
             AS BIGINT) AS conv_ppm
         FROM c ORDER BY step""",

    "q_funnel_windowed" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                    FROM events),
         s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e
                JOIN s1 ON s1.user_id = e.user_id
                WHERE event_type = 'click' AND ts_us > t1
                  AND ts_us <= t1 + $FunnelMaxGapUs GROUP BY 1),
         s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e
                JOIN s2 ON s2.user_id = e.user_id
                WHERE event_type = 'purchase' AND ts_us > t2
                  AND ts_us <= t2 + $FunnelMaxGapUs GROUP BY 1),
         c AS (SELECT 1 AS step, 'view' AS step_name,
                 count(*) AS n_users FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         SELECT CAST(step AS BIGINT) AS step, step_name,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(CAST(n_users AS HUGEINT) * 1000000 //
             max(CASE WHEN step = 1 THEN n_users END) OVER ()
             AS BIGINT) AS conv_ppm
         FROM c ORDER BY step""",

    "q_window_multikey" ->
      """SELECT event_id, a, b, rnk, drnk, csum, scnt, rn3, lg3 FROM (
           SELECT event_id, a, b,
             CAST(rank() OVER ab AS BIGINT) AS rnk,
             CAST(dense_rank() OVER ab AS BIGINT) AS drnk,
             CAST(sum(event_id) OVER ab AS BIGINT) AS csum,
             count(*) OVER (ORDER BY a, b
               RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS scnt,
             CAST(row_number() OVER u3 AS BIGINT) AS rn3,
             lag(event_id, 3) OVER u3 AS lg3
           FROM (SELECT event_id, user_id % 50 AS a, event_id % 7 AS b
                 FROM events)
           WINDOW ab AS (ORDER BY a, b),
                  u3 AS (ORDER BY a, b, event_id))
         WHERE event_id % 89 = 0 ORDER BY event_id""",

    "q_collect_window" ->
      """SELECT user_id, event_id, visit_path FROM (
           SELECT user_id, event_id,
             array_to_string(list(CAST(event_id AS VARCHAR)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
               ',') AS visit_path
           FROM events)
         WHERE event_id % 97 = 0 ORDER BY event_id""",

    "q_window_running" ->
      """SELECT user_id, rn, event_id, running_value FROM (
           SELECT user_id, event_id,
             row_number() OVER w AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         WHERE user_id < 10 ORDER BY user_id, rn""",

    "q_window_analytics" ->
      """SELECT user_id, event_id,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(event_id) OVER wf AS first_event,
           last_value(event_id) OVER wf AS last_event
         FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
         WHERE user_id < 10
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id),
                wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY user_id, event_id""",

    "q_date_funcs" ->
      """SELECT event_id,
           CAST(year(ts) AS BIGINT) AS y,
           CAST(quarter(ts) AS BIGINT) AS q,
           CAST(month(ts) AS BIGINT) AS m,
           CAST(day(ts) AS BIGINT) AS d,
           CAST(hour(ts) AS BIGINT) AS h,
           strftime(CAST(ts AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since
         FROM events WHERE event_id < 500 ORDER BY event_id""",

    "q_asof_click_before_purchase" ->
      """SELECT user_id, event_id, ts_us, last_click_us FROM (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
           FROM events WHERE event_type IN ('click', 'purchase'))
         WHERE event_type = 'purchase'
         ORDER BY user_id, ts_us, event_id""",

    "q_asof_nearest_click" ->
      """SELECT user_id, event_id, ts_us, nearest_click_us, gap_us,
           direction FROM (
           SELECT user_id, event_id, ts_us, nearest_click_us,
             abs(ts_us - nearest_click_us) AS gap_us,
             CASE WHEN nearest_click_us IS NULL THEN NULL
                  WHEN prev_click_us IS NULL THEN 'after'
                  WHEN next_click_us IS NULL THEN 'before'
                  WHEN ts_us - prev_click_us <= next_click_us - ts_us
                    THEN 'before'
                  ELSE 'after' END AS direction
           FROM (
             SELECT user_id, event_id, ts_us, prev_click_us, next_click_us,
               CASE WHEN prev_click_us IS NULL THEN next_click_us
                    WHEN next_click_us IS NULL THEN prev_click_us
                    WHEN ts_us - prev_click_us <= next_click_us - ts_us
                      THEN prev_click_us
                    ELSE next_click_us END AS nearest_click_us
             FROM (
               SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                 max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prev_click_us,
                 min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_click_us
               FROM events WHERE event_type IN ('click', 'purchase'))
             WHERE event_type = 'purchase'))
         ORDER BY user_id, ts_us, event_id""",

    "q_cube" ->
      """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events
         GROUP BY CUBE (1, 2)
         ORDER BY event_type NULLS FIRST, day NULLS FIRST""",

    "q_rollup" ->
      """SELECT r_name, n_name, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",

    "q_percentiles" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50_qty,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.75) AS p75_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // same nearest-rank selection: CASE (first p wins a rank collision),
    // BIGINT ppm arithmetic, `//` on positive BIGINTs == Spark div
    "q_exact_quantiles" ->
      """WITH r AS (
           SELECT l_extendedprice AS v,
             CAST(row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
               l_linenumber) AS BIGINT) AS rnk,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM lineitem)
         SELECT p_ppm, value FROM (
           SELECT CAST(CASE
               WHEN rnk = (n * 250000 + 999999) // 1000000 THEN 250000
               WHEN rnk = (n * 500000 + 999999) // 1000000 THEN 500000
               WHEN rnk = (n * 990000 + 999999) // 1000000 THEN 990000
             END AS BIGINT) AS p_ppm, v AS value
           FROM r)
         WHERE p_ppm IS NOT NULL ORDER BY p_ppm""",

    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""",

    "q_except" ->
      """SELECT user_id FROM events WHERE event_type = 'error'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'signup'
         ORDER BY user_id""",

    "q_null_safe_join" ->
      """WITH e AS (SELECT CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END AS k,
                      event_type
                   FROM events),
            l AS (SELECT k, count(*) AS n_clicks FROM e WHERE event_type = 'click' GROUP BY k),
            r AS (SELECT k AS k2, count(*) AS n_purchases FROM e WHERE event_type = 'purchase' GROUP BY k)
          SELECT k, n_clicks, n_purchases
          FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k2
          ORDER BY k NULLS FIRST""",

    "q_json_props" ->
      """SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_date_daily" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n,
           count(DISTINCT user_id) AS users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_window_tumbling" ->
      s"""SELECT (epoch_us(ts) // $WinUs) * $WinUs AS win_start_us, event_type,
            count(*) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_salted_agg" ->
      """SELECT event_type, count(value) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           min(value) AS min_value, max(value) AS max_value
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_salted_join" ->
      """SELECT s_nationkey, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1 ORDER BY 1""",

    "q_grouping_sets" ->
      """SELECT event_type, day,
           CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
           count(*) AS n, count(DISTINCT user_id) AS users
         FROM (SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id
               FROM events)
         GROUP BY GROUPING SETS ((event_type), (day), (event_type, day), ())
         ORDER BY gid, event_type NULLS FIRST, day NULLS FIRST""",

    "q_pivot" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_tpch_q3" ->
      """SELECT l_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",

    "q_session_window" ->
      s"""SELECT user_id, min(ts_us) AS sess_start,
            max(ts_us) + $SessGapUs AS sess_end_excl, count(*) AS clicks
          FROM (
            SELECT user_id, ts_us,
              CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
            FROM (
              SELECT user_id, epoch_us(ts) AS ts_us,
                CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > $SessGapUs
                     THEN 1 ELSE 0 END AS new_sess
              FROM events))
          GROUP BY user_id, sess_id ORDER BY user_id, sess_start""",

    "q_range_join_funnel" ->
      s"""SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
            min(c.ts_us) AS first_click_us
          FROM (SELECT event_id, epoch_us(ts) AS ts_us FROM events
                WHERE event_type = 'purchase') p
          JOIN (SELECT event_id, epoch_us(ts) AS ts_us FROM events
                WHERE event_type = 'click') c
            ON c.ts_us >= p.ts_us - $FunnelWinUs AND c.ts_us < p.ts_us
          GROUP BY 1 ORDER BY 1""",

    "q_interval_join" ->
      s"""WITH sess AS (
           SELECT user_id, min(ts_us) AS sess_start, max(ts_us) + 1 AS sess_stop
           FROM (
             SELECT user_id, ts_us,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
             FROM (
               SELECT user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > $SessGapUs
                      THEN 1 ELSE 0 END AS new_sess
               FROM events))
           GROUP BY user_id, sess_id),
         pur AS (SELECT event_id AS purchase_id, epoch_us(ts) AS pts,
                   epoch_us(ts) - $FunnelWinUs AS plo
                 FROM events WHERE event_type = 'purchase')
         SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM sess JOIN pur ON sess_start < pts AND plo < sess_stop
         GROUP BY 1 ORDER BY 1""",

    "q_sessionize" ->
      s"""SELECT user_id, sess_id, min(ts_us) AS sess_start,
            max(ts_us) AS sess_end, count(*) AS clicks
          FROM (
            SELECT user_id, ts_us,
              CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
            FROM (
              SELECT user_id, epoch_us(ts) AS ts_us,
                CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > $SessGapUs
                     THEN 1 ELSE 0 END AS new_sess
              FROM events))
          GROUP BY 1, 2 ORDER BY 1, 2""",

    // same change-point + interval-close windows over (ts, event_id)
    "q_scd2_intervals" ->
      """WITH ch AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             lag(event_type) OVER w AS prev
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         runs AS (
           SELECT user_id, event_type, ts_us,
             lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
           FROM ch WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, ts_us AS valid_from_us, valid_to_us
         FROM runs ORDER BY user_id, valid_from_us""",

    "q_scd2_pit" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
               THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         e2 AS (
           SELECT *, sum(chg) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) AS seg
           FROM e),
         dim AS (SELECT user_id, seg, event_type AS seg_type
                 FROM e2 WHERE chg = 1),
         pr AS (SELECT user_id, seg,
                  lag(seg_type) OVER (PARTITION BY user_id ORDER BY seg)
                    AS prior_state
                FROM dim)
         SELECT e2.user_id, e2.event_id, e2.ts_us, pr.prior_state
         FROM e2 JOIN pr ON e2.user_id = pr.user_id AND e2.seg = pr.seg
         WHERE e2.event_type = 'purchase'
         ORDER BY e2.user_id, e2.ts_us, e2.event_id""",

    // same integer Monday-aligned week derivation as the Spark side —
    // the grouping key never touches a calendar function
    "q_retention_cohort" ->
      """WITH wk AS (
           SELECT DISTINCT user_id,
             4 + 7 * ((epoch_us(ts) // 86400000000 - 4) // 7) AS wk_day
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, wk_day,
             min(wk_day) OVER (PARTITION BY user_id) AS cohort_day
           FROM wk)
         SELECT DATE '1970-01-01' + CAST(cohort_day AS INT) AS cohort_week,
           (wk_day - cohort_day) // 7 AS week_offset,
           count(*) AS n_users
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",

    // identical integer ppm recurrence, iterations unrolled as CTEs
    "q_pagerank" ->
      """WITH pairs AS (
           SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges0 AS (SELECT c AS src, s AS dst FROM pairs
                    UNION ALL SELECT s, c FROM pairs),
         deg AS (SELECT src, count(*) AS deg FROM edges0 GROUP BY src),
         e AS (SELECT edges0.src, dst, deg FROM edges0 JOIN deg ON edges0.src = deg.src),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
         r1 AS (SELECT dst AS node, CAST(150000 + (850000 * sum(rank // deg)) // 1000000 AS BIGINT) AS rank
                FROM e JOIN r0 ON e.src = r0.node GROUP BY dst),
         r2 AS (SELECT dst AS node, CAST(150000 + (850000 * sum(rank // deg)) // 1000000 AS BIGINT) AS rank
                FROM e JOIN r1 ON e.src = r1.node GROUP BY dst),
         r3 AS (SELECT dst AS node, CAST(150000 + (850000 * sum(rank // deg)) // 1000000 AS BIGINT) AS rank
                FROM e JOIN r2 ON e.src = r2.node GROUP BY dst)
         SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20""",

    // same per-order pair generation, support threshold and a<b
    // orientation — the count is exact and engine-order-free
    "q_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pr AS (SELECT x.pk AS a, y.pk AS b, count(*) AS sup
                FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2),
         e AS (SELECT a, b FROM pr WHERE sup >= 2),
         w AS (SELECT e1.b AS x, e2.b AS y
               FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b),
         tagged AS (SELECT 'edge' AS kind FROM e
                    UNION ALL
                    SELECT 'triangle' FROM w JOIN e ON w.x = e.a AND w.y = e.b)
         SELECT kind, count(*) AS n FROM tagged GROUP BY 1 ORDER BY 1""",

    // same block (head noun), same distinct-name grain, same threshold
    "q_fuzzy_join" ->
      """WITH names AS (
           SELECT p_name AS name, count(*) AS n_parts,
             string_split(p_name, ' ')[-1] AS noun
           FROM part GROUP BY p_name)
         SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n_parts AS n_a, b.n_parts AS n_b
         FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 4
         ORDER BY 1, 2"""
  )
}
