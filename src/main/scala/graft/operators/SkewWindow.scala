package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-safe PARTITIONED running windows — the engine's hot-spot cure
  * applied to the one Spark operator that still has the region-server
  * failure mode built in.
  *
  * `SUM(x) OVER (PARTITION BY user ORDER BY ts)` hash-shuffles on the
  * partition key: every row of a key lands in ONE task. That is
  * parallel across keys but serial per key — a hot key (one user with a
  * fifth of 100 TB) pins a single task, exactly the hot region server
  * of the reference's README:9-27, resurfacing inside the cluster. AQE
  * re-splits skewed JOINS but never windows; the built-in plan is a
  * wall.
  *
  * The cure composes the engine's existing scale-safe primitives
  * instead of a new exec:
  *
  *   1. GLOBAL running aggregates over `ORDER BY (key ⧺ order)` — the
  *      range exchange spreads a hot key across MANY partitions, and
  *      [[graft.plans.GlobalWindowStrategy]] (GlobalRunningAgg) plans the distributed
  *      prefix scan (no single task anywhere).
  *   2. Per-key totals (one partial+final hash agg — map-side combine
  *      bounds the hot key's final-task input to one buffer per map
  *      task).
  *   3. The EXCLUSIVE key prefix: a second global running aggregate
  *      over the per-key totals (#keys rows), minus the key's own
  *      total.
  *   4. One hash join on the key (null-safe — a NULL key is a group
  *      like any other) attaches the offsets, and per-key running
  *      value = global running value − preceding-keys prefix.
  *      `row_number` per key falls out of the same subtraction on the
  *      running count.
  *
  * The subtraction demands EXACT arithmetic: sums must be integral or
  * DECIMAL (enforced — a float sum would smear rounding error across
  * key boundaries; cast to DECIMAL first, to double after, like every
  * oracle query in this repo). min/max are not invertible and are not
  * offered — they would need a group-aware exec rather than algebra.
  * All-null value runs inside a key yield NULL sums, matching the
  * built-in (guarded by a non-null running count, not by luck).
  *
  * Cost vs the built-in: one range exchange + one hash agg + one
  * key-sized join, against one hash exchange — comparable when keys
  * are uniform, and the ONLY plan that finishes when they are not. Per
  * task work is bounded by the range partitioner's split sizes,
  * independent of key skew.
  */
object SkewWindow {

  /** Per-key running sum / running count / row_number over
    * `PARTITION BY keys ORDER BY order` with `ROWS UNBOUNDED PRECEDING
    * .. CURRENT ROW` frames, skew-safe. `value` must be integral or
    * decimal (exact subtraction). `order` must make rows unique within
    * a key for deterministic output (the same requirement any ROWS
    * frame has). Appends `sumName`, `cntName`, `rnName` columns. */
  def runningExact(df: DataFrame, keys: Seq[String], order: Seq[String],
                   value: Column,
                   sumName: String = "run_sum", cntName: String = "run_n",
                   rnName: String = "run_rn",
                   nnName: Option[String] = None): DataFrame = {
    require(keys.nonEmpty && order.nonEmpty, "keys and order must be non-empty")
    val valueType = df.select(value.as("__v")).schema.head.dataType
    require(valueType match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }, s"runningExact needs an exact (integral/decimal) value, got $valueType — " +
       "cast to DECIMAL first (double subtraction would smear rounding " +
       "error across key boundaries)")

    // 1) global prefix scan over (keys ++ order): the hot key SPANS range
    // partitions instead of pinning one task; GlobalRunningAgg
    // plans the two-pass distributed prefix scan. One window node, three
    // running aggregates, one range exchange.
    val gw = Window.orderBy((keys ++ order).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = df
      .withColumn("__gsum", sum(value).over(gw))
      .withColumn("__gnn", count(value).over(gw)) // non-null values seen
      .withColumn("__gn", count(lit(1)).over(gw))

    // 2) per-key totals — partial+final hash agg, map-side combined
    val totals = df.groupBy(keys.map(col): _*)
      .agg(sum(value).as("__kt"), count(value).as("__knn"),
        count(lit(1)).as("__kc"))

    // 3) exclusive prefix of the PRECEDING keys, in the same key order
    // the global scan used — another rescued global running aggregate,
    // over #keys rows. sum() skips NULL key totals (all-null groups);
    // the key's own total subtracts back out via coalesce.
    val kw = Window.orderBy(keys.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = totals
      .withColumn("__ksum_in",
        coalesce(sum(col("__kt")).over(kw), lit(0)) - coalesce(col("__kt"), lit(0)))
      .withColumn("__knn_in", sum(col("__knn")).over(kw) - col("__knn"))
      .withColumn("__kcnt_in", sum(col("__kc")).over(kw) - col("__kc"))
      .select(keys.map(k => col(k).as(s"__k_$k")) ++
        Seq(col("__ksum_in"), col("__knn_in"), col("__kcnt_in")): _*)

    // 4) attach offsets and subtract; a key whose prefix holds no
    // non-null value yields NULL, exactly the built-in's empty-sum.
    // offsets is #keys rows by construction — BROADCAST it, so the fact
    // side never shuffles on the key (a hash join keyed on the hot key
    // would reintroduce the single hot task this operator exists to
    // avoid). The skew regime this operator targets implies modest key
    // cardinality (a billion distinct uniform keys have no hot key and
    // want the built-in window); broadcast is the right default.
    val joinCond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    val joined = g.join(broadcast(offsets), joinCond)
      .withColumn(sumName,
        when(col("__gnn") - col("__knn_in") > 0,
          coalesce(col("__gsum"), lit(0)) - col("__ksum_in")))
      .withColumn(cntName, col("__gn") - col("__kcnt_in"))
      .withColumn(rnName, col(cntName))
    nnName.fold(joined)(n =>
        joined.withColumn(n, col("__gnn") - col("__knn_in")))
      .drop(keys.map(k => s"__k_$k") ++
        Seq("__gsum", "__gnn", "__gn", "__ksum_in", "__knn_in", "__kcnt_in"): _*)
  }

  /** Per-key `lag`/`lead` (sessionization's workhorse), skew-safe. Rows
    * of a key are CONTIGUOUS under the global (keys ⧺ order) sort, so
    * the global n-th neighbor IS the per-key one exactly when its key
    * matches — one rescued global offset window
    * ([[graft.plans.GlobalWindowStrategy]] (GlobalOffsetWindow)'s boundary-row stitch,
    * no hash exchange on the key, no per-key task) plus a null-safe
    * key-boundary guard. `exprs` maps output name → (input column,
    * offset — negative = lag, positive = lead, `default` when the
    * neighbor falls outside the key). Works for any value type —
    * offsets move rows, no arithmetic. */
  /** Per-key SLIDING sum/count/avg over `ROWS k PRECEDING .. CURRENT
    * ROW` (the per-user moving average), skew-safe. Because a key's
    * rows are CONTIGUOUS under the global (keys ⧺ order) range sort,
    * the global k-row sliding window IS the per-key window for every
    * row past the key's first k — and inside those first k rows the
    * frame clips to the key's running prefix, which [[runningExact]]
    * already computes. One `when()` on the per-key row number splices
    * the two; the global sliding scan
    * ([[graft.plans.GlobalWindowStrategy]] (GlobalSlidingAgg)'s boundary stitch)
    * REUSES the same range exchange as the running scan. Appends
    * `sumName`, `cntName`, `avgName`; same exactness contract as
    * [[runningExact]] (avg is emitted as DECIMAL sum / count cast
    * double — document consumers cast as needed). min/max are not
    * invertible in the clipped region and are not offered. */
  def slidingExact(df: DataFrame, keys: Seq[String], order: Seq[String],
                   value: Column, kPreceding: Int,
                   sumName: String = "mov_sum", cntName: String = "mov_n",
                   avgName: String = "mov_avg"): DataFrame = {
    require(kPreceding > 0, s"kPreceding must be positive, got $kPreceding")
    val base = runningExact(df, keys, order, value,
      sumName = "__run_sum", cntName = "__run_n", rnName = "__run_rn",
      nnName = Some("__run_nn"))
    val gw = Window.orderBy((keys ++ order).map(col): _*)
      .rowsBetween(-kPreceding, Window.currentRow)
    val clipped = col("__run_rn") <= kPreceding
    base
      .withColumn("__gslide", sum(value).over(gw))
      .withColumn("__gslide_nn", count(value).over(gw))
      .withColumn(sumName, when(clipped, col("__run_sum")).otherwise(col("__gslide")))
      .withColumn(cntName, when(clipped, col("__run_rn")).otherwise(lit(kPreceding + 1L)))
      // avg divides by the NON-NULL count, like SQL's avg; all-null
      // frames give NULL via the null sum
      .withColumn(avgName, col(sumName).cast("double") /
        when(clipped, col("__run_nn")).otherwise(col("__gslide_nn")).cast("double"))
      .drop("__run_sum", "__run_n", "__run_rn", "__run_nn", "__gslide", "__gslide_nn")
  }

  /** Per-key `rank` / `dense_rank` over `PARTITION BY keys ORDER BY
    * order` (ascending), skew-safe. Ranks are PEER-RUN properties, so
    * the computation collapses to runs first: one map-side-combined
    * hash agg over (keys ⧺ order) yields each run's size, the exact
    * prefix machinery of [[runningExact]] (over #runs rows — itself
    * skew-safe) turns sizes into `rank` (exclusive prefix + 1) and
    * `dense_rank` (the run's per-key row number), and one null-safe
    * join on (keys ⧺ order) fans the two numbers back to the rows —
    * distributed by the full tuple, so even a single hot (key, value)
    * pair only costs its own join group. No WindowExec anywhere.
    * `percent_rank` ((rank−1)/(N−1), 0.0 for single-row keys — Spark's
    * definition) and `cume_dist` (inclusive run-end prefix / N) are
    * peer-run properties too and come almost free when requested: one
    * extra per-key count agg joined back null-safely. */
  def rankExact(df: DataFrame, keys: Seq[String], order: Seq[String],
                rankName: String = "rnk", denseName: String = "drnk",
                percentRankName: Option[String] = None,
                cumeDistName: Option[String] = None): DataFrame = {
    require(keys.nonEmpty && order.nonEmpty, "keys and order must be non-empty")
    val runCols = keys ++ order
    val runs = df.groupBy(runCols.map(col): _*).agg(count(lit(1)).as("__rc"))
    val withRanks = runningExact(runs, keys, order, col("__rc"),
        sumName = "__rsum", cntName = "__rn", rnName = "__rrn")
      .withColumn(rankName, col("__rsum") - col("__rc") + lit(1L))
      .withColumn(denseName, col("__rrn"))
    // percent_rank and cume_dist are peer-run properties too: they only
    // additionally need the key's TOTAL row count — one tiny agg joined
    // back null-safely on the keys
    val pref0 =
      if (percentRankName.isEmpty && cumeDistName.isEmpty) withRanks
      else {
        val totals = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__kn"))
          .select(keys.map(k => col(k).as(s"__t_$k")) :+ col("__kn"): _*)
        val cond = keys.map(k => col(k) <=> col(s"__t_$k")).reduce(_ && _)
        val joined = withRanks.join(broadcast(totals), cond)
          .drop(keys.map(k => s"__t_$k"): _*)
        val withPr = percentRankName.fold(joined)(n =>
          // Spark defines percent_rank = (rank-1)/(N-1), 0.0 when N = 1
          joined.withColumn(n, when(col("__kn") > 1L,
            (col(rankName) - 1L).cast("double") / (col("__kn") - 1L).cast("double"))
            .otherwise(lit(0.0))))
        cumeDistName.fold(withPr)(n =>
          // cume_dist = rows through the run END / N = inclusive prefix / N
          withPr.withColumn(n,
            col("__rsum").cast("double") / col("__kn").cast("double")))
      }
    val outCols = Seq(rankName, denseName) ++ percentRankName ++ cumeDistName
    val pref = pref0.select(runCols.map(k => col(k).as(s"__r_$k")) ++
      outCols.map(col): _*)
    val joinCond = runCols.map(k => col(k) <=> col(s"__r_$k")).reduce(_ && _)
    df.join(pref, joinCond).drop(runCols.map(k => s"__r_$k"): _*)
  }

  /** Per-key `ntile(b)` over `PARTITION BY keys ORDER BY order`
    * (ascending, unique within a key — ntile is position-based),
    * skew-safe: the per-key row number comes from [[runningExact]],
    * the key's total from one tiny agg, and the bucket is Spark's own
    * arithmetic (the first N mod b buckets take one extra row)
    * evaluated as plain expressions — no WindowExec, no per-key task. */
  def ntileExact(df: DataFrame, keys: Seq[String], order: Seq[String],
                 buckets: Int, ntileName: String = "nt",
                 rnCol: Option[String] = None): DataFrame = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    // reuse a per-key row number the caller already computed (e.g.
    // runningExact's rnName) instead of paying a second prefix scan
    val base = rnCol match {
      case Some(c) => df.withColumn("__nrn", col(c))
      case None => runningExact(df, keys, order, lit(1L),
        sumName = "__nsum", cntName = "__nn", rnName = "__nrn")
    }
    val totals = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__kn"))
      .select(keys.map(k => col(k).as(s"__t_$k")) :+ col("__kn"): _*)
    val cond = keys.map(k => col(k) <=> col(s"__t_$k")).reduce(_ && _)
    // Spark's NTile arithmetic over (0-based position, N, b): buckets
    // of size N div b, the first N mod b of them one row fatter.
    // `div` (not `/`) — Spark's `/` on longs is DOUBLE division.
    // totals is #keys rows — broadcast (see runningExact's offsets join)
    base.join(broadcast(totals), cond)
      .withColumn("__q", expr(s"__kn div $buckets"))
      .withColumn("__r", col("__kn") % buckets)
      .withColumn(ntileName, expr(
        s"""CAST(CASE WHEN __kn <= $buckets THEN __nrn
              WHEN (__nrn - 1) < (__q + 1) * __r
                THEN (__nrn - 1) div (__q + 1) + 1
              ELSE (__nrn - 1 - (__q + 1) * __r) div __q + __r + 1
            END AS INT)"""))
      .drop(keys.map(k => s"__t_$k") ++
        Seq("__nsum", "__nn", "__nrn", "__kn", "__q", "__r"): _*)
  }

  def offset(df: DataFrame, keys: Seq[String], order: Seq[String],
             exprs: Seq[(String, (Column, Int, Column))]): DataFrame = {
    require(keys.nonEmpty && order.nonEmpty, "keys and order must be non-empty")
    require(exprs.nonEmpty, "at least one lag/lead expression")
    require(exprs.forall(_._2._2 != 0), "offset 0 is the row itself")
    val gw = Window.orderBy((keys ++ order).map(col): _*)
    def shift(c: Column, off: Int): Column =
      if (off < 0) lag(c, -off).over(gw) else lead(c, off).over(gw)
    exprs.foldLeft(df) { case (d, (name, (in, off, dflt))) =>
      // the neighbor must EXIST (a null key matching a missing-row null
      // would silently swallow the default at table edges) and carry
      // the same key, null-safely — then and only then the global
      // neighbor is the per-key neighbor
      val sameKey = (shift(lit(1), off).isNotNull +:
        keys.map(k => shift(col(k), off) <=> col(k))).reduce(_ && _)
      d.withColumn(name, when(sameKey, shift(in, off)).otherwise(dflt))
    }
  }
}
