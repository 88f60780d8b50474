package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded fuzz over the skew-safe per-key window family: random skew
  * profiles (uniform keys, one hot key, mostly-null keys), random
  * value nullability and random parameters, each method compared
  * row-for-row against the built-in PARTITION BY window. Seed fixed —
  * failures reproduce. */
class SkewWindowFuzzSpec extends SparkSuite {
  import spark.implicits._

  // override for deep soaks: -Dgraft.fuzz.seed=… -Dgraft.fuzz.rounds=…
  private val rnd = new scala.util.Random(
    sys.props.getOrElse("graft.fuzz.seed", "8132026").toLong)
  private val rounds = sys.props.getOrElse("graft.fuzz.rounds", "5").toInt

  private def randomDf(): DataFrame = {
    val n = 500 + rnd.nextInt(4000)
    val profile = rnd.nextInt(3)
    val nKeys = 1 + rnd.nextInt(40)
    val hot = rnd.nextInt(nKeys)
    val nullKeyPct = profile match {
      case 2 => 40 + rnd.nextInt(40); case _ => rnd.nextInt(10)
    }
    val hotPct = profile match { case 1 => 40 + rnd.nextInt(40); case _ => 0 }
    val nullValPct = rnd.nextInt(30)
    (0 until n).map { i =>
      val k: java.lang.Long =
        if (rnd.nextInt(100) < nullKeyPct) null
        else if (rnd.nextInt(100) < hotPct) hot.toLong
        else rnd.nextInt(nKeys).toLong
      val v: java.lang.Long =
        if (rnd.nextInt(100) < nullValPct) null else rnd.nextInt(500).toLong
      (k, v, i.toLong)
    }.toDF("k", "v", "id").repartition(1 + rnd.nextInt(9))
  }

  private def snap(d: DataFrame): Seq[String] = d.collect()
    .map(r => (0 until r.length).map(j =>
      Option(r.get(j)).map(_.toString).getOrElse("null")).mkString("|"))
    .sorted.toSeq

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  (0 until rounds).foreach { round =>
    test(s"fuzz round $round: random method matches the built-in") {
      val df = randomDf()
      val w = Window.partitionBy("k").orderBy("id")
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rnd.nextInt(13) match {
        case 0 =>
          val got = SkewWindow.runningExact(df, Seq("k"), Seq("id"), col("v"))
            .select("k", "id", "run_sum", "run_n", "run_rn")
          val exp = df.withColumn("run_sum", sum("v").over(wf))
            .withColumn("run_n", count(lit(1)).over(wf))
            .withColumn("run_rn", row_number().over(w).cast("bigint"))
            .select("k", "id", "run_sum", "run_n", "run_rn")
          assert(snap(got) == snap(exp), s"runningExact diverged (round $round)")
        case 1 =>
          val off = 1 + rnd.nextInt(5)
          val got = SkewWindow.offset(df, Seq("k"), Seq("id"), Seq(
              "a" -> ((col("v"), -off, lit(-1L))),
              "b" -> ((col("v"), off, lit(null).cast("long")))))
            .select("k", "id", "a", "b")
          val exp = df.withColumn("a", lag("v", off, -1L).over(w))
            .withColumn("b", lead("v", off).over(w))
            .select("k", "id", "a", "b")
          assert(snap(got) == snap(exp), s"offset($off) diverged (round $round)")
        case 2 =>
          val kp = 1 + rnd.nextInt(12)
          val got = SkewWindow.slidingExact(df, Seq("k"), Seq("id"), col("v"), kp)
            .select("k", "id", "mov_sum", "mov_n", "mov_avg")
          val ws = w.rowsBetween(-kp, Window.currentRow)
          val exp = df.withColumn("mov_sum", sum("v").over(ws))
            .withColumn("mov_n", count(lit(1)).over(ws))
            .withColumn("mov_avg", avg("v").over(ws))
            .select("k", "id", "mov_sum", "mov_n", "mov_avg")
          assert(snap(got) == snap(exp), s"slidingExact($kp) diverged (round $round)")
        case 3 =>
          val wv = Window.partitionBy("k").orderBy("v")
          val got = SkewWindow.rankExact(df, Seq("k"), Seq("v"),
              percentRankName = Some("pr"), cumeDistName = Some("cd"))
            .select("k", "id", "rnk", "drnk", "pr", "cd")
          val exp = df.withColumn("rnk", rank().over(wv).cast("bigint"))
            .withColumn("drnk", dense_rank().over(wv).cast("bigint"))
            .withColumn("pr", percent_rank().over(wv))
            .withColumn("cd", cume_dist().over(wv))
            .select("k", "id", "rnk", "drnk", "pr", "cd")
          assert(snap(got) == snap(exp), s"rankExact diverged (round $round)")
        case 4 =>
          val b = 1 + rnd.nextInt(10)
          val got = SkewWindow.ntileExact(df, Seq("k"), Seq("id"), b)
            .select("k", "id", "nt")
          val exp = df.withColumn("nt", ntile(b).over(w)).select("k", "id", "nt")
          assert(snap(got) == snap(exp), s"ntileExact($b) diverged (round $round)")
        case 5 =>
          // per-key RANGE-interval frame over a nullable value key:
          // GlobalRangeFrameStrategy claims PARTITION BY nodes now (the
          // range exchange spreads a hot key); expected = the built-in
          // hash-exchange WindowExec with the rescue disabled
          val x = rnd.nextInt(40); val y = rnd.nextInt(40)
          val wr = Window.partitionBy("k").orderBy("v")
            .rangeBetween(if (x + y == 0) -1 else -x, y)
          val out = df
            .withColumn("rc", count(lit(1)).over(wr))
            .withColumn("rs", sum("v").over(wr))
            .select("k", "v", "id", "rc", "rs")
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalRangeFrame"),
            s"round $round: per-key range frame escaped the rescue:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected, s"per-key range frame diverged (round $round)")
        case 6 =>
          // per-key running aggregates via plain window SQL:
          // GlobalRunningAggStrategy claims PARTITION BY nodes now — a
          // group-aware prefix scan over the (key, order) range exchange
          // covers min/max too (no inverse needed). Random ROWS/RANGE
          // frame; RANGE ties share run-end values per key.
          val useRange = rnd.nextBoolean()
          val w2 =
            if (useRange) Window.partitionBy("k").orderBy("v")
            else Window.partitionBy("k").orderBy("id")
          val wf2 = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val frame = if (useRange) w2 else wf2
          val out = df
            .withColumn("rmin", min("v").over(frame))
            .withColumn("rmax", max("v").over(frame))
            .withColumn("rsum", sum("v").over(frame))
            .withColumn("rcnt", count(lit(1)).over(frame))
            .select("k", "v", "id", "rmin", "rmax", "rsum", "rcnt")
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalRunningAgg"),
            s"round $round: per-key running frame escaped the rescue:\n$p")
          assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
            s"round $round: built-in WindowExec survived:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected, s"per-key running agg diverged (round $round)")
        case 7 =>
          // per-key lag/lead via plain window SQL: the offset strategy
          // claims PARTITION BY nodes with a byte-equality key guard
          // over the (key, order) range exchange — a cross-key neighbor
          // becomes the default, as at any WindowExec partition edge
          val off = 1 + rnd.nextInt(5)
          val out = df
            .withColumn("a", lag("v", off, -1L).over(w))
            .withColumn("b", lead("v", off).over(w))
            .select("k", "v", "id", "a", "b")
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalOffsetWindow"),
            s"round $round: per-key lag/lead escaped the rescue:\n$p")
          assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
            s"round $round: built-in WindowExec survived:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected, s"per-key lag/lead($off) diverged (round $round)")
        case 8 =>
          // per-key ranking via plain window SQL — all SIX functions:
          // group-chain seeded counters over the (key, order) range
          // exchange; rank/dense/percent_rank/cume_dist on a TIES order
          // (v) — peers must share; ntile on the tie-free (id) order;
          // the group-total three exercise the buffered-group path +
          // driver segment merge; direction randomized — nulls ordering
          // pinned so ASC/DESC stay mirror images for the ties columns
          val desc = rnd.nextBoolean()
          val vOrd = if (desc) col("v").desc_nulls_last else col("v").asc_nulls_first
          val idOrd = if (desc) col("id").desc else col("id").asc
          val wd = Window.partitionBy("k").orderBy(idOrd)
          val wv = Window.partitionBy("k").orderBy(vOrd)
          val out = df
            .withColumn("rn", row_number().over(wd))
            .withColumn("rnk", rank().over(wv))
            .withColumn("drnk", dense_rank().over(wv))
            .withColumn("prk", percent_rank().over(wv))
            .withColumn("cd", cume_dist().over(wv))
            .withColumn("nt", ntile(1 + rnd.nextInt(5)).over(wd))
            .select("k", "v", "id", "rn", "rnk", "drnk", "prk", "cd", "nt")
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalRowNumber"),
            s"round $round: per-key ranking escaped the rescue:\n$p")
          assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
            s"round $round: built-in WindowExec survived:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected, s"per-key ranking diverged (round $round)")
        case 9 =>
          // per-key SLIDING frame via plain window SQL: the global
          // frame clipped at the key boundary (byte-equality per fold
          // row); random bounds containing the current row; random
          // order direction
          val kp = 1 + rnd.nextInt(8); val jf = rnd.nextInt(5)
          val sOrd = if (rnd.nextBoolean()) col("id").asc else col("id").desc
          val ws = Window.partitionBy("k").orderBy(sOrd).rowsBetween(-kp, jf)
          val out = df
            .withColumn("ms", sum("v").over(ws))
            .withColumn("mn", min("v").over(ws))
            .withColumn("mc", count(lit(1)).over(ws))
            .select("k", "v", "id", "ms", "mn", "mc")
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalSlidingAgg"),
            s"round $round: per-key sliding frame escaped the rescue:\n$p")
          assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
            s"round $round: built-in WindowExec survived:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected, s"per-key sliding($kp,$jf) diverged (round $round)")
        case 10 =>
          // per-key lag/lead IGNORE NULLS via plain window SQL: the
          // group-aware value stitch (edge-group heads/tails, chain
          // walk) + ring/FIFO resets at key boundaries
          val off1 = 1 + rnd.nextInt(3); val off2 = 1 + rnd.nextInt(4)
          df.createOrReplaceTempView("fuzz_ign")
          val q = s"""SELECT k, id, v,
                   lag(v, $off1) IGNORE NULLS OVER (PARTITION BY k ORDER BY id) AS pnn,
                   lead(v, $off2, -1) IGNORE NULLS OVER (PARTITION BY k ORDER BY id) AS nnn
                 FROM fuzz_ign"""
          val out = spark.sql(q)
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalOffsetIgnoreNulls"),
            s"round $round: per-key IGNORE NULLS offsets escaped the rescue:\n$p")
          assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
            s"round $round: built-in WindowExec survived:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected,
            s"per-key IGNORE NULLS lag($off1)/lead($off2) diverged (round $round)")
        case 11 =>
          // per-key prefix nth_value ± IGNORE NULLS via plain window
          // SQL: seeded group heads over the (key, order) range
          // exchange; order by the tie-free id so values are
          // deterministic under any task split
          val n1 = 1 + rnd.nextInt(6); val n2 = 1 + rnd.nextInt(4)
          df.createOrReplaceTempView("fuzz_nth")
          val q = s"""SELECT k, id, v,
                   nth_value(v, $n1) OVER (PARTITION BY k ORDER BY id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
                   nth_value(v, $n2) IGNORE NULLS OVER (PARTITION BY k ORDER BY id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nvnn,
                   last_value(v) OVER (PARTITION BY k ORDER BY id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
                   first_value(v) IGNORE NULLS OVER (PARTITION BY k ORDER BY id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fvnn
                 FROM fuzz_nth"""
          val out = spark.sql(q)
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalNthValue"),
            s"round $round: per-key prefix nth_value escaped the rescue:\n$p")
          assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
            s"round $round: built-in WindowExec survived:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected,
            s"per-key nth_value($n1)/IGNORE NULLS($n2) diverged (round $round)")
        case 12 =>
          // per-key whole-group constants (share-of-group-total): edge
          // partials merged on the driver, interior groups evaluated
          // locally; exact long arithmetic so association is moot
          val wg = Window.partitionBy("k")
          val out = df
            .withColumn("gs", sum("v").over(wg))
            .withColumn("gc", count(col("v")).over(wg))
            .withColumn("gm", min("v").over(wg))
            .select("k", "v", "id", "gs", "gc", "gm")
          val p = out.queryExecution.executedPlan.toString
          assert(p.contains("GlobalConstantAgg"),
            s"round $round: per-key group constants escaped the rescue:\n$p")
          assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
            s"round $round: built-in WindowExec survived:\n$p")
          val got = snap(out)
          val expected = withConf(
            graft.plans.GlobalWindowStrategy.ConfKey, "false") { snap(out) }
          assert(got == expected, s"per-key group constants diverged (round $round)")
      }
    }
  }
}
