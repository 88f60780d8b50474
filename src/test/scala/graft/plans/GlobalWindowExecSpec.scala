package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One window node mixing row_number, a running sum, lag and a sliding
  * average over one ORDER BY plans ONE GlobalWindowExec — one range
  * exchange, one boundary job, one pass — globally and per key, with
  * the built-in's values. */
class GlobalWindowExecSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def rows = (0 until 6000)
    .map(i => ((i % 5).toLong, (i * 7919L) % 100000L, (i * 48271L) % 1000L))
    .toDF("g", "key", "v").repartition(6)

  /** The benchmark's window shape, optionally per key. */
  private def mixed(partition: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy("key")
    rows.select(col("g"), col("key"), col("v"),
      row_number().over(w).as("rn"),
      sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("rsum"),
      lag("v", 1).over(w).as("prev"),
      avg("v").over(w.rowsBetween(-2, Window.currentRow)).as("savg"))
  }

  private def snap(d: DataFrame) = d.collect().map(r => (0 until r.length).map(j =>
    Option(r.get(j)).map(_.toString).getOrElse("null")).mkString("|")).sorted.toSeq

  private def check(d: => DataFrame): Unit = {
    val out = d
    val got = snap(out)
    val plan = out.queryExecution.executedPlan
    val execs = collect(plan) { case g: GlobalWindowExec => g }
    assert(execs.length == 1, s"expected exactly one GlobalWindowExec:\n$plan")
    assert(execs.head.families.map(_.name) ==
      Seq("GlobalRowNumber", "GlobalOffsetWindow", "GlobalRunningAgg", "GlobalSlidingAgg"))
    assert(!plan.toString.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no stock WindowExec may remain:\n$plan")
    val expected = withConf(GlobalWindowStrategy.ConfKey, "false") { snap(d) }
    assert(got == expected)
  }

  test("a global node mixing four families plans one exec with the built-in's values") {
    check(mixed(Nil))
  }

  test("the PARTITION BY variant plans one exec with the built-in's values") {
    withConf(GlobalWindowGate.MinBytesKey, "0") { check(mixed(Seq("g"))) }
  }
}
