package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, IntegerLiteral, NamedExpression, NthValue, RangeFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, First, Last}

/** Running aggregates — `SUM(x) OVER (ORDER BY ts)`, the cumulative
  * total, and every other deterministic declarative aggregate over
  * `UNBOUNDED PRECEDING AND CURRENT ROW` (ROWS, or RANGE: the bare
  * ORDER BY, whose tie peers share the value at the end of their run).
  * The distributed shape is the prefix scan: each task folds its last
  * group into one partial buffer, the driver merges the partials along
  * each chain, and each task's first group starts from that merge;
  * later groups start empty. min/max need no inverse, and first/last
  * are exact because the sorted exchange feeds rows in frame order.
  *
  * SUFFIX frames (`CURRENT ROW AND UNBOUNDED FOLLOWING`, the remaining
  * total) are the same scan over the reversed order: frame SETS are
  * identical under reversal, and first/last swap (the first row of a
  * suffix frame is the last fed in reverse). The strategy plans them in
  * their own exec over the reversed sort.
  *
  * Floating-point sums associate differently from one sequential scan:
  * last-ulp differences, the caveat of every parallel float sum.
  */
private[plans] object RunningFamily {
  /** `isRange`: peers share the value at the end of their tie run. */
  case class RunningCol(agg: DeclarativeAggregate, isRange: Boolean, attr: Attribute)

  // first/last declare deterministic=false for groupBy, but a window
  // frame is ordered and the exec feeds rows in exactly that order
  private def usable(f: DeclarativeAggregate) =
    f.deterministic || f.isInstanceOf[First] || f.isInstanceOf[Last]

  def member(e: NamedExpression): Option[RunningCol] = e match {
    case Alias(WindowExpression(AggregateExpression(f: DeclarativeAggregate, Complete, false,
          None, _), WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _) if usable(f) =>
      Some(RunningCol(f, ft == RangeFrame, e.toAttribute))
    // nth_value(x, 1) over a prefix frame IS a running first_value — and
    // what the optimizer rewrites first_value into
    case Alias(WindowExpression(NthValue(input, IntegerLiteral(1), ign), WindowSpecDefinition(
          _, _, SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _) =>
      Some(RunningCol(First(input, ign), ft == RangeFrame, e.toAttribute))
    case _ => None
  }

  def suffixMember(e: NamedExpression): Option[RunningCol] = e match {
    case Alias(WindowExpression(AggregateExpression(f: DeclarativeAggregate, Complete, false,
          None, _), WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(ft, CurrentRow, UnboundedFollowing))), _) if usable(f) =>
      val reversed = f match {
        case First(c, ign) => Last(c, ign)
        case Last(c, ign) => First(c, ign)
        case other => other
      }
      Some(RunningCol(reversed, ft == RangeFrame, e.toAttribute))
    case _ => None
  }
}

private[plans] case class RunningFamily(funcs: Seq[RunningFamily.RunningCol])
    extends WindowFamily {
  type Part = UnsafeRow // partial buffer of the task's last group
  type Seed = UnsafeRow // merged buffer of the first group's earlier slices

  def name: String = "GlobalRunningAgg"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  private def anyRange = funcs.exists(_.isRange)
  override def tieRuns: Boolean = anyRange
  override def streams: Boolean = !anyRange
  private def aggs(in: Seq[Attribute]) = new DeclAggs(funcs.map(_.agg), in)

  def fold(in: Seq[Attribute]): Fold[UnsafeRow] = new Fold[UnsafeRow] {
    private val a = aggs(in)
    def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit = {
      if (newGroup) a.reset()
      a.update(r)
    }
    def result(): UnsafeRow = a.snapshot()
  }

  def derive(b: Boundary, parts: IndexedSeq[UnsafeRow]): IndexedSeq[UnsafeRow] = {
    val a = aggs(Nil)
    b.scan(a.snapshot()) { (acc, s) =>
      if (!s.last) acc
      else { a.load(acc); a.merge(parts(s.p)); a.snapshot() }
    }.before
  }

  def open(in: Seq[Attribute], seed: UnsafeRow, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val a = aggs(in)
    a.load(seed)
    private val isRange = funcs.map(_.isRange).toArray
    private val types = funcs.map(_.attr.dataType).toArray
    private val run = ArrayBuffer[Slot]()

    def row(s: Slot): Unit = {
      a.update(s.row)
      val v = a.eval()
      var i = 0
      while (i < types.length) {
        if (!isRange(i)) s.set(base + i, v.get(i, types(i)))
        i += 1
      }
      if (anyRange) run += s
    }

    override def endRun(): Unit = if (run.nonEmpty) {
      val v = a.eval()
      run.foreach { s =>
        var i = 0
        while (i < types.length) {
          if (isRange(i)) s.set(base + i, v.get(i, types(i)))
          i += 1
        }
      }
      run.clear()
    }

    override def endGroup(last: Boolean): Unit = a.reset()
  }
}
