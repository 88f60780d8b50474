package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, MutableProjection, NamedExpression, RowOrdering, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.plans.logical

/** One family of window functions inside a [[GlobalWindowExec]].
  *
  * A family is three steps around the exec's shared skeleton:
  *  - [[fold]]: what one task folds in the boundary job (a `Part`);
  *  - [[derive]]: what the driver derives from every task's `Part`,
  *    through the [[Boundary]] chains — one `Seed` per task;
  *  - [[open]]: how a task appends the family's columns, given its
  *    seed: a [[Runner]] that sees every row, tie-run end and group
  *    end, and fills its columns of each [[Slot]] as soon as it can.
  *
  * `streams` promises the runner fills a slot during `row` and keeps no
  * reference to it; when every family streams, rows are not copied.
  * `headRows`/`tailRows` ask the skeleton for that many same-group
  * neighbour rows after/before each task (the lag/lead stitch).
  */
private[plans] abstract class WindowFamily extends Serializable {
  type Part
  type Seed

  /** The family's name in EXPLAIN output (the rescue it replaces). */
  def name: String
  def attrs: Seq[Attribute]
  def needsOrder: Boolean = true
  def tieRuns: Boolean = false
  def streams: Boolean = false
  def headRows: Int = 0
  def tailRows: Int = 0

  def fold(in: Seq[Attribute]): Fold[Part]
  def derive(b: Boundary, parts: IndexedSeq[Part]): IndexedSeq[Seed]
  def open(in: Seq[Attribute], seed: Seed, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner

  override def toString: String = attrs.mkString(s"$name(", ", ", ")")
}

/** Boundary-job fold of one task. `newGroup` marks a row starting a
  * group other than the task's first; `newRun` a row starting a tie run
  * (meaningful when the family asked for `tieRuns`). */
private[plans] trait Fold[P] {
  def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit
  def result(): P
}

/** A family that needs nothing from the boundary job but the
  * skeleton's neighbour rows. */
private[plans] abstract class NeighbourFamily extends WindowFamily {
  type Part = Unit
  type Seed = Unit
  def fold(in: Seq[Attribute]): Fold[Unit] = new Fold[Unit] {
    def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit = ()
    def result(): Unit = ()
  }
  def derive(b: Boundary, parts: IndexedSeq[Unit]): IndexedSeq[Unit] =
    IndexedSeq.fill(b.nTasks)(())
}

/** Output-pass state of one family in one task. `endRun` is called
  * after the last row of each tie run, `endGroup` after the last row of
  * each group (`last`: of the task); both also at the end of input. */
private[plans] trait Runner {
  def row(s: Slot): Unit
  def endRun(): Unit = ()
  def endGroup(last: Boolean): Unit = ()
}

/** Declarative aggregates driven through their own init / update /
  * merge / evaluate expressions over one concatenated buffer — the
  * machinery AggregationIterator uses, so every deterministic
  * declarative aggregate works, decimals and all. Build inside a task
  * (generated code). */
private[plans] final class DeclAggs(aggs: Seq[DeclarativeAggregate], in: Seq[Attribute]) {
  private val bufAttrs = aggs.flatMap(_.aggBufferAttributes)
  private val types = bufAttrs.map(_.dataType).toArray
  val buf = new SpecificInternalRow(types.toSeq)
  private val join = new JoinedRow
  private val init = MutableProjection.create(aggs.flatMap(_.initialValues), Nil).target(buf)
  private lazy val upd = MutableProjection.create(aggs.flatMap(_.updateExpressions),
    bufAttrs ++ in).target(buf)
  private lazy val mrg = MutableProjection.create(aggs.flatMap(_.mergeExpressions),
    bufAttrs ++ aggs.flatMap(_.inputAggBufferAttributes)).target(buf)
  private lazy val ev = UnsafeProjection.create(aggs.map(_.evaluateExpression), bufAttrs)
  private lazy val snap = UnsafeProjection.create(bufAttrs, bufAttrs)
  reset()

  def reset(): Unit = init(InternalRow.empty)
  def update(r: InternalRow): Unit = upd(join(buf, r))
  def merge(other: InternalRow): Unit = mrg(join(buf, other))
  /** Evaluated values, one column per aggregate (a reused buffer). */
  def eval(): UnsafeRow = ev(buf)
  def snapshot(): UnsafeRow = snap(buf).copy()
  def load(b: UnsafeRow): Unit = {
    var i = 0
    while (i < types.length) { buf.update(i, b.get(i, types(i))); i += 1 }
  }
}

private[plans] object WindowFamily {
  /** A window expression claimed by family `kind` as `member`. */
  final case class Claim(kind: Int, member: AnyRef) {
    def suffix: Boolean = kind == SuffixKind
  }
  private val SuffixKind = 4

  /** The first family claiming `e` in node `w`. Families are mutually
    * exclusive by frame shape and function class, except nth_value(x, 1)
    * over a prefix frame, which is a running first_value. */
  def claim(w: logical.Window, e: NamedExpression, keyed: Boolean): Option[Claim] = {
    val ordered = w.orderSpec.nonEmpty
    val tests: Seq[() => Option[AnyRef]] = Seq(
      () => if (ordered) RankFamily.member(e) else None,
      () => if (ordered) OffsetFamily.member(e) else None,
      () => if (ordered) IgnoreNullsFamily.member(e) else None,
      () => if (ordered) RunningFamily.member(e) else None,
      () => if (ordered) RunningFamily.suffixMember(e) else None,
      () => if (ordered) SlidingFamily.member(e) else None,
      () => if (ordered) NthFamily.member(e).filter(!keyed || _.n <= NthFamily.maxN) else None,
      () => ConstantFamily.member(e),
      () => if (RangeFamily.orderRescuable(w)) RangeFamily.member(e) else None)
    tests.iterator.zipWithIndex
      .map { case (t, k) => t().map(Claim(k, _)) }
      .collectFirst { case Some(c) => c }
  }

  def build(claims: Seq[Claim], keyed: Boolean, order: Seq[SortOrder]): Seq[WindowFamily] =
    claims.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, cs) =>
      def ms[T] = cs.map(_.member.asInstanceOf[T])
      kind match {
        case 0 => RankFamily(ms, keyed)
        case 1 => OffsetFamily(ms)
        case 2 => IgnoreNullsFamily(ms)
        case 3 | 4 => RunningFamily(ms)
        case 5 => SlidingFamily(ms)
        case 6 => NthFamily(ms, keyed)
        case 7 => ConstantFamily(ms, keyed)
        case 8 => RangeFamily(ms, order.head)
      }
    }

  /** Sort keys that spread a hot key over tasks when a PARTITION BY
    * node has no ORDER BY (whole-group constants only): the aggregates'
    * orderable inputs, else any orderable child column outside the
    * partition spec. Which column is immaterial to a whole-group
    * constant; empty declines the node. */
  def spreadOf(w: logical.Window, claims: Seq[Claim]): Seq[SortOrder] = {
    def orderable(c: Expression) =
      c.deterministic && !c.foldable && RowOrdering.isOrderable(c.dataType)
    val fromInputs = claims.map(_.member).collect {
      case c: ConstantFamily.ConstAgg => c.agg.children
    }.flatten.distinct.filter(orderable)
    val candidates =
      if (fromInputs.nonEmpty) fromInputs
      else w.child.output
        .filter(a => orderable(a) && !w.partitionSpec.exists(_.semanticEquals(a)))
        .take(1)
    candidates.map(SortOrder(_, Ascending))
  }
}
