package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, GenericInternalRow, JoinedRow, NamedExpression, NullsFirst, NullsLast, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Scale-safe planning for window functions that stock Spark runs in
  * ONE task.
  *
  * A window with no PARTITION BY plans as a SinglePartition WindowExec:
  * the whole table through one task — the single hot region server of
  * the reference (README:9-27), hit from plain SQL. A PARTITION BY
  * window hash-exchanges on its key, so one hot key pins one task. This
  * strategy plans both as [[GlobalWindowExec]]: a range exchange over
  * (partition keys ⧺ order keys) — fully parallel, and a hot key spans
  * tasks — then one boundary job that summarizes each task's edges, a
  * driver step that stitches the summaries, and one narrow pass that
  * appends every window column.
  *
  * Each window expression is claimed by one family ([[WindowFamily]]):
  * ranking, lag/lead, lag/lead IGNORE NULLS, running and suffix frames,
  * sliding ROWS frames, whole-table/whole-group aggregates, nth_value
  * and RANGE-interval frames. All families of one node share the
  * exchange, the boundary job and the pass. Suffix frames
  * (`CURRENT ROW AND UNBOUNDED FOLLOWING`) need the opposite
  * enumeration, so they run in a second exec over the reversed order.
  * In a global node, expressions no family claims keep the built-in
  * WindowExec for themselves alone, below the rescue; a PARTITION BY
  * node is claimed only whole (a partial claim would pay a hash AND a
  * range exchange with the hot-key wall still standing) and only when
  * [[GlobalWindowGate]] says the child is big enough to be worth it.
  *
  * Opt-out: `spark.graft.globalRowNumber.enabled=false` restores every
  * built-in window plan.
  */
object GlobalWindowStrategy extends SparkStrategy {
  val ConfKey = "spark.graft.globalRowNumber.enabled"

  private[plans] def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "true").toBoolean

  private def reversed(s: SortOrder): SortOrder = SortOrder(s.child,
    if (s.direction == Ascending) Descending else Ascending,
    if (s.nullOrdering == NullsFirst) NullsLast else NullsFirst,
    s.sameOrderExpressions)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case w: logical.Window
        if w.windowExpressions.nonEmpty && w.partitionSpec.forall(_.deterministic) &&
          enabled =>
      val keyed = w.partitionSpec.nonEmpty
      val claims = w.windowExpressions.map(e => e -> WindowFamily.claim(w, e, keyed))
      val unclaimed = claims.collect { case (e, None) => e }
      val claimed = claims.collect { case (_, Some(c)) => c }
      // a PARTITION BY node without ORDER BY holds only whole-group constants
      val order =
        if (w.orderSpec.nonEmpty || !keyed) w.orderSpec else WindowFamily.spreadOf(w, claimed)
      if (claimed.isEmpty || keyed && (unclaimed.nonEmpty || order.isEmpty ||
          !GlobalWindowGate.perKeyWorthwhile(w))) Nil
      else {
        val (suffix, forward) = claimed.partition(_.suffix)
        val base =
          if (unclaimed.isEmpty) planLater(w.child)
          else planLater(w.copy(windowExpressions = unclaimed))
        def exec(cs: Seq[WindowFamily.Claim], ord: Seq[SortOrder], c: SparkPlan) =
          if (cs.isEmpty) c
          else GlobalWindowExec(w.partitionSpec, ord, WindowFamily.build(cs, keyed, ord), c)
        val top = exec(suffix, order.map(reversed), exec(forward, order, base))
        (if (top.output == w.output) top else ProjectExec(w.output, top)) :: Nil
      }
    case _ => Nil
  }
}

/** Group and tie-run boundaries of a sorted task, shared by the
  * boundary job and the output pass. `newGroup`: this row starts a
  * partition-key group other than the task's first. `newRun`: it starts
  * a tie run (always true on the task's first row). Tie runs are kept
  * only when `runs`; otherwise `newRun` marks group starts only. */
private[plans] final class RowBoundaries(in: Seq[Attribute], partition: Seq[Expression],
                                         keys: Seq[Expression], runs: Boolean) {
  private val groupProj = UnsafeProjection.create(partition, in)
  private val keyProj = if (runs) UnsafeProjection.create(keys, in) else null
  private val sameRun = if (runs) KeyRunEquality.create(keys.map(_.dataType)) else null
  var firstGroup: UnsafeRow = _
  var group: UnsafeRow = _
  private var key: UnsafeRow = _
  var newGroup = false
  var newRun = false

  def next(row: InternalRow): Unit = {
    if (group == null) {
      group = groupProj(row).copy(); firstGroup = group
      newGroup = false; newRun = true
    } else {
      newGroup = partition.nonEmpty && !groupProj(row).equals(group)
      if (newGroup) group = groupProj(row).copy()
      newRun = newGroup || runs && !sameRun(keyProj(row), key)
    }
    if (runs && newRun) key = keyProj(row).copy()
  }
}

/** One output row waiting for its window values; families fill their
  * columns in any order, and the row is emitted once `open` hits 0.
  * Values are copied: a family may read them from a reused buffer. */
private[plans] final class Slot(val row: InternalRow, n: Int) {
  val vals = new Array[Any](n)
  var open: Int = n
  def set(i: Int, v: Any): Unit = { vals(i) = InternalRow.copyValue(v); open -= 1 }
}

/** One task's edges from the boundary job: its first and last
  * partition-key groups (null for an empty task), the rows of its first
  * and last group, the first `headRows` rows of its first group and the
  * last `tailRows` rows of its last group. */
private[plans] case class TaskEdge(first: UnsafeRow, last: UnsafeRow,
                                   rowsFirst: Long, rowsLast: Long,
                                   head: Array[UnsafeRow], tail: Array[UnsafeRow])

/** A task's first-group (`last` false) or last-group (`last` true)
  * slice; a single-group task has one slice that is both. */
private[plans] case class Slice(p: Int, first: Boolean, last: Boolean)

/** Per-task totals of a fold over chains: `before(p)` folds the slices
  * of p's first group that lie in earlier tasks, `firstTotal(p)` /
  * `lastTotal(p)` fold the whole group of p's first / last slice. */
private[plans] case class Chained[A](before: IndexedSeq[A], firstTotal: IndexedSeq[A],
                                     lastTotal: IndexedSeq[A])

/** The driver's view of the boundary job.
  *
  * Under the (partition keys ⧺ order keys) sort a group's rows are
  * contiguous, so a group crosses a task edge only through task edges:
  * its rows in other tasks are the adjacent edge slices with equal
  * group keys — a CHAIN. Interior groups never leave their task. In
  * global mode every task is one group and the chain walks become the
  * classic prefix sums. Driver work is two slices per task, whatever
  * the data size. */
private[plans] final class Boundary(val edges: Array[TaskEdge], val rdd: RDD[InternalRow],
                                    val in: Seq[Attribute]) {
  val nTasks: Int = edges.length

  def rows(s: Slice): Long = if (s.last) edges(s.p).rowsLast else edges(s.p).rowsFirst

  val chains: Array[Array[Slice]] = {
    val slices = edges.indices.flatMap { p =>
      val e = edges(p)
      if (e.first == null) Nil
      else if (e.first.equals(e.last)) Seq(Slice(p, first = true, last = true))
      else Seq(Slice(p, first = true, last = false), Slice(p, first = false, last = true))
    }
    def key(s: Slice) = if (s.last) edges(s.p).last else edges(s.p).first
    val out = ArrayBuffer[Array[Slice]]()
    var i = 0
    while (i < slices.length) {
      var j = i + 1
      while (j < slices.length && key(slices(j)).equals(key(slices(i)))) j += 1
      out += slices.slice(i, j).toArray
      i = j
    }
    out.toArray
  }

  // (chain, position) of each task's first and last slice
  private val firstAt = Array.fill(nTasks)((-1, -1))
  private val lastAt = Array.fill(nTasks)((-1, -1))
  for (c <- chains.indices; i <- chains(c).indices) {
    val s = chains(c)(i)
    if (s.first) firstAt(s.p) = (c, i)
    if (s.last) lastAt(s.p) = (c, i)
  }

  /** Same-group slices before p's first slice, newest first. */
  def before(p: Int): Iterator[Slice] = firstAt(p) match {
    case (-1, _) => Iterator.empty
    case (c, i) => (i - 1 to 0 by -1).iterator.map(chains(c))
  }

  /** Same-group slices after p's last slice, oldest first. */
  def after(p: Int): Iterator[Slice] = lastAt(p) match {
    case (-1, _) => Iterator.empty
    case (c, i) => (i + 1 until chains(c).length).iterator.map(chains(c))
  }

  def scan[A](zero: A)(add: (A, Slice) => A): Chained[A] = {
    val before, firstTotal, lastTotal = Array.fill[Any](nTasks)(zero)
    chains.foreach { chain =>
      var acc = zero
      chain.foreach { s =>
        if (s.first) before(s.p) = acc
        acc = add(acc, s)
      }
      chain.foreach { s =>
        if (s.first) firstTotal(s.p) = acc
        if (s.last) lastTotal(s.p) = acc
      }
    }
    def seq(a: Array[Any]) = a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
    Chained(seq(before), seq(firstTotal), seq(lastTotal))
  }

  /** The last `n` same-group rows before task p, oldest first. */
  def preTail(p: Int, n: Int): Array[UnsafeRow] =
    before(p).flatMap(s => edges(s.p).tail.reverseIterator).take(n).toArray.reverse

  /** The first `n` same-group rows after task p. */
  def sucHead(p: Int, n: Int): Array[UnsafeRow] =
    after(p).flatMap(s => edges(s.p).head.iterator).take(n).toArray
}

/** Physical plan of [[GlobalWindowStrategy]]: every family of one
  * window node over one range exchange, one boundary job and one pass.
  *
  *  1. The child is range-exchanged and sorted on (partition ⧺ order)
  *     — or, when no family needs order (whole-table constants), left
  *     as it is, with no exchange at all.
  *  2. One job over the materialized child folds each task: the edge
  *     groups and neighbour rows of [[TaskEdge]], plus each family's
  *     own summary ([[WindowFamily.fold]]).
  *  3. The driver stitches the summaries through the [[Boundary]]
  *     chains into one small seed per family per task
  *     ([[WindowFamily.derive]]); each task receives only its own
  *     ([[PerPartition.stitch]]).
  *  4. One pass feeds every row to each family's runner
  *     ([[WindowFamily.open]]), with tie-run and group boundaries,
  *     and emits a row once every family has filled its columns. Rows
  *     wait only as long as the most demanding family needs (a tie
  *     run, a group, a lookahead), never the whole task.
  */
case class GlobalWindowExec(partition: Seq[Expression],
                            order: Seq[SortOrder],
                            families: Seq[WindowFamily],
                            child: SparkPlan) extends UnaryExecNode {

  // `GlobalWindow [` would read as a stock `Window [` node to plan checks
  override def nodeName: String = "GlobalWindowRescue"

  override def output: Seq[Attribute] = child.output ++ families.flatMap(_.attrs)

  private def ordered: Boolean = families.exists(_.needsOrder)
  private def sortOrder: Seq[SortOrder] =
    partition.map(e => SortOrder(e, Ascending)) ++ order

  override def requiredChildDistribution: Seq[Distribution] =
    (if (ordered) OrderedDistribution(sortOrder) else UnspecifiedDistribution) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(if (ordered) sortOrder else Nil)
  override def outputOrdering: Seq[SortOrder] =
    if (ordered) sortOrder else child.outputOrdering
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val out = output
    val fams = families.toArray
    val partExprs = partition
    val keyExprs = order.map(_.child)
    val runs = fams.exists(_.tieRuns)
    val headN = fams.map(_.headRows).max
    val tailN = fams.map(_.tailRows).max
    val copyRows = !fams.forall(_.streams)
    val bases = fams.scanLeft(0)(_ + _.attrs.length)
    val nCols = bases.last
    val rdd = child.execute()

    val stats: Array[(TaskEdge, Array[Any])] = rdd.sparkContext.runJob(rdd,
      (iter: Iterator[InternalRow]) => {
        val b = new RowBoundaries(in, partExprs, keyExprs, runs)
        val folds = fams.map(_.fold(in))
        val toUnsafe = UnsafeProjection.create(in, in)
        val head = ArrayBuffer[UnsafeRow]()
        val tail = ArrayDeque[UnsafeRow]()
        var rows = 0L
        var rowsFirst = -1L
        while (iter.hasNext) {
          val row = iter.next()
          b.next(row)
          if (b.newGroup) {
            if (rowsFirst < 0) rowsFirst = rows
            rows = 0L
            tail.clear()
          }
          if (headN > 0 && rowsFirst < 0 && head.length < headN) head += toUnsafe(row).copy()
          if (tailN > 0) {
            tail += toUnsafe(row).copy()
            if (tail.length > tailN) tail.removeHead()
          }
          folds.foreach(_.row(row, b.newGroup, b.newRun))
          rows += 1
        }
        (TaskEdge(b.firstGroup, b.group, if (rowsFirst < 0) rows else rowsFirst, rows,
          head.toArray, tail.toArray), folds.map(f => f.result(): Any))
      })
    val bounds = new Boundary(stats.map(_._1), rdd, in)
    val seeds = fams.indices.map { i =>
      val f = fams(i)
      f.derive(bounds, stats.toIndexedSeq.map(_._2(i).asInstanceOf[f.Part])): IndexedSeq[Any]
    }

    PerPartition.stitch(rdd, (0 until bounds.nTasks).map(p =>
      (seeds.map(_(p)).toArray, bounds.preTail(p, tailN), bounds.sucHead(p, headN)))) {
      (slice, iter) =>
      val (seedsP, preTail, sucHead) = slice
      val b = new RowBoundaries(in, partExprs, keyExprs, runs)
      val runners = fams.indices.map { i =>
        val f = fams(i)
        f.open(in, seedsP(i).asInstanceOf[f.Seed], bases(i), preTail, sucHead)
      }.toArray
      val outProj = UnsafeProjection.create(out, out)
      val join = new JoinedRow
      val queue = ArrayDeque[Slot]()
      var started = false
      var finished = false

      def step(): Unit =
        if (iter.hasNext) {
          val row = if (copyRows) iter.next().copy() else iter.next()
          b.next(row)
          if (started) {
            if (b.newRun) runners.foreach(_.endRun())
            if (b.newGroup) runners.foreach(_.endGroup(last = false))
          }
          started = true
          val s = new Slot(row, nCols)
          queue += s
          runners.foreach(_.row(s))
        } else {
          if (started) {
            runners.foreach(_.endRun())
            runners.foreach(_.endGroup(last = true))
          }
          finished = true
        }

      new Iterator[InternalRow] {
        override def hasNext: Boolean = {
          while (!finished && (queue.isEmpty || queue.head.open > 0)) step()
          queue.nonEmpty
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val s = queue.removeHead()
          assert(s.open == 0, "window row emitted before every family resolved it")
          outProj(join(s.row, new GenericInternalRow(s.vals)))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
