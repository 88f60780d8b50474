package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, Expression, IntegerLiteral, NamedExpression, NthValue, RangeFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, First, Last}
import org.apache.spark.sql.internal.SQLConf

/** `nth_value(x, n)` over prefix frames (`UNBOUNDED PRECEDING AND
  * CURRENT ROW`, ROWS or RANGE) and whole frames, plus the ordered
  * first_value/last_value over a whole frame (nth 1 from the start /
  * from the end). Over any prefix frame the n-th frame row is the
  * group's n-th row, so each group has ONE value V, and a row only
  * needs to know whether its frame reaches n rows (its row index, the
  * end of its tie run for RANGE, its non-null count for IGNORE NULLS);
  * a whole frame reaches n when the group has n counting rows.
  *
  * The boundary job keeps, per edge slice, its non-null counts and its
  * first (or, from the end, last) ≤ min(n, cap) counting values; the
  * driver finds V of every chain in the slice that holds it. Globally
  * the cap ([[NthFamily.MaxNKey]]) bounds task results for any n: a V
  * beyond a capped slice is fetched by a second job over only the
  * tasks that hold one, returning one value each. Per key the cap is a
  * claiming bound instead: interior groups keep up to n values in task
  * memory, so past it the node stays with the spillable built-in.
  * First/last declare deterministic=false for groupBy, but the sorted
  * exchange feeds them rows in frame order.
  */
private[plans] object NthFamily {
  val MaxNKey = "spark.graft.globalNthValue.maxN"
  def maxN: Int = SQLConf.get.getConfString(MaxNKey, "4096").toInt

  /** `input` at frame position `n`, counted from the frame's end when
    * `fromEnd` (ordered last_value). */
  case class NthCol(input: Expression, n: Int, ignoreNulls: Boolean, isRange: Boolean,
                    isFull: Boolean, attr: Attribute, fromEnd: Boolean = false)

  def member(e: NamedExpression): Option[NthCol] = e match {
    case Alias(WindowExpression(NthValue(input, IntegerLiteral(n), ign),
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(ft, lo, hi))), _) if n > 0 =>
      (lo, hi) match {
        case (UnboundedPreceding, CurrentRow) =>
          Some(NthCol(input, n, ign, ft == RangeFrame, isFull = false, e.toAttribute))
        case (UnboundedPreceding, UnboundedFollowing) =>
          Some(NthCol(input, n, ign, isRange = false, isFull = true, e.toAttribute))
        case _ => None
      }
    case Alias(WindowExpression(AggregateExpression(Last(input, ign), Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _) =>
      Some(NthCol(input, 1, ign, isRange = false, isFull = true, e.toAttribute, fromEnd = true))
    case Alias(WindowExpression(AggregateExpression(First(input, ign), Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _) =>
      Some(NthCol(input, 1, ign, isRange = false, isFull = true, e.toAttribute))
    case _ => None
  }

  /** One edge slice: per function, non-null count and bounded values. */
  case class SliceStats(nn: Array[Long], cand: Array[Array[UnsafeRow]])
  case class EdgeStats(first: SliceStats, last: SliceStats)
  /** Prefix counts of the first group's earlier slices, and V (null
    * when absent) of the task's first and last group. */
  case class NthSeed(rows: Long, nn: Array[Long], first: Array[UnsafeRow], last: Array[UnsafeRow])
}

private[plans] case class NthFamily(funcs: Seq[NthFamily.NthCol], keyed: Boolean,
                                    cap: Int = NthFamily.maxN) extends WindowFamily {
  import NthFamily._
  type Part = EdgeStats
  type Seed = NthSeed

  def name: String = "GlobalNthValue"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  private def anyRange = funcs.exists(_.isRange)
  override def tieRuns: Boolean = anyRange
  override def streams: Boolean = !anyRange && (!keyed || !funcs.exists(_.isFull))
  private def caps = funcs.map(f => math.min(f.n.toLong, cap.toLong).toInt).toArray

  /** Per-function counting values: the first `keep` or, from the end, the last. */
  private final class Heads(keep: Array[Int], in: Seq[Attribute]) {
    private val fs = funcs.toArray
    private val inputs = fs.map(f => UnsafeProjection.create(Seq(f.input), in))
    var nn = new Array[Long](fs.length)
    var vals = Array.fill(fs.length)(ArrayBuffer[UnsafeRow]())
    def add(r: InternalRow): Unit = {
      var i = 0
      while (i < fs.length) {
        val v = inputs(i)(r)
        if (!v.isNullAt(0)) nn(i) += 1
        if (!fs(i).ignoreNulls || !v.isNullAt(0)) {
          if (fs(i).fromEnd) {
            vals(i) += v.copy()
            if (vals(i).length > keep(i)) vals(i).remove(0)
          } else if (vals(i).length < keep(i)) vals(i) += v.copy()
        }
        i += 1
      }
    }
    def stats(): SliceStats = SliceStats(nn, vals.map(_.toArray))
    def reset(): Unit = {
      nn = new Array[Long](fs.length)
      vals = Array.fill(fs.length)(ArrayBuffer())
    }
  }

  def fold(in: Seq[Attribute]): Fold[EdgeStats] = new Fold[EdgeStats] {
    private val h = new Heads(caps, in)
    private var first: SliceStats = _
    def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit = {
      if (newGroup) {
        if (first == null) first = h.stats()
        h.reset()
      }
      h.add(r)
    }
    def result(): EdgeStats = {
      val last = h.stats()
      EdgeStats(if (first == null) last else first, last)
    }
  }

  def derive(b: Boundary, parts: IndexedSeq[EdgeStats]): IndexedSeq[NthSeed] = {
    val fs = funcs.toArray
    val nF = fs.length
    def stats(s: Slice) = if (s.last) parts(s.p).last else parts(s.p).first
    def count(s: Slice, f: Int) = if (fs(f).ignoreNulls) stats(s).nn(f) else b.rows(s)
    val before = b.scan((0L, Vector.fill(nF)(0L))) { case ((rows, nn), s) =>
      (rows + b.rows(s), Vector.tabulate(nF)(f => nn(f) + stats(s).nn(f)))
    }.before
    val vFirst, vLast = new Array[Array[UnsafeRow]](b.nTasks)
    // V beyond a capped slice: (function, task, counting index, chain's V array)
    val fetches = ArrayBuffer[(Int, Int, Long, Array[UnsafeRow])]()
    b.chains.foreach { chain =>
      val v = new Array[UnsafeRow](nF)
      for (f <- 0 until nF) {
        val total = chain.map(count(_, f)).sum
        if (total >= fs(f).n) {
          // 0-based counting position of V in the chain, then in its slice
          var pos = if (fs(f).fromEnd) total - fs(f).n else fs(f).n - 1L
          val s = chain.find { s => val c = count(s, f); pos < c || { pos -= c; false } }.get
          val cand = stats(s).cand(f)
          val from = if (fs(f).fromEnd) count(s, f) - cand.length else 0L
          if (pos >= from && pos < from + cand.length) v(f) = cand((pos - from).toInt)
          else {
            require(s.first && s.last, "per-key nth_value slices hold n values")
            fetches += ((f, s.p, pos, v))
          }
        }
      }
      chain.foreach { s =>
        if (s.first) vFirst(s.p) = v
        if (s.last) vLast(s.p) = v
      }
    }
    if (fetches.nonEmpty) {
      val in = b.in
      val byTask =
        fetches.groupBy(_._2).map { case (p, fx) => p -> fx.map(x => (x._1, x._3)).toArray }
      val fetched = b.rdd.sparkContext.runJob(b.rdd,
        (ctx: TaskContext, iter: Iterator[InternalRow]) => {
          val mine = byTask(ctx.partitionId())
          val inputs = mine.map(m => UnsafeProjection.create(Seq(fs(m._1).input), in))
          val seen = new Array[Long](mine.length)
          val res = new Array[UnsafeRow](mine.length)
          var found = 0
          while (iter.hasNext && found < mine.length) {
            val row = iter.next()
            var j = 0
            while (j < mine.length) {
              if (res(j) == null) {
                val x = inputs(j)(row)
                if (!fs(mine(j)._1).ignoreNulls || !x.isNullAt(0)) {
                  if (seen(j) == mine(j)._2) { res(j) = x.copy(); found += 1 }
                  seen(j) += 1
                }
              }
              j += 1
            }
          }
          (ctx.partitionId(), res)
        }, byTask.keys.toSeq.sorted)
      val targets = fetches.groupBy(_._2)
      fetched.foreach { case (p, res) =>
        targets(p).zip(res).foreach { case ((f, _, pos, v), r) =>
          // the boundary job counted enough values in p: the target exists
          require(r != null, s"nth_value fetch missed value $pos in partition $p")
          v(f) = r
        }
      }
    }
    val none = new Array[UnsafeRow](nF)
    (0 until b.nTasks).map { p =>
      NthSeed(before(p)._1, before(p)._2.toArray, Option(vFirst(p)).getOrElse(none),
        Option(vLast(p)).getOrElse(none))
    }
  }

  def open(in: Seq[Attribute], seed: NthSeed, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val fs = funcs.toArray
    private val types = fs.map(_.attr.dataType)
    // counts and values of the current group; only later groups (per
    // key) read their own values
    private val local = new Heads(fs.map(f => if (keyed) f.n else 0), in)
    local.nn = seed.nn.clone()
    private var rows = seed.rows
    private var first = true
    private val run = ArrayBuffer[Slot]()
    private val group = ArrayBuffer[Slot]()
    private val anyFull = fs.exists(_.isFull)

    private def get(r: UnsafeRow, f: Int): Any = if (r == null) null else r.get(0, types(f))
    /** V of the current group for a prefix frame that reached n. */
    private def prefixV(f: Int): Any =
      if (first) get(seed.first(f), f) else get(local.vals(f)(fs(f).n - 1), f)
    private def reach(f: Int): Long = if (fs(f).ignoreNulls) local.nn(f) else rows
    private def setPrefix(s: Slot, f: Int): Unit =
      s.set(base + f, if (reach(f) >= fs(f).n) prefixV(f) else null)

    def row(s: Slot): Unit = {
      local.add(s.row)
      rows += 1
      var f = 0
      while (f < fs.length) {
        if (fs(f).isFull) { if (first) s.set(base + f, get(seed.first(f), f)) }
        else if (!fs(f).isRange) setPrefix(s, f)
        f += 1
      }
      if (anyRange) run += s
      if (!first && anyFull) group += s
    }

    override def endRun(): Unit = {
      run.foreach(s => fs.indices.foreach(f => if (fs(f).isRange) setPrefix(s, f)))
      run.clear()
    }

    override def endGroup(last: Boolean): Unit = {
      fs.indices.foreach { f =>
        if (fs(f).isFull && group.nonEmpty) {
          val v =
            if (last) get(seed.last(f), f)
            else if (reach(f) < fs(f).n) null
            else get(local.vals(f)(if (fs(f).fromEnd) local.vals(f).length - fs(f).n
                                   else fs(f).n - 1), f)
          group.foreach(_.set(base + f, v))
        }
      }
      group.clear()
      local.reset()
      rows = 0L
      first = false
    }
  }
}
