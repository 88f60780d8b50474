package graft.plans

import scala.collection.mutable.ArrayDeque

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, Expression, Literal, NamedExpression, RowFrame, SpecifiedWindowFrame, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, First, Last}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Sliding ROWS frames — the moving average `AVG(x) OVER (ORDER BY ts
  * ROWS BETWEEN k PRECEDING AND CURRENT ROW)`, its centered and
  * lookahead variants — over any deterministic declarative aggregate.
  * A (k PRECEDING, j FOLLOWING) frame needs k predecessor and j
  * successor rows: the lag/lead stitch. Each row then folds its frame
  * left to right from a window of recent rows — O(k + j) updates per
  * row, WindowExec's own association, so even double sums match the
  * built-in bit for bit. Per key the frame is clipped at the group's
  * edges. Frames must contain the current row (they can then never be
  * empty); `5 PRECEDING AND 2 PRECEDING` stays with the built-in.
  */
private[plans] object SlidingFamily {
  /** One aggregate over `(k PRECEDING, j FOLLOWING)`. */
  case class SlidingCol(agg: DeclarativeAggregate, k: Int, j: Int, attr: Attribute)

  private def boundOf(e: Expression): Option[Int] = e match {
    case CurrentRow => Some(0)
    case Literal(i: java.lang.Integer, IntegerType) => Some(i.intValue())
    case Literal(l: java.lang.Long, LongType) => Some(Math.toIntExact(l.longValue()))
    case _ => None
  }

  def member(e: NamedExpression): Option[SlidingCol] = e match {
    case Alias(WindowExpression(AggregateExpression(f: DeclarativeAggregate, Complete, false,
          None, _), WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, lo, hi))), _)
        if f.deterministic || f.isInstanceOf[First] || f.isInstanceOf[Last] =>
      (boundOf(lo), boundOf(hi)) match {
        case (Some(l), Some(h)) if l <= 0 && h >= 0 && (l < 0 || h > 0) =>
          Some(SlidingCol(f, -l, h, e.toAttribute))
        case _ => None
      }
    case _ => None
  }
}

private[plans] case class SlidingFamily(funcs: Seq[SlidingFamily.SlidingCol])
    extends NeighbourFamily {
  def name: String = "GlobalSlidingAgg"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  override def tailRows: Int = funcs.map(_.k).max
  override def headRows: Int = funcs.map(_.j).max

  def open(in: Seq[Attribute], seed: Unit, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val fs = funcs.toArray
    private val aggs = fs.map(f => new DeclAggs(Seq(f.agg), in))
    private val types = fs.map(_.attr.dataType)
    private val maxJ = headRows
    private val keep = tailRows + headRows + 1
    // the group's recent rows; window(i) has group position `start + i`
    // (the stitched predecessors of the first group sit at negative
    // positions)
    private val window = ArrayDeque[InternalRow]()
    preTail.foreach(window += _)
    private var start = -preTail.length.toLong
    private val pending = ArrayDeque[(Slot, Long)]()
    private var arrived = 0L

    /** Fold function i's frame around position t, clipped to the rows
      * the group has (through position `upTo`). */
    private def resolve(s: Slot, t: Long, i: Int, upTo: Long): Unit = {
      val a = aggs(i)
      a.reset()
      var q = math.max(start, t - fs(i).k)
      val end = math.min(upTo, t + fs(i).j)
      while (q <= end) { a.update(window((q - start).toInt)); q += 1 }
      s.set(base + i, a.eval().get(0, types(i)))
    }

    private def arrive(r: InternalRow): Unit = {
      window += r
      if (window.length > keep) { window.removeHead(); start += 1 }
      val now = arrived
      arrived += 1
      pending.foreach { case (s, t) =>
        var i = 0
        while (i < fs.length) {
          if (t + fs(i).j == now) resolve(s, t, i, now)
          i += 1
        }
      }
      while (pending.nonEmpty && now - pending.head._2 >= maxJ) pending.removeHead()
    }

    def row(s: Slot): Unit = {
      pending += ((s, arrived))
      arrive(s.row)
    }

    override def endGroup(last: Boolean): Unit = {
      if (last) sucHead.foreach(arrive)
      // frames reaching past the group's end fold what the group has
      pending.foreach { case (s, t) =>
        var i = 0
        while (i < fs.length) {
          if (t + fs(i).j >= arrived) resolve(s, t, i, arrived - 1)
          i += 1
        }
      }
      pending.clear()
      window.clear()
      start = 0L
      arrived = 0L
    }
  }
}
