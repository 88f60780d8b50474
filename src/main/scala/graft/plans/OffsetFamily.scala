package graft.plans

import scala.collection.mutable.ArrayDeque

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, FrameLessOffsetWindowFunction, NamedExpression, UnsafeProjection, UnsafeRow, WindowExpression}

/** lag()/lead() — frameless offset functions with foldable offsets,
  * RESPECT NULLS. An offset function needs a constant number of
  * neighbour rows, so the skeleton ships each task the last max-lag
  * rows before it and the first max-lead rows after it, both from the
  * task's own edge groups (bounded by offset × tasks rows, whatever the
  * data size). Locally a ring of the previous max-lag rows answers lag,
  * and a row waits for max-lead successors to answer lead. A neighbour
  * outside the current row's group — or the table — takes the default,
  * evaluated on the current row as in WindowExec. Per key this is
  * sessionization's workhorse (`lag(ts) OVER (PARTITION BY user ...)`),
  * and a hot key spans tasks. With ties, neighbour identity is
  * arbitrary in either plan.
  */
private[plans] object OffsetFamily {
  /** `input` on the row `offset` positions away (negative = earlier). */
  case class OffsetCol(input: Expression, offset: Int, default: Expression, attr: Attribute)

  def member(e: NamedExpression): Option[OffsetCol] = e match {
    case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _)
        if !f.ignoreNulls && f.offset.foldable =>
      f.offset.eval() match {
        case o: Integer => Some(OffsetCol(f.input, o.intValue(), f.default, e.toAttribute))
        case _ => None
      }
    case _ => None
  }
}

private[plans] case class OffsetFamily(funcs: Seq[OffsetFamily.OffsetCol])
    extends NeighbourFamily {
  def name: String = "GlobalOffsetWindow"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  override def tailRows: Int = math.max(0, -funcs.map(_.offset).min)
  override def headRows: Int = math.max(0, funcs.map(_.offset).max)

  def open(in: Seq[Attribute], seed: Unit, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val fs = funcs.toArray
    private val maxLag = tailRows
    private val maxLead = headRows
    private val inputs = fs.map(f => UnsafeProjection.create(Seq(f.input), in))
    private val defaults = fs.map(f => UnsafeProjection.create(Seq(f.default), in))
    private val types = fs.map(_.attr.dataType)
    // the group's previous rows, oldest first (the first group starts
    // with the stitched predecessors); rows waiting for lead values,
    // with their position in the group
    private val lagRows = ArrayDeque[InternalRow]()
    preTail.foreach(lagRows += _)
    private val leading = ArrayDeque[(Slot, Long)]()
    private var arrived = 0L

    private def value(i: Int, from: InternalRow): Any = inputs(i)(from).get(0, types(i))
    private def default(i: Int, s: Slot): Any = defaults(i)(s.row).get(0, types(i))

    /** The group's next row: answers every waiting lead it is the target of. */
    private def arrive(r: InternalRow): Unit = {
      leading.foreach { case (s, at) =>
        var i = 0
        while (i < fs.length) {
          if (fs(i).offset > 0 && at + fs(i).offset == arrived) s.set(base + i, value(i, r))
          i += 1
        }
      }
      while (leading.nonEmpty && arrived - leading.head._2 >= maxLead) leading.removeHead()
      arrived += 1
    }

    def row(s: Slot): Unit = {
      arrive(s.row)
      var i = 0
      while (i < fs.length) {
        val off = fs(i).offset
        if (off == 0) s.set(base + i, value(i, s.row))
        else if (off < 0) s.set(base + i,
          if (lagRows.length >= -off) value(i, lagRows(lagRows.length + off)) else default(i, s))
        i += 1
      }
      if (maxLead > 0) leading += ((s, arrived - 1))
      if (maxLag > 0) {
        lagRows += s.row
        if (lagRows.length > maxLag) lagRows.removeHead()
      }
    }

    override def endGroup(last: Boolean): Unit = {
      if (last) sucHead.foreach(arrive)
      // leads whose target lies past the group's end take the default
      leading.foreach { case (s, at) =>
        var i = 0
        while (i < fs.length) {
          if (fs(i).offset > 0 && at + fs(i).offset >= arrived) s.set(base + i, default(i, s))
          i += 1
        }
      }
      leading.clear()
      lagRows.clear()
      arrived = 0L
    }
  }
}
