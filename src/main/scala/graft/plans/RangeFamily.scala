package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, CurrentRow, Expression, NamedExpression, RangeFrame, SortOrder, SpecifiedWindowFrame, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, CalendarIntervalType, DataType, DateType, DayTimeIntervalType, Decimal, DecimalType, IntegerType, LongType, ShortType, TimestampType, YearMonthIntervalType}
import org.apache.spark.unsafe.types.CalendarInterval

/** RANGE-interval frames — the time-series value windows: trailing
  * `SUM(x) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
  * AND CURRENT ROW)`, centered and lookahead windows, and their
  * integer, bigint, date and decimal(≤18) twins, over one order key in
  * either direction, per key too.
  *
  * A frame `[K − x, K + y]` is almost always task-local after the range
  * exchange; only the edges are missing. So the boundary job keeps each
  * task's trailing x-window of its last group and leading y-window of
  * its first group, and the driver ships each task the same-group rows
  * within its frame span — bounded by the frame's own row density, not
  * by data size. Locally rows are folded one tie run at a time: a run
  * waits until a later run lies past K + y (or its group ends), then
  * each aggregate folds trailing rows, the run and the rows ahead left
  * to right in key order, WindowExec's own association, and the whole
  * run shares the result (RANGE bounds are peer-inclusive). NULL keys
  * form their own peer group, outside every arithmetic frame.
  *
  * Widths are exact in the key's units: micros for timestamps, days for
  * dates, unscaled units for decimals (a finer-scaled bound declines).
  * DESC keys are negated into ascending space. MONTH-bearing bounds
  * resolve per row through the calendar — session-zone
  * `timestampAddInterval` for timestamps, zone-free `dateAddMonths` for
  * dates — and ship with 31 days per month of slack. A deliberate
  * choice: month subtraction is non-monotone at day-clamp boundaries
  * (Mar 29 05:00 − 1 month = Feb 28 05:00, as is Mar 28 06:00 − 1
  * month, one hour later), and stock WindowExec's forward-only frame
  * silently drops rows there. This computes the declarative frame
  * `key ∈ [K − interval, K + interval]` per row — the SQL-standard
  * reading, and DuckDB's. [[RangeFamily.MonthRescueKey]]=false declines
  * only month-bearing bounds, restoring the built-in for them.
  */
private[plans] object RangeFamily {
  val MonthRescueKey = "spark.graft.rangeFrame.monthRescue"
  private val MicrosPerDay = 86400000000L

  /** One aggregate over `[K − xm months − x, K + ym months + y]`. */
  case class RangeCol(agg: DeclarativeAggregate, xm: Int, x: Long, ym: Int, y: Long,
                      attr: Attribute)

  /** Saturating add/sub: a bound past the Long range clamps, which is
    * exact for a one-sided cut, where wraparound would flip it. */
  def satAdd(a: Long, b: Long): Long = {
    val r = a + b
    if (((a ^ r) & (b ^ r)) < 0) { if (b > 0) Long.MaxValue else Long.MinValue } else r
  }
  def satSub(a: Long, b: Long): Long = {
    val r = a - b
    if (((a ^ b) & (a ^ r)) < 0) { if (b < 0) Long.MaxValue else Long.MinValue } else r
  }

  /** A bound as |width| (months, key units), its sign matching `sign`
    * (PRECEDING negative, FOLLOWING positive, in both directions). Bound
    * TYPES are checked: a day-time interval and a bigint both evaluate
    * to a Long but mean different units against a date key. */
  private def widthOf(bound: Expression, sign: Int, keyType: DataType): Option[(Int, Long)] =
    bound match {
      case CurrentRow => Some((0, 0L))
      case e if e.foldable =>
        val isDate = keyType == DateType
        val monthsOk = (keyType == TimestampType || isDate) &&
          SQLConf.get.getConfString(MonthRescueKey, "true").toBoolean
        val v: Option[(Int, Long)] = (keyType, e.dataType, e.eval()) match {
          case (_, _, null) => None
          case (kt: DecimalType, dt, n) =>
            val bd = (dt, n) match {
              case (_: DecimalType, d: Decimal) => Some(d.toJavaBigDecimal)
              case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
                Some(java.math.BigDecimal.valueOf(n.longValue()))
              case _ => None
            }
            bd.flatMap { b =>
              try Some((0, b.setScale(kt.scale).unscaledValue().longValueExact()))
              catch { case _: ArithmeticException => None }
            }
          // micros; over a DATE key the frame would leave date space
          case (_, _: DayTimeIntervalType, l: java.lang.Long) =>
            if (isDate) None else Some((0, l.longValue()))
          case (_, _: YearMonthIntervalType, m: Integer) =>
            if (monthsOk) Some((m.intValue(), 0L)) else None
          case (_, CalendarIntervalType, ci: CalendarInterval) =>
            if (isDate) {
              // day units; sub-day parts have no date representation
              if (ci.microseconds != 0L || ci.months != 0 && !monthsOk) None
              else Some((ci.months, ci.days.toLong))
            } else if (ci.months != 0 && !monthsOk) None
            else Some((ci.months, ci.days * MicrosPerDay + ci.microseconds))
          case (_, ByteType | ShortType | IntegerType | LongType, n: Number) =>
            Some((0, n.longValue()))
          case _ => None
        }
        v.collect { case (m, w) if m.toLong * sign >= 0 && w * sign >= 0 =>
          (math.abs(m), math.abs(w))
        }
      case _ => None
    }

  def member(e: NamedExpression): Option[RangeCol] = e match {
    case Alias(WindowExpression(AggregateExpression(f: DeclarativeAggregate, Complete, false,
          None, _), WindowSpecDefinition(_, orderSpec,
            SpecifiedWindowFrame(RangeFrame, lo, hi))), _)
        if f.deterministic && orderSpec.length == 1 =>
      val keyType = orderSpec.head.child.dataType
      for {
        (xm, x) <- widthOf(lo, -1, keyType)
        (ym, y) <- widthOf(hi, 1, keyType)
      } yield RangeCol(f, xm, x, ym, y, e.toAttribute)
    case _ => None
  }

  def orderRescuable(w: logical.Window): Boolean =
    w.orderSpec.length == 1 && (w.orderSpec.head.child.dataType match {
      case IntegerType | LongType | TimestampType | DateType => true
      case d: DecimalType => d.precision <= 18 // the unscaled value IS a Long key
      case _ => false
    })

  /** The first non-null key of the first group and last of the last;
    * the last group's trailing and first group's leading windows. */
  case class EdgeKeys(firstKey: Option[Long], lastKey: Option[Long],
                      tail: Array[(Long, UnsafeRow)], head: Array[(Long, UnsafeRow)])
  case class Stitched(pre: Array[(Long, UnsafeRow)], post: Array[(Long, UnsafeRow)])
}

private[plans] case class RangeFamily(funcs: Seq[RangeFamily.RangeCol], order: SortOrder,
                                      zone: String = SQLConf.get.sessionLocalTimeZone)
    extends WindowFamily {
  import RangeFamily._
  type Part = EdgeKeys
  type Seed = Stitched

  def name: String = "GlobalRangeFrame"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  override def tieRuns: Boolean = true

  private def keyType = order.child.dataType
  private def isDate = keyType == DateType
  // conservative spans for shipping and pruning only: months at 31 days
  // plus 2 of calendar slack, in key units; the folds filter exactly
  private def span(months: Int, units: Long): Long =
    if (months == 0) units
    else if (isDate) satAdd(units, months * 31L + 2L)
    else satAdd(units, satAdd(months * 31L * MicrosPerDay, 2L * MicrosPerDay))
  private def maxX = funcs.map(f => span(f.xm, f.x)).max
  private def maxY = funcs.map(f => span(f.ym, f.y)).max

  /** The order key as an ascending Long (None for NULL). */
  private def keyReader(in: Seq[Attribute]): InternalRow => Option[Long] = {
    val proj = UnsafeProjection.create(Seq(order.child), in)
    val negate = order.direction != Ascending
    val dt = keyType
    r => {
      val k = proj(r)
      if (k.isNullAt(0)) None
      else {
        val v = dt match {
          case IntegerType | DateType => k.getInt(0).toLong
          case d: DecimalType => k.getDecimal(0, d.precision, d.scale).toUnscaledLong
          case _ => k.getLong(0)
        }
        Some(if (negate) Math.negateExact(v) else v)
      }
    }
  }

  def fold(in: Seq[Attribute]): Fold[EdgeKeys] = new Fold[EdgeKeys] {
    private val key = keyReader(in)
    private val toUnsafe = UnsafeProjection.create(in, in)
    private val (mx, my) = (maxX, maxY)
    private var inFirst = true
    private var firstKey, lastKey: Option[Long] = None
    private val tail = ArrayDeque[(Long, UnsafeRow)]()
    private val head = ArrayBuffer[(Long, UnsafeRow)]()
    def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit = {
      if (newGroup) { inFirst = false; lastKey = None; tail.clear() }
      key(r).foreach { k =>
        if (inFirst && firstKey.isEmpty) firstKey = Some(k)
        lastKey = Some(k)
        if (mx > 0) {
          tail += ((k, toUnsafe(r).copy()))
          while (tail.head._1 < satSub(k, mx)) tail.removeHead()
        }
        if (my > 0 && inFirst && k <= satAdd(firstKey.get, my)) head += ((k, toUnsafe(r).copy()))
      }
    }
    def result(): EdgeKeys = EdgeKeys(firstKey, lastKey, tail.toArray, head.toArray)
  }

  def derive(b: Boundary, parts: IndexedSeq[EdgeKeys]): IndexedSeq[Stitched] = {
    val (mx, my) = (maxX, maxY)
    (0 until b.nTasks).map { p =>
      val pre = parts(p).firstKey.filter(_ => mx > 0).map { k =>
        b.before(p).toSeq.reverse.flatMap(s => parts(s.p).tail).filter(_._1 >= satSub(k, mx))
      }
      val post = parts(p).lastKey.filter(_ => my > 0).map { k =>
        b.after(p).flatMap(s => parts(s.p).head).filter(_._1 <= satAdd(k, my)).toSeq
      }
      Stitched(pre.getOrElse(Nil).toArray, post.getOrElse(Nil).toArray)
    }
  }

  def open(in: Seq[Attribute], seed: Stitched, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val fs = funcs.toArray
    private val aggs = fs.map(f => new DeclAggs(Seq(f.agg), in))
    private val types = fs.map(_.attr.dataType)
    private val key = keyReader(in)
    private val (mx, my) = (maxX, maxY)
    private val negate = order.direction != Ascending
    private val zoneId =
      if (!isDate && fs.exists(f => f.xm != 0 || f.ym != 0)) java.time.ZoneId.of(zone) else null

    // exact per-row bounds; calendar arithmetic runs in original key space
    private def addCal(k: Long, months: Int, units: Long): Long =
      if (isDate) satAdd(DateTimeUtils.dateAddMonths(Math.toIntExact(k), months).toLong, units)
      else DateTimeUtils.timestampAddInterval(k, months, 0, units, zoneId)
    private def lo(f: RangeCol, k: Long): Long =
      if (f.xm == 0) satSub(k, f.x)
      else if (!negate) addCal(k, -f.xm, -f.x)
      else Math.negateExact(addCal(Math.negateExact(k), f.xm, f.x))
    private def hi(f: RangeCol, k: Long): Long =
      if (f.ym == 0) satAdd(k, f.y)
      else if (!negate) addCal(k, f.ym, f.y)
      else Math.negateExact(addCal(Math.negateExact(k), -f.ym, -f.y))

    private final class Run(val key: Option[Long]) { val rows = ArrayBuffer[Slot]() }
    // trailing window of the group (the first group's starts with the
    // stitched predecessors); runs waiting for their frame to complete
    private val deque = ArrayDeque[(Long, InternalRow)]()
    seed.pre.foreach(deque += _)
    private val pending = ArrayDeque[Run]()
    private var runOpen = false

    def row(s: Slot): Unit = {
      if (!runOpen) {
        runOpen = true
        pending += new Run(key(s.row))
        // every run before the new one is complete: fold those it covers
        while (pending.length > 1 && covers(pending.head, pending.last)) resolve(false)
      }
      pending.last.rows += s
    }

    override def endRun(): Unit = runOpen = false

    override def endGroup(last: Boolean): Unit = {
      while (pending.nonEmpty) resolve(last)
      deque.clear()
    }

    /** `later` lies past every frame of `cur`. */
    private def covers(cur: Run, later: Run): Boolean = cur.key.isEmpty ||
      later.key.forall(_ > satAdd(cur.key.get, my))

    private def resolve(withPost: Boolean): Unit = {
      val cur = pending.removeHead()
      var i = 0
      while (i < fs.length) {
        val a = aggs(i)
        a.reset()
        cur.key match {
          case None => cur.rows.foreach(s => a.update(s.row)) // null peers: the run itself
          case Some(k) =>
            val from = lo(fs(i), k)
            deque.foreach { case (dk, r) => if (dk >= from) a.update(r) }
            cur.rows.foreach(s => a.update(s.row))
            if (fs(i).ym > 0 || fs(i).y > 0) {
              val to = hi(fs(i), k)
              pending.iterator.takeWhile(_.key.exists(_ <= to))
                .foreach(_.rows.foreach(s => a.update(s.row)))
              if (withPost) seed.post.iterator.takeWhile(_._1 <= to).foreach(x => a.update(x._2))
            }
        }
        val v = a.eval().get(0, types(i))
        cur.rows.foreach(_.set(base + i, v))
        i += 1
      }
      cur.key.foreach { k =>
        while (deque.nonEmpty && deque.head._1 < satSub(k, mx)) deque.removeHead()
        if (mx > 0) cur.rows.foreach(s => deque += ((k, s.row)))
      }
    }
  }
}
