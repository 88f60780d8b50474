package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, FrameLessOffsetWindowFunction, NamedExpression, UnsafeProjection, UnsafeRow, WindowExpression}

/** lag()/lead() IGNORE NULLS — gap filling, "the previous non-null
  * reading (per sensor)". The lookbehind is variable, since the n-th
  * non-null value may be arbitrarily far back, but a function only ever
  * needs n non-null VALUES per direction. So the boundary job keeps,
  * per function, the first n non-null inputs of each task's first group
  * and the last n of its last group; the driver stitches each task's
  * missing values along the group's chain (bounded by Σ offsets × tasks
  * values, whatever the null-run lengths).
  *
  * Locally lag is a ring of the last n non-null values. Lead parks rows
  * in a FIFO, and each arriving non-null value resolves exactly the rows
  * whose n-th successor it is (arrival counters, O(1) per value); rows
  * left at the end of a group take their default, evaluated on their
  * own row as in WindowExec. Offsets are foldable and non-zero.
  */
private[plans] object IgnoreNullsFamily {
  /** The |offset|-th non-null `input` before (offset < 0) or after the row. */
  case class NnOffsetCol(input: Expression, offset: Int, default: Expression, attr: Attribute)

  def member(e: NamedExpression): Option[NnOffsetCol] = e match {
    case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _)
        if f.ignoreNulls && f.offset.foldable =>
      f.offset.eval() match {
        case o: Integer if o.intValue() != 0 =>
          Some(NnOffsetCol(f.input, o.intValue(), f.default, e.toAttribute))
        case _ => None
      }
    case _ => None
  }

  /** Per function: first non-null values of the first group, last of the last. */
  case class EdgeValues(heads: Array[Array[UnsafeRow]], tails: Array[Array[UnsafeRow]])
  /** Per function: the stitched values before the task (oldest first) and after it. */
  case class Stitched(pre: Array[Array[UnsafeRow]], suc: Array[Array[UnsafeRow]])
}

private[plans] case class IgnoreNullsFamily(funcs: Seq[IgnoreNullsFamily.NnOffsetCol])
    extends WindowFamily {
  import IgnoreNullsFamily._
  type Part = EdgeValues
  type Seed = Stitched

  def name: String = "GlobalOffsetIgnoreNulls"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  override def streams: Boolean = funcs.forall(_.offset < 0)
  private def needs = funcs.map(f => math.abs(f.offset)).toArray

  def fold(in: Seq[Attribute]): Fold[EdgeValues] = new Fold[EdgeValues] {
    private val n = needs
    private val inputs = funcs.map(f => UnsafeProjection.create(Seq(f.input), in)).toArray
    private val heads = Array.fill(n.length)(ArrayBuffer[UnsafeRow]())
    private val tails = Array.fill(n.length)(ArrayDeque[UnsafeRow]())
    private var inFirst = true
    def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit = {
      if (newGroup) { inFirst = false; tails.foreach(_.clear()) }
      var i = 0
      while (i < n.length) {
        val v = inputs(i)(r)
        if (!v.isNullAt(0)) {
          val c = v.copy()
          if (inFirst && heads(i).length < n(i)) heads(i) += c
          tails(i) += c
          if (tails(i).length > n(i)) tails(i).removeHead()
        }
        i += 1
      }
    }
    def result(): EdgeValues = EdgeValues(heads.map(_.toArray), tails.map(_.toArray))
  }

  def derive(b: Boundary, parts: IndexedSeq[EdgeValues]): IndexedSeq[Stitched] = {
    val n = needs
    (0 until b.nTasks).map { p =>
      Stitched(
        n.indices.map(f => b.before(p)
          .flatMap(s => parts(s.p).tails(f).reverseIterator).take(n(f)).toArray.reverse).toArray,
        n.indices.map(f => b.after(p)
          .flatMap(s => parts(s.p).heads(f).iterator).take(n(f)).toArray).toArray)
    }
  }

  def open(in: Seq[Attribute], seed: Stitched, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val n = needs
    private val nF = n.length
    private val isLead = funcs.map(_.offset > 0).toArray
    private val inputs = funcs.map(f => UnsafeProjection.create(Seq(f.input), in)).toArray
    private val defaults = funcs.map(f => UnsafeProjection.create(Seq(f.default), in)).toArray
    private val types = funcs.map(_.attr.dataType).toArray
    // per lead function: non-null arrivals so far, and the rows waiting
    // with the arrival count they parked at
    private val arrivals = new Array[Long](nF)
    private val waiting = Array.fill(nF)(ArrayDeque[(Slot, Long)]())
    // per lag function: the last n non-null values, seeded by the stitch
    private val rings = Array.tabulate(nF) { i =>
      val d = ArrayDeque[UnsafeRow]()
      if (!isLead(i)) seed.pre(i).foreach(d += _)
      d
    }

    private def default(f: Int, s: Slot): Any = defaults(f)(s.row).get(0, types(f))

    private def arrive(f: Int, v: UnsafeRow): Unit = {
      arrivals(f) += 1
      // rows separated only by nulls park at the same count and share
      // their n-th non-null successor
      val w = waiting(f)
      while (w.nonEmpty && w.head._2 + n(f) == arrivals(f))
        w.removeHead()._1.set(base + f, v.get(0, types(f)))
    }

    def row(s: Slot): Unit = {
      var i = 0
      // lag excludes the current row: answer before its value enters the ring
      while (i < nF) {
        if (!isLead(i)) {
          val ring = rings(i)
          s.set(base + i,
            if (ring.length >= n(i)) ring(ring.length - n(i)).get(0, types(i))
            else default(i, s))
        }
        i += 1
      }
      i = 0
      while (i < nF) {
        val v = inputs(i)(s.row)
        if (!v.isNullAt(0)) {
          if (isLead(i)) arrive(i, v.copy())
          else {
            rings(i) += v.copy()
            if (rings(i).length > n(i)) rings(i).removeHead()
          }
        }
        i += 1
      }
      // lead excludes the current row: park after its own value arrived
      i = 0
      while (i < nF) {
        if (isLead(i)) waiting(i) += ((s, arrivals(i)))
        i += 1
      }
    }

    override def endGroup(last: Boolean): Unit = {
      var f = 0
      while (f < nF) {
        if (isLead(f)) {
          if (last) seed.suc(f).foreach(arrive(f, _))
          waiting(f).foreach { case (s, _) => s.set(base + f, default(f, s)) }
          waiting(f).clear()
        } else rings(f).clear()
        f += 1
      }
    }
  }
}
