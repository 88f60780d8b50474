package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSeq, BindReferences, Expression, NamedExpression, SpecificInternalRow, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, ApproximatePercentile, CollectList, Complete, CountMinSketchAgg, DeclarativeAggregate, First, HyperLogLogPlusPlus, ImperativeAggregate, Last, TypedImperativeAggregate}

/** Whole-table and whole-group aggregates — `x / SUM(x) OVER ()`, the
  * share of total, and `OVER (PARTITION BY user)`, the share of group
  * total. Every row of a group shares one value, so each task folds
  * partial buffers of its first and last group, the driver merges them
  * along each chain and evaluates once per chain, and the output pass
  * attaches the constant: the first group's at once, later groups' at
  * their end (interior groups evaluate their own rows).
  *
  * Globally, with no order-sensitive aggregate, this needs no exchange
  * at all: the child runs twice (two column-pruned scans — the cost of
  * the aggregate-and-join rewrite a careful user would write, without
  * the join) where the built-in moves the whole table into one task.
  * Per key the range exchange spreads a hot key over tasks; a node
  * without ORDER BY is spread by its aggregates' inputs.
  *
  * Aggregates: deterministic declaratives except first/last (ordered
  * first/last over a whole frame are nth_value rescues), the imperative
  * sketches whose partial merge keeps their contract (HLL++ and
  * count-min merge to the sequential sketch; approx_percentile to an
  * equally valid ε-summary, the merge stock GROUP BY uses), and
  * collect_list under an explicit ORDER BY (appending merges in key
  * order rebuild the sorted list). Floating-point sums associate
  * differently from one sequential scan: last-ulp differences.
  */
private[plans] object ConstantFamily {
  case class ConstAgg(agg: AggregateFunction, attr: Attribute)

  private def sketch(f: AggregateFunction): Boolean = f match {
    case _: HyperLogLogPlusPlus | _: CountMinSketchAgg | _: ApproximatePercentile => true
    case _ => false
  }

  def member(e: NamedExpression): Option[ConstAgg] = e match {
    case Alias(WindowExpression(AggregateExpression(f, Complete, false, None, _),
          WindowSpecDefinition(_, orderSpec,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _)
        if (f match {
          case d: DeclarativeAggregate =>
            d.deterministic && !d.isInstanceOf[First] && !d.isInstanceOf[Last]
          case c: CollectList => orderSpec.nonEmpty && orderSpec.forall(_.deterministic)
          case other => sketch(other)
        }) => Some(ConstAgg(f, e.toAttribute))
    case _ => None
  }

  /** One imperative aggregate's opaque buffer: update, bytes, merge, eval. */
  sealed trait ImpOps extends Serializable {
    def newBuf(): AnyRef
    def update(buf: AnyRef, row: InternalRow): AnyRef
    def serialize(buf: AnyRef): Array[Byte]
    def mergeBytes(buf: AnyRef, bytes: Array[Byte]): AnyRef
    def eval(buf: AnyRef): Any
  }

  final class TypedOps(f: TypedImperativeAggregate[Any]) extends ImpOps {
    def newBuf(): AnyRef = f.createAggregationBuffer().asInstanceOf[AnyRef]
    def update(buf: AnyRef, row: InternalRow): AnyRef = f.update(buf, row).asInstanceOf[AnyRef]
    def serialize(buf: AnyRef): Array[Byte] = f.serialize(buf)
    def mergeBytes(buf: AnyRef, bytes: Array[Byte]): AnyRef =
      f.merge(buf, f.deserialize(bytes)).asInstanceOf[AnyRef]
    def eval(buf: AnyRef): Any = f.eval(buf)
  }

  final class RawOps(f0: ImperativeAggregate) extends ImpOps {
    private val f = f0.withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0)
      .asInstanceOf[ImperativeAggregate]
    private val types = f.aggBufferAttributes.map(_.dataType)
    @transient private lazy val toBytes =
      UnsafeProjection.create(f.aggBufferAttributes, f.aggBufferAttributes)
    def newBuf(): AnyRef = { val b = new SpecificInternalRow(types); f.initialize(b); b }
    def update(buf: AnyRef, row: InternalRow): AnyRef = {
      f.update(buf.asInstanceOf[InternalRow], row); buf
    }
    def serialize(buf: AnyRef): Array[Byte] =
      toBytes(buf.asInstanceOf[InternalRow]).copy().getBytes
    def mergeBytes(buf: AnyRef, bytes: Array[Byte]): AnyRef = {
      val r = new UnsafeRow(types.length)
      r.pointTo(bytes, bytes.length)
      f.merge(buf.asInstanceOf[InternalRow], r); buf
    }
    def eval(buf: AnyRef): Any = f.eval(buf.asInstanceOf[InternalRow])
  }

  /** A partial of one group slice: declarative buffer + imperative bytes. */
  case class Partial(decl: UnsafeRow, imp: Array[Array[Byte]])
  case class EdgePartials(first: Partial, last: Partial)
  /** The constants of the task's first and last group. */
  case class EdgeValues(first: Array[Any], last: Array[Any])
}

private[plans] case class ConstantFamily(funcs: Seq[ConstantFamily.ConstAgg], keyed: Boolean)
    extends WindowFamily {
  import ConstantFamily._
  type Part = EdgePartials
  type Seed = EdgeValues

  def name: String = "GlobalConstantAgg"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  override def needsOrder: Boolean = keyed || funcs.exists(_.agg.isInstanceOf[CollectList])
  override def streams: Boolean = !keyed

  /** Declaratives share one [[DeclAggs]]; imperatives carry [[ImpOps]]. */
  private class Aggs(in: Seq[Attribute]) {
    private val declIdx = funcs.indices.filter(i => funcs(i).agg.isInstanceOf[DeclarativeAggregate])
    private val impIdx = funcs.indices.filterNot(declIdx.contains)
    private val decl =
      new DeclAggs(declIdx.map(funcs(_).agg.asInstanceOf[DeclarativeAggregate]), in)
    private val ops: Seq[ImpOps] = impIdx.map { i =>
      BindReferences.bindReference[Expression](funcs(i).agg, AttributeSeq(in)) match {
        case t: TypedImperativeAggregate[_] =>
          new TypedOps(t.asInstanceOf[TypedImperativeAggregate[Any]])
        case f: ImperativeAggregate => new RawOps(f)
        case other => throw new IllegalStateException(s"not an imperative aggregate: $other")
      }
    }
    private val bufs = Array.fill[AnyRef](ops.length)(null)
    private val types = funcs.map(_.attr.dataType)
    reset()

    def reset(): Unit = {
      decl.reset()
      ops.indices.foreach(j => bufs(j) = ops(j).newBuf())
    }
    def update(r: InternalRow): Unit = {
      decl.update(r)
      ops.indices.foreach(j => bufs(j) = ops(j).update(bufs(j), r))
    }
    def partial(): Partial =
      Partial(decl.snapshot(), ops.indices.map(j => ops(j).serialize(bufs(j))).toArray)
    def merge(p: Partial): Unit = {
      decl.merge(p.decl)
      ops.indices.foreach(j => bufs(j) = ops(j).mergeBytes(bufs(j), p.imp(j)))
    }
    def values(): Array[Any] = {
      val out = new Array[Any](funcs.length)
      val v = decl.eval()
      declIdx.indices.foreach(m =>
        out(declIdx(m)) = InternalRow.copyValue(v.get(m, types(declIdx(m)))))
      impIdx.indices.foreach(m => out(impIdx(m)) = InternalRow.copyValue(ops(m).eval(bufs(m))))
      out
    }
  }

  def fold(in: Seq[Attribute]): Fold[EdgePartials] = new Fold[EdgePartials] {
    private val a = new Aggs(in)
    private var first: Partial = _
    def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit = {
      if (newGroup) {
        if (first == null) first = a.partial()
        a.reset()
      }
      a.update(r)
    }
    def result(): EdgePartials = {
      val last = a.partial()
      EdgePartials(if (first == null) last else first, last)
    }
  }

  def derive(b: Boundary, parts: IndexedSeq[EdgePartials]): IndexedSeq[EdgeValues] = {
    val a = new Aggs(b.in)
    val c = b.scan(Vector.empty[Partial])((acc, s) =>
      acc :+ (if (s.last) parts(s.p).last else parts(s.p).first))
    // evaluate each chain once: its tasks share one total instance
    val values = new java.util.IdentityHashMap[Vector[Partial], Array[Any]]()
    def eval(ps: Vector[Partial]): Array[Any] = values.computeIfAbsent(ps, _ => {
      a.reset()
      ps.foreach(a.merge)
      a.values()
    })
    (0 until b.nTasks).map(p => EdgeValues(eval(c.firstTotal(p)), eval(c.lastTotal(p))))
  }

  def open(in: Seq[Attribute], seed: EdgeValues, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val a = if (keyed) new Aggs(in) else null
    private val group = ArrayBuffer[Slot]()
    private var first = true

    private def attach(s: Slot, vals: Array[Any]): Unit =
      vals.indices.foreach(i => s.set(base + i, vals(i)))

    def row(s: Slot): Unit =
      if (first) attach(s, seed.first)
      else { a.update(s.row); group += s }

    override def endGroup(last: Boolean): Unit = {
      if (!first) {
        val vals = if (last) seed.last else a.values()
        group.foreach(attach(_, vals))
        group.clear()
        a.reset()
      }
      first = false
    }
  }
}
