package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** [[ScaleOps.prefixScan]] as one logical node. `child` is a range exchange
  * on (group ++ order), sorted within partitions; `keys` are the group
  * columns followed by the peer columns, the first `nGroup` of them the
  * group. `values` are the summed columns, already cast to their sum types.
  * The output is the child's rows with `sums` appended: one running sum per
  * value, then, with peer columns, one sum before the peer run per value.
  * `totals`, for a scan with no group, are one more column per value: its
  * sum over every row. */
case class PrefixScan(keys: Seq[Expression], nGroup: Int, values: Seq[Expression],
                      sums: Seq[Attribute], totals: Seq[Attribute],
                      child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ sums ++ totals
  override def producedAttributes: AttributeSet = AttributeSet(sums ++ totals)
  override protected def withNewChildInternal(c: LogicalPlan): PrefixScan = copy(child = c)
}

/** The physical [[PrefixScan]]. At one partition it is a map over its
  * child. Wider, it first runs one job over the child's output that returns
  * each partition's boundary partials, folds them on the driver, in
  * partition order, into each partition's carry, then maps the same output
  * with the carries applied; the exchange below is not run again. Totals
  * are the fold of that job's partials (each partition is one group), so a
  * scan with totals runs the job at one partition too. It keeps its
  * child's order and partitioning, so an operator above that the range
  * partitioning already satisfies (any at one partition) adds no exchange. */
case class PrefixScanExec(keys: Seq[Expression], nGroup: Int, values: Seq[Expression],
                          sums: Seq[Attribute], totals: Seq[Attribute],
                          child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ sums ++ totals
  override def producedAttributes: AttributeSet = AttributeSet(sums ++ totals)
  override def outputPartitioning: Partitioning =
    if (child.outputPartitioning.numPartitions == 1) SinglePartition
    else child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(c: SparkPlan): PrefixScanExec = copy(child = c)

  protected override def doExecute(): RDD[InternalRow] = {
    val spec = ScanSpec(keys, nGroup, values, child.output)
    val withBefore = sums.size > values.size
    val types = output.map(_.dataType).toArray
    val rows = child.execute()
    val none = new Array[Any](values.size)
    val (carries, total) =
      if (rows.getNumPartitions <= 1 && totals.isEmpty) (Array.empty[(Array[Any], Array[Any])], none)
      else {
        val bounds = rows.mapPartitions { it =>
          val s = new Scanner(spec, none, none)
          var first: InternalRow = null
          it.foreach { r => s.step(r); if (first == null) first = s.key.copy() }
          Iterator(Option(first).map(f => Boundary(f, s.key.copy(), s.run, s.before)))
        }.collect()
        (spec.carries(bounds, none), bounds.flatten.map(_.run).foldLeft(none)(spec.plus))
      }
    val tail = if (totals.isEmpty) Array.empty[Any] else total
    rows.mapPartitionsWithIndex { (p, it) =>
      val (run, before) = carries.lift(p).getOrElse((none, none))
      val s = new Scanner(spec, run, before)
      val toUnsafe = UnsafeProjection.create(types)
      val joined = new JoinedRow()
      it.map { r =>
        s.step(r)
        toUnsafe(joined(r, new GenericInternalRow(
          (if (withBefore) s.run ++ s.before else s.run) ++ tail)))
      }
    }
  }
}

/** Plans [[PrefixScan]] as [[PrefixScanExec]]. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PrefixScan =>
      PrefixScanExec(p.keys, p.nGroup, p.values, p.sums, p.totals, planLater(p.child)) :: Nil
    case _ => Nil
  }

  /** Add the strategy to `spark`'s planner, once. */
  def attach(spark: SparkSession): Unit = spark.synchronized {
    if (!spark.experimental.extraStrategies.contains(PrefixScanStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ PrefixScanStrategy
  }
}

/** A non-empty partition's partials for the carry: its first and last key,
  * and its scan state after the last row — the sums of the last group's
  * rows and of those before the last peer run (scanned from an empty
  * carry). */
private final case class Boundary(first: InternalRow, last: InternalRow,
                                  run: Array[Any], before: Array[Any])

/** How the scan reads its key (group ++ peer columns) and sum values from a
  * child row, and how it compares keys and adds sums. */
private final case class ScanSpec(keys: Seq[Expression], nGroup: Int, values: Seq[Expression],
                                  input: Seq[Attribute]) {
  private val keyType = StructType(keys.zipWithIndex.map { case (k, i) =>
    StructField(s"k$i", k.dataType) })
  private val sumTypes: IndexedSeq[DataType] = values.map(_.dataType).toIndexedSeq
  @transient lazy val sameGroup: Ordering[InternalRow] =
    LazilyGeneratedOrdering.forSchema(StructType(keyType.take(nGroup)))
  @transient lazy val sameKey: Ordering[InternalRow] =
    LazilyGeneratedOrdering.forSchema(keyType)

  def keyOf(): UnsafeProjection = UnsafeProjection.create(keys, input)
  def valuesOf(): UnsafeProjection = UnsafeProjection.create(values, input)

  def read(r: InternalRow, i: Int): Any =
    if (r.isNullAt(i)) null
    else sumTypes(i) match {
      case d: DecimalType => r.getDecimal(i, d.precision, d.scale)
      case _ => r.getLong(i)
    }

  /** Sum `a + b` of one column, exact; null is the empty sum. */
  def add(i: Int, a: Any, b: Any): Any =
    if (a == null) b else if (b == null) a else sumTypes(i) match {
      case d: DecimalType =>
        graft.functions.Det.addExact(a.asInstanceOf[Decimal], b.asInstanceOf[Decimal], d)
      case _ => MathUtils.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long])
    }

  def plus(a: Array[Any], b: Array[Any]): Array[Any] =
    Array.tabulate[Any](a.length)(i => add(i, a(i), b(i)))

  /** Each partition's carry (running sums, sums before the peer run), from
    * the boundary partials in partition order; `none` where nothing from
    * earlier partitions carries in. */
  def carries(bounds: Array[Option[Boundary]],
              none: Array[Any]): Array[(Array[Any], Array[Any])] = {
    val out = Array.fill(bounds.length)((none, none))
    var last: Option[(InternalRow, Array[Any], Array[Any])] = None
    for ((b, p) <- bounds.zipWithIndex; Boundary(first, end, lastRun, lastBefore) <- b) {
      val (run, before) = last match {
        case Some((k, r, bf)) if sameGroup.equiv(k, first) =>
          (r, if (sameKey.equiv(k, first)) bf else r)
        case _ => (none, none)
      }
      out(p) = (run, before)
      val oneGroup = sameGroup.equiv(first, end)
      last = Some((end,
        if (oneGroup) plus(run, lastRun) else lastRun,
        if (sameKey.equiv(first, end)) before
        else if (oneGroup) plus(run, lastBefore) else lastBefore))
    }
    out
  }
}

/** One partition's scan in (group ++ order) order, from a carry: `run`
  * holds the sums through the current row, `before` those before its peer
  * run. */
private final class Scanner(spec: ScanSpec, runIn: Array[Any], beforeIn: Array[Any]) {
  // Two key projections used in turn, so the previous key stays valid
  // without a copy per row.
  private val proj = Array.fill(2)(spec.keyOf())
  private val vals = spec.valuesOf()
  private var turn = 0
  var key: InternalRow = null
  var run: Array[Any] = runIn.clone()
  var before: Array[Any] = beforeIn.clone()

  def step(r: InternalRow): Unit = {
    turn ^= 1
    val k = proj(turn)(r)
    if (key != null) {
      if (!spec.sameGroup.equiv(key, k)) {
        run = new Array[Any](run.length)
        before = new Array[Any](run.length)
      } else if (!spec.sameKey.equiv(key, k)) before = run.clone()
    }
    key = k
    val v = vals(r)
    var i = 0
    while (i < run.length) {
      run(i) = spec.add(i, run(i), spec.read(v, i))
      i += 1
    }
  }
}
