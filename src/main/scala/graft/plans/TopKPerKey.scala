package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

import graft.functions.GraftExpressions

/** Custom whole-operator optimization (SURVEY.md §7.6 escape hatch —
  * the one place the stock operator set genuinely leaves performance on
  * the table for us): `Filter(row_number() OVER (PARTITION BY p ORDER BY
  * o) <= k)` evaluates as a FULL sort of every partition group followed
  * by a filter that throws almost everything away. For top-k-per-key
  * queries (per-query kNN ranks, IVF cell assignment with k=1, top
  * orders per customer) the right physical shape is a bounded heap per
  * key: O(keys·k) memory instead of a full per-partition sort buffer,
  * one pass, no sort spill.
  *
  * Pieces (the full custom-operator ladder, registered via
  * [[GraftExtensions]] / SparkSessionExtensions):
  *  - [[TopKPerKey]]      — logical node
  *  - [[TopKPerKeyRule]]  — optimizer rule rewriting the Filter+Window
  *  - [[TopKPerKeyStrategy]] — planner strategy
  *  - [[TopKPerKeyExec]]  — physical operator (hash map of k-bounded
  *    heaps; requires the same clustered distribution the window would,
  *    so the shuffle layout is unchanged)
  *
  * Semantics preserved exactly: emitted rows are each key's first k rows
  * in `order`, with the row_number attribute materialized — the DuckDB
  * oracle gate re-checks every affected query. row_number over a
  * non-total order is non-deterministic in ANY engine; our queries all
  * order with tiebreakers.
  *
  * Memory trade, stated plainly: the heap map holds O(distinct keys × k)
  * copied rows per task, where the stock window's external sort holds
  * O(rows) but spills. For top-k-per-key workloads keys×k ≪ rows (the
  * point of the operator). For pathological key cardinality the exec
  * SELF-degrades: past `spark.graft.topKPerKey.maxBufferedRows` buffered
  * rows per task (default 1M) it hands everything to a spill-capable
  * external sort on (key, order) + streaming rank filter — the stock
  * window shape — so the operator is safe without operator-level
  * tuning; excludedRules remains only as a kill switch.
  */
case class TopKPerKey(k: Int, partition: Seq[Expression],
    order: Seq[SortOrder], rnAttr: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object TopKPerKeyRule extends Rule[LogicalPlan] {

  /** Max k the bounded-heap path accepts; larger ks keep the stock
    * window (heap constant-factor loses to sort for big k). */
  private val MaxK = 1024

  private object RnLimit {
    /** Extract (rnAttribute, k) from `rn <= k`, `rn < k`, `rn = k(==1)`,
      * possibly through a numeric cast. */
    def unapply(e: Expression): Option[(Attribute, Long)] = e match {
      case LessThanOrEqual(Stripped(a), IntegralLit(k)) => Some((a, k))
      case LessThan(Stripped(a), IntegralLit(k)) => Some((a, k - 1))
      case EqualTo(Stripped(a), IntegralLit(1L)) => Some((a, 1L))
      case GreaterThanOrEqual(IntegralLit(k), Stripped(a)) => Some((a, k))
      case GreaterThan(IntegralLit(k), Stripped(a)) => Some((a, k - 1))
      case _ => None
    }
  }
  /** Strip only WIDENING casts (the int→bigint coercion Catalyst
    * inserts around row_number). A narrowing cast (e.g. cast to tinyint)
    * changes semantics — ANSI overflow errors / legacy wraparound — and
    * must keep the stock plan. */
  private def widening(c: Cast): Boolean = (c.child.dataType, c.dataType) match {
    case (org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType) => true
    case (a, b) => a == b
  }
  private object Stripped {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast if widening(c) => unapply(c.child)
      case _ => None
    }
  }
  private object IntegralLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Short, _) => Some(v.toLong)
      case c: Cast if widening(c) => unapply(c.child)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(RnLimit(attr, k), w: Window)
        if k >= 1 && k <= MaxK && w.orderSpec.nonEmpty &&
          (w.windowExpressions match {
            case Seq(Alias(WindowExpression(_: RowNumber, _), _)) => true
            case _ => false
          }) &&
          w.windowExpressions.head.toAttribute.exprId == attr.exprId =>
      TopKPerKey(k.toInt, w.partitionSpec, w.orderSpec,
        w.windowExpressions.head.toAttribute, w.child)
  }
}

object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, partition, order, rnAttr, child) =>
      TopKPerKeyExec(k, partition, order, rnAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(k: Int, partition: Seq[Expression],
    order: Seq[SortOrder], rnAttr: Attribute, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr

  /** Same clustering the window operator would demand — the planner
    * inserts the identical hash Exchange, so swapping operators never
    * changes the shuffle layout. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partition.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partition) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "fallbackPartitions" -> SQLMetrics.createMetric(sparkContext,
      "partitions degraded to spill-safe external sort"))

  protected override def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val childOutput = child.output
    val partLocal = partition
    val orderLocal = order
    val outputLocal = output
    val childSchema = DataTypeUtils.fromAttributes(childOutput)
    val maxBufferedRows = graft.Tables.longSetting(Option(conf.getConfString(
      "spark.graft.topKPerKey.maxBufferedRows", null)), 1000000L)
    val fallbackMetric = longMetric("fallbackPartitions")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partLocal, childOutput)
      val ordering: Ordering[InternalRow] =
        RowOrdering.create(orderLocal, childOutput)
      val heaps = new java.util.LinkedHashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      // Heap-buffered row budget: past it, this task abandons the
      // in-memory path and degrades to the spill-capable sort below.
      var buffered = 0L
      while (iter.hasNext && buffered <= maxBufferedRows) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // Max-heap w.r.t. the sort order: the head is the WORST of the
          // current k best; a new row replaces it when it sorts earlier.
          heap = new java.util.PriorityQueue[InternalRow](
            kLocal, ordering.reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) { heap.add(row.copy()); buffered += 1 }
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      val resultProj = UnsafeProjection.create(outputLocal, outputLocal)
      val rnRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      import scala.jdk.CollectionConverters._
      if (buffered <= maxBufferedRows) {
        heaps.values().iterator().asScala.flatMap { heap =>
          val rows = new Array[InternalRow](heap.size)
          var i = rows.length - 1
          // Draining the max-heap yields worst-first: fill backwards for
          // ascending rank order.
          while (i >= 0) { rows(i) = heap.poll(); i -= 1 }
          rows.iterator.zipWithIndex.map { case (r, idx) =>
            rnRow.setInt(0, idx + 1)
            // The projection reuses its buffer; consumers may hold rows.
            resultProj(joined(r, rnRow)).copy()
          }
        }
      } else {
        // Spill-safe degrade: too many distinct keys for the heap map.
        // Feed the already-buffered rows plus the rest of the input to a
        // spill-capable external sort on (key, order), then rank-filter
        // the sorted run streamingly — the stock window shape, bounded
        // by execution memory instead of the heap map's O(keys·k).
        fallbackMetric += 1
        val fullOrder = partLocal.map(e => SortOrder(e, Ascending)) ++ orderLocal
        val fullOrdering = RowOrdering.create(fullOrder, childOutput)
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val prefix = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow) = {
            prefix.value = 0L; prefix.isNull = false; prefix
          }
        }
        val sorter = UnsafeExternalRowSorter.create(
          childSchema, fullOrdering, PrefixComparators.LONG, prefixComputer,
          SparkEnv.get.memoryManager.pageSizeBytes, false)
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        heaps.values().iterator().asScala.foreach { heap =>
          while (!heap.isEmpty) sorter.insertRow(toUnsafe(heap.poll()))
        }
        heaps.clear()
        while (iter.hasNext) sorter.insertRow(toUnsafe(iter.next()))
        var prevKey: UnsafeRow = null
        var rn = 0
        sorter.sort().flatMap { row =>
          val key = keyProj(row)
          if (prevKey == null || key != prevKey) { rn = 1; prevKey = key.copy() }
          else rn += 1
          if (rn <= kLocal) {
            rnRow.setInt(0, rn)
            Some(resultProj(joined(row, rnRow)).copy())
          } else None
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** The one session setup: `.withExtensions(GraftExtensions.apply)`
  * installs the TopKPerKey rule and strategy and every `graft_*` SQL
  * function ([[graft.functions.GraftExpressions.builders]]) into each
  * session the builder makes, `newSession()` children included. */
object GraftExtensions {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => TopKPerKeyRule)
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    val className = GraftExpressions.getClass.getName.stripSuffix("$")
    GraftExpressions.builders.foreach { case (name, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
  }
}
