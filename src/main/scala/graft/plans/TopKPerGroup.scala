package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftx.shims

import scala.collection.mutable

/** Whole-operator Catalyst extension (SURVEY.md §4.3c): per-group
  * top-k as a first-class operator — logical node, planner strategy,
  * and a two-stage physical operator with map-side bounded-heap
  * pruning.
  *
  * Why a custom operator: the rank-window formulation is partially
  * optimized by Spark itself (4.x inserts `WindowGroupLimit Partial`
  * before the shuffle, bounding shuffle volume to ~k·groups·
  * partitions) — but that plan still FULL-SORTS every input partition
  * by (group, order) before the partial limit, sorts again after the
  * exchange, and then runs the Window machinery. This operator
  * replaces both sorts and the Window with k-bounded heaps:
  * O(n log k) compares instead of O(n log n), O(groups·k) memory, no
  * row_number evaluation — same shuffle volume, same exact rows
  * (ties broken by the caller-supplied tie columns, so the result is
  * deterministic and oracle-checkable).
  *
  * Physical shape (EnsureRequirements inserts the exchange):
  * {{{
  * TopKPerGroupExec (final, requires ClusteredDistribution(group))
  *   +- Exchange hashpartitioning(group)
  *      +- PartialTopKPerGroupExec (map-side k-heap per group)
  *         +- <child>
  * }}}
  */
case class TopKPerGroupPlan(
    group: Seq[Expression],
    order: Expression,
    descending: Boolean,
    tie: Seq[Expression],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** Shared bounded-heap evaluation for both stages. */
trait TopKPerGroupLike extends UnaryExecNode {
  def group: Seq[Expression]
  def order: Expression
  def descending: Boolean
  def tie: Seq[Expression]
  def k: Int

  override def output: Seq[Attribute] = child.output

  private def sortOrders: Seq[SortOrder] =
    SortOrder(order, if (descending) Descending else Ascending) +:
      tie.map(t => SortOrder(t, Ascending))

  protected def topKIterator(iter: Iterator[InternalRow]): Iterator[InternalRow] = {
    val groupProj = UnsafeProjection.create(group, child.output)
    // total order: best row first; ties fully resolved by `tie`, so
    // the kept set is unique and deterministic
    val ord = new LazilyGeneratedOrdering(sortOrders, child.output)
    // PriorityQueue dequeues the MAX under `ord` = the worst kept row
    val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    while (iter.hasNext) {
      val row = iter.next()
      val g = groupProj(row)
      heaps.get(g) match {
        case None =>
          val pq = new mutable.PriorityQueue[InternalRow]()(ord)
          pq.enqueue(row.copy())
          heaps(g.copy()) = pq
        case Some(pq) =>
          if (pq.size < k) pq.enqueue(row.copy())
          else if (ord.compare(row, pq.head) < 0) { // better than the worst kept
            pq.dequeue()
            pq.enqueue(row.copy())
          }
      }
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }
}

/** Map-side stage: bounds every partition's contribution to k rows per
  * group before the shuffle. */
case class PartialTopKPerGroupExec(
    group: Seq[Expression],
    order: Expression,
    descending: Boolean,
    tie: Seq[Expression],
    k: Int,
    child: SparkPlan) extends TopKPerGroupLike {
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(topKIterator, preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerGroupExec =
    copy(child = newChild)
}

/** Reduce-side stage: merges the per-partition candidate heaps into
  * the final k per group (requires co-location on the group key —
  * EnsureRequirements inserts the hash exchange). */
case class TopKPerGroupExec(
    group: Seq[Expression],
    order: Expression,
    descending: Boolean,
    tie: Seq[Expression],
    k: Int,
    child: SparkPlan) extends TopKPerGroupLike {
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(group) :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(topKIterator, preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to the two-stage physical
  * pair. Registered per-session (`experimental.extraStrategies`) by the
  * DataFrame API below, and via `GraftExtensions` for SQL users. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(g, o, d, t, k, child) =>
      TopKPerGroupExec(g, o, d, t, k,
        PartialTopKPerGroupExec(g, o, d, t, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** Install [[TopKPerGroupStrategy]] in `spark` unless it is there:
    * check and append under the session's strategy-list lock, so two
    * threads sharing one session install it once. */
  private def setup(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(TopKPerGroupStrategy))
        x.extraStrategies = x.extraStrategies :+ TopKPerGroupStrategy
    }
  }

  /** Top `k` rows of `df` per `groupCols`, ordered by `orderCol`
    * (descending by default) with deterministic `tieCols` tie-break. */
  def apply(df: DataFrame, groupCols: Seq[String], orderCol: String, k: Int,
            descending: Boolean = true, tieCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    setup(spark)
    val plan = TopKPerGroupPlan(
      groupCols.map(c => shims.expression(df(c))),
      shims.expression(df(orderCol)),
      descending,
      tieCols.map(c => shims.expression(df(c))),
      k,
      shims.analyzed(df))
    shims.ofRows(spark, plan)
  }
}
