package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.{GraftDatasetBridge => DB}

import scala.collection.mutable

/** Custom whole-operator: per-group top-k selection with bounded heaps.
  *
  * Why a custom LogicalPlan + Strategy + SparkPlan (preference ladder
  * (c) — the built-ins genuinely can't express this execution): the
  * relational form `row_number() OVER (PARTITION BY g ORDER BY o) <= k`
  * plans WindowExec, which SORTS every partition fully (O(n log n) and
  * spills at scale) and only then discards all but k rows per group.
  * This operator keeps a size-k heap per group — O(n log k), no sort, no
  * spill — the right physical shape when k ≪ group size (the reference's
  * argmin is exactly k=1 over K candidates per point, SURVEY §2.5).
  *
  * Semantics: keep the k rows with the smallest (ascending) or largest
  * (descending) order-expression value per group. Ties at the k-boundary
  * are broken arbitrarily — callers wanting determinism make the order
  * value unique (as our oracle queries do).
  */
final case class TopKPerGroupNode(
    grouping: Seq[Expression],
    order: Expression,
    descending: Boolean,
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerGroupNode =
    copy(child = c)
}

final case class TopKPerGroupExec(
    grouping: Seq[Expression],
    order: Expression,
    descending: Boolean,
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // ask the planner to co-locate each group on one partition; Catalyst
  // inserts the Exchange (and AQE can still re-plan it)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(grouping) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = grouping
    val orderExpr = order
    val desc = descending
    val kk = k
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val groupProj = UnsafeProjection.create(groupExprs, childOutput)
      val ordEval = BindReferences.bindReference(orderExpr, AttributeSeq(childOutput))
      val baseOrd = TypeUtils.getInterpretedOrdering(orderExpr.dataType)
      // heap root = the CURRENTLY WORST kept row, so `keep better than
      // root` replaces it: for ascending top-k (smallest values) the
      // root must be the LARGEST kept value
      val heapOrd: Ordering[(Any, InternalRow)] =
        if (desc) Ordering.by[(Any, InternalRow), Any](_._1)(baseOrd).reverse
        else Ordering.by[(Any, InternalRow), Any](_._1)(baseOrd)
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[(Any, InternalRow)]]
      it.foreach { row =>
        val key = groupProj(row)
        val heap = heaps.getOrElseUpdate(key.copy(),
          mutable.PriorityQueue.empty[(Any, InternalRow)](heapOrd))
        // copyValue: eval of struct/string/array attributes returns a
        // VIEW into the reused row buffer — stored heap entries must own
        // their memory
        val v = InternalRow.copyValue(ordEval.eval(row))
        if (heap.size < kk) heap.enqueue((v, row.copy()))
        else {
          val worst = heap.head._1
          val better = if (desc) baseOrd.gt(v, worst) else baseOrd.lt(v, worst)
          if (better) { heap.dequeue(); heap.enqueue((v, row.copy())) }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._2))
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerGroupExec =
    copy(child = c)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, d, k, child) =>
      TopKPerGroupExec(g, o, d, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** Keep the k extreme rows per group. Registers the strategy on the
    * session's experimental methods if absent (also injectable via
    * GraftExtensions for cluster submit).
    */
  def apply(df: DataFrame, groupCols: Seq[String], orderCol: String,
      descending: Boolean, k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val plan = DB.logicalPlan(df)
    val resolve = plan.output.map(a => a.name -> a).toMap
    val node = TopKPerGroupNode(
      groupCols.map(resolve(_)), resolve(orderCol), descending, k, plan)
    DB.ofRows(spark, node)
  }
}
