package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Native backward as-of join — the whole-operator tier (c) of the
  * custom-operator ladder: a `LogicalPlan` node, a planner `Strategy`
  * ([[GraftStrategies]]) and a physical [[AsOfJoinExec]], installed
  * with the rest of graft's table ([[graft.GraftSession]]).
  *
  * Semantics (matching the composed union+window form in
  * `Relational2.asofJoin`, and the reference convention): for every
  * left row, the LAST right row of the same key with
  * `rightTime <= leftTime`; right columns are null when no such row
  * exists. Inclusive at equal timestamps.
  *
  * Why a custom operator instead of the union+window composition: the
  * composed form sorts the UNION of both sides and runs a WindowExec
  * (last IGNORE NULLS) over every row; the native form sorts each side
  * independently (smaller sorts, and the planner can reuse existing
  * orderings) and then does a single streaming MERGE per partition —
  * O(|L|+|R|) with O(1) state, no window buffering, no union of
  * mismatched schemas. Distribution/ordering are DECLARED, so
  * EnsureRequirements plans the same co-partitioned exchanges a
  * sort-merge join gets, AQE included.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression)
    extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

final case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Same declaration a sort-merge join makes: both sides clustered on
  // their keys (EnsureRequirements inserts co-partitioned hash
  // exchanges) and sorted on (keys, time) — after which the join is a
  // single in-order pass.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  // Output rows follow the left child 1:1, so its partitioning
  // survives — without this (default UnknownPartitioning) a
  // downstream groupBy on the join keys would pay a whole redundant
  // exchange of the join output.
  override def outputPartitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val sortTypes = leftKeys.map(_.dataType) :+ leftTime.dataType
    val numOutputCols = output.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (key, time) rows projected to a COMMON schema so one natural
      // ordering compares across the two sides.
      val lSortProj = UnsafeProjection.create(leftKeys :+ leftTime, leftOut)
      val rSortProj = UnsafeProjection.create(rightKeys :+ rightTime, rightOut)
      val lKeyProj = UnsafeProjection.create(leftKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rightOut)
      val sortOrd =
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(sortTypes)
      // Bind against the NULLABLE-ized right attributes: binding uses
      // the input schema's nullability, and a non-nullable binding
      // would skip the null check and read garbage zeros out of the
      // all-null unmatched row (caught by AsofJoinSpec).
      val resultProj = UnsafeProjection.create(output,
        leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // One-row lookahead into the right side. Rows coming out of
        // SortExec reuse buffers — anything retained across next()
        // must be copied.
        private var headRow: InternalRow = _
        private var headKey: UnsafeRow = _
        private var headSort: UnsafeRow = _
        // Last right row already consumed (the as-of candidate).
        private var bestRow: InternalRow = _
        private var bestKey: UnsafeRow = _

        private def loadHead(): Unit =
          if (rIter.hasNext) {
            val r = rIter.next()
            headRow = r.copy()
            headKey = rKeyProj(headRow).copy()
            headSort = rSortProj(headRow).copy()
          } else {
            headRow = null; headKey = null; headSort = null
          }

        loadHead()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lSort = lSortProj(l)
          // Consume every right row at-or-before this left row in
          // (key, time) order; the last one consumed is the candidate.
          while (headRow != null && sortOrd.compare(headSort, lSort) <= 0) {
            bestRow = headRow
            bestKey = headKey
            loadHead()
          }
          val lKey = lKeyProj(l)
          val matched = bestRow != null && bestKey == lKey
          resultProj(joined(l, if (matched) bestRow else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override def nodeName: String = "GraftAsOfJoin"
}
