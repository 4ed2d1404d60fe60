package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a first-class Catalyst operator — the whole-operator
  * extension path (SURVEY.md §2 "Custom operators" preference (c): custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan`), exercised on the one
  * operation the engine otherwise expresses by window trickery (q23): for
  * each left row, the single right row with the greatest `rightTime <=
  * leftTime` within the same key (inner semantics — unmatched left rows
  * drop).
  *
  * Why an operator and not a window: the union-then-`last(ignoreNulls)`
  * form materializes BOTH streams through one window sort and carries the
  * probe rows through the frame machinery. This node asks Catalyst for
  * exactly what the algorithm needs — co-partition on the key, sort within
  * partitions by (key, time) — and then streams BOTH sides through one
  * forward-only merge with O(1) state (the last candidate row). At 100 TB
  * that is the same single shuffle per side as a sort-merge join, no
  * window buffering, and it inherits every planner service (EnsureRequirements
  * inserts the exchanges/sorts only when the children aren't already
  * partitioned/sorted — a bucketed layout joins exchange-free).
  *
  * Contract: keys and times must be non-null (nulls order first under the
  * natural ordering and would match nonsensically — filter them out
  * upstream); `leftKeys`/`rightKeys` must be resolved attributes of the
  * respective children (the `Graft.asofJoin` facade guarantees both).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    "as-of join needs matching non-empty key lists")
  // orderings and the co-partitioning hash are built from the LEFT types;
  // a type mismatch would silently mis-partition/mis-compare, so fail loudly
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"as-of join key types differ: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of join time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]. Injected session-wide via
  * `GraftExtensions` (spark.sql.extensions) or per-session via
  * [[GraftPlanner]].
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: children arrive co-partitioned on the key
  * (ClusteredDistribution) and sorted by (key, time) (requiredChildOrdering)
  * — EnsureRequirements materializes whatever exchanges/sorts the children
  * don't already satisfy — then each partition pair merges in one forward
  * pass. Per left row: drop right rows with a smaller key, absorb right
  * rows with the same key and time <= left time (the LAST absorbed is the
  * as-of match — right is time-ascending), emit if a candidate with the
  * current key is held. Matches carry over between left rows of the same
  * key (left is time-ascending too), so the right iterator never rewinds:
  * O(|L| + |R|) per partition, O(1) state.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {
  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  // rows stay in their left partition (partition i zips with right i), so
  // the left child's clustering survives — declaring it saves downstream
  // operators keyed on the same columns a needless re-shuffle
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val out = output
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = UnsafeProjection.create(lKeyExprs, lOut)
      val rKey = UnsafeProjection.create(rKeyExprs, rOut)
      val lTime = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTime = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeExpr.dataType))
      val joiner = UnsafeProjection.create(out, out)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // current right row + its key, copied out of the shuffle reader's
        // reused buffers; `matched` is the best as-of candidate so far
        private var rRow: InternalRow = _
        private var rRowKey: InternalRow = _
        private var matched: InternalRow = _
        private var matchedKey: InternalRow = _
        private var pending: InternalRow = _
        advanceRight()

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rRow = rIter.next().copy()
            rRowKey = rKey(rRow).copy()
          } else { rRow = null; rRowKey = null }

        private def computeNext(): InternalRow = {
          while (lIter.hasNext) {
            val l = lIter.next()
            val lk = lKey(l)
            // right rows with smaller keys can never match again
            while (rRow != null && keyOrd.compare(rRowKey, lk) < 0) advanceRight()
            // absorb same-key right rows up to the left time; the last one
            // absorbed is the as-of match (right is time-ascending)
            while (rRow != null && keyOrd.compare(rRowKey, lk) == 0 &&
                timeOrd.compare(rTime(rRow), lTime(l)) <= 0) {
              matched = rRow
              matchedKey = rRowKey
              advanceRight()
            }
            if (matched != null && keyOrd.compare(matchedKey, lk) == 0) {
              numOutputRows += 1
              return joiner(joined(l, matched))
            }
          }
          null
        }

        override def hasNext: Boolean = {
          if (pending == null) pending = computeNext()
          pending != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty as-of iterator")
          val r = pending
          pending = null
          r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
