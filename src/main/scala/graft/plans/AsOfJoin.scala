package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF JOIN — a whole-operator Catalyst extension (LogicalPlan +
  * SparkStrategy + SparkPlan), the (c)-tier of the custom-operator
  * preference order. OSS Spark has no as-of/range join: the declarative
  * formulation (equi-join on the key + `ts <= ts` residual + max_by)
  * materializes every (left, prior-right) PAIR before aggregating — at a
  * skewed 100 TB key that blowup is quadratic per key. This operator
  * instead asks for both sides hash-partitioned on the key and sorted by
  * (key, ts[, tiebreak]) — one shuffle each, exactly like a sort-merge
  * join — then streams BOTH sides once per partition: for each left row,
  * the latest right row with `r_ts <= l_ts` on the same key. Left-outer
  * semantics: unmatched left rows emit nulls for the right columns.
  *
  * Constraints (checked at planning): key and ts types must be orderable
  * and MATCH across the two sides (so e.g. TIMESTAMP micros never compare
  * against a raw BIGINT in mismatched units), the tiebreak must be
  * orderable, and the two sides must not share column names or attribute
  * ids (pre-alias the right side — checked in `AsOfJoin.asof`). Any
  * orderable key type works: BIGINT ids, STRING plates/tickets, DATE…
  * Ties on (key, ts) resolve to the largest tiebreak value — a total,
  * engine-portable order.
  *
  * NULL semantics follow SQL joins: a right row with a NULL key or NULL
  * ts can never be a match (skipped on read); a left row with a NULL key
  * or NULL ts emits the null-extended row (left-outer, no match).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    rightTiebreak: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    rightTiebreak: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // one hash shuffle per side (same as SMJ) …
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // … and in-partition sort by (key, ts[, tiebreak]) so the merge is one pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightTiebreak, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    // interpreted orderings over the (matching) key/ts types — evaluated
    // once per row on already-sorted input, not a comparator in a sort
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val nRight = right.output.size
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val resultProj = UnsafeProjection.create(allOut, allOut)
      new Iterator[InternalRow] {
        private var rHead: InternalRow = _
        private var rHeadKey: Any = _
        private var rHeadTs: Any = _
        private var rDone = false
        private var primed = false
        private var candidate: InternalRow = _
        private var prevKey: Any = _
        private var firstLeft = true

        // next right row with non-null key AND ts (null key/ts never match)
        private def advanceRight(): Unit = {
          rHead = null
          while (rHead == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rk.eval(r)
            val t = rt.eval(r)
            if (k != null && t != null) { rHead = r; rHeadKey = k; rHeadTs = t }
          }
          if (rHead == null) rDone = true
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          if (!primed) { advanceRight(); primed = true }
          val l = lIter.next()
          val k = lk.eval(l)
          val t = lt.eval(l)
          if (k == null || t == null) {
            // NULL key/ts on the left: left-outer row, no match by definition.
            // These sort nulls-first, so no right-side state is disturbed.
            resultProj(joiner(l, nullRight))
          } else {
            if (firstLeft || keyOrd.compare(k, prevKey) != 0) {
              candidate = null
              // copy: for buffer-backed values (UTF8String…) `k` aliases the
              // current left row, which the scan reuses on the next next()
              prevKey = InternalRow.copyValue(k)
              firstLeft = false
            }
            // advance the right side past every row that is (a) on an earlier
            // key or (b) on this key at ts <= t; the last (b)-row seen is the
            // as-of match (right side is sorted by (key, ts, tiebreak))
            while (!rDone && rHead != null && {
              val c = keyOrd.compare(rHeadKey, k)
              c < 0 || (c == 0 && tsOrd.compare(rHeadTs, t) <= 0)
            }) {
              if (keyOrd.compare(rHeadKey, k) == 0) candidate = rHead.copy()
              advanceRight()
            }
            resultProj(joiner(l, if (candidate == null) nullRight else candidate))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node to the physical operator.
  * Installed either via `GraftExtensions` (injectPlannerStrategy) or
  * lazily through `spark.experimental.extraStrategies` (AsOfJoin.asof does
  * this), mirroring the dual registration of the native functions. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, rtb) =>
      require(lk.dataType == rk.dataType && RowOrdering.isOrderable(lk.dataType),
        s"graft as-of join: key types must match and be orderable " +
          s"(got ${lk.dataType} vs ${rk.dataType})")
      require(lt.dataType == rt.dataType && RowOrdering.isOrderable(lt.dataType),
        s"graft as-of join: ts types must match and be orderable " +
          s"(got ${lt.dataType} vs ${rt.dataType})")
      require(RowOrdering.isOrderable(rtb.dataType),
        "graft as-of join: tiebreak must be orderable")
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rtb) :: Nil
    case _ => Nil
  }
}

/** Public API: `AsOfJoin.asof(errors, clicks, "user_id", "c_user",
  * "ts", "c_ts", "c_id")`. Column names are resolved against their own
  * side eagerly, so the plan reaches the planner fully resolved. */
object AsOfJoin {
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightTiebreak: String): DataFrame =
    SideJoin("as-of", AsOfJoinStrategy, left, right) { (l, r, la, ra) =>
      AsOfJoinPlan(l, r, la(leftKey), ra(rightKey), la(leftTs), ra(rightTs),
        ra(rightTiebreak))
    }
}
