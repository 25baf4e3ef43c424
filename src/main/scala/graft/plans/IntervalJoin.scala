package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Native INTERVAL JOIN (equi-key + bounded time window): for each left
  * row, every right row with the same key and `r_ts ∈ [l_ts − W, l_ts]`.
  * Inner-join semantics (left rows without matches emit nothing; NULL
  * keys/timestamps never match, per SQL equality).
  *
  * This is the batch form of the watermarked stream-stream interval join
  * (StreamOps.clickViewIntervalJoin). Spark plans the declarative
  * formulation as a SortMergeJoin on the key with the time window as a
  * POST-JOIN filter — every same-key (left, right) pair materializes
  * before the filter runs, which at a skewed 100 TB key is quadratic per
  * key. This operator asks for the same shuffle+sort as that SMJ — hash
  * partition on the key, in-partition sort by (key, ts) — but then
  * sweeps BOTH sides once: a sliding buffer holds only the right rows
  * inside the current window, so per-key memory is bounded by window
  * density, exactly like the streaming engine's state store, and no
  * out-of-window pair ever materializes.
  *
  * Constraints (checked at planning): key types match across sides and
  * are orderable; ts columns are TIMESTAMP or BIGINT and match across
  * sides; `windowLen` is in the ts unit (microseconds for TIMESTAMP);
  * the two sides must not share column names (checked eagerly in
  * `IntervalJoin.interval`).
  */
case class IntervalJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    windowLen: Long) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    windowLen: Long) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val w = windowLen
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = new JoinedRow
      val resultProj = UnsafeProjection.create(allOut, allOut)
      new Iterator[InternalRow] {
        // right rows of the current key with ts <= current left ts, front-
        // evicted once they fall behind the window — the bounded "state"
        private val buf = scala.collection.mutable.ArrayDeque.empty[(Long, InternalRow)]
        private var rHead: InternalRow = _
        private var rHeadKey: Any = _
        private var rHeadTs = 0L
        private var rDone = false
        private var primed = false
        private var prevKey: Any = _
        private var firstLeft = true
        private var curLeft: InternalRow = _
        private var pending: Iterator[InternalRow] = Iterator.empty

        private def advanceRight(): Unit = {
          rHead = null
          while (rHead == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rk.eval(r)
            val t = rt.eval(r)
            if (k != null && t != null) {
              rHead = r; rHeadKey = k; rHeadTs = t.asInstanceOf[Long]
            }
          }
          if (rHead == null) rDone = true
        }

        private def advance(): Unit = {
          if (!primed) { advanceRight(); primed = true }
          while (!pending.hasNext && lIter.hasNext) {
            val l = lIter.next()
            val k = lk.eval(l)
            val tv = lt.eval(l)
            if (k != null && tv != null) {
              val t = tv.asInstanceOf[Long]
              if (firstLeft || keyOrd.compare(k, prevKey) != 0) {
                buf.clear()
                prevKey = InternalRow.copyValue(k)
                firstLeft = false
              }
              // pull right rows on earlier keys (drop) or this key with
              // ts <= t (buffer); left ts ascending makes this a sweep
              while (!rDone && rHead != null && {
                val c = keyOrd.compare(rHeadKey, k)
                c < 0 || (c == 0 && rHeadTs <= t)
              }) {
                if (keyOrd.compare(rHeadKey, k) == 0) buf.append((rHeadTs, rHead.copy()))
                advanceRight()
              }
              // evict everything behind the window; never needed again
              // because later left rows have later (or equal) timestamps
              while (buf.nonEmpty && buf.head._1 < t - w) buf.removeHead()
              if (buf.nonEmpty) {
                curLeft = l
                pending = buf.iterator.collect {
                  case (ts, r) if ts >= t - w => resultProj(joiner(curLeft, r))
                }
              }
            }
          }
        }

        override def hasNext: Boolean = { advance(); pending.hasNext }
        override def next(): InternalRow = { advance(); pending.next() }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, rk, lt, rt, w) =>
      require(lk.dataType == rk.dataType && RowOrdering.isOrderable(lk.dataType),
        s"graft interval join: key types must match and be orderable " +
          s"(got ${lk.dataType} vs ${rk.dataType})")
      require(lt.dataType == rt.dataType &&
        (lt.dataType == TimestampType || lt.dataType == LongType),
        s"graft interval join: ts must be TIMESTAMP or BIGINT on both sides " +
          s"(got ${lt.dataType} vs ${rt.dataType})")
      require(w >= 0, "graft interval join: window must be non-negative")
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, w) :: Nil
    case _ => Nil
  }
}

/** Public API: `IntervalJoin.interval(clicks, views, "user_id", "v_user",
  * "click_ts", "view_ts", windowMicros)` — every (click, view) pair on the
  * same key with view_ts in [click_ts − window, click_ts]. */
object IntervalJoin {
  def interval(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      windowLen: Long): DataFrame =
    SideJoin("interval", IntervalJoinStrategy, left, right) { (l, r, la, ra) =>
      IntervalJoinPlan(l, r, la(leftKey), ra(rightKey), la(leftTs), ra(rightTs),
        windowLen)
    }
}
