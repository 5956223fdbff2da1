package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** As-of join as a first-class operator. Backward (the default): for
  * each left row, attach the LATEST right row with equal keys and
  * right.time ≤ left.time (or nulls when none) — the canonical
  * event-enrichment join ("state of X as of this event"). Forward:
  * the EARLIEST right row with right.time ≥ left.time ("next event
  * at-or-after" — follow-up attribution, next-maintenance lookup).
  *
  * Why a custom operator (SURVEY preference (c)): the composable form
  * — inequality join then max-per-key re-aggregation (EventsQueries
  * e9) — expands every left row by ALL earlier right matches and then
  * shrinks them back, an O(matches) blow-up plus an extra shuffle.
  * This physical operator declares hash distribution on the keys and
  * (key, time) ordering per child, so EnsureRequirements plans one
  * exchange+sort per side and the join itself is a single linear
  * merge pass per partition — the same cost shape as a sort-merge
  * join, at any scale.
  *
  * Time columns must be long-backed (LongType or TimestampType).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val lTimeBound = BindReferences.bindReference(leftTime, lOut)
      val rTimeBound = BindReferences.bindReference(rightTime, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val result = UnsafeProjection.create(output, lOut ++ rOut)
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow()

      if (forward) new Iterator[InternalRow] {
        // forward is a pure PEEK merge: with both sides (key, time)
        // ascending, the answer for each left row is the current
        // lookahead right row once everything strictly before
        // (lKey, lT) is skipped — never consumed, so equal/later left
        // rows can reuse it. No candidate buffering at all.
        private var rRow: InternalRow = _
        private var rKey: InternalRow = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) { rRow = rIter.next(); rKey = rKeyProj(rRow) }
          else { rRow = null; rKey = null }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lT = lTimeBound.eval(l).asInstanceOf[Long]
          var cont = rRow != null
          var cmp = 0
          while (cont) {
            cmp = keyOrd.compare(rKey, lKey)
            if (cmp < 0 ||
              (cmp == 0 && rTimeBound.eval(rRow).asInstanceOf[Long] < lT)) {
              advanceRight(); cont = rRow != null
            } else cont = false
          }
          val hit = rRow != null && cmp == 0 // exit ⇒ rTime ≥ lT here
          result(joined(l, if (hit) rRow else nullRight))
        }
      }
      else new Iterator[InternalRow] {
        private var candidate: InternalRow = _          // latest right ≤ lTime
        private var candidateKey: InternalRow = _       // its key (copied)
        private var rRow: InternalRow = _               // lookahead right row
        private var rKey: InternalRow = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) { rRow = rIter.next(); rKey = rKeyProj(rRow) }
          else { rRow = null; rKey = null }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lT = lTimeBound.eval(l).asInstanceOf[Long]
          // drop a buffered candidate from a previous key group
          if (candidate != null && keyOrd.compare(candidateKey, lKey) != 0) {
            candidate = null; candidateKey = null
          }
          // consume right rows up to (lKey, lT]
          var cont = rRow != null
          while (cont) {
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) { candidate = null; candidateKey = null; advanceRight() }
            else if (c == 0 && rTimeBound.eval(rRow).asInstanceOf[Long] <= lT) {
              candidate = rRow.copy(); candidateKey = rKey.copy(); advanceRight()
            } else cont = false
            if (rRow == null) cont = false
          }
          result(joined(l, if (candidate != null) candidate else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOfJoin.backward(left, right, keys, lTime, rTime)`.
  * Column names must be disjoint between sides (alias first — this
  * also guarantees distinct expression ids for self-joins). The
  * session must be built with [[GraftExtensions]] (as
  * `GraftSession.builder` does): its `AsOfJoinStrategy` is what plans
  * the [[AsOfJoinPlan]] node. */
object AsOfJoin {
  def backward(
      left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTime: String, rightTime: String): DataFrame =
    join(left, right, keys, leftTime, rightTime, forward = false)

  /** Earliest right row with equal keys and right.time ≥ left.time
    * (nulls when none) — "the next event at-or-after". */
  def forward(
      left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTime: String, rightTime: String): DataFrame =
    join(left, right, keys, leftTime, rightTime, forward = true)

  private def join(
      left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTime: String, rightTime: String, forward: Boolean): DataFrame = {
    val spark = left.sparkSession
    val lp = org.apache.spark.sql.graft.Bridge.logicalPlan(left)
    val rp = org.apache.spark.sql.graft.Bridge.logicalPlan(right)
    def res(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    val shared = lp.outputSet.intersect(rp.outputSet)
    require(shared.isEmpty,
      s"as-of join sides share attributes $shared — alias the right side first")
    require(lp.output.map(_.name).intersect(rp.output.map(_.name)).isEmpty,
      "as-of join sides share column names — alias the right side first")
    val tt = Seq(LongType, TimestampType)
    val lt = res(lp, leftTime); val rt = res(rp, rightTime)
    require(tt.contains(lt.dataType) && tt.contains(rt.dataType),
      "as-of time columns must be LongType or TimestampType")
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      AsOfJoinPlan(lp, rp,
        keys.map(k => res(lp, k._1)), keys.map(k => res(rp, k._2)), lt, rt,
        forward))
  }
}
