package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types._

/** Native as-of join: LogicalPlan + Strategy + physical merge scan,
  * graft's one as-of join (built by graft.operators.AsofJoin.asofNative).
  *
  * The operator co-partitions both sides on the `by` keys, sorts each
  * side once by (by, key) — both requirements expressed to
  * EnsureRequirements, so Catalyst plans the exchanges/sorts and can
  * elide them when the input is already partitioned (e.g. read from a
  * date/symbol TradeStore) — and resolves matches with a streaming
  * two-pointer merge per partition: O(1) state, no row duplication,
  * no window buffering.
  *
  * Semantics: inclusive backward/forward; at equal keys backward
  * takes the last right row, forward the first; nearest picks the
  * smaller |left-right| distance, ties and equal keys to the backward
  * candidate. Null keys on either side match nothing. `tolerance` is
  * a max |left-right| distance in the key's native units (micros for
  * timestamps, days for dates).
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftBy: Seq[Expression],
    rightBy: Seq[Expression],
    leftOn: Expression,
    rightOn: Expression,
    rightValues: Seq[Attribute],
    forward: Boolean,
    nearest: Boolean = false,
    tolerance: Option[Double] = None,
) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))
  override lazy val resolved: Boolean = childrenResolved
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): AsofJoinPlan =
    copy(left = l, right = r)
}

object AsofJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lBy, rBy, lOn, rOn, rVals, fwd, near, tol) =>
      AsofJoinExec(planLater(l), planLater(r), lBy, rBy, lOn, rOn, rVals, fwd, near, tol) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftBy: Seq[Expression],
    rightBy: Seq[Expression],
    leftOn: Expression,
    rightOn: Expression,
    rightValues: Seq[Attribute],
    forward: Boolean,
    nearest: Boolean = false,
    tolerance: Option[Double] = None,
) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftBy.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftBy) :: ClusteredDistribution(rightBy) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftBy :+ leftOn).map(SortOrder(_, Ascending)),
    (rightBy :+ rightOn).map(SortOrder(_, Ascending)),
  )

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  /** Numeric view of the as-of key for distance/tolerance arithmetic
    * (timestamps are micros, dates are days; all < 2^53 so exact in
    * a double). Only needed when nearest or tolerance is requested.
    */
  private def keyReader(dt: DataType): (InternalRow, Int) => Double = dt match {
    case LongType | TimestampType | TimestampNTZType => (r, i) => r.getLong(i).toDouble
    case IntegerType | DateType                      => (r, i) => r.getInt(i).toDouble
    case ShortType                                   => (r, i) => r.getShort(i).toDouble
    case DoubleType                                  => (r, i) => r.getDouble(i)
    case FloatType                                   => (r, i) => r.getFloat(i).toDouble
    case other =>
      throw new IllegalArgumentException(
        s"as-of nearest/tolerance needs a numeric, timestamp or date key, got $other"
      )
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOutput = left.output
    val rightOutput = right.output
    val lBy = leftBy
    val rBy = rightBy
    val lOn = leftOn
    val rOn = rightOn
    val rVals = rightValues
    val fwd = forward
    val near = nearest
    val tol = tolerance
    val keyTypes = (lBy :+ lOn).map(_.dataType)
    val keyIdx = keyTypes.length - 1
    val needDist = near || tol.isDefined
    val readKey: (InternalRow, Int) => Double =
      if (needDist) keyReader(lOn.dataType) else null
    val numRightVals = rVals.length
    val outputAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIt, rIt0) =>
      // one key projection per side, (by..., on): the group is its
      // leading fields
      val lKeyProj = UnsafeProjection.create(lBy :+ lOn, leftOutput)
      val rKeyProj = UnsafeProjection.create(rBy :+ rOn, rightOutput)
      val rValProj = UnsafeProjection.create(rVals, rightOutput)
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val ordering =
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(keyTypes)
      val nullRight = new GenericInternalRow(numRightVals)
      val joined = new JoinedRow

      val rIt = rIt0.buffered
      // backward state: key and values of the latest right row seen
      // with (group,key) <= current left
      var lastKey: UnsafeRow = null
      var lastVal: UnsafeRow = null
      var lastKeyD = 0.0

      def inTol(dist: Double): Boolean = tol.forall(dist <= _)

      lIt.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lNull = lKey.isNullAt(keyIdx)
        if (fwd && !near) {
          while (rIt.hasNext && ordering.compare(rKeyProj(rIt.head), lKey) < 0)
            rIt.next()
          val matched = rIt.hasNext && !lNull && {
            val hk = rKeyProj(rIt.head)
            AsofJoinExec.sameGroup(hk, lKey, keyTypes) &&
            (!needDist || inTol(readKey(hk, keyIdx) - readKey(lKey, keyIdx)))
          }
          resultProj(joined(lRow, if (matched) rValProj(rIt.head) else nullRight))
        } else {
          // backward and nearest both consume rows <= left key
          while (rIt.hasNext && ordering.compare(rKeyProj(rIt.head), lKey) <= 0) {
            val r = rIt.next()
            // rows with null right keys are consumed but never match
            val rk = rKeyProj(r)
            if (!rk.isNullAt(keyIdx)) {
              lastKey = rk.copy()
              lastVal = rValProj(r).copy()
              if (needDist) lastKeyD = readKey(rk, keyIdx)
            }
          }
          // null left key sorts first -> never advances, never matches
          val lKeyD = if (needDist && !lNull) readKey(lKey, keyIdx) else 0.0
          val bwdOk = lastKey != null && AsofJoinExec.sameGroup(lastKey, lKey, keyTypes) && !lNull &&
            (!needDist || inTol(lKeyD - lastKeyD))
          if (!near) {
            resultProj(joined(lRow, if (bwdOk) lastVal else nullRight))
          } else {
            // forward candidate: the first unconsumed right row (> left key)
            val fwdOk = rIt.hasNext && !lNull && {
              val hk = rKeyProj(rIt.head)
              AsofJoinExec.sameGroup(hk, lKey, keyTypes) && !hk.isNullAt(keyIdx) &&
              inTol(readKey(hk, keyIdx) - lKeyD)
            }
            val pick =
              if (bwdOk && fwdOk) {
                // tie -> backward
                if (lKeyD - lastKeyD <= readKey(rKeyProj(rIt.head), keyIdx) - lKeyD) lastVal
                else rValProj(rIt.head)
              } else if (bwdOk) lastVal
              else if (fwdOk) rValProj(rIt.head)
              else nullRight
            resultProj(joined(lRow, pick))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): AsofJoinExec =
    copy(left = l, right = r)
}

object AsofJoinExec {

  /** Do two key rows, (by..., on) of `types`, agree on every by field?
    * Nulls equal nulls and values compare by bytes, as equality of the
    * group-only rows did. */
  private[plans] def sameGroup(a: UnsafeRow, b: UnsafeRow, types: Seq[DataType]): Boolean =
    types.indices.init.forall { i =>
      a.isNullAt(i) == b.isNullAt(i) && (a.isNullAt(i) || (types(i) match {
        case BinaryType => java.util.Arrays.equals(a.getBinary(i), b.getBinary(i))
        case t => a.get(i, t).equals(b.get(i, t))
      }))
    }
}
