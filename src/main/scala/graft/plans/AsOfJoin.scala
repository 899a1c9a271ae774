package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{LongType, TimestampType}

/** As-of join as a first-class operator — the SURVEY §4 tier-(c) extension
  * (custom LogicalPlan + Strategy + SparkPlan) for a semantics Spark SQL
  * lacks natively: for every left row, the latest right row with the same
  * key and right.time <= left.time (inclusive, matching DuckDB ASOF).
  *
  * Physical algorithm: both sides hash-clustered on the key and sorted by
  * (key, time) — the engine's Exchange/Sort machinery satisfies these
  * requirements, so AQE/whole-stage codegen still drive the children —
  * then a single forward merge per partition: two pointers, O(|L|+|R|),
  * zero state beyond one remembered right row. Contrast with the
  * window-union spelling (graft.ops.Relational.q14): same shuffle count,
  * but no window buffering and no union of both sides into one sort —
  * this is the shape a native engine gives the operator.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.length
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow

      // one remembered right row: the latest (by sort order) whose
      // (key, time) is <= the current left cursor
      var matchedKey = 0L
      var hasMatch = false
      var matchedRow: InternalRow = null

      var nextRight: InternalRow = null
      var nextRightKey = 0L
      var nextRightTime = 0L
      var rightExhausted = false

      def advanceRightCursor(): Unit = {
        nextRight = null
        while (nextRight == null && rIter.hasNext) {
          val r = rIter.next()
          val k = rKeyB.eval(r)
          val t = rTimeB.eval(r)
          if (k != null && t != null) {
            nextRight = r
            nextRightKey = k.asInstanceOf[Long]
            nextRightTime = t.asInstanceOf[Long]
          }
        }
        if (nextRight == null) rightExhausted = true
      }
      advanceRightCursor()

      lIter.map { l =>
        val lkAny = lKeyB.eval(l)
        val ltAny = lTimeB.eval(l)
        if (lkAny == null || ltAny == null) {
          toUnsafe(joined(l, nullRight))
        } else {
          val lk = lkAny.asInstanceOf[Long]
          val lt = ltAny.asInstanceOf[Long]
          // pull right forward while it is still at-or-before (lk, lt)
          while (!rightExhausted &&
            (nextRightKey < lk || (nextRightKey == lk && nextRightTime <= lt))) {
            if (nextRightKey == lk) {
              matchedKey = lk
              hasMatch = true
              matchedRow = nextRight.copy()
            }
            advanceRightCursor()
          }
          if (hasMatch && matchedKey == lk) toUnsafe(joined(l, matchedRow))
          else toUnsafe(joined(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOf.join(left, right, key, time)` — key columns must be
  * integral, time columns timestamp or long (compared on their internal
  * long encoding). The planner strategy comes with every session
  * `graft.Sessions.local` builds (`graft.functions.GraftExtensions`).
  */
object AsOf {
  def join(
      leftDf: DataFrame,
      rightDf: DataFrame,
      leftKeyCol: String, leftTimeCol: String,
      rightKeyCol: String, rightTimeCol: String): DataFrame = {
    val spark = leftDf.sparkSession
    def keyed(df: DataFrame, keyCol: String, timeCol: String): DataFrame = {
      val kt = df.schema(keyCol).dataType
      val tt = df.schema(timeCol).dataType
      require(kt == LongType, s"as-of key must be LongType, got $kt")
      require(tt == TimestampType || tt == LongType,
        s"as-of time must be timestamp/long, got $tt")
      df
    }
    val l = keyed(leftDf, leftKeyCol, leftTimeCol)
    val r = keyed(rightDf, rightKeyCol, rightTimeCol)
    val lPlan = shims.logicalPlan(l)
    val rPlan = shims.logicalPlan(r)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name)
        .getOrElse(sys.error(s"column $name not found"))
    shims.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      attr(lPlan, leftKeyCol), attr(rPlan, rightKeyCol),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol)))
  }
}
