package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.graft.{shims => ExpressionUtils}
import org.apache.spark.sql.types._

/** Deterministic per-group argmax over an (ord, payload) pair as a
  * DECLARATIVE aggregate: keep the row with the greatest `ord` (BIGINT
  * or DOUBLE), ties broken by the greatest BIGINT `payload` (callers
  * wanting smallest-id ties pass the negated id, matching SQL's `ORDER
  * BY ord DESC, id ASC` row_number spelling). The DOUBLE form is the
  * argmax of every similarity-scored assignment (k-means Lloyd step,
  * IVF/PQ code assignment, exact-NN selection, spectral peak picking).
  *
  * Why this exists: the obvious Column spelling — `max(struct(ord,
  * payload))` — has a STRUCT aggregation buffer, which HashAggregateExec
  * cannot hold in its mutable row, so Spark silently plans a
  * SortAggregate: the ENTIRE input sorts by the group key, partial AND
  * final (x_bitext_mine paid two full sorts of its 2M-row margin grid —
  * ~60% of the query's wall). `max_by(payload, ord)` keeps primitive
  * buffers but its tie-break is nondeterministic (first-seen under
  * shuffle order), which the cross-engine hash check cannot accept.
  * This aggregate's buffer is primitive mutable slots (ord's type, a
  * long, a boolean), so it plans into whole-stage-codegen'd
  * HashAggregate with map-side partials, and its tie rule is explicit.
  *
  * Null `ord`/`payload` rows are ignored; an all-null group evaluates
  * to a null struct. Emptiness is tracked by an explicit boolean buffer
  * slot — NOT by overloading a (MinValue / −∞, Long.MinValue) sentinel,
  * which would silently drop rows whose ord really is that value (the
  * full value domain is valid input, −∞ and NaN included). A DOUBLE ord
  * follows Spark SQL comparison semantics (NaN = NaN, NaN greater than
  * every other value), matching the struct-ordering spelling it
  * replaces.
  *
  * Scale posture: per-group state is 17 bytes regardless of group size;
  * the shuffle after partial aggregation carries one row per group per
  * partition — the same reason q05's sums scale, applied to argmax.
  */
case class ArgMaxPair(ord: Expression, payload: Expression)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(ord, payload)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("m", ord.dataType, nullable = false),
    StructField("nt", LongType, nullable = false)))
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if ((ord.dataType == LongType || ord.dataType == DoubleType) &&
        payload.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"argmax_pair needs (BIGINT | DOUBLE, BIGINT); got " +
          s"(${ord.dataType.sql}, ${payload.dataType.sql})")
  }

  private lazy val bm = AttributeReference("bm", ord.dataType, nullable = false)()
  private lazy val bt = AttributeReference("bt", LongType, nullable = false)()
  private lazy val bs = AttributeReference("bs", BooleanType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bm, bt, bs)

  override lazy val initialValues: Seq[Expression] = Seq(
    if (ord.dataType == DoubleType) Literal(Double.NegativeInfinity)
    else Literal(Long.MinValue),
    Literal(Long.MinValue), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(ord), IsNotNull(payload))
    val better = And(valid,
      Or(Not(bs),
        Or(GreaterThan(ord, bm),
          And(EqualTo(ord, bm), GreaterThan(payload, bt)))))
    Seq(If(better, ord, bm), If(better, payload, bt), Or(bs, valid))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val better = And(bs.right,
      Or(Not(bs.left),
        Or(GreaterThan(bm.right, bm.left),
          And(EqualTo(bm.right, bm.left), GreaterThan(bt.right, bt.left)))))
    Seq(If(better, bm.right, bm.left), If(better, bt.right, bt.left),
      Or(bs.left, bs.right))
  }

  override lazy val evaluateExpression: Expression =
    If(Not(bs),
      Literal(null, dataType),
      CreateNamedStruct(Seq(Literal("m"), bm, Literal("nt"), bt)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ord = newChildren(0), payload = newChildren(1))
}

object ArgMax {
  /** Column form: struct(m = max ord, nt = payload at that max, greatest
    * payload on ord ties).
    */
  def argmaxLongPair(ord: Column, payload: Column): Column =
    ExpressionUtils.column(ArgMaxPair(
      ExpressionUtils.expression(ord),
      ExpressionUtils.expression(payload)).toAggregateExpression())

  /** The DOUBLE-ord form: struct(m = max ord, nt = payload at that
    * max). Ord is cast to double and payload to long.
    */
  def argmaxDoubleLong(ord: Column, payload: Column): Column =
    ExpressionUtils.column(ArgMaxPair(
      ExpressionUtils.expression(ord.cast("double")),
      ExpressionUtils.expression(payload.cast("long"))).toAggregateExpression())
}
