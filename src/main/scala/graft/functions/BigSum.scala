package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  Add, And, AttributeReference, Cast, Coalesce, EvalMode, Expression,
  GreaterThanOrEqual, If, IsNotNull, IsNull, LessThanOrEqual, Literal,
  NumericEvalContext, Or
}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType}

/** Exact SUM of a LONG expression into DECIMAL(38,0), with the per-row work
  * kept on the primitive-long fast path.
  *
  * `sum(CAST(x AS DECIMAL(38,0)))` makes every row pay a 128-bit decimal
  * add (and, for moment sums, a decimal multiply feeding it) — the
  * aggregation stage of a moment-statistics query is pure decimal ALU. A
  * plain `sum(longCol)` is the fast codegen path but overflows past 2^63,
  * which a 100 TB table with ~10^14-sized per-row products reaches.
  *
  * This aggregate keeps both properties: the buffer is (acc DECIMAL(38,0),
  * lo LONG); each row does one long add plus two range compares, and only
  * when the sum leaves (-2^62, 2^62) does the buffer spill into acc with a
  * decimal add — once every ~2^62/|x| rows, amortized to nothing. The long
  * add wraps instead of failing: with |lo| < 2^62, a wrapped sum always
  * lands outside that range, so the spill re-adds `lo` and `x` exactly in
  * decimal. Merge and final evaluation are decimal (per-partition counts,
  * not per-row).
  *
  * SQL SUM semantics: NULL inputs are skipped, and empty or all-NULL input
  * yields NULL (`lo` stays NULL until the first non-NULL addend).
  * Identical to `sum(CAST(x AS DECIMAL(38,0)))` for every input (spec:
  * [[BigSumSpec]]), overflow-safe for any row count whose true sum fits
  * DECIMAL(38,0).
  */
case class BigSum(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private val dec = DecimalType(38, 0)
  // |lo| stays below this between rows
  private val spillAt = 1L << 62

  override def dataType: DataType = dec
  override def nullable: Boolean = true
  override def prettyName: String = "big_sum"

  private lazy val acc = AttributeReference("acc", dec, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(acc, lo)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(Decimal(0), dec), Literal.create(null, LongType))

  override lazy val updateExpressions: Seq[Expression] = {
    val base = Coalesce(Seq(lo, Literal(0L)))
    // NULL exactly when the row is NULL, which makes `spill` NULL (false)
    val newLo = Add(base, child, NumericEvalContext(EvalMode.LEGACY))
    // `spill` heads both expressions, so subexpression elimination
    // computes it (and newLo) once per row
    val spill = Or(
      GreaterThanOrEqual(newLo, Literal(spillAt)),
      LessThanOrEqual(newLo, Literal(-spillAt)))
    Seq(
      If(spill, Add(Add(acc, Cast(base, dec)), Cast(child, dec)), acc),
      If(spill, Literal(0L), Coalesce(Seq(newLo, lo))))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    // fold the right side's whole value into acc; keeping only the left
    // lo keeps |lo| below 2^62 through any merge chain
    Add(Add(acc.left, acc.right), Cast(Coalesce(Seq(lo.right, Literal(0L))), dec)),
    If(And(IsNull(lo.left), IsNotNull(lo.right)), Literal(0L), lo.left))

  override lazy val evaluateExpression: Expression =
    If(IsNull(lo), Literal.create(null, dec), Add(acc, Cast(lo, dec)))

  override protected def withNewChildInternal(newChild: Expression): BigSum =
    copy(child = newChild)
}

object BigSum {

  /** `big_sum(col)` as a Column (col must already be LONG). */
  def of(c: Column): Column =
    Bridge.column(BigSum(Bridge.expression(c)).toAggregateExpression())
}
