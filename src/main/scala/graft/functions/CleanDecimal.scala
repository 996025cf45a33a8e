package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, SupportQueryContext, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.census.Normalize

/** Native-codegen census cell cleaning (R22 `EMPTYASNULL BLANKSASNULL`
  * plus the §1.2 suppressed-value sentinels): one STRING cell to
  * DECIMAL(18,0), or DECIMAL(5,1) for percent codes, in one pass.
  *
  * Replaces the composition `sentinelToNull(blanksAsNull(c).cast(..))`,
  * which Catalyst folds into a CASE inside a CASE that evaluates the
  * space trim twice and the decimal cast twice per cell — and which a
  * 31-code frame plans as 31 such trees. Value for value and error for
  * error, in both ANSI modes (pinned against that composition in
  * `graft.CleanDecimalSpec`):
  *  - NULL stays NULL; a cell that is empty once spaces (only ' ', like
  *    Spark's `trim`) are stripped is NULL;
  *  - the rest parses exactly as `Cast` parses a string to a decimal
  *    (`Decimal.fromString` / `fromStringANSI`, which trim with Java's
  *    `String.trim`): unparsable text is NULL off ANSI and
  *    `CAST_INVALID_INPUT` under ANSI;
  *  - the value rounds HALF_UP to (18, s) — s = 1 for percent codes —
  *    and a result ≤ -600000000 (a sentinel) is NULL; a percent value
  *    then narrows to (5,1). Either rounding's overflow is NULL off ANSI
  *    and `NUMERIC_VALUE_OUT_OF_RANGE` under ANSI.
  *
  * The ANSI mode is captured at construction, as `Cast` captures it. */
case class CleanDecimal(child: Expression, percent: Boolean,
    ansiEnabled: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression with ImplicitCastInputTypes with SupportQueryContext {

  private def scale: Int = if (percent) 1 else 0

  override def dataType: DataType =
    if (percent) DecimalType(5, 1) else DecimalType(18, 0)
  override def nullable: Boolean = true
  override def inputTypes = Seq(StringType)

  override def initQueryContext(): Option[org.apache.spark.QueryContext] =
    if (ansiEnabled) Some(origin.context) else None

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (CleanDecimal.blank(s)) return null
    val d =
      if (ansiEnabled) Decimal.fromStringANSI(s, DecimalType(18, scale), getContextOrNull())
      else Decimal.fromString(s)
    if (d == null) null
    else if (!d.changePrecision(18, scale)) overflow(d, 18, scale)
    // a (18, s) value fits a long once truncated toward zero, and the
    // truncation keeps it on its side of the integral sentinel
    else if (d.toLong <= Normalize.SentinelCeiling) null
    else if (percent && !d.changePrecision(5, 1)) overflow(d, 5, 1)
    else d
  }

  /** A rounding that does not fit: NULL off ANSI, the error ANSI `Cast`
    * raises under it. */
  private def overflow(d: Decimal, precision: Int, scale: Int): Any =
    if (ansiEnabled) throw Bridge.decimalOverflow(d, precision, scale, getContextOrNull())
    else null

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val errCtx = getContextOrNullCode(ctx, ansiEnabled)
    val wide = ctx.addReferenceObj("wide", DecimalType(18, scale))
    // `changePrecision` rounds HALF_UP in place and reports an overflow
    def fit(d: String, precision: Int, scale: Int) =
      if (ansiEnabled)
        s"""if (!$d.changePrecision($precision, $scale)) {
           |  throw org.apache.spark.sql.graft.Bridge.decimalOverflow($d, $precision, $scale, $errCtx);
           |}""".stripMargin
      else s"if (!$d.changePrecision($precision, $scale)) $d = null;"
    nullSafeCodeGen(ctx, ev, s => {
      val d = ctx.freshName("d")
      val parse =
        if (ansiEnabled) s"org.apache.spark.sql.types.Decimal.fromStringANSI($s, $wide, $errCtx)"
        else s"org.apache.spark.sql.types.Decimal.fromString($s)"
      s"""
         |org.apache.spark.sql.types.Decimal $d = null;
         |if (!graft.functions.CleanDecimal.blank($s)) {
         |  $d = $parse;
         |  if ($d != null) {
         |    ${fit(d, 18, scale)}
         |  }
         |  if ($d != null && $d.toLong() <= ${Normalize.SentinelCeiling}L) $d = null;
         |  if ($d != null && $percent) {
         |    ${fit(d, 5, 1)}
         |  }
         |}
         |if ($d == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $d;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CleanDecimal =
    copy(child = newChild)
}

object CleanDecimal {
  /** Empty once Spark's `trim` (spaces only) is applied. */
  def blank(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n && s.getByte(i) == ' ') i += 1
    i == n
  }

  /** Column-level entry point via the
    * [[org.apache.spark.sql.graftbridge.ColumnBridge]] accessor. */
  def apply(c: Column, percent: Boolean): Column =
    ColumnBridge.column(CleanDecimal(ColumnBridge.expression(c), percent))
}
