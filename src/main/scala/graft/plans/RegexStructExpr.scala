package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All capture groups of one regex match in a single pass.
  *
  * `regexp_extract(col, re, i)` recompiles nothing but RE-MATCHES the
  * whole pattern per extracted group — a grok with 40 named captures costs
  * 40 matcher runs per row. This expression runs the matcher ONCE and
  * returns `array<string>` of groups 0..groupCount (group 0 = whole
  * match), null when the pattern doesn't match. Grok field extraction
  * becomes one `element_at` per field over a shared match array (Catalyst
  * subexpression elimination keeps the match single-run inside a project).
  *
  * Custom-operator tier (b): a codegen'd Catalyst Expression, not a UDF.
  */
case class RegexpMatchGroups(child: Expression, regex: String)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"regexp_match_groups expects string, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "regexp_match_groups"

  @transient private lazy val pattern = java.util.regex.Pattern.compile(regex)

  override def nullSafeEval(input: Any): Any = {
    val m = pattern.matcher(input.asInstanceOf[UTF8String].toString)
    if (!m.find()) null
    else {
      val n = m.groupCount()
      val arr = new Array[Any](n + 1)
      var i = 0
      while (i <= n) {
        val g = m.group(i)
        arr(i) = if (g == null) null else UTF8String.fromString(g)
        i += 1
      }
      new GenericArrayData(arr)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("pattern", pattern, classOf[java.util.regex.Pattern].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("m")
      val arr = ctx.freshName("arr")
      val i = ctx.freshName("i")
      val g = ctx.freshName("g")
      val n = ctx.freshName("n")
      s"""
         |java.util.regex.Matcher $m = $patRef.matcher($c.toString());
         |if (!$m.find()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $m.groupCount();
         |  Object[] $arr = new Object[$n + 1];
         |  for (int $i = 0; $i <= $n; $i++) {
         |    String $g = $m.group($i);
         |    $arr[$i] = $g == null ? null : org.apache.spark.unsafe.types.UTF8String.fromString($g);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexpMatchGroups {
  def apply(c: Column, regex: String): Column =
    GraftBridge.column(RegexpMatchGroups(GraftBridge.expression(c), regex))
}
