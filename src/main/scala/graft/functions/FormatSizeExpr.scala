package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for `format_size` (F3) — the custom-
  * `Expression`-with-`doGenCode` tier of the extension ladder (SURVEY.md
  * §7.3): unlike the UDF form, this stays inside whole-stage codegen
  * (no boxing row-by-row through ScalaUDF) and is callable from SQL once
  * registered.
  *
  * Semantics match [[SizeFormat.formatSize]] exactly, including the
  * reference's falsy rule: NULL input yields "0 B", not NULL — hence
  * `nullable = false` and a hand-written doGenCode (the nullSafe helper
  * would skip evaluation on null).
  */
case class FormatSizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == LongType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"format_size expects BIGINT, got ${child.dataType.sql}")
    }
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val boxed =
      if (v == null) null else java.lang.Long.valueOf(v.asInstanceOf[Long])
    UTF8String.fromString(SizeFormat.formatSize(boxed))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val result = ctx.freshName("formatSize")
    ev.copy(
      code = code"""
        ${c.code}
        UTF8String $result = org.apache.spark.unsafe.types.UTF8String
          .fromString(graft.functions.SizeFormat.formatSize(
            ${c.isNull} ? null : java.lang.Long.valueOf(${c.value})));
      """.stripMargin + code"UTF8String ${ev.value} = $result;",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): FormatSizeExpr = copy(child = newChild)
}

/** Registration: either
  * `spark.sql.extensions=graft.functions.GraftExtensions` at session
  * build, or [[GraftFunctions.register]] on a live session.
  */
object GraftFunctions {
  val info = new ExpressionInfo(classOf[FormatSizeExpr].getCanonicalName,
    "format_size")

  private[functions] val builder: Seq[Expression] => Expression = {
    children =>
      require(children.length == 1,
        s"format_size expects exactly 1 argument, got ${children.length}")
      FormatSizeExpr(children.head)
  }

  private def binary(name: String,
      mk: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(mk.getClass.getCanonicalName, name),
      { children =>
        require(children.length == 2,
          s"$name expects exactly 2 arguments, got ${children.length}")
        mk(children.head, children(1))
      })

  private[functions] val all: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("format_size"), info, builder),
      binary("vec_dot", VecDot.apply),
      binary("vec_dist2", VecDist2.apply),
      binary("zorder2", ZOrder2.apply),
      binary("topk_list", (v, k) => TopKListAgg(v, k)
        .toAggregateExpression()),
      binary("kmv_sketch", (v, k) => KmvSketchAgg(v, k)
        .toAggregateExpression()),
      (FunctionIdentifier("winnow_select"),
        new ExpressionInfo(classOf[WinnowSelect].getCanonicalName,
          "winnow_select"),
        { children =>
          require(children.length == 3,
            s"winnow_select expects (text, k, w), got ${children.length}")
          def litInt(e: Expression, what: String): Int = {
            require(e.foldable, s"winnow_select $what must be a literal")
            e.eval().asInstanceOf[Number].intValue()
          }
          WinnowSelect(children.head, litInt(children(1), "k"),
            litInt(children(2), "w"))
        }))

  def register(spark: SparkSession): Unit =
    all.foreach { case (id, inf, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, b)
    }
}

class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    // runs before the session's shared state is built, so the session
    // conf merges these from the context's
    org.apache.spark.sql.graft.PlanBridge.activeContextConf
      .foreach(GraftExtensions.codegenDefaults)
    GraftFunctions.all.foreach(ext.injectFunction)
    // Whole-operator tier: the native per-group top-k planner strategy
    // plus the optimizer rule that rewrites the declarative
    // row_number-filter idiom onto it (graft.plans.GroupTopK*).
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.GroupTopKRewrite)
  }
}

object GraftExtensions {

  /** Entries of Spark's JVM-wide cache of compiled generated classes,
    * against Spark's 100. One pass over every `SparkEntry.queries`
    * query at sf0.001 compiles 2,725 distinct classes with a large
    * cache (the 19 headline queries 259, at sf0.01), so at 100 a session
    * that cycles through its queries evicts each class before it is
    * asked for again and recompiles it. A second pass compiles 125
    * more, for sources that inline per-run literals; the LRU cache
    * evicts those first, as nothing asks for them again. The cache is
    * built once per JVM, at the first code generation, from the conf
    * then in effect.
    */
  val CodegenCacheEntries = 4000

  /** graft's codegen defaults on `conf`, each kept where the user set
    * the key already: the cache sized above, and no stage id in
    * generated class names — the same pipeline at another stage
    * position, or planned from another thread, then generates the same
    * source and hits the cache (the `*(n)` ids of explain output stay).
    */
  def codegenDefaults(conf: org.apache.spark.SparkConf): Unit = {
    conf.setIfMissing("spark.sql.codegen.cache.maxEntries",
      CodegenCacheEntries.toString)
    conf.setIfMissing("spark.sql.codegen.useIdInClassName", "false")
  }
}
