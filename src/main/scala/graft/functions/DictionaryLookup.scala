package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A per-row probe of a driver-built dictionary, as a native codegen
  * expression: the value `child` maps to in `dictionary`, or null (a null
  * key, or a key with no entry). The dictionary travels as a broadcast
  * variable, so the plan carries only its handle — one fetch per executor,
  * no join, no exchange — and prints as `name[size](child)`.
  *
  * It stands in for a broadcast hash join against a control table that
  * the driver already holds, keyed by participant id (the reference's
  * per-record dicts, dcc_transforms.py:44-49, :177-306).
  */
private[graft] case class DictionaryLookup(child: Expression, name: String, size: Int,
    dictionary: Broadcast[java.util.HashMap[UTF8String, AnyRef]], dataType: DataType)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name lookup requires a STRING key, got ${child.dataType.catalogString}")
  override def nullable: Boolean = true
  override def toString: String = s"$name[$size]($child)"
  override def sql: String = s"$name[$size](${child.sql})"

  @transient private lazy val table = dictionary.value

  override protected def nullSafeEval(input: Any): Any = table.get(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val handle = ctx.addReferenceObj("dictionary", dictionary, classOf[Broadcast[_]].getName)
    val map = classOf[java.util.HashMap[_, _]].getName
    // fetched once per generated class instance, i.e. once per task
    val table = ctx.addMutableState(map, "dictionary",
      v => s"$v = ($map) $handle.value();", forceInline = true)
    val hit = ctx.freshName("hit")
    val javaType = CodeGenerator.javaType(dataType)
    val value =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $hit).${javaType}Value()"
      else s"($javaType) $hit"
    nullSafeCodeGen(ctx, ev, key =>
      s"""Object $hit = $table.get($key);
         |if ($hit == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $value;
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DictionaryLookup =
    copy(child = newChild)
}

private[graft] object DictionaryLookup {

  /** `key` probed in `entries` (external values of `dataType`, e.g. a
    * `Long`, a `String`, a `Seq[Row]`), broadcast once. The first entry per
    * key wins, and a null key is left out, so a null id never matches. */
  def apply(spark: SparkSession, key: Column, name: String,
      entries: Iterator[(String, Any)], dataType: DataType): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dataType)
    val table = new java.util.HashMap[UTF8String, AnyRef]()
    entries.foreach { case (k, v) =>
      if (k != null) {
        val id = UTF8String.fromString(k)
        if (!table.containsKey(id)) table.put(id, toCatalyst(v).asInstanceOf[AnyRef])
      }
    }
    Bridge.column(DictionaryLookup(Bridge.expression(key), name, table.size,
      spark.sparkContext.broadcast(table), dataType))
  }
}
