package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport, MapData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_header_ci(headers, name)` — the value of the first entry, in
  * map order, whose key lowercased by Spark's `lower` equals `name`;
  * null when no key matches or the map is null.
  *
  * This is `get(filter(map_entries(h), e -> lower(e.key) = name), 0).value`
  * as one native expression: `filter` is a higher-order function that
  * Spark evaluates interpreted (CodegenFallback), which kept the whole
  * adapter stage out of whole-stage codegen. The key is lowered with
  * the same `CollationSupport.Lower` call and ICU flag as `lower`, so
  * non-ASCII keys (`İ`, the Kelvin sign) lower exactly as before.
  */
case class HeaderCI(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must be (MapType(StringType, StringType), StringType); the
  // function builder in GraftExtensions is the only constructor path.
  override def dataType: DataType = StringType
  // a missing header is null whatever the inputs' nullability
  override def nullable: Boolean = true
  override def prettyName: String = "graft_header_ci"

  // `lower`'s own choice, read from the session conf the same way
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(headers: Any, name: Any): Any =
    HeaderCI.lookup(headers.asInstanceOf[MapData],
      name.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, n) =>
      s"""${ev.value} = graft.functions.HeaderCI.lookup($h, $n, $useICU);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HeaderCI =
    copy(left = newLeft, right = newRight)
}

object HeaderCI {
  /** First value whose lowered key equals `name`, else null. */
  def lookup(headers: MapData, name: UTF8String, useICU: Boolean): UTF8String = {
    val keys = headers.keyArray()
    var i = 0
    while (i < headers.numElements()) {
      val lowered = CollationSupport.Lower.exec(keys.getUTF8String(i),
        CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
      if (lowered == name) {
        val values = headers.valueArray()
        return if (values.isNullAt(i)) null else values.getUTF8String(i)
      }
      i += 1
    }
    null
  }
}
