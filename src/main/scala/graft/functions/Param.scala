package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol}
import org.apache.spark.sql.types.DataType

/** A per-request value that generated code reads from the class's
  * `references` array instead of inlining — Spark's own treatment of
  * string and binary literals, extended to primitives. A primitive
  * `Literal` is pasted into the generated source as a Java constant,
  * so every new value is a new source text and a new Janino compile;
  * serving paths that run one plan shape per request id (point
  * lookups) bind the id through this instead, and every request after
  * the first reuses the cached class. Not foldable, so the optimizer
  * never turns it back into a literal; the price is that a `Param`
  * comparison is not pushed into the Parquet reader.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "Param binds a non-null value")
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"$ref.${CodeGenerator.javaType(dataType)}Value()"
      else ref
    ExprCode.forNonNullValue(JavaCode.expression(v, dataType))
  }
}

object Param {
  /** A Scala value as a `Param` column (types as `functions.lit`). */
  def column(v: Any): Column = {
    val l = Literal(v)
    toCol(Param(l.value, l.dataType))
  }
}
