package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types._

/** A non-null constant whose generated code does not depend on its value.
  *
  * Spark's own `Literal` writes an integral, date or timestamp value into
  * the Java source (`id = 42L`), so two queries that differ only in that
  * value compile two classes, and each lands in the JVM-wide compile
  * cache as a class used once. This expression hands its value to the
  * generated class through `ctx.addReferenceObj` instead and loads it
  * into a field when the class is initialised — once per partition in
  * whole-stage code — so the source is the same for every value and the
  * compile cache hits.
  *
  * The value stays part of the expression: equality, hashing and the
  * canonical form all carry it, so plans that differ only in a parameter
  * never share a reused exchange, subquery or cached stage. `eval`
  * returns the value for interpreted paths. It is not foldable: nothing
  * downstream may inline its value back into the source.
  *
  * [[graft.plans.ParameterizeLiterals]] is the only producer.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.parameterizable(dataType),
    s"ParamLiteral takes a non-null integral, date or timestamp value, got $value: $dataType")

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }

  /** The literal this parameter stands for. */
  def toLiteral: Literal = Literal(value, dataType)

  override def sql: String = toLiteral.sql

  override def toString: String = s"param(${toLiteral})"
}

object ParamLiteral {

  /** The types whose `Literal` code generation inlines the value. Strings,
    * decimals, binaries, arrays and maps already go through a reference,
    * and floating-point keys do not occur. Booleans are shape, not data.
    */
  def parameterizable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
