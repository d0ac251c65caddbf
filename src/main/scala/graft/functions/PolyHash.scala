package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's polynomial string hash:
  * fold (acc·31 + byte) mod 1e9+7 over the UTF-8 bytes of the input.
  *
  * Equivalent to the portable SQL char-fold
  * `aggregate(filter(split(s,''), ch -> ch <> ''), 0L, (a, ch) ->
  * (a*31 + ascii(ch)) % P)` for ASCII inputs (each byte IS the code
  * point), but compiled by whole-stage codegen into a tight byte loop —
  * Spark's higher-order array functions evaluate their lambdas
  * interpreted, which made this fold the hot path of the dedup family.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"poly_hash needs STRING, got ${child.dataType}")
  }

  override def nullSafeEval(input: Any): Any =
    PolyHash.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |byte[] ${ev.value}_b = $c.getBytes();
         |long ${ev.value}_acc = 0L;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_b.length; ${ev.value}_i++) {
         |  ${ev.value}_acc = (${ev.value}_acc * 31L +
         |    (long)(${ev.value}_b[${ev.value}_i] & 0xff)) % ${PolyHash.P}L;
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)

  override def prettyName: String = "poly_hash"
}

object PolyHash {
  final val P = 1000000007L

  def hashBytes(b: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < b.length) {
      acc = (acc * 31L + (b(i) & 0xffL)) % P
      i += 1
    }
    acc
  }

  /** Register `poly_hash` for SQL/selectExpr use in this session (once:
    * replacing a registered function logs a WARN line). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("poly_hash")))
      reg.createOrReplaceTempFunction(
        "poly_hash", exprs => PolyHash(exprs.head), "built-in")
  }
}
