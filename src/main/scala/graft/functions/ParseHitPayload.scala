package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass wire decoder for the reference's hit payload
  * (`<start> <end> <time_acc> <ublox> <fix> <gnss> <utc>`, FIXTURES.md §1
  * / reference include/source/mqtt.h:214-247): one scan over the payload
  * bytes produces the typed struct, replacing a split() + per-field
  * getItem/cast chain that Catalyst's projection collapse re-inlined into
  * ~10 split evaluations per row (measured in the parse_hits plan).
  *
  * Semantics mirror the column-expression formulation exactly:
  *   - NULL when the payload has < 7 tokens, a time field is shorter than
  *     17 chars or starts with '.' (the reference's width/format guards) —
  *     the caller filters `isNotNull`, which equals the old guard filters;
  *   - time fields parse as seconds.fraction → i64 nanos with the same
  *     value as `CAST(s AS DECIMAL(30,9)) * 1e9` for up to 9 fraction
  *     digits (the wire format emits exactly 9), HALF_UP at digit 10;
  *   - integer fields parse with optional sign; any malformed field
  *     nulls the whole record (the reference drops the message).
  */
case class ParseHitPayload(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ParseHitPayload.Schema

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"parse_hit_payload needs STRING, got ${child.dataType}")
  }

  // the parse can return null even for non-null input
  override def nullable: Boolean = true

  // The parse is pure, but declared non-deterministic so Catalyst may
  // not duplicate or reorder it (the optimization guide's expensive-UDF
  // pattern): predicate pushdown otherwise substitutes the whole parse
  // into every filter that references a ph field — measured FOUR
  // evaluations per row in parse_hits (isnotnull + both sides of
  // start≤end + the projection), each re-synthesizing the payload
  // expression tree, all pushed below the spread exchange into the
  // single scan task. One evaluation per row restored: exec 1.4 → 0.45 s
  // at sf0.1/local[32].
  override lazy val deterministic: Boolean = false

  override def nullSafeEval(input: Any): Any =
    ParseHitPayload.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ParseHitPayload.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = (InternalRow) $cls.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseHitPayload =
    copy(child = newChild)

  override def prettyName: String = "parse_hit_payload"
}

object ParseHitPayload {

  val Schema: StructType = StructType(Seq(
    StructField("start_ns", LongType),
    StructField("end_ns", LongType),
    StructField("time_acc", LongType),
    StructField("ublox_counter", IntegerType),
    StructField("fix", IntegerType),
    StructField("gnss_time_grid", IntegerType),
    StructField("utc", IntegerType)))

  /** One pass over the UTF-8 bytes; null on any guard/parse failure. */
  def parse(s: UTF8String): InternalRow = {
    val b = s.getBytes
    // token offsets: up to 8 tokens (extra tokens beyond 7 are ignored,
    // like getItem on a longer split array)
    val starts = new Array[Int](8)
    val ends = new Array[Int](8)
    var n = 0
    var i = 0
    var tokenStart = 0
    while (i <= b.length && n < 8) {
      if (i == b.length || b(i) == ' ') {
        starts(n) = tokenStart; ends(n) = i; n += 1
        tokenStart = i + 1
      }
      i += 1
    }
    if (n < 7) return null
    // width + leading-dot guards on the two time fields
    if (ends(0) - starts(0) < 17 || ends(1) - starts(1) < 17) return null
    if (b(starts(0)) == '.' || b(starts(1)) == '.') return null

    val startNs = parseSecNs(b, starts(0), ends(0))
    val endNs = parseSecNs(b, starts(1), ends(1))
    val timeAcc = parseLong(b, starts(2), ends(2))
    val ublox = parseLong(b, starts(3), ends(3))
    val fix = parseLong(b, starts(4), ends(4))
    val gnss = parseLong(b, starts(5), ends(5))
    val utc = parseLong(b, starts(6), ends(6))
    if (startNs == Long.MinValue || endNs == Long.MinValue ||
      timeAcc == Long.MinValue || ublox == Long.MinValue ||
      fix == Long.MinValue || gnss == Long.MinValue ||
      utc == Long.MinValue) return null
    // the four i32 fields must actually fit i32 — the reference catches
    // std::out_of_range from stoul and drops the message; silently
    // truncating with .toInt would parse corrupt wire input to a wrong
    // value instead of rejecting it
    if (ublox < Int.MinValue || ublox > Int.MaxValue ||
      fix < Int.MinValue || fix > Int.MaxValue ||
      gnss < Int.MinValue || gnss > Int.MaxValue ||
      utc < Int.MinValue || utc > Int.MaxValue) return null
    InternalRow(startNs, endNs, timeAcc,
      ublox.toInt, fix.toInt, gnss.toInt, utc.toInt)
  }

  /** `seconds[.fraction]` → i64 nanos; Long.MinValue on malformed.
    * Matches CAST(DECIMAL(30,9)) · 1e9: 9 fraction digits kept, HALF_UP
    * rounding on the 10th. */
  private def parseSecNs(b: Array[Byte], from: Int, to: Int): Long = {
    var i = from
    var sec = 0L
    var seenDigit = false
    while (i < to && b(i) != '.') {
      val c = b(i) - '0'
      if (c < 0 || c > 9) return Long.MinValue
      // reject rather than wrap on overflow (the final value must also
      // survive the ×1e9 below, so cap at MaxValue/1e9 seconds)
      if (sec > (Long.MaxValue / 1000000000L - c) / 10) return Long.MinValue
      sec = sec * 10 + c
      seenDigit = true
      i += 1
    }
    if (!seenDigit) return Long.MinValue
    var frac = 0L
    var fd = 0
    if (i < to) { // at '.'
      i += 1
      if (i >= to) return Long.MinValue
      while (i < to && fd < 9) {
        val c = b(i) - '0'
        if (c < 0 || c > 9) return Long.MinValue
        frac = frac * 10 + c
        fd += 1
        i += 1
      }
      if (i < to) {
        // HALF_UP on the 10th digit; remaining digits must still be digits
        val c = b(i) - '0'
        if (c < 0 || c > 9) return Long.MinValue
        if (c >= 5) frac += 1
        i += 1
        while (i < to) {
          val d = b(i) - '0'
          if (d < 0 || d > 9) return Long.MinValue
          i += 1
        }
      }
    }
    while (fd < 9) { frac *= 10; fd += 1 }
    // frac can reach 1e9 after HALF_UP carry (nine 9s rounded up)
    if (sec > (Long.MaxValue - frac) / 1000000000L) return Long.MinValue
    sec * 1000000000L + frac
  }

  /** Decimal long with optional sign; Long.MinValue on malformed. */
  private def parseLong(b: Array[Byte], from: Int, to: Int): Long = {
    var i = from
    if (i >= to) return Long.MinValue
    var neg = false
    if (b(i) == '-') { neg = true; i += 1 }
    if (i >= to) return Long.MinValue
    var v = 0L
    while (i < to) {
      val c = b(i) - '0'
      if (c < 0 || c > 9) return Long.MinValue
      // reject rather than wrap: out-of-range wire fields drop the record
      if (v > (Long.MaxValue - c) / 10) return Long.MinValue
      v = v * 10 + c
      i += 1
    }
    if (neg) -v else v
  }

  /** Register `parse_hit_payload` for SQL/selectExpr use (once:
    * replacing a registered function logs a WARN line). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("parse_hit_payload")))
      reg.createOrReplaceTempFunction(
        "parse_hit_payload", exprs => ParseHitPayload(exprs.head), "built-in")
  }
}
