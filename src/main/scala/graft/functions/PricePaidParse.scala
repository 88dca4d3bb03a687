package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, Predicate, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level parsing of the Price Paid CSV dialect (ops 4-6).
  *
  * The reference file is a fixed, simple dialect: 16 fields per line,
  * every field quoted, no quote or backslash inside a field, ASCII. On
  * it, Spark's generic parsers — univocity (CSV) and the pattern-based
  * `to_timestamp` — are the two largest executor-side costs of the
  * ingest write job. Each expression here recognises the simple form
  * straight from the UTF-8 bytes and hands every other row to a child
  * expression holding Spark's own parser, so the result is Spark's
  * result on every row: the fast path only accepts inputs for which its
  * output is provably the same.
  */
object PricePaidParse {

  /** A line's fields as the CSV source would read them: `fallback` (a
    * `from_csv` over the same line, whose struct type gives the field
    * count) is evaluated only for lines [[splitLine]] does not accept.
    */
  def line(value: Column, fallback: Column): Column =
    ColumnBridge.column(
      PricePaidLine(ColumnBridge.expression(value), ColumnBridge.expression(fallback)))

  /** The CSV source's blank-line filter: false when Java `String.trim`
    * would empty the decoded line.
    */
  def nonBlank(value: Column): Column =
    ColumnBridge.column(NonBlankLine(ColumnBridge.expression(value)))

  /** A `yyyy-MM-dd HH:mm` string as a UTC timestamp; `fallback` (the
    * pattern parser over the same string) evaluates every value the
    * fixed-width parser does not accept.
    */
  def utcMinute(s: Column, fallback: Column): Column =
    ColumnBridge.column(
      UtcMinuteTimestamp(ColumnBridge.expression(s), ColumnBridge.expression(fallback), None))

  /** The fields of a canonical line, or null when the line is not
    * canonical. Canonical: exactly `nFields` comma-separated fields, each
    * either `"…"` or unquoted, all bytes printable ASCII (0x20-0x7E),
    * no `"` or `\` inside a field. A quoted field gives its content
    * (`""` gives `''`), an unquoted empty field gives NULL — univocity's
    * result under the scan's `nullValue`/`emptyValue` options. Fields
    * are views into one private copy of the line, so they stay valid
    * after the scan reuses its buffer.
    */
  def splitLine(line: UTF8String, nFields: Int): InternalRow = {
    val n = line.numBytes
    val b = new Array[Byte](n)
    line.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    val out = new Array[Any](nFields)
    var f = 0
    var i = 0
    while (true) {
      if (f == nFields) return null
      if (i < n && b(i) == '"') {
        val start = i + 1
        var j = start
        while (j < n && b(j) != '"') {
          val c = b(j)
          if (c < 0x20 || c > 0x7e || c == '\\') return null
          j += 1
        }
        if (j == n) return null
        out(f) = UTF8String.fromBytes(b, start, j - start)
        i = j + 1
      } else {
        val start = i
        while (i < n && b(i) != ',') {
          val c = b(i)
          if (c < 0x20 || c > 0x7e || c == '\\' || c == '"') return null
          i += 1
        }
        if (i > start) out(f) = UTF8String.fromBytes(b, start, i - start)
      }
      f += 1
      if (i == n) return if (f == nFields) new GenericInternalRow(out) else null
      if (b(i) != ',') return null
      i += 1
    }
    null
  }

  /** Java `String.trim` empties a decoded line iff every char is
    * ≤ U+0020. Those chars are exactly the UTF-8 bytes 0x00-0x20; every
    * other byte (ASCII above 0x20, multi-byte lead or continuation, or an
    * invalid byte that decodes to U+FFFD) yields a char above U+0020.
    */
  def nonBlank(line: UTF8String): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    var i = 0
    while (i < line.numBytes) {
      val c = Platform.getByte(base, off + i)
      if (c > 0x20 || c < 0) return true
      i += 1
    }
    false
  }

  /** [[utcMinuteMicros]]'s "not accepted" result; no accepted input
    * (years 1000-9999) maps to it.
    */
  val NotAccepted: Long = Long.MinValue

  /** UTC epoch micros of an exact `yyyy-MM-dd HH:mm` string with year
    * 1000-9999, a valid proleptic-Gregorian date, hour ≤ 23 and minute
    * ≤ 59 — the inputs the strict `yyyy-MM-dd HH:mm` pattern parses
    * without error — else [[NotAccepted]].
    */
  def utcMinuteMicros(s: UTF8String): Long = {
    if (s.numBytes != 16) return NotAccepted
    val base = s.getBaseObject
    val off = s.getBaseOffset
    def at(i: Int): Int = Platform.getByte(base, off + i)
    def digits(i: Int, k: Int): Int = {
      var v = 0
      var j = i
      while (j < i + k) {
        val d = at(j) - '0'
        if (d < 0 || d > 9) return -1
        v = v * 10 + d
        j += 1
      }
      v
    }
    if (at(4) != '-' || at(7) != '-' || at(10) != ' ' || at(13) != ':') return NotAccepted
    val y = digits(0, 4)
    val m = digits(5, 2)
    val d = digits(8, 2)
    val h = digits(11, 2)
    val mi = digits(14, 2)
    if (y < 1000 || m < 1 || m > 12 || d < 1 || h < 0 || h > 23 || mi < 0 || mi > 59)
      return NotAccepted
    if (d > java.time.Month.of(m).length(java.time.Year.isLeap(y))) return NotAccepted
    val epochDay = java.time.LocalDate.of(y, m, d).toEpochDay
    ((epochDay * 24 + h) * 60 + mi) * 60000000L
  }
}

/** [[PricePaidParse.splitLine]] with a per-row fallback: the fallback
  * child's code is generated inside the "not canonical" branch, so it
  * runs only for the lines the byte splitter declines.
  */
case class PricePaidLine(child: Expression, fallback: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child, fallback)
  override def dataType: DataType = fallback.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pp_line"

  private def nFields: Int = dataType.asInstanceOf[StructType].length

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val fast =
      if (v == null) null else PricePaidParse.splitLine(v.asInstanceOf[UTF8String], nFields)
    if (fast != null) fast else fallback.eval(input)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val fb = fallback.genCode(ctx)
    ev.copy(code = code"""
      ${in.code}
      boolean ${ev.isNull} = false;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${in.isNull}) {
        ${ev.value} = graft.functions.PricePaidParse.splitLine(${in.value}, $nFields);
      }
      if (${ev.value} == null) {
        ${fb.code}
        ${ev.isNull} = ${fb.isNull};
        ${ev.value} = ${fb.value};
      }
    """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PricePaidLine =
    copy(child = c(0), fallback = c(1))
}

/** [[PricePaidParse.nonBlank]] as a codegen predicate. */
case class NonBlankLine(child: Expression)
    extends UnaryExpression
    with Predicate
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def prettyName: String = "graft_non_blank"

  override def nullSafeEval(input: Any): Any =
    PricePaidParse.nonBlank(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PricePaidParse.nonBlank($c)")

  override protected def withNewChildInternal(newChild: Expression): NonBlankLine =
    copy(child = newChild)
}

/** [[PricePaidParse.utcMinuteMicros]] with a per-row fallback to the
  * pattern parser. The fixed-width path is taken only when its micros
  * are the pattern parser's: session zone UTC (any zone that normalizes
  * to offset 0) and a non-LEGACY time parser policy — otherwise the
  * generated code is the fallback's alone. Declined values (malformed,
  * out of range, other widths, NULL) go to the fallback, so its error
  * or NULL behaviour is unchanged.
  */
case class UtcMinuteTimestamp(
    child: Expression,
    fallback: Expression,
    timeZoneId: Option[String])
    extends Expression
    with TimeZoneAwareExpression {

  override def children: Seq[Expression] = Seq(child, fallback)
  override def dataType: DataType = fallback.dataType
  override def nullable: Boolean = fallback.nullable
  override def prettyName: String = "graft_utc_minute"

  override def withTimeZone(tz: String): UtcMinuteTimestamp = copy(timeZoneId = Some(tz))

  @transient private lazy val fastPath: Boolean =
    zoneId.normalized() == java.time.ZoneOffset.UTC &&
      SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.LEGACY

  override def eval(input: InternalRow): Any = {
    if (fastPath) {
      val v = child.eval(input)
      if (v != null) {
        val us = PricePaidParse.utcMinuteMicros(v.asInstanceOf[UTF8String])
        if (us != PricePaidParse.NotAccepted) return us
      }
    }
    fallback.eval(input)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fb = fallback.genCode(ctx)
    if (!fastPath) return fb
    val in = child.genCode(ctx)
    val notAccepted = "graft.functions.PricePaidParse.NotAccepted()"
    ev.copy(code = code"""
      ${in.code}
      boolean ${ev.isNull} = false;
      long ${ev.value} = $notAccepted;
      if (!${in.isNull}) {
        ${ev.value} = graft.functions.PricePaidParse.utcMinuteMicros(${in.value});
      }
      if (${ev.value} == $notAccepted) {
        ${fb.code}
        ${ev.isNull} = ${fb.isNull};
        ${ev.value} = ${fb.value};
      }
    """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): UtcMinuteTimestamp =
    copy(child = c(0), fallback = c(1))
}
