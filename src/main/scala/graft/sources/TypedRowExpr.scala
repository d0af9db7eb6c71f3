package graft.sources

import java.time.ZoneId

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.{ColumnSpec, CType}
import graft.functions.GoTimeLayouts

/** Shared coercion core for the JSON / CSV message parsers.
  *
  * Reproduces the reference's per-field typed extraction exactly
  * (parser/fastjson.go:54-211, parser/csv.go:67-226, FIXTURES.md §1):
  * missing or type-incompatible values become typed defaults
  * (`0`, `0.0`, `""`, Epoch, `[]`) when the column is non-nullable and
  * NULL when nullable; bool → 1/0 for Int; numeric datetimes go through
  * `UnixFloat(v * timeUnit)`; string datetimes through the multi-layout
  * chain with per-field layout memoization; int64 overflow / non-integral
  * numbers default for Int columns. Spark's own `from_json` can't express
  * these (it nulls on mismatch), hence a custom expression — same plan
  * position as `from_json` (one parse per record, CodegenFallback, column
  * pruning above it still reaches the scan).
  */
abstract class TypedRowParserExpr extends UnaryExpression with CodegenFallback {

  def specs: Seq[ColumnSpec]
  def timeUnit: Double
  def timeZone: String

  @transient protected lazy val zone: ZoneId = ZoneId.of(timeZone)
  /** field → first successfully detected layout (parser/parser.go:139-168) */
  @transient protected lazy val knownLayouts: mutable.HashMap[String, Int] =
    mutable.HashMap.empty

  override def dataType: DataType = StructType(specs.map(_.field))
  override def nullable: Boolean = true

  /** Optimizer fence, not a semantic statement: evaluation IS
    * deterministic, but declaring it prevents CollapseProject /
    * PushDownPredicates from inlining the (expensive) parse — and its
    * child, e.g. a rendered message — into both the null-drop Filter and
    * the field Projection, which would evaluate the whole chain twice
    * per row. */
  override lazy val deterministic: Boolean = false

  protected def parseDateTime(key: String, s: String): Option[Long] = {
    if (s.isEmpty) return None
    knownLayouts.get(key) match {
      case Some(idx) => GoTimeLayouts.parseWithLayout(idx, s, zone)
      case None =>
        GoTimeLayouts.detect(s, zone).map { case (us, idx) =>
          knownLayouts.update(key, idx)
          us
        }
    }
  }
}

/** JSON message → typed row (the `MetricToRow` projection core,
  * model/message.go:171-212 over parser/fastjson.go getters).
  *
  * Returns null on malformed JSON — the parse-error filter drops it
  * (task/task.go:280-287). A well-formed non-object root (`123`, `[..]`)
  * yields an all-defaults row, matching fastjson `Value.Get` on a
  * non-object returning nil for every key.
  */
case class JsonTypedRow(
    child: Expression,
    specs: Seq[ColumnSpec],
    timeUnit: Double,
    timeZone: String) extends TypedRowParserExpr {

  import JValue._

  @transient private lazy val parser = new JsonParser
  @transient private lazy val emptyObj = JObj(mutable.ArrayBuffer.empty)

  override def nullSafeEval(input: Any): Any = {
    val root: JObj = parser.parse(input.toString) match {
      case None => return null
      case Some(o: JObj) => o
      case Some(_) => emptyObj // non-object root: every Get misses
    }
    val values = new Array[Any](specs.length)
    var i = 0
    while (i < specs.length) {
      val spec = specs(i)
      values(i) = JsonCoerce.extract(root.get(spec.sourceName), spec,
        timeUnit, parseDateTime)
      i += 1
    }
    new GenericInternalRow(values)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The fastjson getter matrix over [[JValue]] trees — shared by the JSON
  * parser and the CSV parser's embedded-JSON array cells.
  */
object JsonCoerce {
  import JValue._

  def extract(
      v: JValue,
      spec: ColumnSpec,
      timeUnit: Double,
      parseDT: (String, String) => Option[Long]): Any = spec.ctype match {
    case CType.CInt => getInt(v, spec.nullable)
    case CType.CFloat => getFloat(v, spec.nullable)
    case CType.CString => getString(v, spec.nullable)
    case CType.CDateTime => getDateTime(v, spec, timeUnit, parseDT)
    case CType.CElasticDateTime => getDateTime(v, spec, timeUnit, parseDT) match {
      case null => null
      case us: java.lang.Long => java.lang.Long.valueOf(Math.floorDiv(us, 1000000L))
    }
    case arr => getArray(v, CType.elementOf(arr), spec, timeUnit, parseDT)
  }

  private def isMissing(v: JValue): Boolean = v == null || v == JNull

  /** fastjson GetInt (fastjson.go:86-106): bool → 1/0; numbers via strict
    * int64 token re-parse (non-integral / u64-overflow → default). */
  def getInt(v: JValue, nullable: Boolean): Any = v match {
    case JBool(b) => java.lang.Long.valueOf(if (b) 1L else 0L)
    case n: JNum => n.int64 match {
      case Some(l) => java.lang.Long.valueOf(l)
      case None => if (nullable) null else java.lang.Long.valueOf(0L)
    }
    case _ => if (nullable) null else java.lang.Long.valueOf(0L)
  }

  /** fastjson GetFloat (fastjson.go:72-84): numbers only (bools are NOT
    * accepted); `inf`/`nan` tokens yield ±Inf/NaN. */
  def getFloat(v: JValue, nullable: Boolean): Any = v match {
    case n: JNum => java.lang.Double.valueOf(n.float64)
    case _ => if (nullable) null else java.lang.Double.valueOf(0.0)
  }

  /** fastjson GetString (fastjson.go:54-70): strings verbatim; any other
    * present value renders as its compact JSON text. */
  def getString(v: JValue, nullable: Boolean): Any = {
    if (isMissing(v)) return if (nullable) null else UTF8String.EMPTY_UTF8
    v match {
      case JStr(s) => UTF8String.fromString(s)
      case other => UTF8String.fromString(other.compact)
    }
  }

  /** fastjson GetDateTime (fastjson.go:108-136): number →
    * UnixFloat(v*timeUnit); non-empty string → layout chain; else default
    * Epoch / null. Epoch micros. */
  def getDateTime(
      v: JValue,
      spec: ColumnSpec,
      timeUnit: Double,
      parseDT: (String, String) => Option[Long]): Any = {
    def dflt: Any = if (spec.nullable) null
      else java.lang.Long.valueOf(GoTimeLayouts.EpochMicros)
    v match {
      case n: JNum =>
        java.lang.Long.valueOf(GoTimeLayouts.unixFloat(n.float64, timeUnit))
      case JStr(s) if s.nonEmpty =>
        parseDT(spec.sourceName, s).map(java.lang.Long.valueOf).getOrElse(dflt)
      case _ => dflt
    }
  }

  /** fastjson GetArray (fastjson.go:146-211): missing/non-array → empty;
    * elements coerce per-type with zero-defaults, never null. */
  def getArray(
      v: JValue,
      el: CType,
      spec: ColumnSpec,
      timeUnit: Double,
      parseDT: (String, String) => Option[Long]): ArrayData = v match {
    case JArr(items) =>
      val out = new Array[Any](items.length)
      var i = 0
      while (i < items.length) {
        out(i) = arrayElem(items(i), el, spec, timeUnit, parseDT)
        i += 1
      }
      new GenericArrayData(out)
    case _ => new GenericArrayData(Array.empty[Any])
  }

  private def arrayElem(
      e: JValue,
      el: CType,
      spec: ColumnSpec,
      timeUnit: Double,
      parseDT: (String, String) => Option[Long]): Any = el match {
    case CType.CInt => e match {
      case JBool(true) => 1L
      case n: JNum => n.int64.getOrElse(0L)
      case _ => 0L
    }
    case CType.CFloat => e match {
      case n: JNum => n.float64
      case _ => 0.0
    }
    case CType.CString => e match {
      case JNull | null => UTF8String.EMPTY_UTF8
      case JStr(s) => UTF8String.fromString(s)
      case other => UTF8String.fromString(other.compact)
    }
    case CType.CDateTime => e match {
      case n: JNum => GoTimeLayouts.unixFloat(n.float64, timeUnit)
      case JStr(s) if s.nonEmpty =>
        parseDT(spec.sourceName, s).getOrElse(GoTimeLayouts.EpochMicros)
      case _ => GoTimeLayouts.EpochMicros
    }
    case other => throw new IllegalStateException(s"array of $other")
  }
}

/** CSV record → typed row (parser/csv.go). Schema is an ordered column
  * list; the literal `"null"` means null; array cells carry embedded JSON
  * (parser/csv.go:146-226). Records whose field count differs from the
  * schema are parse errors (csv.Reader.FieldsPerRecord, csv.go:43-55).
  */
case class CsvTypedRow(
    child: Expression,
    specs: Seq[ColumnSpec],
    csvFormat: Seq[String],
    delimiter: String,
    timeUnit: Double,
    timeZone: String) extends TypedRowParserExpr {

  @transient private lazy val jsonParser = new JsonParser
  @transient private lazy val colIdx: Map[String, Int] = csvFormat.zipWithIndex.toMap
  private def delim: Char = if (delimiter.isEmpty) ',' else delimiter.charAt(0)

  override def nullSafeEval(input: Any): Any = {
    val line = input.toString
    val fields = Rfc4180.split(line, delim) match {
      case Some(f) if f.length == csvFormat.length => f
      case _ => return null // malformed quoting or wrong field count
    }
    val values = new Array[Any](specs.length)
    var i = 0
    while (i < specs.length) {
      val spec = specs(i)
      val cell: String = colIdx.get(spec.sourceName) match {
        case Some(idx) => fields(idx)
        case None => null // unknown column ≡ missing
      }
      values(i) = extract(cell, spec)
      i += 1
    }
    new GenericInternalRow(values)
  }

  private def extract(cell: String, spec: ColumnSpec): Any = {
    val missing = cell == null || cell == "null"
    spec.ctype match {
      case CType.CInt =>
        if (missing) { if (spec.nullable) null else java.lang.Long.valueOf(0L) }
        else if (cell == "true") java.lang.Long.valueOf(1L)
        else java.lang.Long.valueOf(parseInt64BestEffort(cell))
      case CType.CFloat =>
        if (missing) { if (spec.nullable) null else java.lang.Double.valueOf(0.0) }
        else java.lang.Double.valueOf(parseFloatBestEffort(cell))
      case CType.CString =>
        if (missing) { if (spec.nullable) null else UTF8String.EMPTY_UTF8 }
        else UTF8String.fromString(cell)
      case CType.CDateTime =>
        if (missing) { if (spec.nullable) null else java.lang.Long.valueOf(0L) }
        else java.lang.Long.valueOf(parseCsvDateTime(cell, spec))
      case CType.CElasticDateTime =>
        if (missing) { if (spec.nullable) null else java.lang.Long.valueOf(0L) }
        else java.lang.Long.valueOf(
          Math.floorDiv(parseCsvDateTime(cell, spec), 1000000L))
      case arr => getArray(cell, CType.elementOf(arr), spec)
    }
  }

  /** csv GetDateTime (csv.go:115-135): strict float parse first →
    * UnixFloat, else layout chain; failure → Epoch (even when nullable). */
  private def parseCsvDateTime(cell: String, spec: ColumnSpec): Long =
    GoFloat.strict(cell) match {
      case Some(d) => GoTimeLayouts.unixFloat(d, timeUnit)
      case None => parseDateTime(spec.sourceName, cell)
        .getOrElse(GoTimeLayouts.EpochMicros)
    }

  /** fastfloat.ParseInt64BestEffort: 0 unless the whole string is an
    * in-range integer. */
  private def parseInt64BestEffort(s: String): Long =
    try java.lang.Long.parseLong(s) catch { case _: Exception => 0L }

  /** fastfloat.ParseBestEffort: 0 unless the whole string parses (incl.
    * inf/nan). */
  private def parseFloatBestEffort(s: String): Double =
    GoFloat.strict(s).getOrElse(0.0)

  /** Array cells hold JSON (parser/csv.go:146-226) — same element
    * coercions as the JSON parser (gjson ≡ fastjson for these cases:
    * bool→1/0, non-integral→0 for Int, null→"" for String, raw token
    * text for non-strings). Malformed / non-array / empty → `[]`. */
  private def getArray(cell: String, el: CType, spec: ColumnSpec): ArrayData = {
    val empty = new GenericArrayData(Array.empty[Any])
    if (cell == null || cell.isEmpty || cell.charAt(0) != '[') return empty
    jsonParser.parse(cell) match {
      case Some(arr @ JValue.JArr(items)) if items.nonEmpty =>
        JsonCoerce.getArray(arr, el, spec, timeUnit, parseDateTime)
      case _ => empty
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Go `strconv.ParseFloat` grammar (used by fastfloat.ParseBestEffort and
  * csv GetDateTime): no surrounding whitespace, no Java 'f'/'d' suffixes,
  * but `inf`/`infinity`/`nan` (case-insensitive, signed) are accepted.
  */
object GoFloat {
  private val Grammar =
    "[+-]?((\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?)".r.pattern

  def strict(s: String): Option[Double] = {
    if (s.isEmpty) return None
    val low = s.toLowerCase
    val unsigned = if (low.startsWith("+") || low.startsWith("-")) low.substring(1) else low
    val neg = low.startsWith("-")
    if (unsigned == "inf" || unsigned == "infinity")
      Some(if (neg) Double.NegativeInfinity else Double.PositiveInfinity)
    else if (unsigned == "nan") Some(Double.NaN)
    else if (Grammar.matcher(s).matches())
      try Some(java.lang.Double.parseDouble(s)) catch { case _: Exception => None }
    else None
  }
}

/** RFC-4180 single-record splitter (parser/csv.go:41-66 semantics). */
object Rfc4180 {
  /** None on malformed quoting. */
  def split(line: String, delim: Char): Option[Array[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var i = 0
    var inQuotes = false
    var quoted = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQuotes = false
        } else sb.append(c)
      } else if (c == '"') {
        if (sb.isEmpty && !quoted) { inQuotes = true; quoted = true }
        else return None
      } else if (c == delim) {
        out += sb.result(); sb.clear(); quoted = false
      } else {
        if (quoted) return None
        sb.append(c)
      }
      i += 1
    }
    if (inQuotes) None
    else { out += sb.result(); Some(out.toArray) }
  }
}
