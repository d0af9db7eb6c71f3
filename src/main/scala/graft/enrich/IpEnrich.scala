package graft.enrich

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ColumnBridge

/** One IPv4 range of the geo database, already decoded/normalized the way
  * the offline converter would emit it from qqwry.dat (GBK-decoded,
  * `" CZ88.NET"` scrubbed — ipHandle/pkg/qqwry/qqwry.go:105-112). Ranges
  * are sorted by `start` and non-overlapping.
  */
final case class IpRange(start: Long, end: Long, country: String, area: String)

/** Strict dotted-quad IPv4 → uint32-as-long; null on anything else
  * (net.ParseIP + To4, qqwry.go:64-72).
  */
case class Ipv4ToLong(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var octet = -1L
    var nOctets = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '.') {
        if (octet < 0 || octet > 255 || nOctets >= 3) return null
        acc = (acc << 8) | octet
        octet = -1
        nOctets += 1
      } else if (c >= '0' && c <= '9') {
        octet = (if (octet < 0) 0L else octet) * 10 + (c - '0')
        if (octet > 255) return null
      } else return null
      i += 1
    }
    if (octet < 0 || nOctets != 3) return null
    java.lang.Long.valueOf((acc << 8) | octet)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The geo database as the per-row probe reads it: ranges sorted by
  * `start`, each range's loc/isp (already split by
  * [[IpRangeLookup.splitLocIsp]]) as ids into one pool of distinct
  * strings. Real tables repeat a few thousand locations and ISPs over
  * 10^5+ ranges, so the pool is small and the table is four primitive
  * arrays. Built once and shipped once per query as a `Broadcast`
  * ([[GeoTable.broadcast]]).
  */
final class GeoTable private (
    starts: Array[Long],
    ends: Array[Long],
    locIds: Array[Int],
    ispIds: Array[Int],
    pool: Array[UTF8String]) extends Serializable {

  /** (loc, isp) of the range holding `ip`, or null on a miss. */
  def lookup(ip: Long): InternalRow = {
    // rightmost start <= ip (searchIndex, qqwry.go:117-149)
    var lo = 0
    var hi = starts.length - 1
    var idx = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= ip) { idx = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (idx < 0 || ip > ends(idx)) null
    else InternalRow(pool(locIds(idx)), pool(ispIds(idx)))
  }
}

object GeoTable {

  /** Pre-split the SearchIP string semantics at build time (once per
    * table) so the per-row probe only copies two pooled UTF8Strings. */
  def apply(ranges: Seq[IpRange]): GeoTable = {
    val sorted = ranges.sortBy(_.start).toArray
    // insertion-ordered, so a string's id is its index in the pool
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def idOf(s: String): Int = ids.getOrElseUpdate(s, ids.size)
    val (locIds, ispIds) = sorted.map { r =>
      val (loc, isp) = IpRangeLookup.splitLocIsp(r.country, r.area)
      (idOf(loc), idOf(isp))
    }.unzip
    val pool = ids.keysIterator.map(UTF8String.fromString).toArray
    new GeoTable(sorted.map(_.start), sorted.map(_.end), locIds, ispIds, pool)
  }

  /** Build once and broadcast: each executor fetches the table once per
    * query, and the expressions that probe it carry only the handle. */
  def broadcast(spark: SparkSession, ranges: Seq[IpRange]): Broadcast[GeoTable] =
    spark.sparkContext.broadcast(GeoTable(ranges))
}

/** The `SearchIP` lookup core (input/kafka_sarama.go:11570-11640 over the
  * qqwry binary search, qqwry.go:117-149): O(log n) probe into the sorted
  * broadcast [[GeoTable]], then the reference's textual post-processing
  * re-expressed structurally:
  *
  *  - miss (no range, or invalid IP) → loc = isp = 未知;
  *  - hit → the qqwry "country area" text is whitespace-tokenized: loc is
  *    the first token; isp joins the remaining tokens with "" (foreign
  *    names/ISPs may contain spaces), or 未知 when the area is empty;
  *  - LAN entries (text contains 同一内部网) normalize to loc = isp =
  *    局域网 (kafka_sarama.go:11616-11620).
  *
  * The expression holds only the `Broadcast` handle, so the task binary
  * stays small; the table crosses the wire once per executor per query,
  * matching the reference's process-wide in-memory DB. Embedding the
  * arrays in the expression instead put one copy per looked-up column
  * into every task binary (14.5 MiB per stage for a 2^17-range table,
  * deserialized once per task). The probe stays O(log n) per row vs the
  * O(n) per-row scans a BroadcastNestedLoopJoin over a BETWEEN predicate
  * would do.
  */
case class IpRangeLookup(child: Expression, table: Broadcast[GeoTable])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IpRangeLookup.outputType
  override def nullable: Boolean = false

  @transient private lazy val geo = table.value
  private val unknown = UTF8String.fromString("未知")

  /** Invalid/missing IP behaves like a lookup miss, not a null row. */
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val hit = if (v == null) null else geo.lookup(v.asInstanceOf[Long])
    if (hit == null) InternalRow(unknown, unknown) else hit
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IpRangeLookup {
  val outputType: StructType = StructType(Seq(
    StructField("loc", StringType, nullable = false),
    StructField("isp", StringType, nullable = false)))

  /** kafka_sarama.go:11580-11620 textual parse, structural form. */
  def splitLocIsp(country: String, area: String): (String, String) = {
    val combined = (country + " " + area).trim
    if (combined.contains("同一内部网")) return ("局域网", "局域网")
    val fields = combined.split("\\s+").filter(_.nonEmpty)
    if (fields.isEmpty) ("未知", "未知")
    else if (fields.length == 1) (fields(0), "未知")
    else (fields(0), fields.drop(1).mkString(""))
  }
}

/** The E1 `HandleMsg` composition (input/kafka_sarama.go:11670-11674):
  * `SearchIP` then `ReplaceUnknown`, as one structured pipeline stage for
  * TaskRunner's `enrich` hook. */
object Enrich {
  def handleMsg(spark: SparkSession, ranges: Seq[IpRange])
      (df: DataFrame): DataFrame =
    ClassNormalize.replaceUnknown(spark)(IpEnrich.searchIp(df, ranges))
}

object IpEnrich {
  import org.apache.spark.sql.functions.{col => fcol}

  def ipv4ToLong(ip: Column): Column =
    ColumnBridge.col(Ipv4ToLong(ColumnBridge.expr(ip)))

  /** `SearchIP` for each object (src/dst): adds `loc_<obj>`/`isp_<obj>`
    * from `ip_<obj>`. The table is broadcast once and shared by every
    * object's lookup. One binsearch per row per object; the struct is
    * materialized once and field-projected. */
  def searchIp(df: DataFrame, ranges: Seq[IpRange],
      objs: Seq[String] = Seq("src", "dst")): DataFrame = {
    val table = GeoTable.broadcast(df.sparkSession, ranges)
    objs.foldLeft(df) { (d, obj) =>
      val looked = ColumnBridge.col(IpRangeLookup(
        Ipv4ToLong(ColumnBridge.expr(d.col(s"ip_$obj"))), table))
      d.withColumn(s"__lk_$obj", looked)
        .withColumn(s"loc_$obj", fcol(s"__lk_$obj.loc"))
        .withColumn(s"isp_$obj", fcol(s"__lk_$obj.isp"))
        .drop(s"__lk_$obj")
    }
  }
}
