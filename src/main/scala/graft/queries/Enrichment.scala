package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.enrich.{ClassNormalize, IpEnrich, IpRange}

/** Oracle-checked exercises of the nali enrichment stack (SURVEY §2.3):
  * the qqwry-style broadcast-binsearch IP lookup with `SearchIP` output
  * semantics (E2/E4) and the serviceMap class normalization (E9). Synthetic
  * IPs/ports are derived arithmetically from `events.user_id` so the DuckDB
  * oracle can recompute them and verify via a plain range join — the Spark
  * side goes through the real string→aton→binsearch path.
  */
object Enrichment {

  /** Deterministic range table from `nation` (25 ranges × 40M addresses):
    * nation 0 is a LAN entry (同一内部网 → 局域网), every third nation has
    * an empty area (isp → 未知), the rest get a `-ISP` suffixed area.
    * IPs above the last range miss entirely (loc = isp = 未知). */
  private def rangesOf(s: SparkSession, dir: String): Seq[IpRange] = {
    Tables(s, dir, "nation")
      .select("n_nationkey", "n_name")
      .collect()
      .toSeq
      .map { r =>
        val k = r.get(0).asInstanceOf[Number].longValue
        val name = r.getString(1)
        val area =
          if (k == 0) "对方和您在同一内部网"
          else if (k % 3 == 0) ""
          else name + "-ISP"
        IpRange(k * 40000000L, k * 40000000L + 39999999L, name, area)
      }
  }

  /** q15: geoip enrich — ip string render → aton → O(log n) broadcast
    * binsearch → SearchIP loc/isp semantics. Shuffle-free map
    * (no final sort: its sampling pass would re-run the enrichment). */
  def q15IpEnrich(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val o1 = pmod(col("user_id"), lit(80))
    val o2 = pmod(col("user_id") * 7, lit(256))
    val o3 = pmod(col("user_id") * 13, lit(256))
    val o4 = pmod(col("user_id"), lit(256))
    val withIp = events.select(
      col("event_id"),
      concat(o1, lit("."), o2, lit("."), o3, lit("."), o4).as("ip_src"))
    IpEnrich.searchIp(withIp, rangesOf(s, dir), objs = Seq("src"))
      .select("event_id", "ip_src", "loc_src", "isp_src")
  }

  /** q16: service-class normalization — one lookup into the bundled
    * ~11.5k-entry proto:port map, broadcast once per query, on
    * `Unknown/Unknown` rows + the `/`-split rules. */
  def q16ClassNormalize(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val flows = events.select(
      col("event_id"),
      when(col("event_type") === "view", lit("HTTP/HTTP"))
        .when(col("event_type") === "error", lit("Unknown/TLS"))
        .when(col("event_type") === "signup", lit("SMTP/POP3"))
        .otherwise(lit("Unknown/Unknown")).as("class"),
      when(pmod(col("user_id"), lit(2)) === 0, lit("tcp"))
        .otherwise(lit("udp")).as("ip_proto"),
      (col("user_id") + 20000).as("port_src"),
      pmod(col("user_id"), lit(1024)).as("port_dst"))
    flows
      .transform(ClassNormalize.replaceUnknown(s))
      .select("event_id", "class")
      .orderBy("event_id")
  }

  /** q27: entity extraction (E3) — IPv4/domain entities pulled from a
    * rendered log line with the reference's exact regexes; the IPv4 match
    * wins its overlap with the domain pattern. Pure map (no final
    * sort: its sampling pass would re-run the regex extraction). */
  def q27EntityExtract(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val o1 = pmod(col("user_id"), lit(80))
    val o2 = pmod(col("user_id") * 7, lit(256))
    val o3 = pmod(col("user_id") * 13, lit(256))
    val o4 = pmod(col("user_id"), lit(256))
    val line = concat(
      lit("conn from "), o1, lit("."), o2, lit("."), o3, lit("."), o4,
      lit(" to "), col("event_type"), lit(".example.com port 443"))
    val ofType = (t: String) =>
      filter(col("__ents"), e => e.getField("etype") === t)
    events
      // materialize the extraction once; the downstream projection refers
      // to it three times and CollapseProject keeps non-cheap multi-
      // referenced aliases in their own project
      .select(col("event_id"),
        graft.enrich.EntityExtract.entities(line).as("__ents"))
      .select(
        col("event_id"),
        element_at(ofType("ipv4"), 1).getField("text").as("ipv4"),
        element_at(ofType("domain"), 1).getField("text").as("domain"),
        size(col("__ents")).as("n_entities"))
  }

  /** q34: CDN domain lookup (E7) — base-domain reduction (`a.b.c → b.c`),
    * exact match against a broadcast map, the `kunlun` substring
    * fallback, and miss → null, all on one deterministic domain mix. */
  def q34CdnLookup(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val bases = Seq(
      "cdn.cloudfront.net", "img.akamai.com",
      "edge.mykunlun.net", "static.example.com")
    val cdnMap = Map(
      "cloudfront.net" -> "Amazon CloudFront",
      "akamai.com" -> "Akamai")
    val domain = element_at(
      array(bases.map(lit): _*), pmod(col("user_id"), lit(4)).cast("int") + 1)
    events.select(
      col("event_id"),
      domain.as("domain"),
      graft.enrich.Cdn.lookup(cdnMap)(domain).as("cdn"))
  }

  val entries: Seq[Query] = Seq(
    Query("q15_ip_enrich", q15IpEnrich,
      """WITH ips AS (
        |  SELECT event_id,
        |    CAST(user_id % 80 AS VARCHAR) || '.' ||
        |    CAST((user_id * 7) % 256 AS VARCHAR) || '.' ||
        |    CAST((user_id * 13) % 256 AS VARCHAR) || '.' ||
        |    CAST(user_id % 256 AS VARCHAR) AS ip_src,
        |    (user_id % 80) * 16777216 + ((user_id * 7) % 256) * 65536 +
        |    ((user_id * 13) % 256) * 256 + (user_id % 256) AS ipl
        |  FROM events),
        |ranges AS (
        |  SELECT n_nationkey AS k, n_name,
        |    CAST(n_nationkey * 40000000 AS BIGINT) AS lo,
        |    CAST(n_nationkey * 40000000 + 39999999 AS BIGINT) AS hi
        |  FROM nation)
        |SELECT event_id, ip_src,
        |  CASE WHEN k IS NULL THEN '未知' WHEN k = 0 THEN '局域网'
        |       ELSE n_name END AS loc_src,
        |  CASE WHEN k IS NULL THEN '未知' WHEN k = 0 THEN '局域网'
        |       WHEN k % 3 = 0 THEN '未知'
        |       ELSE n_name || '-ISP' END AS isp_src
        |FROM ips LEFT JOIN ranges ON ipl BETWEEN lo AND hi
        |ORDER BY event_id""".stripMargin),
    Query("q16_class_normalize", q16ClassNormalize,
      """WITH svc AS (
        |  SELECT key, service FROM read_csv(
        |    '/root/repo/src/main/resources/graft/service_map.tsv',
        |    delim='\t', header=true,
        |    columns={'key': 'VARCHAR', 'service': 'VARCHAR'})),
        |f AS (
        |  SELECT event_id,
        |    CASE event_type WHEN 'view' THEN 'HTTP/HTTP'
        |      WHEN 'error' THEN 'Unknown/TLS'
        |      WHEN 'signup' THEN 'SMTP/POP3'
        |      ELSE 'Unknown/Unknown' END AS class,
        |    CASE WHEN user_id % 2 = 0 THEN 'tcp' ELSE 'udp' END AS proto,
        |    user_id + 20000 AS psrc,
        |    user_id % 1024 AS pdst
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN f.class = 'Unknown/Unknown'
        |         THEN coalesce(d.service, s.service, 'Unknown')
        |       WHEN f.class = 'Unknown/TLS' THEN 'TLS'
        |       WHEN f.class = 'SMTP/POP3' THEN 'POP3'
        |       ELSE f.class END AS class
        |FROM f
        |LEFT JOIN svc s ON s.key = f.proto || ':' || CAST(f.psrc AS VARCHAR)
        |LEFT JOIN svc d ON d.key = f.proto || ':' || CAST(f.pdst AS VARCHAR)
        |ORDER BY event_id""".stripMargin),
    Query("q34_cdn_lookup", q34CdnLookup,
      """SELECT event_id,
        |  CASE user_id % 4
        |    WHEN 0 THEN 'cdn.cloudfront.net'
        |    WHEN 1 THEN 'img.akamai.com'
        |    WHEN 2 THEN 'edge.mykunlun.net'
        |    ELSE 'static.example.com' END AS domain,
        |  CASE user_id % 4
        |    WHEN 0 THEN 'Amazon CloudFront'
        |    WHEN 1 THEN 'Akamai'
        |    WHEN 2 THEN '阿里云 CDN'
        |    ELSE NULL END AS cdn
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q27_entity_extract", q27EntityExtract,
      """SELECT event_id,
        |  CAST(user_id % 80 AS VARCHAR) || '.' ||
        |  CAST((user_id * 7) % 256 AS VARCHAR) || '.' ||
        |  CAST((user_id * 13) % 256 AS VARCHAR) || '.' ||
        |  CAST(user_id % 256 AS VARCHAR) AS ipv4,
        |  event_type || '.example.com' AS domain,
        |  2 AS n_entities
        |FROM events ORDER BY event_id""".stripMargin))
}
