package graft.enrich

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `ReplaceUnknown` service-class normalization
  * (input/kafka_sarama.go:11643-11668) over the proto:port→service map
  * extracted from the reference's ~11.5k-entry literal
  * (kafka_sarama.go:56-11544) into `graft/service_map.tsv`.
  *
  * Semantics:
  *  - `class == "Unknown/Unknown"` → look up `"<ip_proto>:<port_src>"`
  *    then `"<ip_proto>:<port_dst>"`; the dst hit wins when both match;
  *    no hit → `"Unknown"`. (The reference assigns the default first and
  *    then calls `strings.Replace(class, "Unknown/Unknown", …)` on the
  *    already-replaced value — a no-op, so its shipped binary always
  *    yields "Unknown" here; we implement the lookup the surrounding
  *    code and docs describe, per SURVEY §2.3 E9.)
  *  - otherwise a `"a/b"` class with distinct halves keeps the second
  *    half; equal halves are left whole.
  *
  * Scale shape: the ~11.5k-entry map is broadcast once per
  * [[replaceUnknown]] call (once per streaming query, not per
  * micro-batch) and probed by a UDF that runs only on `Unknown/Unknown`
  * rows — no join to plan per batch, zero fact-side shuffle at any
  * scale. The resource's 11,485 keys are unique, so a key names one
  * service.
  */
object ClassNormalize {

  /** Parsed once per JVM — the resource is immutable and every caller
    * (batch query, per-micro-batch enrichment) wants the same rows. */
  private lazy val serviceRows: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/service_map.tsv")
    require(in != null, "graft/service_map.tsv missing from resources")
    try Source.fromInputStream(in, "UTF-8").getLines().drop(1).map { l =>
      val t = l.split('\t')
      (t(0), t(1))
    }.toSeq
    finally in.close()
  }

  /** (proto:port, service) rows from the bundled resource. */
  def serviceMap(spark: SparkSession): DataFrame = {
    import spark.implicits._
    serviceRows.toDF("key", "service")
  }

  /** Adds/replaces `class` on a frame having (class, ip_proto, port_src,
    * port_dst). A null proto or port makes a null key, which misses. */
  def replaceUnknown(spark: SparkSession)(df: DataFrame): DataFrame = {
    val services = spark.sparkContext.broadcast(serviceRows.toMap)
    val service = udf { (dstKey: String, srcKey: String) =>
      val m = services.value
      def hit(key: String) = if (key == null) None else m.get(key)
      hit(dstKey).orElse(hit(srcKey)).getOrElse("Unknown")
    }
    def key(port: String) =
      concat(col("ip_proto"), lit(":"), col(port).cast("string"))
    val halves = split(col("class"), "/")
    val normalized = when(col("class") === "Unknown/Unknown",
        service(key("port_dst"), key("port_src")))
      .when(col("class").contains("/") && halves.getItem(0) =!= halves.getItem(1),
        halves.getItem(1))
      .otherwise(col("class"))
    df.withColumn("class", normalized)
  }
}
