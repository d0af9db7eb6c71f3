package graft

import graft.enrich.ClassNormalize

/** FIXTURES.md §3 class-normalization cases over the bundled serviceMap
  * (input/kafka_sarama.go:11643-11668).
  */
class ClassNormalizeSpec extends SparkSuite {

  test("serviceMap resource loads with known entries") {
    val dim = ClassNormalize.serviceMap(spark)
    val m = dim.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size > 11000)
    assert(m("tcp:443") === "https")
    assert(m("tcp:80") === "http")
    assert(m("udp:53") === "dns")
  }

  test("replaceUnknown rules") {
    import spark.implicits._
    val in = Seq[(Int, String, String, java.lang.Long, java.lang.Long)](
      // Unknown/Unknown + dst hit → dst service
      (1, "Unknown/Unknown", "tcp", 50000L, 443L),
      // Unknown/Unknown + src hit only → src service
      (2, "Unknown/Unknown", "tcp", 80L, 59999L),
      // dst wins over src when both hit
      (3, "Unknown/Unknown", "udp", 80L, 53L),
      // no hit → Unknown
      (4, "Unknown/Unknown", "tcp", 59998L, 59999L),
      // distinct halves → second half
      (5, "Unknown/TLS", "tcp", 1L, 2L),
      // equal halves → unchanged whole
      (6, "HTTP/HTTP", "tcp", 1L, 2L),
      // no slash → unchanged
      (7, "plain", "tcp", 1L, 2L),
      // a null key misses: null src port, dst hit → dst service
      (8, "Unknown/Unknown", "tcp", null, 443L),
      // null proto → both keys null → Unknown
      (9, "Unknown/Unknown", null, 80L, 443L),
      // null class stays null
      (10, null, "tcp", 80L, 443L))
      .toDF("id", "class", "ip_proto", "port_src", "port_dst")
    val out = in.transform(ClassNormalize.replaceUnknown(spark))
      .orderBy("id").select("class").collect().map(_.getString(0)).toSeq
    assert(out === Seq("https", "http", "dns", "Unknown", "TLS", "HTTP/HTTP", "plain",
      "https", "Unknown", null))
  }
}
