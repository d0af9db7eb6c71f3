package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.{Enrich, IpRange}
import graft.streaming.{TaskConfig, TaskManager}

/** Task lifecycle diffing (cmd main.go:427-533) and the E1 HandleMsg
  * composition. */
class ControlPlaneSpec extends AnyFunSuite {

  private def cfg(name: String, topic: String = "t"): TaskConfig =
    TaskConfig.fromJson(
      s"""{"name": "$name", "topic": "$topic", "parser": "json",
         |"tableName": "$name", "dims": [{"name": "v", "type": "Int64"}]}""".stripMargin)

  test("apply diffs: start new, stop removed, restart changed") {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val mgr = new TaskManager[String](
      start = c => { log += s"start:${c.name}"; c.name },
      stop = h => log += s"stop:$h")

    val (s1, t1) = mgr.apply(Seq(cfg("a"), cfg("b")))
    assert((s1, t1) === ((Seq.empty, Seq("a", "b"))))

    // b changes topic → restart; c appears; a unchanged
    val (s2, t2) = mgr.apply(Seq(cfg("a"), cfg("b", topic = "t2"), cfg("c")))
    assert(s2 === Seq("b"))
    assert(t2 === Seq("b", "c"))
    assert(mgr.active === Seq("a", "b", "c"))

    val (s3, t3) = mgr.apply(Seq(cfg("c")))
    assert(s3.toSet === Set("a", "b") && t3 === Seq.empty)
    mgr.stopAll()
    assert(mgr.active === Seq.empty)
    assert(log.count(_.startsWith("start:")) === 4)
    assert(log.count(_.startsWith("stop:")) === 4)
  }
}

/** Task-config normalization parity (config.go:236-301 normallizeTask). */
class TaskConfigNormalizeSpec extends AnyFunSuite {

  private def parse(extra: String): TaskConfig =
    TaskConfig.fromJson(
      s"""{"name": "n", "topic": "t", "tableName": "tb",
         |"dims": [{"name": "v", "type": "Int64"}]$extra}""".stripMargin)

  test("bufferSize rounds UP to a power of two, capped at 2^20 (config.go:256-263)") {
    assert(parse(""", "bufferSize": 100000""").bufferSize === (1 << 17))
    assert(parse(""", "bufferSize": 262144""").bufferSize === (1 << 18))
    assert(parse(""", "bufferSize": 0""").bufferSize === (1 << 18))
    assert(parse(""", "bufferSize": -5""").bufferSize === (1 << 18))
    assert(parse(""", "bufferSize": 9999999""").bufferSize === (1 << 20))
    // beyond Int range: clamped as Long, never wrapped (2^32+1 → 1, 2^32 → 0)
    assert(parse(""", "bufferSize": 4294967297""").bufferSize === (1 << 20))
    assert(parse(""", "bufferSize": 4294967296""").bufferSize === (1 << 20))
  }

  test("flushInterval: ≤0 → 5, capped at 600 (config.go:253-256)") {
    assert(parse("").flushInterval === 5)
    assert(parse(""", "flushInterval": 0""").flushInterval === 5)
    assert(parse(""", "flushInterval": 9000""").flushInterval === 600)
    assert(parse(""", "flushInterval": 30""").flushInterval === 30)
    assert(parse(""", "flushInterval": 2147483648""").flushInterval === 600)
  }

  test("timeUnit 0 → 1.0 (config.go:271-273)") {
    assert(parse(""", "timeUnit": 0""").parser.timeUnit === 1.0)
    assert(parse(""", "timeUnit": 0.001""").parser.timeUnit === 0.001)
  }

  test("prometheusSchema implies dynamicSchema (config.go:274-277)") {
    val c = parse(""", "prometheusSchema": true""")
    assert(c.dynamicSchema && c.prometheusSchema)
  }

  test("dynamicSchema rejects the CSV parser (config.go:278-283)") {
    val e = intercept[IllegalArgumentException] {
      parse(""", "parser": "csv", "csvFormat": ["v"],
            | "dynamicSchema": {"enable": true}""".stripMargin)
    }
    assert(e.getMessage.contains("DynamicSchema"))
  }

  test("white/black lists must compile as regexes (config.go:285-296)") {
    val e = intercept[IllegalArgumentException] {
      parse(""", "dynamicSchema": {"enable": true, "whiteList": "[unclosed"}""")
    }
    assert(e.getMessage.contains("invalid regexp"))
    val ok = parse(
      """, "dynamicSchema": {"enable": true, "whiteList": "^new", "blackList": "secret$"}""")
    assert(ok.whiteList === Some("^new") && ok.blackList === Some("secret$"))
  }
}

/** E1 HandleMsg = SearchIP ∘ ReplaceUnknown as one stage
  * (kafka_sarama.go:11670-11674), over the FIXTURES.md §3 flow record. */
class HandleMsgSpec extends SparkSuite {

  test("pmacct flow record gets loc/isp and normalized class") {
    import spark.implicits._
    val ranges = Seq(
      IpRange(101L << 24, (102L << 24) - 1, "中国上海", "电信"),
      IpRange(192L << 24, (193L << 24) - 1, "局域网段", "对方和您在同一内部网"))
    val flows = Seq(
      ("Unknown/TLS", "tcp", 443L, 8830L, "101.91.37.19", "192.168.123.66"))
      .toDF("class", "ip_proto", "port_src", "port_dst", "ip_src", "ip_dst")
    val out = Enrich.handleMsg(spark, ranges)(flows).collect().head
    assert(out.getAs[String]("loc_src") === "中国上海")
    assert(out.getAs[String]("isp_src") === "电信")
    assert(out.getAs[String]("loc_dst") === "局域网")
    assert(out.getAs[String]("isp_dst") === "局域网")
    assert(out.getAs[String]("class") === "TLS") // distinct halves keep second
  }
}
