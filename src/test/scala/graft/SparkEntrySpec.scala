package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query catalogue read through [[SparkEntry]]:
  * names, oracles and the read-back set. Builds no Spark session — the
  * registry only holds builders, so nothing here runs a query. */
class SparkEntrySpec extends AnyFunSuite {

  private val registry = SparkEntry.registry

  test("120 distinct names, the same keys for queries and oracles") {
    val names = registry.map(_.name)
    assert(names.size === 120)
    assert(names.distinct.size === 120)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("no oracle is empty") {
    assert(registry.filter(_.oracleSql.trim.isEmpty).map(_.name) === Nil)
  }

  test("the read-back set is the ten queries graded against their own output") {
    assert(registry.filter(_.readBack).map(_.name).toSet === Set(
      "q24_simhash_neardup", "q28_ivf_ann", "q31_winnow_neardup",
      "q42_quantiles_approx", "q45_distinct_approx", "q47_semantic_dedup",
      "q53_reshard", "q58_topk_sketch", "q67_pq_ann",
      "q74_tdigest_quantiles"))
  }

  test("a read-back oracle reads its own copy; no other oracle reads one") {
    // the oracle SQL embeds this directory, so its value is part of the catalogue
    assert(SparkEntry.oracleInputDir === "/root/repo/target/oracle_inputs")
    for (q <- registry) {
      val own = s"${SparkEntry.oracleInputDir}/${q.name}.parquet"
      if (q.readBack) assert(q.oracleSql.contains(own), q.name)
      else assert(!q.oracleSql.contains(SparkEntry.oracleInputDir), q.name)
    }
  }

  test("a duplicate name makes the registry build throw") {
    val q = registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.build(registry :+ q.copy(oracleSql = "SELECT 1")))
    assert(e.getMessage.contains(q.name))
    assert(SparkEntry.build(registry) === registry)
  }
}
