package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.operators.{JaccardJoin, MinHashLsh}

/** The shared exact verify of the similarity joins
  * (`FilterVerify.verify`) re-spreads its candidates before the text
  * joins. A handful of candidate pairs is a few hundred bytes, so under
  * the session's AQE settings the dedup exchange above them coalesces
  * to one partition, and without the round-robin respread the per-pair
  * verify would run as one task. */
class FilterVerifySpec extends SparkSuite {

  /** 40 docs of distinct words; docs 2i and 2i+1 (i < 3) differ in one
    * word of ten, so there are three near-dup pairs. */
  private def corpus: DataFrame = {
    import spark.implicits._
    (0 until 40).map { d =>
      val base = if (d < 6) 100000 + d / 2 * 100 else d * 100
      val words = (0 until 10).map(w => s"w${base + w}")
      val text = if (d < 6 && d % 2 == 1) words.updated(9, s"x$d") else words
      (d.toLong, text.mkString(" "))
    }.toDF("id", "text")
  }

  /** Every node of `plan`, descending into AQE query stages. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case p => p.children.flatMap(nodes)
  })

  /** Widths of the round-robin exchanges below the text joins of the
    * final plan that are read as written, not through a coalescing
    * AQE read. */
  private def respreadWidths(plan: SparkPlan): Seq[Int] = {
    val below = nodes(nodes(plan).collectFirst { case j: BaseJoinExec => j }
      .getOrElse(fail(s"no join in\n$plan")))
    val coalesced = below.collect { case r: AQEShuffleReadExec => r.child }.toSet
    below.collect {
      case s: ShuffleQueryStageExec if !coalesced(s) => s.shuffle.outputPartitioning
    }.collect { case RoundRobinPartitioning(n) => n }
  }

  for ((name, run) <- Seq[(String, DataFrame => DataFrame)](
      "JaccardJoin.nearDupPairs" ->
        (d => JaccardJoin.nearDupPairs(d, "id", "text", k = 3, minJaccard = 0.5)),
      "MinHashLsh.nearDupPairs" ->
        (d => MinHashLsh.nearDupPairs(d, "id", "text", minJaccard = 0.5))))
    test(s"$name: the verify of a few candidate pairs runs on more than one task") {
      assume(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val width = spark.sessionState.conf.numShufflePartitions
      assert(width > 1)
      val out = run(corpus)
      // runs the adaptive stages; the final stage is the one that verifies
      val tasks = out.queryExecution.toRdd.getNumPartitions
      val plan = out.queryExecution.executedPlan
      assert(respreadWidths(plan) === Seq(width), plan.treeString)
      assert(tasks > 1, plan.treeString)
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
        Seq((0L, 1L), (2L, 3L), (4L, 5L)))
    }
}
