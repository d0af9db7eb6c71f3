package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: its builder over an sf directory and the
  * DuckDB SQL the oracle compare hash-checks its result against. A `readBack`
  * query's oracle reads the query's own output back from
  * `SparkEntry.oracleInputDir/<name>.parquet` and re-derives the
  * SQL-expressible part from the raw tables; [[Verify]] writes that
  * copy. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    readBack: Boolean = false)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 exposed as a
  * `(SparkSession, sfDir) => DataFrame`; [[oracleSql]] carries the DuckDB
  * equivalent the driver hash-compares against. Column names/types are kept
  * identical on both sides and every query is totally ordered.
  */
object SparkEntry {

  /** Fixed location Verify copies read-back results to, so their oracles
    * can reference a stable absolute path — the caller of Verify chooses
    * its own outDir, which the oracle SQL can't see. A constant, so the
    * query modules that inline it never initialize this object. */
  final val oracleInputDir = "/root/repo/target/oracle_inputs"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q01AggPushdown(spark, "/root/testdata/sf0.001")

  /** Every query, each declared once by its workload family. */
  lazy val registry: Seq[Query] = {
    import graft.queries._
    build(Seq(Relational.entries, Parsing.entries, Enrichment.entries,
      Sharded.entries, LlmPipeline.entries, CorpusExtras.entries,
      PipelineExtras.entries, EventQueries.entries, Statistics.entries,
      SqlSurface.entries, MediaDedup.entries, DedupGates.entries).flatten)
  }

  /** `entries` unchanged, after checking every name is declared once. */
  private[graft] def build(entries: Seq[Query]): Seq[Query] = {
    val dups = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
