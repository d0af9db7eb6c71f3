package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.operators.Sharding

/** Oracle-checked exercise of the row sharder (SURVEY §2.4 B4): stripe
  * policy over an integer key and over a time key (epoch-second stripes),
  * aggregated to a per-shard distribution the DuckDB oracle recomputes
  * arithmetically. The hash policy has no SQL equivalent (xxhash64 seed 0)
  * and is pinned by ShardingSpec unit vectors instead.
  */
object Sharded {

  def q17ShardDistribution(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir, "events")
    val sharded = events.select(
      Sharding.stripeShard(col("user_id"), 16L, 5).as("shard_uid"),
      Sharding.stripeShard(col("ts"), 3600L, 5).as("shard_hour"))
    Sharding.repartitionByShard(sharded, col("shard_uid"), 5)
      .groupBy("shard_uid", "shard_hour")
      .agg(count(lit(1)).as("n"))
      .orderBy("shard_uid", "shard_hour")
  }

  val entries: Seq[Query] = Seq(
    Query("q17_shard_distribution", q17ShardDistribution,
      """SELECT CAST((user_id // 16) % 5 AS INTEGER) AS shard_uid,
        | CAST(((CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 5)
        |   AS INTEGER) AS shard_hour,
        | count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
