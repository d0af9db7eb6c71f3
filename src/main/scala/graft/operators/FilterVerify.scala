package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.functions._

import graft.functions.ColumnBridge

/** Filter-and-verify, the shape shared by the similarity joins
  * ([[JaccardJoin]], [[ContainmentJoin]], [[MinHashLsh]],
  * [[HammingBand]], [[Ann.embedNearDupLsh]], q24, q31): block the
  * corpus on a signature, expand candidate pairs inside each block,
  * then verify the exact measure on candidates only (REPOSE and the
  * streaming time-series search in PAPERS.md frame similarity search
  * the same way). The signature and its prefix rule stay with each
  * operator ([[StopGrams.prefix]] for the gram joins); this object
  * holds the two steps every caller repeated.
  */
object FilterVerify {

  /** In-bucket expansion: one shuffle groups `buckets` on `bucket`,
    * collects each bucket's `member` values, keeps buckets of two or
    * more members, and streams each through the lazy pair generator
    * `pairs` builds over the collected array. The size that the `> 1`
    * filter reads is also the hot-bucket probe ([[SkewTools
    * .monitoredSize]], tagged `tag`), so the probe costs nothing. The
    * generator's first two fields come out as `id_a` and `id_b`, any
    * further field keeps its name, and a pair met in several buckets is
    * kept once (a further field must be a function of the pair). */
  private[graft] def expandBuckets(
      buckets: DataFrame, bucket: Seq[Column], member: Column, tag: String)(
      pairs: Expression => Generator): DataFrame = {
    val gen = pairs(ColumnBridge.expr(col("__members")))
    val names = Seq("id_a", "id_b") ++ gen.elementSchema.fieldNames.drop(2)
    buckets
      .groupBy(bucket: _*)
      .agg(collect_list(member).as("__members"))
      .filter(SkewTools.monitoredSize(size(col("__members")), tag) > 1)
      .select(ColumnBridge.col(gen).as(names))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact verify: `cands` (id_a, id_b, any echoed columns) joins the
    * `textCol` of both ids from `docs` (text, or Ann's vectors), and
    * `measure(value_a, value_b)` is appended as `name`; the caller
    * applies its threshold.
    *
    * The candidates are re-spread first, round-robin to a pinned
    * `numShufflePartitions`: their pair rows are a few bytes each, so AQE
    * coalesces the dedup's exchange to one partition and the per-pair
    * verify would run as one task (measured for the Jaccard join: the
    * verify 4.5 s on one task against 0.2 s spread, the query 6.0 →
    * 2.0 s; and a one-task q38 verify stage, 0.56 s of a ~2 s row). A hash repartition on the ids would be elided against the
    * dedup's own partitioning, and an unpinned count is itself
    * coalescible (pinned by FilterVerifySpec). */
  private[graft] def verify(
      cands: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      name: String)(measure: (Column, Column) => Column): DataFrame = {
    val rawA = docs.select(col(idCol).as("id_a"), col(textCol).as("__t_a"))
    val rawB = docs.select(col(idCol).as("id_b"), col(textCol).as("__t_b"))
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    cands
      .repartition(nPart)
      .join(rawA, "id_a").join(rawB, "id_b")
      .select(cands.columns.map(col).toSeq :+
        measure(col("__t_a"), col("__t_b")).as(name): _*)
  }
}
