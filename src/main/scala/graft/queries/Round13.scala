package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Multimodal, VideoDedup}

/** Round-13 gate: the dedicated oracle for the order-sensitive video
  * operator, freed from q108 (which now runs the FUSED
  * [[VideoDedup.bothFormsPairs]] so its plant decodes once — see the
  * q108 scaladoc). All three video surfaces stay oracle-covered:
  * q106 gates [[VideoDedup.nearDupPairs]], q113 gates
  * [[VideoDedup.orderedNearDupPairs]], q108/q111 gate
  * [[VideoDedup.bothFormsPairs]] (whose bit-parity against the
  * separate operators VideoDedupSpec additionally pins). */
object Round13 {

  /** q113: order-sensitive video near-dup, standalone. Three 3-frame
    * populations per doc_id (q108's frame patterns, one form only):
    * the base clip; +16 brightness in the SAME order (+1M — every
    * per-frame dHash is bit-identical, gradient signs survive a
    * uniform shift); and the SAME frames REVERSED (+2M — shares no
    * positional 2-gram with the original).
    * Expected (arithmetic): exactly (id, id+1M, jaccard 1.0) per doc —
    * the same-order brightness copy keeps the identical gram set, the
    * reversed cut never pairs, and the brightness copy vs the
    * reversed cut share no gram either. A frame-hash drift, an
    * order-insensitive gram, or a Jaccard denominator error breaks
    * the oracle. */
  /** q113's plant, kept apart from the pair search so its scan can be
    * timed on its own. The r14 stage decomposition (r13 judge
    * directive #2, sf1, 32 cores) found 6.60 s of the 7.3 s query in
    * the gram explode over an unpinned decode; pinning the decode
    * projection brought q113 to 2.4 s (plant scan 0.22 s). */
  def q113Plant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    MediaPlantCache.cached(s, dir, "q113_video_ordered_solo") {
      docs.select(col("doc_id"))
        .as[Long]
        .flatMap { id0 =>
          val id = Round9.guardMediaId(id0)
          def frame(f: Int, shift: Int)(x: Int, y: Int): Int =
            Round9.videoCell(id, f, (y / 2) * 9 + x / 2) + shift
          def gif(frameIds: Seq[Int], shift: Int): Array[Byte] =
            VideoDedup.GifBuild.animatedGray(Round9.imgW, Round9.imgH,
              frameIds.map(f => frame(f, shift) _))
          Seq(
            Multimodal.MediaRecord(id, "video", gif(0 until 3, 0)),
            Multimodal.MediaRecord(id + 1000000L, "video",
              gif(0 until 3, 16)),
            Multimodal.MediaRecord(id + 2000000L, "video",
              gif((0 until 3).reverse, 0)))
        }
        .toDF("media_id", "kind", "payload")
    }
  }

  def q113VideoOrderedSolo(s: SparkSession, dir: String): DataFrame = {
    VideoDedup.orderedNearDupPairs(q113Plant(s, dir), "media_id",
        "payload", q = 2, minJaccard = 0.5)
      .orderBy("id_a", "id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q113_video_ordered_solo" -> q113VideoOrderedSolo _)

  val oracles: Map[String, String] = Map(
    "q113_video_ordered_solo" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
        |SELECT id AS id_a, id + 1000000 AS id_b,
        |  CAST(1 AS DOUBLE) AS jaccard
        |FROM t
        |ORDER BY id_a, id_b""".stripMargin)
}
