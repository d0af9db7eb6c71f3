package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared Hamming-band blocking over 64-bit fingerprints — the one
  * join shape behind SimHash text near-dup (q24), perceptual image
  * near-dup ([[ImageDedup]], q102), audio energy-hash near-dup
  * ([[AudioDedup]], q104) and video near-dup ([[VideoDedup]]): explode
  * each signature into `bands` slices, bucket on (band index, slice
  * bits), and verify the EXACT Hamming distance in-bucket with the lazy
  * [[graft.functions.HammingPairs]] generator under
  * [[FilterVerify.expandBuckets]]. For `maxHamming < bands` the result
  * is EXACT by pigeonhole: a pair within distance h < bands has at least
  * one untouched slice, so it meets in that band's bucket; HammingPairs
  * rejects everything farther, so nothing is invented either. q24 runs
  * the same blocking with fewer bands than its distance bound
  * ([[bandPairs]]), so its recall is pinned by NearDupSpec instead.
  *
  * Scale shape: one shuffle of (band, key, id, sig) rows — 8-byte
  * signatures, never payloads. Bucket population is ~N/2^(64/bands)
  * per band; in-bucket work is pair-quadratic only within a bucket
  * (mega-bucket guidance in NearDup's scaladoc applies unchanged).
  */
object HammingBand {

  /** Fail loudly on a non-integral id column: a silent long-cast of
    * string ids would null them all and collapse every member to id 0
    * inside a pair generator. Shared by [[pairs]] and
    * [[VideoDedup.orderedNearDupPairs]], which casts the same way. */
  private[operators] def requireIntegralId(
      df: DataFrame, idCol: String): Unit =
    df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case t => throw new IllegalArgumentException(
        s"$idCol must be an integral id column, got ${t.catalogString}")
    }

  /** All pairs (id_a < id_b, hamming ≤ maxHamming) among rows whose
    * `sig` is non-null. `sig` must be a 64-bit fingerprint column;
    * `idCol` must be an integral column. */
  def pairs(
      df: DataFrame, idCol: String, sig: Column,
      maxHamming: Int, bands: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bands,
      s"exactness needs maxHamming < bands, got $maxHamming/$bands")
    bandPairs(df, idCol, sig, maxHamming, bands)
  }

  /** [[pairs]] without the pigeonhole bound: with `maxHamming ≥ bands` a
    * pair within the distance that differs in every band is missed. */
  private[graft] def bandPairs(
      df: DataFrame, idCol: String, sig: Column,
      maxHamming: Int, bands: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64: $bands")
    requireIntegralId(df, idCol)
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    // signature once per row, in its own projection (multi-referenced
    // non-cheap alias → CollapseProject leaves it); null signatures die
    // at the explode (null array → no rows) instead of a Filter on the
    // alias, which predicate-pushdown would rewrite into a SECOND
    // evaluation of the decode+hash below the projection
    val sigs = df.select(col(idCol).cast("long").as("__id"), sig.as("__sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("__sig"), b * bandBits).bitwiseAND(lit(mask))
          .as("key"))
    }
    val bucketed = sigs.select(col("__id"), col("__sig"),
      explode(when(col("__sig").isNotNull, array(bandCols: _*))).as("__bb"))
    FilterVerify.expandBuckets(bucketed, Seq(col("__bb")),
      struct(col("__id"), col("__sig")), "HammingBand.pairs")(
      graft.functions.HammingPairs(_, maxHamming = maxHamming))
  }
}
