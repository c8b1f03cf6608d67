package graft.streaming

import graft.queries.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming MEDIA near-dup admission — the perceptual-fingerprint twin
  * of [[NearDupStream]] (round-11 verdict: the batch media near-dup pair
  * q352/q378 had no streaming leg while text had three). Fingerprinted
  * assets arrive in micro-batches as `(media_id, fp)` rows — the SAME
  * 60-bit frames the batch queries band (`Multimodal.imagePhash` /
  * `Multimodal.audioFingerprint`; fingerprinting is a stateless
  * per-asset map, so ingest adapters run it upstream with the identical
  * decode plumbing) — and each asset's 4 15-bit bands route it to keyed
  * state holding every earlier asset in that bucket: the pre-built
  * corpus band index as initial state, plus earlier stream arrivals. A
  * bucket collision is scored with the batch operators' exact rule
  * (popcount of fp XOR vs the per-modality threshold) and EVERY
  * collision emits an evidence row carrying `hamming` and the `near_dup`
  * verdict, exactly like the batch pair frames.
  *
  * Bucket-cap discipline (the q42/q352 linearity rule, online form): a
  * bucket holding `cap` members is SATURATED — later arrivals neither
  * score nor store in it (their other 3 bands still work), so per-arrival
  * work is bounded by 4 x cap regardless of skew. The batch operator
  * drops over-cap buckets retroactively (it sees final occupancy); an
  * append-mode stream cannot retract, so saturation is the online
  * equivalent: identical behavior while occupancy stays at or under cap
  * (StreamingSpec proves pair-set equality with q352/q378 there — the
  * fixture's max occupancy is 3), bounded-not-dropped beyond it
  * (StreamingSpec proves the work bound on a synthetic hot bucket).
  *
  * Emission contract: one [[MediaDedupStream.Match]] per (band, colliding
  * pair) — a pair colliding in k bands emits k identical-hamming rows,
  * all in the SAME trigger, so a per-pair distinct downstream is
  * stateless per micro-batch. Within a micro-batch, lower media_id is
  * "earlier" (the batch media_a < media_b discipline); across
  * micro-batches, arrival order decides — feed in id order for parity
  * with the batch pair frames.
  *
  * State discipline at 100 TB: the key space is the fixed 4 x 2^15 band
  * grid (no key-cardinality trap), state per key is <= cap entries of
  * 16 bytes (media_id + fp) — over-cap CORPUS buckets are truncated to
  * cap at initial-state load (they are saturated from the first
  * trigger, so the excess would be dead weight; round-12 advice) — the
  * whole index is <= 4 x 32768 x cap entries ~ gigabytes at most,
  * trivially partitioned by the state store; per trigger only the
  * arriving assets' 4 band rows shuffle.
  */
object MediaDedupStream {

  /** One bucket member held in state. */
  final case class Entry(media_id: Long, fp: Long)

  /** One banded index row of an arriving asset. */
  final case class BandRow(band_j: Int, band: Int, media_id: Long, fp: Long)

  /** Collision evidence: `new_media` (the later arrival) collided with
    * `matched_media` in band `band_j`; `near_dup` is the batch verdict.
    */
  final case class Match(new_media: Long, matched_media: Long, band_j: Int,
      hamming: Int, near_dup: Boolean)

  /** Raw fingerprinted asset — typed for MemoryStream feeding. */
  final case class RawFp(media_id: Long, fp: Long)

  /** 4 x 15-bit band rows of a fingerprint frame — the identical band
    * split the batch candidates (`Dedup.coolBands`) self-join on.
    */
  private def banded(df: DataFrame): DataFrame =
    df.select(col("media_id"), col("fp"),
        posexplode(Dedup.bandSplit("fp", 4, 15)))
      .select(col("pos").cast("int").as("band_j"),
        col("col").cast("int").as("band"), col("media_id"), col("fp"))

  /** The streaming collision evidence: `fps` is a streaming frame with
    * (media_id, fp); `corpus` a batch frame of the same shape (the
    * pre-existing corpus whose band index becomes the initial state).
    * `threshold` is the per-modality hamming gate
    * ([[Multimodal.PhashThreshold]] for images,
    * [[Multimodal.AudioFpThreshold]] for audio).
    */
  def matches(spark: SparkSession, fps: DataFrame, corpus: DataFrame,
      threshold: Int,
      cap: Int = Multimodal.PhashBucketCap): Dataset[Match] = {
    import spark.implicits._
    // over-cap corpus buckets are SATURATED from the first trigger —
    // they never score or grow — so carrying more than `cap` members
    // would be dead weight in keyed state forever; truncate to the cap
    // (lowest media_ids, for determinism). Behavior is unchanged: the
    // size >= cap branch below skips scoring and storing either way.
    val initial = banded(corpus).as[BandRow]
      .groupByKey(r => (r.band_j, r.band))
      .mapGroups((k, rows) =>
        (k._1, k._2, rows.map(r => Entry(r.media_id, r.fp)).toList
          .sortBy(_.media_id).take(cap)))
      .groupByKey(t => (t._1, t._2))
      .mapValues(_._3)
    banded(fps).as[BandRow]
      .groupByKey(r => (r.band_j, r.band))
      .flatMapGroupsWithState[List[Entry], Match](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
        (key: (Int, Int), rows: Iterator[BandRow],
            state: GroupState[List[Entry]]) =>
          // rows can be empty on the first trigger for index-only keys
          val arrived = rows.toSeq.sortBy(_.media_id)
          var members = state.getOption.getOrElse(Nil)
          var size = members.size
          val out = Seq.newBuilder[Match]
          var stored = false
          arrived.foreach { r =>
            // saturation: a full bucket stops scoring AND growing
            if (size < cap) {
              members.foreach { e =>
                if (e.media_id != r.media_id) {
                  val h = java.lang.Long.bitCount(e.fp ^ r.fp)
                  out += Match(r.media_id, e.media_id, key._1, h,
                    h <= threshold)
                }
              }
              members = Entry(r.media_id, r.fp) :: members
              size += 1
              stored = true
            }
          }
          if (stored) state.update(members)
          out.result().iterator
      }
  }
}
