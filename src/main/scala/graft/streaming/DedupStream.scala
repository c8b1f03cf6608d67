package graft.streaming

import graft.functions.Portable.{setFpSpark, toksSpark}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming parity for q58's incremental content dedup (the round-8
  * verdict's "close the loop between the streaming surface and the
  * LLM-pipeline surface" item): documents arrive in micro-batches, and a
  * doc is admitted iff its content fingerprint (q40's normalized token-set
  * md5) has been seen neither in the pre-existing corpus (the LEDGER,
  * loaded as initial state) nor in any earlier batch nor earlier in its
  * own batch — exactly the reference's "never process the same thing
  * twice" ledger gate (fetch_raw_data.py:135) at content granularity,
  * held as keyed streaming state instead of a DynamoDB table.
  *
  * State discipline at 100 TB: one Boolean per DISTINCT fingerprint —
  * the same cardinality the batch ledger table carries, partitioned by
  * the state-store's fp hash; each micro-batch shuffles only its own
  * rows. StreamingSpec proves batch equivalence (same admitted set as
  * q58's anti-join + keep-first when arrival order is doc order) and the
  * cross-batch drop property.
  */
object DedupStream {

  /** Raw streaming row (file or memory source). */
  final case class RawDoc(doc_id: Long, text: String, lang: String,
      n_chars: Long)

  /** Fingerprinted row grouped by fp inside the state operator. */
  final case class Doc(doc_id: Long, lang: String, n_chars: Long, fp: String)

  /** Admitted output row. */
  final case class Admitted(doc_id: Long, lang: String, n_chars: Long,
      fp: String)

  /** q40/q58 content fingerprint: md5 over the sorted distinct token set. */
  def fingerprinted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      expr(setFpSpark(toksSpark("text"))).as("fp"))

  /** The streaming dedup: `docs` is a streaming frame with
    * (doc_id, text, lang, n_chars); `ledger` a batch frame with one `fp`
    * column (the existing corpus' fingerprints). Emits first-arrival docs
    * per fingerprint; within a micro-batch, smallest doc_id wins (the
    * batch operator's keep-first rule).
    */
  def admitted(spark: SparkSession, docs: DataFrame,
      ledger: DataFrame): Dataset[Admitted] = {
    import spark.implicits._
    val initial = ledger.select(col("fp")).as[String]
      .groupByKey(identity).mapValues(_ => true)
    fingerprinted(docs).as[Doc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
        (fp: String, rows: Iterator[Doc], state: GroupState[Boolean]) =>
          // rows can be empty on the first trigger for ledger-only keys
          val batch = rows.toSeq
          val out =
            if (state.exists || batch.isEmpty) Iterator.empty
            else {
              val first = batch.minBy(_.doc_id)
              Iterator.single(
                Admitted(first.doc_id, first.lang, first.n_chars, fp))
            }
          state.update(true)
          out
      }
  }
}
