package graft.streaming

import graft.functions.Portable.toksSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming deployment of q313's trained quality gate: the model is
  * trained ONCE in batch (graft.queries.Selection.gateWeights — the
  * 256-bucket NB likelihood-ratio weights) and frozen as a literal map;
  * scoring a document stream is then a row-local expression — no state
  * store, no watermark, no shuffle — because a document's tokens live in
  * its own row. That is the production shape for corpus gating: training
  * is the corpus-sized batch job, admission is a stateless map over the
  * ingest stream, and the model redeploys by restarting the query with
  * new weights (the same split the reference draws between its Glue batch
  * job and its event-driven ingest path).
  *
  * StreamingSpec proves stream==batch equality of the scored output and
  * that the streaming plan carries no stateful operator.
  */
object GateStream {

  /** Row-local score columns for a frame with a `text` column, given the
    * frozen model. Per-doc fold order is the token array order, so the
    * same expression is bit-identical in batch and per-micro-batch.
    *
    * Cold-bucket semantics match q313's batch scorer exactly: a token
    * whose bucket is absent from the frozen map (possible when a frozen
    * model meets out-of-training ingest data) is excluded from BOTH the
    * score numerator and `n_tokens` — the same rows q313's inner join on
    * `bucket` drops. A doc whose every token is cold has n_tokens = 0
    * and never keeps (the conservative admission for unscorable text).
    */
  def scored(docs: DataFrame, weights: Map[Int, Double]): DataFrame = {
    val wmap: Column = typedlit(weights)
    val toks = s"filter(${toksSpark("text")}, x -> x != '')"
    val bucket = graft.queries.Selection.gateBucketSpark("t")
    // per-token model lookup, computed once: null = cold bucket
    val ws = s"transform($toks, t -> element_at(wm, cast($bucket as int)))"
    val scoreExpr =
      s"""aggregate(filter($ws, w -> w is not null), cast(0 as double),
          (acc, w) -> acc + w)"""
    docs
      .withColumn("wm", wmap)
      .withColumn("n_tokens",
        expr(s"size(filter($ws, w -> w is not null))").cast("long"))
      .withColumn("score", expr(scoreExpr))
      // empty/whitespace-only/all-cold docs have n_tokens = 0: guard the
      // divide (ANSI mode throws on 0.0/0.0 and one bad ingest row must
      // not kill the stream) — they never keep
      .withColumn("keep",
        when(col("n_tokens") > 0,
          col("score") / col("n_tokens").cast("double") >= 1.0)
          .otherwise(lit(false)))
      .drop("wm")
  }
}
