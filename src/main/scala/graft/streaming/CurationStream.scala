package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** The LLM curation gate as a LIVE pipeline stage: documents arrive
  * as a stream (the ingest side of Pipeline.runOnce's shape), every
  * micro-batch is decided by c23's cascade, and two keep-first
  * stores accumulate the results — the assembled training corpus
  * (kept docs) and the per-doc decision log the c23 report derives
  * from. The batch tier decides a corpus at rest; this is the same
  * DECISION (same `curationReasonOf` column, same report spelling
  * via TextAnalysis.curationReport) applied at ingest time, so a
  * corpus curated live and the same corpus curated at rest produce
  * byte-equal reports (Round7Spec pins this across a micro-batch
  * boundary).
  *
  * Exactly-once without a state store: a micro-batch is delivered
  * at-least-once ([[Door]]), so BOTH sinks are
  * EventsStream.upsertSink keep-first merges keyed by doc_id — a
  * replayed micro-batch re-offers rows the store already holds and
  * changes nothing. The report is derived from the decision STORE,
  * never from incrementally-maintained counters (counters
  * double-count on replay; the keyed store cannot).
  *
  * Scale shape: the cascade is a narrow per-row projection (no
  * shuffle), and each upsert merge touches only the hash-buckets the
  * micro-batch lands in — batch-sized work per trigger, independent
  * of store size, the same contract the reference-pipeline ingest
  * rides. */
object CurationStream {

  /** One micro-batch of (doc_id, text) through the gate — the live
    * door's step ([[Door.live]]). `reasonStore` accumulates (doc_id,
    * reason); `keepStore` accumulates the admitted (doc_id, text). */
  private[graft] def processBatch(batch: DataFrame, reasonStore: String,
      keepStore: String): Unit = {
    // decide once per micro-batch, feed both sinks from the one
    // decided frame (localCheckpoint: the cascade's regexes run once,
    // not once per sink)
    val decided = graft.operators.Materialize.frame(
      batch.select(col("doc_id"), col("text"),
        TextAnalysis.curationReasonOf(col("text")).as("reason")))
    EventsStream.upsertSink(
      decided.select(col("doc_id"), col("reason")), reasonStore, "doc_id")
    EventsStream.upsertSink(
      decided.filter(col("reason") === "keep").select(col("doc_id"), col("text")),
      keepStore, "doc_id")
  }

  /** The c23 report over everything the gate has ingested — same
    * rows batch c23 produces over the same corpus at rest. */
  def report(spark: SparkSession, reasonStore: String): DataFrame =
    TextAnalysis.curationReport(
      spark.read.parquet(reasonStore)
        .drop(EventsStream.KeyBucketCol)
        .select(col("reason")))
}
