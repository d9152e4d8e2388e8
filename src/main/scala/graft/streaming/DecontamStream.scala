package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Benchmark decontamination as a LIVE ingest stage — c35's Bloom
  * probe applied per micro-batch: documents arrive as a stream, each
  * is scored against a PRE-BUILT static benchmark bit table (the
  * bounded ≤2^20-position structure c35 builds once — at deployment,
  * from the eval corpora you must never train on), and docs whose
  * flagged-shingle share exceeds the admission bar are refused at
  * the door instead of being found by an at-rest scan later.
  * CurationStream decides QUALITY at ingest; this decides LEAKAGE at
  * ingest — together they are the two gates a live training-data
  * funnel runs in front of the store.
  *
  * Same exactly-once shape as CurationStream: a micro-batch is
  * delivered at-least-once, both sinks are keep-first keyed merges
  * (EventsStream.upsertSink), so replayed micro-batches re-offer
  * rows the stores already hold and change nothing; the decision
  * log — not counters — is the reporting source.
  *
  * Scale shape: the bit table is bounded by construction (never
  * benchmark-proportional), so the per-batch probe is k broadcast
  * lookups over a narrow projection — no shuffle except the
  * batch-sized per-doc aggregate — and each upsert merge touches
  * only the buckets the micro-batch lands in.
  *
  * Determinism caveat the batch twin doesn't have: a doc with NO
  * 3-gram shingles (<3 words) produces no probe rows; the gate
  * admits it with n_sh = 0 (nothing to leak), where batch c35 simply
  * omits it from the report. The spec compares on shingled docs and
  * pins the n_sh = 0 admission separately. */
object DecontamStream {

  /** Highest admissible flagged-shingle share — an operator constant
    * like c35's geometry, compared on the 4-rounded frac so the
    * branch taken is engine-exact. */
  val MaxFlaggedFrac = 0.1

  /** One micro-batch of (doc_id, text) through the gate — the live
    * door's step ([[Door.live]]). `bits` is the STATIC benchmark bit
    * table (TextAnalysis.bloomBitsFromKeys — built once, outside the
    * stream); `decisionStore` accumulates the per-doc probe rows +
    * verdict; `keepStore` accumulates admitted (doc_id, text). */
  private[graft] def processBatch(batch: DataFrame, bits: DataFrame,
      decisionStore: String, keepStore: String, maxFrac: Double = MaxFlaggedFrac): Unit = {
    // probe once per micro-batch, feed both sinks from the one scored
    // frame; docs without shingles rejoin with n_sh = 0
    val scored = graft.operators.Materialize.frame(
      batch.select(col("doc_id"), col("text"))
        .join(TextAnalysis.bloomProbeRows(
            TextAnalysis.docShingles8Direct(batch), bits),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("n_sh"), lit(0L)).as("n_sh"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          coalesce(col("flagged_frac"), lit(0.0)).as("flagged_frac"))
        .withColumn("admitted", col("flagged_frac") <= maxFrac))
    EventsStream.upsertSink(
      scored.select(col("doc_id"), col("n_sh"), col("n_flagged"),
        col("flagged_frac"), col("admitted")),
      decisionStore, "doc_id")
    EventsStream.upsertSink(
      scored.filter(col("admitted")).select(col("doc_id"), col("text")),
      keepStore, "doc_id")
  }

  /** Every decision the gate has taken, batch-c35-shaped (plus the
    * verdict column) — derived from the decision STORE, so replays
    * cannot double-count. */
  def decisions(spark: SparkSession, decisionStore: String): DataFrame =
    spark.read.parquet(decisionStore)
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "n_sh", "n_flagged", "flagged_frac", "admitted")
}
