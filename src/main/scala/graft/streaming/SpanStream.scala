package graft.streaming

import graft.SessionMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Materialize}

/** Substring-SPAN dedup as a LIVE ingest stage — the streaming twin
  * of c56 (the way NearDupStream is c3/c12's): the posting store IS
  * the "stored inverted index" c56's scaladoc promises, accumulated
  * batch by batch, and every arriving document's positional shingles
  * probe it for verbatim spans already in the corpus. The emitted cut
  * instructions ([doc_cut, doc_keep, cut_start, keep_start,
  * n_tokens]) are exactly c33/c56's evidence rows — a downstream
  * consumer executes them with c34's island merge before
  * tokenization.
  *
  * Decision semantics, the online keep-first rule: the STORED corpus
  * always keeps, the arriving doc always cuts (c56's role
  * orientation). Within-batch spans are deliberately NOT emitted —
  * the batch's own c33 run is the at-rest compaction's question
  * (c56's exact stance), and the gate's job is the door. Temporal
  * order is made explicit: every stored posting carries the batch id
  * that admitted it, and a probe only reads postings with
  * batch_id < its own — which is ALSO the replay guard (an
  * at-least-once replay of batch N sees its own echoed postings at
  * batch_id = N and ignores them, re-deriving the original spans;
  * the keep-first stores absorb the rewrites).
  *
  * Scale shape: the probe is a key-equi-join of batch postings
  * against the store — batch-sized × matched, never store-sized on
  * the batch side; the combined-occurrence cap ([[Dedup.SpanOccCap]],
  * the stored index's boilerplate rule) bounds per-key fan-out
  * before any pairing, so cross pair volume is ∝ cross-boundary
  * shared-shingle mass (c56's bound, online). The diagonal-run
  * collapse is c33's verbatim window + exchange-sharing groupBy on
  * evidence-sized rows. */
object SpanStream {

  /** The gate's complete per-batch work over a (doc_id, text) batch
    * (derive spans + merge both stores) — ONE spelling shared by the
    * live door ([[Door.live]]), the funnel doors, and the store-backed
    * audits ([[c68SpanStoreAudit]], [[c72SpanExec]]), so the store an
    * audit reads is built by exactly the code the stream runs. */
  private[graft] def processBatch(batch: DataFrame, spanStore: String, postingStore: String,
      batchId: Long, w: Int = Dedup.SpanShingleW, minSpan: Int = Dedup.SpanMinTokens,
      occCap: Int = Dedup.SpanOccCap): Unit = {
    val b = Materialize.frame(batch.select(col("doc_id"), col("text")))
    val (spans, postB) = batchSpans(b, postingStore, batchId, w, minSpan, occCap)
    // span_key needs all four coordinates: one cut position can
    // match several keep positions (distinct diagonals)
    EventsStream.upsertSink(
      spans.withColumn("span_key", concat_ws(":",
        col("doc_cut"), col("doc_keep"), col("cut_start"), col("keep_start"))),
      spanStore, "span_key")
    EventsStream.upsertSink(
      postB.withColumn("batch_id", lit(batchId))
        .withColumn("kdp", concat_ws(":", col("key"), col("doc_id"), col("pos"))),
      postingStore, "kdp")
  }

  /** c68: STORE-BACKED incremental span dedup — c56 with the live
    * gate's accumulated posting store as its base side (the batch
    * operator reading the stream's state: a12's batch/stream closure
    * applied to the span tier; the posting store IS the "stored
    * inverted index" c56's scaladoc promises). The base corpus
    * ([[Dedup.isBaseDoc]]'s cut — c56's own boundary) arrives as TWO
    * polls through [[processBatch]] (the store accumulates across
    * batches, each batch probing only earlier postings), then the
    * delta batch probes the accumulated store with the SAME per-batch
    * derivation the gate runs live. The result must equal — and is
    * oracle-checked against — the full at-rest c56 rebuild: the
    * store-grain proof that live accumulation ≡ batch recompute.
    *
    * Scale shape: each merge is the upsert sink's bucket-pruned
    * keyed merge (batch-sized, never store-sized); the delta probe is
    * batchSpans' key-equi-join — c56's marginal-cost claim, now
    * executed against a real at-rest store rather than a rescan. */
  def c68SpanStoreAudit(spark: SparkSession, dir: String,
      w: Int = Dedup.SpanShingleW, minSpan: Int = Dedup.SpanMinTokens,
      occCap: Int = Dedup.SpanOccCap): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // ONE base-store accumulation per (session, corpus, geometry) —
    // the session-memo discipline: a deployment's posting store is
    // accumulated once and probed many times, so only the DELTA probe
    // below is per-invocation cost (c56's marginal-cost claim)
    val scratch = SessionMemo.store(spark,
        s"c68_span_${dir}_${w}_${minSpan}_$occCap") { root =>
      val base = docs.filter(Dedup.isBaseDoc(col("doc_id")))
      // the base corpus lands as two overlapping-free polls in arrival
      // order — the store accumulates batch by batch
      processBatch(base.filter(col("doc_id") % 2 === 0),
        s"$root/spans", s"$root/postings", 0L, w, minSpan, occCap)
      processBatch(base.filter(col("doc_id") % 2 =!= 0),
        s"$root/spans", s"$root/postings", 1L, w, minSpan, occCap)
    }
    val postingStore = scratch + "/postings"
    val delta = Materialize.frame(docs.filter(!Dedup.isBaseDoc(col("doc_id"))))
    val (spans, _) = batchSpans(delta, postingStore, 2L, w, minSpan, occCap)
    spans.orderBy("doc_cut", "doc_keep", "cut_start", "keep_start")
  }

  /** The per-batch span derivation — exposed so replay idempotence is
    * testable directly (the house batchDecisions pattern). Input `b`
    * must be a materialized (doc_id, text) frame; returns the cut
    * instructions and the batch's posting rows for the store sink. */
  private[graft] def batchSpans(b: DataFrame, postingStore: String, batchId: Long,
      w: Int, minSpan: Int, occCap: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = b.sparkSession
    val postB = Materialize.frame(Dedup.posShingleRows(b, w))
    // only postings admitted by EARLIER batches: temporal keep-first
    // orientation AND the replay guard in one predicate
    val stored = EventsStream.readStore(spark, postingStore,
        "kdp string, doc_id long, pos long, key string, batch_id long")
      .filter(col("batch_id") < batchId)
    // combined-occurrence cap before any pairing (the stored index's
    // boilerplate rule — c56's [2, occCap] on the merged list)
    val storeCnt = stored.groupBy("key").agg(count(lit(1)).as("ns"))
    val okKeys = postB.groupBy("key").agg(count(lit(1)).as("nb"))
      .join(storeCnt, Seq("key"))
      .filter(col("nb") + col("ns") <= occCap)
      .select("key")
    val cross = postB.join(okKeys, Seq("key"))
      .select(col("key"), col("doc_id").as("doc_cut"), col("pos").as("pos_cut"))
      .join(stored.select(col("key"), col("doc_id").as("doc_keep"), col("pos").as("pos_keep")),
        Seq("key"))
      // a re-sent doc probing its own earlier postings is not a span
      .filter(col("doc_keep") =!= col("doc_cut"))
    val run = Window.partitionBy(col("doc_keep"), col("doc_cut"), col("diag"))
      .orderBy(col("pos_cut"))
    val spans = cross
      .withColumn("diag", col("pos_cut") - col("pos_keep"))
      .withColumn("grp", col("pos_cut") - row_number().over(run))
      .groupBy(col("doc_keep"), col("doc_cut"), col("diag"), col("grp"))
      .agg(min(col("pos_keep")).as("keep_start"), min(col("pos_cut")).as("cut_start"),
        (count(lit(1)) + (w - 1)).as("n_tokens"))
      .filter(col("n_tokens") >= minSpan)
      .select(col("doc_cut"), col("doc_keep"), col("cut_start"),
        col("keep_start"), col("n_tokens"))
    (Materialize.frame(spans), postB)
  }

  /** How many polls [[c72SpanExec]] splits the corpus into —
    * oracle-interpolated (the replay models the per-batch
    * combined-occurrence cap, which depends on the boundary). Two
    * polls exercise every cross-batch code path — accumulation,
    * earlier-batch-only probing, the cumulative cap — at ~2/3 the
    * keyed-merge count of three (the r9 verdict's audit-cost dial). */
  val SpanAuditBatches = 2

  /** c72: EXECUTING the live span gate's accumulated cut
    * instructions — the consumer the r12 plan queued ("SpanStream
    * emits cut instructions but nothing executes them"): the whole
    * corpus arrives as [[SpanAuditBatches]] polls through
    * [[processBatch]] (each batch probing only earlier batches'
    * postings — within-batch spans stay deferred to the at-rest
    * c33/c56 run, the gate's documented stance), then the SPAN
    * STORE's cut instructions are merged to disjoint ranges with
    * c34's own island spelling ([[Dedup.islandCuts]] — one
    * implementation for the at-rest and store-fed paths) and priced
    * as effective token counts (c62's report, derived from the LIVE
    * store instead of a batch rebuild).
    *
    * The oracle replays the batch history at rest, including the
    * BATCH-DEPENDENT occurrence cap (a key can pass the cap at an
    * early poll and fail it later as the store grows — cumulative
    * posting counts model exactly what each probe saw). Store grain:
    * the keyed result reads [[cuts]], not the stream. */
  def c72SpanExec(spark: SparkSession, dir: String,
      nBatches: Int = SpanAuditBatches, w: Int = Dedup.SpanShingleW,
      minSpan: Int = Dedup.SpanMinTokens, occCap: Int = Dedup.SpanOccCap): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // ONE gate-history replay per (session, corpus, geometry) — the
    // session-memo discipline: the accumulated span store is the gate's
    // state, built once; this query's own cost is executing the
    // stored cut instructions (island merge + token pricing)
    val scratch = Door.replay(spark, s"c72_exec_${dir}_${nBatches}_${w}_${minSpan}_$occCap",
        docs, nBatches) { (b, root, i) =>
      processBatch(b, s"$root/spans", s"$root/postings", i, w, minSpan, occCap)
    }
    val spanStore = s"$scratch/spans"
    val iv = cuts(spark, spanStore)
      .select(col("doc_cut").as("doc_id"), col("cut_start").as("s"),
        (col("cut_start") + col("n_tokens")).as("e"))
    docs.select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(Dedup.islandCuts(iv).select(col("doc_id"), col("cut_tokens")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"))
      .withColumn("eff_tokens", col("n_tokens") - col("cut_tokens"))
      .orderBy("doc_id")
  }

  /** Every cut instruction the gate has emitted — from the span STORE
    * (decisions, not counters: replays cannot double-count). Routed
    * through the same existence guard as the posting-store read: a
    * gate that processed batches but never emitted a span has no
    * store directory yet, and the query must read as "no cuts", not
    * throw (r8 ADVICE). */
  def cuts(spark: SparkSession, spanStore: String): DataFrame =
    EventsStream.readStore(spark, spanStore,
        "span_key string, doc_cut long, doc_keep long, cut_start long, keep_start long, n_tokens long")
      .select("doc_cut", "doc_keep", "cut_start", "keep_start", "n_tokens")
}
