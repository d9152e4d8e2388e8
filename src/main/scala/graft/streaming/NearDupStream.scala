package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Materialize}

/** Near-duplicate admission as a LIVE ingest stage — the THIRD gate
  * of the live funnel: CurationStream decides QUALITY, DecontamStream
  * decides LEAKAGE, this decides NOVELTY. Documents arrive as a
  * stream; each micro-batch is banded with c3's MinHash/LSH geometry,
  * probed against the accumulated band keys of previously KEPT docs,
  * verified with the exact-Jaccard spelling every batch dedup tier
  * uses, and admitted keep-one-per-cluster — so the store never
  * accumulates the near-dup mass an at-rest c12 run would later have
  * to claw back.
  *
  * Decision semantics (deterministic, order-free within a batch):
  * build the verified pair graph over {batch docs} ∪ {matched
  * keepers}, label components (Dedup.labelComponents — the same
  * labeler c12/c32/d6 use), then per component: if it contains a
  * keeper, every batch member drops citing the minimum keeper;
  * otherwise the minimum batch doc keeps and the rest drop citing
  * it. On a single batch with empty stores this IS c12's
  * keep-one-per-cluster decision (spec-pinned); across batches it is
  * the online greedy at cluster grain. Transitive chains that
  * STRADDLE a batch boundary can differ from the one-shot batch run
  * (the c-side of a chain may arrive after its bridge was dropped) —
  * that is inherent to any online dedup; what the gate guarantees is
  * precision: every drop cites a VERIFIED near-dup that was actually
  * kept (no false drops), and every admitted doc was verified
  * against every kept doc LSH surfaced.
  *
  * Exactly-once shape (the house pattern, [[Door]]): a micro-batch
  * is delivered at-least-once, all three sinks are keep-first keyed
  * merges, and a replayed batch re-derives the SAME decisions because
  * keepers that came from the batch itself are excluded from the
  * probe (on replay the band store already holds them — without the
  * exclusion every doc would "duplicate" its own stored bands).
  *
  * Scale shape: the probe joins batch band keys against the band
  * store on band_key — batch-sized × matched, never store-sized.
  * Keeper-side band buckets are self-bounding: kept docs are
  * mutually non-duplicate by construction, so a band key is shared
  * only by hash collision, and the pair graph stays candidate-
  * bounded exactly as batch LSH's is. Only matched keepers' texts
  * are re-shingled (a keyed join into the keep store, not a scan). */
object NearDupStream {

  /** Admission bar — c12's verified-Jaccard threshold, compared on
    * the 4-rounded value so the branch taken is engine-exact. */
  val JaccardThreshold = 0.5

  /** One micro-batch of (doc_id, text) through the standalone gate —
    * the live door's step ([[Door.live]]): decide the batch
    * ([[batchDecisions]]), then merge the decision, keep and band
    * stores keep-first. */
  private[graft] def processBatch(batch: DataFrame, decisionStore: String,
      keepStore: String, bandStore: String, threshold: Double = JaccardThreshold): Unit = {
    val b = Materialize.frame(batch.select(col("doc_id"), col("text")))
    val (decisions, bandsB) = batchDecisions(b, bandStore, keepStore, threshold)
    EventsStream.upsertSink(decisions, decisionStore, "doc_id")
    val kept = decisions.filter(col("admitted")).select("doc_id")
    EventsStream.upsertSink(b.join(kept, Seq("doc_id")), keepStore, "doc_id")
    EventsStream.upsertSink(keptBandRows(bandsB, kept), bandStore, "bk_doc")
  }

  /** The kept docs' band rows, keyed for the band store's keep-first
    * merge — shared by this gate and the composed funnel gate. */
  private[streaming] def keptBandRows(bandsB: DataFrame, kept: DataFrame): DataFrame =
    bandsB.join(kept, Seq("doc_id"))
      .select(concat_ws(":", col("band_key"), col("doc_id")).as("bk_doc"),
        col("band_key"), col("doc_id"))

  /** The per-batch admission decision — ONE spelling shared by the
    * standalone gate and the composed funnel gate ([[FunnelStream]]),
    * so the novelty policy cannot drift between them. Input `b` must
    * be a materialized (doc_id, text) frame; returns (decisions
    * (doc_id, admitted, dup_of) — materialized, and the batch's band
    * rows for the store sink). */
  private[streaming] def batchDecisions(b: DataFrame, bandStore: String,
      keepStore: String, threshold: Double): (DataFrame, DataFrame) = {
    val spark = b.sparkSession
    val sets = Materialize.frame(Dedup.directShingleSets(b))
    val bandsB = Materialize.frame(Dedup.bandKeyRows(sets))

    // cross-batch candidates: batch bands ⋈ kept-doc bands; a
    // keeper that is itself in this batch is a replay echo of our
    // own writes — excluded so replays re-derive the original
    // decisions
    val crossCand = bandsB
      .join(EventsStream.readStore(spark, bandStore, "band_key string, doc_id long")
        .withColumnRenamed("doc_id", "keeper_id"), Seq("band_key"))
      .select(col("doc_id"), col("keeper_id")).distinct()
      .join(b.select(col("doc_id").as("keeper_id")), Seq("keeper_id"), "left_anti")
    // verify against the matched keepers only: keyed join into the
    // keep store for their texts, one shingle pass over that slice
    val keeperSets = Dedup.directShingleSets(
      EventsStream.readStore(spark, keepStore, "doc_id long, text string")
        .join(crossCand.select(col("keeper_id").as("doc_id")).distinct(), Seq("doc_id")))
    val crossPairs = crossCand
      .join(sets.select(col("doc_id"), col("sh").as("sh_a")), Seq("doc_id"))
      .join(keeperSets.select(col("doc_id").as("keeper_id"), col("sh").as("sh_b")),
        Seq("keeper_id"))
      .select(col("doc_id").as("doc_a"), col("keeper_id").as("doc_b"),
        round((size(col("sh_a")) + size(col("sh_b"))
            - size(array_union(col("sh_a"), col("sh_b")))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
    // within-batch pairs: the one shared pair spelling
    val pairs = Dedup.candidatePairsFromSets(sets)
      .unionByName(crossPairs)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))

    // component labels over batch ∪ keepers; keepers win clusters
    val keepers = crossPairs.select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_keeper", lit(true))
    val labeled = Dedup.labelComponents(pairs)
      .withColumnRenamed("label", "comp")
      .join(keepers, Seq("doc_id"), "left")
    val perComp = labeled.groupBy("comp").agg(
      min(when(col("is_keeper"), col("doc_id"))).as("min_keeper"),
      min(when(col("is_keeper").isNull, col("doc_id"))).as("anchor"))
    val decisions = Materialize.frame(b.select(col("doc_id"))
      .join(labeled.filter(col("is_keeper").isNull)
        .join(perComp, Seq("comp"))
        .select(col("doc_id"), col("min_keeper"), col("anchor")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("min_keeper").isNotNull, lit(false))
          .when(col("anchor").isNotNull && col("anchor") =!= col("doc_id"), lit(false))
          .otherwise(lit(true)).as("admitted"),
        coalesce(col("min_keeper"),
          when(col("anchor") =!= col("doc_id"), col("anchor"))).as("dup_of")))
    (decisions, bandsB)
  }

  /** Every admission decision the gate has taken — derived from the
    * decision STORE (decisions, not counters: replays cannot
    * double-count). */
  def decisions(spark: SparkSession, decisionStore: String): DataFrame =
    spark.read.parquet(decisionStore)
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "admitted", "dup_of")
}
