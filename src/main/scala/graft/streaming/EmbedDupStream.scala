package graft.streaming

import graft.SessionMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.VectorFns
import graft.operators.{Dedup, Materialize, Similarity}

/** EMBEDDING near-dup admission as a LIVE ingest stage — the vector
  * twin of [[NearDupStream]] (SemDeDup at the door instead of at
  * rest): vectors arrive as a stream; each micro-batch is bucketed
  * with c5's sign-LSH geometry, probed against the accumulated
  * bucket keys of previously KEPT vectors, verified with the exact
  * rounded-cosine spelling the whole similarity tier pins
  * (Similarity.pairCos ↔ the oracle's cosN), and admitted
  * keep-one-per-cluster — so the corpus never accumulates the
  * semantic-dup mass an at-rest c32 run would later claw back.
  *
  * Decision semantics mirror NearDupStream CLAUSE FOR CLAUSE (one
  * policy, two evidence kinds): verified pair graph over {batch} ∪
  * {matched keepers}, components via Dedup.labelComponents, keepers
  * win their clusters (drop cites the minimum keeper), otherwise the
  * minimum batch vec keeps and the rest cite it. On one batch with
  * empty stores this IS c32's keep-one-per-cluster decision;
  * replay-safety is the same batch-resident-keeper exclusion.
  *
  * Scale shape: the probe joins batch bucket keys against the bucket
  * store — batch-sized × matched, never store-sized; kept vectors
  * are mutually non-near-dup by construction, so keeper buckets stay
  * collision-bounded. Within-batch candidates run under c5's
  * degenerate-bucket cap; only matched keepers' embeddings are
  * re-read (a keyed join into the keep store, not a scan). */
object EmbedDupStream {

  /** Admission bar — c32's SemDeDup threshold, compared on the
    * 4-rounded cosine so the branch taken is engine-exact. */
  val CosThreshold: Double = Similarity.SemDedupThreshold

  /** c5's oracle geometry: one 8-bit sign table at offset 0. */
  val SignBits: Int = Similarity.DefaultSignBits

  def embedDupGate(vecs: DataFrame, decisionStore: String, keepStore: String,
      bucketStore: String, threshold: Double = CosThreshold,
      checkpoint: Option[String] = None): StreamingQuery =
    checkpoint.foldLeft(vecs.writeStream)((w, dir) => w.option("checkpointLocation", dir))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = Materialize.frame(batch.select(col("vec_id"), col("embedding")))
        val (decisions, bucketsB) = batchDecisions(b, bucketStore, keepStore, threshold)
        EventsStream.upsertSink(decisions, decisionStore, "vec_id")
        val kept = decisions.filter(col("admitted")).select("vec_id")
        EventsStream.upsertSink(b.join(kept, Seq("vec_id")), keepStore, "vec_id")
        EventsStream.upsertSink(keptBucketRows(bucketsB, kept), bucketStore, "bk_vec")
        ()
      }
      .start()

  /** The kept vectors' bucket rows, keyed for the store's keep-first
    * merge. */
  private[streaming] def keptBucketRows(bucketsB: DataFrame, kept: DataFrame): DataFrame =
    bucketsB.join(kept, Seq("vec_id"))
      .select(concat_ws(":", col("bucket"), col("vec_id")).as("bk_vec"),
        col("bucket"), col("vec_id"))

  /** The per-batch admission decision — ONE spelling shared by the
    * live gate and the store-grain audit ([[c84EmbedGateAudit]]).
    * Input `b` must be a materialized (vec_id, embedding) frame;
    * returns (decisions (vec_id, admitted, dup_of) — materialized,
    * and the batch's bucket rows for the store sink). */
  private[graft] def batchDecisions(b: DataFrame, bucketStore: String,
      keepStore: String, threshold: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = b.sparkSession
    // the c5 dims guard: a narrower corpus fails loudly, not by
    // silently hashing past-end nulls to bucket-bit 0
    val guarded = b.filter(assert_true(size(col("embedding")) >= SignBits,
      concat(lit(s"embed gate: $SignBits sign bits need ≥$SignBits dims, embedding has "),
        size(col("embedding")))).isNull)
    val nb = Materialize.frame(Similarity.withNorm(guarded))
    val bucketsB = Materialize.frame(nb.select(col("vec_id"),
      VectorFns.signBucket(col("embedding"), SignBits).as("bucket")))

    // cross-batch candidates: batch buckets ⋈ kept-vector buckets;
    // batch-resident keepers are replay echoes of our own writes —
    // excluded so replays re-derive the original decisions
    val crossCand = bucketsB
      .join(readOrEmpty(spark, bucketStore, "bucket bigint, vec_id bigint")
        .withColumnRenamed("vec_id", "keeper_id"), Seq("bucket"))
      .select(col("vec_id"), col("keeper_id")).distinct()
      .join(b.select(col("vec_id").as("keeper_id")), Seq("keeper_id"), "left_anti")
    // verify against matched keepers only: keyed join into the keep
    // store for their embeddings, never a store scan
    val keeperVecs = Similarity.withNorm(
      readOrEmpty(spark, keepStore, "vec_id bigint, embedding array<float>")
        .join(crossCand.select(col("keeper_id").as("vec_id")).distinct(), Seq("vec_id")))
    val crossPairs = crossCand
      .join(nb.select(col("vec_id"), col("embedding").as("emb_a"), col("nrm").as("nrm_a")),
        Seq("vec_id"))
      .join(keeperVecs.select(col("vec_id").as("keeper_id"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), Seq("keeper_id"))
      .select(col("vec_id").as("doc_a"), col("keeper_id").as("doc_b"),
        Similarity.pairCos("emb_a", "nrm_a", "emb_b", "nrm_b").as("cos"))
    // within-batch pairs under c5's degenerate-bucket cap (cross
    // probes stay uncapped, the text gate's exact asymmetry: keeper
    // buckets are collision-bounded by construction)
    val capped = bucketsB
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bsz") <= Dedup.BucketCap)
      .drop("bsz")
    val withinPairs = capped.as("a")
      .join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      .join(nb.select(col("vec_id").as("doc_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a")), Seq("doc_a"))
      .join(nb.select(col("vec_id").as("doc_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Similarity.pairCos("emb_a", "nrm_a", "emb_b", "nrm_b").as("cos"))
    val pairs = withinPairs.unionByName(crossPairs)
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"))

    // component labels over batch ∪ keepers; keepers win clusters —
    // NearDupStream's exact decision tail at vector grain (the
    // decideFromPairs spelling shared with the c157 sketch gate)
    (decideFromPairs(b, pairs, crossCand), bucketsB)
  }

  /** How many polls [[c84EmbedGateAudit]] splits the corpus into —
    * oracle-interpolated (one unrolled admission replay per batch;
    * the audit-cost dial's 2-poll stance). */
  val EmbedAuditBatches = 2

  /** c84: the embedding gate's STORE-GRAIN audit — c67's discipline
    * at vector grain: the embeddings corpus arrives as
    * [[EmbedAuditBatches]] disjoint polls in batch order, each driven
    * through [[batchDecisions]] + the gate's own store merges (the
    * EXACT code the live stream runs), and the keyed result reads the
    * DECISION STORE back. The oracle replays the whole admission
    * history at rest — per batch: capped within-batch bucket
    * candidates + uncapped cross probes against exactly the keepers
    * earlier batches admitted, verified rounded cosine, per-batch
    * connected components, keepers-win-clusters — so every (vec_id,
    * admitted, dup_of) row in the store is hash-checked against an
    * independent derivation of what the live gate SHOULD have
    * accumulated. SessionMemo.store: one store build per (session, corpus,
    * geometry). */
  def c84EmbedGateAudit(spark: SparkSession, dir: String,
      nBatches: Int = EmbedAuditBatches,
      threshold: Double = CosThreshold): DataFrame = {
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val scratch = SessionMemo.store(spark, s"c84_embedgate_${dir}_$nBatches") { root =>
      for (i <- 0 until nBatches) {
        val b = Materialize.frame(vecs.filter(pmod(col("vec_id"), lit(nBatches)) === i))
        val (decisions, bucketsB) = batchDecisions(b, s"$root/buckets", s"$root/keep", threshold)
        EventsStream.upsertSink(decisions, s"$root/decisions", "vec_id")
        val kept = decisions.filter(col("admitted")).select("vec_id")
        EventsStream.upsertSink(b.join(kept, Seq("vec_id")), s"$root/keep", "vec_id")
        EventsStream.upsertSink(keptBucketRows(bucketsB, kept), s"$root/buckets", "bk_vec")
      }
    }
    decisions(spark, s"$scratch/decisions").orderBy("vec_id")
  }

  // test-only entry (the round spec lives outside this package)
  private[graft] def testBatchDecisions(b: DataFrame, bucketStore: String,
      keepStore: String, threshold: Double): (DataFrame, DataFrame) =
    batchDecisions(b, bucketStore, keepStore, threshold)

  /** Every admission decision the gate has taken — from the decision
    * STORE (decisions, not counters: replays cannot double-count). */
  def decisions(spark: SparkSession, decisionStore: String): DataFrame =
    spark.read.parquet(decisionStore)
      .drop(EventsStream.KeyBucketCol)
      .select("vec_id", "admitted", "dup_of")

  private def readOrEmpty(spark: SparkSession, store: String, schema: String): DataFrame =
    // committed-data check, not bare existence (SpanStream's r12
    // lesson: an all-empty-merge store directory breaks inference)
    if (EventsStream.hasCommittedData(spark, store))
      spark.read.parquet(store).drop(EventsStream.KeyBucketCol)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schema))

  // ---------------------------------------------------------------
  // c157: the SKETCH-SERVED live gate — c84's admission policy with
  // c147/c151's two-tier evidence: the door's working set is the
  // 16-dim JL sketch (bucketing, probing, and MOST verification run
  // on a quarter of the bytes); the full embedding is read only for
  // pairs inside the audited uncertainty band. Same keepers-win
  // policy, same stores discipline; the keep-store now splits into a
  // sketch store (what every probe joins) and a full store (touched
  // only by the escalation sliver's keyed join).
  // ---------------------------------------------------------------

  /** The decision tail shared by c84's and c157's batch admissions:
    * verified pairs → components → keepers win, batch minima anchor.
    * `keeperIds` = the matched cross-probe keeper ids (candidate
    * grain — only ids that appear in components matter). */
  private def decideFromPairs(b: DataFrame, pairs: DataFrame,
      keeperIds: DataFrame): DataFrame = {
    val keepers = keeperIds.select(col("keeper_id").as("doc_id")).distinct()
      .withColumn("is_keeper", lit(true))
    val labeled = Dedup.labelComponents(pairs)
      .withColumnRenamed("label", "comp")
      .join(keepers, Seq("doc_id"), "left")
    val perComp = labeled.groupBy("comp").agg(
      min(when(col("is_keeper"), col("doc_id"))).as("min_keeper"),
      min(when(col("is_keeper").isNull, col("doc_id"))).as("anchor"))
    Materialize.frame(b.select(col("vec_id"))
      .join(labeled.filter(col("is_keeper").isNull)
        .join(perComp, Seq("comp"))
        .select(col("doc_id").as("vec_id"), col("min_keeper"), col("anchor")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("min_keeper").isNotNull, lit(false))
          .when(col("anchor").isNotNull && col("anchor") =!= col("vec_id"), lit(false))
          .otherwise(lit(true)).as("admitted"),
        coalesce(col("min_keeper"),
          when(col("anchor") =!= col("vec_id"), col("anchor"))).as("dup_of")))
  }

  /** One micro-batch of the sketch-served gate. `band` is the c145
    * audit's p90 |err| (computed once per gate, the c147 artifact).
    * Verification is two-tier per candidate pair: sketch cosine ≥
    * threshold + band is a dup on sketch evidence alone; inside
    * [threshold − band, threshold + band) the pair escalates to an
    * exact full-width cosine (batch side from the batch, keeper side
    * a keyed join into the full store restricted to escalated ids);
    * below the band is a definite non-pair. */
  private[graft] def batchDecisions157(b: DataFrame, bucketStore: String,
      keepSketchStore: String, keepFullStore: String, band: Double,
      threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = b.sparkSession
    // guard on the PROJECTION's real requirement: jlProjected's sign
    // matrix spans PqSubspaces·PqSubDim input dims, and a narrower
    // vector would silently truncate the dot products (a sketch that
    // no longer matches the audited matrix) — fail loudly up front
    // rather than diverge quietly (the kernel's own require is the
    // backstop for the other sketch consumers)
    val jlDims = Similarity.PqSubspaces * Similarity.PqSubDim
    val guarded = b.filter(assert_true(size(col("embedding")) >= jlDims,
      concat(lit(s"sketch gate: the JL matrix spans $jlDims dims, embedding has "),
        size(col("embedding")))).isNull)
    // the batch's sketch column + norms (per-row linear map)
    val nb = Materialize.frame(
      Similarity.jlProjected(guarded.select(col("vec_id"),
          col("embedding")))
        .select(col("vec_id"), col("v").as("embedding"), col("p"))
        .withColumn("nrm", VectorFns.norm(col("embedding")))
        .withColumn("pnrm", VectorFns.norm(col("p"))))
    val bucketsB = Materialize.frame(nb.select(col("vec_id"),
      VectorFns.signBucket(col("p"), SignBits).as("bucket")))

    val crossCand = bucketsB
      .join(readOrEmpty(spark, bucketStore, "bucket bigint, vec_id bigint")
        .withColumnRenamed("vec_id", "keeper_id"), Seq("bucket"))
      .select(col("vec_id"), col("keeper_id")).distinct()
      .join(b.select(col("vec_id").as("keeper_id")), Seq("keeper_id"), "left_anti")
    // sketch-grain verification frame: keeper sketches are the ONLY
    // per-probe store read (16 doubles/vector)
    val keeperSk = readOrEmpty(spark, keepSketchStore,
        "vec_id bigint, p array<double>")
      .join(crossCand.select(col("keeper_id").as("vec_id")).distinct(), Seq("vec_id"))
      .withColumn("pnrm", VectorFns.norm(col("p")))
    val crossSk = crossCand
      .join(nb.select(col("vec_id"), col("p").as("pa"), col("pnrm").as("pna")),
        Seq("vec_id"))
      .join(keeperSk.select(col("vec_id").as("keeper_id"),
        col("p").as("pb"), col("pnrm").as("pnb")), Seq("keeper_id"))
      .select(col("vec_id").as("doc_a"), col("keeper_id").as("doc_b"),
        Similarity.pairCos("pa", "pna", "pb", "pnb").as("cp"))
    val capped = bucketsB
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bsz") <= Dedup.BucketCap)
      .drop("bsz")
    val withinSk = capped.as("a")
      .join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      .join(nb.select(col("vec_id").as("doc_a"),
        col("p").as("pa"), col("pnrm").as("pna")), Seq("doc_a"))
      .join(nb.select(col("vec_id").as("doc_b"),
        col("p").as("pb"), col("pnrm").as("pnb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Similarity.pairCos("pa", "pna", "pb", "pnb").as("cp"))
    val scored = Materialize.frame(
      withinSk.unionByName(crossSk).filter(col("cp") >= threshold - band))
    val projPairs = scored.filter(col("cp") >= threshold + band)
      .select(col("doc_a"), col("doc_b"))
    // the escalation sliver: full-width vectors via keyed joins only
    val esc = scored.filter(col("cp") < threshold + band)
    // escalated keeper ids are batch-bounded (cross candidates are
    // batch × matched); pushed into the full-store scan so the
    // 64-dim read prunes (Similarity.keyedRows' In/semi-join split)
    val escKeepers = Similarity.keyedRows(
      readOrEmpty(spark, keepFullStore, "vec_id bigint, embedding array<double>"),
      esc.select(col("doc_b").as("vec_id")).distinct()
        .join(b.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    val fullSide = nb.select(col("vec_id"), col("embedding"), col("nrm"))
      .unionByName(Similarity.withNorm(escKeepers))
    val fullPairs = esc
      .join(fullSide.select(col("vec_id").as("doc_a"),
        col("embedding").as("fa"), col("nrm").as("na")), Seq("doc_a"))
      .join(fullSide.select(col("vec_id").as("doc_b"),
        col("embedding").as("fb"), col("nrm").as("nb")), Seq("doc_b"))
      .filter(Similarity.pairCos("fa", "na", "fb", "nb") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val pairs = projPairs.unionByName(fullPairs)
    val decisions = decideFromPairs(b, pairs, crossCand)
    (decisions, bucketsB, nb.select(col("vec_id"), col("p")))
  }

  /** Start the live sketch-served gate over a streaming (vec_id,
    * embedding) frame. `band` ships like the c96 classifier weights:
    * computed once from the audit artifact, closed over. */
  def sketchGate(vecs: DataFrame, stores: String, band: Double,
      threshold: Double = CosThreshold,
      checkpoint: Option[String] = None): StreamingQuery =
    checkpoint.foldLeft(vecs.writeStream)((w, dir) => w.option("checkpointLocation", dir))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = Materialize.frame(batch.select(col("vec_id"), col("embedding")))
        val (decisions, bucketsB, sketches) = batchDecisions157(
          b, s"$stores/buckets", s"$stores/keep_sketch", s"$stores/keep_full",
          band, threshold)
        EventsStream.upsertSink(decisions, s"$stores/decisions", "vec_id")
        val kept = decisions.filter(col("admitted")).select("vec_id")
        EventsStream.upsertSink(sketches.join(kept, Seq("vec_id")),
          s"$stores/keep_sketch", "vec_id")
        EventsStream.upsertSink(
          b.select(col("vec_id"), col("embedding").cast("array<double>"))
            .join(kept, Seq("vec_id")),
          s"$stores/keep_full", "vec_id")
        EventsStream.upsertSink(keptBucketRows(bucketsB, kept),
          s"$stores/buckets", "bk_vec")
        ()
      }
      .start()

  /** c157: the sketch-served gate's STORE-GRAIN audit — c84's
    * discipline with the two-tier evidence: [[EmbedAuditBatches]]
    * polls through [[batchDecisions157]] + the gate's own store
    * merges, keyed result = the decision store. The oracle replays
    * the admission history with the same two-tier rule (sketch
    * cosine against threshold ± the c145-audit band, full cosine for
    * the escalation sliver), so every decision — including which
    * tier decided it — is hash-pinned. */
  def c157SketchGateAudit(spark: SparkSession, dir: String,
      nBatches: Int = EmbedAuditBatches,
      threshold: Double = CosThreshold): DataFrame = {
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val band = Similarity.storedBand(spark, dir)
    val scratch = SessionMemo.store(spark, s"c157_sketchgate_${dir}_$nBatches") { root =>
      for (i <- 0 until nBatches) {
        val b = Materialize.frame(vecs.filter(pmod(col("vec_id"), lit(nBatches)) === i))
        val (decisions, bucketsB, sketches) = batchDecisions157(
          b, s"$root/buckets", s"$root/keep_sketch", s"$root/keep_full",
          band, threshold)
        EventsStream.upsertSink(decisions, s"$root/decisions", "vec_id")
        val kept = decisions.filter(col("admitted")).select("vec_id")
        EventsStream.upsertSink(sketches.join(kept, Seq("vec_id")),
          s"$root/keep_sketch", "vec_id")
        EventsStream.upsertSink(
          b.select(col("vec_id"), col("embedding").cast("array<double>"))
            .join(kept, Seq("vec_id")),
          s"$root/keep_full", "vec_id")
        EventsStream.upsertSink(keptBucketRows(bucketsB, kept),
          s"$root/buckets", "bk_vec")
      }
    }
    decisions(spark, s"$scratch/decisions").orderBy("vec_id")
  }
}
