package graft.operators

import graft.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset-assembly operators for training pipelines (SURVEY §2,
  * c13/c14). */
object Sampling {

  /** Driver-contract defaults — the oracle SQL interpolates these
    * same constants (OraclesC), so calling with non-default args can
    * never silently break parity: the oracle is DERIVED from them. */
  val SplitTrainPct = 90
  val SplitValPct = 95
  val DefaultRates: Map[String, Double] = Map("en" -> 0.5)
  val DefaultTokenBudget = 512L
  val PackShards = 32
  val ChunkTokens = 256
  val ChunkOverlap = 32
  val ShuffleShards = 16
  val ShuffleSeed = 1L

  /** Deployment sizing for the shard-count parameters (c22's packing,
    * c28's epoch shuffle): `perCore` shards per available core, never
    * below `floor` — so every shard's sorted prefix-sum/rank stays
    * one-task-sized as the cluster grows, while the driver-checked
    * queries keep interpolating the constants. */
  def shardsFor(spark: org.apache.spark.sql.SparkSession, perCore: Int = 2,
      floor: Int = PackShards): Int =
    math.max(floor, perCore * spark.sparkContext.defaultParallelism)

  /** How the KEYED queries resolve their shard count, as a session
    * conf — the auto-sizing wire from [[shardsFor]] to the c22/c28
    * call sites without breaking the oracle contract:
    *
    *   graft.shards = default     // the pinned oracle constant (default)
    *   graft.shards = auto        // shardsFor: ∝ defaultParallelism, ≥ constant
    *   graft.shards = <n>         // explicit count
    *
    * Shard count is part of each operator's OUTPUT contract (a c22
    * packing / c28 permutation is per-shard), so reproducibility
    * demands the default stay a data-independent constant — the same
    * rows on any cluster, which is what the DuckDB oracle checks. A
    * deployment that wants cluster-proportional sharding opts in per
    * session and owns the resulting (equally valid, still
    * deterministic for fixed n) layout. */
  val ShardsConfKey = "graft.shards"

  def resolveShards(spark: org.apache.spark.sql.SparkSession, pinned: Int): Int =
    spark.conf.get(ShardsConfKey, "default") match {
      case "default" => pinned
      case "auto"    => shardsFor(spark, floor = pinned)
      case n =>
        val v = try n.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$ShardsConfKey='$n' — expected default | auto | positive int")
        }
        require(v > 0, s"$ShardsConfKey must be positive, got $v")
        v
    }

  /** c13: deterministic hash-based train/val/test split. The split
    * key is a content-independent stable hash of the document id
    * (md5 → 28-bit int → percent bucket), so reruns, engines, and
    * cluster sizes all agree — the reproducibility property a
    * training pipeline needs. 90/5/5 by bucket; narrow, shuffle-free
    * except the summary. */
  def c13Split(docs: DataFrame): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
      .cast("long") % 100).as("bucket")
    docs.select(col("doc_id"), col("lang"), bucket)
      .withColumn("split",
        when(col("bucket") < SplitTrainPct, "train")
          .when(col("bucket") < SplitValPct, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")
  }

  /** c18: deterministic stratified downsampling — per-stratum keep
    * rates (the "rebalance over-represented strata" step of corpus
    * assembly), decided by a stable content-independent hash of the
    * doc id so every engine, rerun, and cluster size keeps exactly
    * the same rows. Per-mille buckets from md5(doc_id); strata with
    * no configured rate keep everything. Narrow map + one
    * report-sized aggregation. */
  def c18StratifiedSample(docs: DataFrame, rates: Map[String, Double] = DefaultRates)
      : DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
      .cast("long") % 1000).as("bucket")
    val keepMille = coalesce(
      rates.foldLeft(lit(null).cast("long")) { case (acc, (lang, r)) =>
        when(col("lang") === lang, lit((r * 1000).toLong)).otherwise(acc)
      }, lit(1000L))
    docs.select(col("doc_id"), col("lang"), bucket)
      .withColumn("kept", col("bucket") < keepMille)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("kept"), col("doc_id"))).as("min_kept_id"),
        max(when(col("kept"), col("doc_id"))).as("max_kept_id"))
      .withColumn("kept_frac", round(col("n_kept").cast("double") / col("n_total"), 4))
      .orderBy("lang")
  }

  /** c22: sequence packing — the concat-then-chunk step that turns a
    * document stream into fixed-token-budget training sequences.
    * Global greedy packing is inherently sequential, so the scalable
    * contract packs WITHIN deterministic shards (doc_id mod shards):
    * each shard runs an ordered prefix sum of token counts and a
    * document's sequence id is its start-offset block
    * (floor(preceding-tokens / budget)) — one window shuffle on the
    * shard key, every shard independent, reproducible on any cluster
    * size. Emits the per-sequence summary (doc count, token sum, id
    * range).
    *
    * `shards` bounds the packing stage's parallelism AND the size of
    * each shard's sorted prefix-sum (≈ corpus/shards rows per window
    * partition) — set it ∝ cluster cores at deployment (e.g. 2–4× the
    * executor-core count) so no shard outgrows one task. Different
    * shard counts produce different (equally valid) packings; the
    * driver-checked default is [[PackShards]], which the oracle SQL
    * interpolates so the two can't drift. */
  def c22SequencePack(docs: DataFrame, budget: Long = DefaultTokenBudget,
      shards: Int = PackShards): DataFrame =
    packCounts(docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok")), budget, shards)

  /** The packing window itself over an explicit per-doc token-count
    * frame (doc_id, n_tok) — ONE spelling shared by c22 (whitespace
    * counts) and c86 (the stored tokenizer's BPE counts), so the
    * packing discipline cannot drift between the two pricings. */
  private[graft] def packCounts(counts: DataFrame, budget: Long,
      shards: Int): DataFrame =
    packAssign(counts, budget, shards)
      .groupBy("shard", "seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "seq_id")

  /** The doc-grain packing ASSIGNMENT under [[packCounts]]'s window —
    * the one prefix-sum spelling, exposed before the per-sequence
    * aggregate so c94 can key the boundary metadata off the exact
    * frame c22/c86 summarize. */
  private[graft] def packAssign(counts: DataFrame, budget: Long,
      shards: Int): DataFrame = packAssignBy(counts, budget, shards, Nil)

  /** [[packAssign]] with extra partition keys AHEAD of the shard —
    * c98 packs within (split, shard) so training sequences never mix
    * across splits; `counts` must already carry the extra columns.
    * Same prefix-sum spelling for every caller. */
  private[graft] def packAssignBy(counts: DataFrame, budget: Long,
      shards: Int, extraParts: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0, "shards must be positive")
    val parts = extraParts.map(col) :+ col("shard")
    val w = Window.partitionBy(parts: _*).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    counts.select((extraParts.map(col) ++ Seq(col("doc_id"),
        (col("doc_id") % shards).as("shard"), col("n_tok"))): _*)
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $budget"))
  }

  /** c86: sequence packing priced in REAL tokenizer tokens — c22's
    * shard-prefix-sum packing with the per-doc count swapped from the
    * whitespace proxy to the STORED tokenizer's BPE token count
    * (c83's artifact encode): the two persisted-artifact tiers
    * composed the way a training pipeline actually runs them —
    * tokenize under the shipped merge table, THEN pack to the context
    * budget. Whitespace packing under- or over-fills every sequence
    * by the corpus's compression ratio; this is the fill a trainer
    * sees. Plan shape: the tokenizer artifact is a bounded collect
    * (vocabulary-grain), the encode reduces off the shared tfRows
    * memo, and the packing adds ONE window shuffle on the shard key —
    * identical to c22's, at any corpus size. */
  def c86PackTokenized(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, shards: Int = PackShards): DataFrame =
    packCounts(
      graft.operators.TextAnalysis.c83StoredTokenizer(spark, dir)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tok")),
      budget, shards)

  /** c94: packed-sequence BOUNDARY metadata — the loss-mask /
    * attention-mask side table a trainer consumes next to c86's
    * packing: per packed document, its sequence, the start offset
    * WITHIN the sequence's token budget, its token count, and whether
    * it straddles the budget boundary (start-offset packing lets a
    * document run past the block edge; the mask builder must know).
    * Token counts are the stored tokenizer's (c83's artifact — the
    * counts c86 packs), the assignment is [[packAssign]], the exact
    * frame c86 aggregates — the metadata can never disagree with the
    * packing it annotates.
    *
    * Shape: identical to c86's (bounded artifact collect + the tfRows
    * reduce + ONE window shuffle on the shard key); the report is the
    * doc-grain assignment projected, no extra shuffle. */
  def c94PackBoundaries(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, shards: Int = PackShards): DataFrame =
    packAssign(
      graft.operators.TextAnalysis.c83StoredTokenizer(spark, dir)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tok")),
      budget, shards)
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (col("cum") - col("n_tok") - col("seq_id") * budget).as("start_offset"),
        col("n_tok"),
        (col("cum") - col("n_tok") - col("seq_id") * budget + col("n_tok") > budget)
          .as("crosses_budget"))
      .orderBy("doc_id")

  /** c98: the EXPORT MANIFEST — the capstone compose, the file a
    * training run actually reads: the at-rest funnel's kept set
    * (c50's decisions — dedup, decontamination, quality, one
    * spelling), split-labeled by c13's hash buckets, tokenized under
    * the STORED tokenizer (c83's artifact), packed within (split,
    * shard) through [[packAssignBy]] (training sequences never mix
    * across splits), and manifested per (split, shard): doc count,
    * sequence count, token mass, and an order-independent membership
    * checksum — what a consumer verifies before training (c14's
    * integer-checksum contract at shard grain).
    *
    * The checksum is bit_xor of each member doc's 60-bit md5 prefix:
    * O(1) aggregation state per group and map-side combinable, where
    * the earlier md5-of-sorted-csv spelling held the shard's ENTIRE
    * id list in one collect_list buffer (tens of millions of ids per
    * (split, shard) group at 100 TB — the r10 verdict's finding #2).
    * XOR needs no sort: any membership change flips the value, and
    * doc ids are unique within a shard so pairs cannot cancel.
    *
    * Shape: every input is an already-audited chain (funnel memo,
    * tokenizer artifact, tfRows reduce); this adds ONE window shuffle
    * on (split, shard) and a report-sized aggregate. ~24 output rows
    * at any corpus size. */
  def c98ExportManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, shards: Int = PackShards): DataFrame =
    manifestAssign(spark, dir,
      graft.sources.Tables.documents(spark, dir), budget, shards)
      .groupBy("split", "shard")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("n_tok")).as("n_tokens"),
        expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint))")
          .as("doc_checksum"))
      .orderBy("split", "shard")

  /** c98's doc-grain assignment over an explicit corpus VINTAGE —
    * funnel keeps (computed within the vintage: dedup contests and
    * benchmark shingles are the vintage's own), split labels, the
    * SHIPPED tokenizer's counts (c83's full-corpus artifact — a
    * deployment doesn't retrain the tokenizer per ingest), the
    * (split, shard) packing window. ONE spelling for the manifest
    * (c98) and the vintage diff (c101). */
  private def manifestAssign(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, budget: Long, shards: Int): DataFrame =
    // memoized per (vintage plan, geometry): c98's manifest and c101's
    // live leg aggregate the SAME doc-grain assignment — one
    // funnel-join + split window chain per session, not one per query
    SessionMemo.frame(s"manifest_assign_${budget}_$shards", docs)(
      Materialize.frame {
        val keeps = graft.operators.TextAnalysis.funnelDecisions(docs)
          .filter(col("stage") === "keep").select("doc_id")
        val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 100)
        val counts = graft.operators.TextAnalysis.c83StoredTokenizer(spark, dir)
          .select(col("doc_id"), col("n_bpe_tokens").as("n_tok"))
          .join(keeps, Seq("doc_id"))
          .withColumn("split",
            when(bucket < SplitTrainPct, "train")
              .when(bucket < SplitValPct, "val").otherwise("test"))
        packAssignBy(counts, budget, shards, Seq("split"))
      })

  /** The PERSISTED v1 manifest artifact — c98's doc-grain assignment
    * over the BASE vintage, written ONCE per (session, corpus,
    * geometry) as parquet (the c79/c83/c88 stored-artifact
    * discipline) and read back by every consumer. This is the file
    * the ops workflow actually keeps: "which shards does this ingest
    * invalidate" is a question about the LAST export, answered from
    * its stored manifest — never by recomputing the base vintage. */
  private def manifestV1Artifact(spark: org.apache.spark.sql.SparkSession,
      dir: String, budget: Long, shards: Int): String = {
    val root = SessionMemo.store(spark,
        s"c98_manifest_v1_${dir}_${budget}_$shards") { root =>
      manifestAssign(spark, dir,
          graft.sources.Tables.documents(spark, dir)
            .filter(Dedup.isBaseDoc(col("doc_id"))), budget, shards)
        .select(col("split"), col("shard"), col("doc_id"), col("n_tok"))
        .write.mode("overwrite").parquet(s"$root/manifest_v1")
    }
    s"$root/manifest_v1"
  }

  /** The vintage diff itself over two doc-grain assignment frames —
    * ONE spelling for the artifact-backed keyed query and the spec's
    * from-scratch recompute, so they cannot drift. */
  private def manifestDiffFrames(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.join(v2, Seq("split", "shard", "doc_id"), "full_outer")
      .groupBy("split", "shard")
      .agg(
        sum(when(col("tok1").isNotNull, 1L).otherwise(0L)).as("n_v1"),
        sum(when(col("tok2").isNotNull, 1L).otherwise(0L)).as("n_v2"),
        sum(when(col("tok1").isNull && col("tok2").isNotNull, 1L).otherwise(0L))
          .as("n_added"),
        sum(when(col("tok1").isNotNull && col("tok2").isNull, 1L).otherwise(0L))
          .as("n_dropped"),
        (sum(coalesce(col("tok2"), lit(0L))) - sum(coalesce(col("tok1"), lit(0L))))
          .as("tok_delta"))
      .withColumn("changed", col("n_added") + col("n_dropped") > 0)
      .orderBy("split", "shard")

  /** c101: the manifest DIFF across corpus vintages — c45/c82's delta
    * discipline applied to the export: the STORED v1 manifest
    * artifact ([[manifestV1Artifact]] — the parquet a previous export
    * shipped) vs the live corpus's assignment, compared at doc grain
    * and reported per (split, shard): docs carried, added, DROPPED
    * (a base doc kept at the base vintage can lose its dup contest to
    * a new arrival, or trip contamination against new benchmark
    * shingles — growth is not monotone), token delta, and whether the
    * shard's checksum moves (membership change ⇔ checksum change —
    * per-doc counts are the shipped artifact's, fixed across
    * vintages). The ops question this answers: WHICH shards does an
    * ingest invalidate, before re-exporting anything.
    *
    * Shape: ONE live manifest assignment (c98's plan) + a stored-
    * artifact scan + one doc-grain full-outer join + a report-sized
    * aggregate — the r10 verdict's "one funnel chain instead of two";
    * the artifact build is a once-per-session store cost (SessionMemo.store),
    * exactly like the index/tokenizer/classifier tiers. */
  def c101ManifestDiff(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, shards: Int = PackShards): DataFrame = {
    val v1 = spark.read.parquet(manifestV1Artifact(spark, dir, budget, shards))
      .select(col("split"), col("shard"), col("doc_id"), col("n_tok").as("tok1"))
    val v2 = manifestAssign(spark, dir,
        graft.sources.Tables.documents(spark, dir), budget, shards)
      .select(col("split"), col("shard"), col("doc_id"), col("n_tok").as("tok2"))
    manifestDiffFrames(v1, v2)
  }

  /** The pre-artifact spelling — both vintage legs recomputed live.
    * Kept for the equivalence spec ONLY: the artifact-backed diff
    * must equal this row-for-row. */
  private[graft] def c101DiffRecomputed(spark: org.apache.spark.sql.SparkSession,
      dir: String, budget: Long = DefaultTokenBudget,
      shards: Int = PackShards): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val v1 = manifestAssign(spark, dir,
        docs.filter(Dedup.isBaseDoc(col("doc_id"))), budget, shards)
      .select(col("split"), col("shard"), col("doc_id"), col("n_tok").as("tok1"))
    val v2 = manifestAssign(spark, dir, docs, budget, shards)
      .select(col("split"), col("shard"), col("doc_id"), col("n_tok").as("tok2"))
    manifestDiffFrames(v1, v2)
  }

  /** c25: context-window chunking — split each document's token
    * stream into fixed-size windows with overlap (stride = size −
    * overlap): the step that turns raw documents into model-ready
    * training rows, complementing c22 (which packs SHORT docs up to a
    * budget; this splits LONG docs down to one).
    *
    * Typed flatMap kernel, like the shingle path: each emitted row
    * carries ONLY (idx, n_tok, md5) — total work and memory are
    * linear in document length. The earlier declarative spelling
    * (explode(sequence) then slice) duplicated the full token array
    * into every chunk row before slicing: O(L²/stride) per document,
    * which a 1M-token training doc turns into ~4.5k copies of a
    * 1M-element array. A short tail chunk is kept (standard practice;
    * filtering it is a trailing predicate). */
  def c25DocChunks(docs: DataFrame, size: Int = ChunkTokens,
      overlap: Int = ChunkOverlap): DataFrame = {
    require(overlap < size, "overlap must be smaller than the chunk size")
    val stride = size - overlap
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        val nChunks = math.max(
          math.ceil((w.length - overlap).toDouble / stride).toInt, 1)
        val md = java.security.MessageDigest.getInstance("MD5")
        (0 until nChunks).iterator.map { i =>
          val from = i * stride
          val until = math.min(from + size, w.length)
          val nTok = math.max(until - from, 0)
          val sb = new java.lang.StringBuilder
          var j = from
          while (j < until) {
            if (j > from) sb.append(' ')
            sb.append(w(j)); j += 1
          }
          md.reset()
          val hex = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          (id, i.toLong, nTok.toLong, hex)
        }
      }
      .toDF("doc_id", "chunk_idx", "n_tok", "chunk_md5")
      .orderBy("doc_id", "chunk_idx")
  }

  /** c28: deterministic epoch shuffle — the reproducible global
    * permutation a training run reads its corpus in. Order is DEFINED
    * by data, not by execution: each doc's sort key is
    * md5(seed:doc_id), its shard a stable hash prefix (c13's
    * spelling), its position the within-shard rank of the key — so
    * any engine, cluster size, or rerun yields the SAME (shard, pos)
    * permutation, and changing the seed gives an independent one per
    * epoch.
    *
    * A single global rank would funnel 100 TB through one sort
    * partition; the sharded contract keeps every rank window
    * one-task-sized with `shards` ∝ cluster size (c22's discipline —
    * the oracle interpolates the default so the two can't drift), and
    * an epoch reader interleaves shards round-robin. */
  def c28EpochShuffle(docs: DataFrame, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0, "shards must be positive")
    val key = md5(concat_ws(":", lit(seed), col("doc_id")))
    docs.select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("shard",
        conv(substring(col("shuffle_key"), 1, 7), 16, 10).cast("long") % shards)
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard")).orderBy(col("shuffle_key")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"), col("shuffle_key"))
      .orderBy("shard", "pos")
  }

  /** c99: the CURRICULUM schedule — c98 fixes WHAT ships, c99 fixes
    * the ORDER an epoch consumes it: every doc scheduled easy-first
    * (its c29 quality ntile, DESCENDING — bin N is each source's
    * cleanest slice, and per-source ntiles make the ordering fair
    * across sources of different quality profiles) with c28's seeded
    * shuffle breaking ties INSIDE a bin (deterministic, engine-exact)
    * and assigning the shard. Position is per shard — a reader
    * interleaves shards round-robin and sees quality decay smoothly;
    * no global sort anywhere (both windows are per-shard /
    * per-source, c22/c28's discipline).
    *
    * Output: (doc_id, source, bin, shard, pos) at doc grain — the
    * schedule file an epoch loader reads next to c98's manifest. */
  def c99CurriculumSchedule(docs: DataFrame, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards,
      bins: Int = graft.operators.TextAnalysis.QualityBins): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0, "shards must be positive")
    val key = md5(concat_ws(":", lit(seed), col("doc_id")))
    val binned = graft.operators.TextAnalysis.qualityBinned(docs, bins)
      .select(col("doc_id"), col("source"), col("bin"))
      .withColumn("shuffle_key", key)
      .withColumn("shard",
        conv(substring(col("shuffle_key"), 1, 7), 16, 10).cast("long") % shards)
    binned
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(col("bin").desc, col("shuffle_key")))
        .cast("long"))
      .select("doc_id", "source", "bin", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** c103: SCHEDULE-AWARE packing — closing the gap between the
    * curriculum and the packer (the r10 verdict's #4): c99 fixes the
    * ORDER an epoch consumes documents, but c86/c94 run their prefix
    * sums in doc_id order, so their sequences interleave the
    * curriculum arbitrarily — a trainer reading c86's sequences would
    * not see quality decay in schedule order. Here the packing window
    * runs over c99's (shard, pos): each shard's prefix sum
    * accumulates IN SCHEDULE ORDER, so every training sequence is a
    * contiguous run of the curriculum (bins non-increasing within a
    * sequence by construction — spec-pinned), priced in the stored
    * tokenizer's tokens (c83's artifact, the counts c86/c94 pack).
    * Output is c94's mask metadata in curriculum order: per doc its
    * bin, schedule coordinates, sequence id, start offset within the
    * budget, and token count.
    *
    * Shape: the schedule is two per-shard windows (c99's), the counts
    * are the tokenizer-artifact reduce off the tfRows memo, and the
    * packing adds ONE window shuffle on the schedule's shard key —
    * shards ∝ cluster size (c22's discipline), no global sort. */
  def c103CurriculumPack(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards): DataFrame =
    packBySchedule(
      c99CurriculumSchedule(graft.sources.Tables.documents(spark, dir), seed, shards),
      storedTokCounts(spark, dir), budget, Seq("bin"))

  /** The (shard, pos)-ordered packing window over an EXPLICIT
    * schedule frame — ONE spelling for c103 (whole-corpus schedule)
    * and c111 (the keeps-only schedule a run actually mounts), so the
    * curriculum-contiguity contract cannot drift between the two.
    * `carry` names the schedule columns echoed into the report. */
  private[graft] def packBySchedule(sched: DataFrame, counts: DataFrame,
      budget: Long, carry: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    sched.join(counts, Seq("doc_id"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $budget"))
      .select((Seq(col("doc_id")) ++ carry.map(col) ++
        Seq(col("shard"), col("pos"), col("seq_id"),
          (col("cum") - col("n_tok") - col("seq_id") * budget).as("start_offset"),
          col("n_tok"))): _*)
      .orderBy("shard", "pos")
  }

  /** The stored tokenizer's per-doc counts as a (doc_id, n_tok) frame
    * — the one count source every packing consumer prices in. */
  private[graft] def storedTokCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.TextAnalysis.c83StoredTokenizer(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tok"))

  /** c104: the per-SEQUENCE index of the curriculum packing — the
    * row an epoch loader actually seeks by (c103 answers "where does
    * doc X sit"; this answers "what is sequence S"): for every
    * (shard, seq_id), the doc count, token mass, schedule extent
    * (first/last pos), curriculum extent (the bin range the sequence
    * spans — a wide range means the curriculum decays fast inside
    * one context window), and the fill fraction against the budget
    * (>1 when the boundary doc overhangs the block edge; the final
    * sequence of a shard underfills).
    *
    * Shape: c103's assignment + ONE (shard, seq_id) aggregate that
    * reuses the packing window's shard exchange — report-sized
    * (corpus tokens / budget rows) at any scale. */
  def c104SeqManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards): DataFrame =
    seqManifestOver(c103CurriculumPack(spark, dir, budget, seed, shards), budget)

  /** The per-(shard, seq_id) index aggregate over ANY packing frame
    * carrying (shard, pos, seq_id, bin, n_tok) — ONE spelling shared
    * by c104 (the whole-corpus packing) and c120 (the keeps-only
    * mounted packing), so the two indexes cannot drift in what a
    * sequence row means. */
  private[graft] def seqManifestOver(pack: DataFrame, budget: Long): DataFrame =
    pack
      .groupBy("shard", "seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"),
        max(col("bin")).as("max_bin"),
        min(col("bin")).as("min_bin"))
      .withColumn("fill_frac", round(col("sum_tok").cast("double") / budget, 4))
      .orderBy("shard", "seq_id")

  /** c120: the sequence index of the MOUNTED packing — the r11
    * verdict's design-coherence fix ("c104's sequence index describes
    * a packing the epoch plan doesn't read"): c104 indexes c103's
    * whole-corpus packing, but the epoch plan (c117) and the mount
    * (c111) are keeps-only, so a loader seeking c117's
    * (shard, seq_id) in c104's manifest reads rows about sequences it
    * will never mmap. c120 is the SAME index aggregate
    * ([[seqManifestOver]], one spelling) over c111's keeps-only
    * packing — every c117 sequence resolves here, both directions
    * (the pipeline-integrity spec pins c120 ↔ c111 ↔ c117).
    *
    * Shape: c111's packing + ONE (shard, seq_id) aggregate reusing
    * the packing window's shard exchange — report-sized (kept tokens
    * / budget rows) at any scale. */
  def c120KeepsManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards): DataFrame =
    seqManifestOver(c111KeepsPack(spark, dir, budget, seed, shards), budget)

  /** c130: SEQUENCE-grain eval-set taint — decontamination at the
    * grain a loader actually mmaps. Doc-grain decontamination (c20/
    * c35/c100) decides which DOCUMENTS leak an eval suite, but the
    * training run consumes PACKED SEQUENCES (c111): a context window
    * that concatenates a benchmark-member doc between two clean docs
    * still trains on eval text, and the loss-mask/re-pack decision is
    * per sequence, not per doc. This report is that decision's input:
    * for every (shard, seq_id) of the mounted packing, the member-doc
    * count, token mass, how many members belong to ANY
    * [[graft.operators.TextAnalysis.BenchRegistry]] suite (per-suite
    * columns — c100's columns-not-rows discipline, generated from the
    * same registry both engines interpolate), the tainted token mass,
    * and the verdict bit. Suite membership is a pure doc_id predicate
    * (the registry's stand-in for an eval manifest join), so taint
    * costs ZERO joins — one projection over the packing plus the
    * sequence-grain aggregate c120 already pays.
    *
    * Note the funnel already excludes suite `a` members from keeps
    * (the contamination gate's own benchmark family — spec-pinned at
    * zero here); suites `b`/`c` members survive curation and surface
    * as real taint, which is exactly the gap this report exists to
    * catch: per-doc gates tuned on one suite do not decontaminate
    * the packed corpus against the others.
    *
    * Shape: c111's chain + one (shard, seq_id) aggregate reusing the
    * packing window's shard exchange — report-sized output, no new
    * shuffle class at any scale. */
  def c130SeqContam(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards,
      suites: Seq[graft.operators.TextAnalysis.BenchSuite] =
        graft.operators.TextAnalysis.BenchRegistry): DataFrame =
    seqContamOver(c111KeepsPack(spark, dir, budget, seed, shards), suites)

  /** c130's taint aggregate over ANY packing frame — one spelling for
    * the keyed report and the c139 closure spec (the decontaminated
    * packing must read zero taint through the SAME aggregate). */
  private[graft] def seqContamOver(pack: DataFrame,
      suites: Seq[graft.operators.TextAnalysis.BenchSuite]): DataFrame = {
    require(suites.nonEmpty, "c130 needs at least one benchmark suite")
    val preds = suites.map(s => expr(s.pred))
    val anyEval = preds.reduce(_ || _)
    val suiteCols = suites.zip(preds).map { case (s, p) =>
      sum(when(p, 1L).otherwise(0L)).as(s"n_eval_${s.id}")
    }
    pack
      .groupBy("shard", "seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        (Seq(
          sum(col("n_tok")).as("sum_tok"),
          sum(when(anyEval, 1L).otherwise(0L)).as("n_eval_docs"),
          sum(when(anyEval, col("n_tok")).otherwise(0L)).as("eval_tok")) ++
          suiteCols): _*)
      .withColumn("taint_frac",
        round(col("eval_tok").cast("double") / col("sum_tok"), 4))
      .withColumn("tainted", col("n_eval_docs") > 0)
      .orderBy("shard", "seq_id")
  }

  /** c139: the DECONTAMINATED packing's sequence index — the re-pack
    * path c130's deployment note names, composed and keyed (c138's
    * closure discipline): eval-suite members are dropped from the
    * corpus BEFORE the keeps schedule, the mounted packing re-runs
    * over the survivors (the funnel, quality re-binning, shard
    * windows all recompute within the clean vintage — c127's
    * text-rewrite stance), and the output is the sequence index a
    * clean publish ships. The tokenizer artifact stays the SHIPPED
    * full-corpus one (a deployment does not retrain the tokenizer to
    * decontaminate — c98/c101/c127's standing stance). The closure
    * theorem is spec-pinned: c130's taint aggregate over THIS packing
    * reads zero for every suite.
    *
    * Shape: c111's chain with one more corpus-side predicate (pure
    * doc_id — pushed to the scan) + c120's sequence aggregate; no new
    * shuffle class. */
  def c139DecontamPack(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards,
      suites: Seq[graft.operators.TextAnalysis.BenchSuite] =
        graft.operators.TextAnalysis.BenchRegistry): DataFrame =
    seqManifestOver(c139CleanPack(spark, dir, budget, seed, shards, suites),
      budget)

  /** The decontaminated mounted packing itself — shared by the keyed
    * index and the closure spec. */
  private[graft] def c139CleanPack(spark: org.apache.spark.sql.SparkSession,
      dir: String, budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards,
      suites: Seq[graft.operators.TextAnalysis.BenchSuite] =
        graft.operators.TextAnalysis.BenchRegistry): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val clean = docs.filter(!suites.map(s => expr(s.pred)).reduce(_ || _))
    keepsPackOver(spark, dir, clean, budget, seed, shards)
  }

  /** c146: the sequence LOSS-MASK manifest — the cheap alternative to
    * c139's re-pack, emitted as the artifact a loader actually
    * applies (c130 flags tainted sequences; this is the row set that
    * masks them): for every eval-suite member doc in the mounted
    * packing, its (shard, seq_id) slot, its token-offset span within
    * the sequence (start_offset from the packing window, end =
    * start + n_tok), and whether the span overhangs the sequence
    * boundary (the boundary doc continues into the NEXT sequence —
    * c94's crossing discipline — so the loader masks the tail of one
    * block and the head of the next). Shipping this next to c120's
    * index keeps tainted bytes out of the LOSS without re-shipping a
    * single shard; the trade against re-packing is priced by c127's
    * diff (c130's DEPLOY row).
    *
    * Shape: c111's chain + one pushed doc_id predicate + a
    * projection — no aggregate, no new shuffle; output is
    * |eval members in keeps| rows (report-sized). */
  def c146LossMask(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards,
      suites: Seq[graft.operators.TextAnalysis.BenchSuite] =
        graft.operators.TextAnalysis.BenchRegistry): DataFrame = {
    require(suites.nonEmpty, "c146 needs at least one benchmark suite")
    val anyEval = suites.map(s => expr(s.pred)).reduce(_ || _)
    c111KeepsPack(spark, dir, budget, seed, shards)
      .filter(anyEval)
      .select(col("shard"), col("seq_id"), col("doc_id"),
        col("start_offset"),
        (col("start_offset") + col("n_tok")).as("mask_end"),
        (col("start_offset") + col("n_tok") > budget).as("crosses_boundary"))
      .orderBy("shard", "seq_id", "start_offset", "doc_id")
  }

  /** c152: the MASK BUDGET — what c146's loss masking actually costs
    * a training run, priced at shard grain (the unit an epoch loader
    * mmaps): per shard, the mounted packing's sequence and token
    * mass, the masked-doc count / masked sequences / masked token
    * mass, the EFFECTIVE (loss-contributing) tokens, and the
    * effective fill fraction. The c139-vs-c146 decision table:
    * re-packing reclaims the masked mass at the cost of c127's
    * invalidation cascade; masking keeps every sequence byte-stable
    * and pays this (now priced) effective-token discount — c117's
    * epoch budgeting reads the effective column, not the raw one.
    *
    * Shape: the c111 chain once (the funnel/tokenizer memos shared),
    * one registry predicate pushed to the mask leg, two shard-grain
    * aggregates, a report-sized join. */
  def c152MaskBudget(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards,
      suites: Seq[graft.operators.TextAnalysis.BenchSuite] =
        graft.operators.TextAnalysis.BenchRegistry): DataFrame = {
    val anyEval = suites.map(s => expr(s.pred)).reduce(_ || _)
    val pack = Materialize.frame(
      c111KeepsPack(spark, dir, budget, seed, shards)
        .withColumn("ev", anyEval))
    val whole = pack.groupBy("shard").agg(
      countDistinct(col("seq_id")).as("n_seqs"),
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("sum_tok"))
    val masked = pack.filter(col("ev")).groupBy("shard").agg(
      count(lit(1)).as("n_masked_docs"),
      countDistinct(col("seq_id")).as("n_masked_seqs"),
      sum(col("n_tok")).as("masked_tok"))
    whole.join(masked, Seq("shard"), "left")
      .select(col("shard"), col("n_seqs"), col("n_docs"), col("sum_tok"),
        coalesce(col("n_masked_docs"), lit(0L)).as("n_masked_docs"),
        coalesce(col("n_masked_seqs"), lit(0L)).as("n_masked_seqs"),
        coalesce(col("masked_tok"), lit(0L)).as("masked_tok"))
      .withColumn("effective_tok", col("sum_tok") - col("masked_tok"))
      .withColumn("effective_frac",
        round(col("effective_tok").cast("double") / col("sum_tok"), 4))
      .orderBy("shard")
  }

  /** c105: the KEEPS-ONLY curriculum — the schedule a run actually
    * mounts: c99 orders the WHOLE corpus while c98's manifest ships
    * only the funnel's keeps, so an epoch loader walking c99 would
    * seek documents the export dropped. Here the schedule universe
    * is the kept set itself (c50's decisions, the one funnel
    * spelling), with the quality ntiles RE-BINNED within the kept
    * population — curriculum fairness applies to what a run trains
    * on, not to documents that no longer exist; a dropped tail of
    * low-quality docs must not compress the surviving bins.
    * Positions are dense per shard over keeps by construction
    * (row_number), so the loader can walk 1..n without probing.
    *
    * Shape: the funnel memo is paid once per session (c50's), the
    * schedule is c99's two per-shard windows over the kept subset —
    * no new shuffle class. */
  def c105KeepsSchedule(spark: org.apache.spark.sql.SparkSession, dir: String,
      seed: Long = ShuffleSeed, shards: Int = ShuffleShards,
      bins: Int = graft.operators.TextAnalysis.QualityBins): DataFrame =
    keepsScheduleOver(graft.sources.Tables.documents(spark, dir), seed, shards, bins)

  /** c105's schedule over an explicit corpus VINTAGE — funnel keeps
    * computed within the vintage, quality re-binned within its kept
    * population. ONE spelling for c105/c111 (full corpus) and c127's
    * base-vintage leg. */
  private[graft] def keepsScheduleOver(docs: DataFrame, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards,
      bins: Int = graft.operators.TextAnalysis.QualityBins): DataFrame =
    // memoized per (vintage plan, geometry): the kept-set schedule is
    // read by the c105 keyed report AND the c111 pack build — one
    // funnel-join + two-window chain per session
    SessionMemo.frame(s"keeps_sched_${seed}_${shards}_$bins", docs)(
      Materialize.frame {
        val keeps = graft.operators.TextAnalysis.funnelDecisions(docs)
          .filter(col("stage") === "keep").select("doc_id")
        c99CurriculumSchedule(docs.join(keeps, Seq("doc_id")), seed, shards, bins)
      })

  /** c111: the MOUNTED packing — the last artifact gap in the
    * manifest/schedule/packing loop: c98's manifest ships the keeps,
    * c105 orders the keeps, but c103 packs the WHOLE-corpus schedule
    * — a loader walking c103's sequences would still seek dropped
    * docs. c111 runs the packing window over c105's (shard, pos), so
    * every training sequence is a contiguous curriculum run OVER THE
    * KEPT SET ONLY, priced in the stored tokenizer's tokens — the
    * file set a run actually mmaps, end to end. Output is c103's
    * schema plus the schedule's source column.
    *
    * Shape: c105's funnel memo + two per-shard windows, the
    * tokenizer-artifact reduce, ONE packing window on the shard key —
    * identical to c103's plan with the keep semi-join in front. */
  def c111KeepsPack(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards): DataFrame = {
    // the mounted packing is the frame SIX keyed consumers aggregate
    // (c111 itself, c117's epochs, c120's index, c130's taint, c146's
    // masks, c152's budget) — memoized at the driver-checked geometry
    // so the funnel+schedule+window chain runs once per (session,
    // corpus), the session memo's standing discipline. Off-default
    // geometries (specs, sweeps) build direct. The frame carries its
    // own total ORDER BY (shard, pos) from packBySchedule.
    val docs = graft.sources.Tables.documents(spark, dir)
    def build = keepsPackOver(spark, dir, docs, budget, seed, shards)
    if (budget == DefaultTokenBudget && seed == ShuffleSeed && shards == ShuffleShards)
      SessionMemo.frame("c111_keeps_pack", docs)(Materialize.frame(build))
    else build
  }

  /** c111's mounted packing over an explicit corpus VINTAGE — the
    * vintage's own keeps schedule priced in the SHIPPED tokenizer's
    * counts (c83's full-corpus artifact: a deployment doesn't retrain
    * the tokenizer per ingest — c98/c101's standing stance). */
  private[graft] def keepsPackOver(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame, budget: Long = DefaultTokenBudget,
      seed: Long = ShuffleSeed, shards: Int = ShuffleShards): DataFrame =
    packBySchedule(keepsScheduleOver(docs, seed, shards),
      storedTokCounts(spark, dir), budget, Seq("source", "bin"))

  /** c129: the PINNED-BIN keeps schedule — the publish-stability dial
    * c127's deployment note names: the free curriculum (c105) re-bins
    * quality ntiles within every vintage's kept population, so ANY
    * ingest can reorder whole shards and cascade `changed` through
    * the sequence diff. Here the bin CUTS are an artifact of the
    * BASE vintage (per (source, bin) the max kept quality under the
    * free ntile — the explicit quantile boundaries ntile implies),
    * and the new vintage's keeps are binned by CUT COMPARISON:
    * bin = the first bin whose cut ≥ the doc's quality, clamped to
    * the top bin for docs better than anything v1 saw (and for
    * sources v1 never kept — a new source enters top-binned until
    * the next re-pin). Docs kept in BOTH vintages keep their v1 bin
    * (boundary-quality ties aside — spec-pinned), so new arrivals
    * can no longer move old docs' schedule bins: curriculum
    * freshness traded for publish stability, as config.
    *
    * Shape: the cuts artifact is (sources × bins) rows, broadcast;
    * binning is one join + a doc-grain min-aggregate (no window over
    * the corpus for bin assignment — the ntile window runs only on
    * the BASE vintage, once, at pin time); the schedule is c99's
    * per-shard windows. */
  /** The BASE vintage's pinned bin cuts — per (source, bin) the max
    * kept quality under the free ntile (the explicit quantile
    * boundaries ntile implies), memoized once per (session, corpus):
    * the artifact c129's at-rest schedule AND c148's door→schedule
    * hand-off both bin against (artifact reuse — one pin, many
    * consumers). */
  private[graft] def pinnedCuts(spark: org.apache.spark.sql.SparkSession,
      dir: String,
      bins: Int = graft.operators.TextAnalysis.QualityBins): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val cutsRoot = SessionMemo.store(spark, s"c129_cuts_$dir") { r =>
      val v1 = docs.filter(Dedup.isBaseDoc(col("doc_id")))
      val v1kept = v1.join(
        graft.operators.TextAnalysis.funnelDecisions(v1)
          .filter(col("stage") === "keep").select("doc_id"), Seq("doc_id"))
      graft.operators.TextAnalysis.qualityBinned(v1kept, bins)
        .groupBy("source", "bin").agg(max(col("quality")).as("cut"))
        .write.mode("overwrite").parquet(s"$r/cuts")
    }
    spark.read.parquet(s"$cutsRoot/cuts")
  }

  /** Cut-comparison binning — bin = the first bin whose pinned cut ≥
    * the doc's quality, clamped to the top bin (docs better than
    * anything the base vintage saw, and sources it never kept). ONE
    * spelling for c129's at-rest schedule and c148's door hand-off. */
  private[graft] def binByCuts(scored: DataFrame, cuts: DataFrame,
      bins: Int): DataFrame =
    scored.join(broadcast(cuts), Seq("source"), "left")
      .groupBy("doc_id", "source", "quality")
      .agg(coalesce(min(when(col("cut") >= col("quality"), col("bin"))),
        lit(bins.toLong)).as("bin"))
      .drop("quality")

  /** The schedule's deterministic shard assignment — md5 shuffle key
    * + 7-hex-digit shard bucket, c99's one spelling. */
  private[graft] def withShuffleShard(seed: Long, shards: Int)(
      df: DataFrame): DataFrame =
    df.withColumn("shuffle_key", md5(concat_ws(":", lit(seed), col("doc_id"))))
      .withColumn("shard",
        conv(substring(col("shuffle_key"), 1, 7), 16, 10).cast("long") % shards)

  def c129PinnedSchedule(spark: org.apache.spark.sql.SparkSession, dir: String,
      seed: Long = ShuffleSeed, shards: Int = ShuffleShards,
      bins: Int = graft.operators.TextAnalysis.QualityBins): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.documents(spark, dir)
    val cuts = pinnedCuts(spark, dir, bins)
    val kept = docs.join(
      graft.operators.TextAnalysis.funnelDecisions(docs)
        .filter(col("stage") === "keep").select("doc_id"), Seq("doc_id"))
    val scored = kept.select(col("source"), col("doc_id"),
      graft.operators.TextAnalysis.qualityOf(col("text")).as("quality"))
    binByCuts(scored, cuts, bins)
      .transform(withShuffleShard(seed, shards))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(col("bin").desc, col("shuffle_key")))
        .cast("long"))
      .select("doc_id", "source", "bin", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** The (shard, seq_id) checksum aggregate over ANY packing frame —
    * n_docs, token mass, and c98's O(1)-state bit_xor membership
    * checksum. One spelling for the stored v1 artifact, the live v2
    * leg, and the equivalence spec's recompute. */
  private def seqChecksumOver(pack: DataFrame): DataFrame =
    pack.groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok"),
        expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint))")
          .as("checksum"))

  private def seqsSfx(seqs: DataFrame, sfx: String): DataFrame =
    seqs.select(col("shard"), col("seq_id"),
      col("n_docs").as(s"n_docs_$sfx"), col("tok").as(s"tok_$sfx"),
      col("checksum").as(s"checksum_$sfx"))

  /** The PERSISTED base-vintage SEQUENCE manifest —
    * [[manifestV1Artifact]]'s discipline at the grain a loader
    * actually mmaps: the base vintage's keeps-packing aggregated to
    * (shard, seq_id) rows with c98's membership checksum, written
    * ONCE per (session, corpus, geometry) and read back by the
    * vintage diff. This is the file a previous publish actually
    * shipped (c120's rows for ITS vintage) — "which sequences does
    * this ingest invalidate" is a question about the LAST export,
    * answered from its stored manifest, never by recomputing the
    * base vintage's funnel + packing. */
  private[graft] def seqManifestV1Artifact(spark: org.apache.spark.sql.SparkSession,
      dir: String, budget: Long, seed: Long, shards: Int): String = {
    val root = SessionMemo.store(spark,
        s"c127_seqv1_${dir}_${budget}_${seed}_$shards") { root =>
      seqChecksumOver(keepsPackOver(spark, dir,
          graft.sources.Tables.documents(spark, dir)
            .filter(Dedup.isBaseDoc(col("doc_id"))), budget, seed, shards))
        .write.mode("overwrite").parquet(s"$root/seq_manifest_v1")
    }
    s"$root/seq_manifest_v1"
  }

  /** The diff itself over two suffixed sequence frames — shared by
    * the artifact-backed keyed query and the spec's from-scratch
    * recompute, so they cannot drift. */
  private def seqDiffFrames(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.join(v2, Seq("shard", "seq_id"), "full_outer")
      .select(col("shard"), col("seq_id"),
        coalesce(col("n_docs_v1"), lit(0L)).as("n_docs_v1"),
        coalesce(col("tok_v1"), lit(0L)).as("tok_v1"),
        coalesce(col("n_docs_v2"), lit(0L)).as("n_docs_v2"),
        coalesce(col("tok_v2"), lit(0L)).as("tok_v2"),
        when(col("checksum_v1").isNull, lit("added"))
          .when(col("checksum_v2").isNull, lit("removed"))
          .when(col("checksum_v1") === col("checksum_v2")
            && col("n_docs_v1") === col("n_docs_v2")
            && col("tok_v1") === col("tok_v2"), lit("same"))
          .otherwise(lit("changed")).as("status"))
      .orderBy("shard", "seq_id")

  /** c127: the SEQUENCE-grain vintage diff — c101's "which shards does
    * this ingest invalidate" answered at the grain a loader actually
    * mmaps (c111's packed sequences): the STORED base-vintage
    * sequence manifest ([[seqManifestV1Artifact]] — the parquet a
    * previous publish shipped) full-outer joined against the live
    * corpus's packing per (shard, seq_id), each side carrying doc
    * count, token mass, and membership checksum (c98's O(1)-state
    * bit_xor of 60-bit md5 prefixes). Status per sequence: `added`
    * (new vintage only), `removed` (base only — an upstream drop
    * shifted the packing), `changed` (same slot, different members),
    * `same` — only non-`same` sequences need re-shipping.
    * Curriculum caveat, stated not hidden: the keeps schedule
    * re-bins quality WITHIN each vintage's kept population, so an
    * ingest can reorder the schedule and cascade `changed` through a
    * shard — exactly the invalidation cost this table makes visible
    * BEFORE a publish.
    *
    * Shape: ONE live keeps-schedule+packing chain + a stored-artifact
    * scan (the r14 verdict's c127 item — the diff was recomputing
    * BOTH vintages; the base leg is now c101's artifact pattern at
    * sequence grain), one full-outer join over report-sized sequence
    * rows. The artifact build is a once-per-session store cost
    * (SessionMemo.store), like the index/tokenizer/classifier tiers. */
  def c127SeqVintageDiff(spark: org.apache.spark.sql.SparkSession, dir: String,
      budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards): DataFrame = {
    val v1 = seqsSfx(spark.read.parquet(
      seqManifestV1Artifact(spark, dir, budget, seed, shards)), "v1")
    // the live leg IS the mounted packing at the same geometry —
    // routed through c111KeepsPack so it reads the session's memoized
    // pack frame instead of re-running the funnel+schedule+window chain
    val v2 = seqsSfx(seqChecksumOver(
      c111KeepsPack(spark, dir, budget, seed, shards)), "v2")
    seqDiffFrames(v1, v2)
  }

  /** The pre-artifact spelling — both vintage legs recomputed live.
    * Kept for the equivalence spec ONLY: the artifact-backed diff
    * must equal this row-for-row (c101DiffRecomputed's discipline at
    * sequence grain). */
  private[graft] def c127DiffRecomputed(spark: org.apache.spark.sql.SparkSession,
      dir: String, budget: Long = DefaultTokenBudget, seed: Long = ShuffleSeed,
      shards: Int = ShuffleShards): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val v1 = seqsSfx(seqChecksumOver(keepsPackOver(spark, dir,
      docs.filter(Dedup.isBaseDoc(col("doc_id"))), budget, seed, shards)), "v1")
    val v2 = seqsSfx(seqChecksumOver(
      keepsPackOver(spark, dir, docs, budget, seed, shards)), "v2")
    seqDiffFrames(v1, v2)
  }

  /** c117 epoch count — the read plan's horizon. Oracle-interpolated. */
  val EpochCount = 3

  /** c117: the MULTI-EPOCH read plan — what the loader consumes
    * ACROSS epochs (c111 fixes one epoch's mounted packing; training
    * runs several): per epoch, the order in which each shard's packed
    * SEQUENCES are read. Epoch 0 preserves the curriculum exactly
    * (sequence id order — the easy-first schedule c111 packed);
    * epochs ≥ 1 reshuffle sequences WITHIN each shard under a seeded
    * md5 key (c28's epoch-shuffle discipline at sequence grain), so
    * later epochs decorrelate batch composition while every sequence
    * keeps its internal curriculum run — the standard
    * curriculum-then-shuffle training recipe, deterministic on any
    * engine, rerun, or cluster size.
    *
    * Shape: c111's packing aggregated to sequence grain (corpus
    * tokens / budget rows), a |epochs|-way explode, one per-(epoch,
    * shard) rank window over sequence-grain rows — report-sized at
    * any corpus; the raw corpus is never re-read per epoch. */
  def c117EpochPlan(spark: org.apache.spark.sql.SparkSession, dir: String,
      epochs: Int = EpochCount, budget: Long = DefaultTokenBudget,
      seed: Long = ShuffleSeed, shards: Int = ShuffleShards): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(epochs > 0, "c117 needs at least one epoch")
    val seqs = c111KeepsPack(spark, dir, budget, seed, shards)
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
    val skey = md5(concat_ws(":", lit(seed), col("epoch"), col("shard"), col("seq_id")))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(when(col("epoch") === 0, col("seq_id")).otherwise(lit(0L)),
        skey, col("seq_id"))
    seqs
      .select(col("shard"), col("seq_id"), col("n_docs"), col("sum_tok"),
        explode(sequence(lit(0L), lit((epochs - 1).toLong))).as("epoch"))
      .withColumn("epoch_pos", row_number().over(w).cast("long"))
      .select("epoch", "shard", "seq_id", "epoch_pos", "n_docs", "sum_tok")
      .orderBy("epoch", "shard", "epoch_pos")
  }

  // ---- c112: data-constrained repeat mixture ---------------------------

  /** c112 repeat cap — the "repeating past ~4 epochs stops helping"
    * reading of Muennighoff et al. 2023 (Scaling Data-Constrained
    * LMs), the published constant for how often a source is worth
    * replaying. Oracle-interpolated. */
  val RepeatCap = 4L

  /** c112: the DATA-CONSTRAINED repeat plan — when the target token
    * budget exceeds what a √n-weighted mixture can draw from a source
    * once, the assembler REPEATS sources, capped at [[RepeatCap]]
    * epochs: per source, its token mass under the stored tokenizer,
    * its per-mille mixture weight (p ∝ √n — c38's temperature
    * spelling at token grain), the target mass that weight implies
    * against a budget of one corpus-mass, the achieved mass under the
    * epoch cap (least(cap·n, target)), the implied epoch count, and
    * the deficit the cap leaves unfilled — the table that tells a run
    * which sources are REPEAT-BOUND (deficit > 0: more unique data
    * needed) vs admission-bound.
    *
    * Determinism: mille = floor(1000·√n/Σ√n) with Σ√n 6-rounded
    * (c38's quantization); target = (budget·mille) div 1000 and
    * everything after is EXACT integer arithmetic — epochs is the
    * one final rounded division. Shape: one (source) aggregate off
    * the tokenizer counts (S rows), a broadcast totals join, pure
    * report math — no corpus shuffle beyond the count aggregate. */
  def c112RepeatMixture(spark: org.apache.spark.sql.SparkSession,
      dir: String, cap: Long = RepeatCap): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val st = docs.join(storedTokCounts(spark, dir), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
    val tot = st.agg(sum(col("n_tok")).as("budget_tok"),
      round(sum(sqrt(col("n_tok").cast("double"))), 6).as("z"))
    st.crossJoin(broadcast(tot))
      .withColumn("mille",
        floor(lit(1000.0) * sqrt(col("n_tok").cast("double")) / col("z")).cast("long"))
      .withColumn("target_tok", expr("(budget_tok * mille) div 1000"))
      .withColumn("achieved_tok", least(col("n_tok") * cap, col("target_tok")))
      .select(col("source"), col("n_docs"), col("n_tok"), col("mille"),
        col("target_tok"), col("achieved_tok"),
        round(col("achieved_tok").cast("double") / col("n_tok"), 4).as("epochs"),
        (col("target_tok") - col("achieved_tok")).as("deficit"))
      .orderBy("source")
  }

  /** Chunk TEXTS — the composition-facing sibling of [[c25DocChunks]]:
    * same window geometry (size tokens, stride = size − overlap, kept
    * short tail), but each row carries the chunk's text so downstream
    * operators (the curation gate, language ID, PII scans) can run at
    * CHUNK grain. Typed flatMap kernel like c25: per-row work and
    * output are linear in document length (total emitted characters ≈
    * size/stride × L ≈ 1.14 L at the defaults) — never the full-array-
    * per-row quadratic the declarative explode+slice spelling pays. */
  def chunkTexts(docs: DataFrame, size: Int = ChunkTokens,
      overlap: Int = ChunkOverlap): DataFrame = {
    require(overlap < size, "overlap must be smaller than the chunk size")
    val stride = size - overlap
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        val nChunks = math.max(
          math.ceil((w.length - overlap).toDouble / stride).toInt, 1)
        (0 until nChunks).iterator.map { i =>
          val from = i * stride
          val until = math.min(from + size, w.length)
          val sb = new java.lang.StringBuilder
          var j = from
          while (j < until) {
            if (j > from) sb.append(' ')
            sb.append(w(j)); j += 1
          }
          (id, i.toLong, sb.toString)
        }
      }
      .toDF("doc_id", "chunk_idx", "chunk_text")
  }

  /** c14: int8 scalar quantization of embeddings — the standard
    * memory/bandwidth reduction for ANN serving at scale. Per-vector
    * min/max scaling to [0,255]; emits the scale parameters plus an
    * md5 checksum of the quantized codes (arrays stay engine-internal;
    * the checksum proves byte-exact parity). Narrow single pass. */
  def c14Quantize(emb: DataFrame): DataFrame = {
    val e = col("embedding")
    val lo = array_min(e).cast("double")
    val hi = array_max(e).cast("double")
    // floor(v + 0.5) instead of round(): identical halfway semantics
    // in every engine. Degenerate constant vectors quantize to 0.
    val q = transform(e, x =>
      when(hi === lo, lit(0L)).otherwise(
        floor((x.cast("double") - lo) / (hi - lo) * 255.0 + 0.5).cast("long"))
        .cast("string"))
    emb.select(col("vec_id"),
        round(lo, 6).as("qmin"),
        round(hi, 6).as("qmax"),
        md5(concat_ws(",", q)).as("codes_md5"))
      .orderBy("vec_id")
  }

  // ---- c36: leakage-safe (dedup-aware) split --------------------------

  /** c36: cluster-aware train/val/test split — c13's reproducible
    * hash split with the leakage hole closed: c13 buckets each DOC
    * independently, so a near-duplicate pair can straddle train and
    * test, leaking training text into eval (the exact failure Lee et
    * al. 2022 §6 measure). Here the split key is the doc's near-dup
    * CLUSTER (c12's connected components over verified MinHash-LSH
    * pairs; singletons are their own cluster), so every member of a
    * cluster lands in the same split by construction — the md5 bucket
    * is a function of the cluster id alone.
    *
    * Scale shape: the pair chain is c3/c12's (banded LSH, BucketCap,
    * candidate volume ∝ similarity mass), the labeler is the adaptive
    * union-find/pointer-jump engine, and the label frame is
    * verified-pair-sized — the left join back to the corpus leaves
    * every unlabeled doc untouched (coalesce to its own id). One
    * report-sized aggregation follows; same 90/5/5 geometry as c13
    * ([[SplitTrainPct]]/[[SplitValPct]]). */
  def c36ClusterSplit(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    c36Assignments(docs, threshold)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("cluster")).as("n_clusters"))
      .orderBy("split")

  /** The per-doc (doc_id, cluster, split) assignment under c36's
    * rule — the keyed report aggregates this; exposed at doc grain
    * so the leakage-safety PROPERTY (a cluster never straddles
    * splits) is testable directly, not only via planted examples. */
  private[graft] def c36Assignments(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val labels = Dedup.verifiedDupLabels(docs, threshold)
      .withColumnRenamed("label", "cluster")
    val bucket = conv(substring(md5(col("cluster").cast("string")), 1, 7), 16, 10)
      .cast("long") % 100
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        when(bucket < SplitTrainPct, "train")
          .when(bucket < SplitValPct, "val").otherwise("test"))
  }

  // ---- c106: context-length sweep --------------------------------------

  /** c106 grid — the candidate context lengths a pretraining run
    * prices before committing to one. Powers of two, so every
    * per-sequence fill fraction (sum_tok / budget) is an EXACT binary
    * double and the cross-engine average is order-independent.
    * Oracle-interpolated. */
  val PackSweepBudgets: Seq[Long] = Seq(256L, 512L, 1024L, 2048L)

  /** c106: the CONTEXT-LENGTH SWEEP — the sizing table a run reads
    * before fixing its sequence length: for every candidate budget,
    * the packing outcome under c86's discipline (stored-tokenizer
    * counts, shard prefix sums) — sequence count, average fill,
    * docs per sequence, and the number of documents that straddle a
    * block boundary (the attention-mask cost of a shorter context;
    * boundary crossings scale ∝ total tokens / budget, and this
    * query prices exactly that trade).
    *
    * Shape: the prefix sum is budget-INDEPENDENT, so the sweep runs
    * ONE packing window over the memoized count frame and then a
    * |grid|-way explode of the doc-grain assignment — never a window
    * pass or corpus scan per candidate length. The per-(budget,
    * shard, seq) aggregate is map-side combinable and the report is
    * |grid| rows. */
  def c106PackSweep(spark: org.apache.spark.sql.SparkSession, dir: String,
      budgets: Seq[Long] = PackSweepBudgets, shards: Int = PackShards): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty, "c106 needs at least one candidate budget")
    val counts = graft.operators.TextAnalysis.c83StoredTokenizer(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tok"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"), col("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
    // a doc crosses a block edge iff its end overhangs its sequence's
    // budget: cum - seq_id*budget > budget (c94's crosses_budget)
    val assigned = cum
      .select(col("shard"), col("n_tok"), col("cum"),
        explode(array(budgets.map(lit(_)): _*)).as("budget"))
      .withColumn("seq_id", expr("(cum - n_tok) div budget"))
      .withColumn("crosses", col("cum") - col("seq_id") * col("budget") > col("budget"))
    assigned
      .groupBy("budget", "shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        sum(when(col("crosses"), 1L).otherwise(0L)).as("n_cross"))
      .groupBy("budget")
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tok")).as("sum_tok"),
        sum(col("n_cross")).as("n_crossing"),
        round(avg(col("sum_tok").cast("double") / col("budget")), 4).as("avg_fill"),
        round(sum(col("n_docs")).cast("double") / count(lit(1)), 4).as("docs_per_seq"))
      .withColumn("crossing_frac",
        round(col("n_crossing").cast("double") / col("n_docs"), 4))
      .orderBy("budget")
  }

  // ---- c38: temperature-scaled source mixture -------------------------

  /** Temperature exponent and target budget share — oracle-
    * interpolated contract constants (c22's discipline). α = 0.5 is
    * the multilingual-sampling standard (mT5/XLM-R's p ∝ n^α) AND
    * the one exponent with a cross-engine-exact spelling: n^0.5 is
    * written `sqrt` (correctly rounded per IEEE in both engines),
    * where a general `pow(n, α)` is allowed 1-ulp slack that could
    * flip the floor() at a mille boundary. A different α would need
    * the dither guard c29's sketch twin uses. */
  val MixAlpha = 0.5
  val MixBudgetShare = 0.5

  /** c38: temperature-scaled source sampling — the mixture-flattening
    * step of corpus assembly (mT5 §3.1, XLM-R): sources are kept with
    * probability ∝ n^(α−1) so small sources are up-weighted relative
    * to their raw share, targeting a total budget of
    * [[MixBudgetShare]]·|corpus| docs with weights p_s ∝ n_s^α
    * (α = [[MixAlpha]] = 0.5 ⇒ sqrt). Differs from c18 (FIXED
    * per-stratum rates) and c30 (exact token-budget admission): the
    * rates here are DERIVED from the observed per-source counts.
    *
    * Determinism: the per-source keep rate is quantized to per-mille
    * (floor — an under-, never over-shoot) and admission is c18's
    * content-independent md5(doc_id) bucket, so every engine, rerun,
    * and cluster size keeps exactly the same rows. Σ√n is a
    * report-sized double sum rounded to 6 before use. Physical
    * shape: one report-sized count aggregate, broadcast back over
    * the corpus scan, one narrow filter + report aggregation — no
    * corpus shuffle at all. */
  def c38TemperatureMix(docs: DataFrame): DataFrame =
    temperatureMixOver(docs.select(col("doc_id"), col("source")), Seq("source"))

  /** The temperature-mix machinery over ARBITRARY grouping keys —
    * ONE spelling for c38 (by source) and c61 (by detected language
    * × source), so the p ∝ √n math and the per-mille admission can
    * never drift between the two reports. `docs` must carry doc_id +
    * the key columns. */
  private[operators] def temperatureMixOver(docs: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val counts = docs.groupBy(keyCols: _*).agg(count(lit(1)).as("n_total"))
    val tot = counts.agg(
      sum(col("n_total")).as("n_corpus"),
      round(sum(sqrt(col("n_total").cast("double"))), 6).as("z"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("mille", least(lit(1000L),
        floor(lit(1000.0) * floor(col("n_corpus") * lit(MixBudgetShare))
          * sqrt(col("n_total").cast("double"))
          / (col("z") * col("n_total")))))
      .select(keyCols :+ col("mille"): _*)
    docs.select(keyCols :+
        (conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 1000).as("bucket"): _*)
      .join(broadcast(rates), keys)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n_docs"),
        min(col("mille")).as("keep_mille"),
        sum(when(col("bucket") < col("mille"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_frac", round(col("n_kept").cast("double") / col("n_docs"), 4))
      .orderBy(keyCols: _*)
  }
}
