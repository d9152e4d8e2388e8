package graft.operators

import graft.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Keys, TextFns}

/** Text-analysis operators (SURVEY §2: c8–c11). All single-pass
  * narrow projections over the documents scan — no shuffle at all
  * except the final report-sized orderBy; this tier is embarrassingly
  * parallel at any scale.
  */
object TextAnalysis {

  import org.apache.spark.sql.Column

  private def markerArray = array(TextFns.EnMarkers.map(lit): _*)

  // Signal spellings shared by c8/c9/c23 — ONE definition each, so
  // the curation gate's thresholds can never drift from the
  // oracle-matched originals.
  private def markerHitsOf(toks: Column) =
    size(filter(toks, t => array_contains(markerArray, t)))
  private def enScoreOf(toks: Column) =
    round(markerHitsOf(toks).cast("double") / size(toks), 4)
  private def enNgramScoreOf(text: Column) = {
    val hits = Seq("th", "he", "in", "er").map { b =>
      (length(text) - length(regexp_replace(text, b, ""))) / 2
    }.reduce(_ + _)
    round(hits.cast("double") / length(text), 4)
  }
  private def distinctRatioOf(toks: Column) =
    round(size(array_distinct(toks)).cast("double") / size(toks), 4)

  /** c8: language ID via two stacked heuristics — marker words and
    * character-bigram frequency (occurrences counted with the
    * length-difference trick, which both engines compute
    * identically; overlapping-match regexes would not be portable).
    * The marker/bigram lists per language are the model; the
    * synthetic corpus only overlaps the English lists, which the
    * heuristic duly reports. */
  def c8LangId(docs: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    docs.select(
        col("doc_id"), col("lang").as("labeled_lang"),
        size(toks).cast("long").as("n_tokens"),
        markerHitsOf(toks).cast("long").as("en_hits"),
        enScoreOf(toks).as("en_score"),
        enNgramScoreOf(col("text")).as("en_ngram_score"))
      .withColumn("pred_lang",
        when(col("en_score") > 0.01 || col("en_ngram_score") > 0.02, lit("en"))
          .otherwise(lit("und")))
      .orderBy("doc_id")
  }

  /** c61: temperature mix at (DETECTED language × source) grain —
    * the grouping mT5/XLM-R actually mix by (§3.1: sampling rates
    * are per LANGUAGE, not per provenance), composed from shipped
    * parts: c8's language verdict (the shared marker/bigram signal
    * spellings — detector and report cannot drift) keys c38's
    * p ∝ √n admission ([[Sampling.temperatureMixOver]], the one
    * mixture spelling). The report prices every (pred_lang, source)
    * cell's keep rate — CCNet's layout: language first, then
    * provenance within it. Cost over c38: one narrow projection
    * computing the verdict (no join — the detector is a per-row
    * expression); everything downstream is the same two report-sized
    * broadcast aggregates. */
  def c61LangMix(docs: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    Sampling.temperatureMixOver(
      docs.select(col("doc_id"), col("source"),
        when(enScoreOf(toks) > 0.01 || enNgramScoreOf(col("text")) > 0.02, lit("en"))
          .otherwise(lit("und")).as("pred_lang")),
      Seq("pred_lang", "source"))
  }

  /** c9: quality scoring from length / repetition / stopword-rate
    * signals, composed into a bounded [0,1] score. */
  def c9Quality(docs: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    docs.select(
        col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        distinctRatioOf(toks).as("distinct_ratio"),
        enScoreOf(toks).as("stopword_ratio"),
        round(size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0))).cast("double")
          / col("n_chars"), 4).as("punct_ratio"),
        round(col("n_chars").cast("double") / size(toks), 4).as("chars_per_token"),
        qualityOf(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** The composite quality score itself — ONE spelling shared by c9
    * (per-doc report) and c29 (per-source binning). Rounds to 5: the
    * addends are multiples of 1e-5, and a 4-decimal round would sit
    * exactly on half-way points where engines' tie-breaking differs. */
  private[graft] def qualityOf(text: Column): Column = {
    val toks = TextFns.tokens(text)
    round(lit(0.3) * least(size(toks).cast("double") / 100.0, lit(1.0))
      + lit(0.4) * distinctRatioOf(toks)
      + lit(0.3) * least(enScoreOf(toks) * 5.0, lit(1.0)), 5)
  }

  /** c29: per-source quality binning — the "keep the top X% of each
    * source" view a curation run prices before committing: every
    * source's docs ranked by the c9 quality score and cut into
    * `bins` ntiles, reporting each bin's doc count, quality range,
    * and token mass. Dropping bins 1..k per source IS the
    * quality-floor policy, and the bin boundaries double as
    * per-source quality quantiles.
    *
    * Scale shape: one shuffle on source; the rank window is
    * per-source. A 100 TB source outgrows one sort task — at that
    * size swap the exact ntile for approx_percentile cutpoints (same
    * report, sketch-derived edges); the exact spelling is the oracle
    * contract here, same discipline as c22/c28's shard parameter. */
  def c29QualityBins(docs: DataFrame, bins: Int = QualityBins): DataFrame =
    qualityBinned(docs, bins)
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality")).as("min_q"),
        max(col("quality")).as("max_q"),
        sum(col("n_tok")).as("sum_tok"))
      .orderBy("source", "bin")

  /** c29's doc-grain ntile assignment — the ONE spelling the bin
    * report aggregates and the curriculum schedule (c99) orders by. */
  private[operators] def qualityBinned(docs: DataFrame, bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
    docs.select(col("source"), col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
        qualityOf(col("text")).as("quality"))
      .withColumn("bin", ntile(bins).over(w).cast("long"))
  }

  /** The 100 TB spelling of [[c29QualityBins]]: bin edges from a
    * per-source approx_percentile SKETCH (one map-side-combined agg,
    * no per-source sort), docs assigned by cutpoint comparison —
    * same report schema, no window anywhere, so a source of any size
    * stays task-parallel. Sketch edges are not cross-engine-stable,
    * so this variant is spec-verified (assignment monotone in
    * quality, conservation, near-uniform bin mass on a uniform
    * corpus) rather than oracle-checked — the exact ntile spelling
    * remains the oracle contract. The cutpoint frame is one row per
    * source; it stays unhinted so AQE broadcasts it when small. */
  def c29QualityBinsApprox(docs: DataFrame, bins: Int = QualityBins,
      accuracy: Int = 10000): DataFrame = {
    val scored = docs.select(col("source"), col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
      qualityOf(col("text")).as("quality"))
    val probs = (1 until bins).map(i => i.toDouble / bins)
    val cuts = scored.groupBy("source")
      .agg(expr(s"approx_percentile(quality, array(${probs.mkString(", ")}), $accuracy)")
        .as("cuts"))
    scored.join(cuts, Seq("source"))
      .withColumn("bin",
        (size(filter(col("cuts"), c => col("quality") > c)) + 1).cast("long"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality")).as("min_q"),
        max(col("quality")).as("max_q"),
        sum(col("n_tok")).as("sum_tok"))
      .orderBy("source", "bin")
  }

  /** Shared c30 scoring frame — ONE spelling of (n_tok, prio, budget)
    * for both mixture variants, so exact and bucketed admission can
    * never drift on the inputs they rank. */
  private def mixtureScored(docs: DataFrame,
      budgets: Map[String, Long], defaultBudget: Long): DataFrame = {
    // a non-positive token budget is malformed config, not a mixture:
    // fail loudly (topoOrder's stance) instead of dividing fill_rate
    // by zero inside a 100 TB job
    require(defaultBudget > 0 && budgets.values.forall(_ > 0),
      s"token budgets must be positive: default=$defaultBudget overrides=$budgets")
    val budgetCol =
      if (budgets.isEmpty) lit(defaultBudget)
      else coalesce(
        element_at(typedLit(budgets), col("source")), lit(defaultBudget))
    docs.select(col("source"), col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string")).as("prio"),
      budgetCol.as("budget"))
  }

  /** Shared c30 report aggregation over a scored frame carrying a
    * boolean `kept` admission flag. */
  private def mixtureReport(flagged: DataFrame): DataFrame =
    flagged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tok"),
        max(col("budget")).as("budget"))
      .withColumn("fill_rate",
        round(col("kept_tok").cast("double") / col("budget"), 4))
      .orderBy("source")

  /** c30: token-budget source mixture — the Pile/LLaMA-style step
    * that assembles a training mix: each source contributes documents
    * (in a deterministic md5 priority order, so every engine/cluster
    * picks the SAME subset) until its token budget fills; the report
    * prices the resulting mixture per source. A doc is admitted iff
    * its START offset is inside the budget (c22's block rule), so
    * budgets overshoot by at most one document — standard practice.
    * Budget overrides + the default are operator constants the oracle
    * interpolates — parity cannot drift.
    *
    * THIS spelling is the oracle contract and the spec ground truth:
    * one per-source prefix-sum window, which at 100 TB funnels an
    * entire source through one sort task. The keyed query runs
    * [[c30SourceMixtureBucketed]], which computes the IDENTICAL
    * admission set with no per-source window (proved row-equal by
    * Round5Spec) — c29's exact-vs-approx discipline, except here the
    * scale spelling is exact too, so it ships as the default. */
  def c30SourceMixture(docs: DataFrame,
      budgets: Map[String, Long] = MixtureBudgets,
      defaultBudget: Long = DefaultMixtureBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("prio"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    mixtureScored(docs, budgets, defaultBudget)
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("kept", col("cum") - col("n_tok") < col("budget"))
      .transform(mixtureReport)
  }

  /** The 100 TB spelling of [[c30SourceMixture]] — same rows, no
    * per-source window. The md5 priority is uniform, so its first
    * [[MixtureBucketHexChars]] hex chars split every source into 4096
    * PREFIX-ORDERED buckets (lexicographic md5 order refines bucket
    * order). Admission then resolves in three task-parallel steps:
    *
    *  1. histogram: sum(n_tok) per (source, bucket) — one map-side-
    *     combinable aggregate, ≤4096 rows per source;
    *  2. cutpoint: on that tiny frame, the first bucket whose
    *     cumulative token mass reaches the budget (window over ≤4096
    *     rows per source — bounded by the constant, not the data) and
    *     the cumulative mass BEFORE it (`base`);
    *  3. admit: bucket < cut → kept (its docs all start before the
    *     budget), bucket > cut → dropped (they all start at ≥ base +
    *     cut-bucket mass ≥ budget), bucket == cut → the one boundary
    *     sliver resolves exactly with a prefix sum partitioned by
    *     (source, BUCKET) — every window partition is ~1/4096 of a
    *     source, so a source of any size stays task-parallel.
    *
    * The admitted set is IDENTICAL to the exact window's — the
    * cutpoint math is exact, not a sketch — so this runs behind the
    * keyed c30 query against the unchanged oracle. The scored frame
    * feeds both the histogram and the admission pass; it is
    * materialized via [[Materialize.frame]] so the corpus is scanned
    * and tokenized once (strategy-switchable for durability at
    * cluster scale). */
  def c30SourceMixtureBucketed(docs: DataFrame,
      budgets: Map[String, Long] = MixtureBudgets,
      defaultBudget: Long = DefaultMixtureBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Materialize.frame(
      mixtureScored(docs, budgets, defaultBudget)
        .withColumn("bkt",
          conv(substring(col("prio"), 1, MixtureBucketHexChars), 16, 10)
            .cast("long")))
    val wHist = Window.partitionBy(col("source")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cuts = scored.groupBy("source", "bkt")
      .agg(sum(col("n_tok")).as("bkt_tok"), max(col("budget")).as("budget"))
      .withColumn("base", coalesce(sum(col("bkt_tok")).over(wHist), lit(0L)))
      .groupBy("source")
      // struct-min picks the FIRST bucket whose through-mass reaches
      // the budget; no crossing (source smaller than budget) → null →
      // sentinel cut above every bucket, everything admitted
      .agg(min(when(col("base") + col("bkt_tok") >= col("budget"),
        struct(col("bkt"), col("base")))).as("cut"))
      // the key is renamed (cut_source) so the join below is
      // unambiguous by construction — cuts derives from scored, and a
      // same-name condition would lean on the analyzer's ambiguous-
      // self-join heuristic (the classic trivially-true-equals trap)
      .select(col("source").as("cut_source"),
        coalesce(col("cut.bkt"), lit(Long.MaxValue)).as("cut_bkt"),
        coalesce(col("cut.base"), lit(0L)).as("cut_base"))
    // the boundary sliver's window partitions on (source, bkt): the
    // 1/4096-of-a-source partition that replaces the whole-source sort
    val wSliver = Window.partitionBy(col("source"), col("bkt"))
      .orderBy(col("prio"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // null-safe join: a NULL source is a legal group (the exact window
    // spelling reports it), and a plain equi-join would silently drop
    // its documents. cuts is |sources| rows — AQE broadcasts it.
    scored.join(cuts, col("source") <=> col("cut_source"))
      .drop("cut_source")
      .withColumn("cum_in", sum(col("n_tok")).over(wSliver))
      .withColumn("kept",
        col("bkt") < col("cut_bkt") ||
          (col("bkt") === col("cut_bkt") &&
            col("cut_base") + col("cum_in") - col("n_tok") < col("budget")))
      .transform(mixtureReport)
  }

  /** c31: unigram log-probability scoring — the CCNet-style LM
    * quality filter with the corpus's own unigram table standing in
    * for the external language model: every document scored by the
    * mean log10-probability of its tokens under the corpus unigram
    * distribution. Boilerplate and in-distribution text scores high;
    * rare-token soup (the stuff perplexity filters drop) scores low.
    * In production the unigram table is REPLACED by the pretrained
    * LM's table (a broadcast lookup); the plan shape is identical.
    *
    * Shape: one (doc, term) aggregation (map-side combined), the
    * unigram table derived FROM it (no second corpus scan — c17's
    * trick), a term-keyed join back, one per-doc aggregate. The
    * rounded mean is the only cross-engine float surface (SURVEY §6
    * discipline, same as b20's moments). Skew stance: stopword terms
    * make the term join hot by construction — the unigram side is
    * deliberately unhinted so AQE can broadcast it when the
    * vocabulary is small and split the fat sort-merge partitions
    * when it is not (the skew-split path RobustnessSpec proves). */
  def c31UnigramLogprob(docs: DataFrame): DataFrame = {
    val tf = tfRows(docs) // session-shared (doc, term, tf) memo
    val uni = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
    val total = uni.agg(sum(col("cnt")).as("n_total"))
    tf.join(uni, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        round(sum(col("tf").cast("double")
            * log10(col("cnt").cast("double") / col("n_total")))
          / sum(col("tf")), 4).as("mean_logprob"))
      .orderBy("doc_id")
  }

  /** c58's bucket count — CCNet's head/middle/tail (Wenzek et al.
    * 2020 §4.3: rank by LM perplexity per language, cut in thirds,
    * train on the head/middle). Oracle-interpolated. */
  val PplBuckets = 3

  /** c58: perplexity buckets — the CCNet selection view over c31's
    * LM score: per SOURCE (standing in for CCNet's per-language
    * grouping), docs rank by mean log-probability and split into
    * [[PplBuckets]] equal-count buckets (1 = head, most
    * in-distribution); the report prices each bucket's doc count and
    * token mass, which is exactly the table a CCNet-style run reads
    * before deciding head+middle vs head-only. c31 scores; c58 turns
    * the score into the published CUT.
    *
    * Shape: the per-doc score frame is c31's (one tf-memo reduce +
    * term join), the source attach is one doc-grain join, and the
    * ntile is a per-source window — c29's exact-spelling stance: the
    * ORACLE contract is the exact ntile; at 100 TB swap the window
    * for c29QualityBinsApprox's sketch-cutpoint assignment (same
    * report schema, no per-source sort) and keep this spelling as
    * the correctness twin. Docs with no tokens have no score and no
    * bucket (absent from the tf memo, mirrored by the oracle). */
  def c58PerplexityBuckets(docs: DataFrame, buckets: Int = PplBuckets): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = c31UnigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val w = Window.partitionBy(col("source")).orderBy(col("mean_logprob").desc, col("doc_id"))
    scored.withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("mean_logprob")).as("min_logprob"),
        max(col("mean_logprob")).as("max_logprob"))
      .orderBy("source", "bucket")
  }

  /** c59: corpus-novelty score — the diversity signal dual to the
    * whole dedup tier: per document, the fraction of its distinct
    * shingles occurring NOWHERE else in the corpus (df = 1). Low
    * novelty flags templated/boilerplate-adjacent text even when no
    * single pair clears a dedup bar (mass duplication spread across
    * many partners — c53's matrix at doc grain); high novelty is
    * what a diversity-seeking selection run keeps. The standard
    * companion number to a dedup sweep: c51 prices what a bar
    * REMOVES, c59 prices how much of each surviving doc is actually
    * new text.
    *
    * Shape: the df table is shingle-vocabulary-grain derived from
    * the session shingle memo (c17's derive-don't-rescan trick —
    * zero extra corpus passes), the join back is term-keyed with
    * c31's skew stance (unhinted — AQE broadcasts a small
    * vocabulary, skew-splits a hot one), one map-side-combinable
    * per-doc aggregate. Docs with <3 words have no shingles and no
    * row (the memo's grain, mirrored by the oracle). */
  def c59Novelty(docs: DataFrame): DataFrame = {
    val sh = Dedup.docShingles8(docs)
    val df = sh.groupBy("sh8").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("sh8"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty", round(col("n_unique").cast("double") / col("n_sh"), 4))
      .orderBy("doc_id")
  }

  /** c10: token counting — whitespace tokens plus a BPE-ish regex
    * lexer count (letters runs / digit runs / single punctuation). */
  def c10TokenCount(docs: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    docs.select(
        col("doc_id"),
        size(toks).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("len_chars"))
      .orderBy("doc_id")
  }

  /** c15: text normalization — the cleanup pass every training
    * pipeline runs before dedup/tokenization: strip non-alphanumerics,
    * collapse whitespace runs, trim. Emits the normalized-text md5
    * (not the text itself — report-sized output) plus before/after
    * lengths and a changed flag. Narrow single pass, no shuffle. */
  def c15Normalize(docs: DataFrame): DataFrame = {
    val stripped = regexp_replace(col("text"), "[^a-z0-9 ]", "")
    val collapsed = trim(regexp_replace(stripped, " +", " "))
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_raw"),
        length(collapsed).cast("long").as("len_norm"),
        (collapsed =!= col("text")).as("changed"),
        md5(collapsed).as("norm_md5"))
      .orderBy("doc_id")
  }

  // PII patterns shared by c16 and the c23 curation cascade — kept to
  // character classes + quantifiers so Java regex (Spark) and RE2
  // (DuckDB) agree exactly
  /** Driver-contract defaults for c29/c30 — the oracle SQL
    * interpolates these (OraclesC), so they cannot drift. */
  val QualityBins = 10
  val MixtureBudgets: Map[String, Long] = Map("src0" -> 400L, "src1" -> 1200L)
  val DefaultMixtureBudget = 800L
  /** md5-prefix width of the c30 bucketed-admission histogram: 3 hex
    * chars = 4096 prefix-ordered buckets per source. Fixed by the
    * exact-equality contract (any width gives the same rows), sized so
    * the per-source histogram stays trivially window-able while the
    * boundary sliver is ~0.02% of a source. */
  val MixtureBucketHexChars = 3

  private val EmailRe = "[a-z0-9.]+@[a-z0-9.]+"
  private val NumRe = "[0-9]+"

  /** c16: PII redaction — regex scrub of email-shaped tokens and
    * digit runs, with per-doc match counts and the md5 of the redacted
    * text. Narrow single pass, no shuffle — redaction cost scales with
    * bytes scanned, the right unit at 100 TB. */
  def c16PiiRedact(docs: DataFrame): DataFrame = {
    val emailRe = EmailRe
    val numRe = NumRe
    val redacted = regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"), numRe, "<NUM>")
    docs.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(numRe), lit(0))).cast("long").as("n_nums"),
        length(redacted).cast("long").as("len_redacted"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** c142 geometry — fixed-RANGE equi-width bins (c91's fixed-range
    * stance: quantile bins would need a cross-engine percentile
    * contract; fixed edges are pure integer arithmetic). Values ≥
    * the range clamp to the last bin. Oracle-interpolated. */
  val HqBinWidth = 4L
  val HqBins = 256L
  val HqPcts: Seq[Int] = Seq(50, 90, 99)

  /** c142: HISTOGRAM quantiles with the exact audit — the quantile
    * member of the sketch tier (membership=Bloom c35, similarity=
    * MinHash c3, frequency=CMS c134, cardinality=LC c137, now rank):
    * per source, p50/p90/p99 of document length estimated from a
    * fixed 256-bin equi-width histogram (the estimate = the lower
    * edge of the bin where the cumulative count crosses the target
    * rank) BESIDE the exact order statistic, with the signed error
    * per percentile — bounded by the bin width BY CONSTRUCTION when
    * the true value is in range (the spec theorem), which is the
    * number that sizes (range, width) before the exact leg stops
    * being affordable at 100 TB. Rank convention is explicit integer
    * arithmetic both engines share: target = ⌈n·p/100⌉ over the
    * (value, doc_id) total order.
    *
    * Shape: the sketch is one (source, bin) count aggregate (≤
    * sources·[[HqBins]] rows — the fixed memory bound, mergeable by
    * cell-wise +) + a tiny cumulative window over it; the exact leg
    * is one per-source sort (the audit — a deployment ships the
    * histogram alone). */
  def c142HistQuantiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val lens = docs.select(col("source"), col("doc_id"),
      length(col("text")).cast("long").as("v"))
    val nS = lens.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val ranks = nS.crossJoin(HqPcts.toDF("p"))
      .withColumn("r", expr("(n_docs * p + 99) div 100"))
    // the sketch: fixed-width bin counts + a cumulative walk
    val binned = lens.select(col("source"),
      expr(s"least(v div $HqBinWidth, ${HqBins - 1}L)").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val wB = Window.partitionBy("source").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = binned.withColumn("cum", sum(col("c")).over(wB))
    val est = cum.join(ranks, Seq("source"))
      .filter(col("cum") >= col("r"))
      .groupBy("source", "p")
      .agg((min(col("bin")) * HqBinWidth).as("est"))
    // the exact audit: the r-th order statistic per source
    val wV = Window.partitionBy("source").orderBy(col("v"), col("doc_id"))
    val exact = lens.withColumn("rk", row_number().over(wV).cast("long"))
      .join(ranks, Seq("source"))
      .filter(col("rk") === col("r"))
      .select(col("source"), col("p"), col("v").as("exact"))
    val per = est.join(exact, Seq("source", "p"))
      .withColumn("err", col("est") - col("exact"))
    val pcols = HqPcts.flatMap { p =>
      Seq(max(when(col("p") === p, col("exact"))).as(s"p${p}_exact"),
        max(when(col("p") === p, col("est"))).as(s"p${p}_est"),
        max(when(col("p") === p, col("err"))).as(s"p${p}_err"))
    }
    per.join(nS, Seq("source"))
      .groupBy("source", "n_docs")
      .agg(pcols.head, pcols.tail: _*)
      .orderBy("source")
  }

  /** c150: HISTOGRAM-QUANTILE DRIFT — c142's bin tables diffed across
    * vintages under c91's PSI discipline, at rank grain: per source,
    * the length distribution of the BASE vintage (c45/c127's md5
    * percent cut) against the full corpus — PSI over the 256-bin
    * histograms, the widest proportion gap, and the p50/p90/p99
    * shifts read off each vintage's own cumulative walk (the
    * publish-gate numbers: "did this ingest move the length
    * distribution, and at which quantile"). A mixture/packing
    * publish can gate on psi and the p99 shift BEFORE re-packing —
    * the histogram diff costs two bin tables, not a re-pack.
    *
    * Shape: one corpus projection (length + vintage flag,
    * materialized), two ≤ sources×256 bin aggregates, the complete
    * bin grid (zero-count bins contribute zero PSI terms — c91's
    * grid stance), report-sized joins throughout. At 100 TB the bin
    * tables are the per-vintage artifacts (256 longs per source); the
    * drift table is their diff, never a corpus re-read. */
  def c150HistDrift(docs: DataFrame): DataFrame = {
    // ONE corpus aggregate for both vintages' histograms (c166's
    // fused-conditional spelling): the old shape checkpointed the
    // length projection and ran three aggregates over it (base bins,
    // union bins, per-source totals) — all three derive from one
    // (source, bin)-grain count table, bin-grain small thereafter.
    // Base groups are the rows with a base count, exactly the groups
    // the filtered aggregate produced; totals are bin-sums.
    val fused = Materialize.frame(docs
      .select(col("source"),
        expr(s"least((length(text) div $HqBinWidth), ${HqBins - 1}L)").as("bin"),
        graft.operators.Dedup.isBaseDoc(col("doc_id")).as("is_base"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("c_cur"),
        sum(when(col("is_base"), 1L).otherwise(0L)).as("c_base")))
    val nS = fused.groupBy("source").agg(
      sum(col("c_base")).as("n_base"),
      sum(col("c_cur")).as("n_cur"))
    histDriftOver(
      fused.filter(col("c_base") > 0)
        .select(col("source"), col("bin"), col("c_base").as("c")),
      fused.select(col("source"), col("bin"), col("c_cur").as("c")),
      nS)
  }

  /** The histogram-drift arithmetic over two explicit (source, bin, c)
    * tables — ONE spelling shared by the at-rest vintage diff (c150,
    * which bins the corpus itself) and the door-log diff (c176, which
    * reads the bins from the door's histogram store), so the
    * publish-gate numbers cannot drift between the corpus-read and
    * artifact-read paths. `nS` must carry (source, n_base, n_cur). */
  private[graft] def histDriftOver(bBase: DataFrame, bCur: DataFrame,
      nSAll: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = nSAll.sparkSession
    import spark0.implicits._
    // drift is defined AGAINST a base vintage: a source whose first
    // docs arrived in the latest poll has no base distribution to
    // diff (that is novelty's territory — c156/c160), so it is out of
    // this report's population rather than a 0/0 row
    val nS = nSAll.filter(col("n_base") > 0)
    val grid = nS.select("source").crossJoin((0L until HqBins).toDF("bin"))
    val p = grid
      .join(bBase.withColumnRenamed("c", "cb"), Seq("source", "bin"), "left")
      .join(bCur.withColumnRenamed("c", "cc"), Seq("source", "bin"), "left")
      .join(nS, Seq("source"))
      .withColumn("p_base",
        round(coalesce(col("cb"), lit(0L)).cast("double") / col("n_base"), 4))
      .withColumn("p_cur",
        round(coalesce(col("cc"), lit(0L)).cast("double") / col("n_cur"), 4))
    val wG = Window.partitionBy(col("source"))
      .orderBy(abs(col("p_cur") - col("p_base")).desc, col("bin"))
    val psi = p.withColumn("gr", row_number().over(wG))
      .groupBy("source")
      .agg(
        round(sum((col("p_cur") - col("p_base")) *
          log((col("p_cur") + lit(DriftEps)) / (col("p_base") + lit(DriftEps)))), 4)
          .as("psi"),
        max(when(col("gr") === 1, col("bin"))).as("max_gap_bin"),
        max(when(col("gr") === 1, round(col("p_cur") - col("p_base"), 4)))
          .as("max_gap"))
    // BOTH vintages' quantile walks ride ONE side-tagged window +
    // ONE rank join (the two-sided frame is ≤ 2·sources·bins rows —
    // fusing halves the report stages vs a per-side quants() call)
    val tagged = bCur.withColumn("side", lit("cur"))
      .unionByName(bBase.withColumn("side", lit("base")))
    val wB = Window.partitionBy("source", "side").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranks = nS.select(col("source"), lit("cur").as("side"), col("n_cur").as("n"))
      .unionByName(nS.select(col("source"), lit("base").as("side"), col("n_base").as("n")))
      .crossJoin(HqPcts.toDF("p"))
      .withColumn("r", expr("(n * p + 99) div 100"))
    val est = tagged.withColumn("cum", sum(col("c")).over(wB))
      .join(ranks, Seq("source", "side")).filter(col("cum") >= col("r"))
      .groupBy("source", "side", "p")
      .agg((min(col("bin")) * HqBinWidth).as("est"))
    val shifts = est.groupBy("source", "p")
      .agg(max(when(col("side") === "cur", col("est"))).as("cur_est"),
        max(when(col("side") === "base", col("est"))).as("base_est"))
      .withColumn("shift", col("cur_est") - col("base_est"))
    val sCols = HqPcts.map(pp =>
      max(when(col("p") === pp, col("shift"))).as(s"p${pp}_shift"))
    nS.join(psi, Seq("source"))
      .join(shifts.groupBy("source").agg(sCols.head, sCols.tail: _*), Seq("source"))
      .select(col("source"), col("n_base"), col("n_cur"), col("psi"),
        col("max_gap_bin"), col("max_gap"),
        col("p50_shift"), col("p90_shift"), col("p99_shift"))
      .orderBy("source")
  }

  /** c135: PII incidence by SOURCE — the privacy-budget rollup next
    * to c16's doc-grain redaction (c16 says what to mask in each
    * document; this says which SOURCES carry the exposure): per
    * source, the email/number hit mass, how many docs carry any hit,
    * and the density dials (hit docs per doc, hits per doc). The
    * acquisition read: a source whose pii_doc_frac trends up is
    * raising the redaction bill and the residual-leak risk — price
    * that against its c124 yield before the next crawl buy; the
    * funnel's n_pii gate (c41/keeps) drops the extreme tail, this
    * table prices what remains. Same regexes as c16 — one contract
    * for what counts as PII, doc grain and source grain.
    *
    * Shape: one projection over the corpus (two codegen'd regex
    * extracts) + one source-grain aggregate — report-sized output. */
  def c135PiiRate(docs: DataFrame): DataFrame = {
    val e = size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long")
    val n = size(regexp_extract_all(col("text"), lit(NumRe), lit(0))).cast("long")
    docs.select(col("source"), e.as("e"), n.as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("e")).as("n_emails"),
        sum(col("n")).as("n_nums"),
        sum(when(col("e") + col("n") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
      .withColumn("pii_doc_frac",
        round(col("docs_with_pii").cast("double") / col("n_docs"), 4))
      .withColumn("hits_per_doc",
        round((col("n_emails") + col("n_nums")).cast("double") / col("n_docs"), 4))
      .orderBy("source")
  }

  /** c17: tf-idf top terms — the per-document salient-term extraction
    * used for corpus analytics and topic filtering. Two aggregations
    * (term frequency per doc, document frequency per term) joined on
    * term, idf = ln(N/df), top-3 per doc by score. Scores are rounded
    * BEFORE ranking so rank ties break identically in both engines.
    *
    * Shuffle inventory: one on (doc_id, term) for tf, one on term for
    * df, the tf⋈df join shuffles on term (df side is vocabulary-sized
    * — at 100 TB it stays ≪ corpus and AQE broadcasts it), and the
    * final window shuffles on doc_id. The corpus-size N is a 1-row
    * aggregate broadcast, not a collect. */
  def c17TfIdf(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf has exactly one row per (doc, term), so df is a count over tf
    // — no second corpus scan + explode + distinct. The materialized
    // frame is the session-shared term memo (c17/c31/c37): it feeds
    // both the df aggregation and the score join here.
    val tf = tfRows(docs)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("doc_id", "rank")
  }

  /** (doc_id, word-bigram) rows via the shared typed kernel — one
    * definition so c19 and c21 can never diverge on tokenization.
    * limit -1 keeps trailing empty tokens (= the oracle's
    * string_split / Spark SQL's split builtin). */
  /** c134 geometry — a [[CmsDepth]]×[[CmsWidth]] count-min sketch.
    * Width is deliberately SMALLER than this corpus's bigram
    * vocabulary so the sketch binds at driver SFs (collisions are
    * the whole object of study); the three hash rows are disjoint
    * 7-hex slices of one md5 (the c49/Bloom discipline). Oracle-
    * interpolated. */
  val CmsDepth = 3
  val CmsWidth = 256L
  val CmsTopK = 50

  /** c134: COUNT-MIN heavy hitters over word bigrams — the fixed-
    * memory heavy-hitter mining a 100 TB phrase scan needs when the
    * n-gram vocabulary no longer fits an exact aggregate (boilerplate
    * detection, hot-phrase mining): every bigram increments
    * [[CmsDepth]] cells of a [[CmsWidth]]-wide row (depth disjoint
    * md5 slices), a point estimate is the MIN over its cells, and
    * the report is the top-[[CmsTopK]] bigrams by estimate WITH the
    * exact count beside it — the overcount column is the sketch's
    * measured (never negative) collision error at this geometry,
    * the audit that sizes width/depth before trusting the sketch
    * where the exact column is no longer affordable.
    *
    * Shape: the shared bigram-counts memo reduces to vocabulary
    * grain once; the sketch is [[CmsDepth]] map-side-combined
    * aggregates over that frame into ≤ depth·width cells (the fixed
    * memory bound that IS the operator); estimates are
    * [[CmsDepth]] broadcast joins of those cell tables; top-k by
    * (estimate, bigram) — exact at any corpus size because the
    * vocabulary-grain frame, not the corpus, feeds every stage. */
  def c134CmsHeavy(docs: DataFrame, k: Int = CmsTopK): DataFrame = {
    val counts = Materialize.frame(
      bigramCounts(docs).groupBy("bigram").agg(sum(col("k")).as("cnt")))
    def pos(i: Int) =
      conv(substring(md5(col("bigram")), i * 7 + 1, 7), 16, 10)
        .cast("long") % CmsWidth
    val withPos = counts.select(
      col("bigram") +: col("cnt") +:
        (0 until CmsDepth).map(i => pos(i).as(s"_p$i")): _*)
    val est = (0 until CmsDepth).foldLeft(withPos) { (df, i) =>
      val cells = withPos.groupBy(col(s"_p$i"))
        .agg(sum(col("cnt")).as(s"_cell$i"))
      df.join(broadcast(cells), Seq(s"_p$i"))
    }
    est
      .select(col("bigram"), col("cnt").as("exact"),
        least((0 until CmsDepth).map(i => col(s"_cell$i")): _*).as("est"))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy(col("est").desc, col("bigram"))
      .limit(k)
  }

  /** c149: CMS MERGEABILITY — the distributed-merge property c134's
    * DEPLOY row claims ("cells are mergeable across partitions/days
    * by cell-wise +"), PROVEN as a keyed audit instead of implied by
    * linearity: every source builds its own depth×width cell table
    * from its own bigram counts, the per-source tables are summed
    * CELL-WISE, and the result is compared against the sketch built
    * over the whole corpus in one pass. Per depth: occupied-cell
    * count, total mass (= the corpus bigram mass at every depth —
    * CMS rows are mass-preserving), the hottest cell, and the diff
    * stats, which are ZERO by linearity; the audit computes both
    * sides independently so a broken hash/sharding spelling (how
    * mergeability actually fails across days/partitions in
    * production) surfaces as a nonzero keyed row, not a silent
    * overcount on some future query.
    *
    * Shape: the shared bigram-counts memo joined to source (one
    * map-side-combined shuffle), position explode (depth rows per
    * bigram), two ≤ depth·width-row cell aggregates, one cell-grain
    * full-outer diff — report-sized past the counts memo. At 100 TB
    * the per-source tables are the per-day/per-partition sketches a
    * deployment ships; this audit is the merge step run against the
    * one-pass rebuild at a pilot SF. */
  def c149CmsMerge(docs: DataFrame): DataFrame = {
    def pos(i: Int) =
      conv(substring(md5(col("bigram")), i * 7 + 1, 7), 16, 10)
        .cast("long") % CmsWidth
    val posCols = posexplode(array((0 until CmsDepth).map(pos): _*))
      .as(Seq("i", "pos"))
    val bySrc = Materialize.frame(
      bigramCounts(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source", "bigram").agg(sum(col("k")).as("cnt")))
    val merged = bySrc.select(col("source"), col("cnt"), posCols)
      .groupBy("i", "pos", "source").agg(sum(col("cnt")).as("cell"))
      .groupBy("i", "pos").agg(sum(col("cell")).as("m_cell"))
    val global = bigramCounts(docs)
      .groupBy("bigram").agg(sum(col("k")).as("cnt"))
      .select(col("cnt"), posCols)
      .groupBy("i", "pos").agg(sum(col("cnt")).as("g_cell"))
    merged.join(global, Seq("i", "pos"), "full")
      .select(col("i").cast("long").as("depth"),
        coalesce(col("m_cell"), lit(0L)).as("m"),
        coalesce(col("g_cell"), lit(0L)).as("g"))
      .groupBy("depth")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("g")).as("mass"),
        max(col("g")).as("max_cell"),
        sum(when(col("m") =!= col("g"), 1L).otherwise(0L)).as("n_diff_cells"),
        max(abs(col("m") - col("g"))).as("max_abs_diff"))
      .orderBy("depth")
  }

  private def bigramCountsKernel(docs: DataFrame): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        if (w.length < 2) Iterator.empty
        else {
          val m = new java.util.LinkedHashMap[String, Long]()
          var i = 0
          while (i < w.length - 1) {
            m.merge(w(i) + " " + w(i + 1), 1L, (a, b) => a + b)
            i += 1
          }
          import scala.jdk.CollectionConverters._
          m.entrySet().iterator().asScala.map(e => (id, e.getKey, e.getValue))
        }
      }
      .toDF("doc_id", "bigram", "k")
  }

  /** Shared materialized per-doc bigram COUNTS — every consumer
    * (c19's corpus stats, c21's repetition signal, c46's LM scoring)
    * reduces the bigram stream to (doc_id, bigram, k) first, so the
    * memo holds that grain directly. Counting happens INSIDE the
    * kernel (a per-doc hash map): the grouping key never spans rows,
    * so the build needs zero shuffles and the materialized frame is
    * distinct-bigram-sized, not token-sized. */
  private def bigramCounts(docs: DataFrame): DataFrame =
    SessionMemo.frame("bigram_counts", docs)(Materialize.frame(bigramCountsKernel(docs)))

  /** c19: corpus n-gram statistics — top-k word bigrams by total
    * occurrences with document frequency: the vocabulary/phrase
    * analytics pass of corpus curation. The bigram kernel is a narrow
    * typed flatMap (same rationale as the shingle kernels: higher-
    * order-function spellings evaluate interpreted); off the shared
    * counts memo, n = Σk and n_docs = the row count per bigram (each
    * (doc, bigram) appears once at counts grain) — one map-side-
    * combined shuffle on the bigram, top-k output. */
  def c19NgramStats(docs: DataFrame, k: Int = 50): DataFrame = {
    bigramCounts(docs)
      .groupBy("bigram")
      .agg(sum(col("k")).as("n"), count(lit(1)).as("n_docs"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** c20: benchmark-contamination check — the eval-set leakage scan a
    * training pipeline runs before release: fraction of each training
    * document's 3-gram shingles that also occur in the benchmark set
    * (here a deterministic ~1% doc_id slice stands in for the eval
    * corpus). Shape: per-doc distinct shingle keys ⋈ the benchmark's
    * distinct key set — the benchmark side collapses to |its distinct
    * shingles| rows; the corpus side is one pass. A left-semi-style
    * conditional count keeps the join output at one row per (doc,
    * matched key), never |doc|×|benchmark|. No broadcast hint: the
    * benchmark key set is corpus-PROPORTIONAL (distinct shingles of a
    * ~1% slice), so a forced broadcast bypasses AQE's size check and
    * OOMs at scale — AQE broadcasts it while it measures small and
    * degrades to a shuffled join (spillable build side) when it
    * doesn't. */
  def c20Contamination(docs: DataFrame, k: Int = 50): DataFrame = {
    // shingle keys off the SHARED materialized corpus-prep frame
    // (SessionMemo via Dedup) — the typed kernel runs once per
    // (session, corpus), not once per query or per consuming subtree;
    // both branches below explode the already-materialized sets.
    val sh = Dedup.docShingles8(docs)
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(col("sh8")).distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(bench.withColumn("hit", lit(1L)), Seq("sh8"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh"), 4).as("contamination"))
      .orderBy(col("contamination").desc, col("doc_id"))
      .limit(k)
  }

  /** c21: repetition detection — the boilerplate/spam quality signal:
    * per-doc max bigram multiplicity and its share of all bigrams,
    * plus the offending bigram (lexicographic min among ties). One
    * shuffle on (doc, bigram), then a WindowGroupLimit top-1 per doc. */
  def c21Repetition(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val counts = bigramCounts(docs).withColumnRenamed("k", "cnt")
    val w = Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("bigram"))
    counts
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy("doc_id")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("total").as("n_bigrams"),
        col("cnt").as("max_rep"), col("bigram").as("top_bigram"),
        round(col("cnt").cast("double") / col("total"), 4).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** c23: the composed curation gate — the keep/drop decision a
    * training pipeline actually executes, cascading the tier's
    * signals in priority order (too_short → non_en → repetitive →
    * pii_heavy → keep) in ONE narrow pass over the scan; only the
    * report-sized reason aggregation shuffles. Thresholds compare
    * 4-rounded ratios (the same spellings c8/c9 hash-match on), so
    * the branch taken is engine-exact. */
  def c23CurationFilter(docs: DataFrame): DataFrame =
    curationReport(docs.select(curationReasonOf(col("text")).as("reason")))

  /** The c23 report over an already-decided `reason` column — ONE
    * spelling shared by the batch gate and the streaming gate
    * (CurationStream), so their reports cannot drift. total =
    * re-aggregate of the ≤5-row reason counts, broadcast back as a
    * 1-row cross join ([[shareOfTotal]]) — NOT a second corpus scan
    * (every doc has exactly one reason, so the sums agree by
    * construction; ReuseExchange serves both branches from the one
    * reason shuffle), and not an unpartitioned window, whose WARN
    * would pollute driver logs. */
  private[graft] def curationReport(reasons: DataFrame): DataFrame =
    shareOfTotal(
      reasons.groupBy("reason").agg(count(lit(1)).as("n_docs")),
      "n_docs", "share")
      .orderBy("reason")

  /** share = count / Σcount over a REPORT-SIZED frame, spelled as a
    * 1-row broadcast cross join. The natural unpartitioned-window
    * spelling can't be written WARN-free (the optimizer folds literal
    * partition keys), and WindowExec's "No Partition Defined" WARN in
    * a driver log is indistinguishable from a real scale bug —
    * driver logs should carry signal only. */
  private[graft] def shareOfTotal(counts: DataFrame, countCol: String, shareCol: String): DataFrame =
    counts.crossJoin(broadcast(counts.agg(sum(col(countCol)).as("_graft_total"))))
      .withColumn(shareCol,
        round(col(countCol).cast("double") / col("_graft_total"), 4))
      .drop("_graft_total")

  /** The cascaded keep/drop decision itself — the DECLARATIVE
    * spelling (c23's document-grain pass, and the reference the
    * equivalence fuzz holds [[CurationKernel]] to). c27 runs the same
    * cascade inside its fused chunk kernel; Round7Spec proves the two
    * spellings byte-equal per text, so the reports can never disagree
    * on what a threshold means. */
  private[graft] def curationReasonOf(text: Column): Column = {
    val toks = TextFns.tokens(text)
    val nPii = size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(text, lit(NumRe), lit(0)))
    when(size(toks) < 5, "too_short")
      .when(!(enScoreOf(toks) > 0.01 || enNgramScoreOf(text) > 0.02), "non_en")
      .when(distinctRatioOf(toks) < 0.3, "repetitive")
      .when(nPii > 20, "pii_heavy")
      .otherwise("keep")
  }

  /** The curation cascade as a plain JVM function — the fused-kernel
    * twin of [[curationReasonOf]], byte-for-byte the same decision
    * (Round7Spec fuzzes the two spellings against each other,
    * adversarial tokens included). Exists because c27 evaluates the
    * cascade once per CHUNK: the declarative spelling re-splits the
    * chunk text four times and runs six regex passes per row through
    * the expression interpreter, and — worse — forces every chunk's
    * text to round-trip through a serialized row between the chunk
    * kernel and the signal projection. Inside the kernel the chunk is
    * a token slice we already hold; the signals read it directly and
    * only the ≤5 distinct reason strings ever become rows.
    *
    * Parity notes (each pinned by the fuzz): `round` replicates
    * Spark's Round-on-double (BigDecimal HALF_UP); char counts are
    * CODE POINTS (Spark's length()), not UTF-16 units; bigram
    * occurrence counting is non-overlapping left-to-right (=
    * regexp_replace's length-diff trick); the PII patterns compile
    * with java.util.regex exactly as Spark's regexp_extract_all
    * does. */
  private[graft] object CurationKernel {
    private val Markers = TextFns.EnMarkers.toSet
    private val EmailP = java.util.regex.Pattern.compile(EmailRe)
    private val NumP = java.util.regex.Pattern.compile(NumRe)

    private def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    private def occurrences(s: String, sub: String): Int = {
      var n = 0; var i = s.indexOf(sub)
      while (i >= 0) { n += 1; i = s.indexOf(sub, i + sub.length) }
      n
    }

    private def countMatches(p: java.util.regex.Pattern, s: String): Int = {
      val m = p.matcher(s); var n = 0
      while (m.find()) n += 1
      n
    }

    /** The cascade over a token slice [from, until) of `w`, with the
      * chunk string materialized lazily — most too_short chunks never
      * build it. `mkString(" ")` then re-splitting returns the slice
      * itself (tokens cannot contain spaces), which is exactly the
      * declarative spelling's `tokens(chunk_text)`. */
    def reasonOf(w: Array[String], from: Int, until: Int): String = {
      val n = until - from
      if (n < 5) return "too_short"
      var hits = 0; var distinct = 0
      val seen = new java.util.HashSet[String](n * 2)
      var i = from
      while (i < until) {
        val t = w(i)
        if (Markers.contains(t)) hits += 1
        if (seen.add(t)) distinct += 1
        i += 1
      }
      lazy val text: String = {
        val sb = new java.lang.StringBuilder
        var j = from
        while (j < until) { if (j > from) sb.append(' '); sb.append(w(j)); j += 1 }
        sb.toString
      }
      val enScore = round4(hits.toDouble / n)
      val nonEn = !(enScore > 0.01) && {
        val len = text.codePointCount(0, text.length)
        val occ = occurrences(text, "th") + occurrences(text, "he") +
          occurrences(text, "in") + occurrences(text, "er")
        !(round4(occ.toDouble / len) > 0.02)
      }
      if (nonEn) "non_en"
      else if (round4(distinct.toDouble / n) < 0.3) "repetitive"
      else if (countMatches(EmailP, text) + countMatches(NumP, text) > 20) "pii_heavy"
      else "keep"
    }

    /** Document-grain convenience (the fuzz's unit of comparison). */
    def reasonOf(text: String): String = {
      val w = text.split(" ", -1)
      reasonOf(w, 0, w.length)
    }
  }

  /** c27: the curation gate at CHUNK grain — c25's context windows
    * piped through c23's cascade. After chunking, curation stops
    * being one keep/drop decision per document: a long document is
    * many windows, and a clean article with one boilerplate-heavy
    * appendix keeps most of them and drops a few — a split the
    * doc-grain report cannot see. Emits per-reason CHUNK counts and
    * share, the number a pipeline actually budgets training data by
    * once chunking is the unit of ingestion.
    *
    * Scale shape: ONE fused typed kernel — tokenize, window, and the
    * cascade run per document with the chunk text never leaving the
    * kernel (the r6 spelling serialized every chunk's text into a row
    * and re-split it four times in the signal projection — ~5× the
    * memory traffic, the superlinear term in the r6 ScaleSmoke row).
    * Only reason strings become rows, so the shuffle is the ≤5-row
    * reason aggregate — composing chunking with the gate adds NO
    * shuffle over c23, and now no payload serialization either. */
  def c27ChunkCuration(docs: DataFrame, size: Int = Sampling.ChunkTokens,
      overlap: Int = Sampling.ChunkOverlap): DataFrame = {
    require(overlap < size, "overlap must be smaller than the chunk size")
    val stride = size - overlap
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (_, text) =>
        // window geometry identical to Sampling.chunkTexts/c25 —
        // Round7Spec holds this kernel to the composed
        // chunkTexts∘curationReasonOf spelling on real corpora
        val w = text.split(" ", -1)
        val nChunks = math.max(
          math.ceil((w.length - overlap).toDouble / stride).toInt, 1)
        (0 until nChunks).iterator.map { i =>
          val from = i * stride
          CurationKernel.reasonOf(w, from, math.min(from + size, w.length))
        }
      }
      .toDF("reason")
      .groupBy("reason").agg(count(lit(1)).as("n_chunks"))
      .transform(shareOfTotal(_, "n_chunks", "share"))
      .orderBy("reason")
  }

  /** c24: per-source corpus report — the source-level curation view
    * (which feeds/domains are duplicate-heavy or off-language): doc
    * counts, exact-dup rate via distinct content hash, mean length,
    * language spread. One shuffle on source. At 100 TB the
    * countDistinct stays exact only if per-source cardinality allows;
    * approx_count_distinct is the documented swap (EngineSpec bounds
    * its error). */
  def c24SourceStats(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq"),
        round(lit(1.0) - countDistinct(md5(col("text"))).cast("double") / count(lit(1)), 4)
          .as("dup_rate"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")

  /** c11: document fingerprinting by winnowing: 32-bit shingle hashes
    * in document order, sliding-window (w=4) minima, the distinct
    * sorted minima form the fingerprint set; its md5 is the doc
    * fingerprint. Robust to small edits — the standard near-dup
    * sketch for plagiarism-style matching. (Classic winnowing uses a
    * Rabin-Karp rolling hash purely to make per-gram hashing O(1);
    * md5-per-gram gives identical selectivity with an engine-portable
    * hash, which is what the oracle compare needs.) */
  /** The winnowed window-minima per doc — c11's derivation up to
    * (doc_id, n_shingles, mins), ONE spelling shared by the c11
    * report and the c69 pair tier. */
  private def winnowMins(docs: DataFrame): DataFrame = {
    val hashes = transform(TextFns.shingles3(col("text")), s => TextFns.h8(s))
    val mins = when(size(col("hs")) >= 4,
        transform(sequence(lit(1), size(col("hs")) - 3),
          i => array_min(slice(col("hs"), i, lit(4)))))
      .otherwise(array(array_min(col("hs"))))
    docs.select(col("doc_id"), hashes.as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"), mins.as("mins"))
  }

  def c11Fingerprint(docs: DataFrame): DataFrame =
    winnowMins(docs)
      .select(col("doc_id"), col("n_shingles"),
        array_sort(array_distinct(col("mins"))).as("fp"))
      .select(col("doc_id"), col("n_shingles"),
        size(col("fp")).cast("long").as("fp_size"),
        md5(concat_ws(",", col("fp"))).as("fp_hash"))
      .orderBy("doc_id")

  /** c69's admission bar on the ROUNDED containment value. */
  val WinnowPairBar = 0.5

  /** c69: the WINNOWING PAIR tier — c11's fingerprints finally feed a
    * pairing operator (the round-8 verdict: "c11's winnowed
    * fingerprints feed no pairing operator"): docs sharing winnowed
    * window-minima are paired through df-capped fingerprint postings
    * and scored by CONTAINMENT — |FP(A)∩FP(B)| / min(|FP|) — the
    * plagiarism-grain evidence between c2's full shingle-set Jaccard
    * and c33's exact spans: winnowing (Schleimer et al. 2003) keeps
    * ~1/w of the shingle mass, so the posting build is ~4× lighter
    * than c2's and a SHORT doc quoted inside a LONG one still scores
    * ~1.0 where symmetric Jaccard dilutes toward zero (c42's
    * argument, at sketch cost). Jaccard is reported alongside for
    * contrast.
    *
    * Scale shape: fingerprint rows ∝ corpus/w; per-value df cap
    * ([[Dedup.DfCap]]'s discipline — a fingerprint in hundreds of
    * docs is boilerplate, not plagiarism evidence) bounds pair volume
    * at Σ C(df,2); the pair frame is evidence-sized; sizes count the
    * CAPPED sets on both engines (c2's convention). */
  def c69WinnowPairs(docs: DataFrame, dfCap: Int = Dedup.DfCap,
      bar: Double = WinnowPairBar, k: Int = 50): DataFrame = {
    // materialized once: the sizes aggregate and BOTH self-join sides
    // read it (3 consumers — without the checkpoint the whole winnow
    // chain would run three times)
    val fpk = SessionMemo.frame("c69_fp", docs)(Materialize.frame {
      val fpRows = winnowMins(docs)
        .select(col("doc_id"), explode(array_distinct(col("mins"))).as("fp"))
        // a <3-word doc has no shingles and its minima collapse to
        // NULL — no fingerprint evidence, not a joinable key
        .filter(col("fp").isNotNull)
      val keep = fpRows.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("fp")
      fpRows.join(keep, Seq("fp"))
    })
    val sizes = fpk.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    def pairs() = {
      val inter = fpk.as("a").join(fpk.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      val joined = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("nb")), Seq("doc_b"))
      // integer prefilter guards the per-pair BigDecimal rounds (c42's
      // measured fix): round(x, 4) >= bar requires x >= bar − 0.00005,
      // so a per-mille floor 51 below the bar is a strict superset —
      // the candidate frame passes through integer arithmetic alone
      val pre = (bar * 1000).toLong - 51
      val guarded = if (pre > 0)
        joined.filter(col("n_shared") * 1000 >= least(col("na"), col("nb")) * pre)
      else joined
      guarded
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("n_shared").cast("double") / least(col("na"), col("nb")), 4)
            .as("containment"),
          round(col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")), 4)
            .as("jaccard"))
        .filter(col("containment") >= bar)
        .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
        .limit(k)
    }
    // the report frame is ≤ k rows — memoize it at the default
    // geometry so c69's repeat reads and c74's candidate leg price as
    // a tiny scan instead of re-running the posting self-join
    // (jacAtLeast's discipline; the re-sort after the memo read is a
    // k-row job)
    if (dfCap == Dedup.DfCap && bar == WinnowPairBar && k == 50)
      SessionMemo.frame("c69_pairs", docs)(Materialize.frame(pairs()))
        .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
    else pairs()
  }

  /** c74: EXACT span evidence for the winnow report's pairs — the
    * r12 queue's compose ("c69's candidate pairs restricted into
    * c33's span derivation"): the plagiarism report (c69's top-50
    * containment pairs) answers WHICH docs share material; this
    * answers WHERE, verbatim — c33's positional-shingle diagonal
    * collapse run over ONLY the docs the winnow tier surfaced, spans
    * semijoined back to the reported pairs. The full c33 pays
    * posting mass ∝ the whole corpus's duplication; this pays
    * winnowing cost for discovery and exact-span cost only for the
    * ≤50-pair report — the standard two-tier plagiarism pipeline
    * (sketch to find, exact to prove).
    *
    * The occurrence cap applies to the RESTRICTED posting lists (the
    * subset index's own boilerplate rule — mirrored in the oracle).
    * Output: c33's (doc_a, doc_b, a_start, b_start, n_tokens) with
    * c69's (containment, jaccard) carried per span row. */
  def c74WinnowSpans(docs: DataFrame, dfCap: Int = Dedup.DfCap,
      bar: Double = WinnowPairBar): DataFrame = {
    def spans() = {
      val cand = Materialize.frame(c69WinnowPairs(docs, dfCap, bar))
        .select(col("doc_a"), col("doc_b"), col("containment"), col("jaccard"))
      val docsIn = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id")))
        .distinct()
      val sub = docs.join(broadcast(docsIn), Seq("doc_id"))
      Dedup.spanChain(sub)
        .join(broadcast(cand), Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
          col("n_tokens"), col("containment"), col("jaccard"))
    }
    // the proof table is report-sized (spans of ≤50 pairs) — memoize
    // it at the default geometry (c69's own discipline one stage
    // deeper: the r14 profile ask), so repeat reads price as a tiny
    // scan instead of re-deriving the candidate-subset span chain
    val memoized = if (dfCap == Dedup.DfCap && bar == WinnowPairBar)
      SessionMemo.frame("c74_spans", docs)(Materialize.frame(spans()))
    else spans()
    memoized.orderBy("doc_a", "doc_b", "a_start", "b_start")
  }

  // ---- c35: Bloom-filter decontamination ------------------------------

  /** Bloom geometry. Part of the operator's OUTPUT contract: a Bloom
    * filter's false positives are a deterministic function of
    * (geometry, hash family, key set), so the oracle interpolates the
    * same constants and reproduces even the FP rows bit-for-bit. */
  val BloomBits: Long = 1L << 20
  val BloomHashes = 4

  /** Position i is the i-th disjoint 7-hex-char (28-bit) slice of ONE
    * md5(sh8) digest, mod [[BloomBits]] — k positions per shingle for
    * one hash computation (the 128-bit digest holds 4×28 independent
    * bits), and the k probe expressions share the digest via codegen
    * subexpression elimination when projected together. */
  private def bloomPosition(sh8: Column, i: Int): Column =
    conv(substring(md5(sh8), 1 + 7 * i, 7), 16, 10)
      .cast("long") % BloomBits

  private def bloomPositions(sh8: Column): Column =
    array((0 until BloomHashes).map(i => bloomPosition(sh8, i)): _*)

  /** c35: Bloom-filter benchmark decontamination — the 100 TB scale
    * path for c20's eval-leakage scan. c20 joins the corpus against
    * the benchmark's DISTINCT SHINGLE SET, which is benchmark-
    * proportional: correct, but the build side grows with the eval
    * corpus and AQE must degrade to a shuffled join once it outgrows
    * memory. The Bloom spelling caps the structure at [[BloomBits]]
    * positions REGARDLESS of benchmark size — the set-bit table is
    * ≤ min(k·|bench shingles|, 2^20) longs (≤ 8 MB), so the explicit
    * `broadcast()` is bounded by construction and the corpus probe
    * never shuffles: scan → k codegen'd md5 slices per shingle →
    * broadcast-hash lookup → per-doc aggregate. The price is a
    * deterministic false-positive rate (shingles whose k positions
    * all collide with benchmark bits), which is the accepted Bloom
    * decontamination trade (Brown et al., GPT-3 appendix C use the
    * same shape); `flagged_frac` is therefore an UPPER BOUND on
    * c20's exact `contamination`, never an undercount — the spec
    * pins that superset property on a real corpus.
    *
    * A deployment would pack the positions into a 128 KB bitmask
    * broadcast variable probed by a native expression; the
    * position-table join is the declarative equivalent with the same
    * O(BloomBits) bound and keeps the whole operator
    * Catalyst-visible (and oracle-checkable). */
  def c35BloomContamination(docs: DataFrame, k: Int = 50): DataFrame = {
    val sh = Dedup.docShingles8(docs)
    val bits = bloomBitsFromKeys(sh.filter(col("doc_id") % 97 === 0))
    bloomProbeRows(sh.filter(col("doc_id") % 97 =!= 0), bits)
      .orderBy(col("flagged_frac").desc, col("doc_id"))
      .limit(k)
  }

  /** c100's second/third benchmark families — independent ~1% doc_id
    * slices; a doc in several slices belongs to several benchmarks,
    * and the population is docs in NONE. Oracle-interpolated through
    * [[BenchRegistry]]. */
  val Bench2Mod = 89
  val Bench3Mod = 83

  /** c100's benchmark-suite REGISTRY — eval hygiene as CONFIG, not
    * code (the r10 verdict's #3): each entry names an eval suite and
    * the SQL predicate selecting its member docs, in a spelling BOTH
    * engines parse — the operator applies it via `expr()`, the oracle
    * generator interpolates the identical string, so adding a suite
    * is one registry row and zero operator/oracle edits. The mod
    * slices stand in for real eval-set id lists (a deployment swaps
    * in `doc_id IN (select …)` or a manifest-join predicate). Cost
    * stays linear in registry size: each suite adds one bounded Bloom
    * bit table + k broadcast lookups on the ONE shared population
    * shingle pass — never a second corpus scan. */
  final case class BenchSuite(id: String, pred: String)
  val BenchRegistry: Seq[BenchSuite] = Seq(
    BenchSuite("a", "doc_id % 97 = 0"),
    BenchSuite("b", s"doc_id % $Bench2Mod = 0"),
    BenchSuite("c", s"doc_id % $Bench3Mod = 0"))

  /** c100: MULTI-benchmark decontamination — the eval-hygiene pass a
    * real pipeline runs (one benchmark table per eval suite, not one
    * global blob, so a hit names WHICH suite leaked): one Bloom bit
    * table per [[BenchRegistry]] family (c35's build, each a bounded
    * broadcast), ONE shared shingle pass over the population (docs
    * matching no suite predicate), a per-benchmark flagged fraction,
    * and the per-doc verdict — the max fraction, how many benchmarks
    * the doc trips at the gate bar ([[graft.streaming.DecontamStream
    * .MaxFlaggedFrac]]), and the drop bit. Per-benchmark columns (not
    * rows) keep the report one-pass joinable into a funnel. */
  def c100MultiBenchContam(docs: DataFrame,
      maxFrac: Double = graft.streaming.DecontamStream.MaxFlaggedFrac,
      suites: Seq[BenchSuite] = BenchRegistry): DataFrame = {
    require(suites.nonEmpty, "c100 needs at least one benchmark suite")
    val sh = Dedup.docShingles8(docs)
    val pop = sh.filter(suites.map(s => !expr(s.pred)).reduce(_ && _))
    // FUSED probe: the k bloom positions are a function of the shingle
    // alone (suite-independent), so one position projection and ONE
    // per-doc aggregate serve every suite — the per-suite spelling
    // paid |suites| md5 passes over the population plus |suites|-1
    // doc-grain joins to reassemble the row (Round27Spec pins
    // equality). The three bounded bit tables build as concurrent
    // actions (Materialize.frames).
    val bits = Materialize.frames(suites.map(s =>
      sh.filter(expr(s.pred)).select(col("sh8")).distinct()
        .select(explode(bloomPositions(col("sh8"))).as("pos")).distinct()))
    val withPos = pop
      .select(col("doc_id") +: (0 until BloomHashes)
        .map(i => bloomPosition(col("sh8"), i).as(s"_p$i")): _*)
    val probed = suites.zip(bits).foldLeft(withPos) { case (df, (s, b)) =>
      (0 until BloomHashes).foldLeft(df) { case (d, i) =>
        d.join(broadcast(b.select(col("pos").as(s"_p$i"),
          lit(1L).as(s"_h_${s.id}_$i"))), Seq(s"_p$i"), "left")
      }
    }
    def allHit(s: BenchSuite) = (0 until BloomHashes)
      .map(i => col(s"_h_${s.id}_$i").isNotNull).reduce(_ && _)
    val joined = probed
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        suites.map(s => sum(when(allHit(s), 1L).otherwise(0L)).as(s"nf_${s.id}")): _*)
      .select(col("doc_id") +: col("n_sh") +: suites.map(s =>
        round(col(s"nf_${s.id}").cast("double") / col("n_sh"), 4)
          .as(s"ff_bench_${s.id}")): _*)
    val ffCols = suites.map(s => col(s"ff_bench_${s.id}"))
    val maxFf = ffCols.reduce((a, b) => greatest(a, b))
    val hits = ffCols.map(c => when(c > maxFrac, 1L).otherwise(0L)).reduce(_ + _)
    joined
      .select(col("doc_id") +: col("n_sh") +: ffCols :+
        maxFf.as("max_ff") :+ hits.as("n_benchmarks_hit") :+
        (maxFf > maxFrac).as("contaminated"): _*)
      .orderBy("doc_id")
  }

  /** c137 geometry: 2^16 linear-counting buckets — the first 16 bits
    * of the shingle key ARE the bucket (sh8 is already an md5 slice,
    * so no second hash). Oracle-interpolated. */
  val LcBuckets = 65536L

  /** c137: LINEAR-COUNTING cardinality — the distinct-count sketch
    * (Whang et al. 1990) the sketch tier was missing next to Bloom
    * (membership, c35), MinHash (similarity, c3), and count-min
    * (frequency, c134): per source, the exact distinct-shingle count
    * beside the estimate m·ln(m/V) read off a fixed m-bit table
    * (V = empty buckets), with the relative error as a column —
    * c134's audit discipline (the exact leg prices the sketch at
    * pilot SF; at 100 TB only the bit table ships: m bits per
    * source, mergeable across partitions/days by OR). Saturation is
    * surfaced, not hidden: a source whose table fills (V = 0) reads
    * a null estimate — the signal to grow m or switch to the
    * log-scale family (HLL) whose per-bucket state is a max, at the
    * cost of a harder cross-engine arithmetic contract.
    *
    * Shape: one (source, bucket) distinct aggregate (≤ m rows per
    * source — the fixed memory bound that is the operator) + the
    * exact-leg distinct (the audit, corpus-priced); report-sized
    * output. */
  def c137LinearCount(docs: DataFrame): DataFrame = {
    val m = LcBuckets
    val sh = Dedup.docShingles8(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    sh.select(col("source"), col("sh8"),
        conv(substring(col("sh8"), 1, 4), 16, 10).cast("long").as("bucket"))
      .groupBy("source")
      .agg(countDistinct(col("sh8")).as("exact_distinct"),
        countDistinct(col("bucket")).as("n_occupied"))
      .withColumn("est", when(col("n_occupied") < m,
        round(lit(m.toDouble) *
          log(lit(m.toDouble) / (lit(m) - col("n_occupied"))), 4)))
      .withColumn("rel_err", when(col("n_occupied") < m,
        round((col("est") - col("exact_distinct")) / col("exact_distinct"), 4)))
      .orderBy("source")
  }

  /** c154 geometry: 2^8 HyperLogLog registers over a 60-bit md5-slice
    * hash (8 register bits + 52 rank bits, max rank 53). 2^52, for
    * the register/rank split in exact integer arithmetic. */
  val HllRegisters = 256L
  private[graft] val HllRankBase = 4503599627370496L // 2^52
  /** α_m·m²·2^53 precomputed ONCE in Scala and interpolated into the
    * oracle verbatim — the estimate is then a single cross-engine
    * float division (numer / exact-integer register sum), sidestepping
    * the order-dependent 2^-M float summation the HLL paper spells
    * (Σ 2^-M is held as the EXACT bigint Σ 2^(53-M) instead — every
    * term a power of two ≤ 2^52, total ≤ 2^61). */
  val HllNumer: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 9007199254740992.0

  /** The HLL register table of a keyed item frame — per (key, reg)
    * the max rank. Registers/ranks are exact integers (md5-derived),
    * so the table is hash-comparable across engines and MERGEABLE by
    * max — the property c155 proves. */
  private[graft] def hllRegisters(items: DataFrame, key: Seq[String]): DataFrame =
    hllRanks(items)
      .groupBy((key :+ "reg").map(col): _*).agg(max(col("rank")).as("m"))

  /** The per-item (reg, rank) derivation under [[hllRegisters]] —
    * exposed so consumers that need TWO register tables off one item
    * frame (c166's base-vs-union drift) can fuse them into a single
    * conditional aggregate instead of two corpus-grain passes. */
  private[graft] def hllRanks(items: DataFrame): DataFrame =
    items.withColumn("hll_v",
        conv(substring(md5(col("sh8")), 1, 15), 16, 10).cast("long"))
      .withColumn("reg", expr(s"hll_v div $HllRankBase"))
      .withColumn("rest", expr(s"hll_v % $HllRankBase"))
      .withColumn("rank", when(col("rest") === 0L, lit(53L))
        .otherwise(lit(53L) - length(bin(col("rest")))))

  /** The HLL estimate columns off a register table at `key` grain:
    * the exact-integer register sum (empty registers contribute
    * 2^53), the raw estimate, the small-range linear-counting
    * correction, and the corrected choice — the standard HLL
    * estimator with every cross-engine float surface reduced to one
    * division and one ln. */
  private[graft] def hllEstimate(regs: DataFrame, key: Seq[String]): DataFrame = {
    val m = HllRegisters
    regs.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("n_used"),
        sum(expr("shiftleft(cast(1 as bigint), cast(53 - m as int))")).as("sum_used"))
      .withColumn("sum_scaled",
        col("sum_used") + (lit(m) - col("n_used")) * lit(9007199254740992L))
      .withColumn("raw", lit(HllNumer) / col("sum_scaled"))
      .withColumn("v_zero", lit(m) - col("n_used"))
      .withColumn("lc_est", when(col("v_zero") > 0L,
        round(lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero")), 4)))
      .withColumn("raw_est", round(col("raw"), 4))
      .withColumn("est",
        when(col("raw") <= lit(2.5 * m) && col("v_zero") > 0L, col("lc_est"))
          .otherwise(col("raw_est")))
      .drop("sum_used", "raw", "v_zero")
  }

  /** c154: HYPERLOGLOG distinct-count — the log-scale sketch c137's
    * scaladoc names as linear counting's scale path, landed with the
    * harder cross-engine arithmetic contract paid deliberately:
    * register index and rank are exact integers off one md5 slice
    * (no float anywhere in the sketch state), the register sum is an
    * exact bigint (Σ 2^(53-M) — every addend a power of two, so no
    * order-dependent float accumulation), and the only float
    * surfaces are ONE division by an interpolated constant and
    * linear counting's ln (c137's own proven-parity spelling). Per
    * source: the exact distinct (the audit), occupied registers, the
    * exact-integer register sum (hash-checkable sketch state), raw
    * and small-range-corrected estimates, relative error through Rz.
    * Fixed memory: 256 registers per source, ~5 bits each in a real
    * deployment — the counter that runs at 100 TB where exact
    * distinct cannot.
    *
    * Shape: one shingle pass (the shared kernel), one (source, reg)
    * max-aggregate (≤ 256 rows per source — the operator), the
    * exact-distinct audit leg, report-sized output. */
  /** The at-rest per-source register table with the base vintage's
    * registers riding the SAME aggregate (max over the base slice of
    * each (source, reg) group — c166's fused spelling), memoized per
    * (session, corpus): c154's estimate, c155's merge side, c156's
    * both vintages and c166's drift grid all read this one frame, so
    * the shingle+rank corpus pass runs once per session. Streaming
    * batch paths (the register doors) keep their direct per-batch
    * derivations — a memo keyed on transient micro-batch plans would
    * only leak entries (the session memo's standing caveat). NULL m_base =
    * the group had no base-vintage item, exactly the groups the
    * two-pass spelling's base table lacked. */
  private[graft] def sourceRegistersFused(docs: DataFrame): DataFrame =
    SessionMemo.frame("hll_src_regs", docs)(Materialize.frame(
      hllRanks(Dedup.docShingles8(docs))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("is_base", graft.operators.Dedup.isBaseDoc(col("doc_id")))
        .groupBy("source", "reg")
        .agg(max(when(col("is_base"), col("rank"))).as("m_base_raw"),
          max(col("rank")).as("m_cur_raw"))))

  def c154HllDistinct(docs: DataFrame): DataFrame = {
    val items = Dedup.docShingles8(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val exact = items.groupBy("source")
      .agg(countDistinct(col("sh8")).as("exact_distinct"))
    hllEstimate(sourceRegistersFused(docs)
        .select(col("source"), col("reg"), col("m_cur_raw").as("m")), Seq("source"))
      .join(exact, Seq("source"))
      .withColumn("rel_err",
        round((col("est") - col("exact_distinct")) / col("exact_distinct"), 4))
      .select(col("source"), col("exact_distinct"), col("n_used"),
        col("sum_scaled"), col("raw_est"), col("lc_est"), col("est"),
        col("rel_err"))
      .orderBy("source")
  }

  /** c155: HLL MERGEABILITY — c149's discipline on the log-scale
    * sketch: the per-source register tables max-merged per register
    * ≡ the register table built over the whole corpus in one pass
    * (register and rank derive from the shingle alone, so the
    * per-source MAX of maxes is the global max — the property that
    * lets a deployment union per-day/per-partition sketches without
    * re-reading a byte). Both sides derived independently; the diff
    * row is zero or the merge spelling is broken. One summary row:
    * occupied registers both ways, differing registers (0), the
    * exact-integer sums, both estimates. */
  def c155HllMerge(docs: DataFrame): DataFrame = {
    // the MERGE side reads the memoized per-source table (that's the
    // side a deployment merges); the GLOBAL side stays independently
    // derived from the corpus — deriving it from the same memo would
    // make the mergeability audit vacuous
    val merged = sourceRegistersFused(docs)
      .select(col("source"), col("reg"), col("m_cur_raw").as("m"))
      .groupBy("reg").agg(max(col("m")).as("m"))
    val global = hllRegisters(Dedup.docShingles8(docs), Seq.empty)
    val diff = merged.as("a").join(global.as("b"), Seq("reg"), "full")
      .select(coalesce(col("a.m"), lit(0L)).as("ma"),
        coalesce(col("b.m"), lit(0L)).as("mb"))
      .agg(count(lit(1)).as("n_occupied"),
        sum(when(col("ma") =!= col("mb"), 1L).otherwise(0L)).as("n_diff_regs"),
        max(greatest(col("ma"), col("mb"))).as("max_rank"))
    val eM = hllEstimate(merged.withColumn("k", lit(1)), Seq("k"))
      .select(col("sum_scaled").as("sum_scaled_merged"), col("est").as("est_merged"))
    val eG = hllEstimate(global.withColumn("k", lit(1)), Seq("k"))
      .select(col("sum_scaled").as("sum_scaled_global"), col("est").as("est_global"))
    diff.crossJoin(eM).crossJoin(eG)
  }

  /** c156: HLL VINTAGE NOVELTY — what an ingest adds, estimated from
    * sketches alone: per source, the base vintage's register table
    * and the union's (one pass each), estimates off the shared
    * estimator, and est_new = est_union − est_base — the standard
    * sketch-difference novelty read (|A∪B| − |A| ≈ |B\\A|), beside
    * the exact audit. At 100 TB the base registers are LAST vintage's
    * stored artifact (256 longs per source) and the delta's merge in
    * by max (c155's proven property) — "how much genuinely new
    * content did this crawl buy" priced without re-reading the base
    * corpus. est_new is signed (HLL noise can push it below zero on
    * a tiny delta) and flows through the Rz discipline.
    *
    * Shape: one shingle pass, two ≤ sources×256 register aggregates,
    * the exact audit legs, report-sized joins. */
  def c156HllVintage(docs: DataFrame): DataFrame = {
    val items = Dedup.docShingles8(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("is_base", graft.operators.Dedup.isBaseDoc(col("doc_id")))
    val exact = items.groupBy("source").agg(
      countDistinct(when(col("is_base"), col("sh8"))).as("exact_base"),
      countDistinct(col("sh8")).as("exact_union"))
    // both vintages' register tables off the one memoized fused
    // aggregate: base rows are the groups whose base slice had items
    // (m_base_raw non-null) — exactly the two-pass spelling's tables
    val fused = sourceRegistersFused(docs)
    val eBase = hllEstimate(fused.filter(col("m_base_raw").isNotNull)
        .select(col("source"), col("reg"), col("m_base_raw").as("m")), Seq("source"))
      .select(col("source"), col("est").as("est_base"))
    val eUnion = hllEstimate(fused
        .select(col("source"), col("reg"), col("m_cur_raw").as("m")), Seq("source"))
      .select(col("source"), col("est").as("est_union"))
    exact.join(eUnion, Seq("source"))
      .join(eBase, Seq("source"), "left")
      .withColumn("exact_new", col("exact_union") - col("exact_base"))
      .withColumn("est_new", round(col("est_union") - col("est_base"), 4))
      .select(col("source"), col("exact_base"), col("exact_union"),
        col("exact_new"), col("est_base"), col("est_union"), col("est_new"))
      .orderBy("source")
  }

  /** (doc_id, source, sh8) items — the shingle frame every HLL key
    * aggregates over, exposed for the streaming register door (c167),
    * which lives outside the operators package. */
  private[graft] def sourceShingleItems(docs: DataFrame): DataFrame =
    Dedup.docShingles8(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))

  /** c166: HLL REGISTER DRIFT — c91's PSI discipline applied to the
    * sketch STATE itself: per source, the base vintage's register
    * table against the union's, compared as rank DISTRIBUTIONS over
    * the 256 registers (empty register = rank 0). The report reads
    * drift straight off the stored sketches — which registers rose,
    * the largest rank gain, the PSI of the rank histogram, and the
    * widest proportion gap — with NO corpus read at diff time: at
    * 100 TB both register tables are per-vintage artifacts (256
    * longs per source, c154/c156's store discipline) and this query
    * is their 256-row diff, the cheapest possible "did this crawl
    * change a source's content distribution" gate. A register's max
    * rank only ever rises under the max-merge (c155), so
    * `n_regs_changed` is also exactly the count of registers the
    * delta touched. Signed columns (max_gap; psi's rounding) follow
    * the Rz discipline from birth.
    *
    * Shape: one shingle pass, two ≤ sources×256 register aggregates,
    * then everything is (sources × 256)- and (sources × 54)-row
    * report arithmetic — grids, not corpus. */
  def c166RegisterDrift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = docs.sparkSession
    import spark0.implicits._
    // ONE corpus-grain pass for both vintages' registers: the base
    // table is max(rank) over the base slice of the SAME (source,
    // reg) groups — a conditional max in the union's aggregate, not a
    // second shingle aggregation (the two-pass spelling paid the
    // explode+md5+agg twice; equality is spec-pinned in Round27Spec).
    // Groups with no base item yield NULL, exactly the rows the old
    // left join missed — both coalesce to rank 0 in the grid.
    // hllRanks runs BEFORE the source join so the md5/rank kernel
    // stays fused with the (spread) shingle-memo block read instead
    // of landing in the join's AQE-coalesced output stage; the fused
    // table is the session memo c154/c155/c156 read too.
    val mBoth = sourceRegistersFused(docs)
    val sources = docs.select(col("source")).distinct()
    val regs = Materialize.frame(sources
      .crossJoin((0L until HllRegisters).toDF("reg"))
      .join(mBoth, Seq("source", "reg"), "left")
      .select(col("source"), col("reg"),
        coalesce(col("m_base_raw"), lit(0L)).as("m_base"),
        coalesce(col("m_cur_raw"), lit(0L)).as("m_cur")))
    val changed = regs.groupBy("source").agg(
      sum(when(col("m_cur") =!= col("m_base"), 1L).otherwise(0L))
        .as("n_regs_changed"),
      max(col("m_cur") - col("m_base")).as("max_rank_gain"))
    def hist(mcol: String, c: String) = regs
      .groupBy(col("source"), col(mcol).as("rk"))
      .agg(count(lit(1)).as(c))
    val p = sources.crossJoin((0L to 53L).toDF("rk"))
      .join(hist("m_base", "cb"), Seq("source", "rk"), "left")
      .join(hist("m_cur", "cc"), Seq("source", "rk"), "left")
      .withColumn("p_base", round(
        coalesce(col("cb"), lit(0L)).cast("double") / lit(HllRegisters.toDouble), 4))
      .withColumn("p_cur", round(
        coalesce(col("cc"), lit(0L)).cast("double") / lit(HllRegisters.toDouble), 4))
    val wG = Window.partitionBy(col("source"))
      .orderBy(abs(col("p_cur") - col("p_base")).desc, col("rk"))
    changed.join(
      p.withColumn("gr", row_number().over(wG))
        .groupBy("source").agg(
          round(sum((col("p_cur") - col("p_base")) *
            log((col("p_cur") + lit(DriftEps)) / (col("p_base") + lit(DriftEps)))), 4)
            .as("psi"),
          max(when(col("gr") === 1, col("rk"))).as("max_gap_rank"),
          max(when(col("gr") === 1, round(col("p_cur") - col("p_base"), 4)))
            .as("max_gap")),
      Seq("source"))
      .select(col("source"), col("n_regs_changed"), col("max_rank_gain"),
        col("psi"), col("max_gap_rank"), col("max_gap"))
      .orderBy("source")
  }

  /** The Bloom set-bit table of a (…, sh8) key frame — materialized:
    * the k probe joins each broadcast it, and an unmaterialized plan
    * would re-derive the explode + distinct once per hash function
    * (bounded ≤ 2^20 longs — the whole point of the Bloom spelling —
    * so the blocks are small). Shared by c35's build side and the
    * streaming gate's static benchmark filter (DecontamStream). */
  private[graft] def bloomBitsFromKeys(sh8Keys: DataFrame): DataFrame = {
    require(BloomHashes * 7 <= 32, "bloom positions are disjoint 7-hex slices of one md5")
    Materialize.frame(
      sh8Keys.select(col("sh8")).distinct()
        .select(explode(bloomPositions(col("sh8"))).as("pos")).distinct())
  }

  /** Per-doc Bloom flags over a (doc_id, sh8) frame: one broadcast-
    * hash LOOKUP PER HASH FUNCTION on the distinct (doc, shingle)
    * rows — k narrow joins against the same bounded bit table —
    * instead of explode(×k) + a (doc, shingle)-grain count shuffle.
    * The shingle frame never widens and the only shuffle is the
    * per-doc aggregation. All k positions are computed in ONE
    * projection (the shared md5 digest is eliminated as a common
    * subexpression); "all k positions set" is a conjunction of
    * per-join hit flags — the same semantics as the oracle's
    * count(hit) = k spelling. */
  private[graft] def bloomProbeRows(sh: DataFrame, bits: DataFrame): DataFrame = {
    val withPos = sh
      .select(col("doc_id") +: (0 until BloomHashes)
        .map(i => bloomPosition(col("sh8"), i).as(s"_p$i")): _*)
    val probe = (0 until BloomHashes).foldLeft(withPos) { case (df, i) =>
      df.join(broadcast(bits.select(col("pos").as(s"_p$i"), lit(1L).as(s"_h$i"))),
        Seq(s"_p$i"), "left")
    }
    val allHit = (0 until BloomHashes).map(i => col(s"_h$i").isNotNull).reduce(_ && _)
    probe
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(allHit, 1L).otherwise(0L)).as("n_flagged"))
      .select(col("doc_id"), col("n_sh"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_sh"), 4).as("flagged_frac"))
  }

  /** The (doc_id, sh8) derivation as a PLAIN projection — the
    * streaming gate's spelling: identical rows to Dedup.docShingles8
    * (distinct 3-gram keys per doc; <3-word docs vanish under the
    * explode) but NOT session-memoized, because a streaming query
    * would key one memo entry per micro-batch plan and leak the
    * cache. Batch c35 keeps the memoized path. */
  private[graft] def docShingles8Direct(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      // distinct RAW shingles, then hash — docShingles8's convention:
      // an in-doc h8 collision keeps BOTH rows (dedup-after-hash
      // would merge them and diverge from the batch probe)
      explode(array_distinct(TextFns.shingles3(col("text")))).as("s"))
      .select(col("doc_id"), TextFns.h8(col("s")).as("sh8"))

  // ---- c37: BM25 retrieval --------------------------------------------

  /** BM25 constants (standard Robertson/Sparck-Jones defaults) — the
    * oracle SQL interpolates these, so the two spellings cannot
    * drift. Two scale bounds, both oracle-replicated:
    *  - stopword elision: terms in >90% of docs (df·10 > N·9, an
    *    exact INTEGER comparison) are dropped — near-zero idf,
    *    near-full-corpus posting lists;
    *  - static posting pruning ([[Bm25PostingCap]]): each (query,
    *    term) considers only the top-cap docs by (tf desc, doc_id) —
    *    Carmel et al.'s static index pruning, the declarative stand-
    *    in for WAND/impact-ordered traversal. Caps probe fan-out at
    *    queries·terms·cap INDEPENDENT of df; inactive below cap
    *    (exact BM25 at this SF), and at 100 TB a high-tf truncation
    *    is the accepted top-k approximation. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 5
  val Bm25QueryTokens = 4
  val Bm25PostingCap = 1000

  /** c37: BM25 top-k retrieval — the relevance-ranked lookup a
    * training-data pipeline runs for targeted data selection (and the
    * exact-scoring backbone of RAG serving). Queries are the
    * deterministic ~1% doc_id slice (c20's benchmark discipline):
    * each query doc's first [[Bm25QueryTokens]] distinct tokens form
    * the query; candidates come from the inverted index — tf rows
    * joined on term — never a corpus×query cross join. Scoring is
    * textbook BM25: idf = ln((N − df + ½)/(df + ½) + 1), tf
    * saturation k1 = 1.2, length normalization b = 0.75 against the
    * corpus mean doc length (an exact long-division broadcast, not a
    * collect). Scores round(·,4) BEFORE ranking so rank ties break
    * identically in both engines (c17's discipline).
    *
    * Shuffle inventory: one (doc, term) tf aggregation (shared
    * [[tfRows]] memo with c17/c31 — one corpus tokenize pass per
    * session), one term-keyed df aggregate, the probe join shuffles
    * tf on term once (the query side is slice-sized — AQE broadcasts
    * it while it measures small; no forced hint since the slice is
    * corpus-proportional, c20's rule), one term-keyed pruning window
    * sharing the df aggregate's exchange + one (q_id, doc) score
    * aggregate, one q_id-partitioned WindowGroupLimit top-k. Probe
    * fan-out is ≤ queries · terms · [[Bm25PostingCap]] after
    * pruning — never n², independent of term frequency skew. */
  def c37Bm25(docs: DataFrame, postingCap: Int = Bm25PostingCap): DataFrame =
    bm25Ranked(docs, postingCap, Bm25TopK)

  /** The BM25 retrieval kernel with the result depth and an optional
    * query-id bound as parameters — ONE spelling for c37 (the keyed
    * query, [[Bm25TopK]], the whole % 101 slice: posting-cap-bounded
    * cost, linear in queries) and c109's lexical leg (fusion depth
    * [[graft.operators.Similarity.RrfTopK]], queries CAPPED at a
    * fixed count so the fusion's dense leg stays a bounded
    * broadcast); everything else — query slice, stopword elision,
    * posting cap, scoring — is c37's contract verbatim. */
  private[operators] def bm25Ranked(docs: DataFrame, postingCap: Int = Bm25PostingCap,
      topK: Int = Bm25TopK, queryBound: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a doc's tf rows don't depend on other docs, so the corpus
    // restriction filters the SHARED memoized frame (one tokenize
    // pass per session, same blocks c17/c31 read) instead of keying
    // a second memo on the filtered plan
    val corpusTf = tfRows(docs).filter(col("doc_id") % 101 =!= 0)
    val qdocs = queryBound.foldLeft(docs.filter(col("doc_id") % 101 === 0)) {
      (d, b) => d.filter(col("doc_id") < b)
    }
    val queries = qdocs
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(TextFns.tokens(col("text")), 1, Bm25QueryTokens)))
          .as("term"))
    // the lexical EVIDENCE frames (doc lengths, df table, pruned
    // postings) are pure functions of the corpus — one build per
    // (session, corpus) like the shingle/overlap evidence, so c37 and
    // c109/c118's lexical legs price as probe joins over memoized
    // blocks instead of re-running the doc-grain and term-grain
    // aggregates per call (the r14 c109 profile: the leg's warm cost
    // was these rebuilds, not the fusion)
    val dl = SessionMemo.frame("bm25_dl", corpusTf)(Materialize.frame(
      corpusTf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))))
    // avgdl = exact-long sum / exact-long count: both engines divide
    // the same two integers, so the double is bit-identical with no
    // rounding step needed. One report-sized aggregate off the
    // memoized dl blocks per call.
    val stats = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n_docs"))
    val dfCapped = SessionMemo.frame("bm25_df", corpusTf)(Materialize.frame(
        corpusTf.groupBy("term").agg(count(lit(1)).as("df"))))
      .crossJoin(broadcast(stats))
      .filter(col("df") * 10 <= col("n_docs") * 9)
    // static posting pruning: rank each TERM's posting list by
    // (tf desc, doc_id) and keep the cap — the rank is a function of
    // the term alone, so pruning BEFORE the query join is identical
    // to pruning per (query, term) after it, with the window reading
    // |tf| rows instead of |queries ⋈ tf|. Memoized at the contract
    // cap only (c51's at-the-floor discipline); a caller probing a
    // custom cap gets the direct window.
    val wT = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    def prune(cap: Int) = corpusTf
      .withColumn("prank", row_number().over(wT))
      .filter(col("prank") <= cap)
      .drop("prank")
    val postings = if (postingCap == Bm25PostingCap)
      SessionMemo.frame("bm25_postings", corpusTf)(Materialize.frame(prune(postingCap)))
    else prune(postingCap)
    val scored = queries.join(postings, Seq("term"))
      .join(dfCapped, Seq("term"))
      .join(dl, Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf") * lit(Bm25K1 + 1))
          / (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    val ranked = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "doc_id", "score")
    // memoized: the RANKED lexical leg (not just its evidence frames)
    // feeds c37's keyed report and all three fusion-tier consumers
    // (c109/c118/c125 at the RRF dials) — the probe join + score +
    // rank window runs once per (session, corpus, cap, topK, bound)
    // and every consumer reads the |Q|·topK frame back. The memo key
    // is the ranked plan's semantic hash (cap/topK/bound are literals
    // in it), so dial probes never collide.
    SessionMemo.frame("bm25_ranked", ranked)(Materialize.frame(ranked))
      .orderBy("q_id", "rank")
  }

  // ---- c140/c141: the persisted lexical index --------------------------

  /** Write the lexical index artifacts under `root` with a version
    * suffix — static-pruned impact-ordered postings (the shipped
    * list), the df table, doc lengths, and ADDITIVE stats (sum_dl +
    * n_docs, not avgdl, so an append can merge them exactly). One
    * spelling for the full build (c140) and c141's base vintage. */
  private def writeLexArtifacts(corpusTf: DataFrame, root: String, ver: String,
      postingCap: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val wT = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    corpusTf.withColumn("prank", row_number().over(wT))
      .filter(col("prank") <= postingCap).drop("prank")
      .write.mode("overwrite").parquet(s"$root/postings$ver")
    corpusTf.groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$root/df$ver")
    val dl = corpusTf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    dl.write.mode("overwrite").parquet(s"$root/dl$ver")
    dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
      .write.mode("overwrite").parquet(s"$root/stats$ver")
  }

  /** BM25 SERVING off stored artifacts — c37's scoring pipeline with
    * every corpus-derived frame replaced by an artifact read (the
    * arithmetic is verbatim, so the stored path hash-checks against
    * c37's oracle). avgdl is derived from the additive stats at read
    * time: the same two integers c37 divides. */
  private def bm25ServeStored(spark: org.apache.spark.sql.SparkSession,
      root: String, docs: DataFrame, ver: String,
      topK: Int = Bm25TopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = spark.read.parquet(s"$root/postings$ver")
    val dfT = spark.read.parquet(s"$root/df$ver")
    val dl = spark.read.parquet(s"$root/dl$ver")
    val stats = spark.read.parquet(s"$root/stats$ver")
      .select((col("sum_dl").cast("double") / col("n_docs")).as("avgdl"),
        col("n_docs"))
    val queries = docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(TextFns.tokens(col("text")), 1, Bm25QueryTokens)))
          .as("term"))
    val dfCapped = dfT.crossJoin(broadcast(stats))
      .filter(col("df") * 10 <= col("n_docs") * 9)
    val scored = queries.join(postings, Seq("term"))
      .join(dfCapped, Seq("term"))
      .join(dl, Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf") * lit(Bm25K1 + 1))
          / (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "doc_id", "score")
      .orderBy("q_id", "rank")
  }

  /** c140: BM25 served from the PERSISTED index — the lexical twin of
    * c79's dense stored-index serving (c37 re-derives postings per
    * invocation; a deployment builds the inverted index once and
    * every query reads it): one build pass writes impact-ordered
    * static-pruned postings, df, doc lengths, and additive stats;
    * serving is four artifact scans + c37's exact joins and
    * arithmetic — hash-checked against c37's own oracle (the
    * c79≡c71 shared-oracle discipline on the lexical side). At
    * 100 TB the artifact is partitioned by term (the join key), so a
    * query's probe reads only its terms' posting row-groups. */
  def c140Bm25Stored(spark: org.apache.spark.sql.SparkSession, dir: String,
      postingCap: Int = Bm25PostingCap, topK: Int = Bm25TopK): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val root = SessionMemo.store(spark, s"c140_lex_$dir") { r =>
      writeLexArtifacts(tfRows(docs).filter(col("doc_id") % 101 =!= 0),
        r, "", postingCap)
    }
    bm25ServeStored(spark, root, docs, "", topK)
  }

  /** c141: EXACT incremental append to the lexical index — c81's
    * append-without-retrain discipline where the lexical index is
    * strictly better off than the dense one: posting lists, df, and
    * the additive stats all merge EXACTLY (top-cap(A ∪ B) ⊆
    * top-cap(A) ∪ B makes re-capping touched terms over capped-base
    * ∪ delta identical to a full rebuild — no quantization drift to
    * measure). The base vintage (the c45/c56 md5-percent cut) builds
    * the v1 artifacts; the delta's tf rows touch ONLY their own
    * terms' postings (c82's touched-only discipline), df merges by
    * addition, stats by summing sums. The keyed result serves from
    * the appended artifacts and hash-checks against c37's
    * full-corpus oracle — the ≡-rebuild theorem as a driver check,
    * with the spec additionally pinning untouched posting lists
    * row-identical to v1. */
  def c141PostingsAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      postingCap: Int = Bm25PostingCap, topK: Int = Bm25TopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.documents(spark, dir)
    val root = SessionMemo.store(spark, s"c141_lex_$dir")(
      buildLexAppend(spark, tfRows(docs).filter(col("doc_id") % 101 =!= 0),
        _, postingCap))
    bm25ServeStored(spark, root, docs, "_v2", topK)
  }

  /** c141's build — base artifacts from the base vintage, then the
    * exact append: touched terms' lists re-capped over capped-base ∪
    * delta, untouched lists copied through, df/dl/stats merged by
    * addition. Factored so the spec can run it on a planted corpus
    * with a controlled base/delta vocabulary split. */
  private[graft] def buildLexAppend(spark: org.apache.spark.sql.SparkSession,
      corpusTf: DataFrame, r: String,
      postingCap: Int = Bm25PostingCap): Unit = {
    import org.apache.spark.sql.expressions.Window
    val baseTf = corpusTf.filter(Dedup.isBaseDoc(col("doc_id")))
    writeLexArtifacts(baseTf, r, "", postingCap)
    val deltaTf = Materialize.frame(
      corpusTf.filter(!Dedup.isBaseDoc(col("doc_id"))))
    val touched = deltaTf.select("term").distinct()
    val v1Post = spark.read.parquet(s"$r/postings")
    // untouched lists ride through; touched lists re-cap over
    // capped-base ∪ delta (exact — dropped base rows were already
    // outranked by cap rows that are still present)
    val wT = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    val recapped = v1Post.join(touched, Seq("term"), "left_semi")
      .unionByName(deltaTf)
      .withColumn("prank", row_number().over(wT))
      .filter(col("prank") <= postingCap).drop("prank")
    v1Post.join(touched, Seq("term"), "left_anti")
      .unionByName(recapped)
      .write.mode("overwrite").parquet(s"$r/postings_v2")
    val dfDelta = deltaTf.groupBy("term").agg(count(lit(1)).as("df_d"))
    spark.read.parquet(s"$r/df")
      .join(dfDelta, Seq("term"), "full")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("df_d"), lit(0L))).as("df"))
      .write.mode("overwrite").parquet(s"$r/df_v2")
    val dlDelta = deltaTf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    spark.read.parquet(s"$r/dl").unionByName(dlDelta)
      .write.mode("overwrite").parquet(s"$r/dl_v2")
    val statsDelta = dlDelta.agg(sum(col("dl")).as("sum_dl"),
      count(lit(1)).as("n_docs"))
    spark.read.parquet(s"$r/stats").unionByName(statsDelta)
      .agg(sum(col("sum_dl")).as("sum_dl"), sum(col("n_docs")).as("n_docs"))
      .write.mode("overwrite").parquet(s"$r/stats_v2")
  }

  /** Shared materialized (doc_id, term, tf) frame — the term-grain
    * twin of the shingle/bigram memos: c17, c31, c37, and c39 all
    * start from the same tokenize + (doc, term) count, so inside a
    * multi-query session the corpus is tokenized once. */
  private[operators] def tfRows(docs: DataFrame): DataFrame =
    SessionMemo.frame("tf_rows", docs)(Materialize.frame(tfRowsDirect(docs)))

  /** The tokenize + (doc, term) count WITHOUT the corpus memo — the
    * one spelling [[tfRows]] memoizes, exposed for batch-grain
    * consumers (the live student gate scores a micro-batch, not the
    * corpus). */
  private[operators] def tfRowsDirect(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  // ---- c107: source-pair distribution divergence -----------------------

  /** c107: pairwise JENSEN–SHANNON divergence between per-source
    * unigram distributions — the mixture-design read that tells a
    * corpus assembler which sources are lexically REDUNDANT (low JS —
    * down-weight one) and which contribute coverage (high JS): for
    * every source pair, JS(P‖Q) in bits, plus how much of each side's
    * probability mass lives on the SHARED vocabulary. Terms present
    * in only one source contribute exactly p/2·log₂2 = p/2 to the
    * divergence (the mixture M halves their mass), so the inner join
    * over shared terms plus the residual masses is the EXACT JS —
    * no smoothing constant, no dropped mass. Pairs sharing no term at
    * all would score 1.0; they are absent from the report by the same
    * inner-join contract in both engines.
    *
    * Shape: per-source term counts are ONE aggregate off the tfRows
    * memo (vocabulary × sources rows, never corpus grain); the
    * self-join on term produces at most Σ_t C(s_t, 2) ≤ |vocab|·S²/2
    * rows — bounded by vocabulary size times source-count squared,
    * independent of document count — and the report is C(S,2) rows.
    * The per-source totals frame is S rows, broadcast. */
  def c107SourceDivergence(docs: DataFrame): DataFrame = {
    val st = tfRows(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source", "term").agg(sum(col("tf")).as("cnt"))
    val tot = st.groupBy("source").agg(sum(col("cnt")).as("n_tok"))
    // cnt/n_tok is an exact-integer division — both engines divide the
    // same two longs, so every p is bit-identical cross-engine
    val p = st.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("term"),
        (col("cnt").cast("double") / col("n_tok")).as("p"))
    val a = p.select(col("source").as("source_a"), col("term"), col("p").as("pa"))
    val b = p.select(col("source").as("source_b"), col("term"), col("p").as("pb"))
    a.join(b, Seq("term")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"),
        sum(col("pa")).as("sa"), sum(col("pb")).as("sb"),
        sum(col("pa") * log2(lit(2.0) * col("pa") / (col("pa") + col("pb")))
          + col("pb") * log2(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
          .as("cross_sum"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("sa"), 4).as("overlap_a"), round(col("sb"), 4).as("overlap_b"),
        round(lit(0.5) * col("cross_sum")
          + lit(0.5) * (lit(1.0) - col("sa"))
          + lit(0.5) * (lit(1.0) - col("sb")), 4).as("js_div"))
      .orderBy("source_a", "source_b")
  }

  // ---- c41: Gopher rule battery ---------------------------------------

  /** c41 thresholds — the Gopher quality-rule battery (Rae et al.
    * 2021, §A1.1), the literature's canonical *named* rule set, kept
    * at the paper's constants. All oracle-interpolated. (c9 scores a
    * continuous quality signal, c23 cascades graft's own gate; c41
    * is the published battery a reviewer can check against the
    * paper, rule for rule.) The two line-grain rules — bullet-start
    * and ellipsis-end line fractions — are out of scope for this
    * corpus by construction: documents are single-line
    * space-separated words, so the line grain doesn't exist here;
    * the symbol-ratio rule carries the ellipsis signal instead. */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMinAlphaFrac = 0.8
  val GopherMaxSymbolRatio = 0.1
  val GopherMinStopHits = 2L

  /** c41: per-document Gopher rules with full signal disclosure —
    * every signal, every rule verdict, and the keep decision, so a
    * curation run can be audited per rule (which rule fired, at what
    * measured value) rather than per boolean.
    *
    * Scale shape: everything reduces off the shared [[tfRows]] memo
    * at (doc, term) grain — word length, alpha membership, symbol
    * counts, and stopword hits are all functions of the TERM, so the
    * per-doc aggregate is one map-side-combinable groupBy with zero
    * additional corpus passes and no interpreted higher-order
    * functions (the per-doc lambda spelling would be the slow path
    * at 100 TB). Rules compare the ROUNDED signals in both engines —
    * the c17 round-then-compare discipline that keeps the keep bit
    * hash-stable. */
  def c41GopherRules(docs: DataFrame): DataFrame =
    gopherFrame(docs).orderBy("doc_id")

  /** c41's battery without the report ordering — the spelling shared
    * with the c88 trainer, whose teacher labels must be EXACTLY the
    * shipped battery's verdicts (one spelling, no drift). */
  private[operators] def gopherFrame(docs: DataFrame): DataFrame = {
    val isAlpha = col("term").rlike("^[a-z]+$")
    val hashes = length(col("term")) - length(regexp_replace(col("term"), "#", ""))
    val ellipses = ((length(col("term"))
      - length(regexp_replace(col("term"), "\\.\\.\\.", ""))) / lit(3)).cast("long")
    val sig = tfRows(docs).groupBy("doc_id").agg(
      sum(col("tf")).as("n_words"),
      round(sum(col("tf") * length(col("term"))).cast("double") / sum(col("tf")), 4)
        .as("mean_word_len"),
      round(sum(when(isAlpha, col("tf")).otherwise(0L)).cast("double") / sum(col("tf")), 4)
        .as("alpha_frac"),
      round(sum(col("tf") * (hashes + ellipses)).cast("double") / sum(col("tf")), 4)
        .as("symbol_ratio"),
      sum(when(col("term").isin(TextFns.EnMarkers: _*), col("tf")).otherwise(0L))
        .as("stop_hits"))
    val fails = concat_ws(",",
      when(col("n_words") < GopherMinWords || col("n_words") > GopherMaxWords,
        lit("word_count")),
      when(col("mean_word_len") < GopherMinMeanLen
        || col("mean_word_len") > GopherMaxMeanLen, lit("mean_word_len")),
      when(col("alpha_frac") < GopherMinAlphaFrac, lit("alpha")),
      when(col("symbol_ratio") > GopherMaxSymbolRatio, lit("symbol")),
      when(col("stop_hits") < GopherMinStopHits, lit("stopword")))
    sig.withColumn("fail_reasons", fails)
      .withColumn("keep", when(col("fail_reasons") === "", 1L).otherwise(0L))
      .select("doc_id", "n_words", "mean_word_len", "alpha_frac",
        "symbol_ratio", "stop_hits", "keep", "fail_reasons")
  }

  // ---- c40: BPE pair statistics ---------------------------------------

  /** c40: byte-pair merge statistics — the counting step a BPE
    * tokenizer trainer iterates (Sennrich et al. 2016): for every
    * adjacent CHARACTER pair inside a word, its corpus-weighted
    * occurrence count (weight = the word's total term frequency) and
    * how many distinct words carry it; the top pair is the next
    * merge. One iteration only — the declared contract is the
    * merge-candidate table, not the trained vocab (the loop is a
    * driver-side fold over vocabulary-sized frames, c26's pattern).
    *
    * Scale shape: the ONLY corpus-grain work is the shared [[tfRows]]
    * memo; everything here reduces that to a VOCABULARY-sized word
    * frequency table first and then explodes ~|word| pairs per
    * DISTINCT word — at 100 TB the vocabulary is millions of rows
    * where the corpus is billions, which is why real BPE trainers
    * count on the vocab histogram, never the raw text. The pair
    * explode uses transform/sequence (interpreted, not codegen) —
    * acceptable exactly BECAUSE the input is vocabulary-sized; the
    * corpus-grain kernels deliberately avoid that spelling. */
  def c40BpePairs(docs: DataFrame, k: Int = 50): DataFrame = {
    val words = tfRows(docs).groupBy("term").agg(sum(col("tf")).as("n"))
    words
      .filter(length(col("term")) >= 2)
      .select(col("term"), col("n"),
        explode(transform(sequence(lit(1), length(col("term")) - 1),
          i => col("term").substr(i, lit(2)))).as("pair"))
      // total counts every occurrence (a pair twice inside one word
      // contributes 2n — BPE's merge objective); n_words counts the
      // distinct words carrying it
      .groupBy("pair")
      .agg(sum(col("n")).as("total"), countDistinct(col("term")).as("n_words"))
      .orderBy(col("total").desc, col("pair"))
      .limit(k)
  }

  // ---- c57: BPE merge application (learned-vocab token counts) --------

  /** c57's merge budget: the top-[[BpeMerges]] candidates from c40's
    * counting pass, applied in rank order. Oracle-interpolated. */
  val BpeMerges = 8

  /** Greedy left-to-right application of a merge list to ONE word:
    * for each merge in rank order, adjacent symbol pairs equal to it
    * collapse non-overlapping from the left (Sennrich's replace
    * pass). The oracle's island spelling is equivalent: match
    * positions are consecutive only when a = b (a run of the same
    * char), and a run's greedy picks are exactly its even offsets —
    * isolated matches are all taken on both spellings. */
  /** Split a string into CODE-POINT symbols (not UTF-16 units) — the
    * character grain Spark's `substr`/`length` and DuckDB's
    * `substr`/`length` both operate on, so on non-BMP text (emoji,
    * supplementary CJK) the kernel's symbols match c40's pair
    * extraction and the oracle's replay instead of splitting a
    * surrogate pair (r8 ADVICE). */
  private[graft] def codePointSymbols(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      val n = Character.charCount(s.codePointAt(i))
      out += s.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Parse a 2-code-point merge pair into its (left, right) symbols
    * at code-point grain — the ONE spelling c57 and c63 share. */
  private def splitMergePair(p: String): (String, String) = {
    val cps = codePointSymbols(p)
    require(cps.length == 2, s"merge pair must be 2 code points: '$p'")
    (cps(0), cps(1))
  }

  /** Symbol GRAIN for the trained-BPE tier (c75/c76/c83). The merge
    * loop, greedy apply kernel, and artifact discipline are all
    * grain-independent — only the INITIAL segmentation of a word
    * differs:
    *  - [[CharGrain]] (default, oracle-checked): code points, the
    *    grain both engines' substr/length agree on.
    *  - [[ByteGrain]] (the production grain — GPT-2/LLaMA family):
    *    the word's UTF-8 bytes, each rendered as a fixed 2-hex-char
    *    symbol, so merged symbols concatenate into unambiguous
    *    even-length hex strings and decode is hex → bytes → UTF-8
    *    (round-trip spec-proven). The alphabet is ≤256 symbols
    *    REGARDLESS of script — the reason production tokenizers pick
    *    bytes: no unbounded unicode base vocabulary, no out-of-
    *    alphabet word ever (where char grain must grow its alphabet
    *    with every new code point the corpus surfaces). */
  sealed trait BpeGrain extends Serializable {
    def symbols(term: String): Array[String]
    /** The per-term mass unit compression is priced against. */
    def massOf(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column
  }
  case object CharGrain extends BpeGrain {
    def symbols(t: String): Array[String] = codePointSymbols(t)
    def massOf(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      length(term)
  }
  case object ByteGrain extends BpeGrain {
    def symbols(t: String): Array[String] =
      t.getBytes(java.nio.charset.StandardCharsets.UTF_8).map(b => f"${b & 0xff}%02x")
    def massOf(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      octet_length(term)
    /** Inverse of [[symbols]] ∘ merge-apply: concatenated hex symbols
      * back to the UTF-8 string — the round-trip proof's decode. */
    def decode(syms: Seq[String]): String = {
      val hex = syms.mkString
      val bytes = hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  private[graft] def bpeApplyOne(syms: Array[String], a: String, b: String): Array[String] = {
    if (syms.length < 2) syms
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
  }

  private[graft] def bpeSymbolCount(term: String, merges: Array[(String, String)],
      grain: BpeGrain = CharGrain): Int = {
    var syms: Array[String] = grain.symbols(term)
    merges.foreach { case (a, b) => syms = bpeApplyOne(syms, a, b) }
    syms.length
  }

  /** Symbol counts after each PREFIX of the merge list named in
    * `budgets` (ascending) — one greedy pass per merge total, shared
    * across all budget points (c63's kernel). */
  private[graft] def bpeSymbolCounts(term: String,
      merges: Array[(String, String)], budgets: Seq[Int]): Seq[Int] = {
    var syms: Array[String] = codePointSymbols(term)
    var applied = 0
    budgets.map { bgt =>
      while (applied < bgt) {
        val (a, b) = merges(applied)
        syms = bpeApplyOne(syms, a, b)
        applied += 1
      }
      syms.length
    }
  }

  /** c57: BPE merge APPLICATION — the encode step c40's statistics
    * feed (the round-7 verdict's "nothing applies the learned
    * merges" gap): the top-[[BpeMerges]] ranked pairs are applied in
    * order to the vocabulary, and every document's token count is
    * re-derived under the learned segmentation — c10's count at
    * LEARNED-vocab grain instead of whitespace grain. The report is
    * the number a sequence-packing budget (c22/c25) actually needs:
    * how many BPE units each doc costs, and the chars-per-unit
    * compression the merge budget bought.
    *
    * Scale shape, per Sennrich: raw text is NEVER re-segmented — the
    * merge loop runs once per DISTINCT word (a typed kernel over the
    * vocabulary frame, |vocab| ≪ corpus at any scale), and the
    * per-doc counts reduce off the shared [[tfRows]] memo through one
    * vocabulary-sized join (AQE broadcasts it). The merge list itself
    * is an [[BpeMerges]]-row collect off c40's vocabulary-grain
    * aggregate — bounded by construction (c47's codebook
    * discipline). The oracle replays the ranked merge list and every
    * greedy application step CTE-for-CTE. */
  def c57BpeEncode(docs: DataFrame, nMerges: Int = BpeMerges): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val merges = c40BpePairs(docs, nMerges).select(col("pair")).collect()
      .map(r => splitMergePair(r.getString(0)))
    val bc = spark0.sparkContext.broadcast(merges)
    val vocabSyms = tfRows(docs).select(col("term")).distinct().as[String]
      .map(t => (t, bpeSymbolCount(t, bc.value).toLong))
      .toDF("term", "n_syms")
    tfRows(docs).join(vocabSyms, Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * length(col("term"))).as("n_chars"),
        sum(col("tf") * col("n_syms")).as("n_bpe_tokens"))
      // a doc of only empty tokens has no char mass — no defined
      // compression (and ANSI division would kill the query)
      .withColumn("compression",
        when(col("n_chars") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_chars"), 4)))
      .orderBy("doc_id")
  }

  /** c63's budget points — prefixes of the ranked merge list
    * (ascending; 0 = character grain, [[BpeMerges]] = c57's full
    * budget). Oracle-interpolated. */
  val BpeSweepBudgets: Seq[Int] = Seq(0, 2, 4, BpeMerges)

  /** c63: BPE merge-budget sweep — the policy curve behind c57's one
    * pinned budget (c51's sensitivity pattern applied to
    * tokenization): corpus-wide unit counts and chars-per-unit
    * compression at each PREFIX of the ranked merge list, the table
    * a tokenizer-budget decision actually reads (where the
    * compression curve flattens is where merges stop paying).
    *
    * Shape: ONE vocabulary kernel pass computes every budget point
    * (the greedy passes are shared — budget k's state is budget
    * k−1's plus one merge), the per-doc mass reduces off the tf memo
    * through a (term × |budgets|)-sized join, and the report is
    * |budgets| rows. The oracle reads the SAME intermediate symbol
    * tables c57's generated chain already materializes (s0, s2, …),
    * one aggregate per budget — CTE-for-CTE, no second derivation. */
  def c63BpeSweep(docs: DataFrame, budgets: Seq[Int] = BpeSweepBudgets): DataFrame = {
    require(budgets.nonEmpty && budgets == budgets.distinct.sorted && budgets.head >= 0,
      s"budgets must be strictly ascending and non-negative: $budgets")
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val merges = c40BpePairs(docs, budgets.max).select(col("pair")).collect()
      .map(r => splitMergePair(r.getString(0)))
    val bc = spark0.sparkContext.broadcast((merges, budgets))
    val vocabSyms = tfRows(docs).select(col("term")).distinct().as[String]
      .flatMap { t =>
        val (m, bs) = bc.value
        bs.zip(bpeSymbolCounts(t, m, bs)).map { case (b, n) => (t, b.toLong, n.toLong) }
      }
      .toDF("term", "budget", "n_syms")
    tfRows(docs).join(vocabSyms, Seq("term"))
      .groupBy("budget")
      .agg(sum(col("tf") * length(col("term"))).as("n_chars"),
        sum(col("tf") * col("n_syms")).as("n_units"))
      .withColumn("compression",
        when(col("n_chars") > 0,
          round(col("n_units").cast("double") / col("n_chars"), 4)))
      .select(col("budget"), col("n_units"), col("n_chars"), col("compression"))
      .orderBy("budget")
  }

  /** c75: TRUE iterative BPE training (Sennrich et al. 2016's actual
    * loop — c40/c57 rank ONE counting pass and apply the top-8, the
    * standard first-order approximation): at each step the pair
    * counts are RE-derived from the current symbol tables, the argmax
    * pair merges, and the next step counts the post-merge world — so
    * a merge like t+h can create th+e mass that did not exist at step
    * one. The report is the learned merge list with each pair's total
    * AT SELECTION TIME — genuinely different from c40's static
    * ranking from the second step on, which is the whole point.
    *
    * Scale shape, per Sennrich: the loop never touches raw text —
    * symbols live as an array column on the VOCABULARY frame (|vocab|
    * ≪ corpus at any scale), each iteration is one vocabulary-grain
    * pair aggregate (map-side combined) + one 1-row collect (the
    * argmax — bounded by construction) + one vocabulary map applying
    * [[bpeApplyOne]] (the same greedy kernel c57 serves with), with
    * lineage cut per step. Determinism: integer totals, argmax ties
    * broken (total desc, a, b) under the binary string order both
    * engines share; the oracle replays every count-pick-apply step
    * CTE-for-CTE. Training stops early if no adjacent pair remains.
    *
    * Step-cost shape: the loop is nMerges × (one vocabulary-grain
    * job + one 1-row argmax collect) — a LATENCY cost (job-launch
    * floor per merge), never a memory hazard (every collect is one
    * row; state is the vocabulary frame). Fine at the report-sized
    * budgets here (8 merges); at a real-vocab budget (32k merges)
    * batch the steps instead: take the top-B disjoint pairs per
    * count pass (pairs sharing no symbol merge in one step — the
    * standard batched-BPE trade, slightly different merge order for
    * B× fewer jobs) or move the loop into one mapPartitions over
    * the vocabulary with driver-side count exchange per step. */
  def c75BpeTrain(docs: DataFrame, iters: Int = BpeMerges,
      grain: BpeGrain = CharGrain): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    // LAZY materialization throughout the loop: each step's argmax
    // aggregate is the first action over the fresh vocab state, so it
    // lands the checkpoint blocks in ITS job — one job per merge step
    // instead of two (the c119 bench-row fix; results are strategy-
    // and eagerness-independent, Round5Spec's contract)
    var vocab = Materialize.frameLazy(
      tfRows(docs).groupBy("term").agg(sum(col("tf")).as("n"))
        .as[(String, Long)]
        .map { case (t, n) => (t, n, grain.symbols(t).toSeq) }
        .toDF("term", "n", "syms"))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (!exhausted && k <= iters) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, tot) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((k, a, b, tot))
        vocab = Materialize.frameLazy(vocab.as[(String, Long, Seq[String])]
          .map { case (t, n, syms) => (t, n, bpeApplyOne(syms.toArray, a, b).toSeq) }
          .toDF("term", "n", "syms"))
        k += 1
      }
    }
    learned.toSeq.toDF("rank", "a", "b", "total").orderBy("rank")
  }

  /** c76: c57's encode under c75's LEARNED merge list — what true
    * training buys in compression, priced per doc: the greedy apply
    * kernel is c57's verbatim ([[bpeSymbolCount]] handles multi-char
    * merge symbols natively), the merge list is the iterative
    * trainer's (so step 6's "m"+"er" compresses where the static
    * list's "me" cannot compose), and the report schema is c57's —
    * the two encodes are directly comparable row-for-row. Oracle:
    * the training chain's FINAL symbol tables already are the
    * applied state, so per-term counts come straight off them. */
  def c76BpeTrainedEncode(docs: DataFrame, nMerges: Int = BpeMerges,
      grain: BpeGrain = CharGrain): DataFrame =
    encodeUnderMerges(docs,
      c75BpeTrain(docs, nMerges, grain).select(col("a"), col("b")).collect()
        .map(r => (r.getString(0), r.getString(1))), grain)

  /** c119: c76's train-then-encode at BYTE grain — the production
    * grain (GPT-2/LLaMA byte-level BPE) keyed with its own oracle:
    * the r11 verdict's "byte-grain BPE has no keyed oracle query"
    * (the grain parameter was spec-proven — round-trip, alphabet
    * bound — but only char grain was oracle-checked). Same trainer
    * ([[c75BpeTrain]]), same greedy encode kernel
    * ([[encodeUnderMerges]]), symbols = lowercase-hex UTF-8 bytes
    * ([[ByteGrain]]), compression priced per BYTE (octet_length) —
    * the oracle replays the hex symbol tables CTE-for-CTE (c75's
    * chain with s0 split via DuckDB's hex()). On a pure-ASCII corpus
    * the byte and char merge sequences are isomorphic (hex pairs ↔
    * code points), which the spec pins as the cross-grain
    * consistency check; on multi-byte text they genuinely diverge —
    * that is what the grain dial is for. */
  def c119BpeBytes(docs: DataFrame, nMerges: Int = BpeMerges): DataFrame =
    c76BpeTrainedEncode(docs, nMerges, ByteGrain)

  /** c163's deterministic training-sample cut (md5 percent bucket —
    * c13's spelling, so the oracle replays the exact sample). */
  val BpeSampleTrainPct: Int = 50

  /** The docs whose md5 id percent bucket ([[Keys.idBucket]]) is below
    * `pct` — the one deterministic training sample of the sampled BPE
    * trainers (c163 c171 c172 c179) and c97's classifier refresh. */
  private def trainSample(docs: DataFrame, pct: Int): DataFrame =
    docs.filter(Keys.idBucket(col("doc_id"), 100) < pct)

  /** c163: the BOUNDED-SAMPLE byte-grain tokenizer trainer — how a
    * 100 TB deployment actually trains BPE. Nobody runs |merges|
    * sequential corpus-grain passes over the full corpus (c119's
    * exact path, kept as the oracle-replayable reference): the
    * trainer reads a deterministic md5-bucket sample (cost ∝ sample,
    * not corpus — and the sample bound holds at ANY corpus scale
    * because the cut is a percent of doc mass, tunable to a fixed
    * byte budget), and the learned merge list then prices the FULL
    * corpus through the same greedy encode kernel every other BPE
    * key serves with. Same report schema as c119, directly
    * comparable row-for-row — the delta IS the sampling error, and
    * the spec pins pct=100 ≡ c119 exactly (sample = corpus ⇒
    * identical merges ⇒ identical table). Oracle: c75's
    * count-pick-apply chain with the pair weights restricted to the
    * sampled docs (symbol tables still span the whole vocabulary, so
    * the learned merges apply to unsampled terms too — c92's
    * split-training shape at byte grain). */
  def c163BpeSampled(docs: DataFrame, nMerges: Int = BpeMerges,
      trainPct: Int = BpeSampleTrainPct): DataFrame = {
    val merges = c75BpeTrain(trainSample(docs, trainPct), nMerges, ByteGrain)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    encodeUnderMerges(docs, merges, ByteGrain)
  }

  /** c171's batch width: merges selected per count pass. At a
    * production 32k-merge vocabulary the batch is the whole point —
    * ~vocab/B count passes instead of 32k sequential argmax jobs;
    * the keyed default keeps the report small while exercising two
    * genuine multi-merge steps (8 merges / B=4). Oracle-interpolated
    * (the chain generator unrolls B selection CTEs per step). */
  val BpeBatchB: Int = 4

  /** One SIMULTANEOUS application pass of a DISJOINT merge set
    * (`m`: a → b, no symbol shared across pairs): left-to-right
    * greedy over the INPUT symbols only — a position's symbol can
    * match at most one merge (disjointness), and consecutive-hit
    * runs can only arise within one a==b merge, so the pass is
    * order-independent across the set and, at |m| = 1, exactly
    * [[bpeApplyOne]] (spec-pinned). Matching on the input array —
    * not the partially-merged output — is the batch's defining
    * semantics: a composite built this step (say "t"+"h" → "th")
    * is NOT visible to a later slot's ("th","e") until the NEXT
    * count pass, which is also what the oracle's position-table
    * replay computes. */
  private[graft] def bpeApplyDisjoint(syms: Array[String],
      m: Map[String, String]): Array[String] = {
    if (syms.length < 2 || m.isEmpty) syms
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var i = 0
      while (i < syms.length) {
        val b = if (i + 1 < syms.length) m.getOrElse(syms(i), null) else null
        if (b != null && syms(i + 1) == b) { out += syms(i) + b; i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.toArray
    }
  }

  /** Greedy prefix selection of up to `want` pairwise-DISJOINT pairs
    * from a (total desc, a, b)-ranked candidate list: walk in rank
    * order, keep a pair iff neither symbol appears in an
    * already-kept pair. Exactly the oracle's unrolled per-slot
    * "first pair disjoint from all earlier slots" — kept pairs gate,
    * skipped pairs don't. */
  private[graft] def selectDisjoint(ranked: Seq[(String, String, Long)],
      want: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = ranked.iterator
    while (kept.size < want && it.hasNext) {
      val p = it.next()
      if (!used(p._1) && !used(p._2)) { kept += p; used += p._1; used += p._2 }
    }
    kept.toSeq
  }

  /** BATCHED-argmax BPE training — c75's count-pick-apply loop at
    * production step cost: each count pass selects the top-B
    * pairwise-DISJOINT pairs (rank order total desc, a, b; a pair
    * sharing a symbol with a better-ranked kept pair waits for the
    * next pass) and ONE vocabulary map applies them simultaneously.
    * The standard batched-BPE trade (merge ORDER differs from the
    * exact trainer's from the second slot on — compression, not
    * parity, is the audit) for B× fewer jobs: ceil(nMerges/B) count
    * passes instead of nMerges, which is what makes a 32k-merge
    * vocabulary ~8k jobs at B=4 instead of 32k — still vocabulary-
    * grain, corpus never re-read. The loop runs EXACTLY
    * ceil(nMerges/B) steps of up to min(B, remaining) merges each
    * (fewer if the step's candidate pool can't fill its slots — a
    * blocked pair becomes eligible again next pass); that fixed step
    * count is the contract the oracle's unrolled chain replays.
    * Selection collects a ranked PREFIX of the pair aggregate
    * (doubling on the pathological all-overlapping shortfall, final
    * when the prefix covers the whole pool), so the per-step driver
    * traffic stays bounded ≈ 8·B rows. At B = 1 the loop IS c75's —
    * same merges, same totals, spec-pinned.
    * Output: (rank, step, slot, a, b, total-at-selection). */
  def bpeBatchTrain(docs: DataFrame, nMerges: Int = BpeMerges,
      batchB: Int = BpeBatchB, grain: BpeGrain = CharGrain): DataFrame = {
    require(nMerges >= 1 && batchB >= 1, s"need nMerges/batchB >= 1: $nMerges/$batchB")
    val spark0 = docs.sparkSession
    import spark0.implicits._
    // same lazy-materialization discipline as c75: each step's ranked
    // pair collect is the first action over the fresh vocab state, so
    // the checkpoint blocks land in that job — one job per STEP (= B
    // merges), not per merge
    var vocab = Materialize.frameLazy(
      tfRows(docs).groupBy("term").agg(sum(col("tf")).as("n"))
        .as[(String, Long)]
        .map { case (t, n) => (t, n, grain.symbols(t).toSeq) }
        .toDF("term", "n", "syms"))
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, String, String, Long)]
    val nSteps = (nMerges + batchB - 1) / batchB
    var rank = 1
    var step = 1
    var exhausted = false
    while (!exhausted && step <= nSteps) {
      val want = math.min(batchB, nMerges - (step - 1) * batchB)
      val counts = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("total"))
      var limit = math.max(8 * want, 32)
      var sel = Seq.empty[(String, String, Long)]
      var done = false
      while (!done) {
        val ranked = counts.orderBy(col("total").desc, col("a"), col("b"))
          .limit(limit).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        sel = selectDisjoint(ranked, want)
        // a short prefix proves completeness: we saw the whole pool
        if (sel.size == want || ranked.size < limit) done = true
        else limit *= 4
      }
      if (sel.isEmpty) exhausted = true
      else {
        sel.zipWithIndex.foreach { case ((a, b, tot), j) =>
          learned += ((rank, step, j + 1, a, b, tot)); rank += 1
        }
        val bm = spark0.sparkContext.broadcast(
          sel.map { case (a, b, _) => a -> b }.toMap)
        vocab = Materialize.frameLazy(vocab.as[(String, Long, Seq[String])]
          .map { case (t, n, syms) => (t, n, bpeApplyDisjoint(syms.toArray, bm.value).toSeq) }
          .toDF("term", "n", "syms"))
        step += 1
      }
    }
    learned.toSeq.toDF("rank", "step", "slot", "a", "b", "total").orderBy("rank")
  }

  /** c171: the batched trainer KEYED at production shape — byte
    * grain, c163's deterministic md5-bucket training sample, B =
    * [[BpeBatchB]] merges per count pass. The report is the learned
    * merge table with each pair's batch coordinates (step, slot) and
    * total at selection time; the oracle replays every
    * count-select-apply step CTE-for-CTE, the B selection slots
    * unrolled as "first pair disjoint from all earlier slots". */
  def c171BpeBatched(docs: DataFrame, nMerges: Int = BpeMerges,
      batchB: Int = BpeBatchB, trainPct: Int = BpeSampleTrainPct): DataFrame = {
    bpeBatchTrain(trainSample(docs, trainPct), nMerges, batchB, ByteGrain)
  }

  /** Per-term symbol count under a STEPPED merge schedule (one
    * disjoint map per step, applied simultaneously per step in step
    * order) — the batch-trained tokenizer's encode kernel, as
    * [[bpeSymbolCount]] is the sequential list's. */
  private[graft] def bpeSymbolCountBatched(term: String,
      steps: Seq[Map[String, String]], grain: BpeGrain): Int = {
    var syms: Array[String] = grain.symbols(term)
    steps.foreach(m => syms = bpeApplyDisjoint(syms, m))
    syms.length
  }

  /** c172: the COMPRESSION-vs-EXACT audit the batched trainer owes —
    * merge ORDER differs from the exact trainer's by design (that is
    * the whole trade), so parity is the wrong question; what the
    * trade must be priced on is units-per-byte over the FULL corpus.
    * Both trainers run on the SAME c163 sample (exact = c75's
    * sequential argmax, batched = [[bpeBatchTrain]] at B =
    * [[BpeBatchB]]), both merge lists price every document through
    * their own encode kernels off one shared vocabulary pass, and
    * the report is one row per trainer: merges learned, corpus BPE
    * units, corpus bytes, compression. The oracle re-derives both
    * chains and both encodes from raw text. */
  def c172BpeBatchAudit(docs: DataFrame, nMerges: Int = BpeMerges,
      batchB: Int = BpeBatchB, trainPct: Int = BpeSampleTrainPct): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val train = trainSample(docs, trainPct)
    // the audit's cost IS two trainer chains by definition — but they
    // are independent driver loops of tiny jobs, so the batched one
    // runs on its own thread while the exact one runs here: the
    // per-step driver gaps overlap instead of summing
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val fBatched = pool.submit(
      new java.util.concurrent.Callable[Array[(Int, String, String)]] {
        def call(): Array[(Int, String, String)] =
          bpeBatchTrain(train, nMerges, batchB, ByteGrain)
            .select(col("step"), col("a"), col("b")).collect()
            .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      })
    val exact = c75BpeTrain(train, nMerges, ByteGrain)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val batchedRows = try fBatched.get() finally pool.shutdown()
    val steps = batchedRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => r._2 -> r._3).toMap }
    val nBatched = batchedRows.length.toLong
    val nExact = exact.length.toLong
    val bc = spark0.sparkContext.broadcast((exact, steps))
    val vocabSyms = tfRows(docs).select(col("term")).distinct().as[String]
      .map { t =>
        val (ex, st) = bc.value
        (t, bpeSymbolCount(t, ex, ByteGrain).toLong,
          bpeSymbolCountBatched(t, st, ByteGrain).toLong)
      }
      .toDF("term", "n_exact", "n_batched")
    val tot = tfRows(docs).join(vocabSyms, Seq("term"))
      .agg(sum(col("tf") * octet_length(col("term"))).as("n_bytes"),
        sum(col("tf") * col("n_exact")).as("u_exact"),
        sum(col("tf") * col("n_batched")).as("u_batched"))
    tot.select(lit("batched").as("trainer"), lit(nBatched).as("n_merges"),
        col("u_batched").as("n_units"), col("n_bytes"))
      .union(tot.select(lit("exact"), lit(nExact), col("u_exact"), col("n_bytes")))
      .withColumn("compression",
        when(col("n_bytes") > 0,
          round(col("n_units").cast("double") / col("n_bytes"), 4)))
      .orderBy("trainer")
  }

  /** c179's batch widths. B=1 is the exact sequential trainer (the
    * sweep's own baseline row); B=8 selects the whole default merge
    * budget in ONE count pass. Oracle-interpolated (one unrolled
    * chain per width). */
  val BpeSweepBs: Seq[Int] = Seq(1, 2, 4, 8)

  /** c179: the BATCH-WIDTH SWEEP — the dial c171 fixes at B=4,
    * priced across the whole range a deployment would tune over:
    * for each B, the batched trainer runs on the SAME c163 sample
    * (B=1 degenerating to c75's exact argmax — the baseline row is
    * IN the sweep) and its merge list prices the FULL corpus through
    * the stepped encode kernel, all widths' encodes off ONE shared
    * vocabulary pass. One row per B: merges learned, count passes
    * actually run (the step cost a 32k-merge production vocabulary
    * divides by B), corpus BPE units/bytes, compression. The
    * measured trade the c172 audit pins at one point, as a curve:
    * step count falls ∝ 1/B while compression degrades only as far
    * as slot-disjointness defers conflicting pairs — the table a
    * deployment reads to pick B before committing 32k merges to it. */
  def c179BpeBatchSweep(docs: DataFrame, nMerges: Int = BpeMerges,
      bs: Seq[Int] = BpeSweepBs, trainPct: Int = BpeSampleTrainPct): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val train = trainSample(docs, trainPct)
    // the four widths' trainer loops are independent driver loops of
    // tiny jobs (the profiled cost is inter-job driver gaps, not
    // executor time) — run them as CONCURRENT actions so the gaps
    // overlap (Materialize.frames' discipline applied to the sweep;
    // result order stays bs-order via the future list)
    val learnedPerB = Materialize.concurrently(bs) { b =>
      val rows = bpeBatchTrain(train, nMerges, b, ByteGrain)
        .select(col("step"), col("a"), col("b")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      val steps = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, g) => g.map(r => r._2 -> r._3).toMap }
      (b, rows.length.toLong, steps.length.toLong, steps)
    }
    val bc = spark0.sparkContext.broadcast(learnedPerB.map(r => (r._1, r._4)))
    val vocabSyms = tfRows(docs).select(col("term")).distinct().as[String]
      .flatMap { t =>
        bc.value.map { case (b, steps) =>
          (t, b.toLong, bpeSymbolCountBatched(t, steps, ByteGrain).toLong)
        }
      }
      .toDF("term", "batch_b", "n_syms")
    val enc = tfRows(docs).join(vocabSyms, Seq("term"))
      .groupBy("batch_b")
      .agg(sum(col("tf") * octet_length(col("term"))).as("n_bytes"),
        sum(col("tf") * col("n_syms")).as("n_units"))
    learnedPerB.map(r => (r._1.toLong, r._2, r._3))
      .toDF("batch_b", "n_merges", "n_steps")
      .join(enc, Seq("batch_b"))
      .withColumn("compression",
        when(col("n_bytes") > 0,
          round(col("n_units").cast("double") / col("n_bytes"), 4)))
      .select("batch_b", "n_merges", "n_steps", "n_units", "n_bytes",
        "compression")
      .orderBy("batch_b")
  }

  /** c57/c76's per-doc pricing under an explicit RANK-ORDERED merge
    * list — one spelling shared by the in-session encode (c76) and
    * the stored-artifact encode (c83), so the shipped tokenizer
    * cannot drift from the trainer's. Grain-parameterized: `n_chars`
    * is the grain's own mass (code points / UTF-8 bytes), so
    * `compression` is units-per-char or units-per-byte accordingly. */
  private[graft] def encodeUnderMerges(docs: DataFrame,
      merges: Array[(String, String)], grain: BpeGrain = CharGrain): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val bc = spark0.sparkContext.broadcast(merges)
    val vocabSyms = tfRows(docs).select(col("term")).distinct().as[String]
      .map(t => (t, bpeSymbolCount(t, bc.value, grain).toLong))
      .toDF("term", "n_syms")
    tfRows(docs).join(vocabSyms, Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * grain.massOf(col("term"))).as("n_chars"),
        sum(col("tf") * col("n_syms")).as("n_bpe_tokens"))
      .withColumn("compression",
        when(col("n_chars") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_chars"), 4)))
      .orderBy("doc_id")
  }

  /** c83: the STORED tokenizer — c79's artifact discipline applied to
    * the trained BPE (DEPLOY.md's standing prescription "a production
    * tokenizer ships its merge table as a broadcast file", now a
    * keyed operator instead of prose): c75's iterative trainer runs
    * ONCE per (session, corpus) and writes its rank-ordered merge
    * list as a parquet artifact; encoding then reads the STORED
    * list — the bounded artifact collect replaces the in-session
    * training run, and the greedy kernel is [[encodeUnderMerges]],
    * the exact spelling c76 prices. Output ≡ c76 row-for-row (same
    * corpus, same learned list, same kernel), so the oracle is c76's
    * SQL verbatim — the hash check proves the persisted tokenizer
    * loses nothing against the in-session one. */
  def c83StoredTokenizer(spark: org.apache.spark.sql.SparkSession, dir: String,
      nMerges: Int = BpeMerges): DataFrame = {
    // memoized: the stored tokenizer's full-corpus encode is the count
    // source EVERY packing/billing consumer prices in (c86/c94/c98/
    // c101/c111 chain/c124/c132/c146/c152...) — one artifact encode per
    // (session, corpus, merge budget) instead of a vocabSyms+join+agg
    // chain per query. The frame ends in its own total ORDER BY
    // doc_id, so the keyed read and every re-aggregating consumer see
    // identical rows.
    val docs = graft.sources.Tables.documents(spark, dir)
    SessionMemo.frame(s"c83_encode_$nMerges", docs)(Materialize.frame(
      encodeUnderMerges(docs, storedMerges(spark, dir, nMerges))))
  }

  /** The stored tokenizer's rank-ordered merge list — c83's artifact
    * load factored out so door-side consumers (the c126 budget gate)
    * ship the SAME list the batch encode prices with. */
  private[graft] def storedMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String, nMerges: Int = BpeMerges): Array[(String, String)] = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val root = SessionMemo.store(spark, s"c83_tokenizer_$dir") { r =>
      c75BpeTrain(docs, nMerges)
        .write.mode("overwrite").parquet(s"$r/merges")
    }
    spark.read.parquet(s"$root/merges")
      .orderBy("rank").select(col("a"), col("b")).collect()
      .map(r => (r.getString(0), r.getString(1)))
  }

  /** c132: tokenizer FERTILITY by (lang, source) — the fairness/
    * billing audit a multilingual pipeline runs against its shipped
    * tokenizer: tokens-per-character by language and source. A
    * tokenizer trained on a skewed mixture over-fragments the
    * under-represented languages (high fertility = more tokens for
    * the same text = that language pays more context budget per
    * character and trains on fewer effective documents per token
    * budget) — this table is the evidence, read next to c61's
    * language mixture and c92's holdout audit before re-training
    * with a re-balanced c30 mixture. Counts are the STORED
    * tokenizer's (c83's artifact — the deployment prices against
    * what it ships, not a per-query retrain).
    *
    * Shape: the tokenizer artifact + one doc-grain join (counts are
    * doc-keyed, co-partitioned) + one (lang, source) rollup —
    * report-sized output, no new shuffle class. */
  def c132Fertility(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("chars"))
      .join(graft.operators.Sampling.storedTokCounts(spark, dir), Seq("doc_id"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("n_chars"),
        sum(col("n_tok")).as("n_tok"))
      .withColumn("chars_per_tok",
        round(col("n_chars").cast("double") / col("n_tok"), 4))
      .withColumn("toks_per_100ch",
        round(col("n_tok") * lit(100.0) / col("n_chars"), 4))
      .orderBy("lang", "source")
  }

  /** Per-doc BPE token counts over a BATCH frame (doc_id, text) under
    * an explicit merge list — the door-side twin of
    * [[encodeUnderMerges]]'s count column: batch-direct (tfRowsDirect,
    * no corpus memo), same greedy kernel, so a doc is priced
    * identically at the door and at rest. */
  private[graft] def bpeCountsDirect(batch: DataFrame,
      merges: Array[(String, String)]): DataFrame = {
    val spark0 = batch.sparkSession
    import spark0.implicits._
    val bc = spark0.sparkContext.broadcast(merges)
    tfRowsDirect(batch)
      .select(col("doc_id"), col("term"), col("tf"))
      .as[(Long, String, Long)]
      .map { case (d, t, tf) => (d, tf * bpeSymbolCount(t, bc.value)) }
      .toDF("doc_id", "toks")
      .groupBy("doc_id")
      .agg(sum(col("toks")).as("n_tok"))
  }

  // ---- c39: DSIR importance scoring -----------------------------------

  /** c39: data selection via importance resampling (DSIR, Xie et al.
    * 2023) — score every raw document by how much more likely its
    * tokens are under the TARGET domain's unigram model than under
    * the raw corpus's own: mean per-token log-likelihood ratio
    * log10 p_tgt(t) − log10 p_raw(t), add-1 smoothed over the joint
    * vocabulary. The target is the deterministic ~1% benchmark slice
    * (c20/c35's discipline — "find me more data that looks like
    * this"); the top-k ranked docs are what a targeted-pretraining
    * pipeline would admit. c31 scores fluency under ONE corpus-wide
    * model; c39 is the two-model CONTRAST that steers selection
    * toward a domain.
    *
    * Shape: both unigram tables reduce off the shared [[tfRows]]
    * memo (vocabulary-sized — at 100 TB still ≪ corpus, AQE
    * broadcasts them), the joint vocab is materialized once for its
    * two consumers (totals + score join), totals ride a 1-row
    * broadcast, and the scoring pass is one term join + one per-doc
    * aggregate. Mean (not sum) keeps the score length-unbiased;
    * round(·,4) before the rank, c17's discipline. */
  def c39DsirSelection(docs: DataFrame, k: Int = 50): DataFrame = {
    val tf = tfRows(docs)
    val isTgt = col("doc_id") % 97 === 0
    val tgtU = tf.filter(isTgt).groupBy("term").agg(sum(col("tf")).as("c_tgt"))
    val rawTf = tf.filter(!isTgt)
    val rawU = rawTf.groupBy("term").agg(sum(col("tf")).as("c_raw"))
    val vocab = Materialize.frame(
      tgtU.join(rawU, Seq("term"), "full")
        .select(col("term"),
          coalesce(col("c_tgt"), lit(0L)).as("c_tgt"),
          coalesce(col("c_raw"), lit(0L)).as("c_raw")))
    val totals = vocab.agg(
      sum(col("c_tgt")).as("n_tgt"), sum(col("c_raw")).as("n_raw"),
      count(lit(1)).as("v"))
    rawTf.join(vocab, Seq("term"))
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_tokens"),
        round(sum(col("tf").cast("double")
            * (log10((col("c_tgt") + 1).cast("double") / (col("n_tgt") + col("v")))
              - log10((col("c_raw") + 1).cast("double") / (col("n_raw") + col("v")))))
          / sum(col("tf")), 4).as("mean_llr"))
      .orderBy(col("mean_llr").desc, col("doc_id"))
      .limit(k)
  }

  // ---- c44: Zipf / lexical-diversity report ---------------------------

  /** c44's head depth: the per-source frequency ranks the Zipf fit
    * and head-mass share read. Oracle-interpolated. */
  val ZipfTopK = 100

  /** c44: per-source lexical-diversity report — the corpus-health
    * view a data-mixing decision reads BEFORE committing a source to
    * the training mix: token/vocabulary volume, type-token ratio,
    * hapax share (high = rich/noisy tail, low = templated), the mass
    * concentrated in the top-[[ZipfTopK]] terms, and the Zipf
    * exponent — the OLS slope of log₁₀(freq) on log₁₀(rank) over the
    * head (natural text sits near −1; templated/generated text bends
    * far off it — Zipf 1949, the classic corpus-QA diagnostic).
    *
    * Shape: one (doc→source) join off the shared [[tfRows]] memo,
    * then everything lives at (source, term) grain — vocabulary-
    * sized, ≪ corpus at 100 TB. The head ranking is a k-bounded
    * window (WindowGroupLimit) and the report is |sources| rows.
    * Doubles are rounded (4dp) AFTER the aggregate, the b20
    * discipline for cross-engine float parity; the slope uses the
    * shared regr_slope definition both engines implement. */
  def c44ZipfDiversity(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = tfRows(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source", "term").agg(sum(col("tf")).as("freq"))
    val base = st.groupBy("source").agg(
      sum(col("freq")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("hapax"))
    val w = Window.partitionBy(col("source")).orderBy(col("freq").desc, col("term"))
    val head = st.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ZipfTopK)
      .groupBy("source").agg(
        sum(col("freq")).as("head_mass"),
        regr_slope(log10(col("freq")), log10(col("rank"))).as("slope"))
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    nDocs.join(base, Seq("source")).join(head, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        round(col("vocab") / col("n_tokens"), 4).as("ttr"),
        round(col("hapax") / col("vocab"), 4).as("hapax_frac"),
        round(col("head_mass") / col("n_tokens"), 4).as("head_mass_frac"),
        round(col("slope"), 4).as("zipf_slope"))
      .orderBy("source")
  }

  // ---- c46: bigram LM scoring -----------------------------------------

  /** c46: conditional bigram log-probability scoring — c31's fluency
    * filter one Markov order up: per document, the mean
    * log₁₀ p(wᵢ | wᵢ₋₁) under add-1-smoothed conditional estimates
    * counted from the corpus itself (p(b|a) = (C(ab)+1)/(C(a·)+V)).
    * A unigram model scores vocabulary; the bigram model scores word
    * ORDER — shuffled or templated text that c31 cannot tell from
    * fluent prose drops here (the CCNet/KenLM filter family's actual
    * signal). Scoring the counting corpus means every scored bigram
    * is seen; add-1 keeps the model proper (and is what makes the
    * held-out spelling of the same operator well-defined).
    *
    * Shape: the corpus-grain work is the shared bigram memo (c19/
    * c21's kernel, paid once per session); counts live at bigram
    * grain (vocabulary-bounded), the context marginal C(a·) reduces
    * off the bigram table (never a second corpus pass), V rides a
    * 1-row broadcast with the totals, and scoring is one bigram join
    * + one per-doc aggregate. Docs with <2 tokens have no bigram
    * evidence and are absent by construction (c31 covers the
    * unigram grain for those). */
  def c46BigramLogprob(docs: DataFrame): DataFrame = {
    val db = bigramCounts(docs)
    val cb = Materialize.frame(
      db.groupBy("bigram").agg(sum(col("k")).as("cab"))
        .withColumn("ctx", substring_index(col("bigram"), " ", 1)))
    val cx = cb.groupBy("ctx").agg(sum(col("cab")).as("cctx"))
    val v = tfRows(docs).agg(countDistinct(col("term")).as("vsz"))
    db.join(cb, Seq("bigram"))
      .join(cx, Seq("ctx"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(
        sum(col("k")).as("n_bigrams"),
        round(sum(col("k").cast("double")
            * log10((col("cab") + 1).cast("double") / (col("cctx") + col("vsz"))))
          / sum(col("k")), 4).as("mean_logprob"))
      .orderBy("doc_id")
  }

  // ---- c50: the batch curation funnel ---------------------------------

  /** c50's contamination drop bar (fraction of a doc's distinct
    * shingles found in the benchmark set, rounded before comparison).
    * Oracle-interpolated. */
  val FunnelContamBar = 0.2

  /** Per-doc funnel decision, first-fail in gate order — the ONE
    * spelling the report aggregates and specs compare against the
    * chained streaming gates. Population = non-benchmark docs (the
    * ~1% doc_id slice is the EVAL set, never training data).
    * qreason computes INLINE in the population projection (the
    * benched c50 path stays one corpus pass); the DAG's
    * stored-reasons variant is [[funnelDecisionsFrom]]. */
  private[graft] def funnelDecisions(docs: DataFrame): DataFrame =
    // memoized like the shingle/tf kernels: nine keyed consumers
    // (c50/c90/c98/c101/c105→c111 chain/c117/c124/c129/c139's vintage)
    // all read the SAME per-doc decision frame — one funnel pass per
    // (session, corpus) instead of one per query. Doc-grain narrow
    // rows (doc_id, stage); consumers aggregate or join, none depends
    // on this frame's row order.
    SessionMemo.frame("funnel_decisions", docs)(Materialize.frame(
      funnelStages(docs,
        docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("h"),
            curationReasonOf(col("text")).as("qreason")))))

  /** The ROW-LOCAL leg of the funnel: each doc's quality-cascade
    * verdict, a pure per-row function of its text — the one stage a
    * warehouse can materialize incrementally (pay per doc ONCE,
    * [[graft.MartRunner.curationDagFrom]]'s keyed mart) because no
    * later ingest can change it, unlike the duplicate/contaminated
    * stages, which are corpus-grain by nature. */
  private[graft] def qualityReasons(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), curationReasonOf(col("text")).as("qreason"))

  /** [[funnelDecisions]] over an INJECTED reasons frame — the
    * curation DAG passes its materialized `quality_reasons` mart here
    * so the stored row-local verdicts are never recomputed; `reasons`
    * may cover more docs than the population (the benchmark slice is
    * stored too), the inner join scopes it. Only this variant pays a
    * doc_id join for the reasons — the inline path doesn't. */
  private[graft] def funnelDecisionsFrom(docs: DataFrame, reasons: DataFrame): DataFrame =
    funnelStages(docs,
      docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(reasons, Seq("doc_id")))

  /** The corpus-grain stages over a prepared population frame
    * (doc_id, h, qreason) — one spelling for both reason sources. */
  private def funnelStages(docs: DataFrame, popReasons: DataFrame): DataFrame = {
    val pop = docs.filter(col("doc_id") % 97 =!= 0)
    val keepDoc = pop.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_doc"))
    val sh = Dedup.docShingles8(docs)
    val bench = sh.filter(col("doc_id") % 97 === 0).select(col("sh8")).distinct()
    val contam = sh.filter(col("doc_id") % 97 =!= 0)
      .join(bench.withColumn("hit", lit(1L)), Seq("sh8"), "left")
      .groupBy("doc_id")
      .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)), 4)
        .as("contam"))
    popReasons
      .join(keepDoc, Seq("h"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keep_doc"), lit("duplicate"))
          .when(coalesce(col("contam"), lit(0.0)) >= FunnelContamBar, lit("contaminated"))
          .otherwise(col("qreason")).as("stage"))
  }

  /** c124: the per-source ACQUISITION YIELD — the table a data team
    * reads when deciding where the next crawl dollar goes: per
    * source, how much of its raw token mass actually survives into
    * the training budget. Composes the pipeline's own stages in
    * execution order: the c50 funnel decides keeps (exact dedup →
    * contamination → quality cascade), the stored tokenizer (c83's
    * artifact) prices raw and kept mass in BPE tokens (the billing
    * grain c86/c98 budget in), and span dedup (c33/c34) runs over
    * the KEPT corpus — cuts are priced at their native whitespace
    * grain (ws_cut / ws_kept), with `bpe_net_est` the explicit
    * proportional estimate bpe_kept − (bpe_kept·ws_cut) div ws_kept
    * (exact integer arithmetic both engines; an ESTIMATE because
    * span cuts are ws-grain ranges, honestly named). yield_frac =
    * net / raw is the acquisition signal: a high-keep low-yield
    * source is duplication-bound (c112's repeat table says whether
    * it's also repeat-bound), a low-keep source is quality-bound.
    *
    * Shape: the funnel + tokenizer memos are session-paid; the span
    * chain runs once over the kept subset (capped postings — c33's
    * bounds); the rollup is one source-grain aggregate over doc-grain
    * joins. Population = the funnel's own (benchmark slice
    * excluded), so every number reconciles with c50/c98. */
  def c124SourceYield(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val pop = docs.filter(col("doc_id") % 97 =!= 0)
    val keeps = funnelDecisions(docs).filter(col("stage") === "keep").select("doc_id")
    // the kept sub-corpus is a stable function of the corpus — memoize
    // it so the span chain below gets a STABLE memo key (a per-call
    // localCheckpoint plan would miss c34's span memo every call and
    // leak one dead entry per run)
    val kept = SessionMemo.frame("funnel_kept_docs", docs)(
      Materialize.frame(docs.join(keeps, Seq("doc_id"))))
    val tok = graft.operators.Sampling.storedTokCounts(spark, dir)
    val ws = kept.select(col("doc_id"),
      size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("ws"))
    val cuts = Dedup.c34SpanCuts(kept).select(col("doc_id"), col("cut_tokens"))
    pop.select(col("doc_id"), col("source"))
      .join(tok, Seq("doc_id"))
      .join(keeps.withColumn("kept", lit(true)), Seq("doc_id"), "left")
      .join(ws, Seq("doc_id"), "left")
      .join(cuts, Seq("doc_id"), "left")
      .select(col("source"), col("n_tok"),
        coalesce(col("kept"), lit(false)).as("kept"),
        coalesce(col("ws"), lit(0L)).as("ws"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tok")).as("bpe_raw"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("bpe_kept"),
        sum(col("ws")).as("ws_kept"),
        sum(col("cut")).as("ws_cut"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 4).as("keep_rate"),
        col("bpe_raw"), col("bpe_kept"), col("ws_kept"), col("ws_cut"),
        when(col("ws_kept") > 0,
          round(col("ws_cut").cast("double") / col("ws_kept"), 4)).as("cut_frac"),
        (col("bpe_kept") - when(col("ws_kept") > 0,
          expr("(bpe_kept * ws_cut) div ws_kept")).otherwise(lit(0L))).as("bpe_net_est"))
      .withColumn("yield_frac",
        round(col("bpe_net_est").cast("double") / col("bpe_raw"), 4))
      .orderBy("source")
  }

  /** c50: the composed batch curation FUNNEL — the end-to-end
    * decision a training-data pipeline executes per document, in the
    * exact order the three live gates run it (NearDupStream /
    * DecontamStream / CurationStream's quality cascade): benchmark
    * slice excluded from the population → `duplicate` (c1's exact
    * keep-first loses) → `contaminated` (c20's shingle-overlap
    * fraction ≥ bar; docs with no shingle evidence can't be flagged)
    * → the c23 cascade (`too_short`/`non_en`/`repetitive`/
    * `pii_heavy`) → `keep`. First failure wins, so every doc is
    * counted exactly once and the report reads as the funnel's
    * narrowing: (stage_order, stage, n_docs, share).
    *
    * Shape: one hash aggregate for keep-first, the shared shingle
    * memo for the overlap stage, the narrow cascade expression for
    * quality — three report-sized joins at doc grain, no new corpus
    * kernels; share via the 1-row broadcast total ([[shareOfTotal]]),
    * never a second scan. */
  def c50CurationFunnel(docs: DataFrame): DataFrame = {
    val order = when(col("stage") === "duplicate", 1L)
      .when(col("stage") === "contaminated", 2L)
      .when(col("stage") === "too_short", 3L)
      .when(col("stage") === "non_en", 4L)
      .when(col("stage") === "repetitive", 5L)
      .when(col("stage") === "pii_heavy", 6L)
      .otherwise(7L)
    shareOfTotal(
      funnelDecisions(docs).groupBy("stage").agg(count(lit(1)).as("n_docs")),
      "n_docs", "share")
      .withColumn("stage_order", order)
      .select("stage_order", "stage", "n_docs", "share")
      .orderBy("stage_order")
  }

  // ---- c52: token-entropy signal --------------------------------------

  /** c52: per-document token-distribution entropy — the information-
    * theoretic quality probe the heuristic family (c9/c21/c41)
    * approximates from the other side: H = −Σ p·log₂p over the doc's
    * term distribution, plus its ratio to the maximum possible
    * (log₂ vocab). Near-zero normalized entropy = a few terms
    * dominate (boilerplate/spam, c21's signal at distribution
    * grain); ≈1 with a large vocab = natural prose or pure noise —
    * the standard compression-proxy filter cut from both ends.
    *
    * Shape: one map-side-combinable per-doc aggregate off the shared
    * [[tfRows]] memo — H = log₂n − (Σ tf·log₂tf)/n, so the whole
    * signal is two sums, no per-term probability column. Rounded
    * AFTER the aggregate (4dp); single-term docs have zero entropy
    * and a NULL ratio (log₂1 = 0 denominator — no defined scale). */
  def c52TokenEntropy(docs: DataFrame): DataFrame = {
    val sig = tfRows(docs).groupBy("doc_id").agg(
      sum(col("tf")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(col("tf").cast("double") * log2(col("tf"))).as("tlt"))
    // vocab = 1 is pinned to literal 0.0 on BOTH engines: the raw
    // binary64 H is a ~1e-16 residual whose SIGN the engines round
    // differently (Spark round gives +0.0, DuckDB -0.0 — hash-
    // distinct values); every vocab ≥ 2 doc has true H ≥ ~log₂n/n,
    // orders above the residual, so only the degenerate needs the pin
    sig.select(col("doc_id"), col("n_tokens"), col("vocab"),
        when(col("vocab") === 1L, lit(0.0))
          .otherwise(round(log2(col("n_tokens")) - col("tlt") / col("n_tokens"), 4))
          .as("entropy"),
        when(col("vocab") > 1L,
          round((log2(col("n_tokens")) - col("tlt") / col("n_tokens")) / log2(col("vocab")), 4))
          .as("entropy_ratio"))
      .orderBy("doc_id")
  }

  // ---- c48: model-based quality classifier ----------------------------

  /** c48's logistic weights over the five signals (log-words, mean
    * word length, alpha fraction, stopword fraction, distinct
    * ratio) and the admission threshold. Pinned constants standing
    * in for an offline-trained model (the GPT-3/LLaMA-family
    * quality classifier is a linear model over exactly this kind of
    * signal vector); the oracle interpolates all of them. */
  val QcWLogWords = 0.8
  val QcWMeanLen = 0.35
  val QcWAlpha = 2.0
  val QcWStop = 3.0
  val QcWDistinct = 1.5
  val QcBias = -4.0
  val QcThreshold = 0.5

  /** c48: model-based quality filtering — the third member of the
    * quality family: c9 scores a hand-tuned composite, c41 fires a
    * published rule battery, c48 runs the CLASSIFIER shape the
    * GPT-3/LLaMA pipelines actually deploy (a logistic model over
    * per-doc signals, admission by calibrated threshold). Weights
    * are pinned constants (the offline trainer is deployment
    * machinery); the operator's contract is the signal extraction +
    * deterministic scoring, with every signal disclosed for audit
    * (c41's discipline).
    *
    * Shape: all five signals are functions of the TERM, so the whole
    * feature vector reduces off the shared [[tfRows]] memo in one
    * map-side-combinable aggregate — zero extra corpus passes.
    * Determinism: each signal is ROUNDED (4dp) before the dot
    * product, the dot product is spelled in one fixed order, and the
    * score is rounded before the threshold — the branch taken is
    * engine-exact (exp noise lives ~10 orders below the 4dp grid). */
  def c48QualityClassifier(docs: DataFrame): DataFrame = {
    val sig = qcSignals(docs)
    val z = lit(QcWLogWords) * round(log10(col("n_words")), 4) +
      lit(QcWMeanLen) * col("mean_word_len") +
      lit(QcWAlpha) * col("alpha_frac") +
      lit(QcWStop) * col("stop_frac") +
      lit(QcWDistinct) * col("distinct_ratio") +
      lit(QcBias)
    sig
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-z)), 4))
      .withColumn("keep", when(col("score") >= QcThreshold, 1L).otherwise(0L))
      .select("doc_id", "n_words", "mean_word_len", "alpha_frac", "stop_frac",
        "distinct_ratio", "score", "keep")
      .orderBy("doc_id")
  }

  /** c48's five-signal extraction — ONE spelling shared by the
    * shipped classifier (pinned weights), the c88 trainer, and the
    * c89 stored-classifier scorer, so the feature definition cannot
    * drift between training and serving (the classic deployment
    * skew). One map-side-combinable aggregate off the [[tfRows]]
    * memo. */
  private[operators] def qcSignals(docs: DataFrame): DataFrame =
    qcSignalsFrom(tfRows(docs))

  /** The five-signal aggregate over an explicit (doc, term, tf) frame
    * — the ONE spelling [[qcSignals]] (corpus, memoized kernel) and
    * the live student gate (micro-batch, [[tfRowsDirect]]) share. */
  private[graft] def qcSignalsFrom(tf: DataFrame): DataFrame = {
    val isAlpha = col("term").rlike("^[a-z]+$")
    tf.groupBy("doc_id").agg(
      sum(col("tf")).as("n_words"),
      round(sum(col("tf") * length(col("term"))).cast("double") / sum(col("tf")), 4)
        .as("mean_word_len"),
      round(sum(when(isAlpha, col("tf")).otherwise(0L)).cast("double") / sum(col("tf")), 4)
        .as("alpha_frac"),
      round(sum(when(col("term").isin(TextFns.EnMarkers: _*), col("tf")).otherwise(0L))
        .cast("double") / sum(col("tf")), 4).as("stop_frac"),
      round(count(lit(1)).cast("double") / sum(col("tf")), 4).as("distinct_ratio"))
  }

  // ---- c88/c89: classifier TRAINING + the stored-classifier artifact --

  /** c88 training schedule: full-batch logistic gradient descent,
    * [[QcTrainSteps]] steps at learning rate [[QcTrainLr]]. The rate
    * sits under the logistic stability bound 2/(0.25·max‖x‖²) for
    * this feature scale (mean word length ~6 dominates: bound ≈ 0.22),
    * so the loss is monotone-stable rather than oscillating. Both
    * constants oracle-interpolated. */
  val QcTrainSteps = 10
  val QcTrainLr = 0.1

  /** Feature/weight order — the fixed dot-product spelling every
    * scorer and both engines share. */
  private[operators] val QcFeatNames: Seq[String] =
    Seq("w_log_words", "w_mean_len", "w_alpha", "w_stop", "w_distinct", "bias")

  /** The (features, teacher) training frame: c48's five signals
    * (log-words pre-rounded like c48's dot product) joined to the
    * Gopher battery's keep verdict — the standard distillation move
    * (GPT-3/LLaMA-family pipelines train their quality classifier on
    * labels a cheaper heuristic produced; here the published rule
    * battery is the teacher and the logistic model the student).
    * Materialized once per (session, corpus): the trainer re-scans a
    * doc-grain frame of 7 narrow columns per step, never the corpus. */
  private def qcTrainFrame(docs: DataFrame): DataFrame =
    SessionMemo.frame("qc_train", docs)(Materialize.frame(
      qcFeaturesFrom(qcSignals(docs))
        .join(gopherFrame(docs).select(col("doc_id"), col("keep").cast("double").as("y")),
          Seq("doc_id"))))

  /** The fixed x0..x4 projection off a signals frame — ONE spelling
    * for the training frame and the live student gate (x0 pre-rounded
    * like c48's dot product). */
  private def qcFeaturesFrom(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      round(log10(col("n_words")), 4).as("x0"),
      col("mean_word_len").as("x1"),
      col("alpha_frac").as("x2"),
      col("stop_frac").as("x3"),
      col("distinct_ratio").as("x4"))

  /** The stored classifier's six e6 weights, loaded from the c88
    * artifact — factored out of [[c89StoredClassifier]] so the live
    * student gate (c96) reads the SAME artifact once per session. */
  private[graft] def storedClassifierWeights(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Long] = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val wE6 = spark.read.parquet(s"${classifierRoot(spark, docs, dir)}/weights")
      .orderBy("idx").collect().map(_.getLong(2))
    require(wE6.length == 6, s"classifier artifact must hold 6 weights, got ${wE6.length}")
    wE6
  }

  /** The live STUDENT quality gate's per-batch reasons frame
    * (doc_id, text, qreason) — the stored classifier's verdict in the
    * funnel's stage-1 shape: score every batch doc under the artifact
    * weights through the shared signal/feature/dot-product spellings
    * ([[tfRowsDirect]] → [[qcSignalsFrom]] → [[qcFeaturesFrom]] →
    * [[qcZ]] — batch-direct, no corpus memo), `low_quality` below
    * [[QcThreshold]]. */
  private[graft] def studentQualityReasons(batch: DataFrame,
      wE6: Array[Long]): DataFrame = {
    val w = wE6.map(_.toDouble / 1e6)
    val verdict = qcFeaturesFrom(qcSignalsFrom(tfRowsDirect(batch)))
      .select(col("doc_id"),
        when(round(lit(1.0) / (lit(1.0) + exp(-qcZ(w))), 4) < QcThreshold,
          lit("low_quality")).otherwise(lit("keep")).as("qreason"))
    batch.select(col("doc_id"), col("text")).join(verdict, Seq("doc_id"))
  }

  /** The fixed-order logistic input under weights `w` (binary64,
    * e6-exact): one spelling for trainer scoring and c89 serving. */
  private def qcZ(w: Array[Double]): Column =
    lit(w(0)) * col("x0") + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4") + lit(w(5))

  /** Run the trainer: returns (trajectory, final weights), both in e6
    * integer units. Trajectory row i = the weights AFTER i update
    * steps plus how many docs those weights classify like the
    * teacher. Determinism contract (the c26/c64/c75 discipline): the
    * per-doc probability is rounded to the tier's 4dp grain BEFORE
    * the gradient, each per-doc contribution (p−y)·xⱼ is rounded to
    * an EXACT e6 integer inside the aggregate (order-independent
    * sums at any corpus size and partitioning), and the weight update
    * rounds lr·mean(g) back to e6 half-away-from-zero — so every
    * weight at every step is the same 64-bit integer on any engine,
    * and the oracle replays the loop CTE-for-CTE. Per step: ONE
    * map-side-combinable aggregate over the memoized training frame
    * and a 1-row collect (the c75 pattern) — at 100 TB the trainer
    * costs [[QcTrainSteps]] scans of a 7-column doc-grain frame. */
  private[operators] def trainQualityClassifier(docs: DataFrame,
      steps: Int = QcTrainSteps): (Seq[(Long, Long, Long, Long, Long, Long, Long, Long)], Array[Long]) = {
    val t = qcTrainFrame(docs)
    val wE6 = Array.fill(6)(0L)
    val traj = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long, Long)]
    var step = 0
    while (step <= steps) {
      val w = wE6.map(_.toDouble / 1e6)
      val p4 = round(lit(1.0) / (lit(1.0) + exp(-qcZ(w))), 4)
      val err = p4 - col("y")
      val xs = Seq(col("x0"), col("x1"), col("x2"), col("x3"), col("x4"), lit(1.0))
      val row = t.select(
          xs.zipWithIndex.map { case (x, j) =>
            round(err * x * lit(1000000.0), 0).cast("long").as(s"g$j")
          } :+
          when((p4 >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L).as("ok"): _*)
        .agg(sum(col("g0")).as("g0"),
          (1 to 5).map(j => sum(col(s"g$j")).as(s"g$j")) :+
            sum(col("ok")).as("ok") :+ count(lit(1)).as("n"): _*)
        .collect()(0)
      traj += ((step.toLong, wE6(0), wE6(1), wE6(2), wE6(3), wE6(4), wE6(5),
        row.getLong(6)))
      if (step < steps) {
        val n = row.getLong(7)
        var j = 0
        while (j < 6) {
          val meanStep = QcTrainLr * (row.getLong(j).toDouble / n)
          wE6(j) -= BigDecimal(meanStep)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
          j += 1
        }
      }
      step += 1
    }
    (traj.toSeq, wE6)
  }

  /** One trainer run per (session, corpus), persisted as parquet
    * artifacts (c79/c83's discipline applied to the classifier — the
    * third trained component to ship its artifact): `trajectory`
    * (step, six e6 weights, n_correct) and `weights` (idx, feature,
    * w_e6). c88 reads the trajectory, c89 serves off the weights. */
  private def classifierRoot(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, dir: String): String =
    SessionMemo.store(spark, s"c88_classifier_$dir") { r =>
      val (traj, wE6) = trainQualityClassifier(docs)
      import spark.implicits._
      traj.toDF("step", "w0_e6", "w1_e6", "w2_e6", "w3_e6", "w4_e6", "w5_e6",
          "n_correct")
        .coalesce(1).write.mode("overwrite").parquet(s"$r/trajectory")
      wE6.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, QcFeatNames(i), v) }
        .toDF("idx", "feature", "w_e6")
        .coalesce(1).write.mode("overwrite").parquet(s"$r/weights")
    }

  /** c88: quality-classifier TRAINING — closes c48's "weights are
    * pinned constants standing in for an offline trainer" gap the
    * way c75 closed c40's: the logistic model is now LEARNED, by
    * full-batch gradient descent on the c48 feature vector with the
    * Gopher battery (c41, one shared spelling) as the teacher.
    * Report = the training trajectory: per step, the six weights
    * (e6-exact, read back at 6dp) and the teacher-agreement count —
    * the curve a training run is judged by. Step 0 is the zero
    * initialization (p = 0.5 exactly: everything predicted keep), so
    * the trajectory shows what each step buys. Oracle replays every
    * score-gradient-update step CTE-for-CTE off the same integer
    * contract. */
  def c88ClassifierTrain(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val root = classifierRoot(spark, docs, dir)
    spark.read.parquet(s"$root/trajectory")
      .select(col("step"),
        round(col("w0_e6") / 1000000.0, 6).as("w_log_words"),
        round(col("w1_e6") / 1000000.0, 6).as("w_mean_len"),
        round(col("w2_e6") / 1000000.0, 6).as("w_alpha"),
        round(col("w3_e6") / 1000000.0, 6).as("w_stop"),
        round(col("w4_e6") / 1000000.0, 6).as("w_distinct"),
        round(col("w5_e6") / 1000000.0, 6).as("bias"),
        col("n_correct"))
      .orderBy("step")
  }

  /** c89: the STORED classifier serving — score every document under
    * the weights artifact c88's trainer persisted (train once, ship
    * the artifact, serve many: the index (c79) and tokenizer (c83)
    * discipline completing at the classifier). Per doc: the learned
    * score (4dp, c48's grain), the admission bit at the logistic
    * threshold 0.5, the teacher's verdict, and whether they agree —
    * the per-doc distillation audit. Serving cost = one aggregate
    * off the memoized training frame + a 6-row artifact read. */
  def c89StoredClassifier(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val w = storedClassifierWeights(spark, dir).map(_.toDouble / 1e6)
    qcTrainFrame(docs)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-qcZ(w))), 4).as("score"),
        col("y"))
      .withColumn("keep", when(col("score") >= 0.5, 1L).otherwise(0L))
      .select(col("doc_id"), col("score"), col("keep"),
        col("y").cast("long").as("teacher_keep"),
        when(col("keep") === col("y").cast("long"), 1L).otherwise(0L).as("agree"))
      .orderBy("doc_id")
  }

  // ---- c90-c93: classifier consumers + tokenizer generalization -------

  /** c90 stage order for the student-gated funnel (the corpus-grain
    * stages are c50's; the quality cascade collapses to the trained
    * classifier's one verdict). */
  private def c90Order(c: Column): Column =
    when(c === "duplicate", 1L).when(c === "contaminated", 2L)
      .when(c === "too_short", 3L).when(c === "non_en", 4L)
      .when(c === "repetitive", 5L).when(c === "pii_heavy", 6L)
      .when(c === "low_quality", 3L)
      .otherwise(7L)

  /** c90: the STUDENT-gated curation funnel vs the teacher's — the
    * deployment A/B a pipeline runs before swapping its rule battery
    * for the trained classifier: the c50 funnel twice over the same
    * population, once with the c23 cascade as the quality gate
    * (teacher) and once with the c89 stored classifier's verdict
    * (student, `low_quality` on score < [[QcThreshold]]); the report
    * is the doc-grain TRANSITION MATRIX (teacher_stage ×
    * student_stage, n_docs, share) — the off-diagonal mass is exactly
    * what swapping the gate changes, stage by stage. The corpus-grain
    * stages (duplicate/contaminated) are shared spelling and land on
    * the diagonal by construction; only the quality legs can move.
    *
    * Shape: both funnels ride [[funnelDecisionsFrom]]'s injected-
    * reasons path over the SAME shingle/keep-first memos (one
    * evidence build, two report-sized decision frames); the student's
    * reasons come off c89's stored-artifact scoring (one aggregate
    * over the memoized training frame). The matrix is a report-sized
    * doc_id join — ≤ 7×4 output rows. */
  def c90StudentFunnel(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val teacher = funnelDecisions(docs)
      .select(col("doc_id"), col("stage").as("teacher_stage"))
    val studentReasons = c89StoredClassifier(spark, dir)
      .select(col("doc_id"),
        when(col("score") < QcThreshold, lit("low_quality"))
          .otherwise(lit("keep")).as("qreason"))
    // the student's corpus-grain funnel replay is memoized like the
    // teacher's (same dedup/contam stages, classifier verdicts for
    // the quality leg) — c90's report is then two memo reads + one
    // doc-grain join
    val student = SessionMemo.frame("c90_student_funnel", docs)(Materialize.frame(
        funnelDecisionsFrom(docs, studentReasons)))
      .select(col("doc_id"), col("stage").as("student_stage"))
    shareOfTotal(
      teacher.join(student, Seq("doc_id"))
        .groupBy("teacher_stage", "student_stage")
        .agg(count(lit(1)).as("n_docs")),
      "n_docs", "share")
      .select(c90Order(col("teacher_stage")).as("t_order"), col("teacher_stage"),
        c90Order(col("student_stage")).as("s_order"), col("student_stage"),
        col("n_docs"), col("share"))
      .orderBy("t_order", "teacher_stage", "s_order")
  }

  /** c91 geometry: 10 equal-width bins per feature over DECLARED
    * ranges (quantile bins would need a cross-engine percentile
    * contract; fixed ranges make the bin id a pure per-row function).
    * Values outside clamp to the edge bins. Oracle-interpolated. */
  val DriftBins = 10
  private[graft] val DriftRanges: Seq[(String, Double, Double)] = Seq(
    ("x0_log_words", 0.0, 4.0), ("x1_mean_len", 0.0, 10.0),
    ("x2_alpha", 0.0, 1.0), ("x3_stop", 0.0, 1.0), ("x4_distinct", 0.0, 1.0))

  /** c91 PSI smoothing: half the 4dp proportion grain, so an empty
    * bin never divides by zero and the contribution of a bin both
    * slices miss is exactly 0. */
  val DriftEps = 0.0005

  /** c91: classifier FEATURE DRIFT between the training vintage and
    * incoming data — the monitor a deployed c89 needs next to c87's
    * index health: population stability index per input feature,
    * train slice (c13's hash buckets < [[Sampling.SplitTrainPct]] —
    * the vintage the classifier would retrain on) vs the rest
    * (incoming). PSI = Σ_bins (p_in − p_tr)·ln((p_in+ε)/(p_tr+ε))
    * over [[DriftBins]] fixed-width bins, proportions rounded to the
    * tier's 4dp grain BEFORE the log (the round-then-compare
    * discipline — both engines log identical doubles); the standard
    * reading: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted. Report
    * per feature: slice sizes, PSI, and the bin with the largest
    * absolute gap (where to look first).
    *
    * Shape: one explode of the memoized 7-column training frame to
    * (feature, bin) grain — 5 rows per doc, NOT 5 corpus passes —
    * then one count aggregate at (feature, bin, slice) grain (≤100
    * groups) and report-sized window/aggregate math. */
  def c91FeatureDrift(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val bucket = Keys.idBucket(col("doc_id"), 100)
    def binOf(x: Column, lo: Double, hi: Double): Column =
      least(greatest(floor((x - lit(lo)) / lit(hi - lo) * DriftBins), lit(0.0)), lit(DriftBins - 1.0))
        .cast("long")
    val feats = Seq("x0", "x1", "x2", "x3", "x4")
    val sliced = qcTrainFrame(docs)
      .withColumn("slice", when(bucket < Sampling.SplitTrainPct, lit("train"))
        .otherwise(lit("incoming")))
    val binned = sliced
      .select(col("slice"), explode(array(
        DriftRanges.zip(feats).map { case ((fname, lo, hi), x) =>
          struct(lit(fname).as("feature"), binOf(col(x), lo, hi).as("bin"))
        }: _*)).as("fb"))
      .groupBy(col("fb.feature").as("feature"), col("fb.bin").as("bin"), col("slice"))
      .agg(count(lit(1)).as("n"))
    // densify to every (feature, bin) so empty bins contribute their
    // epsilon'd term on both engines identically
    val grid = binned.sparkSession.range(DriftBins).select(col("id").as("bin"))
      .crossJoin(binned.select("feature").distinct())
    // slice totals at DOC grain (the explode is 5 rows per doc)
    val tots = sliced.groupBy("slice").agg(count(lit(1)).as("tot"))
    val props = grid
      .join(binned.filter(col("slice") === "train").drop("slice"), Seq("feature", "bin"), "left")
      .withColumnRenamed("n", "n_tr")
      .join(binned.filter(col("slice") === "incoming").drop("slice")
        .withColumnRenamed("n", "n_in"), Seq("feature", "bin"), "left")
      .crossJoin(broadcast(tots.filter(col("slice") === "train").select(col("tot").as("tot_tr"))))
      .crossJoin(broadcast(tots.filter(col("slice") === "incoming").select(col("tot").as("tot_in"))))
      .select(col("feature"), col("bin"),
        round(coalesce(col("n_tr"), lit(0L)).cast("double") / col("tot_tr"), 4).as("p_tr"),
        round(coalesce(col("n_in"), lit(0L)).cast("double") / col("tot_in"), 4).as("p_in"),
        col("tot_tr"), col("tot_in"))
    val gapRank = org.apache.spark.sql.expressions.Window
      .partitionBy("feature").orderBy(abs(col("p_in") - col("p_tr")).desc, col("bin"))
    props
      .withColumn("gap_rank", row_number().over(gapRank))
      .groupBy("feature")
      .agg(
        max(col("tot_tr")).as("n_train"),
        max(col("tot_in")).as("n_incoming"),
        round(sum((col("p_in") - col("p_tr"))
          * log((col("p_in") + DriftEps) / (col("p_tr") + DriftEps))), 4).as("psi"),
        max(when(col("gap_rank") === 1, col("bin"))).as("max_gap_bin"),
        max(when(col("gap_rank") === 1, round(col("p_in") - col("p_tr"), 4)))
          .as("max_gap"))
      .orderBy("feature")
  }

  /** c92: tokenizer GENERALIZATION on a held-out split — the audit a
    * shipped tokenizer owes the training run: c75's iterative trainer
    * learns its merges on the c13 train buckets ONLY, the stored list
    * then encodes the WHOLE corpus through [[encodeUnderMerges]] (one
    * kernel spelling), and the report compares train vs holdout per
    * split: token mass, tokens/word, compression (BPE tokens per
    * char — the metric merges are trained to minimize), plus the
    * word-level OOV surface (distinct holdout terms the trainer never
    * saw, and their token share). Merges that only help where they
    * were learned show up as a train/holdout compression gap; OOV
    * share bounds how much of the holdout the merge table can even
    * touch. Artifact discipline: the split-trained list persists
    * under its own SessionMemo.store root (it is NOT c83's corpus-trained
    * artifact — different training corpus, different model).
    *
    * Shape: trainer cost is c75's (vocabulary-grain loop over the
    * train slice); encoding is one distinct-term map + the shared
    * [[tfRows]] join; OOV is a vocabulary-grain left join. Report =
    * 2 rows. */
  def c92TokenizerHoldout(spark: org.apache.spark.sql.SparkSession, dir: String,
      nMerges: Int = BpeMerges): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val bucket = Keys.idBucket(col("doc_id"), 100)
    val root = SessionMemo.store(spark, s"c92_tokenizer_$dir") { r =>
      c75BpeTrain(docs.filter(bucket < Sampling.SplitTrainPct), nMerges)
        .write.mode("overwrite").parquet(s"$r/merges")
    }
    val merges = spark.read.parquet(s"$root/merges")
      .orderBy("rank").select(col("a"), col("b")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val split = when(bucket < Sampling.SplitTrainPct, lit("train"))
      .otherwise(lit("holdout")).as("split")
    val trainVocab = tfRows(docs.filter(bucket < Sampling.SplitTrainPct))
      .select(col("term")).distinct().withColumn("seen", lit(1L))
    val perDoc = encodeUnderMerges(docs, merges).select(split, col("n_words"),
      col("n_chars"), col("n_bpe_tokens"))
    val agg = perDoc.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("n_words"),
      sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
      round(sum(col("n_bpe_tokens")).cast("double") / sum(col("n_words")), 4)
        .as("tokens_per_word"),
      round(sum(col("n_bpe_tokens")).cast("double") / sum(col("n_chars")), 4)
        .as("compression"))
    val oov = tfRows(docs).select(split, col("term"), col("tf"))
      .join(trainVocab, Seq("term"), "left")
      .groupBy("split").agg(
        countDistinct(when(col("seen").isNull, col("term"))).as("n_oov_terms"),
        round(sum(when(col("seen").isNull, col("tf")).otherwise(0L)).cast("double")
          / sum(col("tf")), 4).as("oov_token_share"))
    agg.join(oov, Seq("split")).orderBy("split")
  }

  /** c97: the RETRAIN-WHAT-IF audit — c91 detects drift; c97 prices
    * what retraining would change: train the classifier TWICE (the
    * c13 train vintage only, and the full corpus — both through
    * [[trainQualityClassifier]], both artifact-persisted under their
    * own memo roots), score every document under both weight sets,
    * and report the docs whose ADMISSION FLIPS — the production
    * question behind every retrain ticket ("how many gate decisions
    * change, and which way?"). Per doc: both scores (4dp), both keep
    * bits, and the flip direction (`gained`/`lost`/null). The
    * trainer's e6-integer contract makes both weight paths
    * engine-exact, so the flip set is hash-checkable.
    *
    * Shape: two trainer runs (each [[QcTrainSteps]] doc-grain
    * aggregates, session-memoized) + ONE scoring pass (both dot
    * products in the same projection off the memoized frame). */
  def c97ClassifierRefresh(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val vintageRoot = SessionMemo.store(spark, s"c97_vintage_$dir") { r =>
      val (_, wE6) = trainQualityClassifier(trainSample(docs, Sampling.SplitTrainPct))
      import spark.implicits._
      wE6.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("idx", "w_e6").coalesce(1).write.mode("overwrite").parquet(s"$r/weights")
    }
    val wV = spark.read.parquet(s"$vintageRoot/weights")
      .orderBy("idx").collect().map(_.getLong(1)).map(_.toDouble / 1e6)
    val wF = storedClassifierWeights(spark, dir).map(_.toDouble / 1e6)
    qcTrainFrame(docs)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-qcZ(wV))), 4).as("score_vintage"),
        round(lit(1.0) / (lit(1.0) + exp(-qcZ(wF))), 4).as("score_full"))
      .withColumn("keep_vintage",
        when(col("score_vintage") >= QcThreshold, 1L).otherwise(0L))
      .withColumn("keep_full", when(col("score_full") >= QcThreshold, 1L).otherwise(0L))
      .withColumn("flip",
        when(col("keep_vintage") < col("keep_full"), lit("gained"))
          .when(col("keep_vintage") > col("keep_full"), lit("lost"))
          .otherwise(lit(null).cast("string")))
      .orderBy("doc_id")
  }

  /** c102's threshold grid: 0.30 to 0.70 in 0.05 steps — the
    * operating range around the logistic midpoint. Both engines
    * interpolate the same literals. */
  val SweepThresholds: Seq[Double] = (6 to 14).map(_ / 20.0)

  /** c102: the decision-THRESHOLD sweep — c88 fixes the weights; this
    * prices where the cut should sit: for every threshold in
    * [[SweepThresholds]], the stored classifier's keep count, true/
    * false positives and false negatives against the teacher, and
    * precision/recall/agreement (4dp) — the PR curve in rows, the
    * evidence behind moving [[QcThreshold]] (c93's near-0.5 batch is
    * the labeling view of the same uncertainty; this is the
    * operating-point view).
    *
    * Shape: ONE scoring pass off the memoized frame, exploded 9× at
    * doc grain (rows per doc = |grid|, not passes), one ≤9-group
    * aggregate. */
  def c102ThresholdSweep(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val scored = c89StoredClassifier(spark, dir)
      .select(col("doc_id"), col("score"), col("teacher_keep"))
    scored
      .select(col("score"), col("teacher_keep"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .withColumn("keep", when(col("score") >= col("threshold"), 1L).otherwise(0L))
      .groupBy("threshold")
      .agg(
        sum(col("keep")).as("n_keep"),
        sum(when(col("keep") === 1L && col("teacher_keep") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("keep") === 1L && col("teacher_keep") === 0L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("keep") === 0L && col("teacher_keep") === 1L, 1L).otherwise(0L))
          .as("fn"),
        round(sum(when(col("keep") === col("teacher_keep"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("agreement"))
      .select(col("threshold"), col("n_keep"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 4)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 4)).as("recall"),
        col("agreement"))
      .orderBy("threshold")
  }

  /** c116: the RECOMMENDED cut — closing the monitoring → config loop
    * (c115 reads calibration, c102 prices every cut; this picks one):
    * c102's sweep re-scored with F1 (the balance metric a gate
    * deploys on), the winner = max F1, ties to the LOWER threshold
    * (keep more data at equal quality). Output is ONE row — the
    * threshold a deployment writes into the student gate's config,
    * with the full confusion evidence attached — so "where should 0.5
    * actually sit" is a query result, not a hand edit. F1 =
    * 2tp/(2tp+fp+fn): an exact integer-pair division in both engines
    * before its 4-round.
    *
    * Shape: c102's one scoring pass + grid explode (rows per doc, not
    * passes), a ≤|grid|-row sort. */
  def c116ThresholdPick(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val f1 = when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
      round(lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn")), 4))
    c102ThresholdSweep(spark, dir)
      .withColumn("f1", f1)
      .orderBy(col("f1").desc, col("threshold"))
      .limit(1)
  }

  /** c93 batch size — the labeling budget per active-learning round.
    * Oracle-interpolated. */
  val ActiveBatchK = 50

  /** c93: ACTIVE-LEARNING batch selection off the stored classifier —
    * uncertainty sampling, the standard next step once c88's student
    * exists: the [[ActiveBatchK]] documents whose stored-classifier
    * score sits closest to the decision threshold (|score − 0.5|,
    * ties by doc_id) are the ones a labeling pass buys the most
    * gradient from. The report carries the teacher's verdict per
    * selected doc — in the distillation setting the teacher IS the
    * labeler, so the batch is immediately actionable (and the share
    * of near-threshold docs the teacher keeps is itself a calibration
    * read).
    *
    * Shape: scoring is c89's one aggregate; selection is a TopK
    * (orderBy+limit → TakeOrderedAndProject, never a global sort of
    * the corpus); the rank window runs AFTER the limit, over
    * [[ActiveBatchK]] rows. */
  def c93ActiveBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val top = c89StoredClassifier(spark, dir)
      .select(col("doc_id"), col("score"), col("teacher_keep"),
        round(abs(col("score") - QcThreshold), 4).as("margin"))
      .orderBy(col("margin"), col("doc_id"))
      .limit(ActiveBatchK)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("margin"), col("doc_id"))))
      .select("rank", "doc_id", "score", "margin", "teacher_keep")
      .orderBy("rank")
  }

  // ---- c49: feature-hashing document vectors --------------------------

  /** c49 geometry: 64 hash buckets. Oracle-interpolated. */
  val FhDim = 64

  /** c49: feature-hashed document vectors (the hashing trick,
    * Weinberger et al. 2009) — the deterministic text→vector bridge:
    * every term contributes sign·tf to bucket md5(term) mod
    * [[FhDim]] (sign from an independent md5 bit), giving each doc a
    * fixed-width integer vector with no trained model and no
    * vocabulary table — the cheap embedding that feeds the c5/c43/
    * c47 machinery when model embeddings don't exist yet, and the
    * classic featurizer for c48-style linear classifiers. Integer
    * arithmetic end-to-end ⇒ EXACT cross-engine parity (no rounding
    * contract needed, unlike every float-scoring operator).
    *
    * Shape: bucket/sign are functions of the term — one map off the
    * shared [[tfRows]] memo, one (doc, bucket) map-side-combined
    * aggregate, then the dense 64-lane vector assembles in a single
    * conditional-sum aggregate per doc (no explode, no pivot
    * shuffle). Report: the vector's md5 (c14's checksum contract),
    * plus nnz and l1 mass for the audit eye. */
  def c49FeatureHash(docs: DataFrame): DataFrame = {
    val j = (conv(substring(md5(col("term")), 1, 7), 16, 10).cast("long") % FhDim).as("j")
    val sv = (when(conv(substring(md5(col("term")), 8, 1), 16, 10) % 2 === 0, col("tf"))
      .otherwise(-col("tf"))).as("sv")
    val bucketSums = tfRows(docs)
      .select(col("doc_id"), j, sv)
      .groupBy("doc_id", "j").agg(sum(col("sv")).as("s"))
    val lanes = (0 until FhDim).map(i =>
      coalesce(sum(when(col("j") === i, col("s"))), lit(0L)).as(s"v$i"))
    bucketSums.groupBy("doc_id")
      .agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"),
        (0 until FhDim).map(i => when(col(s"v$i") =!= 0L, 1L).otherwise(0L)).reduce(_ + _)
          .as("nnz"),
        (0 until FhDim).map(i => abs(col(s"v$i"))).reduce(_ + _).as("l1"),
        md5(concat_ws(",", (0 until FhDim).map(i => col(s"v$i")): _*)).as("vec_md5"))
      .orderBy("doc_id")
  }

  // ---- c115: classifier calibration ------------------------------------

  /** c115 bin count — fixed-width score deciles (quantile bins would
    * need a cross-engine percentile contract; c91's fixed-range
    * stance). Oracle-interpolated. */
  val CalibBins = 10

  /** c115: RELIABILITY of the stored classifier — the calibration
    * monitor a deployed c89 needs next to c91's drift and c102's
    * threshold sweep: scores cut into [[CalibBins]] fixed-width bins,
    * each bin reporting its doc count, mean predicted score, the
    * TEACHER's empirical keep rate, and the calibration gap
    * (keep_rate − mean_score) — the reliability diagram in rows. A
    * well-calibrated student has gaps ≈ 0 everywhere; a positive gap
    * in the high bins means the student under-claims quality (c102's
    * threshold should move down), negative means over-confidence.
    * Score 1.0 clamps into the top bin.
    *
    * Shape: scoring is c89's one aggregate off the memoized training
    * frame; the binning is a per-row floor and ONE ≤ bins-group
    * aggregate — report-sized at any corpus. */
  def c115Calibration(spark: org.apache.spark.sql.SparkSession, dir: String,
      bins: Int = CalibBins): DataFrame = {
    c89StoredClassifier(spark, dir)
      .select(col("doc_id"), col("score"), col("teacher_keep"))
      .withColumn("bin", least(floor(col("score") * bins), lit(bins - 1L)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("teacher_keep")).as("n_teacher_keep"),
        round(avg(col("score")), 4).as("mean_score"))
      .withColumn("keep_rate",
        round(col("n_teacher_keep").cast("double") / col("n_docs"), 4))
      .withColumn("calib_gap", round(col("keep_rate") - col("mean_score"), 4))
      .orderBy("bin")
  }

  // ---- c108: quality-weighted sampling without replacement -------------

  /** c108 contract constants — sample size, the weight floor (a
    * zero-quality doc keeps a finite logit; same ε discipline as
    * [[DriftEps]]), and the uniform-draw denominator (16⁷ + 1, so
    * u ∈ (0, 1) strictly — both log legs finite). Oracle-
    * interpolated. */
  val GumbelSampleK = 100
  val GumbelEps = 0.0001
  val GumbelDenom: Double = 268435457.0 // 16^7 + 1

  /** c108: QUALITY-WEIGHTED sampling WITHOUT replacement — the
    * weighted counterpart of c13's uniform hash split, via the Gumbel
    * top-k trick (Vieira 2014): key every doc with
    * ln(quality + ε) − ln(−ln u) for a deterministic per-doc uniform
    * u, and the k largest keys ARE a sample drawn proportional to
    * quality without replacement — the "sample the good stuff, keep
    * some tail" selection a data-constrained run uses where c13
    * would sample boilerplate and gems at the same rate. u is
    * md5-derived from doc_id alone (c18's content-independent
    * admission discipline), so the draw is reproducible on any
    * engine, rerun, or cluster size.
    *
    * Ranking compares the 4-rounded key (c37's round-then-rank
    * discipline), ties by doc_id. Shape: one narrow projection over
    * the scan — the weights are qualityOf's per-row expression, no
    * corpus shuffle — then a TopK (orderBy+limit plans as
    * TakeOrderedAndProject, c93's stance: never a global sort); the
    * rank window runs AFTER the limit over k rows. */
  def c108GumbelSample(docs: DataFrame, k: Int = GumbelSampleK): DataFrame = {
    val u = (conv(substring(md5(concat(lit("gumbel:"), col("doc_id").cast("string"))), 1, 7),
      16, 10).cast("double") + 1.0) / lit(GumbelDenom)
    val key = round(log(qualityOf(col("text")) + lit(GumbelEps)) - log(-log(u)), 4)
    val top = docs
      .select(col("doc_id"), col("source"), qualityOf(col("text")).as("quality"),
        key.as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("gumbel_key").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "source", "quality", "gumbel_key")
      .orderBy("rank")
  }
}
