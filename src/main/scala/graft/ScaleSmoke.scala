package graft

import org.apache.spark.sql.functions._

/** Dev tool: measured scale-up evidence for the candidate-generation
  * tiers. Replicates the test corpus N× into a work dir with
  * STRUCTURE-PRESERVING transforms — each replica keeps the
  * original's intra-replica similarity structure but shares nothing
  * across replicas:
  *  - documents: every token gets a per-replica prefix, so shingle
  *    and bigram vocabularies are disjoint across replicas (near-dup
  *    mass grows linearly, as a real corpus's would — naive
  *    replication would instead make every doc an N-way near-dup and
  *    measure the degenerate-bucket path, which the cap specs already
  *    cover);
  *  - embeddings: each replica gets a PER-REPLICA cyclic rotation of
  *    the dimensions — an orthogonal transform, so every intra-replica
  *    dot product and norm (and therefore every cosine and >=threshold
  *    pair) is preserved EXACTLY and similarity mass grows linearly
  *    with replicas, while sign buckets and cross-replica pairs
  *    decorrelate. (A constant-offset shift is NOT structure-
  *    preserving for thresholded cosine: cos(v+t, w+t) → 1 as |t|
  *    grows, which made each replica a near-complete pair graph.)
  * Then times the heavy operators on base vs scaled and prints one
  * JSON line per query with the time ratio vs the N× data ratio.
  * A candidate-bounded operator should land near ratio ≈ N (linear);
  * ratios ≫ N expose quadratic candidate growth. Each timing is the
  * min of 2 runs, both paths warmed once first (Bench's discipline —
  * this host shows multi-second stalls).
  *
  * Usage: runMain graft.ScaleSmoke [N] [srcDir] [workDir]
  * Env: SPARK_GRAFT_SCALE_QUERIES (subset), SPARK_GRAFT_SCALE_REUSE=1
  * (skip re-replication), SPARK_GRAFT_SCALE_MODE=controlled
  * (vocabulary-cipher document replication — constant vocab, the
  * real-scale-up shape; see below), SPARK_GRAFT_SCALE_SHUFFLE.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 8
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val work = if (args.length > 2) args(2) else "/tmp/graft-scale"
    val spark = GraftSession.get()

    // adjudication knobs: SPARK_GRAFT_SCALE_QUERIES=c2_dedup_ngram,…
    // re-measures a suspect subset; SPARK_GRAFT_SCALE_REUSE=1 skips
    // re-replication when the work dir already holds this N's data —
    // together they turn a "that row looks like a host stall" check
    // from a full 40-minute sweep into a 2-minute re-run
    val onlyQueries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1")
    // SPARK_GRAFT_SCALE_MODE=controlled replicates documents through a
    // per-replica VOCABULARY-rank substitution cipher instead of the
    // token prefix: σ_r shifts each token to the token `r·⌊V/n⌋`
    // ranks away in the global frequency order — a bijection of the
    // vocabulary onto itself. Within a replica every equality
    // structure (exact dups, shingle overlaps, tf/bigram multisets)
    // is preserved EXACTLY (the text twin of the embedding rotation),
    // so duplication mass grows linearly with replicas; across
    // replicas shingles decorrelate; and — the difference from the
    // prefix mode — the UNIGRAM VOCABULARY stays the base corpus's,
    // which is what a real 20× corpus looks like (Zipf: more tokens,
    // same head). The prefix mode's 20×-vocabulary artifact inflated
    // every vocabulary-grain stage (postings, tf memo, bigram table)
    // with replica-tagged keys no real scale-up would mint; rows read
    // against the controlled mode measure the PLAN, not that artifact.
    // CAVEAT, measured: the driver corpus draws from a ~31-token
    // vocabulary, so under the cipher all replicas share one tiny
    // shingle key space — per-key df grows ~N×, Σ C(df,2) grows ~N²,
    // and past df≈cap the posting cap starts DROPPING keys. On this
    // corpus the cipher mode is therefore a df-cap stress test, not
    // the real-scale-up shape; the evidence-mass probes below are the
    // instrument that adjudicates either mode's rows.
    val controlled = sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("controlled")

    val reps = spark.range(n).select(col("id").as("rep"))
    if (!reuse) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    // id offsets derive from the source's own max — a fixed constant
    // would silently collide replicas on a larger source corpus
    val docOffset = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    if (controlled) {
      // global frequency-ranked vocabulary (dev tool: a driver
      // collect of the vocab is fine here; the production analog is
      // a broadcast dictionary)
      val vocabArr = docs.select(explode(split(col("text"), lit(" "))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t"))
        .collect().map(_.getString(0))
      val v = vocabArr.length
      // shifts repeat mod |vocab|: with n ≥ v some replica's cipher is
      // the identity again and its docs are EXACT copies of replica 0
      // — quadratic dup mass with no warning, the artifact this tool
      // exists to keep out of measurements (the embedding rotation's
      // own guard, applied to text)
      require(n <= v,
        s"ScaleSmoke controlled mode: replica count $n exceeds vocabulary size $v — cipher shifts would collide")
      val stepPer = math.max(v / n, 1)
      val sc = spark.sparkContext
      val bcVocab = sc.broadcast(vocabArr)
      val bcIdx = sc.broadcast(vocabArr.zipWithIndex.toMap)
      import spark.implicits._
      docs.crossJoin(reps)
        .select(col("doc_id"), col("rep"), col("text"), col("lang"), col("source"))
        .as[(Long, Long, String, String, String)]
        .map { case (id, rep, text, lang, source) =>
          val shift = (rep * stepPer) % v
          val out = text.split(" ", -1).map { t =>
            bcIdx.value.get(t).map(ix => bcVocab.value(((ix + shift) % v).toInt)).getOrElse(t)
          }.mkString(" ")
          (id + rep * docOffset, out, lang, source)
        }
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$work/documents.parquet")
    } else {
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * docOffset).as("doc_id"),
        // per-token replica prefix → disjoint shingle vocabularies
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), col("rep"), lit("_$1"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))) // keep metadata consistent
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    }
    // events: per-replica id/user offsets keep every replica's
    // per-user event sequences intact — a11's episode structure and
    // a12's key space grow linearly (users × N), never denser
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evMaxes = ev.agg(max(col("event_id")), max(col("user_id"))).head
    val (evOffset, userOffset) = (evMaxes.getLong(0) + 1, evMaxes.getLong(1) + 1)
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("rep") * evOffset).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * userOffset).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecOffset = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    // per-replica cyclic DIMENSION rotation: an orthogonal transform,
    // so every intra-replica dot product and norm is preserved
    // EXACTLY — near-dup and >=threshold pair mass grows linearly
    // with the replica count, as a real corpus's would — while sign
    // buckets and cross-replica pairs decorrelate. (The earlier
    // constant-offset shift inflated intra-replica cosines —
    // cos(v+t, w+t) -> 1 as |t| grows — turning each replica into a
    // near-complete >=threshold pair graph: 82% of 20x candidates
    // verified at c32's bar, a quadratic mass no real corpus shows.)
    val dims = emb.selectExpr("size(embedding)").head.getInt(0)
    // rotations repeat mod dims: replica r and r+dims would be exact
    // copies — the quadratic cross-replica mass the rotation exists
    // to prevent. Past that range the rotation composes with a
    // per-replica SIGN-FLIP pattern (diag(±1) — also orthogonal, so
    // intra-replica dot products, norms, and pair mass stay exact):
    // replicas sharing a rotation still differ by an md5-derived sign
    // mask, and their cross products decorrelate per flipped dim.
    // 2^dims patterns ⇒ no practical replica budget collides.
    val useSigns = n > dims
    def signOf(rep: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      when(lit(useSigns) && (rep >= dims) &&
        (conv(substring(md5(concat_ws(":", lit("smokesign"), rep, i)), 1, 7), 16, 10)
          .cast("long") % 2 === 1L), lit(-1.0)).otherwise(lit(1.0))
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * vecOffset).as("vec_id"),
        transform(col("embedding"), (_, i) =>
          (element_at(col("embedding"),
            (pmod(i + col("rep"), lit(dims)) + 1).cast("int"))
            * signOf(col("rep"), i)).cast("float")).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    } // !reuse

    val queries = Seq("c2_dedup_ngram", "c3_dedup_minhash", "c4_dedup_simhash",
      "c12_dup_clusters", "c5_embed_neardup", "c6_ann_topk",
      // r4: the chunk/pack tiers — linear kernels (c25/d2) and the
      // sharded prefix-sum (c22) need the same measured evidence
      "c22_seq_pack", "c25_doc_chunks", "d2_media_chunks",
      // r5: chunk-grain curation composes the chunk kernel with the
      // gate's narrow signals — must scale like c25, not worse
      "c27_chunk_curation",
      // r4c: the new report tiers — per-source windows (c29/c30), the
      // stopword-skewed term join (c31), checksum shuffles (d4/d5)
      "c29_quality_bins", "c30_source_mixture", "c31_unigram_logprob",
      "d4_chunk_dedup", "d5_media_manifest",
      // r5: the heaviest tier-A/C additions — SCD2's per-user windows,
      // the incremental store merges, and the trained-IVF Lloyd loop
      // need measured scale rows too
      "a11_scd2_snapshot", "a12_incremental_mart", "c26_ann_ivf_trained",
      // r6: the semantic-cluster report (c5's pair graph + union-find)
      // and the mart test suite (multi-frame materialization)
      "c32_semantic_clusters", "a9_dq_checks",
      // r7: the span-dedup posting lists (occurrence-capped) and the
      // per-asset phash banding — both candidate-bounded by
      // construction, both need the measured row to prove it
      "c33_substring_dedup", "d6_media_neardup",
      // r8: the bounded-broadcast Bloom probe (must track the shingle
      // kernel's profile), the cluster-split label join (verified-
      // pair-sized), and the pruned inverted-index probe (fan-out
      // capped per (query, term))
      "c35_bloom_contamination", "c36_cluster_split", "c37_bm25", "c39_dsir",
      "d7_cluster_manifest",
      // r8b: the CDC chunk kernel (payload-linear, boundary rate
      // data-dependent — the measured row proves the cut rate holds
      // off the synthetic alphabet), the tf-memo rule battery, and
      // the containment twin of c2's posting chain
      "d8_cdc_chunks", "c41_gopher_rules", "c42_containment",
      // r9: the knn window over LSH pair volume, the (source, term)
      // report grain, the cross-snapshot posting reuse, and the
      // bigram-grain LM join — each bounded by evidence/vocabulary,
      // and the measured row proves it
      "c43_knn_graph", "c44_zipf_diversity", "c45_delta_dedup", "c46_bigram_logprob",
      // r9b: the PQ serving kernel and the two tf-memo featurizers —
      // |Q|-bounded / term-derived, linear in corpus by construction
      "c47_pq_adc", "c48_quality_classifier", "c49_feature_hash",
      "c50_curation_funnel", "c51_dedup_sweep",
      // r9c: entropy off the tf memo, the source matrix off the
      // overlap evidence, label consistency at graph grain, recall
      // at report grain — each inherits an already-measured chain
      "c52_token_entropy", "c53_cross_source_dup",
      "c54_label_consistency", "c55_pq_recall",
      // r10: the incremental span tier (base↔delta posting pairs),
      // the vocabulary-grain BPE apply, and the frame-grain phash
      // banding — evidence-/vocabulary-bounded by construction
      "c56_delta_spans", "c57_bpe_encode", "d9_frame_neardup",
      // r10b: the per-source ntile cut, the shingle-df novelty join,
      // and the CDC-grain checksum dedup
      "c58_ppl_buckets", "c59_novelty", "d10_cdc_dedup",
      // r10c: the pruned IVFADC kernel — |Q|- and probe-bounded
      "c60_ivf_pq", "c61_lang_mix", "c62_eff_tokens", "c63_bpe_sweep",
      // r12: the trained/residual PQ stack, the recall audits, the
      // winnow pair tier, and the two store-grain audits
      "c64_pq_trained", "c65_ivfpq_residual", "c66_ivfpq_recall",
      "c67_gate_store", "c68_span_store", "c69_winnow_pairs",
      "c70_adc_variants", "c71_ivfpq_trained", "c72_span_exec",
      "c73_trained_recall", "c74_winnow_spans", "c75_bpe_train",
      "c76_bpe_trained_encode", "c77_gate_pipeline",
      // r13: the artifact-store index tier — codes-scan serving
      // (M bytes/vector), the clustered trained grid, and the
      // append-without-retrain path
      "c78_clustered_recall", "c79_stored_serving",
      "c80_clustered_trained", "c81_index_append", "c82_index_churn",
      "c84_embed_gate",
      // r14: the five-gate compose, the tokenized-pack pair, index
      // health off the churned store, and the trained-classifier
      // tier (trainer loop is step-count × doc-grain scans; every
      // consumer is one aggregate off the memoized frame)
      "c85_gate5", "c86_pack_tokenized", "c87_index_health",
      "c88_classifier_train", "c89_stored_classifier",
      "c90_student_funnel", "c91_feature_drift", "c92_tokenizer_holdout",
      "c93_active_batch", "c94_pack_boundaries", "c95_quality_keeper",
      "c96_student_gate", "c97_classifier_refresh", "c98_export_manifest",
      "c99_curriculum", "c100_multibench_contam", "c101_manifest_diff",
      "c102_threshold_sweep",
      // r16 (advice): the whole-corpus curriculum packing windows —
      // c111 covers the keeps-filtered (smaller) shape only, so the
      // corpus-grain windows get their own 20× rows
      "c103_curriculum_pack", "c104_seq_manifest", "c105_keeps_schedule",
      // r15: the mixture/retrieval widening — the one-window grid
      // sweep, the vocabulary-grain pair join, the TakeOrdered draw,
      // the two-leg fusion, and the broadcast assignment pass
      "c106_pack_sweep", "c107_source_divergence", "c108_gumbel_sample",
      "c109_rrf_fusion", "c110_embed_drift",
      // r15b: the mounted packing, the repeat plan, and the two-stage
      // refine serve (candidate fetch bounded by |Q|·depth)
      "c111_keeps_pack", "c112_repeat_mixture", "c113_pq_rerank",
      // r15c: the geometry grid (3× band derivations off one sig
      // build, one union verify) and the calibration report
      "c114_lsh_geometry", "c115_calibration", "c116_threshold_pick",
      "c117_epoch_plan",
      // r16: the stored-index fusion (codes scan + bounded refine),
      // byte-grain BPE (vocabulary-grain), and the keeps-grain index
      // (one report-sized aggregate over c111's window)
      "c118_rrf_stored", "c119_bpe_bytes", "c120_keeps_manifest",
      // r16: the student five-gate store build and the touched-only
      // repair (health kernel + |degraded members| trainer)
      "c121_gate5_student", "c122_index_repair", "c123_repaired_serve",
      "c124_source_yield", "c125_fusion_recall", "c126_budget_gate",
      "c127_seq_vintage_diff", "c128_quota_gate", "c129_pinned_schedule",
      // r17: sequence-grain eval taint (one report aggregate over
      // c111's packing window — c120's shape plus the registry
      // predicates), the filtered/OOD serving pair (bounded codes
      // reads off the stored artifacts), and the fertility rollup
      "c130_seq_contam", "c131_filtered_ann", "c132_fertility",
      "c133_query_ood", "c134_cms_heavy", "c135_pii_rate",
      // r17: the probe-dial sweep (one full-probe codes pass + c6's
      // exact leg — audit class), the cardinality sketch, and the
      // OOD-routed serve (one codes scan + |flagged|-bounded exact leg)
      "c136_nprobe_sweep", "c137_linear_count", "c138_routed_serve",
      // r17: the decontaminated re-pack (c111's chain + one pushed
      // doc_id predicate; b22 is a single Expand aggregate — linear
      // by construction, not separately smoked)
      "c139_decontam_pack",
      // r17: the persisted lexical index (build + serve; append path
      // touches only delta terms' lists)
      "c140_bm25_stored", "c141_postings_append",
      // r17: the quantile sketch (one bin aggregate + per-source
      // sort audit) and the composed quota→budget door
      "c142_hist_quantiles", "c143_composed_gate", "c144_cluster_mix",
      // r17: the JL audit (bounded |Q|²/2 pair frame; the projection
      // itself is a per-row linear map) and the loss-mask manifest
      // (c111's chain + one pushed predicate)
      "c145_jl_audit", "c146_loss_mask",
      // r23: the projected serving pair (corpus-wide linear map +
      // banded candidates + band-sliver escalation), the door →
      // schedule hand-off and ledger report (batch-bounded door
      // chains), the sketch-merge audits (cell/register tables are
      // ≤ d·w / m rows regardless of corpus), HLL, and the
      // histogram-drift publish gate (two bin aggregates)
      "c147_proj_serve", "c148_door_schedule", "c149_cms_merge",
      "c150_hist_drift", "c151_proj_stored", "c152_mask_budget",
      "c153_door_ledger", "c154_hll_distinct", "c155_hll_merge",
      "c156_hll_vintage", "c157_sketch_gate",
      // r23b: the sketch-routed serve (one sketch-column scan ×
      // broadcast queries + keyed rerank), the two-leg band monitor,
      // and the novelty-quota door (HLL chain + batch-bounded door)
      "c158_sketch_route", "c159_band_health", "c160_novelty_quota",
      "c161_door_mask", "d11_chunk_hll", "c162_sketch_adc",
      // r24: the sampled trainer (sample-bounded loop + full-corpus
      // encode), the door-side pack (batch-bounded appends), the
      // three-stage novelty door, the register-grain drift diff
      // (sources×256 arithmetic), and the two new e-tier batch twins
      "c163_bpe_sampled", "c164_door_pack", "c165_novelty_door",
      "c166_register_drift", "e4_stream_late", "e5_stream_outer_join",
      "c167_register_door", "e6_session_window",
      "c168_door_drift", "d12_chunk_register_door", "c169_log_novelty_door",
      "c170_log_compaction",
      // r25: the batched trainer pair (sample-bounded loop at B=4 +
      // the two-trainer compression audit's full-corpus encodes), the
      // doc-grain log maintenance (file-grain re-lay + one sequence
      // aggregate), and the stored tokenizer's full-corpus encode —
      // the r14 verdict's vocabulary-growth family
      "c171_bpe_batched", "c172_bpe_batch_audit", "c173_pack_compaction",
      "c83_stored_tokenizer",
      // r26: the five-gate store maintenance (file-grain re-lay +
      // seven key scans) and the histogram door pair (sources×256-row
      // log appends; drift = report arithmetic off the log)
      "c174_door_compaction", "c175_hist_door", "c176_door_hist_drift",
      "c177_sample_door", "c178_snapshot_serve", "c179_bpe_batch_sweep")
      .filter(q => onlyQueries.forall(_.contains(q)))

    // the one knob a real scale-up retunes with the data (SURVEY §5:
    // "at cluster scale these become cluster-sized via config not
    // code"): shuffle partitions for the SCALED runs, so the tool can
    // separate "operator grows superlinearly" from "fixed-size
    // shuffle partitions started spilling"
    val basePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val scaledPartitions = sys.env.getOrElse("SPARK_GRAFT_SCALE_SHUFFLE", basePartitions)

    // every timed run starts cold: no memo, table load or cached
    // block survives from the previous run (or the previous N's files)
    def clear(): Unit = {
      SessionMemo.invalidate()
      spark.sharedState.cacheManager.clearCache()
    }

    def run(name: String, dir: String): Double = {
      spark.conf.set("spark.sql.shuffle.partitions",
        if (dir == work) scaledPartitions else basePartitions)
      clear()
      // localCheckpoint blocks are reclaimed by the ContextCleaner
      // only after their RDDs are GC'd — at N× scale the previous
      // query's multi-GB blocks would otherwise still occupy storage
      // and evict the current query's, measuring thrash instead of
      // the operator (the round-1 bench anomaly, PLANS.md)
      System.gc()
      Thread.sleep(500)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-2: the host's multi-second stalls would otherwise demand
    // hand-run medians (Bench.scala's discipline)
    def time(name: String, dir: String): Double =
      math.min(run(name, dir), run(name, dir))

    // warm BOTH paths once (JIT + Janino codegen; AQE may pick
    // different physical plans at N×, so the scaled path needs its
    // own warm-up or its first-run codegen cost lands in the timing)
    queries.foreach { q => run(q, src); run(q, work) }
    val rows = queries.map { q =>
      val base = time(q, src)
      val scaled = time(q, work)
      f"""{"query":"$q","base_sec":$base%.2f,"scaled_sec":$scaled%.2f,"time_ratio":${scaled / base}%.1f,"data_ratio":$n}"""
    }
    rows.foreach(println)

    // evidence-mass probes: the pair-evidence family's time ratios
    // are read against the growth of their ACTUAL input — the
    // verified-pair frame and capped posting keys the shared overlap
    // chain feeds them — not the raw corpus multiplier. Replication
    // that inflates duplication mass (or a tiny-vocab corpus whose
    // key space saturates) shows up in mass_ratio first, and a query
    // row is a PLAN finding only when time_ratio outruns mass_ratio.
    {
      def mass(dir: String): (Long, Long) = {
        clear()
        operators.Dedup.evidenceMass(sources.Tables.documents(spark, dir))
      }
      // the pair-evidence probe materializes the overlap chain — at
      // extreme N (100× prefix mode) it can exhaust executor memory
      // AFTER every query row has already printed; a dead probe must
      // not kill the run's exit code or the scratch rows below
      try {
        val (bp, bk) = mass(src)
        val (sp, sk) = mass(work)
        println(f"""{"probe":"verified_pairs","base":$bp,"scaled":$sp,"mass_ratio":${sp.toDouble / math.max(bp, 1)}%.1f,"data_ratio":$n}""")
        println(f"""{"probe":"posting_keys","base":$bk,"scaled":$sk,"mass_ratio":${sk.toDouble / math.max(bk, 1)}%.1f,"data_ratio":$n}""")
      } catch { case e: Throwable =>
        println(s"""{"probe":"evidence_mass","error":"${e.getClass.getSimpleName}"}""")
      }
      // vocabulary probe: the tokenizer family's time ratios are read
      // against UNIGRAM VOCABULARY growth, not the corpus multiplier —
      // prefix mode grows vocab ~N× (disjoint alphabets), controlled
      // mode holds it constant; the pair separates "trainer cost ∝
      // vocabulary" from "trainer cost ∝ corpus"
      def vocab(dir: String): Long =
        spark.read.parquet(s"$dir/documents.parquet")
          .select(explode(split(col("text"), lit(" "))).as("t"))
          .agg(countDistinct(col("t"))).head.getLong(0)
      val (bv, sv) = (vocab(src), vocab(work))
      println(f"""{"probe":"vocab_size","base":$bv,"scaled":$sv,"mass_ratio":${sv.toDouble / math.max(bv, 1)}%.1f,"data_ratio":$n}""")
    }

    // r6: the DURABLE materialization path (graft.materialize=
    // scratch:, the cluster spelling — docs/DEPLOY.md) re-measured on
    // the Materialize-heavy queries: its time_ratio must sit within
    // noise of the local-strategy rows above, proving durability is a
    // constant-factor write cost, not a scaling change
    val scratchQueries = Seq("c30_source_mixture", "c31_unigram_logprob", "a9_dq_checks")
    spark.conf.set("graft.materialize", s"scratch:$work/_scratch")
    scratchQueries.foreach { q => run(q, src); run(q, work) }
    scratchQueries.foreach { q =>
      val base = time(q, src)
      val scaled = time(q, work)
      println(f"""{"query":"$q","strategy":"scratch","base_sec":$base%.2f,"scaled_sec":$scaled%.2f,"time_ratio":${scaled / base}%.1f,"data_ratio":$n}""")
    }
    spark.conf.unset("graft.materialize")
    spark.stop()
  }
}
