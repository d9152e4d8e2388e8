package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Marts, Multimodal, Sampling, Similarity, Staging, TextAnalysis}
import graft.sources.Tables

/** Round-5 invariants: the chunk-grain curation composition (c27)
  * and the chunk-text kernel it rides on.
  */
class Round5Spec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.documents(spark, sf)

  test("chunkTexts with zero overlap reassembles every document exactly") {
    val rebuilt = Sampling.chunkTexts(docs, Sampling.ChunkTokens, 0)
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text"))))
          .getField("chunk_text")).as("rebuilt"))
    val diff = docs.join(rebuilt, "doc_id")
      .filter(col("text") =!= col("rebuilt"))
    assert(diff.count() == 0, "lossless chunk cover violated")
  }

  test("chunkTexts geometry agrees with c25 (same windows, same token counts)") {
    val texts = Sampling.chunkTexts(docs)
      .select(col("doc_id"), col("chunk_idx"),
        size(split(col("chunk_text"), " ", -1)).cast("long").as("n_tok"),
        md5(col("chunk_text")).as("chunk_md5"))
    val c25 = Sampling.c25DocChunks(docs)
    assert(texts.count() == c25.count())
    assert(texts.except(c25).count() == 0)
    assert(c25.except(texts).count() == 0)
  }

  test("c27 chunk counts conserve the c25 chunk total") {
    val total = TextAnalysis.c27ChunkCuration(docs)
      .agg(sum("n_chunks")).head.getLong(0)
    assert(total == Sampling.c25DocChunks(docs).count())
  }

  test("c27 equals running the doc-grain gate over chunks-as-documents") {
    val chunksAsDocs = Sampling.chunkTexts(docs)
      .select(col("chunk_text").as("text"))
    val viaC23 = TextAnalysis.c23CurationFilter(chunksAsDocs)
      .withColumnRenamed("n_docs", "n_chunks")
    val c27 = TextAnalysis.c27ChunkCuration(docs)
    assert(c27.except(viaC23).count() == 0)
    assert(viaC23.except(c27).count() == 0)
  }

  test("a11 SCD2 intervals are contiguous, versioned, and single-current per user") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val snap = Marts.a11Scd2Snapshot(events).cache()
    try {
      // exactly one open (current) episode per user
      val currents = snap.groupBy("user_id")
        .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("n_open"))
        .filter(col("n_open") =!= 1L)
      assert(currents.count() == 0, "users without exactly one current episode")
      // versions are 1..n dense per user
      val badVersions = snap.groupBy("user_id")
        .agg(max(col("version")).as("mx"), count(lit(1)).as("n"),
          min(col("version")).as("mn"))
        .filter(col("mx") =!= col("n") || col("mn") =!= 1L)
      assert(badVersions.count() == 0, "version numbering not dense from 1")
      // contiguity: each episode's valid_to equals the next valid_from
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("version")
      val gaps = snap
        .withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
        .filter(col("next_from").isNotNull && col("valid_to_us") =!= col("next_from"))
      assert(gaps.count() == 0, "non-contiguous validity intervals")
      // adjacent episodes always change the tracked value
      val noChange = snap
        .withColumn("prev_val", lag(col("event_type"), 1).over(w))
        .filter(col("prev_val").isNotNull && col("prev_val") === col("event_type"))
      assert(noChange.count() == 0, "episode recorded without a value change")
      // first episode starts at the user's first event
      val firstTs = events.groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("min_ts_us"))
      val badStart = snap.filter(col("version") === 1L)
        .join(firstTs, "user_id")
        .filter(col("valid_from_us") =!= col("min_ts_us"))
      assert(badStart.count() == 0, "history does not start at first event")
    } finally snap.unpersist()
  }

  test("a12 incremental merge equals the full rebuild") {
    val events = Tables.events(spark, sf)
    val full = Marts.fctEvents(Staging.stgEvents(events))
    val incr = Marts.a12IncrementalMart(spark, sf)
    assert(incr.count() == full.count())
    assert(incr.except(full).count() == 0)
    assert(full.except(incr).count() == 0)
  }

  test("c28 epoch shuffle is a permutation, stable across reruns, seed-sensitive") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val e1 = Sampling.c28EpochShuffle(docs)
    // permutation: every doc exactly once, positions dense per shard
    assert(e1.count() == n)
    assert(e1.select("doc_id").distinct().count() == n)
    val dense = e1.groupBy("shard")
      .agg(max(col("pos")).as("mx"), count(lit(1)).as("cnt"), min(col("pos")).as("mn"))
      .filter(col("mx") =!= col("cnt") || col("mn") =!= 1L)
    assert(dense.count() == 0, "positions not dense from 1 within a shard")
    // reproducible: a rerun yields the identical permutation
    assert(e1.except(Sampling.c28EpochShuffle(docs)).count() == 0)
    // a different seed yields a genuinely different order
    val e2 = Sampling.c28EpochShuffle(docs, seed = 2L)
    val agree = e1.select("doc_id", "shard", "pos")
      .intersect(e2.select("doc_id", "shard", "pos")).count()
    assert(agree < n / 10, s"seed change left $agree/$n assignments in place")
    // shard count is a real parameter: still a permutation at 4 shards
    val e4 = Sampling.c28EpochShuffle(docs, shards = 4)
    assert(e4.count() == n && e4.select("doc_id").distinct().count() == n)
  }

  test("d4 finds every cross-copy of an identical media segment") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val d4 = Multimodal.d4ChunkDedup(docs)
    // every reported group really has >1 copies and consistent byte math
    val bad = d4.filter(col("n_copies") <= 1 ||
      col("dup_bytes") =!= (col("n_copies") - 1) * col("chunk_len"))
    assert(bad.count() == 0)
    // planted duplicates: two docs sharing one full chunk-aligned
    // payload must collapse to groups counted across both carriers
    val payload = "x" * (Multimodal.DefaultChunkBytes * 3)
    val planted = Seq((900001L, payload), (900002L, payload))
      .toDF("doc_id", "text")
    val got = Multimodal.d4ChunkDedup(planted)
    assert(got.count() == 1, "identical chunks within+across docs collapse to one group")
    val row = got.head
    assert(row.getAs[Long]("n_copies") == 6 && row.getAs[Long]("n_docs") == 2 &&
      row.getAs[Long]("canonical_doc") == 900001L)
  }

  test("d5 manifest accounting reconciles with d4's group view") {
    val docs = Tables.documents(spark, sf)
    val d5 = Multimodal.d5MediaManifest(docs).cache()
    try {
      // chunk totals reconcile with the raw chunk stream
      val chunks = Multimodal.d2MediaChunks(docs)
      assert(d5.agg(sum("n_chunks")).head.getLong(0) == chunks.count())
      assert(d5.agg(sum("n_bytes")).head.getLong(0) ==
        chunks.agg(sum("chunk_len")).head.getLong(0))
      // total redundant instances = Σ (n_copies − 1) over d4's groups
      val d4extra = Multimodal.d4ChunkDedup(docs)
        .agg(sum(col("n_copies") - 1)).head.getLong(0)
      assert(d5.agg(sum("n_redundant")).head.getLong(0) == d4extra,
        "manifest redundancy disagrees with the dedup group view")
      // a fully-unique doc has ratio 1.0; bounds hold everywhere
      val bad = d5.filter(col("uniq_ratio") > 1.0 || col("uniq_ratio") < 0.0 ||
        (col("n_redundant") === 0L && col("uniq_ratio") =!= 1.0))
      assert(bad.count() == 0)
    } finally d5.unpersist()
  }

  test("c29 bins partition each source completely with ordered quality ranges") {
    val docs = Tables.documents(spark, sf)
    val bins = TextAnalysis.c29QualityBins(docs).cache()
    try {
      // bins cover every doc exactly once
      assert(bins.agg(sum("n_docs")).head.getLong(0) == docs.count())
      // within a source, bin ranges are ordered: bin k's max ≤ bin k+1's min
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("bin")
      val disordered = bins
        .withColumn("next_min", lead(col("min_q"), 1).over(w))
        .filter(col("next_min").isNotNull && col("max_q") > col("next_min"))
      assert(disordered.count() == 0, "bin quality ranges overlap out of order")
      // bin sizes are balanced (ntile: differ by at most 1 within source)
      val unbalanced = bins.groupBy("source")
        .agg((max(col("n_docs")) - min(col("n_docs"))).as("spread"))
        .filter(col("spread") > 1)
      assert(unbalanced.count() == 0, "ntile bins unbalanced")
    } finally bins.unpersist()
  }

  test("c29 approx variant: windowless, conservative, near-uniform on a uniform corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // same report schema, total docs conserved
    val approx = TextAnalysis.c29QualityBinsApprox(docs)
    assert(approx.columns.toSeq ==
      TextAnalysis.c29QualityBins(docs).columns.toSeq)
    assert(approx.agg(sum("n_docs")).head.getLong(0) == docs.count())
    // the scale claim: NO window/sort anywhere in the plan
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "approx binning must not plan a window")
    // bin ranges stay ordered (cutpoint assignment is monotone)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin")
    val disordered = approx
      .withColumn("next_min", lead(col("min_q"), 1).over(w))
      .filter(col("next_min").isNotNull && col("max_q") > col("next_min"))
    assert(disordered.count() == 0)
    // sketch quality: ~uniform bins on a synthetic uniform single source
    val synth = (1 to 2000).map { i =>
      // distinct letter-words → quality varies smoothly with length
      (i.toLong, "uni", ((0 to i % 97 + 3).map(j => s"w${i}x$j") :+ "the").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val sbins = TextAnalysis.c29QualityBinsApprox(synth)
      .select("n_docs").as[Long].collect()
    val ideal = 2000.0 / TextAnalysis.QualityBins
    assert(sbins.length == TextAnalysis.QualityBins, s"got ${sbins.length} bins")
    assert(sbins.forall(n => n > ideal * 0.5 && n < ideal * 1.5),
      s"bin masses far from uniform: ${sbins.mkString(",")}")
  }

  test("c30 mixture respects budgets, overshoot bounded by one document") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val mix = TextAnalysis.c30SourceMixture(docs).cache()
    try {
      // budget column reflects the declared overrides + default
      val got = mix.select("source", "budget").as[(String, Long)].collect().toMap
      for ((s, b) <- got)
        assert(b == TextAnalysis.MixtureBudgets.getOrElse(s,
          TextAnalysis.DefaultMixtureBudget), s"$s budget $b")
      // kept tokens start inside the budget; overshoot < one max doc
      val maxDoc = docs
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .agg(max("n")).head.getLong(0)
      val over = mix.filter(col("kept_tok") >= col("budget") + maxDoc)
      assert(over.count() == 0, "mixture overshot by more than one document")
      // admission is prefix-closed: re-running with a LARGER default
      // budget keeps a superset of tokens per source
      val bigger = TextAnalysis.c30SourceMixture(docs,
        budgets = Map.empty, defaultBudget = 10000L)
      val shrunk = mix.select(col("source"), col("n_kept"))
        .join(bigger.select(col("source"), col("n_kept").as("n_kept_big")), "source")
        .filter(col("n_kept_big") < col("n_kept"))
      assert(shrunk.count() == 0, "larger budget kept fewer docs")
    } finally mix.unpersist()
  }

  test("a13 freshness grades stale feeds warn then error against the high-water mark") {
    import spark.implicits._
    import graft.operators.Checks
    val hourUs = 3600L * 1000000
    // anchor type ends at t=100h; 'warned' stopped 8h earlier; 'dead' 30h
    val rows = Seq(
      (1L, "live", 100 * hourUs), (2L, "live", 99 * hourUs),
      (3L, "warned", 92 * hourUs), (4L, "dead", 70 * hourUs))
    val ev = rows.toDF("event_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val got = Checks.a13Freshness(ev)
      .select("event_type", "freshness").as[(String, String)].collect().toMap
    assert(got == Map("live" -> "pass", "warned" -> "warn", "dead" -> "error"), got.toString)
  }

  test("c31 scores in-distribution repetition above rare-token soup") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val scored = TextAnalysis.c31UnigramLogprob(docs).cache()
    try {
      assert(scored.count() == docs.count(), "every doc scored")
      assert(scored.filter(col("mean_logprob") >= 0.0).count() == 0,
        "log-probs must be negative")
      // token accounting agrees with the whitespace tokenizer
      val n1 = scored.agg(sum("n_tokens")).head.getLong(0)
      val n2 = docs.select(size(split(col("text"), " ")).cast("long").as("n"))
        .agg(sum("n")).head.getLong(0)
      assert(n1 == n2, s"token totals drifted: $n1 vs $n2")
    } finally scored.unpersist()
    // a doc of corpus-common tokens must outscore one of unique tokens
    val common = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().orderBy(col("count").desc).head.getString(0)
    val synth = Seq(
      (800001L, Seq.fill(20)(common).mkString(" ")),
      (800002L, (1 to 20).map(i => s"zzqx$i").mkString(" "))).toDF("doc_id", "text")
    val s = TextAnalysis.c31UnigramLogprob(docs.select(col("doc_id"), col("text"))
        .unionByName(synth))
      .filter(col("doc_id") >= 800001L)
      .select("doc_id", "mean_logprob").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(800001L) > s(800002L),
      s"common-token doc must outscore rare-token doc: $s")
  }

  test("c30 bucketed admission equals the exact window spelling") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // the shipped corpus, shipped budgets
    def same(d: org.apache.spark.sql.DataFrame,
        budgets: Map[String, Long], default: Long): Unit = {
      val exact = TextAnalysis.c30SourceMixture(d, budgets, default)
      val bucketed = TextAnalysis.c30SourceMixtureBucketed(d, budgets, default)
      assert(exact.columns.toSeq == bucketed.columns.toSeq)
      assert(exact.except(bucketed).count() == 0 &&
        bucketed.except(exact).count() == 0,
        s"mixture variants diverged at budgets=$budgets default=$default")
    }
    same(docs, TextAnalysis.MixtureBudgets, TextAnalysis.DefaultMixtureBudget)
    // budget sweep: crossing in the first bucket (1), mid-corpus, far
    // past the corpus (no crossing — every doc admitted)
    for (b <- Seq(1L, 7L, 400L, 100000000L))
      same(docs, Map.empty, b)
    // exact-boundary stress: constant 10-token docs make many budgets
    // land EXACTLY on a doc edge (the >= / < tie cases)
    val uniform = (1 to 500).map(i =>
      (i.toLong, "uni", (1 to 10).map(j => s"t$i$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    for (b <- Seq(10L, 50L, 55L, 2500L, 5000L, 5001L))
      same(uniform, Map.empty, b)
    // NULL source is a legal group: the exact window reports it, so
    // the bucketed join must be null-safe rather than dropping it
    val withNull = (1 to 40).map(i =>
      (i.toLong, if (i % 4 == 0) null else s"s${i % 3}",
        (1 to 10).map(j => s"n$i$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val gotNull = TextAnalysis.c30SourceMixtureBucketed(withNull, Map.empty, 60L)
      .filter(col("source").isNull)
    assert(gotNull.count() == 1, "null-source group dropped by the bucketed join")
    same(withNull, Map.empty, 60L)
  }

  test("c30 bucketed plans no whole-source window (the scale contract)") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = TextAnalysis.c30SourceMixtureBucketed(Tables.documents(spark, sf))
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w }
    assert(wins.nonEmpty, "expected the sliver window in the plan")
    wins.foreach { w =>
      val parts = w.partitionSpec.map(_.sql.toLowerCase)
      val bucketScoped = parts.exists(_.contains("bkt"))
      // a window keyed by source alone is legal ONLY over the bucket
      // histogram (≤4096 rows per source) — its subtree must aggregate
      // by (source, bkt), never hold raw corpus rows
      val overHistogram = w.child.collect {
        case a: logical.Aggregate if a.groupingExpressions.size == 2 => a
      }.nonEmpty
      assert(bucketScoped || overHistogram,
        s"window partitioned by $parts funnels a whole source into one task")
    }
    assert(wins.exists(_.partitionSpec.size == 2),
      "boundary sliver must partition by (source, bkt)")
  }

  test("c29 approx bins agree with exact ntile bins up to quality ties") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // at sf0.001 the corpus is far below the sketch accuracy, so
    // approx_percentile is EXACT and any bin-mass deviation comes only
    // from ties: ntile splits equal-quality runs by doc_id, the
    // cutpoint comparison keeps each run in one bin
    val exact = TextAnalysis.c29QualityBins(docs)
      .select(col("source"), col("bin"), col("n_docs").as("n_exact"))
    val approx = TextAnalysis.c29QualityBinsApprox(docs)
      .select(col("source"), col("bin"), col("n_docs").as("n_approx"))
    val maxTie = docs
      .select(col("source"),
        TextAnalysis.qualityOf(col("text")).as("q"))
      .groupBy("source", "q").count()
      .groupBy("source").agg(max("count").as("max_tie"))
    val offenders = exact.join(approx, Seq("source", "bin"), "full_outer")
      .na.fill(0L, Seq("n_exact", "n_approx"))
      .join(maxTie, "source")
      .filter(abs(col("n_exact") - col("n_approx")) > col("max_tie"))
    assert(offenders.count() == 0,
      s"bins deviate beyond tie mass:\n${offenders.collect().mkString("\n")}")
    // and both partition each source completely
    val tot = exact.groupBy("source").agg(sum("n_exact").as("e"))
      .join(approx.groupBy("source").agg(sum("n_approx").as("a")), "source")
      .filter(col("e") =!= col("a"))
    assert(tot.count() == 0)
  }

  test("shardsFor sizes packing shards to the cluster, never below the contract default") {
    val n = Sampling.shardsFor(spark)
    assert(n >= Sampling.PackShards)
    assert(n >= spark.sparkContext.defaultParallelism)
    // and the packing stays conservation-correct at the scaled count
    val packed = Sampling.c22SequencePack(docs, shards = n)
    val totTok = packed.agg(sum("sum_tok")).head.getLong(0)
    val want = docs.select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(totTok == want, "scaled shard count lost tokens")
  }

  test("materialize strategies produce identical results") {
    import graft.operators.Checks
    val docs = Tables.documents(spark, sf)
    val key = "graft.materialize"
    val saved = spark.conf.getOption(key)
    val emb = Tables.embeddings(spark, sf)
    spark.sparkContext.setCheckpointDir("/tmp/graft-test-ckpt")
    def runAll(): Seq[(String, Array[org.apache.spark.sql.Row])] = {
      // r8: c31's tf frame is session-memoized (SessionMemo) — drop the
      // memo so each strategy run actually MATERIALIZES under the
      // strategy being tested instead of reading the previous
      // strategy's blocks
      SessionMemo.invalidate()
      Seq("c31" -> TextAnalysis.c31UnigramLogprob(docs).collect(),
        "a9" -> Checks.a9DqChecks(Staging.stgEvents(Tables.events(spark, sf))).collect(),
        "c30" -> TextAnalysis.c30SourceMixtureBucketed(docs).collect(),
        // the k-means trainer's corpus-grain points and c4's simhash frame
        "c26" -> Similarity.c26AnnIvfTrained(emb).collect(),
        "c4" -> Dedup.c4Simhash(docs).collect())
    }
    try {
      spark.conf.set(key, "local")
      val base = runAll()
      for (strategy <- Seq("reliable", "scratch:/tmp/graft-test-scratch")) {
        spark.conf.set(key, strategy)
        for (((name, got), (_, want)) <- runAll().zip(base))
          assert(got.sameElements(want), s"$strategy: $name diverged")
      }
      // the trainer's points follow the strategy: under scratch: they
      // land as a parquet dir in the root, not as executor blocks
      val root = java.nio.file.Files.createTempDirectory("graft-test-trainer").toString
      spark.conf.set(key, s"scratch:$root")
      Similarity.trainCentroidsQuantized(emb).collect()
      assert(new java.io.File(root).list().exists(_.startsWith("graft_mat_")),
        "trainCentroidsQuantized pinned its points outside graft.materialize")
      spark.conf.set(key, "bogus")
      SessionMemo.invalidate() // force a re-materialization
      intercept[IllegalArgumentException] {
        TextAnalysis.c31UnigramLogprob(docs).collect()
      }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("c27 sees intra-document splits the doc-grain gate cannot") {
    import spark.implicits._
    // one synthetic doc: a clean English head long enough to chunk,
    // plus one window of pure digit-run boilerplate — doc-grain c23
    // gives it ONE reason; chunk-grain c27 must split it
    // varied letter-words (high distinct ratio, no digits) with an
    // English marker every 3rd token
    val head = (0 until 600).map { i =>
      if (i % 3 == 0) "the"
      else s"${('a' + i / 26 % 26).toChar}${('a' + i % 26).toChar}${('a' + i % 7).toChar}"
    }.mkString(" ")
    val tail = (1 to 300).map(i => s"$i$i$i").mkString(" ")
    val doc = Seq((1L, head + " " + tail)).toDF("doc_id", "text")
    val rpt = TextAnalysis.c27ChunkCuration(doc)
    val reasons = rpt.select("reason").as[String].collect().toSet
    assert(reasons.contains("keep"), s"expected kept head chunks, got $reasons")
    assert(reasons.size > 1, s"expected a dropped tail window too, got $reasons")
  }
}
