package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-23 contracts: sign-of-zero oracle parity (the r12 c145 red
  * row) and the round's widening. */
class Round23Spec extends AnyFunSuite {
  import TestSpark._

  test("sign-of-zero: Spark round() normalizes a planted -ulp to bitwise +0.0") {
    import spark.implicits._
    // the exact hazard class: a tiny negative that rounds to zero.
    // DuckDB's float round keeps -0.0 here; Spark must emit +0.0 so
    // the Rz-normalized oracle (round(x, d) + 0) hashes identically.
    val planted = Seq(-1e-9, -java.lang.Double.MIN_VALUE, -0.0, 0.0, -4.9e-5)
    val got = planted.toDF("x").select(round(col("x"), 4).as("r"))
      .collect().map(_.getDouble(0))
    for ((in, out) <- planted.zip(got)) {
      assert(out == 0.0, s"round($in, 4) should be zero, got $out")
      assert(java.lang.Double.doubleToRawLongBits(out) == 0L,
        s"round($in, 4) emitted negative zero — driver hash parity breaks")
    }
  }

  test("sign-of-zero: Rz spelling is the +0 normalization and the at-risk oracles use it") {
    assert(Rz("x", 4) == "(round(x, 4) + 0)")
    // every oracle column class that can be negative-and-tiny must go
    // through Rz — spot-pin the ones the r12 verdict named (cosines,
    // slope, psi/gap, divergence, signed log scores)
    val atRisk = Seq(
      "c145_jl_audit", "b20_bivariate", "c91_feature_drift",
      "c115_calibration", "c107_source_divergence", "c110_embed_drift",
      "c39_dsir", "c44_zipf_diversity", "c52_token_entropy",
      "c108_gumbel_sample", "c31_unigram_logprob", "c46_bigram_logprob")
    for (k <- atRisk)
      assert(SparkEntry.oracleSql(k).contains(" + 0)"),
        s"$k oracle lost its sign-of-zero normalization (Rz)")
  }

  test("door: withArrivalCum ≡ the global arrival-order window, with no unpartitioned window over the batch") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // sparse, clustered, and adversarial doc_id layouts
    val ids = (Seq(0L, 1L, 2L, 3L) ++ Seq(1000000L, 1000001L) ++
      (0 until 50).map(i => 7919L * i + 13L)).distinct
    val df = ids.map(id => (id, id % 17 + 1)).toDF("doc_id", "n_tok")
    val got = graft.streaming.BudgetStream
      .withArrivalCum(df, col("n_tok"), "cum")
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("cum", sum(col("n_tok")).over(w))
    assert(got.select("doc_id", "cum").collect().toSet ==
      want.select("doc_id", "cum").collect().toSet)
    // the only Window over the batch frame partitions on the bucket
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("door_bkt"),
      "bucketed walk lost its partition key — the door is back to one task per batch")
    // empty batch: no rows, schema intact
    val empty = graft.streaming.BudgetStream
      .withArrivalCum(df.filter(col("doc_id") < 0), col("n_tok"), "cum")
    assert(empty.columns.contains("cum") && empty.count() == 0)
  }

  test("door: an arrival from a source absent from the quota plan routes to quota_full, never dropped") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("r23door").toString
    val batch = Seq(
      (1L, "alpha beta gamma", "known"),
      (2L, "delta epsilon zeta", "unknown_src")).toDF("doc_id", "text", "source")
    graft.streaming.BudgetStream.processQuotaBatch(
      batch, Array.empty, Map("known" -> 1000000L),
      s"$tmp/decisions", s"$tmp/ledger", 0L)
    val dec = spark.read.parquet(s"$tmp/decisions")
      .select("doc_id", "source", "stage").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(dec.keySet == Set(1L, 2L), "an arrival lost its decision row")
    assert(dec(1L)._2 == "keep")
    assert(dec(2L) == ("unknown_src", "quota_full"),
      "unknown source must close its own (zero-quota) door, not vanish")
    // same contract through the composed door
    val tmp2 = java.nio.file.Files.createTempDirectory("r23door2").toString
    graft.streaming.BudgetStream.processComposedBatch(
      batch, Array.empty, Map("known" -> 1000000L),
      s"$tmp2/decisions", s"$tmp2/ledger", 0L, budget = 1000000L)
    val dec2 = spark.read.parquet(s"$tmp2/decisions")
      .select("doc_id", "stage").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec2 == Map(1L -> "keep", 2L -> "quota_full"))
    // an EMPTY first batch (every arrival filtered upstream, e.g. by
    // the doc_id % 97 slice) leaves meta-only stores behind; the next
    // batch must read them as "no prior state" and decide exactly as
    // it did alone above (decisions do not depend on the batch id)
    import graft.streaming.{BudgetStream, EventsStream}
    type Step = (org.apache.spark.sql.DataFrame, String, Long) => Unit
    val quotas = Map("known" -> 1000000L)
    def afterEmpty(step: Step): String = {
      val root = java.nio.file.Files.createTempDirectory("r23empty").toString
      step(batch.filter(col("doc_id") < 0), root, 0L)
      step(batch, root, 1L)
      root
    }
    def decided(root: String) = spark.read.parquet(s"$root/decisions")
      .drop(EventsStream.KeyBucketCol).collect().toSet
    assert(decided(afterEmpty((b, root, i) => BudgetStream.processQuotaBatch(
      b, Array.empty, quotas, s"$root/decisions", s"$root/ledger", i))) == decided(tmp))
    assert(decided(afterEmpty((b, root, i) => BudgetStream.processComposedBatch(
      b, Array.empty, quotas, s"$root/decisions", s"$root/ledger", i,
      budget = 1000000L))) == decided(tmp2))
    val novelty: Step = (b, root, i) => BudgetStream.processNoveltyDoorBatch(
      b, Array.empty, quotas, s"$root/decisions", s"$root/ledger", i, budget = 1000000L)
    val alone = java.nio.file.Files.createTempDirectory("r23alone").toString
    novelty(batch, alone, 1L)
    assert(decided(afterEmpty(novelty)) == decided(alone))
    // the hand-off door also reads its schedule and pack stores back
    val cuts = Seq(("known", 1L, 0.99)).toDF("source", "bin", "cut")
    val handoff = afterEmpty((b, root, i) => BudgetStream.processHandoffBatch(
      b, Array.empty, quotas, cuts, root, i, budget = 1000000L))
    assert(decided(handoff) == decided(tmp2))
    assert(spark.read.parquet(s"$handoff/schedule").select("doc_id", "pos", "batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == Set((1L, 1L, 1L)))
  }

  test("c147: two-tier partition of the band, and proj decisions match the full gate within it") {
    import graft.operators.Similarity
    val th = Similarity.SemDedupThreshold
    val band = Similarity.jlBand(spark, sf)
    assert(band > 0.0 && band < 1.0, s"degenerate audit band $band")
    val out = Similarity.c147ProjServe(spark, sf).collect()
    assert(out.nonEmpty, "no dup pairs at all — the gate is vacuous at this SF")
    val tiers = out.groupBy(_.getAs[String]("tier")).view.mapValues(_.length).toMap
    // the full embedding is read for exactly the escalation sliver
    for (r <- out) {
      val cp = r.getAs[Double]("cos_proj")
      r.getAs[String]("tier") match {
        case "proj" =>
          assert(cp >= th + band, s"proj-tier pair below the definite line: $r")
          assert(r.isNullAt(r.fieldIndex("cos_full")),
            "proj tier read the full embedding — the read-cost dial is broken")
        case "full" =>
          assert(cp >= th - band && cp < th + band,
            s"escalated pair outside the uncertainty band: $r")
          assert(r.getAs[Double]("cos_full") >= th)
      }
    }
    // wherever the pair's own error is within the audited band, the
    // proj-tier admission agrees with the full-width gate (recomputed
    // by hand with pairCos's exact rounding)
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosFull(a: Long, b: Long): Option[Double] = {
      val (va, vb) = (vecs(a), vecs(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val den = math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum)
      if (den > 0 && !(dot / den).isNaN)
        Some(BigDecimal(dot / den).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
    var checked = 0
    for (r <- out if r.getAs[String]("tier") == "proj") {
      cosFull(r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")).foreach { cf =>
        val err = math.abs(cf - r.getAs[Double]("cos_proj"))
        if (err <= band) { assert(cf >= th, s"in-band proj admission disagrees with full gate: $r cf=$cf"); checked += 1 }
      }
    }
    assert(checked > 0, "agreement check never fired — the spec is vacuous")
    assert(tiers.getOrElse("proj", 0) > 0, "no sketch-definite admissions — band too wide to be useful")
  }

  test("c148: door keeps land binned by the pinned cuts, positions dense per shard") {
    val sched = graft.streaming.BudgetStream.c148DoorSchedule(spark, sf).collect()
    assert(sched.nonEmpty)
    // dense per-shard positions in (batch, bin desc, key) order
    for ((_, rows) <- sched.groupBy(_.getAs[Long]("shard"))) {
      val pos = rows.map(_.getAs[Long]("pos")).sorted
      assert(pos.toSeq == (1L to rows.length).toSeq, "positions not dense")
    }
    // bins ≡ c129's cut-comparison binning over the same docs
    import org.apache.spark.sql.functions.{col => c}
    val docs = graft.sources.Tables.documents(spark, sf)
    val cuts = graft.operators.Sampling.pinnedCuts(spark, sf)
    val ids = sched.map(_.getAs[Long]("doc_id")).toSet
    val scored = docs.filter(c("doc_id").isin(ids.toSeq: _*))
      .select(c("source"), c("doc_id"),
        graft.operators.TextAnalysis.qualityOf(c("text")).as("quality"))
    val want = graft.operators.Sampling
      .binByCuts(scored, cuts, graft.operators.TextAnalysis.QualityBins)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin")).toMap
    for (r <- sched)
      assert(want(r.getAs[Long]("doc_id")) == r.getAs[Long]("bin"),
        s"bin drifted from the pinned-cuts contract for doc ${r.getAs[Long]("doc_id")}")
  }

  test("c148: appending a later batch never moves an earlier batch's rows") {
    import spark.implicits._
    val cuts = Seq(("s", 1L, 0.30), ("s", 2L, 0.60)).toDF("source", "bin", "cut")
    val b0 = Seq((1L, "alpha beta gamma delta", "s"),
      (2L, "epsilon zeta eta theta", "s")).toDF("doc_id", "text", "source")
    val b1 = Seq((3L, "iota kappa lambda mu", "s")).toDF("doc_id", "text", "source")
    val quotas = Map("s" -> 1000000L)
    def run(dir: String, batches: Seq[org.apache.spark.sql.DataFrame]): Map[Long, (Long, Long, Long)] = {
      batches.zipWithIndex.foreach { case (b, i) =>
        graft.streaming.BudgetStream.processHandoffBatch(
          b, Array.empty, quotas, cuts, dir, i.toLong, budget = 1000000L)
      }
      spark.read.parquet(s"$dir/schedule")
        .select("doc_id", "shard", "pos", "batch_id").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    val a = run(java.nio.file.Files.createTempDirectory("r23h1").toString, Seq(b0))
    val b = run(java.nio.file.Files.createTempDirectory("r23h2").toString, Seq(b0, b1))
    assert(a.keySet == Set(1L, 2L) && b.keySet == Set(1L, 2L, 3L))
    for ((id, row) <- a)
      assert(b(id) == row, s"batch-0 row for doc $id moved when batch 1 landed")
    // the late arrival sits BEHIND batch 0's rows in its shard
    val (s3, p3, _) = b(3L)
    for ((id, (sh, p, _)) <- b if id != 3L && sh == s3)
      assert(p < p3, "a later batch's row was scheduled ahead of an earlier batch's")
  }

  test("c149: merged per-source sketches are cell-identical to the one-pass sketch") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = graft.operators.TextAnalysis.c149CmsMerge(docs).collect()
    assert(rows.length == graft.operators.TextAnalysis.CmsDepth)
    val masses = rows.map(_.getAs[Long]("mass")).distinct
    assert(masses.length == 1, "CMS rows are mass-preserving — every depth must carry the corpus mass")
    for (r <- rows) {
      assert(r.getAs[Long]("n_diff_cells") == 0L, s"merge broke linearity at depth ${r.getAs[Long]("depth")}")
      assert(r.getAs[Long]("max_abs_diff") == 0L)
      assert(r.getAs[Long]("n_cells") > 0L && r.getAs[Long]("max_cell") > 0L)
    }
  }

  test("c150: zero drift on an all-base corpus; a planted tail shift surfaces at p99 only") {
    import spark.implicits._
    // doc_ids whose md5 percent bucket is < DeltaBasePct (base docs)
    def md5pct(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 7), 16) % 100
    val baseIds = Iterator.from(0).map(_.toLong)
      .filter(md5pct(_) < graft.operators.Dedup.DeltaBasePct).take(100).toSeq
    val tailIds = Iterator.from(0).map(_.toLong)
      .filter(md5pct(_) >= graft.operators.Dedup.DeltaBasePct).take(3).toSeq
    val short = "x" * 40
    val long = "y" * 900
    val allBase = baseIds.map(id => (id, "s", short)).toDF("doc_id", "source", "text")
    val zero = graft.operators.TextAnalysis.c150HistDrift(allBase).collect()
    assert(zero.length == 1)
    assert(zero.head.getAs[Double]("psi") == 0.0)
    for (p <- Seq("p50_shift", "p90_shift", "p99_shift"))
      assert(zero.head.getAs[Long](p) == 0L, s"$p nonzero on an identical-vintage corpus")
    val shifted = (baseIds.map(id => (id, "s", short)) ++ tailIds.map(id => (id, "s", long)))
      .toDF("doc_id", "source", "text")
    val r = graft.operators.TextAnalysis.c150HistDrift(shifted).collect().head
    assert(r.getAs[Long]("n_base") == 100L && r.getAs[Long]("n_cur") == 103L)
    assert(r.getAs[Long]("p50_shift") == 0L && r.getAs[Long]("p90_shift") == 0L,
      "body quantiles moved — the planted drift was tail-only")
    assert(r.getAs[Long]("p99_shift") > 0L, "the planted p99 shift went undetected")
    assert(r.getAs[Double]("psi") > 0.0)
  }

  test("c151: the stored-sketch serve is row-identical to the in-flight gate") {
    import graft.operators.Similarity
    val inflight = Similarity.c147ProjServe(spark, sf).collect().map(_.toString).sorted
    val stored = Similarity.c151ProjStored(spark, sf).collect().map(_.toString).sorted
    assert(inflight.nonEmpty)
    assert(stored.toSeq == inflight.toSeq,
      "the at-rest sketch artifact drifted from the in-flight projection")
  }

  test("c152: the mask budget reconciles with c146's mask rows and c120's index") {
    val rep = graft.operators.Sampling.c152MaskBudget(spark, sf).collect()
    assert(rep.nonEmpty)
    val maskByShard = graft.operators.Sampling.c146LossMask(spark, sf)
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), sum(col("mask_end") - col("start_offset")).as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val idxByShard = graft.operators.Sampling.c120KeepsManifest(spark, sf)
      .groupBy("shard").agg(count(lit(1)).as("n_seqs"), sum("sum_tok").as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    var masked = 0L
    for (r <- rep) {
      val sh = r.getAs[Long]("shard")
      val (nSeqs, sumTok) = idxByShard(sh)
      assert(r.getAs[Long]("n_seqs") == nSeqs && r.getAs[Long]("sum_tok") == sumTok,
        s"shard $sh whole-side mass diverges from c120's index")
      val (nMask, tMask) = maskByShard.getOrElse(sh, (0L, 0L))
      assert(r.getAs[Long]("n_masked_docs") == nMask)
      assert(r.getAs[Long]("masked_tok") == tMask,
        s"shard $sh masked mass diverges from c146's mask rows")
      assert(r.getAs[Long]("effective_tok") ==
        r.getAs[Long]("sum_tok") - r.getAs[Long]("masked_tok"))
      masked += r.getAs[Long]("masked_tok")
    }
    assert(masked > 0L, "no masked mass at all — the budget report is vacuous")
  }

  test("c153: ledger masses reconcile with decisions and the run budget binds") {
    val rep = graft.streaming.BudgetStream.c153DoorLedger(spark, sf).collect()
    assert(rep.nonEmpty)
    var keptTotal = 0L
    for (r <- rep) {
      assert(r.getAs[Long]("n_arrivals") ==
        r.getAs[Long]("n_keep") + r.getAs[Long]("n_quota_full") +
          r.getAs[Long]("n_budget_full"))
      assert(r.getAs[Long]("survivor_tok") <= r.getAs[Long]("offered_tok"))
      assert(r.getAs[Long]("kept_tok") <= r.getAs[Long]("survivor_tok"))
      keptTotal += r.getAs[Long]("kept_tok")
    }
    assert(keptTotal <= graft.streaming.BudgetStream.ComposedBudget,
      "admitted mass exceeds the run ceiling — the ledger lies")
    // stage counts must agree with the decision-store audit (c143)
    val dec = graft.streaming.BudgetStream.c143ComposedGateAudit(spark, sf)
      .groupBy().agg(
        sum(when(col("stage") === "keep", 1L).otherwise(0L)),
        sum(when(col("stage") === "quota_full", 1L).otherwise(0L)),
        sum(when(col("stage") === "budget_full", 1L).otherwise(0L))).head
    assert(rep.map(_.getAs[Long]("n_keep")).sum == dec.getLong(0))
    assert(rep.map(_.getAs[Long]("n_quota_full")).sum == dec.getLong(1))
    assert(rep.map(_.getAs[Long]("n_budget_full")).sum == dec.getLong(2))
  }

  test("c154: register arithmetic hand-replays; the estimator picks the documented branch") {
    import spark.implicits._
    // hand-replay the 60-bit split for a planted key
    val key = "deadbeef"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val v = java.lang.Long.parseLong(md5.substring(0, 15), 16)
    val rest = v % graft.operators.TextAnalysis.HllRankBase
    val wantReg = v / graft.operators.TextAnalysis.HllRankBase
    val wantRank = if (rest == 0L) 53L else 53L - java.lang.Long.toBinaryString(rest).length
    val got = graft.operators.TextAnalysis
      .hllRegisters(Seq(key).toDF("sh8"), Seq.empty).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("reg") == wantReg && got.head.getAs[Long]("m") == wantRank,
      s"register split diverges from the hand replay: ${got.head} vs ($wantReg, $wantRank)")
    // the keyed report: branch selection + sane accuracy
    val rep = graft.operators.TextAnalysis
      .c154HllDistinct(graft.sources.Tables.documents(spark, sf)).collect()
    assert(rep.nonEmpty)
    for (r <- rep) {
      val m = graft.operators.TextAnalysis.HllRegisters
      assert(r.getAs[Long]("n_used") > 0L && r.getAs[Long]("n_used") <= m)
      val est = r.getAs[Double]("est")
      assert(est == r.getAs[Double]("raw_est") ||
        (!r.isNullAt(r.fieldIndex("lc_est")) && est == r.getAs[Double]("lc_est")),
        "est is neither the raw nor the linear-counting branch")
      val exact = r.getAs[Long]("exact_distinct").toDouble
      assert(math.abs(est - exact) / exact < 0.5,
        s"HLL error beyond any plausible band for m=256: $r")
    }
  }

  test("c148: the LIVE hand-off stream accumulates exactly the audit's schedule") {
    import graft.streaming.{BudgetStream, Door}
    val n = graft.streaming.FunnelStream.AuditBatches
    val pop = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0)
    val merges = graft.operators.TextAnalysis.storedMerges(spark, sf)
    val quotas = BudgetStream.sourceQuotas(spark, sf)
    val cuts = graft.operators.Sampling.pinnedCuts(spark, sf)
    val in = java.nio.file.Files.createTempDirectory("graft-ho-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-ho-st-").toString
    val src = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Door.live(src)(BudgetStream.processHandoffBatch(_, merges, quotas, cuts, root, _))
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(s"$root/schedule")
      .drop(graft.streaming.EventsStream.KeyBucketCol)
      .select("doc_id", "source", "bin", "shard", "pos", "batch_id")
      .orderBy("shard", "pos").collect()
    val audit = BudgetStream.c148DoorSchedule(spark, sf).collect()
    assert(live.nonEmpty)
    assert(live.length == audit.length && live.sameElements(audit),
      "live hand-off schedule diverges from the store-grain audit")
  }

  test("c156: sketch novelty tracks the exact new-shingle mass") {
    val rep = graft.operators.TextAnalysis
      .c156HllVintage(graft.sources.Tables.documents(spark, sf)).collect()
    assert(rep.nonEmpty)
    for (r <- rep) {
      assert(r.getAs[Long]("exact_new") >= 0L)
      assert(r.getAs[Long]("exact_new") ==
        r.getAs[Long]("exact_union") - r.getAs[Long]("exact_base"))
      // register tables only grow under union, so raw and LC are each
      // exactly monotone; a branch switch at the 2.5m boundary can
      // wobble a few percent — allow that, catch real breakage
      if (!r.isNullAt(r.fieldIndex("est_base")))
        assert(r.getAs[Double]("est_union") >=
          r.getAs[Double]("est_base") * 0.9 - 1e-9,
          s"union estimate far below base — register monotonicity broken: $r")
      // HLL accuracy: union estimate within a loose band of exact
      val exact = r.getAs[Long]("exact_union").toDouble
      assert(math.abs(r.getAs[Double]("est_union") - exact) / exact < 0.5)
    }
  }

  test("c157: the sketch gate's audit is a valid admission history, and the LIVE stream matches it") {
    import graft.streaming.{Door, EmbedDupStream}
    val audit = EmbedDupStream.c157SketchGateAudit(spark, sf).collect()
    assert(audit.nonEmpty)
    val admitted = audit.filter(_.getAs[Boolean]("admitted"))
      .map(_.getAs[Long]("vec_id")).toSet
    assert(admitted.nonEmpty && admitted.size < audit.length,
      "gate admitted everything or nothing — vacuous at this SF")
    // every drop cites an admitted keeper or an earlier batch anchor
    for (r <- audit if !r.getAs[Boolean]("admitted")) {
      val cite = r.getAs[Long]("dup_of")
      assert(admitted.contains(cite),
        s"vec ${r.getAs[Long]("vec_id")} dropped citing non-admitted $cite")
      assert(cite != r.getAs[Long]("vec_id"))
    }
    // the LIVE sketch-served stream accumulates the same decisions
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val n = EmbedDupStream.EmbedAuditBatches
    val band = graft.operators.Similarity.jlBand(spark, sf)
    val in = java.nio.file.Files.createTempDirectory("graft-sg-in-").toString
    for (i <- 0 until n) {
      vecs.filter(pmod(col("vec_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-sg-st-").toString
    val src = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Door.live(src)((b, _) => EmbedDupStream.processSketchBatch(b, root, band))
    try q.processAllAvailable() finally q.stop()
    val live = EmbedDupStream.decisions(spark, s"$root/decisions")
      .orderBy("vec_id").collect()
    assert(live.length == audit.length && live.sameElements(audit),
      "live sketch-gate store diverges from the audit")
  }

  test("c158: sketch routing emits a valid rank table with measured recall vs exact") {
    import graft.operators.Similarity
    val route = Similarity.c158SketchRoute(spark, sf).collect()
    assert(route.nonEmpty)
    for ((_, rows) <- route.groupBy(_.getAs[Long]("q_id"))) {
      val ranks = rows.map(_.getAs[Long]("rank")).sorted
      assert(ranks.toSeq == (1L to rows.length).toSeq, "rerank ranks not dense")
      assert(rows.forall(_.getAs[Long]("sk_rank") <= Similarity.RerankDepth),
        "a candidate escaped the stage-1 depth cut")
    }
    // measured recall@k against the full-width brute-force ground
    // truth — the dial the JlDim/depth trade is priced by. On this
    // synthetic corpus true cosines are near-uniform (tiny rank
    // gaps), the worst case for ANY router — measured ≈0.27 at
    // depth 30 / 16 dims; the spec pins the measure-don't-guess
    // invariants, not a corpus-dependent floor.
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val exact = Similarity.c6AnnTopK(emb).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val full = Similarity
      .c158SketchRoute(spark, sf, topK = Similarity.RerankDepth).collect()
    def recallOf(sel: org.apache.spark.sql.Row => Boolean): Double = {
      val byQ = full.filter(sel).groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
      val rs = exact.map { case (q, ex) =>
        byQ.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val k = graft.operators.Similarity.PqTopK
    val rerank = recallOf(_.getAs[Long]("rank") <= k)
    val sketchOnly = recallOf(_.getAs[Long]("sk_rank") <= k)
    // the two-stage theorem: exact rerank over a depth-superset can
    // only improve on serving the sketch ranking directly
    assert(rerank >= sketchOnly - 1e-9,
      f"rerank recall $rerank%.2f fell below sketch-only $sketchOnly%.2f")
    assert(rerank > 0.05, f"recall $rerank%.2f — routing surfaces nothing")
  }

  test("c159: tier masses partition the candidates and reconcile with c147's gate") {
    import graft.operators.Similarity
    val rows = Similarity.c159BandHealth(spark, sf).collect()
    assert(rows.map(_.getAs[String]("vintage")).toSeq == Seq("base", "full"))
    for (r <- rows) {
      assert(r.getAs[Long]("n_cand") ==
        r.getAs[Long]("n_proj") + r.getAs[Long]("n_esc") + r.getAs[Long]("n_reject"),
        s"tiers do not partition the candidate set: $r")
      assert(r.getAs[Long]("n_esc_admit") <= r.getAs[Long]("n_esc"))
      assert(r.getAs[Long]("n_cand") > 0L)
    }
    // the full leg's definite + escalated admissions ARE c147's output
    val full = rows.find(_.getAs[String]("vintage") == "full").get
    val gate = Similarity.c147ProjServe(spark, sf).collect()
    assert(gate.count(_.getAs[String]("tier") == "proj") == full.getAs[Long]("n_proj"),
      "monitor's sketch-definite mass diverges from the gate's proj tier")
    assert(gate.count(_.getAs[String]("tier") == "full") == full.getAs[Long]("n_esc_admit"),
      "monitor's escalated admissions diverge from the gate's full tier")
  }

  test("c160: the novelty-quota door enforces the sketch-derived budget per source") {
    import graft.streaming.BudgetStream
    val quotas = BudgetStream.noveltyQuotas(spark, sf)
    assert(quotas.values.sum <= BudgetStream.BudgetTokens,
      "novelty milles overflow the budget pool")
    val dec = BudgetStream.c160NoveltyQuota(spark, sf).collect()
    assert(dec.nonEmpty)
    val keptBySource = dec.filter(_.getAs[String]("stage") == "keep")
      .groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("n_tok")).sum).toMap
    for ((s, kept) <- keptBySource)
      assert(kept <= quotas.getOrElse(s, 0L),
        s"source $s admitted $kept tokens over its novelty quota ${quotas.getOrElse(s, 0L)}")
    assert(dec.exists(_.getAs[String]("stage") == "quota_full"),
      "no door ever closed — the novelty budget never bound")
    // same population as the volume-quota door, different plan
    val vol = BudgetStream.c128QuotaGateAudit(spark, sf).collect()
    assert(dec.map(_.getAs[Long]("doc_id")).toSet ==
      vol.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("c161: the door-side mask annotation reconciles with the registry and the schedule") {
    import graft.streaming.BudgetStream
    val masked = BudgetStream.c161DoorMask(spark, sf).collect()
    val sched = BudgetStream.c148DoorSchedule(spark, sf).collect()
    assert(masked.length == sched.length,
      "mask view and loader view disagree on the schedule rows")
    val slots = sched.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toMap
    val suites = graft.operators.TextAnalysis.BenchRegistry
    def evalHit(id: Long): Boolean = suites.exists { s =>
      val m = s.pred.split("%")(1).trim.split("=")(0).trim.toLong
      id % m == 0L
    }
    for (r <- masked) {
      val id = r.getAs[Long]("doc_id")
      assert(slots(id) == (r.getAs[Long]("shard"), r.getAs[Long]("pos")),
        s"doc $id sits in a different slot in the two views of one store")
      assert(r.getAs[Boolean]("eval_hit") == evalHit(id),
        s"doc $id mask flag diverges from the registry")
      assert(r.getAs[Long]("n_tok") >= 0L)
    }
    // the driver corpora's tight composed budget closes before any
    // registry id arrives, so the flag is structurally false there —
    // plant one: a registry member admitted through a permissive
    // door must land eval-flagged in the schedule
    import spark.implicits._
    val evalId = graft.operators.TextAnalysis.Bench2Mod.toLong // id % 89 == 0
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon", "s"),
      (evalId, "zeta eta theta iota kappa", "s")).toDF("doc_id", "text", "source")
    val cuts = Seq(("s", 1L, 0.99)).toDF("source", "bin", "cut")
    val tmp = java.nio.file.Files.createTempDirectory("r23mask").toString
    BudgetStream.processHandoffBatch(batch, Array.empty, Map("s" -> 1000000L),
      cuts, tmp, 0L, budget = 1000000L)
    val planted = spark.read.parquet(s"$tmp/schedule")
      .select("doc_id", "eval_hit").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(planted == Map(1L -> false, evalId -> true),
      s"planted registry member not flagged at the door: $planted")
  }

  test("d11: media-chunk HLL reconciles with d4's exact chunk universe") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rep = graft.operators.Multimodal.d11ChunkHll(docs).collect()
    assert(rep.map(_.getAs[String]("media_type")).sorted.toSeq ==
      Seq("audio", "image", "video"))
    val exact = graft.operators.Multimodal.d2MediaChunks(docs)
      .groupBy("media_type")
      .agg(countDistinct(col("chunk_md5")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- rep) {
      val mt = r.getAs[String]("media_type")
      assert(r.getAs[Long]("exact_distinct") == exact(mt),
        s"$mt exact audit diverges from the chunk table")
      val e = r.getAs[Double]("est")
      assert(math.abs(e - exact(mt)) / exact(mt) < 0.5,
        s"$mt HLL error beyond any plausible band: $r")
    }
  }

  test("c162: sketch-routed ADC — candidates are c158's stage 1, distances are the index's") {
    import graft.operators.Similarity
    val out = Similarity.c162SketchAdc(spark, sf).collect()
    assert(out.nonEmpty)
    for ((_, rows) <- out.groupBy(_.getAs[Long]("q_id"))) {
      val ranks = rows.map(_.getAs[Long]("rank")).sorted
      assert(ranks.toSeq == (1L to rows.length).toSeq, "ranks not dense")
      assert(rows.forall(_.getAs[Long]("sk_rank") <= Similarity.RerankDepth))
    }
    // the candidate universe IS c158's stage-1 (same artifact, same cut)
    val viaRoute = Similarity
      .c158SketchRoute(spark, sf, topK = Similarity.RerankDepth).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    for (r <- out)
      assert(viaRoute.contains((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))),
        s"c162 scored a candidate the sketch cut never surfaced: $r")
    // distances are the stored index's exact ADC: any (q, vec) pair
    // present in BOTH c162 and c79's serving carries the same adist
    val idx = Similarity.c79StoredIndexServe(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("adist")).toMap
    var shared = 0
    for (r <- out) {
      idx.get((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).foreach { d =>
        assert(d == r.getAs[Double]("adist"),
          s"ADC distance diverges between serving modes for $r (index says $d)")
        shared += 1
      }
    }
    assert(shared > 0, "no overlap with the index serve — the cross-check is vacuous")
  }

  test("c155: per-source registers max-merge to exactly the global table") {
    val r = graft.operators.TextAnalysis
      .c155HllMerge(graft.sources.Tables.documents(spark, sf)).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_diff_regs") == 0L, "merge broke the max property")
    assert(row.getAs[Long]("sum_scaled_merged") == row.getAs[Long]("sum_scaled_global"))
    assert(row.getAs[Double]("est_merged") == row.getAs[Double]("est_global"))
    assert(row.getAs[Long]("n_occupied") > 0L)
    assert(row.getAs[Long]("max_rank") >= 1L && row.getAs[Long]("max_rank") <= 53L)
  }
}
