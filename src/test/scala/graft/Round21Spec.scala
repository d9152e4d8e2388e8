package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-21 contracts: the coherence/serving round — the keeps-grain
  * sequence index (c120) closing the c104↔c117 grain mismatch, the
  * stored-index RRF fusion (c118), byte-grain BPE (c119), the
  * five-gate student pipeline (c121), and the degraded-cluster
  * index repair (c122). */
class Round21Spec extends AnyFunSuite {
  import TestSpark._

  test("c114: planted duplicates quantify the recall estimator's bias at a binding budget") {
    import spark.implicits._
    // P planted duplicate pairs (identical text, zero cross-pair
    // shingle overlap) + distinct filler — ground truth is EXACTLY
    // the P pairs, so the sampled-union recall column's bias is
    // measurable against it
    val P = 12
    val planted = (0 until P).flatMap { i =>
      val text = s"p$i q$i r$i s$i t$i u$i"
      Seq((i * 2L, text), (i * 2L + 1, text))
    }
    val filler = (0 until 30).map(i => (1000L + i, s"f$i g$i h$i j$i k$i l$i"))
    val docs = (planted ++ filler).toDF("doc_id", "text")
    def unionOf(rows: Array[org.apache.spark.sql.Row]): Long = {
      // the report's recall divides by the sampled-union dup count;
      // recover it from any geometry with dups (integers this small
      // invert the 4dp rounding exactly)
      val r = rows.filter(_.getLong(4) > 0).head
      math.round(r.getLong(4) / r.getDouble(6))
    }
    // BINDING budget: every geometry verifies at most 4 pairs
    val bound = graft.operators.Dedup.c114LshGeometry(docs, verifyCap = 4).collect()
    val uBound = unionOf(bound)
    assert(uBound < P,
      s"budget 4 did not bind — union $uBound should miss planted mass ($P)")
    for (r <- bound if r.getLong(4) > 0) {
      val (nDup, reported) = (r.getLong(4), r.getDouble(6))
      val trueRecall = nDup.toDouble / P
      // the report divides by the union — consistency…
      assert(math.abs(reported - math.rint(nDup.toDouble / uBound * 1e4) / 1e4) < 1.5e-4)
      // …and the BIAS, quantified: reported overstates ground truth
      // by exactly the factor P/union (> 1 at a binding budget)
      assert(reported > trueRecall + 1e-9,
        s"binding budget should inflate recall: reported $reported vs true $trueRecall")
      assert(math.abs(reported / trueRecall - P.toDouble / uBound) < 0.05,
        s"bias factor off: ${reported / trueRecall} vs ${P.toDouble / uBound}")
    }
    // NON-binding budget: the union covers every planted pair and the
    // estimator is exact — all geometries capture all P (identical
    // docs share every band key at every geometry)
    val free = graft.operators.Dedup.c114LshGeometry(docs, verifyCap = 100000).collect()
    assert(unionOf(free) == P, "unbounded union must equal the planted ground truth")
    for (r <- free) {
      assert(r.getLong(4) == P, s"geometry missed a planted identical pair: $r")
      assert(math.abs(r.getDouble(6) - 1.0) < 1e-9)
    }
  }

  test("c122: touched-only repair — untouched codes byte-identical, degraded error non-increasing") {
    import org.apache.spark.sql.functions._
    val K = graft.operators.Similarity.PqCodebookK
    val rows = graft.operators.Similarity.c122IndexRepair(spark, sf).collect()
    assert(rows.nonEmpty)
    // cols: cluster(0), n_vecs(1), degraded(2), retrained(3), before(4), after(5)
    assert(rows.exists(_.getBoolean(3)), "no cluster repaired — the loop never fires here")
    for (r <- rows) {
      assert(r.getBoolean(3) == (r.getBoolean(2) && r.getLong(1) >= K),
        s"retrained flag breaks its rule: $r")
      if (r.getBoolean(3))
        assert(r.getDouble(5) <= r.getDouble(4) + 1e-9,
          s"repair increased cluster error: $r")
      else
        assert(r.getDouble(5) == r.getDouble(4),
          s"unrepaired cluster's error moved: $r")
    }
    // artifact discipline: untouched clusters' codes carry over
    // byte-for-byte; repaired members are all present, same universe
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val v2 = spark.read.parquet(
      s"${graft.operators.Similarity.churnedIndexRoot(spark, emb, sf)}/codes_v2")
    val v3 = spark.read.parquet(
      s"${graft.operators.Similarity.c122RepairRoot(spark, sf)}/codes_v3")
    assert(v3.count() == v2.count(), "repair changed the codes universe")
    val repaired = rows.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    val untouched2 = v2.collect().filter(r => !repaired(r.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toSet
    val untouched3 = v3.collect().filter(r => !repaired(r.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toSet
    assert(untouched2 == untouched3, "untouched clusters' codes not byte-identical")
    // repaired members keep their coarse assignment (only codebooks
    // refine) and at least one member's codes actually changed
    val full2 = v2.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Int](2).toSeq))).toMap
    val changed = v3.collect().filter(r => repaired(r.getLong(1)))
      .count { r =>
        val (cl2, codes2) = full2(r.getLong(0))
        assert(cl2 == r.getLong(1), s"repair moved vec ${r.getLong(0)} across clusters")
        codes2 != r.getSeq[Int](2).toSeq
      }
    assert(changed > 0, "repair re-encoded nothing")
    // the local books are complete M×K grids per retrained cluster
    val books = spark.read.parquet(
      s"${graft.operators.Similarity.c122RepairRoot(spark, sf)}/codebooks_r").collect()
    val grid = books.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = for {
      c <- repaired; m <- 0 until graft.operators.Similarity.PqSubspaces
      k <- 0 until K
    } yield (c, m, k.toLong)
    assert(grid == want.toSet, "local codebook grid incomplete")
  }

  test("c129: pinned bins — old docs keep their v1 bin (ties aside), universe ≡ c105, dense positions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val bins = graft.operators.TextAnalysis.QualityBins
    val rows = graft.operators.Sampling.c129PinnedSchedule(spark, sf).collect()
    assert(rows.nonEmpty)
    // same kept universe as the free schedule; dense per-shard positions
    val free = graft.operators.Sampling.c105KeepsSchedule(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == free.map(_.getLong(0)).toSet,
      "pinned schedule's universe differs from the free one")
    for ((_, rs) <- rows.groupBy(_.getLong(3)))
      assert(rs.map(_.getLong(4)).sorted.toSeq == (1L to rs.length).toSeq)
    // v1's free bins + cuts, recomputed independently
    val docs = graft.sources.Tables.documents(spark, sf)
    val v1 = docs.filter(graft.operators.Dedup.isBaseDoc(col("doc_id")))
    val v1kept = v1.join(graft.operators.TextAnalysis.funnelDecisions(v1)
      .filter(col("stage") === "keep").select("doc_id"), Seq("doc_id"))
    val w = Window.partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
    val v1binned = v1kept.select(col("source"), col("doc_id"),
        graft.operators.TextAnalysis.qualityOf(col("text")).as("quality"))
      .withColumn("bin", ntile(bins).over(w).cast("long")).collect()
    val v1bin = v1binned.map(r => r.getLong(1) -> r.getLong(3)).toMap
    val cuts = v1binned.groupBy(r => (r.getString(0), r.getLong(3)))
      .map { case (k, rs) => k -> rs.map(_.getDouble(2)).max }
    val quality = docs.select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.qualityOf(col("text")).as("q")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    var stable = 0
    for (r <- rows) {
      val (doc, pinned) = (r.getLong(0), r.getLong(2))
      assert(pinned >= 1 && pinned <= bins)
      for (v1b <- v1bin.get(doc)) {
        val (src, q) = quality(doc)
        // pinned = first bin whose cut ≥ q: can sit BELOW the v1 bin
        // only on an exact boundary-quality tie, never above
        assert(pinned <= v1b, s"pinned bin rose above v1's: doc $doc")
        if (pinned == v1b) stable += 1
        else assert(cuts((src, pinned)) == q,
          s"doc $doc moved bins without a boundary tie")
      }
    }
    assert(stable > 0, "no doc survived with its v1 bin — pin not exercised")
  }

  test("c128: quota gate enforces c112's mixture at the door, live ≡ audit, per-source cutoffs") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{BudgetStream, FunnelStream}
    val n = FunnelStream.AuditBatches
    val audit = graft.streaming.BudgetStream.c128QuotaGateAudit(spark, sf).collect()
    assert(audit.nonEmpty)
    // quotas are EXACTLY c112's per-mille weights applied to the gate
    // budget — cross-checked against the keyed mixture report
    val quotas = BudgetStream.sourceQuotas(spark, sf)
    val milles = graft.operators.Sampling.c112RepeatMixture(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(quotas.keySet == milles.keySet)
    for ((s, q) <- quotas)
      assert(q == BudgetStream.BudgetTokens * milles(s) / 1000L, s"quota drifts from c112: $s")
    // per source: kept mass within quota, single cutoff in arrival order
    for ((src, rs) <- audit.groupBy(_.getString(1))) {
      val kept = rs.filter(_.getString(2) == "keep").map(_.getLong(3)).sum
      assert(kept <= quotas(src), s"source $src kept past its quota")
      val arrival = rs.sortBy(r => (r.getLong(0) % n, r.getLong(0)))
      val firstFull = arrival.indexWhere(_.getString(2) == "quota_full")
      if (firstFull >= 0)
        assert(arrival.drop(firstFull).forall(_.getString(2) == "quota_full"),
          s"source $src re-opened after its quota filled")
    }
    assert(audit.exists(_.getString(2) == "quota_full"), "no source's quota ever bound")
    // the LIVE stream accumulates the same decision store
    val pop = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0)
    val merges = graft.operators.TextAnalysis.storedMerges(spark, sf)
    val in = java.nio.file.Files.createTempDirectory("graft-qg-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-qg-st-").toString
    val src0 = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = BudgetStream.quotaGate(src0, merges, quotas,
      s"$root/decisions", s"$root/ledger")
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(s"$root/decisions")
      .drop(graft.streaming.EventsStream.KeyBucketCol)
      .select("doc_id", "source", "stage", "n_tok").orderBy("doc_id").collect()
    assert(live.length == audit.length && live.sameElements(audit),
      "live quota-gate store diverges from the audit")
  }

  test("c127: vintage diff — v2 side ≡ c120's index, statuses partition, added/removed zeros") {
    val rows = graft.operators.Sampling.c127SeqVintageDiff(spark, sf).collect()
    assert(rows.nonEmpty)
    // the new-vintage side IS the mounted packing c120 indexes
    val idx = graft.operators.Sampling.c120KeepsManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val v2 = rows.filter(_.getString(6) != "removed")
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(4), r.getLong(5)))).toMap
    assert(v2 == idx, "diff's v2 side disagrees with the c120 sequence index")
    for (r <- rows) {
      r.getString(6) match {
        case "added"   => assert(r.getLong(2) == 0 && r.getLong(3) == 0 && r.getLong(4) > 0)
        case "removed" => assert(r.getLong(4) == 0 && r.getLong(5) == 0 && r.getLong(2) > 0)
        case "same"    => assert(r.getLong(2) == r.getLong(4) && r.getLong(3) == r.getLong(5))
        case "changed" => assert(r.getLong(2) > 0 && r.getLong(4) > 0)
        case s => fail(s"unknown status $s")
      }
    }
    // the vintage genuinely differs (the base cut drops ~20% of docs,
    // which must move at least one sequence)
    assert(rows.exists(_.getString(6) != "same"), "vintage diff saw no movement")
  }

  test("c126: live budget gate ≡ audit, cutoff is a single arrival-order point, budget honored") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{BudgetStream, FunnelStream}
    val budget = BudgetStream.BudgetTokens
    val n = FunnelStream.AuditBatches
    val audit = BudgetStream.c126BudgetGateAudit(spark, sf).collect()
    assert(audit.nonEmpty)
    // both stages fire (the constant is sized to bind at driver SFs)
    val stages = audit.map(_.getString(1)).toSet
    assert(stages == Set("keep", "budget_full"), s"gate never cut (or never kept): $stages")
    // kept mass within budget; the cutoff is one point in arrival
    // order (batch = doc_id % n, then doc_id): once full, always full
    assert(audit.filter(_.getString(1) == "keep").map(_.getLong(2)).sum <= budget)
    val arrival = audit.sortBy(r => (r.getLong(0) % n, r.getLong(0)))
    val firstFull = arrival.indexWhere(_.getString(1) == "budget_full")
    assert(firstFull > 0)
    assert(arrival.drop(firstFull).forall(_.getString(1) == "budget_full"),
      "gate re-opened after the budget filled")
    val beforeCut = arrival.take(firstFull).map(_.getLong(2)).sum
    assert(beforeCut <= budget && beforeCut + arrival(firstFull).getLong(2) > budget,
      "cutoff point doesn't sit exactly at the overflow")
    // the LIVE stream accumulates the same decision store
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val pop = docs.filter(col("doc_id") % 97 =!= 0)
    val merges = graft.operators.TextAnalysis.storedMerges(spark, sf)
    val in = java.nio.file.Files.createTempDirectory("graft-bg-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-bg-st-").toString
    val src = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = BudgetStream.budgetGate(src, merges, s"$root/decisions", s"$root/ledger")
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(s"$root/decisions")
      .drop(graft.streaming.EventsStream.KeyBucketCol)
      .select("doc_id", "stage", "n_tok").orderBy("doc_id").collect()
    assert(live.length == audit.length && live.sameElements(audit),
      "live budget-gate store diverges from the audit")
    // at-least-once replay: re-offering every file changes nothing
    val src2 = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q2 = BudgetStream.budgetGate(src2, merges, s"$root/decisions", s"$root/ledger")
    try q2.processAllAvailable() finally q2.stop()
    val replayed = spark.read.parquet(s"$root/decisions")
      .drop(graft.streaming.EventsStream.KeyBucketCol)
      .select("doc_id", "stage", "n_tok").orderBy("doc_id").collect()
    assert(replayed.sameElements(audit), "replay changed budget decisions")
  }

  test("c125: fusion recall audit — bounds hold and fused hits reconcile with c118's own report") {
    val k = graft.operators.Similarity.RrfTopK
    val rows = graft.operators.Similarity.c125FusionRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    // ground truth derived independently: the exact dense top-k over
    // the held-out corpus (c109's report can't supply it — its sem
    // rows are post-fused-cut)
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val qPred = col("vec_id") % 101 === 0 &&
      col("vec_id") < graft.operators.Similarity.RrfQueryBound
    val qs = emb.filter(qPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val gt = graft.operators.Similarity
      .c6AnnTopK(emb.filter(col("vec_id") % 101 =!= 0), Some(qs), k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val fused = graft.operators.Similarity.c118RrfStored(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(rows.map(_.getLong(0)).toSet == gt.keySet, "audit misses a query")
    for (r <- rows) {
      val q = r.getLong(0)
      for (i <- Seq(1, 3, 5)) assert(r.getLong(i) >= 0 && r.getLong(i) <= k)
      for ((h, rec) <- Seq((1, 2), (3, 4), (5, 6))) {
        val want = BigDecimal.valueOf(r.getLong(h).toDouble / k)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(rec) - want) < 1e-9, s"recall arithmetic broken: $r")
      }
      // independent cross-check: fused_hits == |c118's fused top-k ∩
      // the exact dense top-k c109 reports|
      assert(r.getLong(3) == (fused(q) intersect gt(q)).size,
        s"fused_hits disagrees with the keyed reports: $r")
      // the dense leg re-ranks stored candidates by the SAME metric
      // the ground truth ranks by, so any candidate it recovers is a
      // hit c118's fused report can at most dilute, never invent:
      // fused hits never exceed dense hits + the lexical ceiling
      assert(r.getLong(3) <= r.getLong(1) + r.getLong(5),
        s"fused hits exceed the legs' union ceiling: $r")
    }
  }

  test("c124: yield report reconciles with the funnel, tokenizer, and span tiers") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.TextAnalysis.c124SourceYield(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
    val popN = docs.filter(col("doc_id") % 97 =!= 0).count()
    assert(rows.map(_.getLong(1)).sum == popN, "per-source docs don't cover the population")
    // keeps reconcile with c50's funnel report
    val c50keep = graft.operators.TextAnalysis.c50CurationFunnel(docs).collect()
      .find(_.getString(1) == "keep").map(_.getLong(2)).getOrElse(0L)
    assert(rows.map(_.getLong(2)).sum == c50keep, "keeps don't reconcile with c50")
    for (r <- rows) {
      val (nDocs, nKept) = (r.getLong(1), r.getLong(2))
      val (bpeRaw, bpeKept) = (r.getLong(4), r.getLong(5))
      val (wsKept, wsCut) = (r.getLong(6), r.getLong(7))
      val (netEst, yld) = (r.getLong(9), r.getDouble(10))
      assert(nKept <= nDocs && bpeKept <= bpeRaw && wsCut <= wsKept,
        s"mass grows through the funnel: $r")
      val expectNet =
        if (wsKept > 0) bpeKept - (bpeKept * wsCut) / wsKept else bpeKept
      assert(netEst == expectNet, s"net-estimate arithmetic broken: $r")
      assert(netEst <= bpeKept && netEst >= 0)
      val expectYield = BigDecimal.valueOf(netEst.toDouble / bpeRaw)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(yld - expectYield) < 1e-9, s"yield arithmetic broken: $r")
    }
    // span dedup ran over the KEPT corpus: total cut mass matches
    // c34 on exactly the kept docs
    val keptIds = graft.operators.Sampling.c105KeepsSchedule(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = docs.filter(col("doc_id").isInCollection(keptIds))
    val cutTotal = graft.operators.Dedup.c34SpanCuts(kept).collect()
      .map(_.getLong(2)).sum
    assert(rows.map(_.getLong(7)).sum == cutTotal,
      "cut mass doesn't reconcile with c34 over the kept corpus")
  }

  test("c123: repaired serving — unrepaired evidence identical to c82, repair observable, ranks sound") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Similarity.c123RepairedServe(spark, sf).collect()
    val base = graft.operators.Similarity.c82IndexChurnServe(spark, sf).collect()
    assert(got.nonEmpty)
    // same query universe, dense ranks, non-decreasing adist, no
    // dropped vectors, no self-hits
    assert(got.map(_.getLong(0)).toSet == base.map(_.getLong(0)).toSet)
    for ((q, rs) <- got.groupBy(_.getLong(0))) {
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
      val dists = sorted.map(_.getDouble(3))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b + 1e-9 },
        s"adist not non-decreasing for query $q")
      for (r <- rs) {
        assert(r.getLong(2) % 11 != 4, s"dropped vector served: $r")
        assert(r.getLong(2) != q, s"self-hit served: $r")
      }
    }
    // the repair is OBSERVABLE in serving (some query's top-k moved)
    val gotSet = got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val baseSet = base.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(gotSet != baseSet, "repaired serving identical to pre-repair — repair invisible")
    // incremental safety: a candidate in an UNrepaired cluster scores
    // identically in both indexes wherever it appears (same books,
    // same codes — only repaired clusters' evidence may move)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val repaired = graft.operators.Similarity.c122IndexRepair(spark, sf).collect()
      .filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    val clusterOf = spark.read.parquet(
        s"${graft.operators.Similarity.churnedIndexRoot(spark, emb, sf)}/codes_v2")
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseBy = base.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    for (r <- got if !repaired(clusterOf(r.getLong(2)))) {
      for (d <- baseBy.get((r.getLong(0), r.getLong(2))))
        assert(math.abs(d - r.getDouble(3)) < 1e-12,
          s"unrepaired candidate's score moved: $r vs $d")
    }
  }

  test("c121: live five-gate student stream accumulates the same stores as the audit replay") {
    import org.apache.spark.sql.functions._
    import graft.streaming.FunnelStream
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val pop = docs.filter(col("doc_id") % 97 =!= 0).join(vecs, Seq("doc_id"))
    val bits = SessionMemo.frame("c67_bits", docs)(
      TextAnalysis.bloomBitsFromKeys(
        TextAnalysis.docShingles8Direct(docs.filter(col("doc_id") % 97 === 0))))
    val wE6 = TextAnalysis.storedClassifierWeights(spark, sf)
    val n = FunnelStream.AuditBatches
    val in = java.nio.file.Files.createTempDirectory("graft-g5q-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50) // distinct mtimes → batch order = poll order
    }
    val root = java.nio.file.Files.createTempDirectory("graft-g5q-st-").toString
    val src = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = FunnelStream.funnelGate5Student(src, bits,
      s"$root/decisions", s"$root/keep", s"$root/bands",
      s"$root/vecs", s"$root/buckets", s"$root/spans", s"$root/postings", wE6)
    try q.processAllAvailable() finally q.stop()
    val live = FunnelStream.gate5Result(spark, root).collect()
    val audit = FunnelStream.c121Gate5Student(spark, sf).collect()
    assert(live.length == audit.length, s"live ${live.length} vs audit ${audit.length}")
    assert(live.sameElements(audit), "live student five-gate stores diverge from the audit")
    // the swap is OBSERVABLE: stage 1 is the classifier's verdict
    // (cascade reasons collapse to low_quality) and the full gate set
    // still fires
    val stages = audit.map(_.getString(1)).toSet
    assert(!stages.exists(Set("too_short", "non_en", "repetitive", "pii_heavy")),
      s"teacher cascade reasons leaked into the student pipeline: $stages")
    assert(stages.contains("keep"))
    // the survivor population genuinely differs from the teacher-gated
    // five-gate audit (the point of the store-grain proof: downstream
    // stateful gates see a different world)
    val teacher = FunnelStream.c85Gate5Pipeline(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val moved = audit.count(r => teacher(r.getLong(0)) != r.getString(1))
    assert(moved > 0, "student swap changed no decision — swap not observable")
  }

  test("c118: stored-index fusion — lex leg ≡ c109's, arithmetic closes, refine theorem holds") {
    val k = graft.operators.Similarity.RrfTopK
    val c = graft.operators.Similarity.RrfC
    val depth = graft.operators.Similarity.RerankDepth
    val fused = graft.operators.Similarity.c118RrfStored(spark, sf).collect()
    val base = graft.operators.Similarity.c109RrfFusion(spark, sf).collect()
    assert(fused.nonEmpty)
    // cols: q_id(0), rank(1), doc_id(2), lex_rank(3), sem_rank(4), adc_rank(5), rrf(6)
    // the lexical leg is the SAME kernel at the same depth, but each
    // report's top-k cut shows a different candidate slice — so the
    // check is consistency on the SHARED candidates (same lex_rank or
    // same absence, (q_id, doc_id) for (q_id, doc_id)) plus identical
    // lexical-only winners (a candidate no dense leg touches fuses
    // identically in both reports)
    val baseByKey = base.map(r => (r.getLong(0), r.getLong(2)) -> r).toMap
    for (r <- fused; b <- baseByKey.get((r.getLong(0), r.getLong(2)))) {
      assert(r.isNullAt(3) == b.isNullAt(3)
          && (r.isNullAt(3) || r.getLong(3) == b.getLong(3)),
        s"shared candidate's lex evidence differs: $r vs $b")
    }
    val lexOnly = fused.filter(r => !r.isNullAt(3) && r.isNullAt(4))
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val baseLexOnly = base.filter(r => !r.isNullAt(3) && r.isNullAt(4))
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // c118's lexical-only rows are a superset is NOT guaranteed either
    // (rank crowding differs); what IS: any lexical-only row in BOTH
    // reports carries the same rank — covered by the shared check —
    // and the lexical evidence never contradicts (no pair has
    // different lex_ranks across reports)
    val contra = (lexOnly.map(t => (t._1, t._2)) intersect baseLexOnly.map(t => (t._1, t._2)))
      .filter(k => lexOnly.filter(t => (t._1, t._2) == k).map(_._3)
        != baseLexOnly.filter(t => (t._1, t._2) == k).map(_._3))
    assert(contra.isEmpty, s"lexical evidence contradicts across reports: $contra")
    for ((q, rs) <- fused.groupBy(_.getLong(0))) {
      val ranks = rs.map(_.getLong(1)).sorted.toSeq
      assert(ranks == (1 to rs.length).map(_.toLong) && rs.length <= k, s"query $q ranks not dense top-$k")
    }
    for (r <- fused) {
      val lex = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val sem = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(lex.nonEmpty || sem.nonEmpty, s"candidate surfaced by neither leg: $r")
      // the dense leg always carries its ADC provenance, within depth
      assert(sem.isEmpty == r.isNullAt(5), s"sem/adc provenance mismatch: $r")
      if (!r.isNullAt(5)) assert(r.getLong(5) >= 1 && r.getLong(5) <= depth)
      assert(sem.forall(_ <= k) && lex.forall(_ <= k))
      // held-out discipline: no query-slice doc is ever a candidate
      assert(r.getLong(2) % 101 != 0, s"query-slice doc served as candidate: $r")
      val expect = lex.map(x => 1.0 / (c + x)).getOrElse(0.0) +
        sem.map(x => 1.0 / (c + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(6) - expect) < 1e-6, s"rrf arithmetic broken: $r")
    }
    // c113's refine theorem on the frame the fusion consumes: per
    // query, top-k by the exact-cosine re-rank recalls at least as
    // much of the exact baseline as top-k by raw ADC rank
    val exact = base.filter(!_.isNullAt(4))
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val leg = graft.operators.Similarity.storedDenseLeg(spark, sf).collect()
    for ((q, rs) <- leg.groupBy(_.getLong(0))) {
      val ex = exact(q)
      val byAdc = rs.sortBy(_.getLong(2)).take(k).map(_.getLong(1)).toSet
      val bySem = rs.sortBy(_.getLong(4)).take(k).map(_.getLong(1)).toSet
      assert((bySem intersect ex).size >= (byAdc intersect ex).size,
        s"refine lost recall for query $q")
    }
  }

  test("c119: byte-grain BPE — hex alphabet, byte mass, ASCII-corpus isomorphism with char grain") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // learned merges live in the lowercase-hex alphabet, even length
    // (every symbol is a whole number of bytes)
    val merges = graft.operators.TextAnalysis
      .c75BpeTrain(docs, grain = graft.operators.TextAnalysis.ByteGrain).collect()
    assert(merges.nonEmpty)
    for (m <- merges; s <- Seq(m.getString(1), m.getString(2))) {
      assert(s.matches("[0-9a-f]+") && s.length % 2 == 0, s"non-byte symbol in merge: $m")
    }
    val bytes = graft.operators.TextAnalysis.c119BpeBytes(docs).collect()
    val chars = graft.operators.TextAnalysis.c76BpeTrainedEncode(docs).collect()
    // the driver corpus is pure ASCII (pinned below), so hex pairs ↔
    // code points are a bijection and the two grains' merge sequences
    // are isomorphic: identical rows, column for column
    assert(docs.filter(org.apache.spark.sql.functions.expr(
      "octet_length(text) <> length(text)")).count() == 0, "corpus not ASCII — spec premise broken")
    assert(bytes.length == chars.length)
    val byId = chars.map(r => r.getLong(0) -> r).toMap
    for (b <- bytes) {
      val c = byId(b.getLong(0))
      assert(b.getLong(1) == c.getLong(1) && b.getLong(2) == c.getLong(2)
        && b.getLong(3) == c.getLong(3),
        s"byte/char grain diverge on the ASCII corpus: $b vs $c")
    }
    // compression is bounded by 1 (a merge never grows a token count
    // past one unit per byte)
    for (b <- bytes if !b.isNullAt(4)) assert(b.getDouble(4) <= 1.0 + 1e-9)
  }

  test("c120: indexes exactly c111's sequences; c117's plan resolves in it, both directions") {
    val budget = graft.operators.Sampling.DefaultTokenBudget
    val idx = graft.operators.Sampling.c120KeepsManifest(spark, sf).collect()
    assert(idx.nonEmpty)
    val pack = graft.operators.Sampling.c111KeepsPack(spark, sf).collect()
    // the index aggregates the MOUNTED packing exactly: same key set,
    // same per-sequence doc count / token mass / pos extent / bin range
    val groups = pack.groupBy(r => (r.getLong(3), r.getLong(5)))
    assert(idx.map(r => (r.getLong(0), r.getLong(1))).toSet == groups.keySet,
      "index keys != mounted packing's sequences")
    for (r <- idx) {
      val g = groups((r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) == g.length, s"n_docs wrong for $r")
      assert(r.getLong(3) == g.map(_.getLong(7)).sum, s"sum_tok wrong for $r")
      assert(r.getLong(4) == g.map(_.getLong(4)).min && r.getLong(5) == g.map(_.getLong(4)).max,
        s"pos extent wrong for $r")
      assert(r.getLong(6) == g.map(_.getLong(2)).max && r.getLong(7) == g.map(_.getLong(2)).min,
        s"bin range wrong for $r")
      val fill = BigDecimal.valueOf(r.getLong(3).toDouble / budget)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(8) - fill) < 1e-9, s"fill_frac wrong for $r")
    }
    // the epoch plan's (shard, seq_id) rows resolve in THIS index —
    // and the index carries nothing the plan won't read (c117 reads
    // every packed sequence each epoch, so the sets are equal)
    val plan = graft.operators.Sampling.c117EpochPlan(spark, sf).collect()
      .filter(_.getLong(0) == 0L)
    assert(plan.map(r => (r.getLong(1), r.getLong(2))).toSet ==
      idx.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "epoch plan and sequence index disagree about which sequences exist")
    val idxByKey = idx.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    for (p <- plan) {
      val r = idxByKey((p.getLong(1), p.getLong(2)))
      assert(p.getLong(4) == r.getLong(2) && p.getLong(5) == r.getLong(3),
        s"plan row $p disagrees with the index about the sequence's content")
    }
  }
}
