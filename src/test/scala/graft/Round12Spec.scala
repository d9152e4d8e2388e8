package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.streaming.{FunnelStream, SpanStream}

/** Round-12 contracts for the completed Jégou §V PQ stack: the
  * per-subspace trainer descends its objective, residual IVFADC
  * out-ranks non-residual at equal code budget on a clustered
  * corpus (the residual trick's whole payoff), and the c66 audit is
  * consistent with the operators it audits. */
class Round12Spec extends AnyFunSuite {
  import TestSpark._

  // ---- planted clustered corpus ---------------------------------------
  // 16 widely separated cluster centers (ids 0..15 — the coarse
  // centroids AND the PQ seed vectors), plus 20 members of cluster 5:
  // center + ε·(odd-dim pattern orthogonal to every center). Center
  // support lives on EVEN dims only, so the offsets are orthogonal to
  // all centers — cosine to the home center is monotone decreasing in
  // ε, and the true top-10 for query 5 is exactly the 10 smallest-ε
  // members. ids 100..109 carry LARGE offsets, 110..119 SMALL ones:
  // a server that loses the offsets (raw codes — every member
  // quantizes onto codeword 5's slice) ties at equal adist and picks
  // the LOW ids; the residual server encodes the offsets and picks
  // the true set.
  private val Dim = 64

  private def center(j: Int): Array[Float] =
    Array.tabulate(Dim)(d =>
      if (d % 2 == 0) (math.sin(j * 101 + d * 13) * 20).toFloat else 0.0f)

  private def member(i: Long, eps: Double): (Long, Array[Float]) = {
    val c = center(5)
    val off = Array.tabulate(Dim)(d =>
      if (d % 2 == 1) (eps * math.cos(i * 7 + d * 3)).toFloat else 0.0f)
    (i, Array.tabulate(Dim)(d => c(d) + off(d)))
  }

  private def clusteredCorpus = {
    import spark.implicits._
    val centers = (0 until 16).map(j => (j.toLong, center(j)))
    val big = (100L to 109L).map(i => member(i, 6.0 + (i - 100) * 0.2))
    val small = (110L to 119L).map(i => member(i, 0.2 + (i - 110) * 0.05))
    (centers ++ big ++ small).toDF("vec_id", "embedding")
  }

  private def recallOf(approx: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame, qId: Long, k: Int): Double = {
    val exact = Similarity.c6AnnTopK(emb, Some(Similarity.defaultQueries(emb, 16)), k)
      .filter(col("q_id") === qId).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = approx.filter(col("q_id") === qId).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    got.intersect(exact).size.toDouble / k
  }

  test("c65 residual IVFADC beats non-residual at equal code budget on the clustered plant") {
    val emb = clusteredCorpus
    val k = Similarity.PqTopK
    // non-residual (c60, seed books): every cluster-5 member encodes
    // onto the center's codes → equal adist → vec_id ties pick the
    // large-offset low ids
    val plain = recallOf(Similarity.c60IvfPqAdc(emb, nQueries = 16), emb, 5L, k)
    // residual (c65): codes carry the offsets → the true small-ε set
    val resid = recallOf(Similarity.c65IvfPqResidual(emb, nQueries = 16), emb, 5L, k)
    assert(resid >= plain, s"residual $resid < non-residual $plain")
    assert(resid >= 0.9, s"residual recall $resid — offsets not resolved")
    assert(plain <= 0.5, s"non-residual recall $plain — plant did not create the tie trap")
  }

  test("trained codebooks descend the quantization objective (real corpus + plant)") {
    val real = graft.sources.Tables.embeddings(spark, sf)
    val seedD = Similarity.pqDistortion(real, Similarity.seedBooksOf(real))
    val trainedD = Similarity.pqDistortion(real,
      Similarity.collectBooks(Similarity.trainPqCodebooks(
        real.select(col("vec_id"), col("embedding").cast("array<double>").as("v")))))
    assert(trainedD <= seedD + 1e-9, s"trained $trainedD > seed $seedD on the real corpus")
    val emb = clusteredCorpus
    val seedP = Similarity.pqDistortion(emb, Similarity.seedBooksOf(emb))
    val trainedP = Similarity.pqDistortion(emb,
      Similarity.collectBooks(Similarity.trainPqCodebooks(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")))))
    assert(trainedP <= seedP + 1e-9, s"trained $trainedP > seed $seedP on the plant")
  }

  test("c64 serving over trained books keeps the c47 output contract and does not degrade recall") {
    val emb = clusteredCorpus
    val k = Similarity.PqTopK
    val out = Similarity.c64PqTrained(emb, nQueries = 16)
    val rows = out.collect()
    // contract: dense ranks, adist non-decreasing, k-bounded per query
    for ((q, rs0) <- rows.groupBy(_.getLong(0))) {
      val rs = rs0.sortBy(_.getLong(1))
      assert(rs.length <= k)
      assert(rs.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq, s"q $q ranks not dense")
      val ds = rs.map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, s"q $q adist not monotone")
    }
    val seed = recallOf(Similarity.c47PqAdc(emb, nQueries = 16), emb, 5L, k)
    val trained = recallOf(out, emb, 5L, k)
    assert(trained >= seed - 1e-9, s"trained recall $trained < seed recall $seed")
  }

  test("c66 audit is consistent with the shipped operators and monotone in nprobe") {
    val real = graft.sources.Tables.embeddings(spark, sf)
    val cells = Similarity.c66IvfPqRecall(real).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(cells.keySet == (for {
      np <- Similarity.RecallNprobes; mb <- Similarity.RecallMBudgets
    } yield (np, mb)).toSet)
    val nQ = Similarity.DefaultQueryCount.toLong
    assert(cells.values.forall(_._1 == nQ), "every cell prices the full query set")
    // independent recomputation of the (DefaultNProbe, full-code)
    // cell from c60's own output vs the exact baseline — c55's proof
    // pattern over the audit
    val k = Similarity.PqTopK
    val exact = Similarity.c6AnnTopK(real, Some(Similarity.defaultQueries(real)), k)
      .select(col("q_id"), col("vec_id")).withColumn("hit", lit(1L))
    val indep = Similarity.c60IvfPqAdc(real)
      .join(exact, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id").agg(sum(coalesce(col("hit"), lit(0L))).as("h"))
      .agg(sum(col("h"))).head.getLong(0)
    // mean over ALL queries, missing queries at 0 — the audit's grid
    val fromCells = cells((Similarity.DefaultNProbe, Similarity.PqSubspaces))._2
    val recomputed = BigDecimal(indep.toDouble / (nQ * k))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(fromCells - recomputed) <= 2e-4,
      s"audit cell $fromCells vs independent $recomputed")
    // more probes never lose recall AT FULL CODE BUDGET (at truncated
    // budgets they measurably can — extra probes admit truncated-code
    // false positives; measured 0.148/0.144/0.153 at m_budget 4 on
    // this corpus — which is exactly why the audit prices the grid
    // instead of asserting folklore)
    val byNp = Similarity.RecallNprobes.map(np => cells((np, Similarity.PqSubspaces))._2)
    assert(byNp.zip(byNp.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"recall not monotone in nprobe at full code budget: $byNp")
    // and at every nprobe, the full code budget beats the truncated one
    for (np <- Similarity.RecallNprobes) {
      val byMb = Similarity.RecallMBudgets.map(mb => cells((np, mb))._2)
      assert(byMb.zip(byMb.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"recall not monotone in code budget at nprobe $np: $byMb")
    }
  }

  test("c73's default cell equals an independent recall recomputation from c71's rows") {
    // c66's proof pattern one tier up: the trained grid's
    // (DefaultNProbe, full-code) cell IS c71's serve at the default
    // dial, recomputed here from c71's own output vs the exact baseline
    val real = graft.sources.Tables.embeddings(spark, sf)
    val cells = Similarity.c73TrainedRecallGrid(real).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val nQ = Similarity.DefaultQueryCount.toLong
    val k = Similarity.PqTopK
    val exact = Similarity.c6AnnTopK(real, Some(Similarity.defaultQueries(real)), k)
      .select(col("q_id"), col("vec_id")).withColumn("hit", lit(1L))
    val hits = Similarity.c71IvfPqTrained(real)
      .join(exact, Seq("q_id", "vec_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0L)))).head.getLong(0)
    // mean over ALL queries, missing queries at 0 — the grid's stance
    val (nCell, fromCell) = cells((Similarity.DefaultNProbe, Similarity.PqSubspaces))
    assert(nCell == nQ, "the cell prices the full query set")
    val recomputed = BigDecimal(hits.toDouble / (nQ * k))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(fromCell - recomputed) <= 2e-4,
      s"c73 cell $fromCell vs independent c71 recomputation $recomputed")
  }

  test("c71 fully-trained IVFPQ keeps the serving contract and beats seed-residual on the plant") {
    val emb = clusteredCorpus
    val k = Similarity.PqTopK
    val out = Similarity.c71IvfPqTrained(emb, nQueries = 16)
    val rows = out.collect()
    for ((q, rs0) <- rows.groupBy(_.getLong(0))) {
      val rs = rs0.sortBy(_.getLong(1))
      assert(rs.length <= k)
      assert(rs.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq, s"q $q ranks not dense")
    }
    // trained coarse + residual books resolve the planted offsets at
    // least as well as the seed-centroid residual path
    val seedCent = recallOf(Similarity.c65IvfPqResidual(emb, nQueries = 16), emb, 5L, k)
    val trained = recallOf(out, emb, 5L, k)
    assert(trained >= seedCent - 1e-9, s"trained-coarse $trained < seed-coarse $seedCent")
  }

  test("c70 variant report is consistent with c66's matching cell") {
    val real = graft.sources.Tables.embeddings(spark, sf)
    val v70 = Similarity.c70AdcVariants(real).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val c66cell = Similarity.c66IvfPqRecall(real).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    // the 'ivfadc' variant at the default dial IS c66's
    // (DefaultNProbe, full-code) cell — two spellings, one number
    assert(math.abs(v70("ivfadc")
        - c66cell((Similarity.DefaultNProbe, Similarity.PqSubspaces))) <= 1e-9,
      s"c70 ivfadc ${v70("ivfadc")} != c66 cell")
    assert(v70.contains("ivfadc_residual") && v70.size == 2)
  }

  test("c73 trained grid: structural contract on the real corpus (win measured, not asserted)") {
    // The trained-beats-seed INEQUALITY is pinned on the plant (the
    // c71 test above); here the corpus is one whose scale the DRIVER
    // controls, so the measured ordering is a REPORT, not an
    // assertion (the r9 c78 lesson: at tiny sf the seed/trained
    // alignment with real data is not a theorem). Structure IS
    // asserted: same grid, full query set per cell, monotone nprobe.
    val real = graft.sources.Tables.embeddings(spark, sf)
    val trained = Similarity.c73TrainedRecallGrid(real).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val seed = Similarity.c66IvfPqRecall(real).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(trained.keySet == seed.keySet)
    // measured at sf0.01 the trained grid WINS every cell (e.g. 0.292
    // vs 0.187 at nprobe 4, full code); record the comparison for the
    // log without asserting it at driver-chosen scales
    info(s"trained-vs-seed cells: ${trained.toSeq.sorted.map { case (c, t) =>
      s"$c ${t}%>=%${seed(c)}" }.mkString(", ")}")
    assert(trained.values.forall(v => v >= 0.0 && v <= 1.0))
    // and stays monotone in nprobe at full code budget
    val byNp = Similarity.RecallNprobes.map(np =>
      trained((np, Similarity.PqSubspaces)))
    assert(byNp.zip(byNp.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"trained grid not monotone in nprobe at full budget: $byNp")
  }

  test("c72 cuts exactly the cross-batch spans; within-batch spans stay deferred") {
    import spark.implicits._
    import graft.streaming.SpanStream
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val span1 = toks("x", 20)
    val span2 = toks("y", 20)
    // batch geometry at SpanAuditBatches = 2: even doc_ids poll
    // first. ids 4 (batch 0) and 7 (batch 1) share span1 → the
    // batch-1 arrival is cut; ids 5 and 9 are BOTH batch 1 → their
    // shared span2 is within-batch, deferred to the at-rest run,
    // never in the store
    val docs = Seq(
      4L -> (toks("a", 5) ++ span1).mkString(" "),
      7L -> (toks("b", 2) ++ span1 ++ toks("bz", 3)).mkString(" "),
      5L -> (toks("c", 4) ++ span2).mkString(" "),
      9L -> (toks("d", 6) ++ span2).mkString(" "))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    // drive through a scratch parquet dir so the keyed entry's
    // (spark, dir) contract is exercised end-to-end
    val dir = java.nio.file.Files.createTempDirectory("graft-c72-").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = SpanStream.c72SpanExec(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(4L, 5L, 7L, 9L))
    assert(out(7L)._2 == 20L, s"cross-batch span not cut: ${out(7L)}")
    assert(out(7L)._3 == out(7L)._1 - 20L)
    assert(out(4L)._2 == 0L, "the stored keeper was cut")
    assert(out(5L)._2 == 0L && out(9L)._2 == 0L,
      "a within-batch span leaked into the store")
  }

  test("c74 pins the exact span coordinates for the c69 plant pair") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val quote = toks("q", 40)
    val docs = Seq(
      1L -> quote.mkString(" "),
      2L -> (toks("pre", 100) ++ quote ++ toks("post", 100)).mkString(" "),
      3L -> toks("z", 60).mkString(" "))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val rows = TextAnalysis.c74WinnowSpans(docs).collect()
    assert(rows.nonEmpty, "no span evidence for the surfaced pair")
    val r = rows.find(x => x.getLong(0) == 1L && x.getLong(1) == 2L)
    assert(r.isDefined, s"plant pair missing: ${rows.mkString(";")}")
    // the quote sits verbatim at position 100 of doc 2, 0 of doc 1
    assert(r.get.getLong(2) == 0L && r.get.getLong(3) == 100L
      && r.get.getLong(4) == 40L, s"wrong span coordinates: ${r.get}")
  }

  test("c75 learns second-order merges the static ranking cannot see") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // a corpus dominated by one word: the only way to 1 symbol is
    // chained merges through symbols created by EARLIER steps
    val docs = Seq(
      1L -> Seq.fill(50)("the").mkString(" "),
      2L -> "a b c d e f g h i j")
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val learned = TextAnalysis.c75BpeTrain(docs, iters = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(learned.length == 2, learned.mkString(";"))
    // step 1: t+h or h+e (both total 50; ties break (a, b) asc → h+e)
    assert(learned(0) == ((1, "h", "e", 50L)), learned(0))
    // step 2 merges t with the CREATED symbol "he" — a pair that did
    // not exist in the step-1 counts; c40's one-shot ranking can
    // never emit a multi-char merge
    assert(learned(1) == ((2, "t", "he", 50L)), learned(1))
    // and its step-1 pick agrees with c40's top pair on the same corpus
    val c40top = TextAnalysis.c40BpePairs(docs, 1).collect().head.getString(0)
    assert(c40top == learned(0)._2 + learned(0)._3,
      s"step-1 merge ${learned(0)} disagrees with c40 top '$c40top'")
  }

  test("c76 learned-list encode beats the static-list encode where merges chain") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      1L -> Seq.fill(50)("the").mkString(" "),
      2L -> "a b c d e f g h i j")
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    def bpeOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val static = bpeOf(TextAnalysis.c57BpeEncode(docs, nMerges = 2))
    val learned = bpeOf(TextAnalysis.c76BpeTrainedEncode(docs, nMerges = 2))
    // static top-2 from ONE count: h+e and t+h — but after h+e
    // applies, t·h is never adjacent, so "the" stays 2 symbols;
    // the trainer's step 2 picks t+he instead and reaches 1
    assert(learned(1L) == 50L, s"learned encode ${learned(1L)} — chain merge not applied")
    assert(static(1L) == 100L, s"static encode ${static(1L)} — plant assumption broken")
    assert(learned(1L) < static(1L))
  }

  // ---- c67/c68: the store-grain audits --------------------------------

  test("c67 store decisions partition the population and every duplicate cites a kept doc") {
    val out = FunnelStream.c67GateStoreAudit(spark, sf)
    val rows = out.collect()
    val pop = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 =!= 0).count()
    assert(rows.length == pop, s"${rows.length} decisions for $pop population docs")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "one decision per doc")
    val kept = rows.filter(_.getString(1) == "keep").map(_.getLong(0)).toSet
    val dups = rows.filter(_.getString(1) == "duplicate")
    // the gate's precision guarantee: every drop cites a VERIFIED
    // near-dup that was actually kept — never a dropped doc
    assert(dups.forall(r => !r.isNullAt(2) && kept.contains(r.getLong(2))),
      "a duplicate cites a non-kept doc")
    // non-novelty stages carry no dup_of
    assert(rows.filter(r => r.getString(1) != "duplicate").forall(_.isNullAt(2)))
  }

  test("c69 surfaces a quoted doc at high containment where c2's symmetric jaccard dilutes") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val quote = toks("q", 40)
    val docs = Seq(
      // the short original
      1L -> quote.mkString(" "),
      // the long doc QUOTING it verbatim inside 200 unrelated tokens
      2L -> (toks("pre", 100) ++ quote ++ toks("post", 100)).mkString(" "),
      // unrelated background
      3L -> toks("z", 60).mkString(" "))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val pair = TextAnalysis.c69WinnowPairs(docs)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L).collect()
    assert(pair.length == 1, "quoted pair not surfaced by the winnow tier")
    assert(pair.head.getDouble(3) >= 0.8,
      s"containment ${pair.head.getDouble(3)} — quote not near-fully contained")
    // c2's symmetric jaccard on the same pair dilutes toward the
    // length ratio — the evidence grain this tier exists to add
    assert(pair.head.getDouble(4) < 0.5,
      s"jaccard ${pair.head.getDouble(4)} — plant is not a partial overlap")
    val c2 = Dedup.c2NgramJaccard(docs)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L).collect()
    assert(c2.isEmpty || c2.head.getDouble(2) < 0.5,
      "c2 already ranks the quoted pair — the plant proves nothing")
  }

  test("c77 four-gate pipeline: funnel decisions + span cuts from both stores, one read") {
    import spark.implicits._
    import graft.streaming.FunnelStream
    val m = graft.functions.TextFns.EnMarkers
    def al(n: Long): String =
      if (n < 26) ('a' + n).toChar.toString else al(n / 26) + ('a' + n % 26).toChar
    // funnel-grade bodies (marker-rich, letters-only uniques — digits
    // would trip the PII rule) with a 20-token shared phrase
    def body(i: Long) = (0 until 60).map(k => s"${m(k % 8)} u${al(i)}x${al(k)}")
    val span = (0 until 20).map(k => s"spanw${al(k)}")
    // batch geometry at AuditBatches = 2: even doc_ids poll first,
    // odd second
    val docs = Seq(
      3L -> "tiny doc", // quality drop
      // cross-batch carriers: 4 (batch 0) keeps, 9 (batch 1) is cut
      4L -> (body(4) ++ span).mkString(" "),
      9L -> (body(9) ++ span).mkString(" "),
      // same-batch carriers (5 % 2 == 11 % 2 == 1): span deferred
      5L -> (body(5) ++ span.map(s => s + "b")).mkString(" "),
      11L -> (body(11) ++ span.map(s => s + "b")).mkString(" "))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-c77-").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = FunnelStream.c77GatePipeline(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(out.keySet == Set(3L, 4L, 5L, 9L, 11L))
    assert(out(3L)._1 == "too_short" && out(3L)._2 == 0L)
    // all four carriers pass every funnel gate (distinct bodies)...
    for (id <- Seq(4L, 5L, 9L, 11L))
      assert(out(id)._1 == "keep", s"doc $id: ${out(id)}")
    // ...and only the CROSS-batch arrival pays a span cut
    assert(out(9L)._2 == 20L, s"cross-batch span not cut: ${out(9L)}")
    assert(out(4L)._2 == 0L && out(5L)._2 == 0L && out(11L)._2 == 0L,
      s"unexpected cuts: $out")
  }

  test("c68 store-backed spans equal the at-rest c56 rebuild on the real corpus") {
    val fromStore = SpanStream.c68SpanStoreAudit(spark, sf).collect().toSeq
    val atRest = Dedup.c56DeltaSpans(graft.sources.Tables.documents(spark, sf))
      .collect().toSeq
    assert(fromStore == atRest,
      s"store-backed ${fromStore.length} rows != at-rest ${atRest.length} rows")
  }
}
