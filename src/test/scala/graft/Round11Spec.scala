package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Round-11 contracts: the incremental span tier only ever reports
  * base↔delta evidence (planted base↔base and delta↔delta spans must
  * vanish), its rows equal c33's evidence re-oriented to the
  * snapshot roles on the same corpus, and the cut instruction lands
  * at the exact planted coordinates. */
class Round11Spec extends AnyFunSuite {
  import TestSpark._

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Partition candidate ids by the operator's OWN boundary test —
    * the spec must not re-derive the md5 cut by hand. */
  private def splitIds(ids: Seq[Long]): (Seq[Long], Seq[Long]) = {
    import spark.implicits._
    val flags = ids.toDF("id").select(col("id"), Dedup.isBaseDoc(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    ids.partition(flags)
  }

  private def toks(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")

  // ---- c56: incremental substring-span dedup --------------------------

  test("c56 reports exactly the planted base→delta span; base↔base and delta↔delta vanish") {
    val (baseIds, deltaIds) = splitIds(1L to 40L)
    assert(baseIds.size >= 3 && deltaIds.size >= 3, "need ids on both sides of the cut")
    val Seq(bA, bC, bF) = baseIds.take(3)
    val Seq(dB, dD, dE) = deltaIds.take(3)
    val span = toks("sp", 20) // the planted 20-token shared span
    val docs = docsDF(Seq(
      // base doc A carries the span at positions 5..24
      bA -> (toks("a", 5) ++ span ++ toks("az", 5)).mkString(" "),
      // delta doc B re-uses it at positions 3..22 → the one expected cut
      dB -> (toks("b", 3) ++ span ++ toks("bz", 7)).mkString(" "),
      // base↔base evidence: C shares a DIFFERENT 20-token span with F
      bC -> (toks("c", 4) ++ toks("cf", 20)).mkString(" "),
      bF -> (toks("f", 6) ++ toks("cf", 20)).mkString(" "),
      // delta↔delta evidence: D and E share their own span
      dD -> (toks("d", 2) ++ toks("de", 20)).mkString(" "),
      dE -> (toks("e", 8) ++ toks("de", 20)).mkString(" ")))
    val rows = Dedup.c56DeltaSpans(docs).collect()
    assert(rows.length == 1, rows.mkString("\n"))
    val r = rows.head
    assert(r.getLong(0) == dB && r.getLong(1) == bA) // doc_cut, doc_keep
    assert(r.getLong(2) == 3L && r.getLong(3) == 5L) // cut_start, keep_start
    assert(r.getLong(4) == 20L) // maximal, not per-shingle
  }

  test("c56 equals c33's span evidence re-oriented to the snapshot roles") {
    // on a corpus where every cross-boundary pair happens to have the
    // base doc as c33's keep side, c56 must be exactly c33 restricted
    // to boundary-straddling pairs — the incremental spelling may not
    // invent or lose evidence relative to the full rebuild
    val (baseIds, deltaIds) = splitIds(1L to 60L)
    val shared = toks("q", 24)
    val lowBase = baseIds.filter(b => deltaIds.forall(b < _))
    assume(lowBase.nonEmpty, "need a base id below every delta id")
    val docs = docsDF(
      (lowBase.take(2).map(b => b -> (toks(s"u$b", 3) ++ shared).mkString(" ")) ++
        deltaIds.take(3).map(d => d -> (toks(s"v$d", 6) ++ shared ++ toks(s"w$d", 2)).mkString(" "))))
    val full = Dedup.c33SubstringDedup(docs)
      .withColumn("ka", Dedup.isBaseDoc(col("doc_a")))
      .withColumn("kb", Dedup.isBaseDoc(col("doc_b")))
      .filter(col("ka") =!= col("kb"))
      // by construction doc_a (the lower id) is the base side
      .select(col("doc_b").as("doc_cut"), col("doc_a").as("doc_keep"),
        col("b_start").as("cut_start"), col("a_start").as("keep_start"), col("n_tokens"))
    val incr = Dedup.c56DeltaSpans(docs)
    assert(incr.collect().toSet == full.collect().toSet)
    assert(incr.count() > 0, "planted cross-boundary spans must surface")
  }

  // ---- c62: effective tokens after span cuts --------------------------

  test("c62: packing bills effective tokens — cuts subtract, uncut docs bill full") {
    val span = toks("sp", 24)
    val docs = docsDF(Seq(
      1L -> (toks("a", 4) ++ span).mkString(" "),              // keeps (lower id)
      2L -> (toks("b", 6) ++ span ++ toks("bz", 2)).mkString(" "), // cuts the 24-token span
      3L -> toks("u", 10).mkString(" ")))                      // untouched
    val rows = Dedup.c62EffectiveTokens(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((28L, 0L, 28L)))
    assert(rows(2L) == ((32L, 24L, 8L)))
    assert(rows(3L) == ((10L, 0L, 10L)))
  }

  // ---- c57: BPE merge application -------------------------------------

  test("bpe kernel: greedy left-to-right, non-overlapping, rank order") {
    def n(term: String, merges: (String, String)*): Int =
      TextAnalysis.bpeSymbolCount(term, merges.toArray)
    assert(n("abab", ("a", "b")) == 2)            // both occurrences in one pass
    assert(n("aaaa", ("a", "a")) == 2)            // run of 4 → [aa, aa]
    assert(n("aaaaa", ("a", "a")) == 3)           // odd run → [aa, aa, a]
    assert(n("abab", ("b", "a"), ("a", "b")) == 3) // order matters: [a, ba, b]
    assert(n("the", ("t", "h"), ("h", "e")) == 2) // th consumed h → [th, e]
    assert(n("", ("a", "b")) == 0)                // empty token: zero symbols
    assert(n("x") == 1)                           // no merges → chars
  }

  test("bpe kernel fuzz: greedy scan ≡ the oracle's island spelling") {
    // the oracle applies each merge via match-islands (consecutive
    // match runs only exist for a=b; keep even offsets) — an
    // independent reimplementation of that spelling must agree with
    // the kernel's left-to-right scan on adversarial inputs
    def islandApply(syms0: Array[String], a: String, b: String): Array[String] = {
      val matches = syms0.indices.dropRight(1)
        .filter(i => syms0(i) == a && syms0(i + 1) == b)
      // islands of consecutive match positions; keep even offsets
      val take = scala.collection.mutable.Set.empty[Int]
      var run = List.empty[Int]
      val runs = scala.collection.mutable.ArrayBuffer.empty[List[Int]]
      matches.foreach { i =>
        if (run.nonEmpty && run.head == i - 1) run = i :: run
        else { if (run.nonEmpty) runs += run.reverse; run = List(i) }
      }
      if (run.nonEmpty) runs += run.reverse
      runs.foreach(r => r.zipWithIndex.foreach { case (pos, off) =>
        if (off % 2 == 0) take += pos })
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms0.length) {
        if (take(i)) { out += a + b; i += 2 } else { out += syms0(i); i += 1 }
      }
      out.toArray
    }
    val rnd = new scala.util.Random(421100)
    val alphabet = "ab".toCharArray
    for (_ <- 1 to 400) {
      val term = (0 until 1 + rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(2))).mkString
      val merges = (0 until 1 + rnd.nextInt(4)).map { _ =>
        (alphabet(rnd.nextInt(2)).toString, alphabet(rnd.nextInt(2)).toString)
      }.toArray
      var syms: Array[String] = term.map(_.toString).toArray
      merges.foreach { case (a, b) => syms = islandApply(syms, a, b) }
      assert(syms.length == TextAnalysis.bpeSymbolCount(term, merges),
        s"term=$term merges=${merges.mkString(",")} island=${syms.mkString("|")}")
    }
  }

  test("c57: the planted frequent pair merges first and compresses its carrier") {
    // "abab" carries pair ab twice per occurrence and ba once — ab
    // must win rank 1, so the word packs to 2 BPE units, not 3
    val docs = docsDF(Seq(
      1L -> "abab abab",
      2L -> "cd cd cd"))
    val rows = TextAnalysis.c57BpeEncode(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // doc 1: 2 words × 4 chars; ab merged first ⇒ [ab, ab] per word
    assert(rows(1L) == ((2L, 8L, 4L, 0.5)))
    // doc 2: cd merges to one unit per word
    assert(rows(2L) == ((3L, 6L, 3L, 0.5)))
  }

  // ---- c63: BPE merge-budget sweep ------------------------------------

  test("c63: units fall as merges apply and the curve flattens when merges stop paying") {
    // ranking on this corpus: ab (weight 4), cd (3), ba (2)
    val docs = docsDF(Seq(1L -> "abab abab", 2L -> "cd cd cd"))
    val rows = TextAnalysis.c63BpeSweep(docs, budgets = Seq(0, 1, 2, 3)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.values.forall(_._2 == 14L))      // char mass is budget-invariant
    assert(rows(0L)._1 == 14L && rows(0L)._3 == 1.0) // budget 0 = character grain
    assert(rows(1L)._1 == 10L)                   // ab merged: abab → [ab, ab]
    assert(rows(2L)._1 == 7L)                    // +cd: cd → one unit
    assert(rows(3L)._1 == 7L)                    // +ba: nothing left to merge — flat
  }

  // ---- d9: frame-grain perceptual near-dup ----------------------------

  test("d9: a re-encoded segment inside a longer video surfaces at full coverage") {
    // A (12 chunks) contains the chunk-aligned segment [256, 640);
    // B is that segment with ONE byte re-encoded inside a sampled
    // frame (perturbs ≤2 stripes — hamming stays under the bar,
    // the perceptual-robustness property byte-exact d4 lacks);
    // C is unrelated video (expected frame hamming ≈ 16 ≫ 3)
    val base = (0 until 768).map(i => ('a' + (i * 7 + i / 13) % 26).toChar).mkString
    val seg = base.substring(256, 640)
    val tweaked = seg.updated(130, 'z')
    assert(seg(130) != 'z')
    val distract = (0 until 384).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    // ids ≡ 2 (mod 3) ⇒ video media type
    val docs = docsDF(Seq(2L -> base, 5L -> tweaked, 8L -> distract))
    val rows = Multimodal.d9FrameNearDup(docs).collect()
    assert(rows.length == 1, rows.mkString("\n"))
    val r = rows.head
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L) // short side contained in long
    assert(r.getLong(3) == 3L)    // the segment samples 3 frames
    assert(r.getDouble(4) == 1.0) // every one of them matched — incl. the re-encoded frame
  }

  // ---- degenerate-embedding stance (r10 tier unification) -------------

  test("degenerate embeddings (zero-norm, NaN element) never win similarity ranks") {
    import spark.implicits._
    val rows = (0L to 19L).map(i =>
      (i, Array.tabulate(64)(d => math.sin(i * 64 + d + 1).toFloat), "a")) ++
      Seq(
        (20L, Array.fill(64)(0f), "a"),                                   // zero norm
        (21L, { val a = Array.tabulate(64)(d => (d + 1).toFloat); a(3) = Float.NaN; a }, "a"))
    val emb = rows.toDF("vec_id", "embedding", "label")
    // c6: 21 candidates per query, top-10 — the two no-evidence
    // vectors must rank last and never enter the report
    val c6ids = Similarity.c6AnnTopK(emb, Some(Similarity.defaultQueries(emb, 5)), 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!c6ids.contains(20L) && !c6ids.contains(21L), c6ids)
    // c5: a pair touching a degenerate endpoint may appear only with
    // a NULL cosine (no evidence is never a similarity claim)
    val c5bad = Similarity.c5EmbedNearDup(emb).collect()
      .filter(r => Set(r.getLong(0), r.getLong(1)).exists(Set(20L, 21L)))
    assert(c5bad.forall(_.isNullAt(2)), c5bad.mkString("\n"))
    // c7 and the PQ kernels must run (no ANSI divide / BigDecimal-NaN
    // crash) and report no non-null cosine for a degenerate vector
    val c7bad = Similarity.c7AnnIvf(emb, Some(Similarity.defaultQueries(emb, 5)))
      .collect().filter(r => r.getLong(1) == 20L || r.getLong(1) == 21L)
    assert(c7bad.forall(_.isNullAt(3)), c7bad.mkString("\n"))
    assert(Similarity.c47PqAdc(emb, nQueries = 5).count() > 0)
    assert(Similarity.c60IvfPqAdc(emb, nQueries = 5).count() > 0)
  }

  // ---- c60: IVF + PQ composed serving ---------------------------------

  test("c60 equals an independent IVFADC recomputation on the full corpus") {
    // naive single-machine reimplementation of the whole contract
    // (c55's proof pattern): c7's rounded-cosine assignment/probes +
    // c47's rounded cells, full sort — every row, rank, and tie must
    // match the distributed kernel exactly
    val emb = sources.Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def r4(x: Double): Double =
      BigDecimal.valueOf(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until 64).map(i => a(i) * b(i)).sum
    val cent = emb.filter(_._1 < Similarity.DefaultCentroidCount).map(_._2)
    val cb = emb.filter(_._1 < Similarity.PqCodebookK).map(_._2)
    def cellD2(v: Array[Double], k: Int, m: Int): Double =
      r4((0 until Similarity.PqSubDim).map { i =>
        val d = v(m * Similarity.PqSubDim + i) - cb(k)(m * Similarity.PqSubDim + i); d * d
      }.sum)
    def topClusters(v: Array[Double], n: Int): Seq[Int] =
      cent.indices.sortBy { c =>
        val denom = math.sqrt(dot(v, v)) * math.sqrt(dot(cent(c), cent(c)))
        val cos = if (denom > 0) r4(dot(v, cent(c)) / denom) else Double.NegativeInfinity
        (-cos, c)
      }.take(n)
    val cluster = emb.map { case (id, v) => id -> topClusters(v, 1).head }.toMap
    val codes = emb.map { case (id, v) =>
      id -> (0 until Similarity.PqSubspaces).map(m =>
        (0 until Similarity.PqCodebookK).minBy(k => (cellD2(v, k, m), k))).toArray
    }.toMap
    val expected = emb.filter(_._1 < Similarity.DefaultQueryCount).flatMap { case (qid, qv) =>
      val probed = topClusters(qv, Similarity.DefaultNProbe).toSet
      emb.collect { case (vid, _) if vid != qid && probed(cluster(vid)) =>
          (vid, r4((0 until Similarity.PqSubspaces).map(m => cellD2(qv, codes(vid)(m), m)).sum))
        }
        .sortBy { case (vid, d) => (d, vid) }.take(Similarity.PqTopK).zipWithIndex
        .map { case ((vid, d), i) => (qid, (i + 1).toLong, vid, d) }
    }.toSet
    val got = Similarity.c60IvfPqAdc(sources.Tables.embeddings(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  // ---- d10: CDC-grain dedup -------------------------------------------

  test("d10: CDC dedup survives the insertion that defeats fixed-grid dedup") {
    // B = A with 3 bytes inserted at byte 40: every fixed-grid chunk
    // shifts (d4 finds NO shared chunk), while the CDC stream
    // re-synchronizes at the next content boundary and the whole
    // shared tail dedups — the storage win CDC exists for, asserted
    // at the dedup report grain (d8's spec pins it at chunk identity)
    val base = (0 until 600).map(i => ('a' + (i * 5 + i / 17) % 26).toChar).mkString
    val edited = base.substring(0, 40) + "xyz" + base.substring(40)
    val docs = docsDF(Seq(1L -> base, 2L -> edited))
    val cdcShared = Multimodal.d10CdcDedup(docs).filter(col("n_docs") === 2).count()
    val fixedShared = Multimodal.d4ChunkDedup(docs).filter(col("n_docs") === 2).count()
    assert(cdcShared > 0, "post-insertion chunks must re-align under CDC")
    assert(fixedShared == 0, "the fixed grid must share nothing after the insertion")
  }

  // ---- c58: perplexity buckets ----------------------------------------

  test("c58: per-source thirds follow the LM score order, counts ntile-shaped") {
    // source A: 9 docs spanning frequent→rare vocabulary; source B: 4
    val m = graft.functions.TextFns.EnMarkers
    val aDocs = (0 until 9).map { i =>
      val freq = Seq.fill(9 - i)(m(i % 8))
      val rare = (0 until i + 1).map(k => s"r${i}q$k")
      (i + 1).toLong -> (freq ++ rare).mkString(" ")
    }
    val bDocs = (0 until 4).map(i => (100 + i).toLong -> s"${m(i % 8)} z${i}a z${i}b")
    import org.apache.spark.sql.functions.lit
    val docs = docsDF(aDocs) // source "s"
      .unionByName(docsDF(bDocs).withColumn("source", lit("t")))
    val rep = TextAnalysis.c58PerplexityBuckets(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(4), r.getDouble(5)))).toMap
    // ntile counts: 9 → 3/3/3, 4 → 2/1/1
    assert(Seq(1L, 2L, 3L).map(b => rep(("s", b))._1) == Seq(3L, 3L, 3L))
    assert(Seq(1L, 2L, 3L).map(b => rep(("t", b))._1) == Seq(2L, 1L, 1L))
    // head buckets hold the highest scores: min of bucket k ≥ max of k+1
    for (src <- Seq("s", "t"); b <- 1L to 2L)
      assert(rep((src, b))._2 >= rep((src, b + 1))._3,
        s"$src bucket $b not above bucket ${b + 1}: $rep")
  }

  // ---- c59: corpus novelty --------------------------------------------

  test("c59: unique docs score 1, exact copies score 0") {
    val unique = (0 until 10).map(k => s"u$k").mkString(" ")
    val copied = (0 until 10).map(k => s"c$k").mkString(" ")
    val docs = docsDF(Seq(1L -> unique, 2L -> copied, 3L -> copied))
    val rows = TextAnalysis.c59Novelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows(1L) == ((8L, 8L, 1.0)))  // 10 tokens → 8 distinct shingles, all unique
    assert(rows(2L) == ((8L, 0L, 0.0)))  // every shingle shared with doc 3
    assert(rows(3L) == ((8L, 0L, 0.0)))
  }

  // ---- SpanStream: the live span-dedup gate ---------------------------

  test("streaming span gate: cross-batch cuts emitted, within-batch deferred, replay-safe") {
    import graft.streaming.{Door, EventsStream, SpanStream}
    import graft.operators.Dedup
    import spark.implicits._
    val span = toks("sp", 24)
    val batch1 = Seq(
      1L -> (toks("a", 5) ++ span ++ toks("az", 5)).mkString(" "), // span at 5..28
      2L -> toks("b", 30).mkString(" "))
    val batch2 = Seq(
      3L -> (toks("c", 3) ++ span ++ toks("cz", 1)).mkString(" "), // re-uses it at 3..26
      4L -> (toks("d", 2) ++ toks("de", 24)).mkString(" "),        // within-batch pair —
      5L -> (toks("e", 4) ++ toks("de", 24)).mkString(" "))        // the compaction's question
    val in = java.nio.file.Files.createTempDirectory("graft-sp-in-").toString
    batch1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    batch2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val spanStore = java.nio.file.Files.createTempDirectory("graft-sp-s-").toString + "/store"
    val postStore = java.nio.file.Files.createTempDirectory("graft-sp-p-").toString + "/store"
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string"))
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Door.live(src)(SpanStream.processBatch(_, spanStore, postStore, _))
    try q.processAllAvailable() finally q.stop()
    def gotCuts() = SpanStream.cuts(spark, spanStore).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // exactly the planted cross-batch span: stored doc 1 keeps, the
    // arriving doc 3 cuts [3, 27); the {4, 5} within-batch pair emits
    // nothing (the at-rest c33/c56 run owns it)
    assert(gotCuts() == Set((3L, 1L, 3L, 5L, 24L)), gotCuts())
    // replay batch 2 directly (the at-least-once path): its own
    // echoed postings sit at batch_id 1 and are ignored — the same
    // single span re-derives and the keep-first stores absorb it
    val b2 = graft.operators.Materialize.frame(batch2.toDF("doc_id", "text"))
    val (respans, _) = SpanStream.batchSpans(b2, postStore, 1L,
      Dedup.SpanShingleW, Dedup.SpanMinTokens, Dedup.SpanOccCap)
    assert(respans.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet ==
      Set((3L, 1L, 3L, 5L, 24L)))
    EventsStream.upsertSink(
      respans.withColumn("span_key", concat_ws(":",
        col("doc_cut"), col("doc_keep"), col("cut_start"), col("keep_start"))),
      spanStore, "span_key")
    assert(gotCuts() == Set((3L, 1L, 3L, 5L, 24L)), "replay grew the span store")
    // the posting store accumulated every batch's rows under its batch id
    val bids = spark.read.parquet(postStore).groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bids.keySet == Set(0L, 1L), bids)
  }

  // ---- c61: language × source temperature mix -------------------------

  test("c61: cells split by DETECTED language and flatten by √n") {
    val m = graft.functions.TextFns.EnMarkers
    val enText = (0 until 20).map(k => m(k % 8)).mkString(" ")
    val undText = (0 until 20).map(k => s"xq${('a' + k % 26).toChar}").mkString(" ")
    import org.apache.spark.sql.functions.lit
    // source s: 90 en + 10 und; source t: 20 en — one source, two
    // language cells with DIFFERENT rates is the point c38 can't see
    val docs = docsDF(
      (1L to 90L).map(i => i -> enText) ++ (91L to 100L).map(i => i -> undText))
      .unionByName(docsDF((101L to 120L).map(i => i -> enText)).withColumn("source", lit("t")))
    val rep = TextAnalysis.c61LangMix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rep.keySet == Set(("en", "s"), ("und", "s"), ("en", "t")), rep)
    assert(rep(("en", "s"))._1 == 90L && rep(("und", "s"))._1 == 10L && rep(("en", "t"))._1 == 20L)
    // √n flattening: smaller cells keep a strictly larger per-mille
    assert(rep(("und", "s"))._2 > rep(("en", "t"))._2, rep)
    assert(rep(("en", "t"))._2 > rep(("en", "s"))._2, rep)
  }

  // ---- document-tier pipeline (curation DAG end to end) ---------------

  test("curation pipeline: overlapping polls + replay ≡ one full build; reasons merge incrementally") {
    import org.apache.spark.sql.types._
    import graft.sources.PageSource
    import graft.operators.{Sampling, TextAnalysis}
    EmbeddedStore.clear()
    val ingest = java.nio.file.Files.createTempDirectory("graft-cur-in-").toString + "/store"
    val wh = java.nio.file.Files.createTempDirectory("graft-cur-wh-").toString
    val pageSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts_us", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType)))
    // planted corpus: doc 0 is the benchmark slice; every funnel
    // stage has members (exact dups of earlier docs, contaminated
    // docs quoting the benchmark, too-short docs, clean keeps)
    val m = graft.functions.TextFns.EnMarkers
    val bench = (0 until 40).map(k => s"b$k")
    // letters-only filler (digit runs would trip the PII rule and
    // leave the funnel with no keeps at all)
    def al(n: Long): String =
      if (n < 26) ('a' + n).toChar.toString else al(n / 26) + ('a' + n % 26).toChar
    def textOf(i: Long): String =
      if (i == 0L) bench.mkString(" ")
      else if (i % 17 == 2) "tiny doc"
      else if (i % 13 == 1) (bench.take(20) ++ (0 until 20).map(k => s"c${i}x$k")).mkString(" ")
      else if (i % 11 == 5 && i >= 16) textOf(i - 16)
      // span carriers: distinct keep-grade bodies that all share one
      // 20-token verbatim phrase — they pass every funnel gate (low
      // pairwise jaccard) but the span stage must cut the phrase from
      // all but the lowest-id carrier (r12: the DAG's span marts)
      else if (i % 7 == 3)
        ((0 until 60).map(k => s"${m(k % 8)} u${al(i)}x${al(k)}")
          ++ (0 until 20).map(k => s"spanw${al(k)}")).mkString(" ")
      else (0 until 60).map(k => s"${m(k % 8)} u${al(i)}x${al(k)}").mkString(" ")
    class DocApi(upTo: Long) extends PageSource {
      def fetchPage(cursorUs: Long, page: Int): Seq[String] = {
        val from = math.max(0L, cursorUs / 1000000L - 5) + page * 10
        (from until math.min(from + 10, upTo)).map { i =>
          s"""{"doc_id": $i, "ts_us": ${i * 1000000L}, "text": "${textOf(i)}", """ +
            s""""lang": "en", "source": "s${i % 4}"}"""
        }.toSeq
      }
    }
    val docsFrom = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("n_chars", length(col("text"))).drop("ts_us")
    def run(upTo: Long) = Pipeline.runOnce(
      spark, new DocApi(upTo), pageSchema, ingest, "doc_id", "ts_us",
      eventsFrom = docsFrom,
      dagFor = MartRunner.curationDagFrom,
      warehouseRoot = wh,
      external = new EmbeddedExternalStore,
      exportKeys = Map("funnel_report" -> Seq("stage"), "mix_report" -> Seq("source")),
      save = Some(MartRunner.incrementalSink(spark, wh, MartRunner.curationKeys,
        scopeOf = MartRunner.curationScope(spark, wh))))
    val r1 = run(40)
    assert(r1.fetchedRows == 40)
    assert(r1.martStatus.values.forall(_ == MartStatus.Built), s"${r1.martStatus}")
    assert(r1.loadedTables == Seq("funnel_report", "mix_report"))
    // second poll overlaps the first; replay fetches nothing
    val r2 = run(60)
    assert(r2.fetchedRows < 40, s"poll was not incremental: ${r2.fetchedRows}")
    // exact replay: only the API's overlap window re-fetches, the
    // keep-first store absorbs it (size asserted below), marts rebuild
    val r3 = run(60)
    assert(r3.fetchedRows <= 6, s"replay refetched history: ${r3.fetchedRows}")
    assert(r3.martStatus.values.forall(_ == MartStatus.Built), s"${r3.martStatus}")
    // every mart over the incrementally-assembled history must equal
    // the one-shot full build over the same corpus
    val stored = docsFrom(spark.read.parquet(ingest)
      .drop(graft.streaming.EventsStream.KeyBucketCol))
    assert(stored.count() == 60)
    val decisions = TextAnalysis.funnelDecisions(stored)
    val kept = stored.join(
      decisions.filter(col("stage") === "keep").select("doc_id"), Seq("doc_id"))
    def mart(name: String) = spark.read.parquet(s"$wh/$name")
    assert(mart("quality_reasons").drop(graft.streaming.EventsStream.KeyBucketCol)
      .collect().toSet == TextAnalysis.qualityReasons(stored).collect().toSet)
    assert(mart("funnel_decisions").collect().toSet == decisions.collect().toSet)
    assert(mart("kept_docs").collect().toSet == kept.collect().toSet)
    assert(mart("split_assign").collect().toSet ==
      Sampling.c36Assignments(kept).collect().toSet)
    assert(mart("mix_report").collect().toSet ==
      Sampling.c38TemperatureMix(kept).collect().toSet)
    // the span stage (r12): cut evidence + effective tokens + the
    // per-source packing budget all equal the one-shot build, and the
    // planted shared phrase actually fired
    val cuts = Dedup.c34SpanCuts(kept)
    val eff = Dedup.effectiveTokensFrom(kept, cuts)
    assert(mart("span_cuts").collect().toSet == cuts.collect().toSet)
    assert(mart("span_cuts").count() > 0, "planted span carriers produced no cuts")
    assert(mart("eff_tokens").collect().toSet == eff.collect().toSet)
    assert(mart("pack_budget").collect().toSet ==
      kept.select(col("doc_id"), col("source"))
        .join(eff.select(col("doc_id"), col("eff_tokens")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("eff_tokens")).as("eff_tokens"))
        .collect().toSet)
    // every carrier except the keep-first survivor pays a cut
    val cutDocs = cuts.select("doc_id").collect().map(_.getLong(0)).toSet
    val carriers = kept.select("doc_id").collect().map(_.getLong(0))
      .filter(i => i % 7 == 3 && i % 17 != 2 && i % 13 != 1 && !(i % 11 == 5 && i >= 16))
      .toSet
    assert(carriers.size >= 2, s"plant needs ≥2 surviving carriers: $carriers")
    assert((carriers - carriers.min).subsetOf(cutDocs),
      s"non-canonical carriers uncut: ${carriers - carriers.min} vs $cutDocs")
    // the funnel actually narrowed: all four planted stage families fired
    val stages = mart("funnel_decisions").select("stage").distinct()
      .collect().map(_.getString(0)).toSet
    assert(Set("keep", "duplicate", "contaminated", "too_short").subsetOf(stages), stages)
    // keyed export re-load is idempotent: one row per stage/source
    assert(EmbeddedStore.tables.get("funnel_report").size ==
      mart("funnel_report").count())
  }
}
