package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-25 contracts: the batched-argmax BPE trainer (c171) and its
  * compression-vs-exact audit (c172). */
class Round25Spec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.TextAnalysis

  test("bpeApplyDisjoint: a singleton set is exactly bpeApplyOne (incl. a==b runs)") {
    val cases = Seq(
      Array("a", "b", "c"), Array("x", "x", "x", "x"), Array("x", "x", "x"),
      Array("t", "h", "e", "t", "h"), Array.empty[String], Array("a"),
      Array("a", "b", "a", "b", "a"))
    for (syms <- cases; (a, b) <- Seq(("a", "b"), ("x", "x"), ("t", "h"), ("b", "a"))) {
      assert(TextAnalysis.bpeApplyDisjoint(syms, Map(a -> b)).toSeq ==
        TextAnalysis.bpeApplyOne(syms, a, b).toSeq,
        s"singleton batch must equal the sequential kernel on ${syms.toSeq} for ($a,$b)")
    }
  }

  test("bpeApplyDisjoint: matching is SIMULTANEOUS — a composite built this step is invisible to the same step") {
    // {t→h, th→e} is disjoint as a symbol-string set; SEQUENTIAL
    // application would chain t+h → th, then th+e → the. The batch
    // semantics match on the step's INPUT table only — exactly what
    // the oracle's position-table replay computes.
    val out = TextAnalysis.bpeApplyDisjoint(
      Array("t", "h", "e"), Map("t" -> "h", "th" -> "e"))
    assert(out.toSeq == Seq("th", "e"),
      "a composite formed in this step must not feed another merge of the same step")
    // and two genuinely independent merges land in one pass
    val two = TextAnalysis.bpeApplyDisjoint(
      Array("a", "b", "c", "d"), Map("a" -> "b", "c" -> "d"))
    assert(two.toSeq == Seq("ab", "cd"))
  }

  test("bpeBatchTrain at B=1 IS c75's exact trainer — same merges, same totals") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val exact = TextAnalysis.c75BpeTrain(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val b1 = TextAnalysis.bpeBatchTrain(docs, batchB = 1)
      .select("rank", "a", "b", "total").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(b1 == exact,
      "a batch width of one must degenerate to the sequential argmax trainer")
  }

  test("c171: ranks enumerate (step, slot); every step's merge set is pairwise disjoint; slot totals are non-increasing") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = TextAnalysis.c171BpeBatched(docs).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == (1 to rows.length),
      "rank must be the dense 1..n counter")
    assert(rows.sortBy(r => (r._2, r._3)).map(_._1).toSeq == (1 to rows.length),
      "rank order must be (step, slot) order")
    for ((step, g) <- rows.groupBy(_._2)) {
      val syms = g.flatMap(r => Seq(r._4, r._5)).toSeq
      assert(syms.distinct.length == syms.length,
        s"step $step selected pairs sharing a symbol — not disjoint")
      val totals = g.sortBy(_._3).map(_._6).toSeq
      assert(totals == totals.sortBy(-_),
        s"step $step slot totals must be non-increasing (each slot picks from a shrinking pool)")
    }
    // the batch actually batches: fewer steps than merges
    assert(rows.map(_._2).distinct.length < rows.length)
  }

  test("c173: re-lay is row-identical and idempotent; both logs land on the one-file bucket contract") {
    import graft.streaming.{BudgetStream, EventsStream}
    // the mount surface before maintenance
    val before = BudgetStream.c164DoorPack(spark, sf)
      .collect().map(_.toSeq).toSeq
    val audit1 = BudgetStream.c173PackCompaction(spark, sf)
      .collect().map(_.toSeq).toSeq
    // compaction re-lays files, never rows: the packed view is
    // byte-identical through the swap
    val after = BudgetStream.c164DoorPack(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must not change the packed store's rows")
    // idempotent: the second vintage-close pass finds one-file
    // buckets, rewrites nothing, and reports identically
    val audit2 = BudgetStream.c173PackCompaction(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(audit2 == audit1, "recompaction must be a no-op with an identical audit")
    // the one-file-per-bucket layout contract after maintenance
    val root = BudgetStream.handoffStores(spark, sf,
      graft.streaming.FunnelStream.AuditBatches)
    val conf = spark.sparkContext.hadoopConfiguration
    for (store <- Seq("schedule", "packed")) {
      val p = new org.apache.hadoop.fs.Path(s"$root/$store")
      val fs = p.getFileSystem(conf)
      val overfull = fs.listStatus(p)
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"${EventsStream.KeyBucketCol}="))
        .map(d => d.getPath.getName ->
          fs.listStatus(d.getPath).count(f => f.isFile &&
            !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
        .filter(_._2 > 1)
      assert(overfull.isEmpty,
        s"$store buckets above one data file after maintenance: ${overfull.toSeq}")
    }
    // the snapshot manifest exists and agrees with the packed log at
    // sequence grain (what c120's aggregate would say)
    val snap = spark.read.parquet(s"$root/packed_manifest")
    val packed = spark.read.parquet(s"$root/packed")
      .drop(EventsStream.KeyBucketCol)
    val live = graft.operators.Sampling.seqManifestOver(packed,
      graft.operators.Sampling.DefaultTokenBudget)
    assert(snap.collect().map(_.toSeq).toSet == live.collect().map(_.toSeq).toSet,
      "the stored sequence manifest must equal the live aggregate over the packed log")
  }

  test("five-gate door: a mid-poll crash (stores committed, checkpoint not) resumes from ledgered state to the uninterrupted run's stores") {
    import graft.streaming.{EventsStream, FunnelStream}
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val pop = docs.filter(col("doc_id") % 97 =!= 0).join(vecs, Seq("doc_id"))
    val bits = SessionMemo.frame("c67_bits", docs)(
      TextAnalysis.bloomBitsFromKeys(
        TextAnalysis.docShingles8Direct(docs.filter(col("doc_id") % 97 === 0))))
    val n = 2
    val storeNames = Seq("decisions", "keep", "bands", "vecs", "buckets",
      "spans", "postings")
    def gate(root: String, in: String, ckpt: String) = {
      val src = spark.readStream.schema(pop.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      FunnelStream.funnelGate5(src, bits,
        s"$root/decisions", s"$root/keep", s"$root/bands",
        s"$root/vecs", s"$root/buckets", s"$root/spans", s"$root/postings",
        checkpoint = Some(ckpt))
    }
    def stores(root: String): Map[String, Set[Seq[Any]]] =
      storeNames.map { s =>
        // a store a gate never commits to (no spans at this SF) may be
        // absent or meta-only — unreadable on both sides compares as
        // empty
        s -> (try {
          val df0 = spark.read.parquet(s"$root/$s")
          val df = if (df0.columns.contains(EventsStream.KeyBucketCol))
            df0.drop(EventsStream.KeyBucketCol) else df0
          // name-sorted projection: parquet footer merge order can
          // differ between runs (file commit order), and only the
          // CONTENT is the contract
          df.select(df.columns.sorted.map(col): _*)
            .collect().map(_.toSeq).toSet
        } catch {
          case _: org.apache.spark.sql.AnalysisException => Set.empty[Seq[Any]]
        })
      }.toMap
    def stage(in: String, i: Int): Unit = {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50) // distinct mtimes → batch order = poll order
    }
    // uninterrupted reference: both polls through one checkpointed query
    val uIn = java.nio.file.Files.createTempDirectory("graft-g5r-uin-").toString
    stage(uIn, 0); stage(uIn, 1)
    val uRoot = java.nio.file.Files.createTempDirectory("graft-g5r-ust-").toString
    val uCkpt = java.nio.file.Files.createTempDirectory("graft-g5r-uck-").toString
    locally { val q = gate(uRoot, uIn, uCkpt)
      try q.processAllAvailable() finally q.stop() }
    val want = stores(uRoot)
    // interrupted run: poll 0 commits through the door, the door stops
    val iIn = java.nio.file.Files.createTempDirectory("graft-g5r-iin-").toString
    stage(iIn, 0)
    val iRoot = java.nio.file.Files.createTempDirectory("graft-g5r-ist-").toString
    val iCkpt = java.nio.file.Files.createTempDirectory("graft-g5r-ick-").toString
    locally { val q = gate(iRoot, iIn, iCkpt)
      try q.processAllAvailable() finally q.stop() }
    // poll 1 arrives and the batch CRASHES mid-poll: every store
    // commit lands (processBatch5 directly — the exact foreachBatch
    // body) but the checkpoint offset never does — the worst window
    // the at-least-once contract has to survive
    stage(iIn, 1)
    FunnelStream.processBatch5(
      pop.filter(pmod(col("doc_id"), lit(n)) === 1), bits,
      s"$iRoot/decisions", s"$iRoot/keep", s"$iRoot/bands",
      s"$iRoot/vecs", s"$iRoot/buckets", s"$iRoot/spans", s"$iRoot/postings", 1L)
    // restart from the checkpoint: the engine re-offers poll 1 as
    // batch 1; every gate re-derives identical decisions against
    // stores that already hold the batch's keeps, and the keep-first
    // merges drop everything
    locally { val q = gate(iRoot, iIn, iCkpt)
      try q.processAllAvailable() finally q.stop() }
    val got = stores(iRoot)
    for (s <- storeNames) {
      val extra = got(s) -- want(s)
      val missing = want(s) -- got(s)
      assert(extra.isEmpty && missing.isEmpty,
        s"store '$s' diverged after the mid-poll crash + checkpointed resume: " +
          s"${extra.size} extra (${extra.take(3)}), ${missing.size} missing (${missing.take(3)})")
    }
  }

  test("c127: the artifact-backed diff equals the from-scratch two-vintage recompute") {
    val artifact = graft.operators.Sampling.c127SeqVintageDiff(spark, sf)
      .collect().map(_.toSeq).toSeq
    val recomputed = graft.operators.Sampling.c127DiffRecomputed(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(artifact == recomputed,
      "reading v1 from the stored sequence manifest must not change one diff row")
  }

  test("c127 reads the base vintage from the stored sequence manifest") {
    val p = SparkEntry.queries("c127_seq_vintage_diff")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("seq_manifest_v1"),
      s"c127's v1 leg must be the persisted artifact scan, not a recomputed packing:\n$p")
  }

  test("c172: batched compression within 5% of exact, both trainers fill their budgets") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = TextAnalysis.c172BpeBatchAudit(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4))).toMap
    assert(rows.keySet == Set("batched", "exact"))
    val (nb, cb) = rows("batched")
    val (nx, cx) = rows("exact")
    assert(nb == TextAnalysis.BpeMerges && nx == TextAnalysis.BpeMerges,
      "both trainers must learn the full merge budget on this corpus")
    assert(math.abs(cb - cx) <= 0.05 * cx,
      s"batched compression $cb must sit within 5% of exact $cx — the batch trades " +
        "merge ORDER, not compression class")
  }
}
