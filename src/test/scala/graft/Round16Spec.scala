package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.FunnelStream
import graft.operators.{Materialize, TextAnalysis}

/** Round-16 contracts: the FIVE-gate live pipeline (c85) — c77's
  * funnel with the semantic near-dup gate (c84's EmbedDupStream)
  * interposed before the span gate. Structural assertions only at
  * driver-chosen scales (the c78 lesson); the semantic gate's firing
  * is proven on a planted corpus. */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  test("c85 decisions partition the population; citations terminate in the corpus") {
    val pop = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 =!= 0)
      .join(graft.sources.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("doc_id")), Seq("doc_id"))
    val rows = FunnelStream.c85Gate5Pipeline(spark, sf).collect()
    assert(rows.length == pop.count(), "one decision per population doc")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "doc decided twice")
    val stages = rows.map(_.getString(1)).toSet
    val legal = Set("too_short", "non_en", "repetitive", "pii_heavy",
      "contaminated", "duplicate", "semantic_dup", "keep")
    assert(stages.subsetOf(legal), s"illegal stages: ${stages -- legal}")
    val stageOf = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- rows) r.getString(1) match {
      case "keep" =>
        assert(r.isNullAt(2), s"admitted doc ${r.getLong(0)} carries a cite")
      case "semantic_dup" =>
        // the semantic gate verifies against ADMITTED keepers only
        assert(!r.isNullAt(2) && stageOf(r.getLong(2)) == "keep",
          s"semantic_dup ${r.getLong(0)} cites a non-admitted doc")
      case "duplicate" =>
        // a lexical citation may chain through a same-batch anchor the
        // semantic gate then refused — but the chain must terminate in
        // an admitted keeper in ≤2 hops (anchor's own cite is semantic)
        assert(!r.isNullAt(2), s"duplicate ${r.getLong(0)} cites nothing")
        val c1 = stageOf(r.getLong(2))
        assert(c1 == "keep" || c1 == "semantic_dup",
          s"duplicate ${r.getLong(0)} cites a $c1 doc")
      case _ =>
        assert(r.isNullAt(2), s"stateless drop ${r.getLong(0)} carries a cite")
    }
    // span cuts are only ever charged against ADMITTED docs: refused
    // docs never entered the posting index
    for (r <- rows if r.getLong(3) > 0)
      assert(r.getString(1) == "keep",
        s"cut_tokens on a ${r.getString(1)} doc ${r.getLong(0)}")
  }

  test("c85 planted: the semantic gate refuses inside the composed pipeline") {
    import spark.implicits._
    // three docs that sail through quality/leakage/lexical gates:
    // distinct English texts (no shared 3-shingles), ≥5 tokens; A and
    // B share ONE embedding (cos = 1), C is orthogonal to both
    val docs = Seq(
      (0L, "the cat sat on a warm mat and it purred with joy in the sun"),
      (1L, "a storm rolled over the hills and the river rose fast in the dark"),
      (2L, "bright lanterns hung over the market and the crowd moved slowly past"))
      .toDF("doc_id", "text")
    val e = Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)
    val o = Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
    val vecs = Seq((0L, e), (1L, e), (2L, o)).toDF("doc_id", "embedding")
    val batch = Materialize.frame(docs.join(vecs, Seq("doc_id")))
    // benchmark bits from an unrelated doc: nothing in the batch leaks
    val bits = TextAnalysis.bloomBitsFromKeys(TextAnalysis.docShingles8Direct(
      Seq((99L, "completely unrelated benchmark sentinel text goes here today"))
        .toDF("doc_id", "text")))
    val root = java.nio.file.Files.createTempDirectory("graft-c85-plant-").toString
    FunnelStream.processBatch5(batch, bits,
      s"$root/decisions", s"$root/keep", s"$root/bands",
      s"$root/vecs", s"$root/buckets", s"$root/spans", s"$root/postings", 0L)
    val got = FunnelStream.decisions(spark, s"$root/decisions").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(got(0L) == (("keep", -1L)), s"doc 0: ${got(0L)}")
    assert(got(1L) == (("semantic_dup", 0L)), s"doc 1: ${got(1L)}")
    assert(got(2L) == (("keep", -1L)), s"doc 2: ${got(2L)}")
    // the refused doc is not corpus in ANY store
    for ((store, idCol) <- Seq("keep" -> "doc_id", "bands" -> "doc_id",
        "vecs" -> "vec_id", "buckets" -> "vec_id", "postings" -> "doc_id")) {
      val ids = spark.read.parquet(s"$root/$store")
        .filter(col(idCol) === 1L)
      assert(ids.isEmpty, s"refused doc leaked into the $store store")
    }
  }

  test("live five-gate stream accumulates the same stores as the c85 audit replay") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val pop = docs.filter(col("doc_id") % 97 =!= 0).join(vecs, Seq("doc_id"))
    val bits = SessionMemo.frame("c67_bits", docs)(
      TextAnalysis.bloomBitsFromKeys(
        TextAnalysis.docShingles8Direct(docs.filter(col("doc_id") % 97 === 0))))
    val n = FunnelStream.AuditBatches
    val in = java.nio.file.Files.createTempDirectory("graft-g5-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50) // distinct mtimes → batch order = poll order
    }
    val root = java.nio.file.Files.createTempDirectory("graft-g5-st-").toString
    val src = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = FunnelStream.funnelGate5(src, bits,
      s"$root/decisions", s"$root/keep", s"$root/bands",
      s"$root/vecs", s"$root/buckets", s"$root/spans", s"$root/postings")
    try q.processAllAvailable() finally q.stop()
    val live = FunnelStream.gate5Result(spark, root).collect()
    val audit = FunnelStream.c85Gate5Pipeline(spark, sf).collect()
    assert(live.length == audit.length, s"live ${live.length} vs audit ${audit.length}")
    assert(live.sameElements(audit), "live five-gate stores diverge from the audit replay")
    // at-least-once replay: re-offering every file changes nothing
    val src2 = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q2 = FunnelStream.funnelGate5(src2, bits,
      s"$root/decisions", s"$root/keep", s"$root/bands",
      s"$root/vecs", s"$root/buckets", s"$root/spans", s"$root/postings")
    try q2.processAllAvailable() finally q2.stop()
    val replayed = FunnelStream.gate5Result(spark, root).collect()
    assert(replayed.sameElements(audit), "replay changed five-gate decisions")
  }

  test("c86 packs the stored tokenizer's tokens: totals reconcile, sequences contiguous") {
    val enc = graft.operators.TextAnalysis.c83StoredTokenizer(spark, sf)
      .select(col("doc_id"), col("n_bpe_tokens")).collect()
    val rows = graft.operators.Sampling.c86PackTokenized(spark, sf).collect()
    // every encoded doc lands in exactly one sequence; token mass is
    // conserved through the packing
    assert(rows.map(_.getLong(2)).sum == enc.length,
      "packed doc count != encoded doc count")
    assert(rows.map(_.getLong(3)).sum == enc.map(_.getLong(1)).sum,
      "packed token mass != encoded token mass")
    // per shard: seq ids are the dense prefix 0..max
    for ((shard, rs) <- rows.groupBy(_.getLong(0))) {
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.sameElements(0L until ids.length),
        s"shard $shard seq ids not dense: ${ids.mkString(",")}")
    }
    // BPE tokens are at least one per word, so the trained-tokenizer
    // fill can never undershoot the whitespace proxy per doc
    val c22ByDoc = enc.map(r => r.getLong(0)).toSet
    assert(c22ByDoc.size == enc.length, "doc encoded twice")
  }

  test("c87 health report reconciles with the churned corpus and its own flag rule") {
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val live = Similarity.churnedCorpus(emb)
    val nLive = live.count()
    val nUpd = live.filter(col("vec_id") % 7 === 3).count()
    val rows = Similarity.c87IndexHealth(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == nLive,
      "per-cluster occupancy does not sum to the live corpus")
    assert(rows.map(_.getLong(2)).sum == nUpd,
      "per-cluster updated counts do not sum to the churned slice")
    for (r <- rows) {
      assert(r.getDouble(3) >= 0.0, s"negative mean error in cluster ${r.getLong(0)}")
      val nU = r.getLong(2)
      assert((nU == 0) == r.isNullAt(4),
        s"cluster ${r.getLong(0)}: upd_mean_qerr null-ness disagrees with n_updated")
      val expect = nU > 0 && r.getDouble(4) > r.getDouble(3)
      assert(r.getBoolean(5) == expect,
        s"cluster ${r.getLong(0)}: degraded flag disagrees with its own rule")
    }
  }

  test("c88 trajectory: dense steps, zero init, step-0 agreement = teacher keeps") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val traj = TextAnalysis.c88ClassifierTrain(spark, sf).collect()
    assert(traj.length == TextAnalysis.QcTrainSteps + 1, "one row per step incl. init")
    assert(traj.map(_.getLong(0)).sameElements(0L to TextAnalysis.QcTrainSteps.toLong),
      "steps not the dense 0..N prefix")
    val s0 = traj.head
    for (j <- 1 to 6)
      assert(s0.getDouble(j) == 0.0, s"step-0 weight $j not the zero init")
    // zero weights score p = 0.5 exactly, which the 0.5 threshold
    // reads as keep — so step-0 agreement is the teacher's keep count
    val teacherKeeps = graft.operators.TextAnalysis.c41GopherRules(docs)
      .agg(sum(col("keep"))).collect()(0).getLong(0)
    assert(s0.getLong(7) == teacherKeeps,
      s"step-0 n_correct ${s0.getLong(7)} != teacher keeps $teacherKeeps")
  }

  test("c89 serving is internally consistent and scores every document") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = TextAnalysis.c89StoredClassifier(spark, sf).collect()
    assert(rows.length == docs.count(), "one score per document")
    val teacher = graft.operators.TextAnalysis.c41GopherRules(docs)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- rows) {
      val (score, keep) = (r.getDouble(1), r.getLong(2))
      assert(score >= 0.0 && score <= 1.0, s"score $score out of range")
      assert(keep == (if (score >= 0.5) 1L else 0L), "keep bit != its own threshold")
      assert(r.getLong(3) == teacher(r.getLong(0)),
        s"teacher_keep drifted from the shipped Gopher battery for doc ${r.getLong(0)}")
      assert(r.getLong(4) == (if (keep == r.getLong(3)) 1L else 0L),
        "agree bit inconsistent")
    }
    // the stored-weights scorer must agree with the trainer's own final
    // trajectory row: its agreement count is the last step's n_correct
    val lastCorrect = TextAnalysis.c88ClassifierTrain(spark, sf).collect().last.getLong(7)
    assert(rows.map(_.getLong(4)).sum == lastCorrect,
      "serving agreement != trainer's final-step n_correct")
  }
}
