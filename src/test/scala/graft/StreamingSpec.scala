package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventsStream

/** Tier E: the streaming forms must agree with their batch twins when
  * fed the same (finite) input — run through a real streaming query
  * (readStream → memory sink). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  // The file stream source wants a directory; stage the single parquet
  // file into a temp dir (simulating an arriving micro-batch drop).
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  private def streamingEvents() = {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(raw.schema).parquet(streamDir))
  }

  test("e1 streaming hourly agg equals batch result") {
    val q = EventsStream.hourlyAgg(streamingEvents(), streaming = true)
      .writeStream.outputMode("complete")
      .format("memory").queryName("e1_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("e1_out").orderBy("hour_us", "event_type").collect()
      val want = EventsStream.e1Batch(graft.sources.Tables.events(spark, sf)).collect()
      assert(got.length == want.length)
      assert(got.sameElements(want))
    } finally q.stop()
  }

  test("e2 streaming dedup emits one row per key") {
    val q = EventsStream.dedup(streamingEvents(), streaming = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("e2_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("e2_out")
      val want = EventsStream.e2Batch(graft.sources.Tables.events(spark, sf))
      assert(got.count() == want.count())
      assert(got.groupBy("user_id", "event_type", "ts_us").count()
        .filter(col("count") > 1).count() == 0)
    } finally q.stop()
  }

  test("stateful streaming sessionization matches batch b9") {
    val q = EventsStream.sessionizeStateful(streamingEvents())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("event_id", "user_id", "ts_us", "session_seq")
        .orderBy("event_id").collect()
      val want = SparkEntry.queries("b9_sessionize")(spark, sf)
        .select("event_id", "user_id", "ts_us", "session_seq").collect()
      assert(got.length == want.length)
      assert(got.sameElements(want))
    } finally q.stop()
  }

  test("streaming SCD2 closed episodes match the batch snapshot across micro-batches") {
    // two TIME-ORDERED micro-batches so the open episode genuinely
    // carries across batch boundaries in state
    val in = java.nio.file.Files.createTempDirectory("graft-scd2-in-").toString
    val stage = java.nio.file.Files.createTempDirectory("graft-scd2-st-").toString
    // stage from the NORMALIZED frame (ts already a TIMESTAMP): the
    // staged files then carry adjusted-UTC micros whatever the source
    // parquet's ts spelling was, and the stream needs no per-format
    // conversion of its own
    val ev = graft.sources.Tables
      .normalizeEventTs(spark.read.parquet(s"$sf/events.parquet"))
    val cut = ev.selectExpr("approx_percentile(unix_micros(ts), 0.5)").head.getLong(0)
    for ((pred, i) <- Seq(unix_micros(col("ts")) <= cut, unix_micros(col("ts")) > cut)
        .zipWithIndex) {
      val out = s"$stage/s$i"
      ev.filter(pred).coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$in/batch$i.parquet"))
    }
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = EventsStream.scd2Stateful(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("scd2_out")
        .orderBy("user_id", "version").collect()
      // batch twin: a11's CLOSED episodes (the open one lives in state)
      val want = graft.operators.Marts
        .a11Scd2Snapshot(graft.sources.Tables.events(spark, sf))
        .filter(col("valid_to_us").isNotNull)
        .select("user_id", "version", "event_type", "valid_from_us", "valid_to_us")
        .orderBy("user_id", "version").collect()
      assert(got.length == want.length,
        s"closed-episode counts differ: ${got.length} vs ${want.length}")
      assert(got.sameElements(want))
      // and at least one episode closed ACROSS the batch boundary
      assert(spark.table("scd2_out")
        .filter(col("valid_from_us") <= cut && col("valid_to_us") > cut)
        .count() > 0, "no episode spanned the micro-batch boundary")
    } finally q.stop()
  }

  test("streaming SCD2 drops cross-batch late events instead of inverting intervals") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-scd2-late-").toString
    val stage = java.nio.file.Files.createTempDirectory("graft-scd2-late-st-").toString
    def batch(name: String, rows: Seq[(Long, String, Long, Long)]): Unit = {
      val out = s"$stage/$name"
      rows.toDF("user_id", "event_type", "ts_us", "event_id")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
        .coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    // batch 0 closes A at t=200 and leaves B open since (200, id 2);
    // batch 1 carries a LATE event at t=150 (behind B's opening in
    // the (ts, event_id) order — must be dropped and counted), an
    // equal-timestamp TIE at t=200 with a HIGHER event_id (a real
    // forward change in a11's order even across the batch boundary —
    // closes B zero-width, exactly as the batch twin does), and a
    // change at t=300 (closes E normally)
    batch("batch0", Seq((1L, "A", 100L, 1L), (1L, "B", 200L, 2L)))
    batch("batch1", Seq((1L, "C", 150L, 3L), (1L, "E", 200L, 4L), (1L, "D", 300L, 5L)))
    val schema = spark.read.parquet(s"$stage/batch0").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    // dropped-late observability: the policy's visible counterpart
    val dropped = spark.sparkContext.longAccumulator("scd2_late_dropped")
    val q = EventsStream.scd2Stateful(src, lateDropCounter = Some(dropped))
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_late_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("scd2_late_out")
        .select("event_type", "valid_from_us", "valid_to_us")
        .orderBy("valid_from_us", "valid_to_us")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.forall { case (_, f, t) => t >= f },
        s"inverted interval emitted: ${got.mkString(",")}")
      assert(got.toSeq == Seq(
        ("A", 100L, 200L), ("B", 200L, 200L), ("E", 200L, 300L)),
        s"late drop / equal-ts tie mishandled: ${got.mkString(",")}")
      assert(dropped.value == 1L,
        s"late-drop counter: expected exactly the 1 planted late event, got ${dropped.value}")
    } finally q.stop()
  }

  test("streaming SCD2 drops events behind an already-processed same-type no-op") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-scd2-hwm-").toString
    val stage = java.nio.file.Files.createTempDirectory("graft-scd2-hwm-st-").toString
    def batch(name: String, rows: Seq[(Long, String, Long, Long)]): Unit = {
      val out = s"$stage/$name"
      rows.toDF("user_id", "event_type", "ts_us", "event_id")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
        .coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    // batch 0: A opens at (100, 1), then a same-type NO-OP at (300, 3)
    // advances the key's processed high-water mark past the episode
    // opening. batch 1: C at (200, 2) is behind that mark — a11's
    // order would have sorted it BEFORE the no-op, so applying it now
    // would silently diverge; it must be dropped AND counted (the
    // pre-r7 guard, relative only to the opening (100, 1), let it
    // through). A replay of the high-water event itself (A, 300, 3)
    // is an idempotent no-op, not a drop. D at (400, 4) closes A.
    batch("batch0", Seq((1L, "A", 100L, 1L), (1L, "A", 300L, 3L)))
    batch("batch1", Seq((1L, "C", 200L, 2L), (1L, "A", 300L, 3L), (1L, "D", 400L, 4L)))
    val schema = spark.read.parquet(s"$stage/batch0").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val dropped = spark.sparkContext.longAccumulator("scd2_hwm_dropped")
    val q = EventsStream.scd2Stateful(src, lateDropCounter = Some(dropped))
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_hwm_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("scd2_hwm_out")
        .select("event_type", "valid_from_us", "valid_to_us")
        .orderBy("valid_from_us", "valid_to_us")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq(("A", 100L, 400L)),
        s"event behind the processed high-water mark was applied: ${got.mkString(",")}")
      assert(dropped.value == 1L,
        s"expected exactly the 1 behind-no-op event counted, got ${dropped.value}")
    } finally q.stop()
  }

  test("streaming curation gate equals batch c23 across a micro-batch boundary") {
    import graft.streaming.{CurationStream, Door}
    val docs = graft.sources.Tables.documents(spark, sf)
    // stage the corpus as TWO files → two micro-batches, so the gate
    // provably composes across a trigger boundary
    val in = java.nio.file.Files.createTempDirectory("graft-cur-in-").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(in)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(in)
    val reasonStore = java.nio.file.Files.createTempDirectory("graft-cur-r-").toString + "/store"
    val keepStore = java.nio.file.Files.createTempDirectory("graft-cur-k-").toString + "/store"
    def runGate(): Unit = {
      val src = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Door.live(src)((b, _) => CurationStream.processBatch(b, reasonStore, keepStore))
      try q.processAllAvailable() finally q.stop()
    }
    runGate()
    val want = graft.operators.TextAnalysis.c23CurationFilter(docs)
      .collect().map(_.toSeq).toSeq
    def gotReport() = CurationStream.report(spark, reasonStore)
      .collect().map(_.toSeq).toSeq
    assert(gotReport() == want,
      "live-gated report diverged from batch c23 over the same corpus")
    // the corpus store holds exactly the admitted docs
    val kept = spark.read.parquet(keepStore)
    val nKeep = docs.select(graft.operators.TextAnalysis.curationReasonOf(col("text"))
      .as("r")).filter(col("r") === "keep").count()
    assert(kept.count() == nKeep && kept.select("doc_id").distinct().count() == nKeep)
    // at-least-once replay: re-offering the whole corpus changes nothing
    runGate()
    assert(gotReport() == want, "replayed micro-batches double-counted")
    // checkpointed restart: a NEW gate over the same input resumes
    // source progress (no work) and the report stands
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur-ck-").toString
    def runCheckpointed(): Unit = {
      val src = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Door.live(src, Some(ckpt))(
        (b, _) => CurationStream.processBatch(b, reasonStore, keepStore))
      try q.processAllAvailable() finally q.stop()
    }
    runCheckpointed()
    runCheckpointed()
    assert(gotReport() == want, "checkpointed restart corrupted the report")
  }

  test("streaming decontamination gate equals the batch Bloom probe + replay-safe") {
    import graft.streaming.{DecontamStream, Door}
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, sf)
    // static benchmark = c35's slice of the same corpus; stream = the
    // probe side, staged as TWO files → two micro-batches
    val bits = TextAnalysis.bloomBitsFromKeys(
      TextAnalysis.docShingles8Direct(docs.filter(col("doc_id") % 97 === 0)))
    val raw = docs.filter(col("doc_id") % 97 =!= 0)
    val in = java.nio.file.Files.createTempDirectory("graft-dec-in-").toString
    raw.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(in)
    raw.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(in)
    val decisionStore = java.nio.file.Files.createTempDirectory("graft-dec-d-").toString + "/store"
    val keepStore = java.nio.file.Files.createTempDirectory("graft-dec-k-").toString + "/store"
    def runGate(): Unit = {
      val src = spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Door.live(src)(
        (b, _) => DecontamStream.processBatch(b, bits, decisionStore, keepStore))
      try q.processAllAvailable() finally q.stop()
    }
    runGate()
    // the decision log matches batch c35's probe rows over the same
    // corpus (unlimited k; compare on shingled docs — the gate also
    // logs n_sh = 0 admissions, which the batch report omits)
    val want = TextAnalysis.c35BloomContamination(docs, k = Int.MaxValue)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def gotDecisions() = DecontamStream.decisions(spark, decisionStore)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val got = gotDecisions()
    assert(got.filter(_._2._1 > 0).map { case (k2, v) => k2 -> ((v._1, v._2, v._3)) } == want,
      "live probe rows diverged from batch c35")
    // shingle-less docs are admitted with n_sh = 0
    assert(got.filter(_._2._1 == 0).forall(_._2._4), "a shingle-less doc was refused")
    // the admission bar is the 4-rounded frac vs MaxFlaggedFrac
    for ((id, (_, _, frac, adm)) <- got)
      assert(adm == (frac <= DecontamStream.MaxFlaggedFrac), s"doc $id verdict wrong")
    // the corpus store holds exactly the admitted docs
    val kept = spark.read.parquet(keepStore)
    assert(kept.select("doc_id").distinct().count() == got.count(_._2._4).toLong)
    // at-least-once replay: re-offering everything changes nothing
    runGate()
    assert(gotDecisions() == got, "replayed micro-batches changed decisions")
  }

  test("streaming near-dup gate: keep-one per cluster, cross-batch drop, replay-safe") {
    import graft.streaming.{Door, NearDupStream}
    import org.apache.spark.sql.Row
    // two staged micro-batches; exact copies make the verified
    // jaccard 1.0, so every planted dup is above any sane bar
    val base = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val uniq1 = (1 to 12).map(i => s"beta$i").mkString(" ")
    val uniq2 = (1 to 12).map(i => s"gamma$i").mkString(" ")
    val batch1 = Seq((1L, base), (2L, base), (3L, uniq1))
    val batch2 = Seq((4L, base), (5L, uniq2), (6L, uniq2))
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-nd-in-").toString
    batch1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    batch2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val decisionStore = java.nio.file.Files.createTempDirectory("graft-nd-d-").toString + "/store"
    val keepStore = java.nio.file.Files.createTempDirectory("graft-nd-k-").toString + "/store"
    val bandStore = java.nio.file.Files.createTempDirectory("graft-nd-b-").toString + "/store"
    def runGate(): Unit = {
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string"))
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Door.live(src)(
        (b, _) => NearDupStream.processBatch(b, decisionStore, keepStore, bandStore))
      try q.processAllAvailable() finally q.stop()
    }
    runGate()
    def gotDecisions() = NearDupStream.decisions(spark, decisionStore)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val got = gotDecisions()
    // batch 1: {1,2} one cluster → 1 keeps, 2 drops citing 1; 3 unique
    assert(got(1L) == ((true, -1L)), s"doc1 ${got(1L)}")
    assert(got(2L) == ((false, 1L)), s"doc2 ${got(2L)}")
    assert(got(3L) == ((true, -1L)), s"doc3 ${got(3L)}")
    // batch 2: 4 duplicates the CROSS-BATCH keeper 1; {5,6} cluster
    assert(got(4L) == ((false, 1L)), s"cross-batch dup not caught: ${got(4L)}")
    assert(got(5L) == ((true, -1L)), s"doc5 ${got(5L)}")
    assert(got(6L) == ((false, 5L)), s"doc6 ${got(6L)}")
    // the keep store holds exactly the admitted docs; the band store
    // only ever carries keepers
    assert(spark.read.parquet(keepStore).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    assert(spark.read.parquet(bandStore).select("doc_id").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    // at-least-once replay: re-offering both files changes nothing
    runGate()
    assert(gotDecisions() == got, "replayed micro-batches changed decisions")
    assert(spark.read.parquet(keepStore).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L), "replay grew the keep store")
  }

  test("near-dup gate on ONE batch equals c12's keep-one-per-cluster decision") {
    import graft.streaming.{Door, NearDupStream}
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sf)
    val in = java.nio.file.Files.createTempDirectory("graft-nd1-in-").toString
    docs.select("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val decisionStore = java.nio.file.Files.createTempDirectory("graft-nd1-d-").toString + "/store"
    val keepStore = java.nio.file.Files.createTempDirectory("graft-nd1-k-").toString + "/store"
    val bandStore = java.nio.file.Files.createTempDirectory("graft-nd1-b-").toString + "/store"
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string"))
      .parquet(in)
    val q = Door.live(src)(
      (b, _) => NearDupStream.processBatch(b, decisionStore, keepStore, bandStore))
    try q.processAllAvailable() finally q.stop()
    // batch twin: the same pair evidence → the same labeler → keep the
    // component minimum (c12/c32's keep-one decision)
    val labels = Dedup.labelComponents(
        Dedup.minhashCandidatePairs(docs)
          .filter(col("jaccard") >= NearDupStream.JaccardThreshold)
          .select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docs.select("doc_id").collect().map(_.getLong(0)).map { id =>
      val lab = labels.getOrElse(id, id)
      id -> ((lab == id, if (lab == id) -1L else lab))
    }.toMap
    val got = NearDupStream.decisions(spark, decisionStore)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got == want, "single-batch gate diverged from the batch keep-one decision")
  }

  test("composed funnel gate: first-fail stages, cross-batch novelty, replay-safe") {
    import graft.streaming.{Door, FunnelStream}
    import graft.operators.TextAnalysis
    import spark.implicits._
    // static benchmark = one doc the funnel must refuse copies of
    val benchText = "the quick brown fox jumps over the lazy dog and then it runs far away"
    val bits = TextAnalysis.bloomBitsFromKeys(TextAnalysis.docShingles8Direct(
      Seq((999000L, benchText)).toDF("doc_id", "text")))
    val fluent1 = "the cat and the dog run in the park today now"
    val fluent2 = "a bird is up on the roof and it sings to me often"
    // batch 1: quality-fail, contaminated, near-dup pair, unique
    val batch1 = Seq(
      (1L, "a b c"),                 // too_short — quality fires FIRST
      (2L, benchText),               // contaminated (quality-clean copy of the benchmark)
      (3L, fluent1), (4L, fluent1),  // within-batch near-dups → 3 keeps, 4 drops
      (5L, fluent2))                 // keep
    // batch 2: a cross-batch near-dup of keeper 3, plus a replay echo
    val batch2 = Seq(
      (6L, fluent1),                 // duplicate citing keeper 3 (cross-batch)
      (7L, "the sun was warm and the sea lay flat under it all day"))
    val in = java.nio.file.Files.createTempDirectory("graft-fn-in-").toString
    batch1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    batch2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val dS = java.nio.file.Files.createTempDirectory("graft-fn-d-").toString + "/store"
    val kS = java.nio.file.Files.createTempDirectory("graft-fn-k-").toString + "/store"
    val bS = java.nio.file.Files.createTempDirectory("graft-fn-b-").toString + "/store"
    val sS = java.nio.file.Files.createTempDirectory("graft-fn-s-").toString + "/store"
    val pS = java.nio.file.Files.createTempDirectory("graft-fn-p-").toString + "/store"
    def runGate(): Unit = {
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string"))
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Door.live(src)(FunnelStream.processBatch4(_, bits, dS, kS, bS, sS, pS, _))
      try q.processAllAvailable() finally q.stop()
    }
    runGate()
    def got() = FunnelStream.decisions(spark, dS)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val d = got()
    assert(d(1L) == (("too_short", -1L)), s"doc1 ${d(1L)}")
    assert(d(2L) == (("contaminated", -1L)), s"doc2 ${d(2L)}")
    assert(d(3L) == (("keep", -1L)) && d(4L) == (("duplicate", 3L)), s"3/4: ${d(3L)} ${d(4L)}")
    assert(d(5L) == (("keep", -1L)), s"doc5 ${d(5L)}")
    assert(d(6L) == (("duplicate", 3L)), s"cross-batch novelty: ${d(6L)}")
    assert(d(7L) == (("keep", -1L)), s"doc7 ${d(7L)}")
    // the keep store holds exactly the admitted docs; dropped docs
    // never leave bands behind
    assert(spark.read.parquet(kS).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L, 7L))
    assert(spark.read.parquet(bS).select("doc_id").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L, 7L))
    // the report reads as the funnel narrowing with every doc counted once
    val rep = FunnelStream.report(spark, dS).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rep == Map("too_short" -> 1L, "contaminated" -> 1L,
      "duplicate" -> 2L, "keep" -> 3L), s"report: $rep")
    // the span gate ran on every admitted batch: these docs are all
    // shorter than the minimum span, so the store must read as "no
    // cuts" (not throw — the committed-data guard), and no refused
    // doc may have left postings behind
    assert(graft.streaming.SpanStream.cuts(spark, sS).count() == 0L)
    // at-least-once replay: re-offering everything changes nothing
    runGate()
    assert(got() == d, "replayed micro-batches changed funnel decisions")
    assert(spark.read.parquet(kS).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L, 7L), "replay grew the keep store")
  }

  test("four-gate live stream accumulates the same stores as the c77 audit replay") {
    import graft.streaming.{Door, FunnelStream, SpanStream}
    import graft.operators.{Dedup, TextAnalysis}
    // the audit's exact population and batch geometry, driven through
    // the REAL streaming query (foreachBatch over a file source, one
    // poll per micro-batch) — pins live four-gate accumulation ≡ the
    // c77 store-grain replay, the batch/stream closure at store grain
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val pop = docs.filter(col("doc_id") % 97 =!= 0)
    val bits = TextAnalysis.bloomBitsFromKeys(TextAnalysis.docShingles8Direct(
      docs.filter(col("doc_id") % 97 === 0)))
    val n = FunnelStream.AuditBatches
    val in = java.nio.file.Files.createTempDirectory("graft-g4-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50) // distinct mtimes → file-source batch order = poll order
    }
    def store(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-g4-$tag-").toString + "/store"
    val (dS, kS, bS, sS, pS) =
      (store("d"), store("k"), store("b"), store("s"), store("p"))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string"))
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Door.live(src)(FunnelStream.processBatch4(_, bits, dS, kS, bS, sS, pS, _))
    try q.processAllAvailable() finally q.stop()
    // read the LIVE stores back in c77's own report shape
    val cut = Dedup.islandCuts(SpanStream.cuts(spark, sS)
      .select(col("doc_cut").as("doc_id"), col("cut_start").as("s"),
        (col("cut_start") + col("n_tokens")).as("e")))
    val live = FunnelStream.decisions(spark, dS)
      .join(cut.select(col("doc_id"), col("cut_tokens")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("stage"), col("dup_of"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"))
      .orderBy("doc_id").collect()
    val audit = FunnelStream.c77GatePipeline(spark, sf).collect()
    assert(live.length == audit.length,
      s"live ${live.length} rows vs audit ${audit.length}")
    assert(live.sameElements(audit), "live four-gate stores diverge from the audit replay")
  }

  test("student-gated live stream accumulates the same store as the c96 audit replay") {
    import graft.streaming.{Door, FunnelStream}
    import graft.operators.TextAnalysis
    // the c96 audit's population and batch geometry driven through the
    // REAL streaming query with the stored classifier as stage 1 —
    // pins live student-gate accumulation ≡ the store-grain replay
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val pop = docs.filter(col("doc_id") % 97 =!= 0)
    val bits = TextAnalysis.bloomBitsFromKeys(TextAnalysis.docShingles8Direct(
      docs.filter(col("doc_id") % 97 === 0)))
    val wE6 = TextAnalysis.storedClassifierWeights(spark, sf)
    val n = FunnelStream.AuditBatches
    val in = java.nio.file.Files.createTempDirectory("graft-gq-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50)
    }
    def store(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-gq-$tag-").toString + "/store"
    val (dS, kS, bS) = (store("d"), store("k"), store("b"))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string"))
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Door.live(src)((b, _) => FunnelStream.processBatch(b, bits, dS, kS, bS,
      reasonsOf = d => TextAnalysis.studentQualityReasons(d, wE6)))
    try q.processAllAvailable() finally q.stop()
    val live = FunnelStream.decisions(spark, dS).orderBy("doc_id").collect()
    val audit = graft.streaming.FunnelStream.c96StudentGateAudit(spark, sf).collect()
    assert(live.length == audit.length,
      s"live ${live.length} rows vs audit ${audit.length}")
    assert(live.sameElements(audit),
      "live student-gate store diverges from the c96 audit replay")
  }

  test("stream-stream interval join matches the batch join") {
    val q = EventsStream.purchaseClickJoin(streamingEvents(), streaming = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj_out").orderBy("p_id", "c_id").collect()
      val want = EventsStream.purchaseClickJoin(
        graft.sources.Tables.events(spark, sf), streaming = false)
        .orderBy("p_id", "c_id").collect()
      assert(got.length == want.length && got.sameElements(want))
    } finally q.stop()
  }

  test("foreachBatch upsert sink is idempotent across overlapping micro-batches") {
    val store = java.nio.file.Files.createTempDirectory("graft-upsert-").toString + "/store"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("event_type"), col("value"))
    val n = ev.count()
    // two overlapping "polls" (the reference's recently-played window
    // always overlaps the previous poll) + a full replay
    val poll1 = ev.filter(col("event_id") % 10 < 7)
    val poll2 = ev.filter(col("event_id") % 10 >= 3)
    EventsStream.upsertSink(poll1, store, "event_id")
    EventsStream.upsertSink(poll2, store, "event_id")
    EventsStream.upsertSink(ev, store, "event_id")      // replay everything
    val got = spark.read.parquet(store)
    assert(got.count() == n, "upsert store row count drifted")
    assert(got.select("event_id").distinct().count() == n)
    // and it runs as a real streaming sink
    val q = EventsStream.dedup(streamingEvents(), streaming = true)
      .select(col("keep_event_id").as("event_id"), col("event_type"), col("ts_us"))
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        EventsStream.upsertSink(b.toDF(), store + "2", "event_id"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(store + "2").count() > 0)
  }

  test("live auto-compacting upsert: micro-batch stream, bounded files, batch-equal store") {
    val in = java.nio.file.Files.createTempDirectory("graft-autoc-in-").toString
    val stage = java.nio.file.Files.createTempDirectory("graft-autoc-st-").toString
    val store = java.nio.file.Files.createTempDirectory("graft-autoc-out-").toString + "/store"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("event_type"), col("value"))
    // six slice files → six micro-batches under maxFilesPerTrigger=1
    for (i <- 0 until 6) {
      val out = s"$stage/s$i"
      ev.filter(pmod(col("event_id"), lit(6)) === i).coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$in/slice$i.parquet"))
    }
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = src.writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        EventsStream.upsertSink(b.toDF(), store, "event_id",
          autoCompactMinFiles = Some(3)))
      .start()
    try q.processAllAvailable() finally q.stop()
    // store content equals the batch source exactly
    val got = spark.read.parquet(store)
      .select(col("event_id"), col("event_type"), col("value"))
    assert(got.count() == ev.count())
    assert(got.except(ev).count() == 0 && ev.except(got).count() == 0)
    // and the maintenance trigger held fragmentation at rest ≤ 2
    val perBucket = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("__kb="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(perBucket.values.max <= 2,
      s"live stream left fragmented buckets: $perBucket")
  }

  test("stream-static enrichment matches the batch join") {
    // the static dim: event types ranked by total count (a mart-like
    // frame the stream enriches against)
    val dim = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type").count()
      .select(col("event_type"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("count").desc, col("event_type"))).cast("long").as("type_rank"))
    val q = EventsStream.enrichWithTypeDim(streamingEvents(), dim)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out").orderBy("event_id").collect()
      val want = EventsStream.enrichWithTypeDim(
        graft.sources.Tables.events(spark, sf), dim).orderBy("event_id").collect()
      assert(got.length == want.length && got.sameElements(want))
      // every event matched the dim (left join, complete dim)
      assert(spark.table("enrich_out").filter(col("type_rank").isNull).count() == 0)
    } finally q.stop()
  }

  test("e4 batch policy table equals streaming dedup-with-watermark under per-event micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val us = 1000000L
    val t0 = 1704067200L * us // 2024-01-01 00:00:00 UTC, micros
    def ts(offsetMin: Long) = new java.sql.Timestamp((t0 + offsetMin * 60 * us) / 1000)
    // (event_id, user_id, event_type, ts): planted dup (2, 6), a
    // genuinely late arrival (4: behind wm = t0+180m − 120m after
    // event 3 lands), and keeps (1, 3, 5)
    val arrivals = Seq(
      (1L, 1L, "click", ts(0)),
      (2L, 1L, "click", ts(0)),
      (3L, 1L, "click", ts(180)),
      (4L, 2L, "click", ts(30)),
      (5L, 2L, "click", ts(90)),
      (6L, 1L, "click", ts(180)))
    val ms = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val src = ms.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = EventsStream.dedup(src, streaming = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("e4_out").start()
    try {
      // ONE event per micro-batch: the engine's watermark before each
      // batch is then exactly "max event time of earlier arrivals",
      // e4Batch's spelling
      arrivals.foreach { a => ms.addData(a); q.processAllAvailable() }
      val streamingKeeps = spark.table("e4_out")
        .select("keep_event_id").collect().map(_.getLong(0)).toSet
      val batchTable = EventsStream.e4Batch(
        arrivals.toDF("event_id", "user_id", "event_type", "ts"))
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
      assert(batchTable == Map(1L -> "keep", 2L -> "dup", 3L -> "keep",
        4L -> "late", 5L -> "keep", 6L -> "dup"),
        s"batch policy table wrong: $batchTable")
      assert(streamingKeeps == batchTable.filter(_._2 == "keep").keySet,
        "streaming watermark+dedup keep set diverged from the batch policy table")
    } finally q.stop()
  }

  test("e5 streaming left-outer interval join equals batch once the watermark flushes unmatched purchases") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val events = graft.sources.Tables.normalizeEventTs(raw)
      .select("event_id", "user_id", "event_type", "ts")
      .as[(Long, Long, String, java.sql.Timestamp)].collect().toSeq
    val maxTs = events.map(_._4.getTime).max
    val ms = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val src = ms.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = EventsStream.purchaseClickJoin(src, streaming = true, joinType = "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("e5_out").start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      // sentinel batches for a user no real row has: the global
      // watermark is the MIN across the two sides' watermark nodes,
      // so BOTH sides need a far-future arrival before every
      // purchase's interval is provably closed — and eviction runs
      // in the batch AFTER the watermark advances, so a final data
      // batch forces the flush synchronously instead of racing the
      // engine's no-data batch. purchase(+30d) → click(+60d) →
      // purchase(+90d) flushes every unmatched (null-click) row —
      // the outer-join completeness contract
      Seq((-1L, -1L, "purchase", new java.sql.Timestamp(maxTs + 30L * 24 * 3600 * 1000)),
          (-2L, -1L, "click",    new java.sql.Timestamp(maxTs + 60L * 24 * 3600 * 1000)),
          (-3L, -1L, "purchase", new java.sql.Timestamp(maxTs + 90L * 24 * 3600 * 1000)))
        .foreach { x => ms.addData(x); q.processAllAvailable() }
      val got = spark.table("e5_out")
        .filter(col("user_id") =!= -1L)
        .orderBy("p_id", "c_id").collect()
      val want = EventsStream.purchaseClickJoin(
        graft.sources.Tables.events(spark, sf), streaming = false,
        joinType = "left_outer").orderBy("p_id", "c_id").collect()
      assert(got.length == want.length && got.sameElements(want),
        s"streaming outer join: ${got.length} rows vs batch ${want.length}")
      assert(got.exists(_.isNullAt(1)),
        "no unmatched purchase in the fixture — the outer leg went untested")
    } finally q.stop()
  }

  test("e6 streaming session-window agg equals batch once the watermark closes every session") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
    val maxTs = events.map(_._2.getTime).max
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val src = ms.toDF().toDF("user_id", "ts", "value")
    val q = EventsStream.e6SessionAgg(src, streaming = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("e6_out").start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      // sentinel far past every session's end pushes the watermark so
      // the engine finalizes ALL real sessions; a second one forces
      // the flush batch to run synchronously
      ms.addData((-1L, new java.sql.Timestamp(maxTs + 30L * 24 * 3600 * 1000), 0.0))
      q.processAllAvailable()
      ms.addData((-2L, new java.sql.Timestamp(maxTs + 60L * 24 * 3600 * 1000), 0.0))
      q.processAllAvailable()
      val got = spark.table("e6_out").filter(col("user_id") >= 0L)
        .orderBy("user_id", "start_us").collect()
      val want = EventsStream.e6SessionAgg(
        graft.sources.Tables.events(spark, sf), streaming = false)
        .orderBy("user_id", "start_us").collect()
      assert(got.length == want.length && got.sameElements(want),
        s"streaming session agg: ${got.length} rows vs batch ${want.length}")
      // the fixture must actually exercise multi-event sessions
      assert(want.exists(_.getAs[Long]("n_events") > 1L),
        "no multi-event session in the fixture — merging went untested")
    } finally q.stop()
  }

  test("registerDoorGate: a real writeStream maintains the register log equal to the one-pass table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect().toSeq
    val (b0, b1) = docs.partition(_._1 % 2 == 0)
    val store = java.nio.file.Files.createTempDirectory("graft-regdoor-").toString + "/registers"
    val ms = MemoryStream[(Long, String, String)]
    val gate = graft.streaming.Door.live(ms.toDF().toDF("doc_id", "text", "source"))(
      graft.streaming.BudgetStream.processRegisterBatch(_, store, _))
    try {
      ms.addData(b0: _*); gate.processAllAvailable()
      ms.addData(b1: _*); gate.processAllAvailable()
    } finally gate.stop()
    val merged = spark.read.parquet(store)
      .drop(graft.streaming.EventsStream.KeyBucketCol)
      .groupBy("source", "reg").agg(max(col("m")).as("m"))
      .collect().map(_.toSeq).toSet
    val onePass = graft.operators.TextAnalysis.hllRegisters(
        graft.operators.TextAnalysis.sourceShingleItems(
          docs.toDF("doc_id", "text", "source")), Seq("source"))
      .collect().map(_.toSeq).toSet
    assert(merged == onePass,
      "the streamed register log's max-merge diverged from the one-pass table")
  }

  test("d1 multimodal meta covers all docs with sane stub features") {
    val out = SparkEntry.queries("d1_multimodal_meta")(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(out.count() == docs.count())
    assert(out.filter(col("fake_width") < 16 || col("fake_width") >= 2064).count() == 0)
    assert(out.filter(col("media_type") =!= "video" && col("n_frames") =!= 1).count() == 0)
    assert(out.filter(col("decode_status") =!= "stubbed").count() == 0)
  }
}
