package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-26 contracts: the five-gate door's store-inventory
  * compaction audit (c174) and the live histogram store + its drift
  * gate (c175/c176). */
class Round26Spec extends AnyFunSuite {
  import TestSpark._
  import graft.streaming.{BudgetStream, Door, EventsStream, FunnelStream}
  import graft.operators.TextAnalysis

  test("c174: recompaction is idempotent and preserves every store row") {
    // snapshot every store's content BEFORE the re-lay (the build
    // side-effects through c85's memoized store root)
    val root = FunnelStream.gate5Stores(spark, sf, FunnelStream.AuditBatches)
    // stores a tiny corpus never wrote audit as empty rows — restrict
    // the content/layout pins to the ones that exist
    val stores = Seq("bands", "buckets", "decisions", "keep", "postings",
      "spans", "vecs").filter(s =>
      EventsStream.hasCommittedData(spark, s"$root/$s"))
    assert(stores.contains("decisions") && stores.contains("keep"),
      "the fixture must commit at least the decision/keep stores")
    def content(s: String) = spark.read.parquet(s"$root/$s")
      .drop(EventsStream.KeyBucketCol)
      .collect().map(_.toSeq).toSet
    val before = stores.map(s => s -> content(s)).toMap
    val first = SparkEntry.queries("c174_door_compaction")(spark, sf).collect()
    // row identity across the re-lay: the swap moves bytes, not rows
    for (s <- stores)
      assert(content(s) == before(s), s"compaction changed $s's content")
    // one-file bucket contract after the pass
    for (s <- stores) {
      val frag = new java.io.File(s"$root/$s").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__kb="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .filter(_._2 > 1)
      assert(frag.isEmpty, s"$s still fragmented after compaction: ${frag.toSeq}")
    }
    // idempotent: a second maintenance pass rewrites nothing and
    // reports the identical inventory
    val second = SparkEntry.queries("c174_door_compaction")(spark, sf).collect()
    assert(second.sameElements(first), "recompaction changed the audit")
    assert(EventsStream.compactStoreSelective(spark, s"$root/decisions",
      minFiles = 2).isEmpty, "second pass still found fragmented buckets")
  }

  test("c174 inventory reconciles with the c85 result it serves") {
    val inv = SparkEntry.queries("c174_door_compaction")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val g5 = SparkEntry.queries("c85_gate5")(spark, sf)
    assert(inv("decisions") == g5.count(),
      "decision store rows must equal the door's offered population")
    val keeps = g5.filter(col("stage") === "keep").count()
    for (s <- Seq("keep", "vecs"))
      assert(inv(s) == keeps, s"$s store must hold exactly the final keepers")
    assert(inv("buckets") == keeps, "one sign bucket row per final keeper")
    assert(inv("bands") == keeps * graft.operators.Dedup.Bands,
      "uncapped band rows: Bands per final keeper")
  }

  test("c175: sum-over-log equals the one-pass bins (additive merge property)") {
    val root = BudgetStream.histDoorStores(spark, sf, FunnelStream.AuditBatches)
    val summed = spark.read.parquet(s"$root/bins")
      .drop(EventsStream.KeyBucketCol)
      .groupBy("source", "bin").agg(sum(col("c")).as("c"))
      .collect().map(_.toSeq).toSet
    val pop = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 =!= 0)
    val onePass = pop.select(col("source"),
        expr(s"least(length(text) div ${TextAnalysis.HqBinWidth}, ${TextAnalysis.HqBins - 1}L)")
          .as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
      .collect().map(_.toSeq).toSet
    assert(summed == onePass,
      "the log's summed bins diverged from the one-pass histogram")
  }

  test("c175: a replayed poll is a no-op (keep-first on recomputed identical rows)") {
    val store = java.nio.file.Files.createTempDirectory("graft-histdoor-")
      .toString + "/bins"
    val batch = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 2 === 0)
    BudgetStream.processHistBatch(batch, store, 0L)
    val once = spark.read.parquet(store).drop(EventsStream.KeyBucketCol)
      .collect().map(_.toSeq).toSet
    BudgetStream.processHistBatch(batch, store, 0L)
    val twice = spark.read.parquet(store).drop(EventsStream.KeyBucketCol)
      .collect().map(_.toSeq).toSet
    assert(twice == once, "an at-least-once replay changed the histogram log")
  }

  test("histDoorGate: a real writeStream maintains the log equal to the audit store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0)
      .as[(Long, String, String)].collect().toSeq
    val n = FunnelStream.AuditBatches
    val store = java.nio.file.Files.createTempDirectory("graft-histdoor-s-")
      .toString + "/bins"
    val ms = MemoryStream[(Long, String, String)]
    val gate = Door.live(ms.toDF().toDF("doc_id", "text", "source"))(
      BudgetStream.processHistBatch(_, store, _))
    try {
      // the audit's exact arrival order: poll i = doc_id ≡ i (mod n)
      for (i <- 0 until n) {
        ms.addData(docs.filter(_._1 % n == i): _*)
        gate.processAllAvailable()
      }
    } finally gate.stop()
    // name-sorted projection: parquet footer column order is
    // commit-order dependent and not part of the store contract
    val cols = Seq("batch_id", "bin", "c", "hk", "source")
    val streamed = spark.read.parquet(store)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val audit = spark.read
      .parquet(s"${BudgetStream.histDoorStores(spark, sf, n)}/bins")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(streamed == audit,
      "the live stream's histogram log diverged from the audit build's")
  }

  test("c176: a source absent from the latest poll has exactly zero drift") {
    import spark.implicits._
    // two sources; 'stale' arrives only in poll 0, 'fresh' in both —
    // and fresh's poll-1 docs are 4× longer, so ITS drift is real
    val mk = (src: String, id: Long, len: Int) => (id, "w " * len, src)
    val b0 = (1L to 40L).map(i => mk("stale", i, 8)) ++
      (41L to 80L).map(i => mk("fresh", i, 8))
    val b1 = (81L to 120L).map(i => mk("fresh", i, 32))
    val store = java.nio.file.Files.createTempDirectory("graft-histdrift-")
      .toString + "/bins"
    BudgetStream.processHistBatch(
      b0.toDF("doc_id", "text", "source"), store, 0L)
    BudgetStream.processHistBatch(
      b1.toDF("doc_id", "text", "source"), store, 1L)
    val log = spark.read.parquet(store).drop(EventsStream.KeyBucketCol)
    val out = BudgetStream.doorHistDriftFrom(log, 2).collect()
      .map(r => r.getString(0) -> r).toMap
    val stale = out("stale")
    assert(stale.getAs[Double]("psi") == 0.0 &&
      stale.getAs[Double]("max_gap") == 0.0 &&
      stale.getAs[Long]("p50_shift") == 0L &&
      stale.getAs[Long]("p99_shift") == 0L,
      s"identical base/cur bins must price to exactly zero drift: $stale")
    assert(stale.getAs[Long]("n_base") == stale.getAs[Long]("n_cur"))
    val fresh = out("fresh")
    assert(fresh.getAs[Double]("psi") > 0.0 &&
      fresh.getAs[Long]("p99_shift") > 0L,
      s"the shifted source must surface real drift: $fresh")
  }

  test("c176 off the door log equals c150's arithmetic over the re-binned population") {
    // the keyed c176 vs histDriftOver fed the SAME slices derived
    // directly from the corpus — pins that reading the artifact loses
    // nothing vs re-binning (the log-sum ≡ one-pass property, at the
    // drift gate's grain)
    val n = FunnelStream.AuditBatches
    val lens = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("v"),
        (col("doc_id") % n < n - 1).as("is_base"))
    def binned(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"),
        expr(s"least(v div ${TextAnalysis.HqBinWidth}, ${TextAnalysis.HqBins - 1}L)").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val nS = lens.groupBy("source").agg(
      sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
      count(lit(1)).as("n_cur"))
    val direct = TextAnalysis.histDriftOver(
        binned(lens.filter(col("is_base"))), binned(lens), nS)
      .collect()
    val keyed = SparkEntry.queries("c176_door_hist_drift")(spark, sf).collect()
    assert(keyed.sameElements(direct),
      "the artifact-read drift diverged from the corpus-read arithmetic")
  }

  test("c177: top-k over the log equals the one-pass draw (top-k merge property)") {
    import org.apache.spark.sql.expressions.Window
    // the one-pass draw: the whole door population as a single batch
    val store = java.nio.file.Files.createTempDirectory("graft-sampledoor-")
      .toString + "/sample"
    val pop = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0)
    BudgetStream.processSampleBatch(pop, store, 0L)
    val w = Window.partitionBy("source")
      .orderBy(col("gumbel_key").desc, col("doc_id"))
    val onePass = spark.read.parquet(store).drop(EventsStream.KeyBucketCol)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= BudgetStream.DoorSampleK)
      .select("source", "rank", "doc_id", "quality", "gumbel_key")
      .collect().map(_.toSeq).toSet
    val keyed = SparkEntry.queries("c177_sample_door")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(keyed == onePass,
      "the merged per-poll top-k diverged from the one-pass draw")
  }

  test("c177: each poll contributes at most k rows per source, and the cut binds") {
    val log = spark.read
      .parquet(s"${BudgetStream.sampleDoorStores(spark, sf, FunnelStream.AuditBatches)}/sample")
      .drop(EventsStream.KeyBucketCol)
    val per = log.groupBy("source", "batch_id").agg(count(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n"))
    assert(per.forall(_ <= BudgetStream.DoorSampleK),
      "a poll leaked more than k rows for one source into the log")
    assert(per.exists(_ == BudgetStream.DoorSampleK.toLong),
      "the fixture never saturated the per-poll cut — the bound went untested")
  }

  test("c177: a replayed poll is a no-op") {
    val store = java.nio.file.Files.createTempDirectory("graft-sampledoor-r-")
      .toString + "/sample"
    val batch = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 2 === 0)
    BudgetStream.processSampleBatch(batch, store, 0L)
    val once = spark.read.parquet(store).drop(EventsStream.KeyBucketCol)
      .collect().map(_.toSeq).toSet
    BudgetStream.processSampleBatch(batch, store, 0L)
    val twice = spark.read.parquet(store).drop(EventsStream.KeyBucketCol)
      .collect().map(_.toSeq).toSet
    assert(twice == once, "an at-least-once replay changed the sample log")
  }

  test("sampleDoorGate: a real writeStream maintains the log equal to the audit store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0)
      .as[(Long, String, String)].collect().toSeq
    val n = FunnelStream.AuditBatches
    val store = java.nio.file.Files.createTempDirectory("graft-sampledoor-s-")
      .toString + "/sample"
    val ms = MemoryStream[(Long, String, String)]
    val gate = Door.live(ms.toDF().toDF("doc_id", "text", "source"))(
      BudgetStream.processSampleBatch(_, store, _))
    try {
      for (i <- 0 until n) {
        ms.addData(docs.filter(_._1 % n == i): _*)
        gate.processAllAvailable()
      }
    } finally gate.stop()
    val cols = Seq("batch_id", "doc_id", "gumbel_key", "quality", "sk", "source")
    val streamed = spark.read.parquet(store)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val audit = spark.read
      .parquet(s"${BudgetStream.sampleDoorStores(spark, sf, n)}/sample")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(streamed == audit,
      "the live stream's sample log diverged from the audit build's")
  }

  test("c178: the snapshot ∪ tail serve is exactly c167's full-log serve") {
    val served = SparkEntry.queries("c178_snapshot_serve")(spark, sf)
      .select("source", "n_used", "sum_scaled", "raw_est", "lc_est", "est")
      .collect().map(_.toSeq).toSet
    val full = SparkEntry.queries("c167_register_door")(spark, sf)
      .select("source", "n_used", "sum_scaled", "raw_est", "lc_est", "est")
      .collect().map(_.toSeq).toSet
    assert(served == full,
      "truncated-log read served different estimates than the full log")
  }

  test("c178: the snapshot rewrite is idempotent and the artifact stays register-bounded") {
    val first = SparkEntry.queries("c178_snapshot_serve")(spark, sf).collect()
    val second = SparkEntry.queries("c178_snapshot_serve")(spark, sf).collect()
    assert(second.sameElements(first), "re-running the serve changed the audit")
    for (r <- first) {
      assert(r.getAs[Long]("n_snapshot_rows") <=
        graft.operators.TextAnalysis.HllRegisters,
        s"snapshot exceeded the register bound: $r")
      assert(r.getAs[Long]("n_tail_rows") <=
        graft.operators.TextAnalysis.HllRegisters)
    }
  }

  test("c179: the B=1 row is c172's exact trainer; step counts divide by B; compression stays in band") {
    val sweep = SparkEntry.queries("c179_bpe_batch_sweep")(spark, sf).collect()
      .map(r => r.getAs[Long]("batch_b") -> r).toMap
    val audit = SparkEntry.queries("c172_bpe_batch_audit")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // B=1 IS the exact sequential trainer — its full-corpus pricing
    // must match the audit's exact row number-for-number
    assert(sweep(1L).getAs[Long]("n_units") ==
      audit("exact").getAs[Long]("n_units"),
      "the B=1 sweep row diverged from the exact trainer's encode")
    assert(sweep(4L).getAs[Long]("n_units") ==
      audit("batched").getAs[Long]("n_units"),
      "the B=4 sweep row diverged from c172's batched encode")
    for ((b, r) <- sweep) {
      val m = r.getAs[Long]("n_merges")
      assert(r.getAs[Long]("n_steps") == (m + b - 1) / b,
        s"B=$b: steps must be ceil(merges/B) when no step came up empty: $r")
      // the trade's bound: batching may only degrade compression,
      // and the spec keeps the degradation inside c172's 5% band
      val c1 = sweep(1L).getAs[Double]("compression")
      val cb = r.getAs[Double]("compression")
      assert(cb >= c1 - 1e-9, s"B=$b compressed BETTER than exact? $r")
      assert(cb <= c1 * 1.05 + 1e-9,
        s"B=$b compression left the 5% band: $cb vs exact $c1")
    }
  }
}
