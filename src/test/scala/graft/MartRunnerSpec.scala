package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The mart-DAG runner: dependency order, retry, skip-downstream —
  * the reference's dbt-build + Prefect-retry behavior. */
class MartRunnerSpec extends AnyFunSuite {
  import TestSpark._

  test("the spotify DAG builds end-to-end into a parquet warehouse") {
    val root = java.nio.file.Files.createTempDirectory("graft-martrun-").toString
    val status = MartRunner.run(
      MartRunner.spotifyDag(spark, sf), MartRunner.parquetSink(spark, root))
    assert(status.values.forall(_ == MartStatus.Built), s"not all built: $status")
    // every mart is materialized and non-empty
    for (name <- status.keys)
      assert(spark.read.parquet(s"$root/$name").count() > 0, s"$name empty")
    // and the DQ suite over the materialized marts passes
    val dq = spark.read.parquet(s"$root/dq_checks")
    assert(dq.filter(!col("passed")).count() == 0, "DQ violations in built marts")
    assert(dq.count() == 7)
  }

  test("incremental sink: two overlapping DAG runs equal one full build") {
    import graft.operators.{Marts, Staging}
    import graft.sources.Tables
    val root = java.nio.file.Files.createTempDirectory("graft-incrdag-").toString
    val ev = Tables.events(spark, sf)
    def dag(pred: org.apache.spark.sql.Column) = Seq(
      Mart("stg_events", Nil, _ => Staging.stgEvents(ev.filter(pred))),
      Mart("fct_events", Seq("stg_events"), d => Marts.fctEvents(d("stg_events"))),
      // an AGGREGATE mart stays overwrite-materialized (no unique key
      // survives re-aggregation) and must reflect the FULL merged
      // staging history, not this run's slice
      Mart("dim_event_type", Seq("stg_events"), d => Marts.dimEventType(d("stg_events"))))
    val keys = Map("stg_events" -> "play_id", "fct_events" -> "play_id")
    val sink = MartRunner.incrementalSink(spark, root, keys)
    // run 1: events 0..6 (mod 10); run 2: 5..9 — overlap 5,6 arrives twice
    val s1 = MartRunner.run(dag(col("event_id") % 10 < 7), sink)
    assert(s1.values.forall(_ == MartStatus.Built), s"run1: $s1")
    val s2 = MartRunner.run(dag(col("event_id") % 10 >= 5), sink)
    assert(s2.values.forall(_ == MartStatus.Built), s"run2: $s2")
    val kb = graft.streaming.EventsStream.KeyBucketCol
    val fctStore = spark.read.parquet(s"$root/fct_events").drop(kb)
    val full = Marts.fctEvents(Staging.stgEvents(ev))
    assert(fctStore.count() == full.count(), "incremental fact lost or duplicated rows")
    assert(fctStore.except(full).count() == 0 && full.except(fctStore).count() == 0)
    // the overwrite mart saw the merged history: every event type present
    val dimTypes = spark.read.parquet(s"$root/dim_event_type")
    assert(dimTypes.count() ==
      Marts.dimEventType(Staging.stgEvents(ev)).count(),
      "aggregate mart did not see the merged staging store")
    // run 3 replays run 2 exactly — fully idempotent, nothing new lands
    val s3 = MartRunner.run(dag(col("event_id") % 10 >= 5), sink)
    assert(s3.values.forall(_ == MartStatus.Built), s"run3: $s3")
    assert(spark.read.parquet(s"$root/fct_events").drop(kb).count() == full.count())
  }

  test("batch-scoped keyed dependents (dbt is_incremental shape) equal the full build") {
    import graft.operators.{Marts, Staging}
    import graft.sources.Tables
    val root = java.nio.file.Files.createTempDirectory("graft-incrscoped-").toString
    val ev = Tables.events(spark, sf)
    // the cost-contract remedy the incrementalSink doc prescribes, now
    // through the API: the DEPENDENT builds from the FULL materialized
    // store (the natural spelling), and the sink's scopeOf hook — dbt's
    // is_incremental() filter as sink config — trims the offered frame
    // to the run's batch before the merge
    def dag(pred: org.apache.spark.sql.Column) = Seq(
      Mart("stg_events", Nil, _ => Staging.stgEvents(ev.filter(pred))),
      Mart("fct_events", Seq("stg_events"),
        d => Marts.fctEvents(d("stg_events"))))
    def sink(pred: org.apache.spark.sql.Column) = MartRunner.incrementalSink(spark, root,
      Map("stg_events" -> "play_id", "fct_events" -> "play_id"),
      scopeOf = Map("fct_events" -> (df => df.filter(pred))))
    for (pred <- Seq(col("event_id") % 10 < 7, col("event_id") % 10 >= 5)) {
      val s = MartRunner.run(dag(pred), sink(pred))
      assert(s.values.forall(_ == MartStatus.Built), s.toString)
    }
    val kb = graft.streaming.EventsStream.KeyBucketCol
    val fct = spark.read.parquet(s"$root/fct_events").drop(kb)
    val full = Marts.fctEvents(Staging.stgEvents(ev))
    assert(fct.count() == full.count(),
      "batch-scoped incremental fact lost or duplicated rows")
    assert(fct.except(full).count() == 0 && full.except(fct).count() == 0)
  }

  test("scopeOf avoids warehouse-sized dependent merges (touched-bucket file counts)") {
    import graft.operators.{Marts, Staging}
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val keys = Map("stg_events" -> "play_id", "fct_events" -> "play_id")
    // TWO base loads so every populated bucket holds ≥2 data files —
    // the fragmentation that makes compaction-on-touch (minFiles=2)
    // observable per touched bucket
    val base1 = col("event_id") % 10 < 4
    val base2 = col("event_id") % 10 >= 4 && col("event_id") % 10 < 7
    val base = base1 || base2
    // a ~0.1% slice: a handful of events, most of them NEW keys
    val tiny = col("event_id") % 997 === 3
    def dag(pred: org.apache.spark.sql.Column) = Seq(
      Mart("stg_events", Nil, _ => Staging.stgEvents(ev.filter(pred))),
      // the warehouse-sized dependent: builds from the FULL store
      Mart("fct_events", Seq("stg_events"), d => Marts.fctEvents(d("stg_events"))))
    // data files per bucket dir of the fct store
    def files(root: String): Map[String, Set[String]] = {
      val d = new java.io.File(s"$root/fct_events")
      d.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith(graft.streaming.EventsStream.KeyBucketCol))
        .map(b => b.getName -> b.listFiles().map(f => f.getName + ":" + f.lastModified())
          .toSet).toMap
    }
    // identical fragmented pre-state in both stores: two base runs each
    val scopedRoot = java.nio.file.Files.createTempDirectory("graft-scoped-").toString
    val plainRoot = java.nio.file.Files.createTempDirectory("graft-plain-").toString
    for (root <- Seq(scopedRoot, plainRoot); pred <- Seq(base1, base2))
      assert(MartRunner.run(dag(pred), MartRunner.incrementalSink(spark, root, keys))
        .values.forall(_ == MartStatus.Built))
    // the tiny incremental run, with compaction-on-touch (minFiles=2,
    // and every bucket is ≥2 files) making every bucket the merge
    // TOUCHES rewrite its files — the observable for merge scope
    val before = (files(scopedRoot), files(plainRoot))
    val stScoped = MartRunner.run(dag(tiny), MartRunner.incrementalSink(spark, scopedRoot, keys,
      autoCompactMinFiles = Some(2),
      scopeOf = Map("fct_events" -> (df => df.filter(tiny)))))
    assert(stScoped.values.forall(_ == MartStatus.Built), stScoped.toString)
    val stPlain = MartRunner.run(dag(tiny), MartRunner.incrementalSink(spark, plainRoot, keys,
      autoCompactMinFiles = Some(2)))
    assert(stPlain.values.forall(_ == MartStatus.Built), stPlain.toString)
    def changed(before: Map[String, Set[String]], after: Map[String, Set[String]]): Int =
      after.count { case (bucket, fs) => before.get(bucket).forall(_ != fs) }
    val scopedTouched = changed(before._1, files(scopedRoot))
    val plainTouched = changed(before._2, files(plainRoot))
    val batchKeys = Staging.stgEvents(ev.filter(tiny)).select("play_id").distinct().count()
    // unscoped: the dependent re-offers the whole warehouse — every
    // populated bucket is touched. scoped: only the batch's buckets.
    assert(plainTouched == before._2.size,
      s"expected the unscoped merge to touch all ${before._2.size} buckets, got $plainTouched")
    assert(scopedTouched <= batchKeys && scopedTouched < plainTouched,
      s"scoped merge touched $scopedTouched buckets for $batchKeys keys " +
        s"(unscoped: $plainTouched)")
    // and the scoped store still converged to the same content
    val kb = graft.streaming.EventsStream.KeyBucketCol
    val want = Marts.fctEvents(Staging.stgEvents(ev.filter(base || tiny)))
    val got = spark.read.parquet(s"$scopedRoot/fct_events").drop(kb)
    assert(got.count() == want.count() &&
      got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("a transient failure is retried; a persistent one skips exactly its downstream") {
    import spark.implicits._
    var flakyAttempts = 0
    val dag = Seq(
      Mart("base", Nil, _ => Seq((1, "a")).toDF("id", "v")),
      // fails on the first attempt, builds on the retry
      Mart("flaky", Seq("base"), d => {
        flakyAttempts += 1
        if (flakyAttempts < 2) sys.error("transient")
        d("base").withColumn("f", lit(1))
      }),
      // fails every attempt
      Mart("broken", Seq("base"), _ => sys.error("permanent")),
      Mart("child_of_broken", Seq("broken"), d => d("broken")),
      Mart("grandchild", Seq("child_of_broken"), d => d("child_of_broken")),
      // independent of the broken subtree — must still build
      Mart("child_of_flaky", Seq("flaky"), d => d("flaky")))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val status = MartRunner.run(dag, (name, df) => { seen += name; df }, retries = 1)
    assert(flakyAttempts == 2)
    assert(status("base") == MartStatus.Built)
    assert(status("flaky") == MartStatus.Built)
    assert(status("child_of_flaky") == MartStatus.Built)
    status("broken") match {
      case MartStatus.Failed(attempts, err) =>
        assert(attempts == 2 && err.getMessage == "permanent")
      case other => fail(s"broken: $other")
    }
    assert(status("child_of_broken") == MartStatus.Skipped(Seq("broken")))
    assert(status("grandchild") == MartStatus.Skipped(Seq("child_of_broken")))
    // dependency order: base before its dependents; skipped marts never hit the sink
    assert(seen.indexOf("base") >= 0 && seen.indexOf("base") < seen.indexOf("flaky"))
    assert(!seen.contains("child_of_broken") && !seen.contains("grandchild"))
  }

  test("malformed DAGs fail loudly: unknown deps and cycles") {
    import spark.implicits._
    val df = () => Seq(1).toDF("x")
    intercept[IllegalArgumentException] {
      MartRunner.topoOrder(Seq(Mart("a", Seq("nope"), _ => df())))
    }
    intercept[IllegalArgumentException] {
      MartRunner.topoOrder(Seq(
        Mart("a", Seq("b"), _ => df()), Mart("b", Seq("a"), _ => df())))
    }
  }

  test("parquetSink returns the written schema and rows, with no job after the write") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
    val root = java.nio.file.Files.createTempDirectory("graft-sinkread-").toString
    // bus order: a job posted after the write's execution ended is a
    // job between the write's completion and the frame's return
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add("job")
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionEnd => events.add("end")
        case _ =>
      }
    }
    val sink = MartRunner.parquetSink(spark, root)
    val seen = scala.collection.mutable.Map.empty[String, Seq[String]]
    val returned = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    spark.sparkContext.addSparkListener(listener)
    val status = try MartRunner.run(MartRunner.spotifyDag(spark, sf), (name, df) => {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      events.clear()
      val out = sink(name, df)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      seen(name) = events.toArray.toSeq.map(_.toString)
      returned(name) = out
      out
    }) finally spark.sparkContext.removeSparkListener(listener)
    assert(status.values.forall(_ == MartStatus.Built), s"not all built: $status")
    assert(returned.keySet == status.keySet)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((name, out) <- returned) {
      val reread = spark.read.parquet(s"$root/$name")
      assert(shape(out) == shape(reread), s"$name: schema differs from the files'")
      assert(rows(out) == rows(reread), s"$name: rows differ from the files'")
      val ev = seen(name)
      assert(ev.contains("end"), s"$name: the write's execution end was not seen: $ev")
      assert(!ev.drop(ev.lastIndexOf("end")).contains("job"),
        s"$name: a job ran after the write completed: $ev")
    }
  }

  test("a repeated DAG run in one session compiles (almost) no new generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val root = java.nio.file.Files.createTempDirectory("graft-codegen-").toString
    val dag = MartRunner.spotifyDag(spark, sf)
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val status = MartRunner.run(dag, MartRunner.parquetSink(spark, root))
      assert(status.values.forall(_ == MartStatus.Built), s"not all built: $status")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compiles()
    val second = compiles()
    // Spark's default 100-entry cache cannot hold the DAG's ~150
    // classes at this SF: every run recompiled ~135 of them. A few
    // aggregate classes still differ from run to run (their generated
    // text follows the hash order of fresh expression ids): measured
    // second runs compiled 12, later runs 0–8
    assert(second <= 25, s"second run compiled $second classes (first: $first)")
  }
}
