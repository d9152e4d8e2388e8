package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, Mart, MartRunner, MartStatus, Pipeline, SparkEntry}
import graft.sources.{ExternalConnection, ExternalStore, PageSource, Tables}

/** Benchmark program for the graft engine. It calls only public entry
  * points (`Pipeline.runOnce`, the `MartRunner` DAGs, `SparkEntry.queries`)
  * and takes every measurement from its own callbacks: the page source,
  * `eventsFrom`, `dagFor`, the `save` sink, the external store, a
  * `SparkListener` and a `QueryExecutionListener`.
  *
  * It records raw spans and counters and writes them once, as JSON, to
  * `--out`; `perfbench/run.py` turns them into metrics and checks the
  * outputs it points at against the DuckDB oracle.
  *
  * Usage: graftbench.Main --workload <name> --data <dir> --work <dir>
  *          --seconds <s> --trace <0|1> --out <file> [--probe 1]
  */
object Main {

  // ---------------------------------------------------------------- recording

  /** One timed interval on the JVM's monotonic clock (ns since `Rec.t0`). */
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      pass: Int, start: Long, end: Long)

  object Rec {
    val t0: Long = System.nanoTime()
    val wall0: Long = System.currentTimeMillis()
    @volatile var pass = 0
    private val nextId = new AtomicLong(0)
    val spans = ArrayBuffer.empty[Span]
    val failures = ArrayBuffer.empty[Map[String, Any]]
    val checks = new AtomicLong(0)
    private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

    def now(): Long = System.nanoTime() - t0
    /** Convert a `currentTimeMillis` stamp (listener events) to the span clock. */
    def fromWallMs(ms: Long): Long = (ms - wall0) * 1000000L

    def add(s: Span): Unit = spans.synchronized { spans += s }

    def span[A](layer: String, name: String)(f: => A): A = {
      val id = nextId.incrementAndGet().toInt
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val start = now()
      try f
      finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, layer, name, pass, start, now()))
      }
    }

    /** A span whose start and end were observed at two callbacks. */
    def interval(layer: String, name: String, start: Long, end: Long): Unit =
      add(Span(nextId.incrementAndGet().toInt, stack.get.headOption.getOrElse(0),
        layer, name, pass, start, end))

    def fail(op: String, e: Throwable): Unit = failures.synchronized {
      failures += Map("op" -> op, "pass" -> pass,
        "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  // ------------------------------------------------------------ external store

  /** In-process keyed store behind the `ExternalStore` contract
    * (`insert … on conflict do nothing`). Local mode runs the executors
    * in this JVM, so a static map is visible to every task. Each row
    * remembers the pass that inserted it, for the export check. */
  object StoreData {
    val tables = new ConcurrentHashMap[String, ConcurrentHashMap[Seq[Any], (Seq[Any], Int)]]()
    val columns = new ConcurrentHashMap[String, Seq[String]]()
  }

  class BenchStore extends ExternalStore {
    def connect(): ExternalConnection = new ExternalConnection {
      def ensureTable(table: String, schema: StructType, keyCols: Seq[String]): Unit = {
        StoreData.tables.putIfAbsent(table, new ConcurrentHashMap())
        StoreData.columns.put(table, schema.fieldNames.toSeq)
      }
      def insertIgnoreBatch(table: String, schema: StructType, keyCols: Seq[String],
          rows: Seq[Row]): Long = {
        val start = Rec.now()
        val t = StoreData.tables.get(table)
        val pass = Rec.pass
        val keyIdx = keyCols.map(schema.fieldIndex)
        val n = rows.count(r => t.putIfAbsent(keyIdx.map(r.get), (r.toSeq, pass)) == null)
        Rec.add(Span(-1, -1, "sources", s"store.insert:$table:${rows.size}", pass,
          start, Rec.now()))
        n.toLong
      }
      def close(): Unit = ()
    }
  }

  // ---------------------------------------------------------------- page feed

  /** A polled API over a generated feed: `ts_us<TAB>json` lines, oldest
    * first. Serves items after `cursor - overlapUs` up to the pass's
    * `upTo` horizon, `pageSize` items a page, as the reference poller's
    * overlapping window does. */
  final class Feed(path: String) {
    val (ts, lines) = {
      val raw = Files.readAllLines(Paths.get(path)).asScala.toArray
      (raw.map(l => l.substring(0, l.indexOf('\t')).toLong),
        raw.map(l => l.substring(l.indexOf('\t') + 1)))
    }
    @volatile var upTo: Long = Long.MinValue
    def firstAfter(us: Long): Int = {
      var lo = 0; var hi = ts.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) > us) hi = m else lo = m + 1 }
      lo
    }
  }

  class FeedSource(feed: Feed, pageSize: Int, overlapUs: Long) extends PageSource {
    def fetchPage(cursorUs: Long, page: Int): Seq[String] = Rec.span("sources", "fetch") {
      val from = feed.firstAfter(if (cursorUs == 0L) Long.MinValue else cursorUs - overlapUs) +
        page * pageSize
      val until = math.min(feed.firstAfter(feed.upTo), from + pageSize)
      if (from >= until) Nil else feed.lines.slice(from, until).toSeq
    }
  }

  // ------------------------------------------------------------------ tracing

  /** Per-pass Spark counters (traced runs only). */
  final class Tracer extends SparkListener with QueryExecutionListener {
    private val byPass = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]()
    val jobs = ArrayBuffer.empty[(Int, Long, Long)] // (pass, start ns, end ns)
    private val jobStart = new ConcurrentHashMap[Int, Long]()

    private def bump(k: String, v: Double): Unit =
      byPass.computeIfAbsent(Rec.pass, _ => new ConcurrentHashMap()).merge(k, v, (a, b) => a + b)

    def counters(pass: Int): Map[String, Double] =
      Option(byPass.get(pass)).map(_.asScala.toMap).getOrElse(Map.empty)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, Rec.fromWallMs(e.time)); bump("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.remove(e.jobId)).getOrElse(Rec.fromWallMs(e.time))
      jobs.synchronized { jobs += ((Rec.pass, s, Rec.fromWallMs(e.time))) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = bump("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      bump("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        bump("spark.task_s", m.executorRunTime / 1e3)
        bump("spark.cpu_s", m.executorCpuTime / 1e9)
        bump("spark.gc_s", m.jvmGCTime / 1e3)
        bump("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        bump("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        bump("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        bump("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        bump("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      bump("plans.queries", 1)
      bump("plans.planning_s", qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3)
      nodes(qe.executedPlan).foreach { p =>
        val c = p.getClass.getName
        if (c.endsWith(".ShuffleExchangeExec")) bump("plans.exchanges", 1)
        else if (c.endsWith(".SortMergeJoinExec")) bump("plans.smj", 1)
        else if (c.endsWith(".BroadcastHashJoinExec")) bump("plans.bhj", 1)
        else if (c.endsWith(".BroadcastNestedLoopJoinExec")) bump("plans.bnlj", 1)
        if (c.startsWith("graft.")) bump("plans.graft_nodes", 1)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** Every node of the final (post-AQE) plan, through query stages,
      * command wrappers and subqueries. */
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case c: org.apache.spark.sql.execution.CommandResultExec => nodes(c.commandPhysicalPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
  }

  // ---------------------------------------------------------------- workloads

  trait Workload {
    /** Load the workload's tables into a fresh session (timed as set-up). */
    def load(spark: SparkSession): Unit
    /** One timed pass. */
    def pass(spark: SparkSession, p: Int): Unit
    /** Untimed checks after pass `p`; failures go to `Rec.fail`. */
    def checkPass(spark: SparkSession, p: Int): Unit = ()
    /** Untimed final checks and oracle dumps; returns what run.py checks. */
    def finish(spark: SparkSession): Map[String, Any]
    def maxWarmPasses: Int = 1000
    def extra(): Map[String, Any] = Map.empty
  }

  /** Drain every row and column of a result: the `noop` sink runs the
    * whole plan without writing, so column pruning cannot shrink it. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A keyed query op: the call that returns the frame, then its drain. */
  def keyedOp(spark: SparkSession, key: String, dir: String, sink: DataFrame => Unit): Unit =
    Rec.span("op", key) {
      try {
        val df = Rec.span("operators", "build")(SparkEntry.queries(key)(spark, dir))
        Rec.span("operators", "exec")(sink(df))
      } catch { case scala.util.control.NonFatal(e) => Rec.fail(key, e) }
    }

  val EventsPageSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Each warehouse mart of the events DAG and the keyed query whose
    * oracle it must equal (the same operator over the same events). */
  val EventsTwins = Map(
    "stg_events" -> "a1_stg_events", "dim_user" -> "a2_dim_user",
    "dim_event_type" -> "a3_dim_event_type", "fct_events" -> "a4_fct_events",
    "rpt_user_counts" -> "a5_rpt_user_counts", "rpt_type_counts" -> "a6_rpt_type_counts",
    "rpt_discovery" -> "a7_rpt_discovery", "dq_checks" -> "a9_dq_checks")

  /** The reference cron flow: pass 1 backfills 80% of the feed, each
    * later pass polls one small delta and rebuilds the events DAG into
    * a parquet warehouse, then exports the serving marts. */
  class EventsPipeline(data: String, work: String) extends Workload {
    val feed = new Feed(s"$data/events.feed")
    val ingest = s"$work/ingest"
    val warehouse = s"$work/warehouse"
    override val maxWarmPasses = 40
    private val first = feed.ts.head
    private val span = feed.ts.last - first
    private val backfill = first + (span * 0.8).toLong
    def horizon(p: Int): Long =
      if (p == 1) backfill else backfill + (span * 0.2 * (p - 1) / maxWarmPasses).toLong
    val exportKeys = Map("rpt_user_counts" -> Seq("user_id"),
      "rpt_type_counts" -> Seq("type_name", "user_id"),
      "rpt_discovery" -> Seq("year_played", "week_played"), "fct_events" -> Seq("play_id"))
    val fetched = ArrayBuffer.empty[Map[String, Any]]
    val stores = ArrayBuffer.empty[Map[String, Any]]

    def load(spark: SparkSession): Unit = ()

    def pass(spark: SparkSession, p: Int): Unit = {
      feed.upTo = horizon(p)
      val start = Rec.now()
      var ingestEnd = -1L
      var lastSave = -1L
      val sink = MartRunner.parquetSink(spark, warehouse)
      val report = Rec.span("pipeline", "runOnce") {
        Pipeline.runOnce(spark, new FeedSource(feed, pageSize = 500, overlapUs = 600L * 1000000L),
          EventsPageSchema, ingest, "event_id", "ts_us",
          eventsFrom = df => {
            ingestEnd = Rec.now()
            df.withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
          },
          dagFor = rows => MartRunner.spotifyDagFrom(rows).map(m => m.copy(build = d =>
            Rec.span("martrunner", s"build:${m.name}")(m.build(d)))),
          warehouseRoot = warehouse,
          external = new BenchStore,
          exportKeys = exportKeys,
          save = Some((name: String, df: DataFrame) => {
            val r = Rec.span("martrunner", s"write:$name")(sink(name, df))
            lastSave = Rec.now()
            r
          }))
      }
      val end = Rec.now()
      if (ingestEnd >= 0) {
        Rec.interval("pipeline", "ingest", start, ingestEnd)
        Rec.interval("pipeline", "dag", ingestEnd, math.max(ingestEnd, lastSave))
        Rec.interval("pipeline", "export", math.max(ingestEnd, lastSave), end)
      }
      fetched += Map("pass" -> p, "rows" -> report.fetchedRows)
      report.martStatus.foreach {
        case (_, MartStatus.Built) =>
        case (name, MartStatus.Failed(_, e)) => Rec.fail(s"mart:$name", e)
        case (name, s) => Rec.fail(s"mart:$name", new RuntimeException(s.toString))
      }
    }

    /** The keep-first store's contract, checked against the warehouse:
      * the store holds exactly the warehouse's keys, and every row
      * inserted this pass equals the warehouse row for its key. Also
      * records the ingest store's size. */
    override def checkPass(spark: SparkSession, p: Int): Unit = {
      exportKeys.foreach { case (table, keys) =>
        Rec.checks.incrementAndGet()
        try {
          val cols = StoreData.columns.get(table)
          val rows = spark.read.parquet(s"$warehouse/$table").select(cols.map(col): _*).collect()
          val idx = keys.map(cols.indexOf(_))
          val want = rows.map(r => idx.map(r.get) -> r.toSeq).toMap
          require(want.size == rows.length, s"export key ${keys.mkString(",")} is not unique")
          val got = StoreData.tables.get(table).asScala
          require(got.keySet == want.keySet,
            s"store keys != warehouse keys (${got.size} vs ${want.size})")
          got.foreach { case (k, (row, insertedIn)) =>
            if (insertedIn == p) require(row == want(k), s"store row $row != warehouse ${want(k)}")
          }
        } catch { case scala.util.control.NonFatal(e) => Rec.fail(s"export:$table", e) }
      }
      val files = Files.walk(Paths.get(ingest)).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
      stores += Map("pass" -> p, "files" -> files.size, "bytes" -> files.map(Files.size).sum)
    }

    override def extra(): Map[String, Any] = Map("fetched" -> fetched.toSeq, "store" -> stores.toSeq)

    def finish(spark: SparkSession): Map[String, Any] = Map(
      "ingest" -> ingest, "warehouse" -> warehouse, "horizon_us" -> feed.upTo,
      "marts" -> EventsTwins.map { case (m, k) => m -> SparkEntry.oracleSql(k) })
  }

  /** Keyed dedup and ANN queries over one seeded corpus: the shingle,
    * MinHash and vector kernels plus the session memos they share. */
  val CurationKeys = Seq("c1_dedup_exact", "c2_dedup_ngram", "c3_dedup_minhash",
    "c20_contamination", "c34_span_cuts",
    "c7_ann_ivf", "c47_pq_adc", "c60_ivf_pq", "c79_stored_serving")

  class CurationCorpus(data: String, work: String) extends Workload {
    val out = s"$work/out"
    def load(spark: SparkSession): Unit = Seq("documents", "embeddings").foreach(Tables.load(spark, data, _))
    /** Pass 2, the warm-up pass no metric uses, writes each result (in
      * stored order) for the oracle check instead of draining it. */
    def pass(spark: SparkSession, p: Int): Unit = CurationKeys.foreach { key =>
      keyedOp(spark, key, data,
        if (p == 2) _.coalesce(1).write.mode("overwrite").parquet(s"$out/$key") else drain)
    }
    def finish(spark: SparkSession): Map[String, Any] = Map("out" -> out, "keyed" ->
      CurationKeys.filter(k => Files.exists(Paths.get(s"$out/$k"))).map(k => k -> SparkEntry.oracleSql(k)).toMap)
  }

  // --------------------------------------------------------------------- main

  def peakRssMb(): Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    hwm / 1024.0
  }

  def session(tmp: String): SparkSession = {
    val s = GraftSession.builder().config("spark.local.dir", tmp).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, data, work) = (a("workload"), a("data"), a("work"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tmp = s"$work/tmp"
    Files.createDirectories(Paths.get(tmp))

    // set-up: JVM start → session ready with the workload's tables
    // loaded. A probe JVM (`--probe 1`) records only this and exits;
    // run.py reports the median over this JVM and its probes.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = workload match {
      case "events_pipeline" => new EventsPipeline(data, work)
      case "curation_corpus" => new CurationCorpus(data, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = session(tmp)
    wl.load(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    if (a.get("probe").contains("1")) {
      Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(Map("setup_s" -> setupS)))
      spark.stop()
      return
    }

    val tracer = new Tracer
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val storage = ArrayBuffer.empty[Map[String, Any]]
    var checkNs = 0L
    var p = 0
    // listener events arrive asynchronously; draining the bus before
    // the pass id changes keeps each event in the pass that caused it
    def settle(): Unit = if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
    // pass 1 is cold; warm passes then run until `seconds` have passed
    // since it ended, at least two of them: pass 2, the JIT warm-up the
    // metrics drop, and one steady pass
    var warmBegin = 0L
    def warmFor(): Double = (System.nanoTime() - warmBegin) / 1e9
    while (p < 1 + wl.maxWarmPasses && (p < 3 || warmFor() < seconds)) {
      p += 1
      Rec.pass = p
      val start = Rec.now()
      wl.pass(spark, p)
      val end = Rec.now()
      passes += Map("pass" -> p, "start" -> start, "end" -> end)
      settle()
      if (traced) {
        val rdds = spark.sparkContext.getRDDStorageInfo
        storage += Map("pass" -> p, "cached_rdds" -> rdds.length,
          "cached_bytes" -> rdds.map(r => r.memSize + r.diskSize).sum)
      }
      Rec.pass = p + 1000 // untimed work between passes is not counted
      val c0 = System.nanoTime()
      wl.checkPass(spark, p)
      settle()
      checkNs += System.nanoTime() - c0
      if (p == 1) warmBegin = System.nanoTime()
    }
    val rss = peakRssMb()
    // heap the timed work leaves reachable: memo blocks, cached frames
    // and artifacts, session state. The second collection also frees
    // what the ContextCleaner released after the first.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    Rec.pass = 0
    val f0 = System.nanoTime()
    val checks = wl.finish(spark)
    checkNs += System.nanoTime() - f0

    val out = Map(
      "workload" -> workload,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setup_s" -> setupS,
      "passes" -> passes.toSeq,
      "spans" -> Rec.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "pass" -> s.pass, "start" -> s.start, "end" -> s.end)),
      "failures" -> Rec.failures.toSeq,
      "checks_run" -> Rec.checks.get,
      "check_s" -> checkNs / 1e9,
      "peak_rss_mb" -> rss,
      "retained_mb" -> retainedMb,
      "checks" -> checks,
      "trace" -> (if (!traced) Map.empty else Map(
        "counters" -> passes.map(ps => ps("pass").toString -> tracer.counters(ps("pass").asInstanceOf[Int])).toMap,
        "jobs" -> tracer.jobs.toSeq.map { case (ps, s, e) => Seq(ps, s, e) },
        "storage" -> storage.toSeq))
    ) ++ wl.extra()
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(out))
    spark.stop()
  }
}
