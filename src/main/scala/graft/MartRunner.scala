package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin mart-DAG runner — the orchestration layer of the reference
  * (dbt's ref() dependency graph + the Prefect flow's retry handling,
  * /root/reference/dbt_spotify/dbt_project.yml + flows/&#42;.py) as a
  * library function: build every mart in dependency order,
  * MATERIALIZE each through an injected sink, retry a failed build,
  * and skip (never run) everything downstream of a mart that stays
  * failed. graft is a library, not a scheduler — cron/Prefect/Airflow
  * own WHEN a run starts; this owns the in-run ordering, which is the
  * part a user replacing the reference actually needs.
  *
  * Downstream builds receive the frame the SINK returned — i.e. they
  * read the materialized mart (dbt's semantics), not a re-derivation
  * of its lineage, so each mart's subtree executes exactly once per
  * run no matter how many dependents it has.
  */
final case class Mart(
    name: String,
    deps: Seq[String],
    build: Map[String, DataFrame] => DataFrame)

sealed trait MartStatus
object MartStatus {
  case object Built extends MartStatus
  /** Build or save threw on every attempt; `attempts` includes the
    * retries. */
  final case class Failed(attempts: Int, error: Throwable) extends MartStatus
  /** Never attempted: an upstream mart failed. */
  final case class Skipped(blockedOn: Seq[String]) extends MartStatus
}

object MartRunner {

  /** Dependency-respecting build order (Kahn), deterministic: among
    * ready marts the DECLARED order wins, so runs are reproducible.
    * Throws on unknown deps and cycles — a malformed DAG is a bug,
    * not a runtime condition to limp through. */
  def topoOrder(marts: Seq[Mart]): Seq[Mart] = {
    val byName = marts.map(m => m.name -> m).toMap
    require(byName.size == marts.size, "duplicate mart names")
    marts.foreach(m => m.deps.foreach(d =>
      require(byName.contains(d), s"mart '${m.name}' depends on unknown '$d'")))
    val order = scala.collection.mutable.ArrayBuffer.empty[Mart]
    val placed = scala.collection.mutable.Set.empty[String]
    var remaining = marts
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(placed))
      if (ready.isEmpty)
        throw new IllegalArgumentException(
          s"dependency cycle among: ${blocked.map(_.name).mkString(", ")}")
      order ++= ready
      placed ++= ready.map(_.name)
      remaining = blocked
    }
    order.toSeq
  }

  /** Run the DAG. `save` materializes a built mart and returns the
    * readable (materialized) frame handed to dependents — use
    * [[parquetSink]] for a dbt-like parquet warehouse, or any custom
    * sink (bucketed tables, the external keyed store). `retries` =
    * extra attempts per mart after the first failure. Failures don't
    * abort the run: independent subtrees still build (dbt's behavior);
    * dependents of a failed mart are Skipped. */
  def run(marts: Seq[Mart], save: (String, DataFrame) => DataFrame,
      retries: Int = 1): Map[String, MartStatus] = {
    val status = scala.collection.mutable.Map.empty[String, MartStatus]
    val built = scala.collection.mutable.Map.empty[String, DataFrame]
    topoOrder(marts).foreach { m =>
      val failedDeps = m.deps.filterNot(built.contains)
      if (failedDeps.nonEmpty) status(m.name) = MartStatus.Skipped(failedDeps)
      else {
        var attempt = 0
        var done = false
        var lastErr: Throwable = null
        while (!done && attempt <= retries) {
          attempt += 1
          try {
            built(m.name) = save(m.name, m.build(built.toMap))
            status(m.name) = MartStatus.Built
            done = true
          } catch { case scala.util.control.NonFatal(e) => lastErr = e }
        }
        if (!done) status(m.name) = MartStatus.Failed(attempt, lastErr)
      }
    }
    status.toMap
  }

  /** Parquet warehouse sink: overwrite `<root>/<name>` and return the
    * re-read frame, so dependents scan the materialized files. The
    * re-read pins the written frame's schema, which skips the
    * schema-inference job a bare parquet read launches. */
  def parquetSink(spark: SparkSession, root: String): (String, DataFrame) => DataFrame =
    (name, df) => {
      val path = s"$root/$name"
      df.write.mode("overwrite").parquet(path)
      spark.read.schema(df.schema).parquet(path)
    }

  /** Incremental warehouse sink — dbt's `incremental` materialization
    * with a unique_key, per mart: models named in `keyOf` MERGE into a
    * bucketed keep-first upsert store (only new keys land, bucket-
    * pruned — a re-run or an overlapping batch is idempotent); models
    * absent from `keyOf` fall back to [[parquetSink]]-style overwrite
    * (dbt `table` — correct for aggregates, which cannot be
    * keyed-merged). Dependents read the MATERIALIZED store, i.e. the
    * full history merged so far, not just this run's slice — exactly
    * how an incremental dbt model's downstream sees it.
    *
    * Cost contract, scoped precisely: a keyed model whose INPUT is
    * the run's raw batch costs its batch, not the warehouse — that is
    * the top-of-DAG ingest case (stg_events from a poll slice). A
    * keyed DEPENDENT of an incremental model reads the full
    * materialized history, so its build recomputes and re-offers the
    * whole warehouse to the merge (all buckets touched; the anti-join
    * drops the old keys again). dbt scopes the same problem with
    * `is_incremental()` input filters; `scopeOf` is that hook as sink
    * config: a mart named there has its BUILT frame passed through
    * the scope function before the merge, so only the run's slice is
    * offered — bucket pruning then touches only the slice's buckets
    * instead of the whole warehouse (MartRunnerSpec asserts the file
    * counts). A run constructs its sink with its batch's scope, just
    * as a dbt model's is_incremental() filter references its batch.
    * A scope that COVERS the run's new keys leaves correctness
    * unchanged — the anti-join drops already-present keys either way,
    * so scope only changes what the merge costs; a scope narrower
    * than the batch loses rows, exactly as a wrong is_incremental()
    * filter does in dbt (the scope is the caller's claim about the
    * batch, and the sink cannot check it). Scoping is only meaningful
    * for merged marts, so names in `scopeOf` must be keyed.
    * `autoCompactMinFiles` passes through to the store's maintenance
    * trigger so a daily-run warehouse never fragments unboundedly. */
  def incrementalSink(spark: SparkSession, root: String, keyOf: Map[String, String],
      autoCompactMinFiles: Option[Int] = None,
      scopeOf: Map[String, DataFrame => DataFrame] = Map.empty): (String, DataFrame) => DataFrame = {
    // a scoped name that is not keyed is a configuration bug (a typo
    // would silently re-offer the warehouse every run — the exact
    // cost failure the hook exists to prevent); fail at construction
    val unkeyed = scopeOf.keySet -- keyOf.keySet
    require(unkeyed.isEmpty,
      s"incrementalSink: scopeOf names must be keyed marts; not in keyOf: ${unkeyed.mkString(", ")}")
    (name, df) => {
      val path = s"$root/$name"
      keyOf.get(name) match {
        case Some(key) =>
          val offered = scopeOf.get(name).fold(df)(scope => scope(df))
          graft.streaming.EventsStream.upsertSink(offered, path, key, autoCompactMinFiles)
          spark.read.parquet(path).drop(graft.streaming.EventsStream.KeyBucketCol)
        case None =>
          parquetSink(spark, root)(name, df)
      }
    }
  }

  /** The reference pipeline as a DAG instance: staging → dims/fact →
    * reports → DQ checks (the dbt model tree of
    * dbt_spotify/models/{staging,marts}). */
  def spotifyDag(spark: SparkSession, sfDir: String): Seq[Mart] =
    spotifyDagFrom(graft.sources.Tables.events(spark, sfDir))

  /** The DOCUMENT-tier pipeline as a DAG instance — the 100 TB
    * curation job in the same harness the reference pipeline ships
    * in ([[spotifyDagFrom]]'s C-tier twin): c50's funnel decides,
    * c36's cluster split partitions, c38's temperature mix prices —
    * one [[run]] (or one [[Pipeline.runOnce]]) per corpus snapshot,
    * replay-idempotent end to end.
    *
    * Materialization split, the a12 cost contract applied to
    * curation: `quality_reasons` is the ROW-LOCAL leg (a pure
    * function of each doc's text — no later ingest can change it),
    * so it is the mart to key on doc_id through the incremental
    * store ([[curationKeys]]); with [[curationScope]]'s anti-join
    * hook wired, a daily run COMPUTES the cascade for new docs only
    * (the scope pushes below the cascade projection) and merges only
    * their buckets. Every other mart is corpus-grain by nature (exact
    * dup = min doc over the full history, contamination = the
    * benchmark's current shingle set, split/mix = functions of the
    * kept corpus) and rebuilds per run as dbt `table` models — cheap
    * joins and report-sized aggregates off the stored reasons and
    * the session kernels, never a re-run of the per-doc cascade.
    * The live twin is FunnelStream (same decision spelling, online);
    * this DAG is the at-rest replay/audit job a deployment runs
    * beside it. Memo note: each run's store read is a fresh plan, so
    * the shingle-kernel session memo adds one entry per run — the
    * DecontamStream caveat, bounded by runs per session. */
  def curationDagFrom(docs: DataFrame): Seq[Mart] = {
    import graft.operators._
    import org.apache.spark.sql.functions._
    Seq(
      Mart("quality_reasons", Nil, _ => TextAnalysis.qualityReasons(docs)),
      Mart("funnel_decisions", Seq("quality_reasons"),
        d => TextAnalysis.funnelDecisionsFrom(docs, d("quality_reasons"))),
      // the deliverable: the curated training corpus itself
      Mart("kept_docs", Seq("funnel_decisions"),
        d => docs.join(
          d("funnel_decisions").filter(col("stage") === "keep").select("doc_id"),
          Seq("doc_id"))),
      Mart("split_assign", Seq("kept_docs"),
        d => Sampling.c36Assignments(d("kept_docs"))),
      Mart("mix_report", Seq("kept_docs"),
        d => Sampling.c38TemperatureMix(d("kept_docs"))),
      // the span stage (r8 verdict: "curationDagFrom never runs the
      // span cut"): exact repeated spans across the CURATED corpus →
      // the per-doc cut decision → effective token counts — the
      // number packing budgets bill against once span dedup has run
      // (billing raw counts double-pays every duplicated span).
      // span_cuts materializes ONCE; eff_tokens prices off the stored
      // frame (each-subtree-executes-once, dbt's table semantics —
      // corpus-grain stages rebuild per run, the documented staleness
      // stance)
      Mart("span_cuts", Seq("kept_docs"),
        d => Dedup.c34SpanCuts(d("kept_docs"))),
      Mart("eff_tokens", Seq("kept_docs", "span_cuts"),
        d => Dedup.effectiveTokensFrom(d("kept_docs"), d("span_cuts"))),
      // the budget line a packer/mixture spends per source: post-cut
      // token mass, not raw counts
      Mart("pack_budget", Seq("kept_docs", "eff_tokens"),
        d => d("kept_docs").select(col("doc_id"), col("source"))
          .join(d("eff_tokens").select(col("doc_id"), col("eff_tokens")), Seq("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("eff_tokens")).as("eff_tokens"))
          .orderBy("source")),
      Mart("funnel_report", Seq("funnel_decisions"),
        d => TextAnalysis.shareOfTotal(
          d("funnel_decisions").groupBy("stage").agg(count(lit(1)).as("n_docs")),
          "n_docs", "share")))
  }

  /** The curation DAG's incremental-sink key map: exactly the
    * row-local mart merges; pass to [[incrementalSink]]. */
  val curationKeys: Map[String, String] = Map("quality_reasons" -> "doc_id")

  /** The matching scope hook: offer only docs NOT already in the
    * reasons store (an anti-join on the store's pruned doc_id
    * column). This is what makes the cascade COMPUTE incremental,
    * not just the write — the reasons build is a projection over the
    * stored corpus, so Catalyst pushes the anti-join below the
    * cascade expression and old docs never evaluate it; without the
    * hook each run recomputes every historical doc's cascade and the
    * keyed merge merely discards the old keys. Needs no external
    * batch tracking: the store itself is the batch boundary. */
  def curationScope(spark: SparkSession, root: String): Map[String, DataFrame => DataFrame] =
    Map("quality_reasons" -> { df =>
      val path = s"$root/quality_reasons"
      if (!graft.streaming.EventsStream.hasCommittedData(spark, path)) df
      else df.join(spark.read.parquet(path).select("doc_id"), Seq("doc_id"), "left_anti")
    })

  /** Same DAG over a caller-supplied events frame — the shape the
    * end-to-end [[Pipeline]] needs, where events come from the ingest
    * store rather than a test directory. */
  def spotifyDagFrom(events: DataFrame): Seq[Mart] = {
    import graft.operators._
    Seq(
      Mart("stg_events", Nil, _ => Staging.stgEvents(events)),
      Mart("dim_user", Seq("stg_events"), d => Marts.dimUser(d("stg_events"))),
      Mart("dim_event_type", Seq("stg_events"), d => Marts.dimEventType(d("stg_events"))),
      Mart("fct_events", Seq("stg_events"), d => Marts.fctEvents(d("stg_events"))),
      Mart("rpt_user_counts", Seq("stg_events"), d => Reports.a5RptUserCounts(d("stg_events"))),
      Mart("rpt_type_counts", Seq("stg_events"), d => Reports.a6RptTypeCounts(d("stg_events"))),
      Mart("rpt_discovery", Seq("stg_events"), d => Reports.a7RptDiscovery(d("stg_events"))),
      Mart("dq_checks", Seq("dim_user", "dim_event_type", "fct_events", "stg_events"),
        d => Checks.dqChecksOverMarts(
          d("dim_user"),
          Marts.dimTrack(d("stg_events")),
          d("dim_event_type"),
          d("fct_events"))))
  }
}
