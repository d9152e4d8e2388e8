package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.sources.{ExternalStore, PageSource, PollingIngest, Sinks}

/** One scheduled run's report: what the poll fetched, what the DAG
  * built (or failed/skipped), what reached the external store. */
final case class PipelineReport(
    fetchedRows: Long,
    martStatus: Map[String, MartStatus],
    loadedTables: Seq[String])

/** The reference's ENTIRE cron flow as one library call
  * (flows/pull_recent_tracks.py → dbt build →
  * flows/dbt_build_and_load_turso.py): poll the API incrementally
  * into the keep-first ingest store, build the mart DAG over the
  * STORED history (never just this poll's slice), and load the built
  * serving marts into the external keyed store. Every leg is an
  * already-spec'd component — PollingIngest (cursor-incremental,
  * chunk-merged), MartRunner (topo order, retry, skip-downstream),
  * Sinks.writeExternal (executor-side idempotent keyed inserts) —
  * this owns only the composition, the built-marts-only export gate,
  * and the run report. Scheduling (cron/Prefect) stays outside, as
  * in the reference; the whole call is replay-idempotent end to end
  * because each leg is.
  */
object Pipeline {

  def runOnce(
      spark: SparkSession,
      source: PageSource,
      pageSchema: StructType,
      ingestStore: String,
      key: String,
      tsCol: String,
      eventsFrom: DataFrame => DataFrame,
      dagFor: DataFrame => Seq[Mart],
      warehouseRoot: String,
      external: ExternalStore,
      exportKeys: Map[String, Seq[String]],
      maxPages: Int = 1000,
      save: Option[(String, DataFrame) => DataFrame] = None): PipelineReport = {
    val fetched = PollingIngest.ingest(
      spark, source, pageSchema, ingestStore, key, tsCol, maxPages)
    // a first run against a not-yet-populated API legitimately
    // fetches nothing and leaves no store — report and stand down
    // rather than crash every scheduled run until data appears
    if (!graft.streaming.EventsStream.hasCommittedData(spark, ingestStore))
      return PipelineReport(fetched, Map.empty, Nil)
    val stored = spark.read.schema(pageSchema).parquet(ingestStore)
      .drop(graft.streaming.EventsStream.KeyBucketCol)
    // the ingest merge just mutated the store IN PLACE, and the marts
    // below (and the warehouse reads dependents make) re-read the
    // same paths — a session-memoized kernel frame keyed on the plan's
    // semantic hash would serve the PREVIOUS run's corpus (the exact
    // staleness SessionMemo's scaladoc warns about; r12: the span
    // marts surfaced it). A pipeline run is the documented
    // invalidate() call site.
    SessionMemo.invalidate()
    val dag = dagFor(eventsFrom(stored))
    // a typo'd export name would otherwise just never load, silently,
    // run after run — malformed config is a bug, not a condition to
    // limp through (topoOrder's own stance on unknown deps)
    require(exportKeys.keySet.subsetOf(dag.map(_.name).toSet),
      s"exportKeys name(s) not in the DAG: " +
        s"${exportKeys.keySet -- dag.map(_.name)}")
    // `save` overrides the default parquet warehouse (e.g.
    // MartRunner.incrementalSink for keyed-merge marts — the curation
    // DAG's quality_reasons). Exports read the frame the sink
    // returned, the materialized mart dependents also read.
    val sink = save.getOrElse(MartRunner.parquetSink(spark, warehouseRoot))
    val materialized = scala.collection.mutable.Map.empty[String, DataFrame]
    val status = MartRunner.run(dag, (name, df) => {
      val out = sink(name, df)
      materialized(name) = out
      out
    })
    // export ONLY marts that built this run — a failed mart must not
    // overwrite the store with stale or partial rows; its last good
    // load simply stands (the keyed store makes that safe)
    val loaded = exportKeys.toSeq.sortBy(_._1).collect {
      case (table, keys) if status.get(table).contains(MartStatus.Built) =>
        Sinks.writeExternal(materialized(table), external, table, keys)
        table
    }
    PipelineReport(fetched, status, loaded)
  }
}
