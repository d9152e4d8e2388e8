package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's API poller re-expressed
  * (flows/pull_recent_tracks.py:160-198 + 233-247: page through
  * recently-played items after a cursor, flatten the JSON, insert
  * `on conflict do nothing`).
  *
  * Split along the same line the reference draws: fetching from a
  * rate-limited HTTP API is inherently edge/driver-side (a PageSource
  * implementation owns auth + paging; no network client ships here —
  * zero egress — so specs drive a fake), while parse + merge are
  * distributed: pages parse with a PINNED schema (no inference pass),
  * and the batch merges through the same keep-first bucketed upsert
  * store the streaming sink uses. The cursor is the store's max event
  * time, so polls are incremental and replays idempotent — the
  * reference's exact semantics.
  */
trait PageSource extends Serializable {
  /** Raw JSON lines for items strictly after `cursorUs` (epoch
    * micros), page by page; an empty page ends the poll.
    *
    * CONTRACT: pages must run OLDEST-FIRST from the cursor. The
    * cursor is the store's max event time, so if a capped poll
    * (`maxPages`) stops early, everything already fetched is a
    * contiguous prefix and the next poll resumes exactly at the gap.
    * A newest-first source would advance the cursor past unfetched
    * items and silently lose them — an implementation wrapping a
    * newest-first API (the reference's recently-played endpoint)
    * must buffer-and-reverse within its window. */
  def fetchPage(cursorUs: Long, page: Int): Seq[String]
}

object PollingIngest {

  /** Current incremental cursor: max `tsCol` (epoch-micros long) in
    * the committed store, 0 for an empty/absent store. Parquet
    * footer stats make the max cheap; a production deployment would
    * keep it in a metadata sidecar instead. `schema` is the page
    * schema the store was merged from: pinning it skips the
    * schema-inference job a bare parquet read launches. */
  def cursorOf(spark: SparkSession, storePath: String, tsCol: String,
      schema: StructType): Long = {
    import graft.streaming.EventsStream
    // READ-ONLY mid-swap tolerance: if a compaction crash left the
    // store at its aside path, read the cursor from THERE rather than
    // mutating anything — cursorOf may race a live compaction, and
    // only writers (required to pause during compaction) get to heal.
    // Mistaking the mid-swap store for empty would reset the cursor
    // to 0 and burn a whole capped poll re-fetching stored history.
    // Committed-store detection is owned by EventsStream (one
    // definition of the bucket layout), not re-derived here.
    val readable =
      if (EventsStream.hasCommittedData(spark, storePath)) Some(storePath)
      else if (EventsStream.hasCommittedData(spark, storePath + "__precompact"))
        Some(storePath + "__precompact")
      else None
    readable match {
      case None => 0L
      case Some(dir) =>
        val row = spark.read.schema(schema).parquet(dir).agg(max(col(tsCol))).head
        if (row.isNullAt(0)) 0L else row.getLong(0)
    }
  }

  /** One poll: drain pages after the store's cursor, parse, merge.
    * Returns the fetched row count (merged rows ≤ that under
    * overlap — conflicts are dropped by the store).
    *
    * Pages merge in bounded chunks of `pagesPerMerge` — driver memory
    * holds at most one chunk, never the whole poll (a 1000-page
    * backfill previously buffered everything before the first merge).
    * The OLDEST-FIRST page contract makes partial polls safe: after
    * every merged chunk the store's max event time — the next poll's
    * cursor — covers exactly the merged prefix, so a mid-poll crash
    * loses nothing and the next poll resumes at the gap. Conflicts on
    * re-fetched overlap rows are dropped by the keep-first store. */
  def ingest(spark: SparkSession, source: PageSource, schema: StructType,
      storePath: String, key: String, tsCol: String, maxPages: Int = 1000,
      pagesPerMerge: Int = 50): Long = {
    import spark.implicits._
    require(pagesPerMerge > 0, "pagesPerMerge must be positive")
    val cursorUs = cursorOf(spark, storePath, tsCol, schema)
    var fetched = 0L
    Iterator.from(0)
      .map(p => source.fetchPage(cursorUs, p))
      .takeWhile(_.nonEmpty)
      .take(maxPages)
      .grouped(pagesPerMerge) // lazy: fetches a chunk, merges, moves on
      .foreach { chunk =>
        val lines = chunk.flatten
        val batch = spark.read.schema(schema).json(spark.createDataset(lines))
        graft.streaming.EventsStream.upsertSink(batch, storePath, key)
        fetched += lines.length
      }
    fetched
  }
}
