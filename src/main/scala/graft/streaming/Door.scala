package graft.streaming

import graft.SessionMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one harness every ingest door runs in, live or replayed. A
  * door is a per-batch STEP (`BudgetStream.processBatch`,
  * `FunnelStream.processBatch5`, …) that reads its stores, decides
  * the batch, and merges keep-first into the stores. [[live]] drives
  * the step from a streaming source's micro-batches; [[replay]]
  * drives the SAME step from a corpus at rest, split into polls. The
  * store-grain audits (c67, c126, c148, …) read what a replay
  * accumulated, so "live gate ≡ audit" holds because both sides call
  * one function per batch — the Structured Streaming premise that a
  * micro-batch and a batch run are the same code.
  *
  * Exactly-once without a state store: foreachBatch is
  * at-least-once, and every step's sinks are
  * [[EventsStream.upsertSink]] keep-first merges with replay-stable
  * priors, so a replayed micro-batch re-offers rows the stores
  * already hold and changes nothing. */
object Door {

  /** Start `step` over a streaming frame's micro-batches. The step
    * gets the batch and its id (poll order — the ledger doors order
    * their priors by it). `checkpoint` (durable storage in
    * production) lets a restarted door resume source progress instead
    * of re-offering the whole history; correctness never depends on
    * it (the keyed stores absorb full replays, spec-pinned), it only
    * bounds restart cost. */
  def live(docs: DataFrame, checkpoint: Option[String] = None)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    checkpoint.foldLeft(docs.writeStream)((w, dir) => w.option("checkpointLocation", dir))
      .outputMode("append")
      .foreachBatch(step)
      .start()

  /** The replayed doors' arrival population: every document outside
    * the `doc_id % 97` benchmark slice (the slice the leakage gates'
    * Bloom bits are built from), as (doc_id, text, source); each store
    * builder projects the columns its step reads. */
  def population(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0)

  /** Replay `pop` through `step` as `nBatches` disjoint polls in
    * `pmod(key, nBatches)` order, into ONE scratch store root per
    * (session, `memoName`); returns the root. Batch i is poll i, and
    * the step gets the root to lay its stores under. Adds no action
    * of its own: every job is the step's. */
  def replay(spark: SparkSession, memoName: String, pop: DataFrame, nBatches: Int,
      key: String = "doc_id")(step: (DataFrame, String, Long) => Unit): String =
    SessionMemo.store(spark, memoName) { root =>
      for (i <- 0 until nBatches)
        step(pop.filter(pmod(col(key), lit(nBatches)) === i), root, i.toLong)
    }
}
