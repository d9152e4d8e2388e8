package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session-scoped memo for state derived from the corpus:
  * table loads, materialized kernel frames, accumulated scratch store
  * roots, collected store artifacts and quota plans. Inside a
  * multi-query session (Verify, Bench, a notebook) each of these is
  * built once per (session, name) and every consumer reads it back.
  *
  * Each key holds its own lazy cell, so a key builds at most once and
  * concurrent callers of the SAME key wait for that one build, while
  * builds of DIFFERENT keys never wait on each other (a build may
  * itself fan out on [[graft.operators.Materialize.concurrently]]
  * threads that build other keys). A build that throws caches
  * nothing: the next call builds again. Entries of stopped sessions
  * are pruned on the miss path only — a hit is one map lookup.
  *
  * Everything here derives from the corpus files, so there is ONE
  * [[invalidate]] and it drops every entry: a caller that rewrites a
  * corpus path in place (ScaleSmoke's work dir, a pipeline run's
  * ingest merge) cannot drop a frame and leave an artifact built from
  * it behind.
  *
  * Cluster caveat: `local` materialization cuts lineage while pinning
  * blocks to executors, so after an executor loss a memoized frame
  * cannot rebuild itself. Deploy with `graft.materialize=reliable` or
  * `scratch:` (docs/DEPLOY.md); single-JVM local mode cannot hit
  * this. */
private[graft] object SessionMemo {
  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private val cells =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Cell]

  /** The value memoized under (spark, name), running `build` once per
    * key until the next [[invalidate]]. */
  def apply[T](spark: SparkSession, name: String)(build: => T): T = {
    val key = (spark, name)
    val cell = cells.getOrElse(key, {
      cells.keys.foreach { k => if (k._1.sparkContext.isStopped) cells.remove(k) }
      val fresh = new Cell(() => build)
      cells.putIfAbsent(key, fresh).getOrElse(fresh)
    })
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** A materialized frame derived from `input`, keyed on the input
    * plan's semantic hash so two corpora never collide. */
  def frame(kind: String, input: DataFrame)(build: => DataFrame): DataFrame =
    apply(input.sparkSession,
      s"frame:$kind:${input.queryExecution.analyzed.semanticHash()}")(build)

  /** A scratch store root populated once by `build(root)`. The root is
    * appId-scoped (two drivers never collide on disk), cleared before
    * the build and reaped at JVM exit. */
  def store(spark: SparkSession, key: String)(build: String => Unit): String =
    apply(spark, s"store:$key") {
      val root = System.getProperty("java.io.tmpdir") + "/graft_store_" +
        key.replaceAll("[^A-Za-z0-9._-]", "_") +
        "_" + spark.sparkContext.applicationId
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      fs.deleteOnExit(p)
      build(root)
      root
    }

  private[graft] def size: Int = cells.size

  /** Drop every entry — call after rewriting a corpus path in place. */
  def invalidate(): Unit = cells.clear()
}
