package graft.operators

import org.apache.spark.sql.DataFrame

/** Strategy switch for materializing corpus-grain intermediates (the
  * staged tf frames of c17/c31, a9's staging+marts, the session
  * memo's shingle/bigram kernels, c30's scored frame).
  *
  * `localCheckpoint` is the right default for a single-JVM session
  * (Verify/Bench/local notebooks): blocks land in executor
  * MEMORY_AND_DISK storage with no durable write. But it CUTS lineage
  * while pinning blocks to executors — on a real cluster, losing one
  * executor mid-job kills the query unrecoverably. At 100 TB these
  * intermediates belong on durable storage, so the strategy is a
  * session conf, not code:
  *
  *   spark.conf.set("graft.materialize", "local")            // default
  *   spark.conf.set("graft.materialize", "reliable")         // rdd checkpoint
  *   spark.conf.set("graft.materialize", "scratch:/durable/tmp")
  *
  * `reliable` uses Spark's reliable `checkpoint()` (requires
  * `sparkContext.setCheckpointDir` on a durable FS); `scratch:<root>`
  * round-trips through parquet under `<root>` — the spelling that
  * also survives driver restarts and lets a second job reuse the
  * frame. Cluster deployments should set `reliable` or `scratch:`
  * (docs/DEPLOY.md); results are strategy-independent — spec-asserted
  * by Round5Spec ("materialize strategies agree").
  *
  * NOT routed through here: the streaming upsert sink's micro-batch
  * checkpoint (partitioning preservation is load-bearing there, and a
  * failed micro-batch is simply replayed) and the k-row k-means
  * centroid frames (bounded, rebuilt per iteration).
  */
object Materialize {

  private val ConfKey = "graft.materialize"

  /** Materialize `df` per the session's `graft.materialize` conf and
    * return the re-readable frame. */
  def frame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ConfKey, "local") match {
      case "local"    => df.localCheckpoint()
      case "reliable" => df.checkpoint()
      case s if s.startsWith("scratch:") =>
        val root = s.stripPrefix("scratch:")
        require(root.nonEmpty, s"$ConfKey=scratch: needs a root path")
        // one dir per materialization, keyed by application so two
        // drivers sharing a scratch root never collide; callers own
        // cleanup of the root (it is scratch by contract)
        val path = s"$root/graft_mat_${spark.sparkContext.applicationId}_" +
          java.util.UUID.randomUUID().toString
        df.write.mode("error").parquet(path)
        // bound the scratch footprint to the JVM's lifetime: each
        // materialization registers its own dir for exit cleanup, so
        // only a crash leaves anything for the caller's root sweep
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
        spark.read.parquet(path)
      case other => throw new IllegalArgumentException(
        s"$ConfKey='$other' — expected local | reliable | scratch:<root>")
    }
  }

  /** As [[frame]], but LAZY where the strategy supports it: the
    * checkpoint is marked now and its blocks land inside the CALLER'S
    * NEXT action instead of a dedicated materialization job. The
    * right spelling for a driver-side loop whose every iteration
    * materializes state and then immediately runs an action over it
    * (the BPE trainer's count-pick-apply step): eager+action is two
    * jobs per iteration, lazy+action is one, results identical (the
    * lineage is cut at mark time either way — Dataset.checkpoint
    * builds the plan over the checkpoint RDD regardless of
    * eagerness). The scratch strategy has no lazy analog (a parquet
    * round-trip is inherently a write job) and stays eager. */
  def frameLazy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ConfKey, "local") match {
      case "local"    => df.localCheckpoint(eager = false)
      case "reliable" => df.checkpoint(eager = false)
      case _          => frame(df)
    }
  }

  /** Hash-spread a COMPUTE-DENSE frame across the session's cores
    * before a per-row kernel runs over it. AQE sizes post-shuffle
    * partitions by BYTES (advisory/parallelismFirst), so a frame
    * whose rows are cheap to ship but expensive to process (exact-
    * Jaccard verify pairs, brute-force cosine scoring) collapses to
    * one or two tasks on a small shuffle and serializes the kernel
    * on one core. The partition count derives from
    * defaultParallelism — cluster-adaptive, never a constant — and
    * the spread frames are BOUNDED by construction at their call
    * sites (capped pair sets, |Q|-sized query fans), so the extra
    * exchange ships a bounded row set at any corpus size. Rows are
    * identical; every consumer downstream re-aggregates or applies
    * its own total ORDER BY. */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
  }

  /** [[spread]] gated on the frame's CURRENT layout — for scan-side
    * kernels (tokenize/shingle/parse) whose input may be a single
    * row-group parquet file: a 100 TB table scan already carries
    * thousands of splits (the gate no-ops and costs nothing), but a
    * small file is ONE task and serializes the kernel while the rest
    * of the cluster idles (guide §2.5's "input skew: repartition
    * immediately after the read"). The layout is [[plannedWidth]]. */
  def spreadScan(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    if (plannedWidth(df) >= df.sparkSession.sparkContext.defaultParallelism) df
    else spread(df, keys: _*)

  /** The partition count `df` is PLANNED to arrive with, estimated from
    * the analyzed plan instead of `df.rdd.getNumPartitions` (which
    * forces a full physical-planning + RDD-conversion pass per call):
    *   - a repartition node's own count (a coalesce caps its child's);
    *   - a checkpointed frame's LogicalRDD partitions;
    *   - a file scan's split count, by the arithmetic of Spark's
    *     FilePartition packing — maxSplitBytes = min(maxPartitionBytes,
    *     max(openCostInBytes, bytes/minPartitionNum)). Plain
    *     ceil(bytes/maxPartitionBytes) would miss the bytes-per-core
    *     term and call narrow any corpus under ~cores×128MB that
    *     Spark already plans as `cores` splits.
    * Any other node takes its widest child; any other leaf counts as
    * one partition, so unknown inputs read as narrow. */
  def plannedWidth(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionOperation}
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    def width(p: LogicalPlan): Long = p match {
      case r: RepartitionOperation =>
        if (r.shuffle) r.numPartitions else math.min(r.numPartitions, width(r.child))
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getNumPartitions
      case FileScan(f) =>
        val bytes = f.location.sizeInBytes
        val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
          math.max(conf.filesOpenCostInBytes, bytes / math.max(1, minPartitionNum))))
        (bytes + maxSplit - 1) / maxSplit
      case _ if p.children.isEmpty => 1L
      case _ => p.children.map(width).max
    }
    width(df.queryExecution.analyzed)
  }

  /** A file-source scan leaf, by its relation. */
  private[graft] object FileScan {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def unapply(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[HadoopFsRelation] = p match {
      case r: LogicalRelation => r.relation match {
        case f: HadoopFsRelation => Some(f)
        case _ => None
      }
      case _ => None
    }
  }

  /** Run INDEPENDENT driver-side action sequences concurrently and
    * return their results in input order — [[frames]]' overlap
    * discipline generalized to arbitrary per-item work (the trainer
    * sweep's per-width loops, an audit's two trainer chains). The
    * caller owns independence: items must not share mutable state
    * beyond Spark's own thread-safe surfaces (memo caches, actions).
    * One item's failure cancels the queued and running rest (wasted
    * cluster work, and leaked scratch dirs if left to finish in
    * background threads) and rethrows its cause. */
  def concurrently[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(items.size, 8))
      try {
        val futures = items.map(a => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
        try futures.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            futures.foreach(_.cancel(true))
            pool.shutdownNow()
            throw e.getCause
        }
      } finally pool.shutdown()
    }

  /** Materialize SEVERAL independent frames as one unit: each runs
    * [[frame]] on its own thread, so the N materializations execute
    * as CONCURRENT Spark actions and their per-job scheduling floors
    * overlap instead of summing (the a9 profile fix: 4 sequential
    * mart checkpoints were most of its wall time). Concurrency, not
    * a shared trigger job, is the mechanism on purpose: under AQE a
    * query's shuffle stages are materialized eagerly inside the
    * checkpoint call itself, so a lazy-mark + single trigger job
    * still runs each frame's stages back-to-back — overlapping
    * actions is what actually buys the wall time. Applies to every
    * strategy (durable writes to distinct paths overlap the same
    * way); results are identical to sequential per-frame calls
    * (Round6Spec asserts row equality; Round5Spec's strategy-equality
    * contract covers [[frame]] itself). */
  def frames(dfs: Seq[DataFrame]): Seq[DataFrame] = concurrently(dfs)(frame)
}
