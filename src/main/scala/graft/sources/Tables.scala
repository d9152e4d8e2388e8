package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Parquet scans are left unprojected here on purpose: callers select
  * the columns they need and Catalyst pushes pruning + predicates into
  * the scan (verify with `.explain` → `ReadSchema`/`PushedFilters`).
  */
object Tables {
  // Memoized per (session, path): `spark.read.parquet` re-lists the
  // directory and re-reads footers for schema on EVERY call, which is
  // pure fixed cost when 50+ queries hit the same 10 tables in one
  // session. A DataFrame is an immutable logical plan — safe to share.
  // A caller that rewrites files beneath a loaded path drops the
  // session memo (`SessionMemo.invalidate()`).
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    graft.SessionMemo(spark, s"table:$path")(spark.read.parquet(path))
  }

  /** Ensure a frame has enough partitions to parallelize a per-row
    * JVM kernel (typed flatMap/mapPartitions). A single small parquet
    * file arrives as ONE input split, which would serialize the kernel
    * on one core no matter how many the host has. At cluster scale
    * scans arrive pre-split and this is a no-op — the guard only fires
    * when the scan's split count is below the session's parallelism,
    * so it never adds a shuffle to an already-distributed input.
    *
    * The current width is `Materialize.plannedWidth` (no `df.rdd`
    * planning pass per kernel invocation). Non-file inputs (test
    * frames) read as narrow and get the repartition: harmless on
    * small local data. */
  def parallelKernelInput(df: DataFrame, bytesPerTask: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val planned = graft.operators.Materialize.plannedWidth(df)
    val totalBytes = df.queryExecution.analyzed.collectLeaves().collect {
      case graft.operators.Materialize.FileScan(f) => f.location.sizeInBytes
    }.sum
    // byte-aware width (optional): a spread whose CONSUMERS are plain
    // aggregates (the staging memo — its readers do ~no per-row work)
    // should not mint defaultParallelism near-empty blocks for a
    // small file: every later read pays one task per block for
    // microseconds of work each. Callers with such consumers pass a
    // bytesPerTask target and the width scales with the input —
    // small file → few blocks, real table → full width (and past
    // `planned >= target` the gate no-ops entirely, as before).
    // Kernel call sites (per-row shingle/cosine/parse work dominates)
    // keep the default: full parallelism regardless of byte size.
    val target = {
      val cores = spark.sparkContext.defaultParallelism
      if (bytesPerTask > 0 && totalBytes > 0)
        math.min(cores.toLong,
          math.max(1L, (totalBytes + bytesPerTask - 1) / bytesPerTask)).toInt
      else cores
    }
    if (planned < target) df.repartition(target) else df
  }

  /** events.ts is parquet TIMESTAMP(NANOS); with
    * spark.sql.legacy.parquet.nanosAsLong it arrives as epoch-nanos
    * long. Convert with integer `div` (a double division would lose
    * precision above 2^53) to Spark's native micros timestamp —
    * matching DuckDB, which also truncates ns→us on read. */
  /** Normalize an events frame's `ts` to a session-tz TIMESTAMP
    * whatever the parquet spelling of the instant is: TIMESTAMP(NANOS)
    * arrives as a nanos long (the nanosAsLong conf) and divides down
    * to micros; un-zoned TIMESTAMP_MICROS arrives as TIMESTAMP_NTZ
    * and casts — under the session's pinned UTC zone the wall clock
    * IS the instant, so both spellings yield identical values (and
    * identical `epoch_us` on the DuckDB side, which reads the same
    * file naively). Works on batch and streaming frames alike (it
    * only inspects the schema), so the streaming specs share it. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(load(spark, sfDir, "events"))
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
