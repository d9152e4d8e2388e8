package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local mode is a test harness only: shuffle partitions come from the
  * environment (cluster deployments override via spark-defaults), AQE
  * is on so runtime stats can re-plan joins/skew, and parquet
  * timestamps are written as INT64 micros for cross-engine parity
  * (the driver's DuckDB oracle reads our output files).
  */
object GraftSession {

  /** Capacity of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A repeated
    * pass re-plans the same queries, so its generated code should
    * compile once per session; with 100 entries the LRU cache thrashes
    * and every warm pass recompiles nearly everything (~190 classes
    * per `Pipeline.runOnce` over the events DAG, ~140 per pass over
    * the nine curation keys). Measured working sets: ~210 distinct
    * classes held across events runs and ~312 for the curation keys'
    * cold pass, so 1000 is over 3× the largest. Each cached entry
    * retains about 30 KB of heap (27–30 KB measured; ~30 MB when
    * full). Static SQL conf: only the first session in a JVM applies
    * it. */
  val CodegenCacheEntries = 1000

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no
      // native type for; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
