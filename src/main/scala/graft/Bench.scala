package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints one JSON line of per-query seconds,
  * names the queries that threw and exits 1 if any did. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // JVM/JIT warmup: run every query once at the smallest SF so the
    // timed pass does not pay first-use classloading and JIT. It does
    // not remove codegen compilation from the timed pass: one pass over
    // every key generates ~3,400 distinct classes (sf0.001 and sf0.01),
    // more than the session's codegen cache holds
    // (GraftSession.CodegenCacheEntries), so each key's first timed run
    // recompiles what was evicted and its second run finds it cached.
    // The summary line reports what the timed pass compiled. Caches
    // from the warmup are dropped so the timed pass does its own I/O.
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    // min of two runs per query: the environment shows intermittent
    // multi-second host stalls; the minimum isolates plan cost from
    // that noise. Cache is cleared between runs so each measurement
    // does its own I/O and later queries aren't timed under
    // accumulated cache/GC pressure. A query that throws on either run
    // is named as failed and left out of the timings.
    def timed(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] FAILED $name: $e")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // localCheckpoint blocks are reclaimed by the ContextCleaner
      // when their frames become unreachable — which needs a GC.
      // Nudge it so a prior run's blocks don't sit in executor
      // memory while the next one is being timed.
      System.gc()
      if (ok) Some(dt) else None
    }
    val runs = queries.map { case (name, fn) => name -> (1 to 2).map(_ => timed(name, fn)) }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
    val (ok, bad) = runs.partition(_._2.forall(_.isDefined))
    val results = ok.map { case (name, dts) => (name, dts.flatten.min, dts.head.get) }
    val failed = bad.map(_._1).map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // run-1 totals put the one-time session-memo build cost on the
    // record: min-of-2 (the per-key numbers) measures memo-warm plan
    // cost; the run-1 sum bounds what a cold single-query session
    // pays on its first pass. Both numbers are reported.
    val run1Total = if (results.nonEmpty) results.map(_._3).sum else 0.0
    // the core count labels the run: the same keys measure differently
    // on 8 and 32 cores, and bench_out.json alone does not say which
    val cores = spark.sparkContext.defaultParallelism
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""run1_total":$run1Total,"failed":$failed,"cores":$cores,"sf":"$sfDir"}"""
    println(json)
    // the stdout line at 224 keys overflows the driver's tail capture
    // (BENCH_r14 "parsed": null) — the same JSON lands in a file so
    // the artifact stays machine-readable regardless of truncation
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a SECOND, short summary line as the very last stdout line: the
    // full per-query line above is ~7 KB at 233 keys and overflows the
    // driver's tail-capture window, so its JSON parse fails both in
    // r14 and r15. This line is <200 chars while no key fails, so it
    // lands inside the captured tail. Additive: the full line and the
    // file stay.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
      s""""run1_total":$run1Total,"failed":$failed,"codegen_compiles":$compiles,""" +
      s""""codegen_compile_s":$compileS,"cores":$cores,"sf":"$sfDir"}""")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
