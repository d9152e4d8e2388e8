package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-27 (driver round 15, optimization round 1) contracts: every
  * change this round is a plan/scheduling optimization that must not
  * move a single output value — these tests pin the refactored
  * internals against their pre-optimization spellings. */
class Round27Spec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.{Dedup, Materialize, TextAnalysis}
  import graft.sources.Tables

  test("c166: the fused conditional register aggregate equals the two-pass spelling") {
    // the pre-optimization reference, spelled inline: two independent
    // hllRegisters aggregates (base slice, union) left-joined into the
    // (source, reg) grid — exactly what c166 computed before the fuse
    val docs = Tables.documents(spark, sf)
    val items = Dedup.docShingles8(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("is_base", Dedup.isBaseDoc(col("doc_id")))
    val twoPass = TextAnalysis.hllRegisters(items.filter(col("is_base")), Seq("source"))
      .withColumnRenamed("m", "m_base")
      .join(TextAnalysis.hllRegisters(items, Seq("source"))
        .withColumnRenamed("m", "m_cur"), Seq("source", "reg"), "full_outer")
      .select(col("source"), col("reg"),
        coalesce(col("m_base"), lit(0L)).as("m_base"),
        coalesce(col("m_cur"), lit(0L)).as("m_cur"))
    val fused = TextAnalysis.hllRanks(items).groupBy("source", "reg")
      .agg(max(when(col("is_base"), col("rank"))).as("mb"),
        max(col("rank")).as("mc"))
      .select(col("source"), col("reg"),
        coalesce(col("mb"), lit(0L)).as("m_base"),
        coalesce(col("mc"), lit(0L)).as("m_cur"))
    assert(fused.collect().map(_.toSeq).toSet == twoPass.collect().map(_.toSeq).toSet)
  }

  test("spread/spreadScan change layout only: rows identical, scan gate no-ops on wide layouts") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val base = docs.collect().map(_.toSeq).toSet
    assert(Materialize.spread(docs, col("doc_id")).collect().map(_.toSeq).toSet == base)
    assert(Materialize.spreadScan(docs, col("doc_id")).collect().map(_.toSeq).toSet == base)
    // a frame already at >= defaultParallelism partitions passes through untouched
    val n = spark.sparkContext.defaultParallelism
    val wide = docs.repartition(n + 1)
    assert(Materialize.spreadScan(wide, col("doc_id")) eq wide)
  }

  test("c114 rides the shared signature artifact: memoized sigs equal the direct kernel") {
    val docs = Tables.documents(spark, sf)
    val direct = Dedup.directMinhashSigs(docs)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val memo = Dedup.sharedMinhashSigs(docs)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(memo == direct)
  }

  test("c100: the fused multi-suite bloom probe equals the per-suite spelling") {
    val docs = Tables.documents(spark, sf)
    val suites = TextAnalysis.BenchRegistry
    val sh = Dedup.docShingles8(docs)
    val pop = sh.filter(suites.map(s => !expr(s.pred)).reduce(_ && _))
    // the pre-optimization reference: one bloomProbeRows pass per
    // suite, reassembled by doc-grain joins
    val ffs = suites.map { s =>
      TextAnalysis.bloomProbeRows(pop,
          TextAnalysis.bloomBitsFromKeys(sh.filter(expr(s.pred))))
        .select(col("doc_id"), col("n_sh"), col("flagged_frac").as(s"ff_bench_${s.id}"))
    }
    val reference = ffs.tail.foldLeft(ffs.head) { (acc, f) =>
      acc.join(f.drop("n_sh"), Seq("doc_id"))
    }.collect().map(_.toSeq).toSet
    val fusedCols = Seq("doc_id", "n_sh") ++ suites.map(s => s"ff_bench_${s.id}")
    val fused = SparkEntry.queries("c100_multibench_contam")(spark, sf)
      .select(fusedCols.map(col): _*).collect().map(_.toSeq).toSet
    assert(fused == reference)
  }

  test("c172/c179: concurrent trainer chains return the sequential chains' rows") {
    // concurrency must not change a single value: the batched chain
    // collected on a worker thread equals the same chain collected
    // inline, and the keyed sweep rows are deterministic across calls
    val docs = Tables.documents(spark, sf)
    val r1 = SparkEntry.queries("c179_bpe_batch_sweep")(spark, sf).collect().toSeq
    val r2 = SparkEntry.queries("c179_bpe_batch_sweep")(spark, sf).collect().toSeq
    assert(r1 == r2 && r1.nonEmpty)
    val a1 = SparkEntry.queries("c172_bpe_batch_audit")(spark, sf).collect().toSeq
    assert(a1.size == 2)
  }

  test("c114: the single-pass exploded-grid band keys equal the per-geometry union's") {
    val docs = Tables.documents(spark, sf)
    val sig = Dedup.sharedMinhashSigs(docs)
    val geos = Dedup.LshGeometries
    // the pre-optimization reference: one derivation per geometry,
    // unioned — md5("b:j:e1:…:er") per (doc, geometry, band)
    val reference = geos.map { case (b, r) =>
      sig.select(lit(b.toLong).as("bands"), col("doc_id"),
          explode(sequence(lit(0), lit(b - 1))).as("j"), col("sig"))
        .select(col("bands"), col("doc_id"),
          md5(concat_ws(":", lit(b) +: col("j") +: (1 to r).map(k =>
            element_at(col("sig"), col("j") * r + k)): _*)).as("band_key"))
    }.reduce(_ unionByName _).collect().map(_.toSeq).toSet
    val grid = geos.flatMap { case (b, r) => (0 until b).map(j => (b.toLong, r, j)) }
    val fused = sig.select(col("doc_id"),
        explode(array(grid.map { case (b, r, j) =>
          struct(lit(b).as("bands"), lit(r).as("r"), lit(j).as("j")) }: _*)).as("g"),
        col("sig"))
      .select(col("g.bands").as("bands"), col("doc_id"),
        md5(concat_ws(":", col("g.bands"), col("g.j"),
          slice(col("sig"), col("g.j") * col("g.r") + 1, col("g.r")))).as("band_key"))
      .collect().map(_.toSeq).toSet
    assert(fused == reference)
  }

  test("the fused source-register memo equals the direct per-vintage register tables") {
    val docs = Tables.documents(spark, sf)
    val items = Dedup.docShingles8(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val directUnion = TextAnalysis.hllRegisters(items, Seq("source"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val directBase = TextAnalysis.hllRegisters(
        items.filter(Dedup.isBaseDoc(col("doc_id"))), Seq("source"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fused = TextAnalysis.sourceRegistersFused(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3))).toMap
    assert(fused.view.mapValues(_._2).toMap == directUnion)
    assert(fused.collect { case (k, (Some(mb), _)) => k -> mb }.toMap == directBase)
  }

  test("the memoized session frames (stg, funnel, c83 encode, c111 pack) are stable across calls") {
    // two calls must return the same rows (the second from the memo) —
    // the cross-call identity every multi-consumer optimization leans on
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val f1 = rows(TextAnalysis.funnelDecisions(Tables.documents(spark, sf)))
    val f2 = rows(TextAnalysis.funnelDecisions(Tables.documents(spark, sf)))
    assert(f1.toSet == f2.toSet && f1.size == f2.size)
    val e1 = rows(TextAnalysis.c83StoredTokenizer(spark, sf))
    val e2 = rows(TextAnalysis.c83StoredTokenizer(spark, sf))
    assert(e1 == e2)
    val p1 = rows(graft.operators.Sampling.c111KeepsPack(spark, sf))
    val p2 = rows(graft.operators.Sampling.c111KeepsPack(spark, sf))
    assert(p1 == p2)
    // c118's memoized dense leg holds exactly its producer's rows
    val d1 = rows(graft.operators.Similarity.storedDenseLeg(spark, sf))
    val dp = rows(graft.operators.Similarity.storedDenseRanked(spark, sf))
    assert(d1.nonEmpty && d1.toSet == dp.toSet && d1.size == dp.size)
  }

  test("one SessionMemo.invalidate() rebuilds every entry kind from a corpus rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_spec").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_memo_ref").toString
    try memoRebuildCase(dir, ref)
    finally {
      // leave no store roots behind: Round14Spec counts this
      // application's c79/c82 roots
      SessionMemo.invalidate()
      val mine = Seq(dir, ref).map(d => new java.io.File(d).getName)
      new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
        .filter(f => f.getName.startsWith("graft_store_") && mine.exists(f.getName.contains))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      Seq(dir, ref).foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }
  }

  private def memoRebuildCase(dir: String, ref: String): Unit = {
    val path = s"$dir/embeddings.parquet"
    spark.read.parquet(s"$sf/embeddings.parquet").write.parquet(path)
    def dim0(emb: org.apache.spark.sql.DataFrame) =
      emb.select(col("vec_id"), col("embedding").getItem(0).as("e0"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def table() = rows(dim0(Tables.embeddings(spark, dir)))
    def frame() = rows(SessionMemo.frame("spec_dim0", Tables.embeddings(spark, dir))(
      Materialize.frame(dim0(Tables.embeddings(spark, dir)))))
    def store() = rows(spark.read.parquet(SessionMemo.store(spark, s"spec_dim0_$dir") { r =>
      dim0(Tables.embeddings(spark, dir)).write.parquet(s"$r/dim0")
    } + "/dim0"))
    def health(d: String) = SparkEntry.queries("c87_index_health")(spark, d)
      .collect().map(_.toSeq).toSeq
    val before = (table(), frame(), store(), health(dir))
    // rewrite the corpus in place with shifted vectors (same ids, so
    // the index geometry still trains), the way ScaleSmoke rewrites
    // its work dir; `ref` holds the same new files under a fresh path
    spark.read.parquet(path)
      .withColumn("embedding", transform(col("embedding"), (x, i) => x + (i % 3 + 1) * 0.05)
        .cast("array<float>"))
      .write.parquet(s"$ref/embeddings.parquet")
    spark.read.parquet(s"$ref/embeddings.parquet").write.mode("overwrite").parquet(path)
    SessionMemo.invalidate()
    // (row sets compared into booleans: a failure would otherwise
    // print both 500-row sets)
    val expected = rows(dim0(spark.read.parquet(path)))
    val rewritten = expected != before._1
    assert(rewritten, "the rewrite left dim 0 unchanged")
    val tableFresh = table() == expected
    val frameFresh = frame() == expected
    val storeFresh = store() == expected
    assert(tableFresh, "stale table load")
    assert(frameFresh, "stale frame memo")
    assert(storeFresh, "stale store root")
    // the artifact-derived frames (churned_pvec_err → c87_health) are
    // rebuilt from the NEW store, not served from the old one
    val after = health(dir)
    assert(after != before._4)
    assert(after == health(ref))
  }

  test("SessionMemo: a build that throws is retried on the next call") {
    var calls = 0
    intercept[IllegalStateException] {
      SessionMemo(spark, "spec_throws") { calls += 1; throw new IllegalStateException("boom") }
    }
    assert(SessionMemo(spark, "spec_throws") { calls += 1; 42 } == 42)
    assert(SessionMemo(spark, "spec_throws") { calls += 1; 0 } == 42)
    assert(calls == 2)
  }

  test("SessionMemo: a frame build fanning out on concurrent threads to other keys completes") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val docs = Tables.documents(spark, sf).select("doc_id")
    val built = Future {
      SessionMemo.frame("spec_fanout", docs) {
        val parts = Materialize.concurrently(0 until 4) { i =>
          SessionMemo.frame(s"spec_fanout_$i", docs)(
            Materialize.frame(docs.filter(pmod(col("doc_id"), lit(4)) === i)))
        }
        Materialize.frame(parts.reduce(_ union _))
      }.count()
    }(ExecutionContext.global)
    assert(Await.result(built, 5.minutes) == docs.count())
  }

  test("SessionMemo: a stopped session's entries are pruned on the next miss") {
    // one JVM holds one live SparkContext and this suite's must stay
    // up, so the stop/restart runs in a child JVM (MemoPruneProbe)
    import scala.jdk.CollectionConverters._
    import scala.sys.process._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.MemoPruneProbe")
    val out = cmd.!!(ProcessLogger(_ => ()))
    assert(out.linesIterator.contains("memo sizes: 2 2 1"), out)
  }
}

/** Child-JVM body of the stopped-session prune check: two entries of
  * session `a`; after `a` stops, a HIT-free restart still sees both
  * until session `b`'s first miss prunes them. Prints the memo's
  * entry count after each step. */
object MemoPruneProbe {
  def main(args: Array[String]): Unit = {
    val a = GraftSession.builder("local[1]").getOrCreate()
    SessionMemo(a, "probe_1")(1)
    SessionMemo(a, "probe_2")(2)
    val sizes = Seq.newBuilder[Int]
    sizes += SessionMemo.size
    a.stop()
    val b = GraftSession.builder("local[1]").getOrCreate()
    sizes += SessionMemo.size
    SessionMemo(b, "probe_1")(3)
    sizes += SessionMemo.size
    println(s"memo sizes: ${sizes.result().mkString(" ")}")
    b.stop()
  }
}
