package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.Tables

/** Round-3 scale-hardening invariants: the similarity tier's candidate
  * volume must be controllable (bits ∝ log n) and its recall dials
  * (tables, nprobe) must move in the right direction. */
class Round3Spec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = Tables.embeddings(spark, sf)

  test("bitsForCorpus grows with log2 of the corpus and never drops below the default") {
    assert(Similarity.bitsForCorpus(1000) == 8)          // floor
    assert(Similarity.bitsForCorpus(1L << 20) == 10)     // 2^20/1024 buckets
    assert(Similarity.bitsForCorpus(1L << 30) == 20)
    assert(Similarity.bitsForCorpus(1L << 40) == 30)     // ~1e12 vectors
    val seq = Seq(1L << 12, 1L << 16, 1L << 24, 1L << 40).map(Similarity.bitsForCorpus(_))
    assert(seq == seq.sorted, "not monotone")
  }

  test("more sign bits never increase c5 candidate volume (the scale dial works)") {
    // cap disabled: the monotonicity claim is about the BANDING math;
    // with a binding cap an 8-bit over-cap bucket (dropped, 0 pairs)
    // can split into enumerable 12-bit sub-buckets and the count
    // could legitimately rise — the cap is exercised separately
    def cnt(bits: Int) =
      Similarity.c5Candidates(emb, nBits = bits, nTables = 1, bucketCap = Int.MaxValue).count()
    val (c8, c12, c16) = (cnt(8), cnt(12), cnt(16))
    assert(c12 <= c8, s"12 bits produced MORE candidates ($c12 > $c8)")
    assert(c16 <= c12, s"16 bits produced MORE candidates ($c16 > $c12)")
  }

  test("extra hash tables only ADD candidates (recall dial) and never duplicate pairs") {
    val one = Similarity.c5Candidates(emb, 8, 1, Int.MaxValue).select("vec_a", "vec_b")
    val two = Similarity.c5Candidates(emb, 8, 2, Int.MaxValue).select("vec_a", "vec_b")
    assert(one.join(two, Seq("vec_a", "vec_b"), "left_anti").count() == 0,
      "table 0's candidates lost when adding a second table")
    assert(two.groupBy("vec_a", "vec_b").count().filter(col("count") > 1).count() == 0,
      "multi-table candidates not deduplicated")
  }

  test("c7 recall against the exact c6 baseline is monotone in nprobe") {
    val truth = Similarity.c6AnnTopK(emb).select("q_id", "vec_id")
    def recall(nprobe: Int): Long =
      Similarity.c7AnnIvf(emb, nprobe = nprobe).select("q_id", "vec_id")
        .join(truth, Seq("q_id", "vec_id"), "left_semi").count()
    val r1 = recall(1); val r2 = recall(2); val r4 = recall(4)
    assert(r2 >= r1, s"nprobe=2 recall $r2 below nprobe=1 $r1")
    assert(r4 >= r2, s"nprobe=4 recall $r4 below nprobe=2 $r2")
    assert(r4 > 0)
  }

  test("trainCentroids improves the spherical k-means objective, serves c7 unchanged") {
    val r0 = Similarity.kmeansObjective(emb, Similarity.defaultCentroids(emb))
    val trained = Similarity.trainCentroidsQuantized(emb, iters = 3)
    assert(trained.count() == Similarity.DefaultCentroidCount.toLong,
      "empty clusters lost their centroid")
    val r3 = Similarity.kmeansObjective(emb, trained)
    assert(r3 >= r0 - 1e-6, s"objective degraded: $r0 -> $r3")
    // trained centroids drop straight into the serving path
    val out = Similarity.c7AnnIvf(emb, centroids = Some(trained))
    assert(out.count() > 0)
    assert(out.groupBy("q_id").count().filter(col("count") > 10).count() == 0)
  }

  test("count_min_sketch estimates dominate exact counts within the eps bound") {
    // the third sketch in the family (HLL + approx_percentile covered
    // in Round2Spec): heavy-hitter counting with bounded memory
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    val bytes = ev.agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val exact = ev.groupBy("event_type").count().collect()
    assert(exact.nonEmpty)
    exact.foreach { r =>
      val est = cms.estimateCount(r.getString(0))
      assert(est >= r.getLong(1), s"${r.getString(0)}: CMS underestimated")
      assert(est <= r.getLong(1) + math.max(1L, (0.001 * total).toLong) * 3,
        s"${r.getString(0)}: est $est vs exact ${r.getLong(1)} out of bound")
    }
  }

  test("corpus-prep memo survives concurrent first-touch (one session, many queries)") {
    // a shared session runs queries concurrently in practice (Verify,
    // notebooks, a thrift server); the shingle/bigram memo must not
    // race-build or fail under that
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val names = Seq("c2_dedup_ngram", "c3_dedup_minhash", "c19_ngram_stats",
      "c21_repetition", "c20_contamination", "c4_dedup_simhash")
    val counts = Await.result(
      Future.traverse(names)(n => Future(SparkEntry.queries(n)(spark, sf).count())),
      5.minutes)
    assert(counts.forall(_ > 0))
  }

  test("LSH bucket caps bound degenerate near-identical mass (c3/c4)") {
    import spark.implicits._
    import graft.operators.Dedup
    val clones = (0L until 200L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // without a binding cap the clone bucket enumerates quadratically
    val unbounded = Dedup.minhashCandidatePairs(clones, bucketCap = Int.MaxValue).count()
    assert(unbounded == 200L * 199 / 2, s"expected full pair mass, got $unbounded")
    // the cap drops the degenerate bucket instead of enumerating it —
    // that mass is exact-dup-shaped and belongs to c1
    assert(Dedup.minhashCandidatePairs(clones, bucketCap = 100).count() == 0)
    assert(Dedup.c4Simhash(clones, bucketCap = 100).count() == 0)
  }

  test("c25 chunking: long docs fan out with the configured overlap, short docs stay whole") {
    import spark.implicits._
    import graft.operators.Sampling
    val words = (0 until 1000).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words), (2L, "short doc")).toDF("doc_id", "text")
    val out = Sampling.c25DocChunks(docs).collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    // stride 224: ceil((1000-32)/224) = 5 chunks; full chunks carry 256
    // tokens, the tail carries 1000 - 4*224 = 104 — so consecutive
    // chunks share exactly 32 tokens and the last token is covered
    assert(d1.length == 5, s"expected 5 chunks, got ${d1.length}")
    assert(d1.init.forall(_.getLong(2) == 256L))
    assert(d1.last.getLong(2) == 104L)
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getLong(2) == 2L)
    // distinct content per chunk (overlap ≠ duplication)
    assert(d1.map(_.getString(3)).distinct.length == 5)
  }

  test("c23 curation reasons partition the corpus, shares sum to 1") {
    val out = SparkEntry.queries("c23_curation")(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(out.agg(sum("n_docs")).head.getLong(0) == docs.count())
    val shareSum = out.agg(sum("share")).head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 0.001, s"shares sum to $shareSum")
    val valid = Set("keep", "too_short", "non_en", "repetitive", "pii_heavy")
    assert(out.collect().forall(r => valid(r.getString(0))))
  }

  test("c24 source stats: dup rate bounded, uniques never exceed docs") {
    val out = SparkEntry.queries("c24_source_stats")(spark, sf)
    assert(out.count() > 0)
    assert(out.filter(col("n_uniq") > col("n_docs")).count() == 0)
    assert(out.filter(col("dup_rate") < 0 || col("dup_rate") >= 1).count() == 0)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(out.agg(sum("n_docs")).head.getLong(0) == docs.count())
  }

  test("c6/c7 accept an arbitrary bounded query frame (explicit-input contract)") {
    // a caller-supplied query set with no precomputed norm column
    val q = emb.filter(col("vec_id").between(20, 24))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val brute = Similarity.c6AnnTopK(emb, Some(q), k = 5)
    assert(brute.select("q_id").distinct().count() == 5)
    assert(brute.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
    val ivf = Similarity.c7AnnIvf(emb, Some(q), k = 5, nprobe = 2)
    assert(ivf.select("q_id").distinct().count() == 5)
    // IVF results are a subset of each query's probed clusters, so
    // every returned neighbor must also score in the brute-force
    // universe (same ids, same cosine)
    val joined = ivf.select(col("q_id"), col("vec_id"), col("cos").as("ivf_cos"))
      .join(Similarity.c6AnnTopK(emb, Some(q), k = Int.MaxValue)
        .select(col("q_id"), col("vec_id"), col("cos")), Seq("q_id", "vec_id"))
    assert(joined.count() == ivf.count())
    assert(joined.filter(col("ivf_cos") =!= col("cos")).count() == 0)
  }
}
