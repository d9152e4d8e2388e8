package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-22 contracts: the serving/coverage widening — sequence-grain
  * eval taint (c130) and the tier that follows it. */
class Round22Spec extends AnyFunSuite {
  import TestSpark._

  test("c130: taint keys are exactly c120's index with identical doc/token mass") {
    val taint = graft.operators.Sampling.c130SeqContam(spark, sf)
      .select("shard", "seq_id", "n_docs", "sum_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val index = graft.operators.Sampling.c120KeepsManifest(spark, sf)
      .select("shard", "seq_id", "n_docs", "sum_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(taint.keySet == index.keySet,
      "taint report and mounted-packing index disagree on which sequences exist")
    for ((k, v) <- taint) assert(index(k) == v,
      s"sequence $k: taint says $v, index says ${index(k)}")
  }

  test("c130: per-doc taint recomputed from the packing + registry matches the aggregate") {
    val suites = graft.operators.TextAnalysis.BenchRegistry
    val pack = graft.operators.Sampling.c111KeepsPack(spark, sf)
      .withColumn("ev", suites.map(s => expr(s.pred)).reduce(_ || _))
    val direct = pack.groupBy("shard", "seq_id")
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("n"),
        sum(when(col("ev"), col("n_tok")).otherwise(0L)).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val rep = graft.operators.Sampling.c130SeqContam(spark, sf).collect()
    assert(rep.nonEmpty)
    for (r <- rep) {
      val k = (r.getLong(0), r.getLong(1))
      assert(direct(k) == (r.getAs[Long]("n_eval_docs"), r.getAs[Long]("eval_tok")),
        s"sequence $k taint mass diverges from the direct recount")
      // verdict + fraction arithmetic
      assert(r.getAs[Boolean]("tainted") == (r.getAs[Long]("n_eval_docs") > 0L))
      assert(r.getAs[Long]("eval_tok") <= r.getAs[Long]("sum_tok"))
      val want = math.rint(r.getAs[Long]("eval_tok").toDouble /
        r.getAs[Long]("sum_tok") * 1e4) / 1e4
      assert(math.abs(r.getAs[Double]("taint_frac") - want) < 1e-9)
      // per-suite columns sum to at least the any-suite count (a doc
      // can belong to several suites, so ≥, with equality when the
      // suite slices are disjoint on this corpus)
      val perSuite = suites.map(s => r.getAs[Long](s"n_eval_${s.id}")).sum
      assert(perSuite >= r.getAs[Long]("n_eval_docs"))
    }
  }

  test("c130: suite-a taint is zero (the funnel's own contamination gate excludes it from keeps)") {
    val rep = graft.operators.Sampling.c130SeqContam(spark, sf)
    assert(rep.agg(sum("n_eval_a")).head.getLong(0) == 0L,
      "suite-a members survived the funnel — the keeps chain's decontamination gate moved")
    // and the operator is not vacuous: the OTHER suites do surface
    // taint the doc-grain gate missed (the report's reason to exist)
    assert(rep.agg(sum("n_eval_docs")).head.getLong(0) > 0L,
      "no taint at all — the packed corpus accidentally decontaminated")
  }

  test("c131: pre-filtered top-k ≡ filter-after-FULL-depth, and post-filter@k provably loses results") {
    val lbl = graft.operators.Similarity.FilterLabel
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val filtered = graft.operators.Similarity.c131FilteredAnn(spark, sf).collect()
    assert(filtered.nonEmpty)
    // every returned candidate passes the predicate; ranks dense per query
    for (r <- filtered)
      assert(labels(r.getAs[Long]("vec_id")) == lbl, s"leaked ${r}")
    filtered.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rs.length),
        s"q$q ranks not dense")
    }
    // the pre-filter theorem: identical to ranking the FULL-depth ADC
    // stream and filtering afterwards (depth = whole corpus)
    val full = graft.operators.Similarity
      .c79StoredIndexServe(spark, sf, topK = n).collect()
      .filter(r => labels(r.getAs[Long]("vec_id")) == lbl)
    val k = graft.operators.Similarity.PqTopK
    val want = full.groupBy(_.getLong(0)).toSeq.flatMap { case (q, rs) =>
      rs.sortBy(r => (r.getAs[Double]("adist"), r.getAs[Long]("vec_id")))
        .take(k).zipWithIndex
        .map { case (r, i) => (q, i + 1L, r.getAs[Long]("vec_id"),
          r.getAs[Double]("adist")) }
    }.toSet
    val got = filtered.map(r => (r.getLong(0), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("adist"))).toSet
    assert(got == want, "pre-filtered serve diverges from filter-after-full-depth")
    // …and the naive spelling (post-filter the UNFILTERED top-k)
    // returns strictly fewer results under a ~10% predicate — the
    // gap the stored-attribute pushdown exists to close
    val post = graft.operators.Similarity.c79StoredIndexServe(spark, sf)
      .collect().count(r => labels(r.getAs[Long]("vec_id")) == lbl)
    assert(filtered.length > post,
      s"post-filtering kept $post of the top-k — expected the pre-filtered " +
        s"serve (${filtered.length}) to recover strictly more")
  }

  test("c132: fertility masses reconcile with the corpus and the stored tokenizer") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rep = graft.operators.TextAnalysis.c132Fertility(spark, sf).collect()
    assert(rep.nonEmpty)
    assert(rep.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(rep.map(_.getAs[Long]("n_chars")).sum ==
      docs.agg(sum(length(col("text")))).head.getLong(0))
    for (r <- rep) {
      val (nc, nt) = (r.getAs[Long]("n_chars"), r.getAs[Long]("n_tok"))
      assert(nt > 0 && nc > 0)
      assert(math.abs(r.getAs[Double]("chars_per_tok") -
        math.rint(nc.toDouble / nt * 1e4) / 1e4) < 1e-9)
      assert(math.abs(r.getAs[Double]("toks_per_100ch") -
        math.rint(nt * 100.0 / nc * 1e4) / 1e4) < 1e-9)
    }
  }

  test("c133: query OOD rows join the health report correctly with pinned arithmetic") {
    val rep = graft.operators.Similarity.c133QueryOod(spark, sf).collect()
    assert(rep.nonEmpty)
    val health = graft.operators.Similarity.c87IndexHealth(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("mean_qerr")).toMap
    val nq = graft.operators.Similarity.DefaultQueryCount
    for (r <- rep) {
      val q = r.getAs[Long]("q_id")
      assert(q < nq && q % 11 != 4, s"q$q outside the live query slice")
      assert(r.getAs[Double]("mean_qerr") == health(r.getAs[Long]("cluster")),
        s"q$q carries a mean that is not its cluster's health row")
      val want = math.rint(r.getAs[Double]("q_qerr") /
        r.getAs[Double]("mean_qerr") * 1e4) / 1e4
      assert(math.abs(r.getAs[Double]("ood_ratio") - want) < 1e-9)
      assert(r.getAs[Boolean]("ood") ==
        (r.getAs[Double]("ood_ratio") > graft.operators.Similarity.OodRatioBar))
    }
    // every live query is priced exactly once
    assert(rep.map(_.getAs[Long]("q_id")).distinct.length == rep.length)
    assert(rep.length == (0 until nq).count(_ % 11 != 4))
  }

  test("c134: the count-min theorem holds, binds, and replays by hand") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // full-vocabulary call: the sketch never undercounts, anywhere
    val all = graft.operators.TextAnalysis.c134CmsHeavy(docs, k = 1000000).collect()
    assert(all.forall(_.getAs[Long]("overcount") >= 0L),
      "a count-min estimate undercounted — the sketch theorem is broken")
    // and the geometry BINDS at this SF (vocab ≫ width): collisions
    // survive the min-of-depth for most keys, so the overcount column
    // is a real error measurement, not a column of zeros
    assert(all.count(_.getAs[Long]("overcount") > 0L) > all.length / 2,
      s"sketch did not bind (${all.count(_.getAs[Long]("overcount") > 0L)}/${all.length})")
    // hand-replay the estimate of the heaviest row: min over hash
    // rows of the colliding exact mass
    val exact = all.map(r => r.getString(0) -> r.getAs[Long]("exact")).toMap
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def posOf(b: String, i: Int): Long =
      java.lang.Long.parseLong(md5hex(b).substring(i * 7, i * 7 + 7), 16) %
        graft.operators.TextAnalysis.CmsWidth
    val top = graft.operators.TextAnalysis.c134CmsHeavy(docs).collect()
    assert(top.length == graft.operators.TextAnalysis.CmsTopK)
    for (r <- top.take(3)) {
      val b = r.getString(0)
      val want = (0 until graft.operators.TextAnalysis.CmsDepth).map { i =>
        exact.iterator.filter { case (b2, _) => posOf(b2, i) == posOf(b, i) }
          .map(_._2).sum
      }.min
      assert(r.getAs[Long]("est") == want, s"'$b' estimate diverges from the hand replay")
    }
    // the report rows ARE the k largest estimates
    val kth = top.map(_.getAs[Long]("est")).min
    assert(all.count(_.getAs[Long]("est") > kth) < top.length)
  }

  test("c136: each sweep level reproduces the standalone serve at that nprobe") {
    val k = graft.operators.Similarity.PqTopK
    val nq = graft.operators.Similarity.DefaultQueryCount
    val sweep = graft.operators.Similarity.c136NprobeSweep(spark, sf).collect()
    assert(sweep.map(_.getAs[Long]("nprobe")).toSeq ==
      graft.operators.Similarity.NprobeLevels.map(_.toLong))
    assert(sweep.forall(_.getAs[Long]("n_queries") == nq.toLong))
    // scan mass grows with the probe set and tops out at NQ·(N−1)
    val scans = sweep.map(_.getAs[Long]("n_scanned"))
    assert(scans.zip(scans.tail).forall { case (a, b) => a <= b })
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(scans.last == nq * (n - 1),
      "full-probe scan mass is not the whole self-excluded corpus")
    // the flagship pin: a level's mean recall equals the recall of a
    // STANDALONE serve at that nprobe against the exact baseline —
    // the one-pass sweep is the real dial curve, not an approximation
    val exact = graft.operators.Similarity
      .c6AnnTopK(graft.sources.Tables.embeddings(spark, sf), k = k)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (l <- Seq(1, 2, 16)) {
      val serve = graft.operators.Similarity
        .c79StoredIndexServe(spark, sf, nprobe = l).collect()
      val hits = serve.count(r =>
        exact((r.getLong(0), r.getAs[Long]("vec_id"))))
      val want = math.rint(hits.toDouble / (nq * k) * 1e4) / 1e4
      val got = sweep.find(_.getAs[Long]("nprobe") == l.toLong).get
        .getAs[Double]("mean_recall")
      // mean over queries of n_hits/k == total hits/(NQ·k) since the
      // grid is complete
      assert(math.abs(got - want) < 1.5e-4,
        s"nprobe=$l sweep recall $got != standalone serve recall $want")
    }
  }

  test("c137: linear counting replays, stays unsaturated, and lands near the exact count") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rep = graft.operators.TextAnalysis.c137LinearCount(docs).collect()
    assert(rep.nonEmpty)
    val m = graft.operators.TextAnalysis.LcBuckets
    for (r <- rep) {
      val occ = r.getAs[Long]("n_occupied")
      assert(occ < m, s"source ${r.getString(0)} saturated at this SF")
      assert(occ <= r.getAs[Long]("exact_distinct"),
        "more occupied buckets than distinct keys")
      val want = math.rint(m * math.log(m.toDouble / (m - occ)) * 1e4) / 1e4
      assert(math.abs(r.getAs[Double]("est") - want) < 1e-9,
        "estimate diverges from the m·ln(m/V) replay")
      // at load n/m ≪ 1 the estimator's relative error is sub-percent;
      // 5% is a generous structural bound, not a tuned one
      assert(math.abs(r.getAs[Double]("rel_err")) < 0.05,
        s"estimate off by ${r.getAs[Double]("rel_err")} — the sketch is broken, not noisy")
    }
    // exact column really is the per-source distinct-shingle count
    import org.apache.spark.sql.functions.{explode, array_distinct, md5, substring, countDistinct}
    val direct = docs
      .select(col("source"),
        explode(array_distinct(graft.functions.TextFns.shingles3(col("text")))).as("s"))
      .select(col("source"), substring(md5(col("s")), 1, 8).as("sh8"))
      .groupBy("source").agg(countDistinct(col("sh8")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- rep)
      assert(r.getAs[Long]("exact_distinct") == direct(r.getString(0)))
  }

  test("c138: every query serves on exactly the leg the router chose, each leg its own spelling") {
    val rep = graft.operators.Similarity.c138RoutedServe(spark, sf).collect()
    val flags = graft.operators.Similarity.c133QueryOod(spark, sf).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Boolean]("ood")).toMap
    // exactly one path per query, and it is the router's
    val byQ = rep.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == flags.keySet,
      "served query set is not the router's query set")
    for ((q, rows) <- byQ) {
      val paths = rows.map(_.getAs[String]("path")).distinct
      assert(paths.length == 1, s"q$q served on ${paths.length} paths")
      assert((paths.head == "exact") == flags(q),
        s"q$q took ${paths.head} against the router's ${flags(q)}")
    }
    // the ADC leg is c82's churned serving, row-for-row
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val adcWant = graft.operators.Similarity.c82IndexChurnServe(spark, sf)
      .collect().filter(r => !flags(r.getLong(0)))
      .map(r => (r.getLong(0), r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adist"))).toSet
    val adcGot = rep.filter(_.getAs[String]("path") == "adc")
      .map(r => (r.getLong(0), r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score"))).toSet
    assert(adcGot == adcWant, "ADC leg diverges from c82's serving")
    // the exact leg is the brute-force cosine over the same live corpus
    val oodIds = flags.filter(_._2).keySet
    if (oodIds.nonEmpty) {
      val churn = graft.operators.Similarity.churnedCorpus(emb)
      val exQ = churn.filter(col("vec_id").isInCollection(oodIds))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val exWant = graft.operators.Similarity.c6AnnTopK(churn, Some(exQ))
        .collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSet
      val exGot = rep.filter(_.getAs[String]("path") == "exact")
        .map(r => (r.getLong(0), r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("score"))).toSet
      assert(exGot == exWant, "exact leg diverges from the brute-force spelling")
    }
  }

  test("b22: grouping sets emit exactly the named levels, each reconciling to the total") {
    val rep = graft.operators.Olap.b22GroupingSets(spark, sf).collect()
    val total = graft.sources.Tables.lineitem(spark, sf).count()
    // (rf, ls) → ship-year grouped-out → gid 001; (sy) → 110; () → 111
    assert(rep.map(_.getAs[Long]("gid")).toSet == Set(1L, 6L, 7L),
      "grouping-set lattice emitted levels the query did not name")
    for (g <- Seq(1L, 6L, 7L))
      assert(rep.filter(_.getAs[Long]("gid") == g).map(_.getAs[Long]("n_rows")).sum == total,
        s"level gid=$g does not partition the corpus")
    val grand = rep.filter(_.getAs[Long]("gid") == 7L)
    assert(grand.length == 1 && grand.head.getAs[String]("returnflag") == "ALL")
  }

  test("c139: the decontaminated packing reads ZERO taint through c130's own aggregate") {
    val suites = graft.operators.TextAnalysis.BenchRegistry
    val cleanPack = graft.operators.Sampling.c139CleanPack(spark, sf)
    // the closure theorem: re-packing after the eval drop leaves
    // nothing for the sequence-grain taint report to flag
    val taint = graft.operators.Sampling.seqContamOver(cleanPack, suites)
    assert(taint.agg(sum("n_eval_docs")).head.getLong(0) == 0L,
      "eval members survived the decontaminated re-pack")
    // the keyed index is that packing's own sequence aggregate…
    val idx = graft.operators.Sampling.c139DecontamPack(spark, sf)
      .select("shard", "seq_id", "n_docs", "sum_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val direct = graft.operators.Sampling.seqManifestOver(cleanPack,
        graft.operators.Sampling.DefaultTokenBudget)
      .select("shard", "seq_id", "n_docs", "sum_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(idx == direct)
    // …and the drop demonstrably moved the packing (the taint c130
    // reported on the contaminated packing is gone, not relabeled)
    val before = graft.operators.Sampling.c120KeepsManifest(spark, sf)
      .select("shard", "seq_id", "n_docs", "sum_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(idx != before, "dropping kept eval docs left every sequence identical")
  }

  test("c140: the stored lexical index serves c37's exact results") {
    val docs = graft.sources.Tables.documents(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))
    val want = graft.operators.TextAnalysis.c37Bm25(docs).collect().map(key).toSeq
    val got = graft.operators.TextAnalysis.c140Bm25Stored(spark, sf)
      .collect().map(key).toSeq
    assert(got == want, "artifact-served BM25 diverges from the per-query derivation")
  }

  test("c141: append ≡ rebuild at the corpus, and the planted append is surgically exact") {
    // the ≡-rebuild theorem on the real corpus
    val docs = graft.sources.Tables.documents(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))
    val want = graft.operators.TextAnalysis.c37Bm25(docs).collect().map(key).toSeq
    val got = graft.operators.TextAnalysis.c141PostingsAppend(spark, sf)
      .collect().map(key).toSeq
    assert(got == want, "appended index diverges from the full rebuild")

    // planted corpus with a controlled vocabulary split and a BINDING
    // cap: untouched lists ride through row-identical, touched lists
    // re-cap exactly, df/stats merge by addition
    import spark.implicits._
    val ids = (1L to 400L).filterNot(_ % 101 == 0)
    val flags = ids.toDF("doc_id")
      .withColumn("b", graft.operators.Dedup.isBaseDoc(col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val baseIds = ids.filter(flags)
    val deltaIds = ids.filterNot(flags)
    assert(baseIds.nonEmpty && deltaIds.nonEmpty)
    val corpusTf = (
      baseIds.flatMap(i => Seq((i, "a", i % 3 + 1), (i, "b", 1L))) ++
        deltaIds.flatMap(i => Seq((i, "c", 2L), (i, "b", 5L)))
      ).toDF("doc_id", "term", "tf")
    val root = java.nio.file.Files.createTempDirectory("c141spec").toString
    graft.operators.TextAnalysis.buildLexAppend(spark, corpusTf, root, postingCap = 2)
    def posts(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"), r.getAs[Long]("tf")))
      .toSet
    val v1 = posts(s"$root/postings")
    val v2 = posts(s"$root/postings_v2")
    // untouched term 'a': list identical (including the binding cap)
    assert(v1.filter(_._1 == "a") == v2.filter(_._1 == "a"),
      "untouched posting list was rewritten by the append")
    assert(v1.count(_._1 == "a") == 2, "cap did not bind on the planted list")
    // touched term 'b': delta tf=5 rows outrank the base tf=1 rows
    assert(v2.filter(_._1 == "b") ==
      deltaIds.sorted.take(2).map(i => ("b", i, 5L)).toSet)
    // new term 'c': purely delta
    assert(v2.filter(_._1 == "c") ==
      deltaIds.sorted.take(2).map(i => ("c", i, 2L)).toSet)
    // df and stats merged by addition
    val dfm = spark.read.parquet(s"$root/df_v2").collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(dfm == Map("a" -> baseIds.length.toLong,
      "b" -> ids.length.toLong, "c" -> deltaIds.length.toLong))
    val st = spark.read.parquet(s"$root/stats_v2").head
    assert(st.getAs[Long]("n_docs") == ids.length.toLong)
    assert(st.getAs[Long]("sum_dl") ==
      baseIds.map(i => (i % 3 + 1) + 1L).sum + deltaIds.length * 7L)
  }

  test("c142: histogram quantiles are within one bin of exact, arithmetic pinned") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rep = graft.operators.TextAnalysis.c142HistQuantiles(docs).collect()
    assert(rep.nonEmpty)
    val bw = graft.operators.TextAnalysis.HqBinWidth
    assert(rep.map(_.getAs[Long]("n_docs")).sum == docs.count())
    for (r <- rep; p <- graft.operators.TextAnalysis.HqPcts) {
      val exact = r.getAs[Long](s"p${p}_exact")
      val est = r.getAs[Long](s"p${p}_est")
      val err = r.getAs[Long](s"p${p}_err")
      assert(err == est - exact)
      // the sketch theorem: the estimate is the exact value's own
      // bin's lower edge — never above, never more than a bin below
      assert(err <= 0 && err > -bw,
        s"source ${r.getString(0)} p$p err $err outside (-$bw, 0]")
      assert(est == (exact / bw) * bw, "estimate is not the exact value's bin edge")
    }
    // exact leg really is the order statistic (one source, hand-sorted)
    val src = rep.head.getString(0)
    val vals = docs.filter(col("source") === src)
      .select(length(col("text")).cast("long")).collect().map(_.getLong(0)).sorted
    val r50 = (vals.length * 50 + 99) / 100
    assert(rep.head.getAs[Long]("p50_exact") == vals(r50.toInt - 1))
  }

  test("c143: composed gate — quota stage ≡ c128, budget stage binds only on survivors, live ≡ audit") {
    import graft.streaming.{BudgetStream, Door, FunnelStream}
    val n = FunnelStream.AuditBatches
    val audit = BudgetStream.c143ComposedGateAudit(spark, sf).collect()
    assert(audit.nonEmpty)
    // stage 1 is c128's quota gate verbatim: the refused sets match
    val quotaFull = audit.filter(_.getString(2) == "quota_full").map(_.getLong(0)).toSet
    val c128Full = BudgetStream.c128QuotaGateAudit(spark, sf).collect()
      .filter(_.getString(2) == "quota_full").map(_.getLong(0)).toSet
    assert(quotaFull == c128Full, "composed quota stage diverges from c128")
    // stage 2: replay the conditional prefix sum in arrival order
    val budget = BudgetStream.ComposedBudget
    var gcum = 0L
    for (r <- audit.sortBy(r => (r.getLong(0) % n, r.getLong(0)))) {
      val (id, stage, tok) = (r.getLong(0), r.getString(2), r.getLong(3))
      if (!quotaFull(id)) {
        gcum += tok
        assert(stage == (if (gcum <= budget) "keep" else "budget_full"),
          s"doc $id staged $stage at cumulative $gcum / $budget")
      } else assert(stage == "quota_full")
    }
    assert(audit.exists(_.getString(2) == "budget_full"), "the global ceiling never bound")
    assert(audit.filter(_.getString(2) == "keep").map(_.getLong(3)).sum <= budget)
    // the LIVE composed stream accumulates the same store
    val pop = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 97 =!= 0)
    val merges = graft.operators.TextAnalysis.storedMerges(spark, sf)
    val quotas = BudgetStream.sourceQuotas(spark, sf)
    val in = java.nio.file.Files.createTempDirectory("graft-cg-in-").toString
    for (i <- 0 until n) {
      pop.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-cg-st-").toString
    val src0 = spark.readStream.schema(pop.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Door.live(src0)(BudgetStream.processComposedBatch(_, merges, quotas,
      s"$root/decisions", s"$root/ledger", _))
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(s"$root/decisions")
      .drop(graft.streaming.EventsStream.KeyBucketCol)
      .select("doc_id", "source", "stage", "n_tok").orderBy("doc_id").collect()
    val auditOrdered = BudgetStream.c143ComposedGateAudit(spark, sf).collect()
    assert(live.length == auditOrdered.length && live.sameElements(auditOrdered),
      "live composed-gate store diverges from the audit")
  }

  test("c144: topic mixture keys the stored assignment with c38's exact admission math") {
    val rep = graft.operators.Similarity.c144ClusterMix(spark, sf).collect()
    assert(rep.nonEmpty)
    // √n damping: a bigger topic never keeps a larger per-mille
    val byN = rep.map(r => r.getAs[Long]("n_docs") -> r.getAs[Long]("keep_mille"))
    for (w <- byN.sortBy(_._1).sliding(2) if w.length == 2) {
      val Array((na, ma), (nb, mb)) = w
      if (na < nb)
        assert(mb <= ma, s"larger cluster ($nb docs) keeps more per-mille than smaller ($na)")
    }
    // admission recount: n_kept is exactly the md5-bucket rule over
    // the stored assignment (the same frame the operator groups)
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 7), 16) % 1000
    }
    val asg = graft.operators.Similarity.storedAssignment(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rep.map(_.getAs[Long]("n_docs")).sum == asg.length)
    val milles = rep.map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("keep_mille")).toMap
    val keptDirect = asg.groupBy(_._2).map { case (c, rows) =>
      c -> rows.count { case (id, _) => bucket(id) < milles(c) }.toLong
    }
    for (r <- rep) {
      assert(r.getAs[Long]("n_kept") == keptDirect(r.getAs[Long]("cluster")),
        s"cluster ${r.getAs[Long]("cluster")} kept count diverges from the md5 recount")
      val want = BigDecimal(r.getAs[Long]("n_kept").toDouble /
        r.getAs[Long]("n_docs")).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(math.abs(r.getAs[Double]("kept_frac") - want) < 1e-9)
    }
  }

  test("c145: the JL projection is deterministic, complete, and in the expected error band") {
    val rep = graft.operators.Similarity.c145JlAudit(spark, sf).collect()
    val nq = graft.operators.Similarity.DefaultQueryCount
    assert(rep.length == nq * (nq - 1) / 2, "pair grid incomplete")
    val k = graft.operators.Similarity.JlDim
    val errs = rep.flatMap(r => Option(r.getAs[java.lang.Double]("abs_err")).map(_.toDouble))
    assert(errs.nonEmpty)
    // every cosine is a cosine
    for (r <- rep; c <- Seq("cos_full", "cos_proj");
         v <- Option(r.getAs[java.lang.Double](c)))
      assert(math.abs(v) <= 1.0 + 1e-9, s"$c out of range: $v")
    // the ±1 sketch distorts like 1/√k, not like noise and not like
    // zero: a mean error above 2/√k means the matrix is broken; an
    // all-zero error means the audit compared a column to itself
    val mean = errs.sum / errs.length
    assert(mean > 0.0 && mean < 2.0 / math.sqrt(k.toDouble),
      s"mean |cos error| $mean outside (0, ${2.0 / math.sqrt(k.toDouble)})")
    // hand-replay one projected coordinate: cos_proj for a pair of
    // identical raw vectors must be exactly 1 (projection is linear)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < nq)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def proj(v: Array[Double]): Array[Double] = Array.tabulate(k) { j =>
      v.indices.map { i =>
        val sgn = if (java.lang.Long.parseLong(
          md5hex(s"jl:${i + 1}:$j").substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
        sgn * v(i)
      }.sum
    }
    val sample = rep.take(5)
    for (r <- sample; cp <- Option(r.getAs[java.lang.Double]("cos_proj"))) {
      val (pa, pb) = (proj(emb(r.getLong(0))), proj(emb(r.getLong(1))))
      val dot = pa.zip(pb).map { case (x, y) => x * y }.sum
      val want = dot / (math.sqrt(pa.map(x => x * x).sum) * math.sqrt(pb.map(x => x * x).sum))
      assert(math.abs(cp - want) < 1.5e-4,
        s"pair (${r.getLong(0)},${r.getLong(1)}) projected cosine diverges from the hand replay")
    }
  }

  test("c146: the mask rows cover exactly c130's tainted mass with sane spans") {
    val budget = graft.operators.Sampling.DefaultTokenBudget
    val mask = graft.operators.Sampling.c146LossMask(spark, sf).collect()
    assert(mask.nonEmpty, "no mask rows — the packed corpus accidentally decontaminated")
    val taint = graft.operators.Sampling.c130SeqContam(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_eval_docs"), r.getAs[Long]("eval_tok"))).toMap
    val bySeq = mask.groupBy(r => (r.getLong(0), r.getLong(1)))
    // every masked sequence is a tainted sequence, with exactly the
    // taint report's doc count and token mass — mask ∪ report agree
    assert(bySeq.keySet == taint.filter(_._2._1 > 0).keySet,
      "mask rows and the taint report disagree on which sequences are tainted")
    for ((k, rows) <- bySeq) {
      assert(rows.length.toLong == taint(k)._1)
      assert(rows.map(r => r.getAs[Long]("mask_end") -
        r.getAs[Long]("start_offset")).sum == taint(k)._2,
        s"sequence $k masked token mass diverges from eval_tok")
      for (r <- rows) {
        assert(r.getAs[Long]("start_offset") >= 0 &&
          r.getAs[Long]("start_offset") < budget)
        assert(r.getAs[Boolean]("crosses_boundary") ==
          (r.getAs[Long]("mask_end") > budget))
      }
    }
  }

  test("c135: source-grain PII masses reconcile with c16's doc-grain redaction") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rep = graft.operators.TextAnalysis.c135PiiRate(docs).collect()
    val c16 = graft.operators.TextAnalysis.c16PiiRedact(docs)
      .select("doc_id", "n_emails", "n_nums").collect()
    assert(rep.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(rep.map(_.getAs[Long]("n_emails")).sum ==
      c16.map(_.getAs[Long]("n_emails")).sum,
      "source rollup and doc-grain redaction disagree on email mass")
    assert(rep.map(_.getAs[Long]("n_nums")).sum ==
      c16.map(_.getAs[Long]("n_nums")).sum)
    assert(rep.map(_.getAs[Long]("docs_with_pii")).sum ==
      c16.count(r => r.getAs[Long]("n_emails") + r.getAs[Long]("n_nums") > 0))
    for (r <- rep) {
      assert(r.getAs[Long]("docs_with_pii") <= r.getAs[Long]("n_docs"))
      val want = math.rint(r.getAs[Long]("docs_with_pii").toDouble /
        r.getAs[Long]("n_docs") * 1e4) / 1e4
      assert(math.abs(r.getAs[Double]("pii_doc_frac") - want) < 1e-9)
    }
  }
}
