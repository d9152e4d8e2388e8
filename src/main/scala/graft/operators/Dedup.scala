package graft.operators

import graft.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Deduplication operators for the LLM-training-data tier (SURVEY §2
  * tier C, c1–c4). None of these is O(n²): every near-dup variant
  * generates candidates through blocking/LSH (pair count ≪ n²) and
  * verifies only candidates — the shape that survives 100 TB. Pair
  * outputs are deterministic top-50 lists (rounded score, then ids)
  * so the oracle compare is exact and threshold choice isn't
  * load-bearing on synthetic data.
  */
object Dedup {

  /** c2's document-frequency cap — the prefix-filter analog bounding
    * hot-shingle fan-out (pair volume ≤ Σ C(df,2) ≤ DfCap/2 × shingle
    * rows). Raise/lower with corpus duplication rate, not corpus
    * size. The oracle SQL interpolates this same constant. */
  val DfCap = 200

  /** c1: exact dedup via content-hash groupBy — one shuffle on the
    * hash, emits the canonical keep-list (`min(doc_id)` wins, like the
    * reference's `on conflict do nothing` keeps the first row). */
  def c1Exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy("content_hash")

  /** Per-doc distinct shingle array (order = first occurrence), via a
    * typed map kernel. Tokenize+shingle is a per-row kernel; the
    * declarative `transform(sequence(...))` spelling evaluates
    * interpreted (higher-order functions sit outside whole-stage
    * codegen) and costs ~10× more — a narrow typed map is the
    * scale-correct shape: no shuffle, pruned input columns, JVM-speed
    * inner loop. Semantics identical to
    * array_distinct(shingles3(text)); `split(" ", -1)` keeps trailing
    * empty tokens (= the oracle's string_split). */
  private def shingleSets(docs: DataFrame): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val w = text.split(" ", -1)
        val sh = if (w.length < 3) Seq.empty[String]
          else w.iterator.sliding(3).withPartial(false).map(_.mkString(" ")).toSeq.distinct
        (id, sh)
      }
      .toDF("doc_id", "sh")
  }

  /** The SHARED corpus-prep frame: one materialized shingle-kernel
    * pass per (session, corpus) — c2, c3, c12, and c20 all derive
    * from this instead of re-tokenizing the corpus per query. */
  private[operators] def sharedShingleSets(docs: DataFrame): DataFrame =
    SessionMemo.frame("shingle_sets", docs)(Materialize.frame(shingleSets(docs)))

  /** Distinct 32-bit shingle keys per doc, exploded off the shared
    * sets (md5 via the codegen'd SQL expression — only the shingle
    * construction is typed). Docs with <3 words have an empty array
    * and vanish under explode. Shared with c20. */
  private[graft] def docShingles8(docs: DataFrame): DataFrame =
    sharedShingleSets(docs)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), TextFns.h8(col("s")).as("sh8"))

  /** c2: n-gram Jaccard similarity join via inverted index on shingle
    * keys. Document-frequency cap (df ≤ 200) is the prefix-filter
    * analog: it bounds the fan-out of hot shingles, which is what
    * blows up at scale.
    *
    * Physical shape: ONE shuffle groups shingles into per-key posting
    * lists (map-side combined), candidate pairs are generated inside
    * codegen by exploding each bounded posting list's C(df,2)
    * combinations, then one more shuffle counts per-pair overlaps. No
    * self-join, no broadcast of the corpus-sized side — the join-based
    * spelling rebuilt the df filter three times and broadcast-built
    * the whole shingle frame. */
  def c2NgramJaccard(docs: DataFrame, dfCap: Int = DfCap): DataFrame = {
    val (inter, sizes) = overlapFrames(docs, dfCap)
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  /** df-capped inverted-index posting lists (sh8 → sorted doc ids) —
    * session-memoized at the default cap (the d6Assets pattern: a
    * memo keyed only on the input plan must not serve another
    * geometry's rows), so c2 and c42 share one checkpointed build. */
  private def ngramPostings(docs: DataFrame, dfCap: Int): DataFrame = {
    // consumers: pair generation + per-doc sizes, for two queries;
    // ~|distinct shingles| rows. localCheckpoint (not persist):
    // blocks are freed by the ContextCleaner when the result frame
    // is dropped, instead of accumulating in the CacheManager for
    // the life of a shared session.
    def build = ngramPostingsPlan(docs, dfCap).localCheckpoint()
    if (dfCap == DfCap) SessionMemo.frame("ngram_postings", docs)(build) else build
  }

  /** The posting build as a pure plan (exposed for the plan-shape
    * spec — the keyed path memoizes + checkpoints it, which would
    * hide the count-first shape behind a scan).
    *
    * Count-first cap (SpanStream.batchSpans' spelling): the per-key
    * df is a map-side-combined count with O(1) state, and only keys
    * that SURVIVE the cap reach the list aggregate — so a web-scale
    * boilerplate shingle ("all rights reserved …") occurring 10^8
    * times costs one counter per partition, never a proportional
    * collect_list buffer in a single task. The surviving key set is
    * identical to filtering after the collect, so results cannot
    * move. `sh` is consumed twice, but it derives from the
    * MATERIALIZED shingle-set memo — the second pass re-runs only
    * the narrow explode+md5, not the tokenize kernel. */
  private[graft] def ngramPostingsPlan(docs: DataFrame, dfCap: Int = DfCap): DataFrame = {
    val sh = docShingles8(docs)
    val okKeys = sh.groupBy("sh8").agg(count(lit(1)).as("sh_df"))
      .filter(col("sh_df") <= dfCap)
      .select("sh8")
    sh.join(okKeys, Seq("sh8"), "left_semi")
      .groupBy("sh8").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
  }

  /** The shared overlap chain: per-pair shared-shingle counts + the
    * per-doc (capped) set sizes every set-similarity measure derives
    * from — c2's Jaccard, c42's containment, and c45's cross-snapshot
    * evidence read the same two frames, so their evidence cannot
    * drift. Both frames are session-memoized at the default cap (the
    * ngramPostings discipline): the pair-generation shuffle is the
    * dominant cost of every consumer, and it is IDENTICAL across
    * them — three queries, one build. Size note: the pair frame is
    * ∝ shared-shingle mass (the df-cap bounds it), not corpus size. */
  private def overlapFrames(docs: DataFrame, dfCap: Int): (DataFrame, DataFrame) = {
    if (dfCap == DfCap) {
      // ONE lineage feeds both memo entries: building the pair per
      // memo key planned the posting→pair chain twice on a cold
      // session (masked only because ngramPostings is itself
      // memoized — a duplicate-lineage regression waiting to fire);
      // lazy so a double memo HIT never constructs the plan at all
      lazy val built = overlapFramesBuild(docs, dfCap)
      val inter = SessionMemo.frame("overlap_inter", docs)(Materialize.frame(built._1))
      val sizes = SessionMemo.frame("overlap_sizes", docs)(Materialize.frame(built._2))
      (inter, sizes)
    } else overlapFramesBuild(docs, dfCap)
  }

  private def overlapFramesBuild(docs: DataFrame, dfCap: Int): (DataFrame, DataFrame) = {
    val byShingle = ngramPostings(docs, dfCap)
    val sizes = byShingle.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // Quadratic-in-group pair generation is imperative by nature; a
    // nested higher-order-function spelling evaluates interpreted
    // (outside codegen) and is ~10× slower — this is the one place the
    // (d) mapPartitions escape hatch is the right tool. Posting lists
    // are df-capped, so per-row work is bounded.
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val pairs = byShingle.filter(size(col("ds")) >= 2)
      // Array[Long], not Seq[Long]: the primitive-array encoder decodes
      // the bigint list with a flat copy instead of per-element boxing
      .select(col("ds")).as[Array[Long]]
      .flatMap { ds =>
        for {
          i <- ds.indices.iterator
          j <- (i + 1 until ds.length).iterator
          if ds(i) != ds(j) // 32-bit-collision guard, matches join's strict <
        } yield (ds(i), ds(j))
      }
      .toDF("doc_a", "doc_b")
    (pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter")), sizes)
  }

  /** c42 admission bar — the containment share above which the
    * contained side is dup-shaped (Broder 1997's C(A,B) ≥ 0.8 is the
    * classic "roughly contained" line). Oracle-interpolated. */
  val ContainmentBar = 0.8

  /** c42: asymmetric containment dedup (Broder 1997's second
    * resemblance measure — the one Jaccard is NOT): C(A→B) =
    * |Sh(A)∩Sh(B)| / |Sh(A)|. A short doc quoted or wrapped inside a
    * longer one (boilerplate frames, quote-expansions, page-of-pages
    * aggregators) has near-total containment but tiny Jaccard — |A∪B|
    * is dominated by the big side — so c2/c3 never surface it; the
    * containment report is how a curation run finds subsumed docs to
    * drop while keeping the superset carrier.
    *
    * Report: per candidate pair, the direction of MAX containment
    * (doc_in = the side with fewer capped shingles; equal sizes keep
    * the lower id — deterministic because the pair frame is already
    * doc_a < doc_b), its containment and the symmetric jaccard for
    * contrast, bar-filtered. Same df-capped evidence as c2
    * ([[overlapFrames]]): candidate volume ∝ shared-shingle mass,
    * never n², and the memoized posting build is shared. */
  def c42Containment(docs: DataFrame, dfCap: Int = DfCap,
      bar: Double = ContainmentBar): DataFrame =
    containAtLeast(docs, dfCap, bar)
      .orderBy(col("containment").desc, col("doc_in"), col("doc_of"))
      .limit(50)

  /** Direction-resolved pairs with rounded containment ≥ `bar` —
    * c42's evidence frame under [[jacAtLeast]]'s memo discipline:
    * materialized once per (session, corpus) at the [[ContainmentBar]]
    * floor, so repeat reads (a notebook, the bench's steady state)
    * price as a report-sized scan instead of re-pushing the 1M-pair
    * candidate frame through the size joins. The c42 profiling pass
    * (r13 verdict #7) found the warm cost was NOT a window (there is
    * none) but per-pair work on the full candidate frame — ~45% of it
    * the two BigDecimal round()s the bar filter evaluated per
    * candidate. The build now guards the exact rounded filter behind
    * an INTEGER prefilter derived from the floor itself
    * (n_inter·100 ≥ (⌊floor·100⌋−1)·min-size — a strict superset of
    * round(ratio,4) ≥ floor, since rounding up to the floor needs
    * ratio ≥ floor−0.00005), so the BigDecimal path runs on
    * bar-survivors only and the candidate frame passes through
    * integer arithmetic alone, at any bar setting. */
  private def containAtLeast(docs: DataFrame, dfCap: Int, bar: Double): DataFrame = {
    def frame(floor: Double) = {
      val (inter, sizes) = overlapFrames(docs, dfCap)
      val joined = inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      // integer prefilter derived FROM the floor: round(r,4) >= floor
      // implies r >= floor − 0.00005, so r·100 > ⌊floor·100⌋ − 1 and
      // the integer bound below is a strict superset of the rounded
      // bar for ANY floor — no hardcoded 79 to drift out from under a
      // lowered ContainmentBar. At pre ≤ 0 the filter is vacuous, so
      // it is applied unconditionally.
      val pre = (floor * 100).toLong - 1
      val prefiltered = if (pre > 0)
        joined.filter(col("n_inter") * 100 >= least(col("n_a"), col("n_b")) * pre)
      else joined
      prefiltered.select(
          when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b")).as("doc_in"),
          when(col("n_a") <= col("n_b"), col("doc_b")).otherwise(col("doc_a")).as("doc_of"),
          col("n_inter"),
          round(col("n_inter") / least(col("n_a"), col("n_b")), 4).as("containment"),
          round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 4).as("jaccard"))
        .filter(col("containment") >= floor)
    }
    if (dfCap == DfCap && bar >= ContainmentBar)
      SessionMemo.frame("verified_contain", docs)(Materialize.frame(frame(ContainmentBar)))
        .filter(col("containment") >= bar)
    else frame(bar)
  }

  /** c45 snapshot geometry: the base|delta percent cut (md5(doc_id)
    * bucket < 80 ⇒ base) and the near-dup admission bar on the
    * ROUNDED n-gram Jaccard. Oracle-interpolated. */
  val DeltaBasePct = 80
  val DeltaNearBar = 0.5

  /** The floor of every near-dup policy bar in the tier (c45's
    * admission, c51's lowest sweep bar, c53's matrix bar) — the
    * verified-pair frame is memoized AT this floor, so the three
    * consumers share one jaccard computation over the shared
    * overlap evidence instead of re-joining sizes each. */
  val NearBarFloor = 0.5

  /** Verified pairs with rounded Jaccard ≥ `bar` — served from the
    * session memo when the bar is at or above [[NearBarFloor]] and
    * the cap is the default (the memo-geometry discipline); computed
    * direct otherwise. */
  private def jacAtLeast(docs: DataFrame, dfCap: Int, bar: Double): DataFrame = {
    def jacFrame(floor: Double) = {
      val (inter, sizes) = overlapFrames(docs, dfCap)
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 4).as("jac"))
        .filter(col("jac") >= floor)
    }
    if (dfCap == DfCap && bar >= NearBarFloor)
      SessionMemo.frame("verified_jac", docs)(Materialize.frame(jacFrame(NearBarFloor)))
        .filter(col("jac") >= bar)
    else jacFrame(bar)
  }

  /** Evidence-mass probe for ScaleSmoke: the size of the verified-
    * pair frame at the policy floor plus the capped posting-key
    * count — the ACTUAL input of the c2/c36/c42/c45/c51/c53 family.
    * A scale row for those queries is a plan finding only when its
    * time ratio outruns THIS ratio; replication that multiplies
    * duplication mass shows up here first. */
  private[graft] def evidenceMass(docs: DataFrame, dfCap: Int = DfCap): (Long, Long) = {
    val pairs = jacAtLeast(docs, dfCap, NearBarFloor).count()
    val keys = ngramPostings(docs, dfCap).count()
    (pairs, keys)
  }

  /** c45: cross-snapshot incremental dedup — the decision an ingest
    * pipeline executes on every NEW batch: is this document already
    * in the accumulated corpus, exactly or nearly? (c1/c2 dedup a
    * corpus against itself; a growing 100 TB corpus dedups each
    * delta against the base without rescanning base-vs-base pairs.)
    * The snapshot split is a content-independent md5(doc_id) percent
    * cut (c13's reproducibility spelling) standing in for the real
    * batch boundary.
    *
    * Per DELTA doc, first match wins: `dup_exact` (text md5 present
    * in base — carrier = min base doc, c1's keep-first), else
    * `dup_near` (a base doc shares df-capped shingle evidence with
    * rounded Jaccard ≥ bar — carrier = the max-Jaccard base doc, ties
    * to the min id), else `new`. Every delta doc is reported.
    *
    * Scale shape: exact matching is one hash join on md5(text); near
    * evidence REUSES the session-memoized posting chain
    * ([[overlapFrames]] — c2/c42/c45 pay one inverted-index build),
    * then keeps only base↔delta pairs, so the added cost over c2 is
    * report-sized. The base side in production is the stored
    * hash/posting state, not a rescan — the same store the streaming
    * near-dup gate accumulates. */
  /** The snapshot-boundary test c45 and c56 share: md5(doc_id)
    * percent bucket below [[DeltaBasePct]] ⇒ the doc belongs to the
    * accumulated BASE corpus; content-independent (c13's
    * reproducibility spelling), so every engine cuts identically. */
  private[graft] def isBaseDoc(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (conv(substring(md5(id.cast("string")), 1, 7), 16, 10)
      .cast("long") % 100) < DeltaBasePct

  def c45DeltaDedup(docs: DataFrame, dfCap: Int = DfCap,
      bar: Double = DeltaNearBar): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def isBase(id: org.apache.spark.sql.Column) = isBaseDoc(id)
    val delta = docs.filter(!isBase(col("doc_id")))
    val baseHash = docs.filter(isBase(col("doc_id")))
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("exact_doc"))
    val exact = delta.select(col("doc_id"), md5(col("text")).as("h"))
      .join(baseHash, Seq("h"), "left")
      .select(col("doc_id"), col("exact_doc"))
    val jac = jacAtLeast(docs, dfCap, bar)
    // orient each verified pair delta←base; base↔base and delta↔delta
    // evidence is not this operator's question
    val near = jac
      .select(
        when(isBase(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_id"),
        when(isBase(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("near_doc"),
        col("jac"))
      .filter(isBase(col("near_doc")) && !isBase(col("doc_id")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("jac").desc, col("near_doc"))
    val bestNear = near.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    exact.join(bestNear, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_doc").isNotNull, lit("dup_exact"))
          .when(col("near_doc").isNotNull, lit("dup_near"))
          .otherwise(lit("new")).as("decision"),
        when(col("exact_doc").isNotNull, col("exact_doc"))
          .otherwise(col("near_doc")).as("match_doc"),
        when(col("exact_doc").isNull, col("jac")).as("jaccard"))
      .orderBy("doc_id")
  }

  /** c51's sweep bars — the candidate thresholds a dedup-policy
    * decision prices. Oracle-interpolated. */
  val SweepBars = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 1.0)

  /** c51: dedup-threshold sensitivity sweep — the report a curation
    * team reads BEFORE pinning a near-dup bar: at each candidate
    * threshold, how many verified pairs fire and how many documents
    * are touched by at least one such pair (the removal upper bound
    * under any keep-one policy). c2 ranks the top pairs at one bar;
    * the sweep prices the POLICY CURVE, which is what actually gets
    * debated (a bar at 0.8 vs 0.6 can differ by half the corpus on
    * templated data).
    *
    * Shape: the pair evidence is the session-memoized overlap chain
    * (c2/c42/c45's build, paid once); per-doc max-Jaccard reduces it
    * to doc grain; both sweep aggregates are single rows of
    * conditional counts (one pass each, map-side combined) and the
    * 6-row report assembles with an explode — no per-bar rescans, no
    * joins against the evidence. Bars compare the ROUNDED jaccard
    * (both engines bind the same binary64 literals). */
  def c51DedupSweep(docs: DataFrame, dfCap: Int = DfCap): DataFrame = {
    val jac = jacAtLeast(docs, dfCap, SweepBars.min)
    val docMax = jac
      .select(explode(array(
        struct(col("doc_a").as("doc_id"), col("jac")),
        struct(col("doc_b").as("doc_id"), col("jac")))).as("e"))
      .select(col("e.doc_id"), col("e.jac"))
      .groupBy("doc_id").agg(max(col("jac")).as("mx"))
    val bars = SweepBars.zipWithIndex
    val ps = bars.map { case (b, i) => sum(when(col("jac") >= b, 1L).otherwise(0L)).as(s"p$i") }
    val ds = bars.map { case (b, i) => sum(when(col("mx") >= b, 1L).otherwise(0L)).as(s"d$i") }
    val pairRow = jac.agg(ps.head, ps.tail: _*)
    val docRow = docMax.agg(ds.head, ds.tail: _*)
    pairRow.crossJoin(docRow)
      .select(explode(array(bars.map { case (b, i) => struct(
        lit(b).as("bar"),
        coalesce(col(s"p$i"), lit(0L)).as("n_pairs"),
        coalesce(col(s"d$i"), lit(0L)).as("n_docs")) }: _*)).as("r"))
      .select(col("r.bar"), col("r.n_pairs"), col("r.n_docs"))
      .orderBy("bar")
  }

  /** c53: cross-source duplication matrix — corpus forensics at
    * SOURCE grain: for every (unordered) source pair, how many
    * verified near-dup pairs straddle it and how many documents they
    * touch. Off-diagonal mass is the "which sources copy from which"
    * signal that decides scrape-order and per-source dedup budgets
    * (a mirror site shows up as one hot off-diagonal cell before any
    * doc-grain report would surface it); the diagonal is each
    * source's internal duplication, c24's dup_rate at pair grain.
    *
    * Shape: the same memoized overlap evidence as c2/c42/c45/c51
    * (one build per session), two doc→source joins at EVIDENCE grain
    * (∝ verified-pair volume, not corpus), canonical (min, max)
    * source ordering, one matrix-sized aggregate. */
  def c53CrossSourceDup(docs: DataFrame, dfCap: Int = DfCap,
      bar: Double = DeltaNearBar): DataFrame = {
    val jac = jacAtLeast(docs, dfCap, bar)
    val src = docs.select(col("doc_id"), col("source"))
    // explode the endpoints FIRST so one aggregate yields both
    // counts (every pair contributes exactly two rows to its cell —
    // n_pairs = rows/2 exactly); a pairs/docs two-branch spelling
    // would re-execute the un-materialized join subtree per branch
    jac
      .join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "src_a"), Seq("doc_a"))
      .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "src_b"), Seq("doc_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("source_a", "source_b")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("d")).as("n_docs"))
      .orderBy("source_a", "source_b")
  }

  /** MinHash geometry: K slices from 2 md5 digests (K is structural —
    * tied to the 8×4-hex-char split of each digest), banded as
    * `Bands` bands of K/Bands rows. The oracle interpolates both. */
  val MinhashK = 16
  val Bands = 8

  /** Degenerate-bucket cap for the LSH band join (and c4's chunk
    * join): a bucket of B colliding docs yields C(B,2) candidate
    * pairs — a corpus with a large near-identical mass turns one
    * bucket quadratic. Buckets past the cap are DROPPED, not
    * enumerated: that mass is exact-dup-shaped, which is c1's job
    * (run exact dedup first), and at hamming/jaccard-verify time it
    * would saturate anyway. The c2 df-cap discipline applied to LSH. */
  val BucketCap = 1000

  /** Per-doc MinHash signature as a 16-element array column.
    * The 16 hash functions are 4-hex-char (16-bit) slices of TWO md5
    * digests per shingle ("0|s" and "1|s") — 8× fewer md5 calls than
    * one digest per function; min over fixed-width hex strings is min
    * over the integer value. 16 static min-aggregates in ONE
    * map-side-combined shuffle (no 16× row explosion). 16-bit minima
    * only gate banding; exact Jaccard verification restores full
    * precision. */
  /** The un-memoized signature kernel off the shared sets — the
    * reference spelling Round27Spec pins [[sharedMinhashSigs]]
    * against (and the streaming gate's per-batch path shape). */
  private[graft] def directMinhashSigs(docs: DataFrame): DataFrame =
    minhashSigs(sharedShingleSets(docs)
      .select(col("doc_id"), explode(col("sh")).as("s")))

  private def minhashSigs(shingled: DataFrame): DataFrame = {
    // Deliberately the DECLARATIVE 16-min-agg spelling, not the native
    // graft_minhash TypedImperativeAggregate (plans/MinHashAgg, spec-
    // proved equal): measured at sf0.1 the imperative aggregate is
    // 3-4× slower — object aggregation + per-buffer serde loses to 16
    // whole-stage-codegen'd min columns. The native aggregate stays
    // registered as the extension-path exemplar; this is the hot path.
    val hashed = shingled
      .select(col("doc_id"),
        md5(concat_ws("|", lit("0"), col("s"))).as("d0"),
        md5(concat_ws("|", lit("1"), col("s"))).as("d1"))
    val mins = (0 until MinhashK).map { i =>
      val src = if (i < 8) col("d0") else col("d1")
      min(substring(src, (i % 8) * 4 + 1, 4)).as(s"s$i")
    }
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until MinhashK).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** c3: MinHash + LSH near-dup join: 16-hash signature → 8 bands of
    * 2 → band-key bucket join for candidates → exact Jaccard verify on
    * candidates only. Band buckets shuffle on the band key; candidate
    * count scales with true similarity mass, not n². */
  def c3MinhashLsh(docs: DataFrame): DataFrame =
    minhashCandidatePairs(docs)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)

  /** LSH candidate pairs with exact-Jaccard verification — shared by
    * the c3 near-dup report and the c12 cluster builder. `bucketCap`
    * bounds per-band-bucket fan-out (see BucketCap); the window count
    * shares the band-key shuffle the self-join needs anyway, so both
    * join sides reuse one exchange. */
  def minhashCandidatePairs(docs: DataFrame, bucketCap: Int = BucketCap): DataFrame =
    candidatePairsFromSets(sharedShingleSets(docs), bucketCap,
      Some(sharedMinhashSigs(docs)))

  /** The memoized per-doc MinHash signature table — the artifact the
    * banding consumers share: c3/c12's candidate chain derives its
    * 8×2 band keys from it and c114's geometry sweep derives all
    * THREE factorings from the same frame, so the 16-min-agg corpus
    * pass runs once per (session, corpus), not once per consumer
    * (the session memo's standing discipline; the kernel input is spread
    * across cores when the scan arrives as one row-group — the
    * explode+md5 pass is the dense leg). */
  private[graft] def sharedMinhashSigs(docs: DataFrame): DataFrame =
    SessionMemo.frame("minhash_sigs", docs)(Materialize.frame(
      minhashSigs(Materialize.spreadScan(sharedShingleSets(docs), col("doc_id"))
        .select(col("doc_id"), explode(col("sh")).as("s")))))

  /** The un-memoized shingle kernel, for callers whose input frame is
    * transient (each streaming micro-batch is a NEW plan, so the
    * session memo would grow one dead entry per batch — the cache
    * leak DecontamStream's direct-projection note records). */
  private[graft] def directShingleSets(docs: DataFrame): DataFrame = shingleSets(docs)

  /** Pair generation + exact-Jaccard verify off an explicit sets
    * frame — the memoized batch path ([[minhashCandidatePairs]]) and
    * the streaming gate (NearDupStream, batch-sized per-micro-batch
    * sets) share this one spelling so their evidence cannot drift.
    * Callers pass a materialized/checkpointed frame: both the band
    * derivation and the two verify joins read it. */
  /** Raw (doc_id, band_key) rows off a sets frame — the signature
    * input is the sets exploded back to (doc_id, shingle) rows, so
    * the tokenize+shingle kernel never runs a second time (and, via
    * SessionMemo, not even a second time ACROSS queries in the same
    * session). Uncapped: the batch path applies the bucket cap on
    * top; the streaming gate probes/stores these directly (its
    * keeper-side buckets are self-bounding — kept docs are mutually
    * non-duplicate, so only hash collisions share a band key). */
  private[graft] def bandKeyRows(sets: DataFrame): DataFrame =
    bandKeyRowsFromSigs(
      minhashSigs(sets.select(col("doc_id"), explode(col("sh")).as("s"))))

  /** The 8×2 band-key derivation off an explicit signature frame —
    * split out so the batch path can feed it the MEMOIZED signatures
    * ([[sharedMinhashSigs]]) while the streaming gate keeps deriving
    * from its transient per-batch sets. */
  private[graft] def bandKeyRowsFromSigs(sig: DataFrame): DataFrame = {
    val rowsPerBand = MinhashK / Bands
    sig.select(col("doc_id"),
        explode(sequence(lit(0), lit(Bands - 1))).as("j"), col("sig"))
      .select(col("doc_id"),
        md5(concat_ws(":", col("j") +: (1 to rowsPerBand).map(r =>
          element_at(col("sig"), col("j") * rowsPerBand + r)): _*)).as("band_key"))
  }

  private[graft] def candidatePairsFromSets(sets: DataFrame,
      bucketCap: Int = BucketCap,
      sigs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both sides of the candidate self-join read this; persist the
    // |docs|×8-row frame instead of running the md5+agg pipeline twice
    val bands = sigs.map(bandKeyRowsFromSigs).getOrElse(bandKeyRows(sets))
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("band_key"))))
      .filter(col("bsz") <= bucketCap)
      .select(col("doc_id"), col("band_key"))
      .localCheckpoint()
    val cand = bands.as("a")
      .join(bands.as("b"), Seq("band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      // |A∩B| = |A|+|B|-|A∪B| — avoids depending on each engine's
      // intersect semantics, only union-of-sets must agree.
      .select(col("doc_a"), col("doc_b"),
        round((size(col("sh_a")) + size(col("sh_b")) - size(array_union(col("sh_a"), col("sh_b"))))
          .cast("double") / size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
  }

  /** c114 geometry grid — every (bands, rows-per-band) factoring of
    * the [[MinhashK]] signature: (16,1) fires on any single-hash
    * collision (high recall, low precision), (4,4) needs four
    * simultaneous matches (the opposite corner). The classic LSH
    * S-curve P(candidate) = 1 − (1 − j^r)^b, priced on THIS corpus
    * instead of trusted from the formula. Oracle-interpolated. */
  val LshGeometries: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4))

  /** c114's sampling dials. The permissive corner of the grid
    * ((16,1): a single 16-bit minhash per band) saturates on any
    * large corpus — min-of-many-draws concentrates on small hash
    * values, so enumerating its candidate pairs is ~quadratic until
    * the bucket cap bites (the 20× ScaleSmoke measured 120× before
    * these budgets). The sweep therefore (a) prices each geometry's
    * WORK analytically — Σ C(bucket_size, 2) off a count-first bucket
    * aggregate, never a pair enumeration — and (b) estimates
    * precision on pairs drawn from an md5-ordered per-bucket DOC
    * sample ([[SweepBucketSample]]), with [[SweepVerifyCap]] as the
    * per-geometry guard on the exact-Jaccard verify set. A
    * dial-pricing report needs the probe count and an unbiased
    * precision read, not every pair — the evidence builds stay
    * c3/c12's job. Oracle-interpolated. */
  val SweepBucketSample = 16
  val SweepVerifyCap = 100000

  /** c114: the LSH GEOMETRY sweep — the banding dial c3 fixes at 8×2,
    * measured across the grid before a deployment commits: per
    * geometry, candidate volume, verified duplicates (exact Jaccard ≥
    * the c12 bar) on the budgeted sample, precision, and recall
    * against the union of duplicates ANY geometry's sample surfaces —
    * the measured S-curve that tells a run whether its banding wastes
    * verification budget (precision low) or misses near-dups (recall
    * low).
    *
    * Recall is an ESTIMATOR, not ground truth: it normalizes by the
    * SAMPLED union, so at a BINDING verify budget every geometry's
    * recall inflates by exactly the factor |true dups| / |union| —
    * all three can read 1.0 while missing the same mass. The
    * planted-duplicate spec quantifies this (reported = true ×
    * P/union, exact when the budget doesn't bind); the analytic
    * probe column is exact at any budget. A deployment sizing its
    * budget should read n_verified < the budget as "estimator
    * trustworthy", n_verified = the budget as "recall is relative,
    * compare geometries only".
    *
    * Shape: ONE minhash signature build (the 16 min-aggregates c3
    * pays, computed once and checkpointed), a |grid|-way union of
    * band-key derivations off that frame — band keys are geometry-
    * prefixed so buckets never mix — one bucket-capped self-join
    * keyed (bands, band_key), a per-geometry [[SweepVerifyCap]]
    * budget (md5-ordered WindowGroupLimit — pseudo-random, engine-
    * exact), and ONE exact-Jaccard verification over the DISTINCT
    * sampled union (a pair surfacing under all three geometries is
    * verified once, not three times). Report = |grid| rows. */
  def c114LshGeometry(docs: DataFrame, bucketCap: Int = BucketCap,
      bar: Double = 0.5, geos: Seq[(Int, Int)] = LshGeometries,
      bucketSample: Int = SweepBucketSample,
      verifyCap: Int = SweepVerifyCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(geos.nonEmpty && geos.forall { case (b, r) => b * r == MinhashK },
      s"every geometry must factor the $MinhashK-hash signature")
    val sets = sharedShingleSets(docs)
    val sig = sharedMinhashSigs(docs) // memoized |docs|-row artifact; read once per geometry branch
    // ONE pass over the signature frame for ALL geometries: the
    // (bands, rows-per-band, j) grid explodes as a literal struct
    // array, and concat_ws FLATTENS the sliced signature segment —
    // the band_key string is byte-identical to the old per-geometry
    // spelling md5("b:j:e1:…:er") (Round27Spec pins it), in one stage
    // instead of a |grid|-way union of three derivations.
    val grid = geos.flatMap { case (b, r) => (0 until b).map(j => (b.toLong, r, j)) }
    val bandRows = sig.select(col("doc_id"),
        explode(array(grid.map { case (b, r, j) =>
          struct(lit(b).as("bands"), lit(r).as("r"), lit(j).as("j")) }: _*)).as("g"),
        col("sig"))
      .select(col("g.bands").as("bands"), col("doc_id"),
        md5(concat_ws(":", col("g.bands"), col("g.j"),
          slice(col("sig"), col("g.j") * col("g.r") + 1, col("g.r")))).as("band_key"))
      // lazy: blocks land inside the first consumer's job (bsizes) and
      // the sample join reads them — one fewer dedicated job per frame
      .localCheckpoint(eager = false) // sizes + sample both read it
    // bucket sizes FOLDED into the sample window's exchange (r16):
    // the size is a per-bucket window count over the SAME partition
    // keys the md5 sample rank orders by, so one shuffle of bandRows
    // produces both the capped-sample membership and every surviving
    // bucket's size — the r15 spelling paid a second bandRows shuffle
    // for a count aggregate plus a semi-join to carry it back. The
    // rank of a row within its bucket is unchanged (row_number is
    // bucket-local), so the sample is row-identical.
    val wBucket = Window.partitionBy(col("bands"), col("band_key"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val wSize = Window.partitionBy(col("bands"), col("band_key"))
    val sampledDocs = bandRows
      .withColumn("bsz", count(lit(1)).over(wSize))
      .filter(col("bsz") <= bucketCap)
      .withColumn("rn", row_number().over(wBucket))
      .filter(col("rn") <= bucketSample)
      .select(col("bands"), col("doc_id"), col("band_key"), col("bsz"))
      .localCheckpoint(eager = false) // probe sum + both self-join sides read it
    // integer `div` keeps every term (and the sum) a long — the
    // oracle sums exact integers via `//`, and a double sum could
    // diverge from it past 2^53 aggregate probe mass. Every surviving
    // bucket keeps ≥1 sampled row carrying its size, so the distinct
    // bucket set off the sample IS the capped bucket-size table.
    val nProbes = sampledDocs.select("bands", "band_key", "bsz").distinct()
      .groupBy("bands")
      .agg(sum(expr("bsz * (bsz - 1) div 2")).as("n_probes"))
    val cand = sampledDocs.as("a")
      .join(sampledDocs.as("b"), Seq("bands", "band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("bands"), col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val wBudget = Window.partitionBy(col("bands"))
      .orderBy(md5(concat_ws(":", col("doc_a"), col("doc_b"))), col("doc_a"), col("doc_b"))
    val sampled = cand
      .withColumn("rn", row_number().over(wBudget))
      .filter(col("rn") <= verifyCap)
      .select("bands", "doc_a", "doc_b")
      .localCheckpoint(eager = false) // per-geometry stats + the verify union read it
    // verify the SAMPLED pair union once; geometries re-join verdicts.
    // The exact-Jaccard projection is spread across cores explicitly:
    // its input is a few MB of pair rows (AQE coalesces that to one
    // task) but each row costs an array_union over two shingle sets —
    // the compute-dense/byte-light shape Materialize.spread exists
    // for; the pair set is verifyCap-bounded at any corpus size.
    val verified = Materialize.spread(
      sampled.select("doc_a", "doc_b").distinct()
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b")),
      col("doc_a"), col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round((size(col("sh_a")) + size(col("sh_b")) - size(array_union(col("sh_a"), col("sh_b"))))
          .cast("double") / size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
      .localCheckpoint(eager = false) // pair-evidence-sized; read per geometry + union total
    val totalDups = verified.filter(col("jaccard") >= bar)
      .agg(count(lit(1)).as("n_dups_union"))
    sampled.join(verified, Seq("doc_a", "doc_b"))
      .groupBy("bands")
      .agg(count(lit(1)).as("n_verified"),
        sum(when(col("jaccard") >= bar, 1L).otherwise(0L)).as("n_dup"))
      .join(nProbes, Seq("bands"))
      .crossJoin(broadcast(totalDups))
      .select(col("bands"), (lit(MinhashK) / col("bands")).cast("long").as("rows_per_band"),
        col("n_probes"), col("n_verified"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_verified"), 4).as("precision"),
        when(col("n_dups_union") > 0,
          round(col("n_dup").cast("double") / col("n_dups_union"), 4)).as("recall"))
      .orderBy("bands")
  }

  /** c12: duplicate clusters — connected components over the verified
    * near-dup pair graph (jaccard ≥ 0.5), the step that turns pair
    * lists into the keep-one-per-cluster decision a training-data
    * pipeline actually executes. Iterative min-label propagation:
    * each round every doc takes the min label among itself and its
    * neighbors; rounds ≈ component diameter (near-dup components are
    * shallow). Each round is one shuffle join; at web scale the same
    * loop runs with the large-star/small-star optimization. */
  def c12DupClusters(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val labels = verifiedDupLabels(docs, threshold)
    val sizes = labels.groupBy(col("label").as("cluster")).agg(count(lit(1)).as("cluster_size"))
    labels.select(col("doc_id"), col("label").as("cluster"))
      .join(sizes, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** c95: QUALITY-arbitrated near-dup keepers — the min-id keep rule
    * (c1/c12's canonical tie-break) upgraded to what a curation
    * pipeline actually wants once a quality model exists: per c12
    * cluster, keep the member the STORED classifier (c89) scores
    * highest (ties by min doc_id), and report what the arbitration
    * changed — keeper vs the min-id rule's keeper, both scores, and
    * the quality gain. The SemDeDup-style "keep the best exemplar"
    * move, with the trained artifact as the judge.
    *
    * Shape: the cluster chain is [[verifiedDupLabels]] (c12/c36's one
    * spelling — LSH candidates, verify, components); scoring is c89's
    * one aggregate off the memoized training frame; the arbitration is
    * a window over CLUSTER partitions (distributed by key) on the
    * cluster-member frame, which is pair-evidence-sized, not corpus-
    * sized. Report = one row per cluster. */
  def c95QualityKeeper(spark: org.apache.spark.sql.SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val scores = graft.operators.TextAnalysis.c89StoredClassifier(spark, dir)
      .select(col("doc_id"), col("score"))
    val members = verifiedDupLabels(docs, threshold)
      .select(col("doc_id"), col("label").as("cluster"))
      .join(scores, Seq("doc_id"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("score").desc, col("doc_id"))
    members
      .withColumn("rn", row_number().over(rk))
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("keeper_doc"),
        max(when(col("rn") === 1, col("score"))).as("keeper_score"),
        max(when(col("doc_id") === col("cluster"), col("score"))).as("minid_score"))
      .select(col("cluster"), col("n_members"), col("keeper_doc"), col("keeper_score"),
        col("minid_score"),
        (col("keeper_doc") =!= col("cluster")).as("changed"),
        round(col("keeper_score") - col("minid_score"), 4).as("quality_gain"))
      .orderBy("cluster")
  }

  /** (doc_id, label) for every doc in a verified near-dup pair at
    * `threshold` — the ONE chain (candidate pairs → jaccard filter →
    * component labeling) c12's cluster report and c36's leakage-safe
    * split both consume; a threshold or verification change lands in
    * both by construction. */
  private[operators] def verifiedDupLabels(docs: DataFrame,
      threshold: Double): DataFrame =
    // memoized per (corpus, threshold): the cluster labels feed c12,
    // c36's leakage split and c95's arbitration — one LSH-candidate +
    // verify + component-labeling chain per session, not one per
    // consumer (the labels are themselves a checkpointed frame, so
    // the memo adds storage of one (doc_id, label) table).
    SessionMemo.frame(s"dup_labels_$threshold", docs)(Materialize.frame(
      labelComponents(
        minhashCandidatePairs(docs)
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b")))))

  /** Connected-component labels over a verified pair frame
    * (doc_a, doc_b) — every endpoint labeled by its component's min
    * id. The shared engine of c12 (text near-dup clusters) and c32
    * (embedding-space semantic clusters).
    *
    * Pair count is observed DURING the eager checkpoint's own
    * materialization job (accumulator in a typed pass-through) — no
    * separate count() job serializing in front of the labeling.
    * Task retries can overcount an accumulator; it only steers the
    * branch choice below, where an overcount errs toward the
    * distributed path — safe.
    *
    * Adaptive: the verified-pair list is orders of magnitude smaller
    * than the corpus (that's what LSH is for). When it fits a single
    * task, a one-pass union-find beats ~log(diameter) join rounds;
    * the iterative pointer-jumping loop remains the path for
    * pathological edge volumes. Both label components by their min
    * id, so results are identical (PropertySpec's equivalence fuzz). */
  private[graft] def labelComponents(pairFrame: DataFrame): DataFrame = {
    val spark0 = pairFrame.sparkSession
    import spark0.implicits._
    val acc = spark0.sparkContext.longAccumulator("graft_pair_count")
    val pairs = pairFrame
      .as[(Long, Long)]
      .map { p => acc.add(1L); p }
      .toDF("doc_a", "doc_b")
      .localCheckpoint()
    if (acc.value < 1000000L) unionFindLabels(pairs)
    else propagateLabels(pairs)
  }

  // test-only entry points for the component-labeling equivalence
  // property (PropertySpec)
  private[graft] def testUnionFind(pairs: DataFrame): DataFrame = unionFindLabels(pairs)
  private[graft] def testPropagate(pairs: DataFrame): DataFrame = propagateLabels(pairs)

  /** Single-task union-find over a bounded edge list; attaching the
    * larger root under the smaller makes every root the component
    * minimum. */
  private def unionFindLabels(pairs: DataFrame): DataFrame = {
    val spark0 = pairs.sparkSession
    import spark0.implicits._
    pairs.as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        parent.keysIterator.toArray.iterator.map(n => (n, find(n)))
      }
      .toDF("doc_id", "label")
  }

  /** Distributed min-label propagation with pointer jumping —
    * O(log diameter) rounds, one shuffle join per round. */
  private def propagateLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // `cached` always holds the EXACT Dataset that was persisted —
    // unpersisting a projection derived from it would not match the
    // CacheManager entry and would silently leak the blocks.
    var cached = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .persist()
    var labels = cached
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst").withColumnRenamed("label", "nlabel"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nlabel")).as("nmin"))
      val stepped = labels.withColumnRenamed("label", "old")
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("mid"))
      // pointer jumping: follow my label's label — halves the distance
      // to the component minimum each round, so long duplicate chains
      // converge in O(log diameter) rounds instead of O(diameter).
      val lookup = stepped.select(col("doc_id").as("mid"), col("mid").as("jlabel"))
      // carry old+new in one frame: one materialization per round
      // serves both the convergence count and the next iteration
      val updated = stepped
        .join(lookup, Seq("mid"), "left")
        .select(col("doc_id"), col("old"),
          least(col("mid"), coalesce(col("jlabel"), col("mid"))).as("label"))
        .persist()
      changed = updated.filter(col("label") =!= col("old")).count()
      cached.unpersist()
      cached = updated
      labels = updated.select(col("doc_id"), col("label"))
    }
    // materialize the final labels off the round cache, then release
    // every block this loop pinned — the caller gets a self-contained
    // frame whose blocks the ContextCleaner reclaims on GC.
    val out = labels.localCheckpoint()
    cached.unpersist()
    edges.unpersist()
    out
  }

  /** Per-doc 60-bit SimHash from token-count-weighted md5 hashes.
    * A narrow typed map — the whole kernel (tokenize, count, md5,
    * 60-bit majority vote) runs per document with zero shuffle; the
    * md5-hex → 60-bit value matches the SQL `conv(substr(md5(w),1,15),
    * 16,10)` spelling exactly, so the DuckDB oracle is unchanged. */
  def simhash(docs: DataFrame): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        // word→hash memo shared across the partition's documents:
        // vocabulary is Zipfian, so most occurrences hit the memo and
        // the md5-per-word cost collapses to md5-per-distinct-word.
        // Same per-word value as before — oracle unchanged.
        val md = java.security.MessageDigest.getInstance("MD5")
        val memo = scala.collection.mutable.HashMap.empty[String, Long]
        def wordHash(w: String): Long = memo.getOrElseUpdate(w, {
          val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex.substring(0, 15), 16)
        })
        it.map { case (id, text) =>
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          // limit -1 keeps trailing empties (= the oracle's string_split)
          text.split(" ", -1).foreach(w => counts.update(w, counts.getOrElse(w, 0L) + 1L))
          val hashed = counts.iterator.map { case (w, c) => (wordHash(w), c) }.toArray
          var sim = 0L
          var i = 0
          while (i < 60) {
            var s = 0L
            hashed.foreach { case (h, c) => s += (if (((h >> i) & 1L) == 1L) c else -c) }
            if (s > 0) sim |= 1L << i
            i += 1
          }
          (id, sim)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** c4: SimHash near-dup join. Pigeonhole banding: 4 chunks of 15
    * bits — any pair within hamming distance 3 must agree on ≥1 chunk,
    * so the chunk-bucket join finds all close pairs without n²
    * compares. Candidates verified with bit_count(xor). */
  def c4Simhash(docs: DataFrame, bucketCap: Int = BucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both sides of the chunk self-join read the simhash frame;
    // persist |docs| rows instead of running the kernel twice
    val sh = simhash(docs).localCheckpoint()
    val chunks = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("chunk", expr("(simhash >> (15 * j)) & 32767"))
      // degenerate-bucket cap (see BucketCap): a chunk bucket of B
      // near-identical docs is B² candidates; drop it — exact-dup
      // mass belongs to c1, and the window count shares the join's
      // own (j, chunk) shuffle
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("j"), col("chunk"))))
      .filter(col("bsz") <= bucketCap)
      .drop("bsz")
    val cand = chunks.as("a")
      .join(chunks.as("b"), col("a.j") === col("b.j") && col("a.chunk") === col("b.chunk")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
    cand.orderBy(col("hamming"), col("doc_a"), col("doc_b")).limit(50)
  }

  /** c33 geometry: shingle width (tokens per key), minimum reported
    * span (tokens), and the per-key occurrence cap ([[DfCap]]
    * discipline — a shingle occurring in more than `SpanOccCap`
    * places is boilerplate mass, cut by rule instead of enumerated
    * as C(occ,2) pairs). All three are operator semantics; the
    * oracle interpolates the same constants. */
  val SpanShingleW = 8
  val SpanMinTokens = 16
  val SpanOccCap = 200

  /** Positional fixed-width shingles: (doc_id, pos, 64-bit key).
    * Same typed-kernel rationale as [[shingleSets]] (the sliding
    * window is a per-row loop; interpreted higher-order functions
    * cost ~10×), but positions are kept — runs of consecutive
    * shared positions are what c33 collapses into spans. The md5
    * key is applied DECLARATIVELY on top (codegen'd, the exact
    * spelling the oracle uses) and TRUNCATED to 16 hex chars = 64
    * bits, so only 16-byte keys + two longs ever reach the shuffle —
    * never the 8-token shingle text, and half the key bytes of the
    * full digest. Truncation is safe for SPAN semantics: a colliding
    * key pair can fake at most one isolated shingle match on a
    * random diagonal (W tokens < minSpan — filtered); a fake SPAN
    * would need minSpan−W+1 consecutive collisions. At 10^11
    * shingles, expected isolated collisions ≈ 10^22/2^65 ≪ 1 per
    * thousand corpora — and each costs a filtered row, not a wrong
    * answer. */
  private def posShingles(docs: DataFrame, w: Int): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < w) Iterator.empty
        else {
          // one reusable builder; avg shingle ~ w * avg-token bytes
          val sb = new java.lang.StringBuilder
          (0 to toks.length - w).iterator.map { p =>
            sb.setLength(0)
            var j = p
            while (j < p + w) {
              if (j > p) sb.append(' ')
              sb.append(toks(j)); j += 1
            }
            (id, p.toLong, sb.toString)
          }
        }
      }
      .toDF("doc_id", "pos", "s")
      .select(col("doc_id"), col("pos"), substring(md5(col("s")), 1, 16).as("key"))
  }

  /** The positional-shingle kernel for transient frames (each
    * streaming micro-batch is a NEW plan — [[directShingleSets]]'s
    * memo-leak discipline): (doc_id, pos, 64-bit key) rows, the
    * input grain of the span tier and of SpanStream's stored
    * inverted index. */
  private[graft] def posShingleRows(docs: DataFrame, w: Int = SpanShingleW): DataFrame =
    posShingles(docs, w)

  /** The MATERIALIZED positional-shingle frame, session-memoized per
    * (corpus, width) — the count-first cap consumes the rows twice
    * (count branch + semi-join probe), and c33's chain and c56's
    * delta chain read the SAME frame, so one kernel pass + one
    * materialization serves all four consumers per session. */
  private def posShinglesMat(docs: DataFrame, w: Int): DataFrame =
    SessionMemo.frame(s"pos_shingles_$w", docs)(
      Materialize.frame(posShingles(docs, w)))

  /** c33: exact repeated-SPAN dedup across documents — the Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") family: find maximal token ranges that occur verbatim
    * in more than one document, the grain doc-level dedup (c1) and
    * near-dup (c2–c4) both miss. The reference has no analog; this
    * extends the training-data mandate.
    *
    * Suffix arrays are the single-node spelling; the Spark-shaped
    * equivalent is shingle-diagonal run collapse: (1) every width-W
    * positional shingle keyed by md5; (2) keys kept only when their
    * occurrence count is in [2, occCap] — pair volume is Σ C(occ,2)
    * ≤ occCap/2 × shared-shingle rows, never n² (c2's df-cap
    * discipline; a key past the cap is boilerplate, cut by rule);
    * (3) cross-doc occurrence pairs generated inside the bounded
    * posting list (c2's typed-kernel escape hatch — quadratic-in-
    * group pair gen is imperative by nature); (4) per (doc_a, doc_b,
    * diagonal = pos_a − pos_b), runs of CONSECUTIVE shared positions
    * collapse into one maximal span via the pos − row_number trick —
    * a shared span of L tokens is exactly L−W+1 consecutive shingle
    * hits on one diagonal; (5) spans shorter than `minSpan` are
    * noise (a single 128-bit-collision could fake a W-token span;
    * ≥ minSpan needs minSpan−W+1 consecutive colliding keys —
    * impossible in practice) and are dropped.
    *
    * Physical shape: one shuffle to posting lists (map-side
    * combined), pair gen inside codegen-adjacent typed kernels, one
    * (doc_a, doc_b, diag)-partitioned window + the span groupBy
    * sharing that exchange. Report: (doc_a, doc_b, a_start, b_start,
    * n_tokens) per maximal span, a-side = the keep side (lower
    * doc_id = first occurrence, c1's keep-first policy); a caller
    * cuts [b_start, b_start + n_tokens) from doc_b. */
  def c33SubstringDedup(docs: DataFrame, w: Int = SpanShingleW,
      minSpan: Int = SpanMinTokens, occCap: Int = SpanOccCap): DataFrame =
    spanFrame(docs, w, minSpan, occCap)
      .orderBy("doc_a", "doc_b", "a_start", "b_start")

  /** The SHARED span evidence: c33's chain up to (but not including)
    * its report sort, memoized per (session, corpus, geometry) via
    * the session-memo discipline — c33 and c34 both derive from this,
    * so a session running the report AND the cut decision pays for
    * the shingle/pair/collapse chain once (the same reason c2/c3/c12
    * share one shingle kernel). */
  private def spanFrame(docs: DataFrame, w: Int,
      minSpan: Int, occCap: Int): DataFrame =
    SessionMemo.frame(s"c33_spans_${w}_${minSpan}_$occCap", docs)(
      Materialize.frame(spanChain(docs, w, minSpan, occCap)))

  /** The span chain as a pure plan (exposed for the plan-shape spec:
    * the window-exchange reuse is invisible once [[spanFrame]]
    * materializes it). */
  private[graft] def spanChain(docs: DataFrame, w: Int = SpanShingleW,
      minSpan: Int = SpanMinTokens, occCap: Int = SpanOccCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1 && minSpan >= w, "minSpan must be at least the shingle width")
    val spark0 = docs.sparkSession
    import spark0.implicits._
    // Count-first occurrence cap (SpanStream.batchSpans' spelling —
    // the streaming twin had it first): per-key counts are map-side
    // combined with O(1) state, the [2, occCap] filter fires on the
    // COUNT, and only surviving keys' rows reach the list aggregate —
    // a hot boilerplate shingle never materializes a proportional
    // buffer in one task. Key set identical to the old post-collect
    // filter, so spans cannot move. The shingle frame is the
    // session-memoized materialization (batchSpans' postB
    // discipline + the session memo) so the count branch and the
    // semi-join probe don't each re-run the tokenize kernel, and c56
    // reads the same frame.
    val ps = posShinglesMat(docs, w)
    val okKeys = ps.groupBy("key").agg(count(lit(1)).as("occ_n"))
      .filter(col("occ_n").between(2, occCap))
      .select("key")
    val pairs = ps.join(okKeys, Seq("key"), "left_semi")
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos")))).as("occ"))
      // posting list sorted by (doc, pos): i<j ⇒ doc_i ≤ doc_j, so
      // skipping equal docs orients every pair doc_a < doc_b
      .select(col("occ")).as[Seq[(Long, Long)]]
      .flatMap { occ =>
        for {
          i <- occ.indices.iterator
          j <- (i + 1 until occ.length).iterator
          if occ(i)._1 != occ(j)._1
        } yield (occ(i)._1, occ(i)._2, occ(j)._1, occ(j)._2)
      }
      .toDF("doc_a", "pos_a", "doc_b", "pos_b")
    // diag is materialized as a COLUMN so the span aggregate's
    // grouping keys are a superset of the window's hash partitioning
    // ATTRIBUTES — EnsureRequirements then reuses the window exchange
    // for the groupBy (re-deriving pos_a − pos_b as a fresh
    // expression planned a third shuffle; PlanShapeSpec pins 2)
    val run = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    pairs
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("grp", col("pos_a") - row_number().over(run))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pos_a")).as("a_start"), min(col("pos_b")).as("b_start"),
        (count(lit(1)) + (w - 1)).as("n_tokens"))
      .filter(col("n_tokens") >= minSpan)
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"), col("n_tokens"))
  }

  /** c34: the span-dedup CUT decision — what a pipeline actually
    * executes on c33's evidence (Lee et al. cut all-but-one
    * occurrence of every duplicated span; c33's keep-first
    * orientation makes the survivor the lowest doc_id holding it):
    * per document, the DISJOINT token ranges to remove. A doc's cut
    * intervals come from every pair where it is the b-side; they
    * overlap freely (one passage can match several earlier docs with
    * different extents), so they are merged with the classic
    * running-max island trick — an interval starts a new island iff
    * it begins strictly after the max end seen before it (b9's gap
    * detection, on intervals instead of timestamps).
    *
    * Scale shape: everything past c33 operates on SPAN rows (volume
    * ∝ duplication evidence, not corpus): one doc_id window + two
    * span-row aggregates, the (doc_id, island) one reusing the
    * window's exchange. Report: (doc_id, n_cut_ranges, cut_tokens),
    * the budget line item "how much of this doc is someone else's
    * text". */
  def c34SpanCuts(docs: DataFrame, w: Int = SpanShingleW,
      minSpan: Int = SpanMinTokens, occCap: Int = SpanOccCap): DataFrame =
    islandCuts(spanFrame(docs, w, minSpan, occCap)
      .select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("n_tokens")).as("e")))
      .orderBy("doc_id")

  /** The running-max island merge over an arbitrary interval frame
    * (doc_id, s, e) → (doc_id, n_cut_ranges, cut_tokens) — c34's
    * decision step factored out so the STORE-fed path (c72: the live
    * gate's accumulated cut instructions) executes through the one
    * spelling the at-rest operator uses. */
  private[graft] def islandCuts(iv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    // ROWS frame for the running max (strictly-prior intervals);
    // island id via the default RANGE cumulative frame — tied
    // intervals share their island id by construction in BOTH
    // engines, so the spelling is order-stable under ties
    iv
      .withColumn("maxe", max(col("e")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("cs"), max(col("e")).as("ce"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cut_ranges"),
        sum(col("ce") - col("cs")).as("cut_tokens"))
  }

  /** c62: EFFECTIVE token counts after span cuts — the number a
    * packing budget actually spends once span dedup has run: per
    * document, whitespace tokens, the tokens c34's disjoint cut
    * ranges remove, and what remains. Closes the span tier's loop
    * the way c57 closes c40's: c33 finds the evidence, c34 derives
    * the cut decision, c62 prices what the corpus costs AFTER
    * executing it — the input c22/c25's budgets should bill against
    * (billing raw counts double-pays every duplicated span).
    *
    * Shape: token counts are a narrow projection; the cut side is
    * c34's report (span-evidence-sized, riding the session-memoized
    * span frame) left-joined at doc grain — uncut docs coalesce to
    * zero. One report per doc, ordered. */
  def c62EffectiveTokens(docs: DataFrame, w: Int = SpanShingleW,
      minSpan: Int = SpanMinTokens, occCap: Int = SpanOccCap): DataFrame =
    effectiveTokensFrom(docs, c34SpanCuts(docs, w, minSpan, occCap))

  /** c62 over an ALREADY-MATERIALIZED cut report — the DAG spelling:
    * the curation pipeline materializes `span_cuts` as its own mart
    * and prices effective tokens off the stored frame instead of
    * re-deriving the span chain (dbt's each-subtree-executes-once
    * semantics). */
  def effectiveTokensFrom(docs: DataFrame, cuts: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(cuts.select(col("doc_id"), col("cut_tokens")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"))
      .withColumn("eff_tokens", col("n_tokens") - col("cut_tokens"))
      .orderBy("doc_id")

  /** c56: INCREMENTAL substring-span dedup — c33's evidence at the
    * ingest boundary, c45's snapshot discipline applied to the one
    * dedup tier that still re-derived everything per snapshot: span
    * evidence between the accumulated BASE corpus and the DELTA
    * batch ONLY. The base/delta boundary is [[isBaseDoc]]'s
    * content-independent md5(doc_id) percent cut (c45's stand-in for
    * the real batch boundary).
    *
    * The incremental claim is structural, not a filter at the end:
    * pairs are generated base×delta INSIDE each capped posting list,
    * so base↔base evidence (last snapshot's already-settled
    * question) and delta↔delta evidence (the batch's own c33 run) are
    * never enumerated — per-key pair volume is n_base·n_delta ≤
    * (occCap/2)², zero for every key the delta never touches, and
    * total volume ∝ base↔delta shared-shingle mass alone. In
    * production the base side of the posting lists is the STORED
    * inverted index the ingest gate accumulates (the span-grain twin
    * of the band store NearDupStream keeps), not a base rescan.
    *
    * Orientation is fixed by ROLE, not id order (c33 keeps the lower
    * doc_id; here the stored corpus always keeps): base = keep side,
    * delta = cut side — the online keep-first rule. Diagonal-run
    * collapse is c33's verbatim, on (keep, cut) coordinates: runs of
    * consecutive shared positions per (doc_keep, doc_cut, diag =
    * pos_cut − pos_keep) become maximal spans via pos − row_number;
    * spans ≥ minSpan reported as the delta doc's cut instruction
    * [cut_start, cut_start + n_tokens). */
  def c56DeltaSpans(docs: DataFrame, w: Int = SpanShingleW,
      minSpan: Int = SpanMinTokens, occCap: Int = SpanOccCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1 && minSpan >= w, "minSpan must be at least the shingle width")
    val spark0 = docs.sparkSession
    import spark0.implicits._
    // the combined-occurrence cap is the stored index's own
    // boilerplate rule (SpanOccCap), applied before any pairing —
    // and count-FIRST (spanChain's spelling): the cap fires on a
    // map-side-combined count, so a hot key's occurrences never
    // reach the list aggregate's buffer. The base/delta flag is a
    // narrow projection over the SHARED memoized shingle frame
    // (c33's), so the kernel runs once per session for both chains.
    val ps = posShinglesMat(docs, w)
      .withColumn("b", isBaseDoc(col("doc_id")))
    val okKeys = ps.groupBy("key").agg(count(lit(1)).as("occ_n"))
      .filter(col("occ_n").between(2, occCap))
      .select("key")
    val pairs = ps.join(okKeys, Seq("key"), "left_semi")
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"), col("b")))).as("occ"))
      .select(col("occ")).as[Seq[(Long, Long, Boolean)]]
      .flatMap { occ =>
        val (base, delta) = occ.partition(_._3)
        for {
          k <- base.iterator
          d <- delta.iterator
        } yield (k._1, k._2, d._1, d._2)
      }
      .toDF("doc_keep", "pos_keep", "doc_cut", "pos_cut")
    // diag as a COLUMN so the span aggregate reuses the run window's
    // exchange (c33's plan-pinned discipline)
    val run = Window.partitionBy(col("doc_keep"), col("doc_cut"), col("diag"))
      .orderBy(col("pos_cut"))
    pairs
      .withColumn("diag", col("pos_cut") - col("pos_keep"))
      .withColumn("grp", col("pos_cut") - row_number().over(run))
      .groupBy(col("doc_keep"), col("doc_cut"), col("diag"), col("grp"))
      .agg(min(col("pos_keep")).as("keep_start"), min(col("pos_cut")).as("cut_start"),
        (count(lit(1)) + (w - 1)).as("n_tokens"))
      .filter(col("n_tokens") >= minSpan)
      .select(col("doc_cut"), col("doc_keep"), col("cut_start"),
        col("keep_start"), col("n_tokens"))
      .orderBy("doc_cut", "doc_keep", "cut_start", "keep_start")
  }
}
