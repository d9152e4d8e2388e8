package graft.streaming

import graft.SessionMemo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Materialize, TextAnalysis}
import graft.functions.Keys

/** The TOKEN-BUDGET admission gate — the door a data-collection run
  * closes when its training budget fills: every arriving doc is
  * priced in the stored tokenizer's BPE tokens (the billing grain
  * c86/c98 budget in; the merge artifact ships to the door exactly
  * like the c96 classifier weights), and a doc is admitted iff the
  * cumulative OFFERED mass up to and including it — across batches
  * in poll order, within a batch in doc_id order — stays within the
  * budget. Past the overflow point everything is refused
  * (`budget_full`): the ARRIVAL-MASS CUTOFF rule. A collector stops
  * pulling when the budget fills; it does not cherry-pick stragglers
  * that would still fit — deliberately, because the greedy-skip rule
  * makes admission depend on every earlier refusal (sequentially
  * recursive, unreplayable as a plain window), while the cutoff rule
  * is ONE prefix sum any engine replays.
  *
  * State across batches is a LEDGER store: one row per processed
  * batch (batch_id, offered_tok). A batch reads Σ offered of batches
  * BEFORE it, prices its own docs with a batch-local prefix sum, and
  * merges both stores keep-first — an at-least-once replay re-prices
  * against the ledger rows earlier batches wrote and its own ledger
  * row merges as a no-op, so decisions are replay-stable (the house
  * exactly-once shape, with a SCALAR of cross-batch state instead of
  * keyed membership).
  *
  * Scale shape: pricing is batch-local (tfRowsDirect + the broadcast
  * merge list), the prefix sum is the BUCKETED arrival-order walk
  * ([[withArrivalCum]] — no unpartitioned window ever sees the batch
  * frame, only the ≤[[DoorBuckets]]-row offsets table), the ledger
  * is |batches| rows, and the decision merge touches only the
  * batch's key buckets. Nothing is proportional to the accumulated
  * corpus. */
object BudgetStream {

  /** Bucket count for the doors' exact arrival-order prefix sum —
    * the scale-safe spelling of the global in-batch window (r12
    * verdict): ≤ this many per-bucket offset rows, each in-bucket
    * window partition ≈ batch/DoorBuckets rows. */
  private[graft] val DoorBuckets = 4096L

  /** EXACT global prefix sum of `value` in doc_id (arrival) order,
    * without an unpartitioned window over the batch frame: doc_id is
    * RANGE-bucKeted (monotone in doc_id, so bucket order == arrival
    * order), per-bucket totals (≤ [[DoorBuckets]] rows — the only
    * frame any unpartitioned window touches) carry the cross-bucket
    * offsets, and the per-row walk partitions on the bucket — c30's
    * bucketed-admission discipline applied to the door. Identical
    * result to `sum(value) over (order by doc_id rows unbounded
    * preceding..current)`: integer sums regrouped, same order. The
    * min/max probe is one extra door-sized job over the already-
    * materialized pricing frame. */
  private[graft] def withArrivalCum(priced: DataFrame, value: Column,
      as: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mm = priced.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head
    if (mm.isNullAt(0)) return priced.withColumn(as, lit(0L))
    val lo = mm.getLong(0)
    val width = math.max(1L, (mm.getLong(1) - lo) / DoorBuckets + 1L)
    val b = priced.withColumn("door_bkt", expr(s"(doc_id - ${lo}L) div ${width}L"))
    val wOff = Window.orderBy(col("door_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy("door_bkt").agg(sum(value).as("bkt_tok"))
      .withColumn("base", coalesce(sum(col("bkt_tok")).over(wOff), lit(0L)))
      .select(col("door_bkt"), col("base"))
    val wIn = Window.partitionBy(col("door_bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    b.join(broadcast(offs), Seq("door_bkt"))
      .withColumn(as, col("base") + sum(value).over(wIn))
      .drop("door_bkt", "base")
  }

  /** The gate's budget in stored-tokenizer BPE tokens — sized to BIND
    * at every driver SF (sf0.001's population carries ~10k tokens,
    * sf0.01's ~100k), so both stages are always exercised.
    * Oracle-interpolated; a deployment sets its real budget. */
  val BudgetTokens = 6144L

  /** One micro-batch through the gate — ONE spelling shared by the
    * live stream and the store-grain audit. `batchId` orders the
    * ledger (poll order = budget consumption order). `merges` = the
    * stored tokenizer's rank-ordered list (the c83 artifact, loaded
    * once and closed over). Arrival order is the contract being
    * priced; the in-batch walk is the bucketed [[withArrivalCum]], so
    * even a GB-sized door batch never funnels through one task. */
  private[graft] def processBatch(batch: DataFrame,
      merges: Array[(String, String)], decisionStore: String,
      ledgerStore: String, batchId: Long,
      budget: Long = BudgetTokens): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = batch.sparkSession
    val priced = Materialize.frame(
      TextAnalysis.bpeCountsDirect(batch.select(col("doc_id"), col("text")), merges))
    // Σ offered by batches strictly before this one — replay-safe:
    // the ledger row for THIS batch (if a replay already wrote it)
    // is excluded by the id bound, so re-pricing reads the same prior
    val prior = EventsStream.readStore(spark0, ledgerStore, "batch_id long, offered_tok long")
      .filter(col("batch_id") < batchId)
      .agg(coalesce(sum(col("offered_tok")), lit(0L))).head.getLong(0)
    val decisions = withArrivalCum(priced, col("n_tok"), "cum0")
      .withColumn("cum", col("cum0") + prior)
      .select(col("doc_id"),
        when(col("cum") <= budget, lit("keep")).otherwise(lit("budget_full"))
          .as("stage"),
        col("n_tok"))
    EventsStream.upsertSink(decisions, decisionStore, "doc_id")
    val offered = priced.agg(coalesce(sum(col("n_tok")), lit(0L))).head.getLong(0)
    import spark0.implicits._
    EventsStream.upsertSink(
      Seq((batchId, offered)).toDF("batch_id", "offered_tok"),
      ledgerStore, "batch_id")
  }

  /** ONE budget-gate store build per (session, corpus, batch count) —
    * the funnel audits' poll discipline: the population arrives as
    * `nBatches` disjoint polls in doc_id-slice order, each driven
    * through [[processBatch]], the exact code the live stream runs. */
  private def budgetStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    val merges = TextAnalysis.storedMerges(spark, dir)
    Door.replay(spark, s"budget_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processBatch(b, merges, s"$root/decisions", s"$root/ledger", i)
    }
  }

  /** Per-source quotas: [[BudgetTokens]] split by c112's √n
    * per-mille temperature weights (the EXACT quantization c112
    * reports — floor(1000·√n/Σ√n) with the 6-rounded z — so the
    * door enforces the same mixture the repeat plan budgets);
    * quota = (budget · mille) div 1000, exact integers. Bounded
    * collect (|sources| rows).
    *
    * Quota plans are session-memoized: a quota map is an artifact of
    * the corpus vintage (the deployment computes it once per vintage
    * and every door poll reads it), but the plan derivations (the
    * stored-tokenizer mass rollup; c156's whole HLL novelty chain)
    * were re-running on EVERY audit-store build, which charged each
    * keyed door query for the planning job instead of the door. */
  private[graft] def sourceQuotas(spark: SparkSession, dir: String,
      budget: Long = BudgetTokens): Map[String, Long] =
    SessionMemo(spark, s"quota:volume_${dir}_$budget") {
      sourceQuotasDirect(spark, dir, budget)
    }

  private def sourceQuotasDirect(spark: SparkSession, dir: String,
      budget: Long): Map[String, Long] = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val st = docs.join(graft.operators.Sampling.storedTokCounts(spark, dir), Seq("doc_id"))
      .groupBy("source").agg(sum(col("n_tok")).as("n_tok"))
    val tot = st.agg(round(sum(sqrt(col("n_tok").cast("double"))), 6).as("z"))
    st.crossJoin(broadcast(tot))
      .select(col("source"),
        floor(lit(1000.0) * sqrt(col("n_tok").cast("double")) / col("z"))
          .cast("long").as("mille"))
      .collect().map(r => r.getString(0) -> budget * r.getLong(1) / 1000L).toMap
  }

  /** Per-source NOVELTY quotas — [[BudgetTokens]] split by √(est_new)
    * per-mille weights off c156's sketch-difference novelty: pay for
    * estimated-NEW mass, not repeat arrivals. A source whose ingest
    * adds nothing new reads mille 0 and its door stays closed until
    * the next vintage's registers say otherwise — the
    * acquisition-budget twin of c128's volume quotas. Exact c112
    * quantization (floor(1000·√w/z), z rounded 6); est_new is the
    * c156-rounded double on both engines, so the weights replay
    * bit-for-bit. Bounded collect (|sources| rows). */
  private[graft] def noveltyQuotas(spark: SparkSession, dir: String,
      budget: Long = BudgetTokens): Map[String, Long] =
    SessionMemo(spark, s"quota:novelty_${dir}_$budget") {
      noveltyQuotasDirect(spark, dir, budget)
    }

  private def noveltyQuotasDirect(spark: SparkSession, dir: String,
      budget: Long): Map[String, Long] = {
    val nov = TextAnalysis.c156HllVintage(
        graft.sources.Tables.documents(spark, dir))
      .select(col("source"),
        greatest(coalesce(col("est_new"), lit(0.0)), lit(0.0)).as("w"))
    val tot = nov.agg(round(sum(sqrt(col("w"))), 6).as("z"))
    nov.crossJoin(broadcast(tot))
      .select(col("source"),
        when(col("z") > 0.0,
          floor(lit(1000.0) * sqrt(col("w")) / col("z")).cast("long"))
          .otherwise(0L).as("mille"))
      .collect().map(r => r.getString(0) -> budget * r.getLong(1) / 1000L).toMap
  }

  private def noveltyQuotaStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    val merges = TextAnalysis.storedMerges(spark, dir)
    val quotas = noveltyQuotas(spark, dir)
    Door.replay(spark, s"nquota_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processQuotaBatch(b, merges, quotas, s"$root/decisions", s"$root/ledger", i)
    }
  }

  /** c160: the NOVELTY-quota door at STORE grain — c128's per-source
    * cutoff machinery (processQuotaBatch verbatim — one door
    * spelling, two quota plans) driven by [[noveltyQuotas]]: the
    * sketch tier (c154–c156) deciding what ingest is WORTH paying
    * for. Keyed result = the decision store; the oracle replays the
    * HLL-novelty chain into the quota arithmetic and the per-source
    * prefix sums. */
  def c160NoveltyQuota(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${noveltyQuotaStores(spark, dir, nBatches)}/decisions")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "stage", "n_tok")
      .orderBy("doc_id")

  /** One micro-batch through the PER-SOURCE quota gate — [[processBatch]]'s
    * shape with the budget keyed by source: each source's arrivals
    * consume ITS quota (cutoff rule per source — a source filling its
    * quota closes only its own door), the ledger carries one row per
    * (batch, source). */
  private[graft] def processQuotaBatch(batch: DataFrame,
      merges: Array[(String, String)], quotas: Map[String, Long],
      decisionStore: String, ledgerStore: String, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = batch.sparkSession
    import spark0.implicits._
    val priced = Materialize.frame(
      TextAnalysis.bpeCountsDirect(batch.select(col("doc_id"), col("text")), merges)
        .join(batch.select(col("doc_id"), col("source")), Seq("doc_id")))
    val prior: Map[String, Long] = EventsStream.readStore(spark0, ledgerStore,
        "source string, offered_tok long, batch_id long, bk string")
      .filter(col("batch_id") < batchId)
      .groupBy("source").agg(sum(col("offered_tok")).as("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qdf = broadcast(quotas.toSeq
      .map { case (s, q) => (s, q, prior.getOrElse(s, 0L)) }
      .toDF("source", "quota", "prior"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // left join: unknown sources get quota 0 → `quota_full`, never a
    // silently dropped arrival (r12 advice)
    val decisions = priced.join(qdf, Seq("source"), "left")
      .withColumn("quota", coalesce(col("quota"), lit(0L)))
      .withColumn("prior", coalesce(col("prior"), lit(0L)))
      .withColumn("cum", sum(col("n_tok")).over(w) + col("prior"))
      .select(col("doc_id"), col("source"),
        when(col("cum") <= col("quota"), lit("keep")).otherwise(lit("quota_full"))
          .as("stage"),
        col("n_tok"))
    EventsStream.upsertSink(decisions, decisionStore, "doc_id")
    EventsStream.upsertSink(
      priced.groupBy("source").agg(sum(col("n_tok")).as("offered_tok"))
        .withColumn("batch_id", lit(batchId))
        .withColumn("bk", concat_ws(":", col("batch_id"), col("source"))),
      ledgerStore, "bk")
  }

  private def quotaStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    val merges = TextAnalysis.storedMerges(spark, dir)
    val quotas = sourceQuotas(spark, dir)
    Door.replay(spark, s"quota_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processQuotaBatch(b, merges, quotas, s"$root/decisions", s"$root/ledger", i)
    }
  }

  /** c143's global stage budget — HALF the quota pool, so the second
    * gate BINDS behind the first at every driver SF (the quota stage
    * alone admits ~Σ quotas ≈ [[BudgetTokens]] of mass; a global
    * budget at or above that would never fire). Oracle-interpolated. */
  val ComposedBudget: Long = BudgetTokens / 2

  /** One micro-batch through the COMPOSED gate — quota first, global
    * budget second (the compose c128's deployment note names: a
    * bursty source can't starve the others' budget, and the whole
    * door still respects one run-level token ceiling). Stage 1 is
    * [[processQuotaBatch]]'s per-source cutoff verbatim; stage 2 runs
    * [[processBatch]]'s global cutoff over the QUOTA SURVIVORS only
    * (refused mass consumes no budget — the conditional prefix sum).
    * The ledger carries, per (batch, source), both the offered mass
    * (stage 1's replay state) and the quota-survivor mass (stage
    * 2's), so a restart replays both priors from one store. */
  private[graft] def processComposedBatch(batch: DataFrame,
      merges: Array[(String, String)], quotas: Map[String, Long],
      decisionStore: String, ledgerStore: String, batchId: Long,
      budget: Long = ComposedBudget): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = batch.sparkSession
    import spark0.implicits._
    val priced = Materialize.frame(
      TextAnalysis.bpeCountsDirect(batch.select(col("doc_id"), col("text")), merges)
        .join(batch.select(col("doc_id"), col("source")), Seq("doc_id")))
    val prev = EventsStream.readStore(spark0, ledgerStore,
        "source string, offered_tok long, survivor_tok long, batch_id long, bk string")
      .filter(col("batch_id") < batchId)
    val priorS = prev.groupBy("source").agg(sum(col("offered_tok")).as("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val priorG = prev.agg(coalesce(sum(col("survivor_tok")), lit(0L))).head.getLong(0)
    val qdf = broadcast(quotas.toSeq
      .map { case (s, q) => (s, q, priorS.getOrElse(s, 0L)) }
      .toDF("source", "quota", "prior"))
    val wS = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // left join: a source absent from the quota plan gets quota 0 and
    // routes to `quota_full` — every arrival gets a keyed decision
    // row (r12 advice: the inner join silently dropped unknowns)
    val quotaStaged = Materialize.frame(priced.join(qdf, Seq("source"), "left")
      .withColumn("quota", coalesce(col("quota"), lit(0L)))
      .withColumn("prior", coalesce(col("prior"), lit(0L)))
      .withColumn("cum", sum(col("n_tok")).over(wS) + col("prior"))
      .withColumn("quota_ok", col("cum") <= col("quota")))
    val staged = withArrivalCum(quotaStaged,
        when(col("quota_ok"), col("n_tok")).otherwise(0L), "gcum0")
      .withColumn("gcum", col("gcum0") + lit(priorG))
    val decisions = staged.select(col("doc_id"), col("source"),
      when(!col("quota_ok"), lit("quota_full"))
        .when(col("gcum") <= budget, lit("keep"))
        .otherwise(lit("budget_full")).as("stage"),
      col("n_tok"))
    EventsStream.upsertSink(decisions, decisionStore, "doc_id")
    EventsStream.upsertSink(
      staged.groupBy("source").agg(
        sum(col("n_tok")).as("offered_tok"),
        sum(when(col("quota_ok"), col("n_tok")).otherwise(0L)).as("survivor_tok"))
        .withColumn("batch_id", lit(batchId))
        .withColumn("bk", concat_ws(":", col("batch_id"), col("source"))),
      ledgerStore, "bk")
  }

  /** One micro-batch through the NOVELTY-COMPOSED door — the whole
    * acquisition policy in ONE pass over each arrival batch: the
    * row-local quality cascade decides first (junk consumes nothing),
    * the NOVELTY quotas (c160's √est_new plan — pay for estimated-new
    * mass) meter the quality survivors per source, and the run-level
    * token ceiling (c143's conditional prefix sum) closes over the
    * quota survivors. ONE ledger row per (batch, source) carries all
    * three replay states — offered, quality-surviving, and
    * quota-surviving mass — so a restart resumes every stage from one
    * store, and the reconciliation spec can re-derive each ledger
    * column from the decision store alone (c153's discipline). */
  private[graft] def processNoveltyDoorBatch(batch: DataFrame,
      merges: Array[(String, String)], quotas: Map[String, Long],
      decisionStore: String, ledgerStore: String, batchId: Long,
      budget: Long = ComposedBudget): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = batch.sparkSession
    import spark0.implicits._
    val priced = Materialize.frame(
      TextAnalysis.bpeCountsDirect(batch.select(col("doc_id"), col("text")), merges)
        .join(batch.select(col("doc_id"), col("source"),
          TextAnalysis.curationReasonOf(col("text")).as("qreason")), Seq("doc_id")))
    val prev = EventsStream.readStore(spark0, ledgerStore,
        "source string, offered_tok long, quality_tok long, survivor_tok long, " +
          "batch_id long, bk string")
      .filter(col("batch_id") < batchId)
    val priorQ = prev.groupBy("source").agg(sum(col("quality_tok")).as("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val priorG = prev.agg(coalesce(sum(col("survivor_tok")), lit(0L))).head.getLong(0)
    val qdf = broadcast(quotas.toSeq
      .map { case (s, q) => (s, q, priorQ.getOrElse(s, 0L)) }
      .toDF("source", "quota", "prior"))
    val wS = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // left join: a source absent from the novelty plan (or with zero
    // estimated-new mass) gets quota 0 → `quota_full`, never a
    // dropped arrival
    val staged0 = Materialize.frame(priced.join(qdf, Seq("source"), "left")
      .withColumn("quota", coalesce(col("quota"), lit(0L)))
      .withColumn("prior", coalesce(col("prior"), lit(0L)))
      .withColumn("quality_ok", col("qreason") === "keep")
      .withColumn("cum",
        sum(when(col("quality_ok"), col("n_tok")).otherwise(0L)).over(wS)
          + col("prior"))
      .withColumn("quota_ok", col("quality_ok") && col("cum") <= col("quota")))
    val staged = withArrivalCum(staged0,
        when(col("quota_ok"), col("n_tok")).otherwise(0L), "gcum0")
      .withColumn("gcum", col("gcum0") + lit(priorG))
    val decisions = staged.select(col("doc_id"), col("source"),
      when(!col("quality_ok"), col("qreason"))
        .when(!col("quota_ok"), lit("quota_full"))
        .when(col("gcum") <= budget, lit("keep"))
        .otherwise(lit("budget_full")).as("stage"),
      col("n_tok"))
    EventsStream.upsertSink(decisions, decisionStore, "doc_id")
    EventsStream.upsertSink(
      staged.groupBy("source").agg(
        sum(col("n_tok")).as("offered_tok"),
        sum(when(col("quality_ok"), col("n_tok")).otherwise(0L)).as("quality_tok"),
        sum(when(col("quota_ok"), col("n_tok")).otherwise(0L)).as("survivor_tok"))
        .withColumn("batch_id", lit(batchId))
        .withColumn("bk", concat_ws(":", col("batch_id"), col("source"))),
      ledgerStore, "bk")
  }

  private[graft] def noveltyDoorStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    val merges = TextAnalysis.storedMerges(spark, dir)
    val quotas = noveltyQuotas(spark, dir)
    Door.replay(spark, s"ndoor_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processNoveltyDoorBatch(b, merges, quotas, s"$root/decisions", s"$root/ledger", i)
    }
  }

  /** c165: the COMPOSED NOVELTY DOOR at STORE grain — the verdict's
    * "one ledger, novelty + budget + quality in one pass": per
    * arrival, either its quality-cascade reason (row-local junk pays
    * nothing), `quota_full` (its source's novelty quota — c160's
    * √est_new plan — closed), `budget_full` (survived quota, the
    * run ceiling closed), or `keep`. Refusals at each stage consume
    * none of the next stage's budget (the conditional prefix sums
    * the oracle replays), so a junk-heavy or stale source can't
    * starve the others. Keyed result = the decision store. */
  def c165NoveltyDoor(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${noveltyDoorStores(spark, dir, nBatches)}/decisions")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "stage", "n_tok")
      .orderBy("doc_id")

  private def composedStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    val merges = TextAnalysis.storedMerges(spark, dir)
    val quotas = sourceQuotas(spark, dir)
    Door.replay(spark, s"composed_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processComposedBatch(b, merges, quotas, s"$root/decisions", s"$root/ledger", i)
    }
  }

  /** c143: the COMPOSED door at STORE grain — the deployment wiring
    * c128's DEPLOY row names (quota first, global budget second),
    * keyed: per arrival, `quota_full` (its source's door closed),
    * `budget_full` (survived quota, the run-level ceiling closed), or
    * `keep`. Refused-by-quota mass consumes NO global budget — the
    * property that makes the compose fair (a bursty source's overflow
    * cannot starve the others), and exactly what the conditional
    * prefix sum in the oracle replays. */
  def c143ComposedGateAudit(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${composedStores(spark, dir, nBatches)}/decisions")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "stage", "n_tok")
      .orderBy("doc_id")

  /** c128: the PER-SOURCE quota gate at STORE grain — the mixture
    * plan (c112's √n per-mille weights) ENFORCED at ingest: each
    * source's arrivals consume its own quota under the cutoff rule,
    * so the admitted corpus's source composition approaches the
    * designed mixture no matter how skewed arrivals are — the door-
    * side twin of c38/c112's at-rest designs. Keyed result = the
    * decision store (doc_id, source, stage, n_tok); oracle = c112's
    * weight CTEs + one per-source prefix sum over arrival order. */
  def c128QuotaGateAudit(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${quotaStores(spark, dir, nBatches)}/decisions")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "stage", "n_tok")
      .orderBy("doc_id")

  /** c126: the budget gate at STORE grain — [[FunnelStream.AuditBatches]]
    * polls through [[processBatch]], the keyed result read back from
    * the decision store: (doc_id, stage, n_tok), every doc priced and
    * decided exactly once. The oracle replays the whole arrival
    * history as ONE prefix sum: n_tok from the c75 chain's counts,
    * cumulative mass over (batch = doc_id % n, doc_id) order, admit
    * iff cum ≤ budget — the cutoff rule's point is precisely that the
    * at-rest replay is this cheap. */
  def c126BudgetGateAudit(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${budgetStores(spark, dir, nBatches)}/decisions")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "stage", "n_tok")
      .orderBy("doc_id")

  /** One micro-batch of the DOOR → SCHEDULE hand-off: the composed
    * gate decides the batch ([[processComposedBatch]] verbatim), then
    * the batch's ADMITTED docs are binned against the PINNED base-
    * vintage cuts (c129's artifact — the publish-stability contract)
    * and APPENDED to the schedule store: pos = rows earlier batches
    * already placed in the shard + the batch's own (bin desc,
    * shuffle_key) rank. Earlier batches' rows are never reordered —
    * the incremental twin of c129's full window, exact because each
    * shard's positions are dense and batch-monotone. Replay-stable:
    * the prior count reads only batch_id < this batch (a replayed
    * batch recomputes identical rows; the keyed merge is a no-op). */
  private[graft] def processHandoffBatch(batch: DataFrame,
      merges: Array[(String, String)], quotas: Map[String, Long],
      cuts: DataFrame, stores: String, batchId: Long,
      budget: Long = ComposedBudget,
      seed: Long = graft.operators.Sampling.ShuffleSeed,
      shards: Int = graft.operators.Sampling.ShuffleShards,
      bins: Int = TextAnalysis.QualityBins,
      packBudget: Long = graft.operators.Sampling.DefaultTokenBudget): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = batch.sparkSession
    import spark0.implicits._
    processComposedBatch(batch, merges, quotas, s"$stores/decisions",
      s"$stores/ledger", batchId, budget)
    // this batch's admitted docs: the decision store cut to the batch
    // (the join carries the batch's text for quality scoring); n_tok
    // rides along so the schedule row is loader-complete
    val keeps = EventsStream.readStore(spark0, s"$stores/decisions",
        "doc_id long, source string, stage string, n_tok long")
      .filter(col("stage") === "keep").select(col("doc_id"), col("n_tok"))
      .join(batch.select(col("doc_id"), col("text"), col("source")), Seq("doc_id"))
    val scored = keeps.select(col("source"), col("doc_id"),
      TextAnalysis.qualityOf(col("text")).as("quality"))
    val schedSchema = "doc_id long, source string, bin long, shard long, pos long, " +
      "batch_id long, n_tok long, eval_hit boolean"
    val priorPos: Map[Long, Long] =
      EventsStream.readStore(spark0, s"$stores/schedule", schedSchema)
        .filter(col("batch_id") < batchId)
        .groupBy("shard").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pdf = broadcast(
      (0L until shards.toLong).map(s => (s, priorPos.getOrElse(s, 0L)))
        .toDF("shard", "prior_pos"))
    // the door-side mask annotation (c161): registry membership +
    // token mass land ON the schedule row, so the loader knows what
    // to mask without a separate at-rest decontamination pass
    val anyEval = TextAnalysis.BenchRegistry
      .map(s => expr(s.pred)).reduce(_ || _)
    val rows = graft.operators.Sampling.binByCuts(scored, cuts, bins)
      .transform(graft.operators.Sampling.withShuffleShard(seed, shards))
      .join(pdf, Seq("shard"))
      .withColumn("pos", col("prior_pos") + row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(col("bin").desc, col("shuffle_key")))
        .cast("long"))
      .withColumn("batch_id", lit(batchId))
      .join(keeps.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
      .withColumn("eval_hit", anyEval)
      .select("doc_id", "source", "bin", "shard", "pos", "batch_id",
        "n_tok", "eval_hit")
    EventsStream.upsertSink(rows, s"$stores/schedule", "doc_id")
    // c164: the batch's schedule rows packed into training sequences
    // THE SAME POLL — c111's packing window as an append. Positions
    // are batch-monotone and earlier rows never move, so batch k's
    // pack is exactly the full-history window's prefix: carry each
    // shard's prior token mass (batch_id < this batch — replay-stable
    // like prior_pos), cumulate this batch's rows in pos order, and
    // cut seq_id/start_offset against the SAME budget arithmetic
    // packBySchedule spells. Sequences therefore continue across
    // polls (a boundary doc straddles two batches' sequences exactly
    // as the at-rest pack would place it), and a replayed batch
    // recomputes identical rows into the keyed no-op merge.
    val schedRows = EventsStream.readStore(spark0, s"$stores/schedule", schedSchema)
      .filter(col("batch_id") === batchId)
    val packStore = s"$stores/packed"
    val priorTok: Map[Long, Long] =
      EventsStream.readStore(spark0, packStore,
          "doc_id long, shard long, batch_id long, n_tok long")
        .filter(col("batch_id") < batchId)
        .groupBy("shard").agg(sum(col("n_tok")).as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ptf = broadcast(
      (0L until shards.toLong).map(s => (s, priorTok.getOrElse(s, 0L)))
        .toDF("shard", "prior_tok"))
    val wPack = Window.partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val packed = schedRows.join(ptf, Seq("shard"))
      .withColumn("cum", col("prior_tok") + sum(col("n_tok")).over(wPack))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $packBudget"))
      .select(col("doc_id"), col("source"), col("bin"), col("shard"),
        col("pos"), col("batch_id"), col("n_tok"), col("seq_id"),
        (col("cum") - col("n_tok") - col("seq_id") * packBudget).as("start_offset"))
    EventsStream.upsertSink(packed, packStore, "doc_id")
  }

  private[graft] def handoffStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    val merges = TextAnalysis.storedMerges(spark, dir)
    val quotas = sourceQuotas(spark, dir)
    val cuts = graft.operators.Sampling.pinnedCuts(spark, dir)
    Door.replay(spark, s"handoff_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processHandoffBatch(b, merges, quotas, cuts, root, i)
    }
  }

  /** c148: the DOOR → SCHEDULE hand-off at STORE grain — the last
    * ingest-to-loader arc: c143's composed door admits, and every
    * admitted batch lands in the training schedule THAT POLL, binned
    * by c129's pinned base-vintage cuts (artifact reuse: one pin,
    * both consumers) and appended per shard behind the rows earlier
    * polls placed. Earlier rows never move (publish stability at the
    * door, not just at re-pack time); the whole history replays as
    * ONE window ordered by (batch, bin desc, shuffle_key) — exactly
    * what the oracle spells. Keyed result = the schedule store. */
  def c148DoorSchedule(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${handoffStores(spark, dir, nBatches)}/schedule")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "bin", "shard", "pos", "batch_id")
      .orderBy("shard", "pos")

  /** c161: the door-side LOSS-MASK hand-off — c148's schedule rows
    * with the mask evidence attached AT THE DOOR: per admitted
    * arrival, its registry membership (eval_hit) and token mass ride
    * the schedule row, so the loader's masking (c146's discipline)
    * starts from door-time evidence instead of a separate at-rest
    * decontamination pass over the accumulated corpus. Same store,
    * two keyed views (c148 = the loader's walk order; this = the
    * mask ledger). */
  def c161DoorMask(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${handoffStores(spark, dir, nBatches)}/schedule")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "bin", "shard", "pos", "batch_id",
        "n_tok", "eval_hit")
      .orderBy("shard", "pos")

  /** c164: DOOR-SIDE SEQUENCE PACKING at STORE grain — the loader's
    * actual mount surface built incrementally: every poll's admitted
    * docs land not just in the schedule (c148) but in PACKED
    * TRAINING SEQUENCES the same poll, each shard's token cursor
    * carried across batches so sequences continue exactly where the
    * previous poll stopped. The at-rest twin is c111's packing
    * window; because schedule positions are batch-monotone and
    * earlier rows never move, the incremental pack is the full
    * window's prefix at every poll — the oracle replays the whole
    * history as ONE cumulative window over (shard, pos), and the
    * spec pins that batch-k rows are byte-identical after batch k+1
    * lands (publish stability at sequence grain). */
  def c164DoorPack(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${handoffStores(spark, dir, nBatches)}/packed")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "bin", "shard", "pos", "batch_id",
        "n_tok", "seq_id", "start_offset")
      .orderBy("shard", "pos")

  /** c173: VINTAGE-CLOSE MAINTENANCE for the door's DOC-GRAIN logs —
    * c170's audited-compaction pattern applied to the schedule (c148)
    * and packed (c164) stores, which grow ∝ polls at FILE grain:
    * every poll's upsert appends one parquet file per touched bucket
    * (rows are unique by doc_id — nothing to drop, everything to
    * re-lay), so a vintage of hourly polls leaves thousands of small
    * files per bucket. The query PERFORMS the maintenance under the
    * quiesced-writer contract (vintage closed, no poll in flight):
    * [[EventsStream.compactStoreSelective]] re-lays every fragmented
    * bucket of both stores to its one-file layout contract (atomic
    * per-bucket swap; a re-run finds single-file buckets and rewrites
    * nothing — idempotent by construction), and the packed log gets
    * its SEQUENCE-GRAIN snapshot written beside it
    * (`packed_manifest`, c120's index aggregate at door grain —
    * ≤ corpus-tokens/budget rows, the artifact vintage diffs read
    * instead of re-deriving the pack). Then it AUDITS the
    * post-maintenance stores: per shard, the polls and docs
    * accumulated, token mass, and membership checksum read back from
    * the COMPACTED packed store, and the sequence count read from
    * the SNAPSHOT — all re-derived by the oracle from the raw
    * arrival history, so a compaction that drops or duplicates one
    * row, or a snapshot that mis-aggregates one sequence,
    * hash-fails the round instead of silently corrupting the mount
    * surface. */
  def c173PackCompaction(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    val root = handoffStores(spark, dir, nBatches)
    EventsStream.compactStoreSelective(spark, s"$root/schedule", minFiles = 2)
    EventsStream.compactStoreSelective(spark, s"$root/packed", minFiles = 2)
    val packed = spark.read.parquet(s"$root/packed")
      .drop(EventsStream.KeyBucketCol)
    graft.operators.Sampling.seqManifestOver(packed,
        graft.operators.Sampling.DefaultTokenBudget)
      .write.mode("overwrite").parquet(s"$root/packed_manifest")
    val nSeqs = spark.read.parquet(s"$root/packed_manifest")
      .groupBy("shard").agg(count(lit(1)).as("n_seqs"))
    packed.groupBy("shard")
      .agg(
        countDistinct(col("batch_id")).as("n_batches"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"),
        Keys.idChecksum(col("doc_id"))
          .as("doc_checksum"))
      .join(nSeqs, Seq("shard"))
      .select("shard", "n_batches", "n_docs", "n_seqs", "sum_tok", "doc_checksum")
      .orderBy("shard")
  }

  /** One micro-batch of the REGISTER DOOR: the batch's (source, reg,
    * rank) HLL register table lands in an APPEND-ONLY register LOG
    * keyed by (source, reg, batch) — keep-first merge is exactly
    * right because a replayed batch recomputes the identical row
    * (registers/ranks are md5-derived), and the MAX-MERGE that makes
    * registers a sketch (c155's property) moves to the READER: the
    * served table is max(rank) over the log. No row is ever updated
    * in place, so the store stays append-only under concurrent
    * readers, and per-batch cost is the batch's shingle pass plus a
    * ≤ sources×256-row merge. */
  private[graft] def processRegisterBatch(batch: DataFrame, store: String,
      batchId: Long): Unit = {
    val regs = TextAnalysis.hllRegisters(
        TextAnalysis.sourceShingleItems(batch), Seq("source"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("rk", concat_ws(":", col("source"), col("reg"), col("batch_id")))
    EventsStream.upsertSink(regs, store, "rk")
  }

  private[graft] def registerDoorStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    Door.replay(spark, s"regdoor_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processRegisterBatch(b, root + "/registers", i)
    }
  }

  /** c167: the LIVE REGISTER STORE — the sketch artifact the novelty
    * quotas (c160) and the drift gate (c166) consume, maintained
    * incrementally by the door: each poll appends its batch's
    * register table to the log, and the served table is the max-merge
    * over the log — equal BY c155's MERGE PROPERTY to the one-pass
    * registers over the whole arrival history, which is exactly what
    * the oracle replays (c154's chain over the door population). Per
    * source: batches contributing, occupied registers, the exact-
    * integer register sum (hash-checkable sketch state), and the
    * estimates off the shared estimator. At 100 TB this is the whole
    * point of the sketch tier: the register artifact stays current
    * poll-by-poll at sources×256-row cost, and no consumer ever
    * re-reads the corpus to refresh it. */
  def c167RegisterDoor(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    val log = spark.read
      .parquet(s"${registerDoorStores(spark, dir, nBatches)}/registers")
      .drop(EventsStream.KeyBucketCol)
    val merged = log.groupBy("source", "reg").agg(max(col("m")).as("m"))
    val nb = log.groupBy("source")
      .agg(countDistinct(col("batch_id")).as("n_batches"))
    TextAnalysis.hllEstimate(merged, Seq("source"))
      .join(nb, Seq("source"))
      .select(col("source"), col("n_batches"), col("n_used"),
        col("sum_scaled"), col("raw_est"), col("lc_est"), col("est"))
      .orderBy("source")
  }

  /** Novelty quotas derived from the c167 REGISTER LOG instead of the
    * at-rest c156 chain — the quota plan a deployment actually
    * computes: last poll's novelty per source = est(whole log) −
    * est(log before the latest poll), both max-merges over stored
    * registers (never a corpus read), then c112's exact quantization.
    * A source with no pre-poll registers prices conservatively to 0
    * (c156/c160's stance: no base table → door closed until the next
    * vintage); a zero-novelty source likewise. */
  private[graft] def logNoveltyQuotas(spark: SparkSession, dir: String,
      nBatches: Int, budget: Long = BudgetTokens): Map[String, Long] =
    SessionMemo(spark, s"quota:lognovelty_${dir}_${nBatches}_$budget") {
      logNoveltyQuotasFrom(
        spark.read
          .parquet(s"${registerDoorStores(spark, dir, nBatches)}/registers")
          .drop(EventsStream.KeyBucketCol),
        nBatches, budget)
    }

  /** The quota arithmetic off an explicit register log — split out so
    * the spec can plant genuine novelty (the driver corpus's tiny
    * vocabulary makes consecutive poll slices near-identical in
    * shingle space, so the keyed query's doors all close — correct,
    * and the open-door path needs a plant, c161's discipline). */
  private[graft] def logNoveltyQuotasFrom(regLog: DataFrame, nBatches: Int,
      budget: Long): Map[String, Long] = {
    val mCur = regLog.groupBy("source", "reg").agg(max(col("m")).as("m"))
    val mBase = regLog.filter(col("batch_id") < nBatches - 1)
      .groupBy("source", "reg").agg(max(col("m")).as("m"))
    val eCur = TextAnalysis.hllEstimate(mCur, Seq("source"))
      .select(col("source"), col("est").as("est_union"))
    val eBase = TextAnalysis.hllEstimate(mBase, Seq("source"))
      .select(col("source"), col("est").as("est_base"))
    val nov = eCur.join(eBase, Seq("source"), "left")
      .select(col("source"),
        greatest(coalesce(round(col("est_union") - col("est_base"), 4), lit(0.0)),
          lit(0.0)).as("w"))
    val tot = nov.agg(round(sum(sqrt(col("w"))), 6).as("z"))
    nov.crossJoin(broadcast(tot))
      .select(col("source"),
        when(col("z") > 0.0,
          floor(lit(1000.0) * sqrt(col("w")) / col("z")).cast("long"))
          .otherwise(0L).as("mille"))
      .collect().map(r => r.getString(0) -> budget * r.getLong(1) / 1000L).toMap
  }

  private def logNoveltyStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    val merges = TextAnalysis.storedMerges(spark, dir)
    val quotas = logNoveltyQuotas(spark, dir, nBatches)
    Door.replay(spark, s"lnquota_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processQuotaBatch(b, merges, quotas, s"$root/decisions", s"$root/ledger", i)
    }
  }

  /** c169: the SELF-CONTAINED acquisition loop — c160's novelty door
    * with the quota plan derived from the door's OWN register log
    * (c167) instead of an at-rest corpus chain: the registers the
    * door maintained last vintage price what this vintage's arrivals
    * are worth. End to end, no stage of the loop reads the corpus to
    * PLAN — the log max-merges (stored longs) give the novelty
    * estimates, c112's quantization gives the quotas, and c128's
    * cutoff machinery meters the arrivals. Keyed result = the
    * decision store; the oracle replays registers → estimates →
    * quota arithmetic → per-source prefix sums from the raw arrival
    * history. */
  def c169LogNoveltyDoor(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    spark.read.parquet(s"${logNoveltyStores(spark, dir, nBatches)}/decisions")
      .drop(EventsStream.KeyBucketCol)
      .select("doc_id", "source", "stage", "n_tok")
      .orderBy("doc_id")

  /** c170: VINTAGE-CLOSE LOG COMPACTION, audited — the maintenance
    * step the register log's append-only discipline defers: at
    * vintage close, the max-merged snapshot is written BESIDE the log
    * (a sibling `registers_compacted` store, rewritten idempotently);
    * the deployment's quiesced-writer truncation step then swaps the
    * snapshot in for the per-batch rows — deferred here so the keyed
    * query stays idempotent (a truncating first run would change what
    * a second run's audit sees, and c167/c169 keep reading the log
    * within a vintage). The query both BUILDS the snapshot and audits
    * it: per source, the batches and rows the log accumulated
    * (rows_before — what the swap would reclaim), the occupied
    * registers after (n_used — the snapshot's whole size), and the
    * served estimates READ BACK FROM THE COMPACTED STORE, which the
    * oracle re-derives from the raw corpus — so a compaction that
    * lost a register hash-fails the round instead of silently
    * shrinking every later novelty estimate. The snapshot is the
    * log's bound: the log grows ∝ polls, the snapshot is ≤
    * sources×256 rows forever. */
  def c170LogCompaction(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    val root = registerDoorStores(spark, dir, nBatches)
    val regLog = spark.read.parquet(s"$root/registers")
      .drop(EventsStream.KeyBucketCol)
    val snapPath = s"$root/registers_compacted"
    regLog.groupBy("source", "reg").agg(max(col("m")).as("m"))
      .write.mode("overwrite").parquet(snapPath)
    val snap = spark.read.parquet(snapPath)
    val before = regLog.groupBy("source").agg(
      countDistinct(col("batch_id")).as("n_batches"),
      count(lit(1)).as("rows_before"))
    TextAnalysis.hllEstimate(snap, Seq("source"))
      .join(before, Seq("source"))
      .select(col("source"), col("n_batches"), col("rows_before"),
        col("n_used"), col("sum_scaled"), col("raw_est"), col("lc_est"),
        col("est"))
      .orderBy("source")
  }

  /** c178: the TRUNCATED-LOG READ PATH — the serve c170's snapshot
    * exists FOR: after a vintage-close compaction truncates the
    * per-batch rows behind the max-merged snapshot, every later read
    * is snapshot ∪ post-snapshot tail — and this key proves that read
    * serves IDENTICAL estimates. The snapshot here is the log BEFORE
    * the latest poll (the last maintenance window), written
    * idempotently beside the log (`registers_compacted_pre`); the
    * tail is the latest poll's register rows; the served table
    * max-merges the two — equal by the merge property's
    * ASSOCIATIVITY (max(max(A), B) = max(A ∪ B)) to c167's full-log
    * serve, which is what the oracle independently re-derives from
    * the raw arrival history. Per source the row also carries the
    * artifact sizes the truncation trades between: snapshot rows
    * (≤ 256 forever) vs the tail the next compaction will fold in.
    * At 100 TB this is the bound that keeps the register store
    * constant-size across unbounded polls: the log never needs to be
    * replayed past the last maintenance window. */
  def c178SnapshotServe(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    val root = registerDoorStores(spark, dir, nBatches)
    val regLog = spark.read.parquet(s"$root/registers")
      .drop(EventsStream.KeyBucketCol)
    val snapPath = s"$root/registers_compacted_pre"
    regLog.filter(col("batch_id") < nBatches - 1)
      .groupBy("source", "reg").agg(max(col("m")).as("m"))
      .write.mode("overwrite").parquet(snapPath)
    val snap = spark.read.parquet(snapPath)
    val tail = regLog.filter(col("batch_id") === nBatches - 1)
      .select("source", "reg", "m")
    val served = snap.unionByName(tail)
      .groupBy("source", "reg").agg(max(col("m")).as("m"))
    val sizes = snap.groupBy("source").agg(count(lit(1)).as("n_snapshot_rows"))
      .join(tail.groupBy("source").agg(count(lit(1)).as("n_tail_rows")),
        Seq("source"), "full")
      .select(col("source"),
        coalesce(col("n_snapshot_rows"), lit(0L)).as("n_snapshot_rows"),
        coalesce(col("n_tail_rows"), lit(0L)).as("n_tail_rows"))
    TextAnalysis.hllEstimate(served, Seq("source"))
      .join(sizes, Seq("source"))
      .select(col("source"), col("n_snapshot_rows"), col("n_tail_rows"),
        col("n_used"), col("sum_scaled"), col("raw_est"), col("lc_est"),
        col("est"))
      .orderBy("source")
  }

  /** d12's batch step — [[processRegisterBatch]] at MEDIA-CHUNK
    * grain: the batch's payloads chunk (d2's kernel), the chunk
    * checksums land as (media_type, reg, rank) register rows in the
    * same append-only log discipline. One HLL contract for text and
    * media, live. */
  private[graft] def processChunkRegisterBatch(batch: DataFrame, store: String,
      batchId: Long): Unit = {
    val regs = TextAnalysis.hllRegisters(
        graft.operators.Multimodal.chunkShingleItems(batch), Seq("media_type"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("rk", concat_ws(":", col("media_type"), col("reg"), col("batch_id")))
    EventsStream.upsertSink(regs, store, "rk")
  }

  private[graft] def chunkRegisterStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    Door.replay(spark, s"cregdoor_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processChunkRegisterBatch(b, root + "/registers", i)
    }
  }

  /** d12: the LIVE CHUNK-REGISTER STORE — d11's capacity counter
    * maintained at the door: every poll's media payloads chunk once
    * (at ingest, when the bytes are already in hand) and only the
    * ≤ types×256-row register table lands in the log; the chunk-store
    * capacity read (distinct chunks per media type) max-merges the
    * log, equal by c155's property to d11's one-pass registers over
    * the door population. At 100 TB of media this is the difference
    * between re-hashing the corpus per capacity check and reading
    * 3×256 longs. */
  def d12ChunkRegisterDoor(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    val log = spark.read
      .parquet(s"${chunkRegisterStores(spark, dir, nBatches)}/registers")
      .drop(EventsStream.KeyBucketCol)
    val merged = log.groupBy("media_type", "reg").agg(max(col("m")).as("m"))
    val nb = log.groupBy("media_type")
      .agg(countDistinct(col("batch_id")).as("n_batches"))
    TextAnalysis.hllEstimate(merged, Seq("media_type"))
      .join(nb, Seq("media_type"))
      .select(col("media_type"), col("n_batches"), col("n_used"),
        col("sum_scaled"), col("raw_est"), col("lc_est"), col("est"))
      .orderBy("media_type")
  }

  /** c168: DRIFT OFF THE LIVE LOG — c166's PSI discipline applied to
    * the c167 register store itself: base = the log's registers
    * BEFORE the latest poll (batch_id < n−1, max-merged), current =
    * the whole log. Per source: registers the last poll touched, max
    * rank gain, PSI of the rank histogram, widest proportion gap —
    * "did the latest crawl shift this source's content distribution",
    * answered from ≤ sources×512 stored longs with no corpus read
    * and no re-sketching: the door already paid for every register
    * row (c167), and the diff is pure report arithmetic. Signed
    * columns through Rz from birth (c166's contract). */
  def c168DoorDrift(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val m = TextAnalysis.HllRegisters
    val regLog = spark.read
      .parquet(s"${registerDoorStores(spark, dir, nBatches)}/registers")
      .drop(EventsStream.KeyBucketCol)
    val mBase = regLog.filter(col("batch_id") < nBatches - 1)
      .groupBy("source", "reg").agg(max(col("m")).as("m_base"))
    val mCur = regLog.groupBy("source", "reg").agg(max(col("m")).as("m_cur"))
    val sources = regLog.select(col("source")).distinct()
    val regs = Materialize.frame(sources
      .crossJoin((0L until m).toDF("reg"))
      .join(mBase, Seq("source", "reg"), "left")
      .join(mCur, Seq("source", "reg"), "left")
      .select(col("source"), col("reg"),
        coalesce(col("m_base"), lit(0L)).as("m_base"),
        coalesce(col("m_cur"), lit(0L)).as("m_cur")))
    val changed = regs.groupBy("source").agg(
      sum(when(col("m_cur") =!= col("m_base"), 1L).otherwise(0L))
        .as("n_regs_changed"),
      max(col("m_cur") - col("m_base")).as("max_rank_gain"))
    def hist(mcol: String, c: String) = regs
      .groupBy(col("source"), col(mcol).as("rk"))
      .agg(count(lit(1)).as(c))
    val p = sources.crossJoin((0L to 53L).toDF("rk"))
      .join(hist("m_base", "cb"), Seq("source", "rk"), "left")
      .join(hist("m_cur", "cc"), Seq("source", "rk"), "left")
      .withColumn("p_base", round(
        coalesce(col("cb"), lit(0L)).cast("double") / lit(m.toDouble), 4))
      .withColumn("p_cur", round(
        coalesce(col("cc"), lit(0L)).cast("double") / lit(m.toDouble), 4))
    val wG = Window.partitionBy(col("source"))
      .orderBy(abs(col("p_cur") - col("p_base")).desc, col("rk"))
    changed.join(
      p.withColumn("gr", row_number().over(wG))
        .groupBy("source").agg(
          round(sum((col("p_cur") - col("p_base")) *
            log((col("p_cur") + lit(TextAnalysis.DriftEps))
              / (col("p_base") + lit(TextAnalysis.DriftEps)))), 4).as("psi"),
          max(when(col("gr") === 1, col("rk"))).as("max_gap_rank"),
          max(when(col("gr") === 1, round(col("p_cur") - col("p_base"), 4)))
            .as("max_gap")),
      Seq("source"))
      .select(col("source"), col("n_regs_changed"), col("max_rank_gain"),
        col("psi"), col("max_gap_rank"), col("max_gap"))
      .orderBy("source")
  }

  /** c175's batch step — [[processRegisterBatch]]'s discipline for the
    * ADDITIVE sketch: the batch's (source, bin) length-histogram
    * counts (c142's fixed-range geometry) land in an append-only
    * HISTOGRAM LOG keyed by (source, bin, batch). Keep-first merge is
    * exact for the same reason the register log's is — a replayed
    * batch recomputes the identical count row off its own immutable
    * slice — and because bin counts MERGE BY + (where HLL registers
    * merge by max), the reader's serve is a SUM over the log. Per
    * poll only the ≤ sources×[[TextAnalysis.HqBins]]-row count table
    * lands; the corpus text is read once, at the door. */
  private[graft] def processHistBatch(batch: DataFrame, store: String,
      batchId: Long): Unit = {
    val bins = batch.select(col("source"),
        expr(s"least(length(text) div ${TextAnalysis.HqBinWidth}, ${TextAnalysis.HqBins - 1}L)")
          .as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("hk", concat_ws(":", col("source"), col("bin"), col("batch_id")))
    EventsStream.upsertSink(bins, store, "hk")
  }

  private[graft] def histDoorStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    Door.replay(spark, s"histdoor_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processHistBatch(b, root + "/bins", i)
    }
  }

  /** c175: the LIVE HISTOGRAM STORE — the sketch-tier door pattern
    * (c167) applied to the ADDITIVE member: each poll appends its
    * batch's (source, bin) length-histogram counts to the log, and
    * the served distribution is the SUM over the log — equal by
    * additivity to the one-pass bins over the whole arrival history
    * (each doc lands in exactly one batch), which is exactly what the
    * oracle replays (c142's sketch half over the door population).
    * Per source: polls contributing, occupied bins, doc mass, and the
    * p50/p90/p99 estimates read off the summed log via c142's
    * cumulative walk. At 100 TB the length/quality distribution that
    * sizes packing budgets and drift gates stays current poll-by-poll
    * at sources×256-row cost — no consumer re-reads the corpus to
    * refresh a histogram. */
  def c175HistDoor(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val log = spark.read
      .parquet(s"${histDoorStores(spark, dir, nBatches)}/bins")
      .drop(EventsStream.KeyBucketCol)
    val summed = log.groupBy("source", "bin").agg(sum(col("c")).as("c"))
    val nb = log.groupBy("source").agg(
      countDistinct(col("batch_id")).as("n_batches"),
      countDistinct(col("bin")).as("n_bins"))
    val nS = summed.groupBy("source").agg(sum(col("c")).as("n_docs"))
    val ranks = nS.crossJoin(TextAnalysis.HqPcts.toDF("p"))
      .withColumn("r", expr("(n_docs * p + 99) div 100"))
    val wB = Window.partitionBy("source").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val est = summed.withColumn("cum", sum(col("c")).over(wB))
      .join(ranks, Seq("source"))
      .filter(col("cum") >= col("r"))
      .groupBy("source", "p")
      .agg((min(col("bin")) * TextAnalysis.HqBinWidth).as("est"))
    val pcols = TextAnalysis.HqPcts.map(p =>
      max(when(col("p") === p, col("est"))).as(s"p${p}_est"))
    nb.join(nS, Seq("source"))
      .join(est.groupBy("source").agg(pcols.head, pcols.tail: _*), Seq("source"))
      .select(col("source"), col("n_batches"), col("n_bins"), col("n_docs"),
        col("p50_est"), col("p90_est"), col("p99_est"))
      .orderBy("source")
  }

  /** c176: DRIFT OFF THE LIVE HISTOGRAM LOG — c150's publish-gate
    * numbers (PSI over the bin grid, widest proportion gap, quantile
    * shifts) with base = the log summed BEFORE the latest poll and
    * current = the whole log: "did the latest crawl shift this
    * source's length distribution, and at which quantile", answered
    * from ≤ sources×256 stored counts — no corpus read, no
    * re-binning (the door already paid for every count row, c175).
    * The arithmetic is [[TextAnalysis.histDriftOver]] — the SAME
    * spelling c150 runs over corpus-derived bins, so the gate cannot
    * drift between its at-rest and artifact-read deployments. Signed
    * columns (psi, max_gap) Rz'd in the oracle from birth. */
  def c176DoorHistDrift(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame =
    doorHistDriftFrom(
      spark.read
        .parquet(s"${histDoorStores(spark, dir, nBatches)}/bins")
        .drop(EventsStream.KeyBucketCol),
      nBatches)

  /** The drift read off an explicit histogram log — split out so the
    * spec can construct a log with a source ABSENT from the latest
    * poll (the exactly-zero-drift contract the driver corpus's even
    * batch split never produces). */
  private[graft] def doorHistDriftFrom(log: DataFrame, nBatches: Int): DataFrame = {
    val bBase = log.filter(col("batch_id") < nBatches - 1)
      .groupBy("source", "bin").agg(sum(col("c")).as("c"))
    val bCur = log.groupBy("source", "bin").agg(sum(col("c")).as("c"))
    val nS = bCur.groupBy("source").agg(sum(col("c")).as("n_cur"))
      .join(bBase.groupBy("source").agg(sum(col("c")).as("n_base")),
        Seq("source"), "left")
      .select(col("source"), coalesce(col("n_base"), lit(0L)).as("n_base"),
        col("n_cur"))
    TextAnalysis.histDriftOver(bBase, bCur, nS)
  }

  /** c177 geometry — the per-source sample size the door maintains.
    * Oracle-interpolated. */
  val DoorSampleK = 8

  /** c177's batch step — the THIRD merge discipline of the sketch-door
    * family (HLL merges by max — c167; histograms by sum — c175; the
    * weighted sample by TOP-K UNION): each arriving doc draws its
    * Gumbel priority (c108's exact spelling — quality-weighted
    * sampling without replacement, Efraimidis–Spirakis via the Gumbel
    * trick, md5-deterministic so replays and both engines agree), and
    * only the batch's per-source top-k rows land in the log. Top-k is
    * a mergeable summary: topK(A ∪ B) = topK(topK(A) ∪ topK(B)) —
    * any doc in the history's top-k ranks ≤ k within its own batch
    * too, so the per-poll cut loses nothing (spec-pinned). Per poll
    * ≤ sources×k rows land; the corpus is read once, at the door. */
  private[graft] def processSampleBatch(batch: DataFrame, store: String,
      batchId: Long, k: Int = DoorSampleK): Unit = {
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(concat(lit("gumbel:"), col("doc_id").cast("string"))), 1, 7),
      16, 10).cast("double") + 1.0) / lit(TextAnalysis.GumbelDenom)
    val key = round(log(TextAnalysis.qualityOf(col("text")) + lit(TextAnalysis.GumbelEps))
      - log(-log(u)), 4)
    val w = Window.partitionBy("source")
      .orderBy(col("gumbel_key").desc, col("doc_id"))
    val top = batch.select(col("doc_id"), col("source"),
        TextAnalysis.qualityOf(col("text")).as("quality"), key.as("gumbel_key"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .withColumn("batch_id", lit(batchId))
      .withColumn("sk", concat_ws(":", col("source"), col("doc_id")))
    EventsStream.upsertSink(top, store, "sk")
  }

  private[graft] def sampleDoorStores(spark: SparkSession, dir: String,
      nBatches: Int): String = {
    val pop = Door.population(spark, dir)
    Door.replay(spark, s"sampledoor_${dir}_$nBatches", pop, nBatches) { (b, root, i) =>
      processSampleBatch(b, root + "/sample", i)
    }
  }

  /** c177: the LIVE WEIGHTED SAMPLE — a per-source, quality-weighted
    * k-document sample maintained incrementally by the door: each
    * poll appends its batch's per-source Gumbel top-k, and serving
    * takes the top-k over the log — equal BY THE TOP-K MERGE PROPERTY
    * to the one-pass draw over the whole arrival history, which is
    * exactly what the oracle replays (c108's chain, per-source). The
    * training-data read: a standing spot-check/eval set per source
    * that follows the corpus poll-by-poll at sources×k-row cost — no
    * consumer re-scans a source to draw inspection samples, and the
    * weighting means the samples over-represent exactly the docs the
    * curation tiers are most likely to keep. */
  def c177SampleDoor(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val log = spark.read
      .parquet(s"${sampleDoorStores(spark, dir, nBatches)}/sample")
      .drop(EventsStream.KeyBucketCol)
    val w = Window.partitionBy("source")
      .orderBy(col("gumbel_key").desc, col("doc_id"))
    log.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= DoorSampleK)
      .select(col("source"), col("rank"), col("doc_id"), col("quality"),
        col("gumbel_key"))
      .orderBy("source", "rank")
  }

  /** c153: the DOOR LEDGER report — the composed gate's cross-batch
    * state made a keyed, oracle-audited table for the first time (the
    * decisions store has been audited since c143; the LEDGER — the
    * only state a restart resumes from — was trusted): per poll, the
    * arrival/stage counts from the decision store joined against the
    * offered/survivor masses from the ledger store. The oracle
    * replays BOTH sides from the arrival history, so a ledger row
    * that drifted from its batch's decisions (the failure mode that
    * silently re-prices every later batch) hash-fails the round
    * instead of surfacing as a budget overrun in production. Also
    * the door's observability surface: offered vs survivor vs kept
    * mass per poll is the backpressure curve a collector reads.
    *
    * Shape: two store scans (|arrivals| and |batches|·|sources|
    * rows), two batch-grain aggregates, one report-sized join. */
  def c153DoorLedger(spark: SparkSession, dir: String,
      nBatches: Int = FunnelStream.AuditBatches): DataFrame = {
    val root = composedStores(spark, dir, nBatches)
    val dec = spark.read.parquet(s"$root/decisions")
      .drop(EventsStream.KeyBucketCol)
      .withColumn("batch_id", pmod(col("doc_id"), lit(nBatches.toLong)))
      .groupBy("batch_id").agg(
        count(lit(1)).as("n_arrivals"),
        sum(when(col("stage") === "keep", 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("stage") === "quota_full", 1L).otherwise(0L)).as("n_quota_full"),
        sum(when(col("stage") === "budget_full", 1L).otherwise(0L)).as("n_budget_full"),
        sum(when(col("stage") === "keep", col("n_tok")).otherwise(0L)).as("kept_tok"))
    val led = spark.read.parquet(s"$root/ledger")
      .drop(EventsStream.KeyBucketCol)
      .groupBy("batch_id").agg(
        sum(col("offered_tok")).as("offered_tok"),
        sum(col("survivor_tok")).as("survivor_tok"))
    dec.join(led, Seq("batch_id"))
      .select(col("batch_id"), col("n_arrivals"), col("offered_tok"),
        col("survivor_tok"), col("kept_tok"), col("n_keep"),
        col("n_quota_full"), col("n_budget_full"))
      .orderBy("batch_id")
  }
}
