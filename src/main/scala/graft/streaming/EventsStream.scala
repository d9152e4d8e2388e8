package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming forms of the ingest pipeline (SURVEY §2 tier
  * E). The reference polls the Spotify API on a cron
  * (flows/pull_recent_tracks.py:266-275) and upserts into the source
  * table; Spark-native, that ingest is a stream: readStream →
  * watermark → windowed agg / keyed dedup → writeStream. These
  * transforms are written against plain DataFrames so the SAME code
  * runs in batch (oracle-checked via e1/e2 queries) and streaming
  * (spec-driven through MemoryStream/readStream).
  *
  * Watermarks bound state: hourly aggregation state is dropped 2h
  * after event time passes; dedup keys likewise — the properties that
  * keep a 100 TB/day stream's state finite. (Model: "Structured
  * Streaming: A Declarative API for Real-Time Applications in Apache
  * Spark", SIGMOD 2018 — prefix-integrity + watermark semantics.)
  */
object EventsStream {

  /** e1: tumbling hourly aggregate per event type. On a streaming
    * input the watermark finalizes each hour window 2h after its end;
    * in batch it's a plain group-by (date_trunc == tumbling window). */
  def hourlyAgg(events: DataFrame, streaming: Boolean): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", "2 hours") else events
    src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_us"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** e2: watermarked stream dedup on the natural play key. Batch twin
    * keeps min(event_id) per key — the deterministic equivalent of
    * streaming "first arrival wins". */
  def dedup(events: DataFrame, streaming: Boolean): DataFrame =
    if (streaming)
      events.withWatermark("ts", "2 hours")
        .dropDuplicates("user_id", "event_type", "ts")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id").as("keep_event_id"))
    else
      events
        .groupBy(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
        .agg(min(col("event_id")).as("keep_event_id"))

  /** e6: NATIVE session-window aggregation — Spark's `session_window`
    * (dynamic-gap tumbling: a session extends while the next event
    * starts strictly inside the previous event's ts+gap; an event AT
    * the boundary opens a new session — note the deliberate boundary
    * difference from b9's stateful sessionizer, which opens strictly
    * PAST the gap). One spelling runs batch (the oracle-checked keyed
    * query) and streaming (watermarked, sessions finalized once the
    * watermark passes their end — state is O(open sessions), the
    * property that runs forever). The batch twin replays in SQL as
    * gaps-and-islands: boundary on diff ≥ gap, cumulative-sum session
    * ids, end = max ts + gap. */
  def e6SessionAgg(events: DataFrame, streaming: Boolean,
      gap: String = "30 minutes"): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", "2 hours") else events
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("sum_value"))
  }

  /** Event/state/output records for the stateful sessionizer. */
  case class SessEvent(user_id: Long, ts_us: Long, event_id: Long)
  case class SessState(sessionSeq: Long, lastTsUs: Long)
  case class SessAssign(user_id: Long, event_id: Long, ts_us: Long, session_seq: Long)

  /** Streaming sessionization with custom state — the
    * flatMapGroupsWithState twin of the batch b9 operator
    * (operators/Olap.b9Sessionize). State per user is (current
    * session counter, last event time); a >30-min gap opens a new
    * session. Works on a streaming OR batch Dataset; micro-batch
    * input is sorted within the group before folding so replays are
    * deterministic. State is O(users), not O(events) — the property
    * that keeps this runnable forever. */
  def sessionizeStateful(events: DataFrame, gapUs: Long = 30L * 60 * 1000000)
      : org.apache.spark.sql.Dataset[SessAssign] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark0 = events.sparkSession
    import spark0.implicits._

    def fn(user: Long, evs: Iterator[SessEvent], state: GroupState[SessState]): Iterator[SessAssign] = {
      val sorted = evs.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
      var (seq, last) = state.getOption.map(s => (s.sessionSeq, s.lastTsUs)).getOrElse((0L, Long.MinValue))
      val out = sorted.map { e =>
        if (last == Long.MinValue || e.ts_us - last > gapUs) seq += 1
        last = e.ts_us
        SessAssign(user, e.event_id, e.ts_us, seq)
      }
      state.update(SessState(seq, last))
      out.iterator
    }

    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Event/state/output records for the streaming SCD2 tracker.
    * `sinceId` is the event_id that OPENED the episode — it pins the
    * open episode's position in a11's (ts, event_id) total order, so
    * the late-data guard can distinguish a genuinely out-of-order
    * arrival from an equal-timestamp tie that a11's order would
    * process as a forward change. */
  case class ScdEvent(user_id: Long, event_type: String, ts_us: Long, event_id: Long)
  case class ScdOpen(eventType: String, sinceUs: Long, sinceId: Long, version: Long,
      maxUs: Long, maxId: Long)
  case class ScdClosed(user_id: Long, version: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Long)

  /** Streaming SCD type-2 — the flatMapGroupsWithState twin of the
    * batch a11 snapshot (operators/Marts.a11Scd2Snapshot): per-key
    * state is the OPEN episode (current value, since-when, version);
    * a value change CLOSES it, emitting the finished
    * [valid_from, valid_to) row downstream (append mode). The open
    * episode is never emitted — it lives in state until its closing
    * change arrives, which is the only append-consistent contract; the
    * batch snapshot's open rows are exactly what a terminal state
    * flush would produce. State is O(keys), not O(events) — a type-2
    * history tracker that runs forever. Works on batch input too
    * (state starts empty per group); micro-batch input sorts within
    * the group, and cross-batch ordering rides event time arriving in
    * batch order.
    *
    * Late-data guard: an event is LATE iff it is behind the MAX
    * (ts, event_id) this key has already processed, in a11's total
    * order — strictly earlier event time, or an equal timestamp with
    * a lower event_id. State carries that high-water mark alongside
    * the open episode, so the guard covers EVERY out-of-order
    * arrival: an event behind the episode opening (whose history is
    * already emitted and cannot be rewritten), and equally an event
    * behind an already-processed same-type no-op (which a11's order
    * would have sorted BEFORE that no-op — applying it as a forward
    * change would silently diverge from the batch twin). Late events
    * are dropped — the semantics every append-mode stateful operator
    * gives data behind the watermark. Because the guard is the SAME
    * total order a11 sorts by (not a batch-boundary test), output for
    * in-order data is independent of where micro-batch boundaries
    * fall: an equal-timestamp tie with a HIGHER event_id is a real
    * forward change whether it arrives in the same batch or the next
    * one, and closes the episode exactly as a11 does — possibly
    * zero-width (valid_to == valid_from), the legal SCD2 row a11
    * emits when an attribute changes twice at one instant. A replay
    * of an already-processed event ((ts, id) equal to the high-water
    * mark, same type) is an idempotent no-op, not a drop.
    * StreamingSpec pins the drops (both classes), the counter, the
    * zero-width tie, and the never-inverted invariant. (The state
    * schema carries two extra longs per key — still O(keys); a
    * checkpoint written by the pre-guard schema is not resumable,
    * the usual stateful-schema-evolution caveat.)
    *
    * Dropping is policy; `lateDropCounter` makes it VISIBLE policy: a
    * caller-supplied accumulator is bumped once per dropped event, so
    * an operator watching the job sees data loss instead of inferring
    * it. (Task retries can overcount an accumulator — Spark's
    * standard caveat for observability metrics; the count is a
    * monitoring signal, not an exactly-once ledger.) */
  def scd2Stateful(events: DataFrame,
      lateDropCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : org.apache.spark.sql.Dataset[ScdClosed] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark0 = events.sparkSession
    import spark0.implicits._

    def fn(user: Long, evs: Iterator[ScdEvent], state: GroupState[ScdOpen]): Iterator[ScdClosed] = {
      val sorted = evs.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[ScdClosed]
      sorted.foreach { e =>
        cur match {
          case None =>
            cur = Some(ScdOpen(e.event_type, e.ts_us, e.event_id, 1L, e.ts_us, e.event_id))
          case Some(s) if e.ts_us < s.maxUs ||
              (e.ts_us == s.maxUs && e.event_id < s.maxId) =>
            // behind the key's processed high-water mark in the
            // (ts, event_id) order: a11 would have sorted it earlier —
            // applying it now would diverge silently. Drop, visibly.
            lateDropCounter.foreach(_.add(1L))
          case Some(s) if s.eventType != e.event_type =>
            out += ScdClosed(user, s.version, s.eventType, s.sinceUs, e.ts_us)
            cur = Some(ScdOpen(e.event_type, e.ts_us, e.event_id, s.version + 1,
              e.ts_us, e.event_id))
          case Some(s) =>
            // same-type no-op still advances the high-water mark — the
            // disorder guard above is relative to everything PROCESSED,
            // not just the episode opening
            cur = Some(s.copy(maxUs = e.ts_us, maxId = e.event_id))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }

    events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[ScdEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** e4: the WATERMARK'S LATE-DATA POLICY as a keyed decision table —
    * what e2's streaming dedup silently does, audited per event: with
    * arrival order = event_id (the poll's append order), the
    * watermark at each arrival is the max event time of all STRICTLY
    * EARLIER arrivals minus the delay (exactly Structured Streaming's
    * rule, where each micro-batch's watermark is the previous
    * batches' max — feeding one event per batch realizes this
    * spelling precisely, which the streaming spec exploits). Every
    * event gets `late` (behind the watermark — the row the streaming
    * engine drops before state), `dup` (an earlier surviving arrival
    * holds its key), or `keep`. The keep set IS e2's streaming
    * output under per-event batches; the late/dup split is the
    * observability a silent drop policy owes its operator (the
    * lateDropCounter stance, made a table).
    *
    * Scale shape: the running max over arrival order is the RANGE-
    * bucketed prefix pattern (withArrivalCum's, with max — the
    * bounded bucket frame is the only unpartitioned window); the
    * dedup rank is a keyed window. No corpus-grain global window. */
  def e4Batch(events: DataFrame, delayUs: Long = 2L * 3600 * 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base0 = events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val mm = base0.agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi")).head
    val (lo, hi) = if (mm.isNullAt(0)) (0L, 0L) else (mm.getLong(0), mm.getLong(1))
    val width = math.max(1L, (hi - lo) / 32L + 1L)
    val b = base0.withColumn("e_bkt", expr(s"(event_id - ${lo}L) div ${width}L"))
    val wOff = Window.orderBy(col("e_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy("e_bkt").agg(max(col("ts_us")).as("bkt_max"))
      .withColumn("base_max", max(col("bkt_max")).over(wOff))
      .select(col("e_bkt"), col("base_max"))
    val wIn = Window.partitionBy(col("e_bkt")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wKey = Window.partitionBy(col("user_id"), col("event_type"),
      col("ts_us"), col("is_late")).orderBy(col("event_id"))
    b.join(broadcast(offs), Seq("e_bkt"))
      .withColumn("in_max", max(col("ts_us")).over(wIn))
      .withColumn("prev_max",
        when(col("base_max").isNull, col("in_max"))
          .when(col("in_max").isNull, col("base_max"))
          .otherwise(greatest(col("base_max"), col("in_max"))))
      .withColumn("is_late",
        col("prev_max").isNotNull && col("ts_us") < col("prev_max") - lit(delayUs))
      .withColumn("rn", row_number().over(wKey))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"),
        when(col("is_late"), lit("late"))
          .when(col("rn") === 1, lit("keep")).otherwise(lit("dup")).as("status"))
      .orderBy("event_id")
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks from the preceding hour (attribution candidates).
    * Both sides carry watermarks and the join condition bounds the
    * event-time interval, so Spark can expire join state — the two
    * requirements that keep stream-stream join state finite. Works on
    * batch input too (watermarks skipped), which the spec uses as the
    * ground truth.
    *
    * `joinType` extends the same plan to the OUTER attribution read
    * (e5): `left_outer` emits every purchase, the unmatched ones with
    * null click columns — in streaming, only once the click-side
    * watermark passes the purchase's interval (state provably empty),
    * the Structured Streaming contract for outer interval joins. */
  def purchaseClickJoin(events: DataFrame, streaming: Boolean,
      joinType: String = "inner"): DataFrame = {
    def side(tpe: String, prefix: String) = {
      val s = events.filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
      if (streaming) s.withWatermark(s"${prefix}_ts", "2 hours") else s
    }
    side("purchase", "p").join(side("click", "c"),
      expr("p_user = c_user and c_ts >= p_ts - interval 1 hour and c_ts <= p_ts"),
      joinType)
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_ts_us"), unix_micros(col("c_ts")).as("c_ts_us"))
  }

  /** Store layout: hash buckets over the upsert key, as partition
    * directories — the pruning structure a keyed table format would
    * give us. 32 buckets for NEW stores; the count is FROZEN into
    * each store's `_graft_store_meta` sidecar at creation and read
    * back on every merge, because the bucket function is part of the
    * on-disk layout: hashing a key with a different modulus than the
    * store was written with would probe the wrong directory and
    * re-insert existing keys. Resizing therefore only affects stores
    * created after the config change; existing stores keep their
    * layout until compacted into a new one. */
  val StoreBuckets = 32
  private val MetaFile = "_graft_store_meta"

  /** The store's bucket hash — part of the frozen on-disk layout,
    * recorded in the meta sidecar next to the modulus.
    *
    * [[Murmur3Bucket]] (all NEW stores) is deliberately the SAME hash
    * Spark's HashPartitioning uses (Murmur3, seed 42): a
    * `repartition(nBuckets, key)` then places every row in the
    * partition whose id EQUALS its bucket, so the merge's dedup
    * aggregate, the anti-join, and the partitionBy write all ride ONE
    * exchange — the dedicated bucket repartition disappears.
    * [[Xx64Bucket]] is the legacy layout (v1 meta, no hash token);
    * stores carrying it keep xxhash64 forever (the hash is part of
    * the layout) and pay the extra exchange until compacted into a
    * new store. */
  private[graft] sealed trait BucketHash { def token: String }
  private[graft] case object Murmur3Bucket extends BucketHash { val token = "murmur3" }
  private[graft] case object Xx64Bucket extends BucketHash { val token = "" }

  private def withBucket(df: DataFrame, key: String, nBuckets: Int,
      h: BucketHash): DataFrame = h match {
    case Murmur3Bucket =>
      df.withColumn(KeyBucketCol, pmod(hash(col(key)), lit(nBuckets)).cast("int"))
    case Xx64Bucket =>
      df.withColumn(KeyBucketCol, pmod(xxhash64(col(key)), lit(nBuckets)).cast("int"))
  }

  private def fsOf(spark: org.apache.spark.sql.SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's frozen bucket layout: modulus + hash (None = store
    * not created yet, or a torn meta write — callers fall back to the
    * constants, which match pre-meta behavior). Meta grammar:
    * `"<n>"` = v1, xxhash64 (the token IS the version);
    * `"<n> murmur3"` = v2. An unknown hash token fails loudly — it is
    * either corruption or a newer layout this build cannot merge
    * into. */
  private def readStoreMeta(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String): Option[(Int, BucketHash)] = {
    val m = new org.apache.hadoop.fs.Path(storePath, MetaFile)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        val text = new String(buf.toByteArray, "UTF-8").trim
        // a PRESENT-but-unparseable meta is corruption, and guessing a
        // modulus/hash against a frozen layout silently duplicates
        // keys — fail loudly instead (meta writes are atomic, so this
        // never arises from a crash)
        def corrupt() = throw new java.io.IOException(
          s"$m holds unparseable store meta '$text'; repair it before merging")
        text.split("\\s+").toSeq match {
          case Seq(n) => Some((scala.util.Try(n.toInt).getOrElse(corrupt()), Xx64Bucket))
          case Seq(n, Murmur3Bucket.token) =>
            Some((scala.util.Try(n.toInt).getOrElse(corrupt()), Murmur3Bucket))
          case _ => corrupt()
        }
      } finally in.close()
    }
  }

  /** Idempotent, ATOMIC meta write (tmp + rename): a torn create must
    * never leave an existing-but-empty sidecar that poisons every
    * later merge. */
  private def writeStoreMeta(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String, n: Int, h: BucketHash): Unit = {
    val m = new org.apache.hadoop.fs.Path(storePath, MetaFile)
    if (!fs.exists(m)) {
      val tmp = new org.apache.hadoop.fs.Path(storePath, MetaFile + ".tmp")
      val out = fs.create(tmp, true)
      val body = if (h.token.isEmpty) s"$n\n" else s"$n ${h.token}\n"
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, m) && !fs.exists(m))
        throw new java.io.IOException(s"could not commit store meta $m")
    }
  }

  /** The store's bucket partition column — shared with PollingIngest
    * so the layout is defined exactly once. */
  private[graft] val KeyBucketCol = "__kb"

  /** True iff the store has COMMITTED data (a bucket partition dir),
    * not just a path: a first micro-batch that dies after mkdir leaves
    * `_temporary` behind, and a bare exists() check would then feed
    * an unreadable store to every later batch. Shared with
    * PollingIngest's cursor read. */
  private[graft] def hasCommittedData(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(storePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith(s"$KeyBucketCol="))
  }

  /** A store's rows without the bucket column, or an empty frame of
    * the DDL `schema` while the store holds no committed data — before
    * its first write, and after merges that were all EMPTY: an empty
    * micro-batch (every arrival filtered upstream) leaves meta and
    * `_SUCCESS` but no bucket partition, and a bare read of that
    * directory dies on schema inference. Every door's prior-state and
    * keeper-store read goes through here. */
  private[graft] def readStore(spark: org.apache.spark.sql.SparkSession, storePath: String,
      schema: String): DataFrame =
    if (hasCommittedData(spark, storePath))
      spark.read.parquet(storePath).drop(KeyBucketCol)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** Pruned store scan: schema pinned (no inference pass over the
    * store) and filtered to the micro-batch's key buckets — the filter
    * is on the partition column, so the scan lists/reads ONLY those
    * directories. Exposed for the spec that asserts the pruning. */
  private[graft] def storeScan(spark: org.apache.spark.sql.SparkSession, storePath: String,
      schema: org.apache.spark.sql.types.StructType, buckets: Seq[Int]): DataFrame =
    spark.read.schema(schema).parquet(storePath)
      .filter(col(KeyBucketCol).isin(buckets.map(Int.box): _*))

  /** foreachBatch upsert sink — the streaming twin of the reference's
    * load step (flows/dbt_build_and_load_turso.py: export marts to an
    * external store with conflict-free inserts). Each micro-batch is
    * merged into the parquet "store" keep-first on the key: existing
    * keys win, new keys append — `insert … on conflict do nothing`
    * semantics, idempotent under micro-batch replay (exactly the
    * at-least-once delivery contract foreachBatch gives you).
    *
    * Scale shape: the store is partitioned by key hash-bucket, and the
    * anti-join reads ONLY the buckets the micro-batch touches (a small
    * batch touches few) — never a full-store rescan. The touched-
    * bucket collect is bounded by StoreBuckets, not data size. */
  def upsertSink(batch: DataFrame, storePath: String, key: String): Unit =
    upsertSink(batch, storePath, key, autoCompactMinFiles = None)

  /** As [[upsertSink]], optionally compacting any TOUCHED bucket whose
    * data-file count crossed `autoCompactMinFiles` right after the
    * merge — the maintenance loop a long-running streaming writer
    * needs (every micro-batch adds a file per touched bucket; without
    * a trigger the read side degrades until someone remembers to run
    * compaction manually). Only the buckets this batch touched are
    * even listed, so the trigger's cost tracks batch size, not store
    * size. Same quiesced-writer caveat as [[compactStoreSelective]]:
    * one writer at a time owns the store.
    *
    * READER caveat the base sink does not have: plain upsertSink only
    * ever APPENDS files, so a concurrent reader's directory listing
    * stays valid. Enabling the trigger makes the sink swap bucket
    * directories in place on fragmented micro-batches — a reader that
    * listed files before a swap can hit FileNotFoundException on the
    * replaced originals. Gate concurrent reads through
    * [[withReaderRetry]] (or read between batches) when the trigger
    * is on; with it off, the store remains append-only under
    * readers. */
  def upsertSink(batch: DataFrame, storePath: String, key: String,
      autoCompactMinFiles: Option[Int]): Unit =
    upsertSink(batch, storePath, key, autoCompactMinFiles,
      createBuckets = StoreBuckets, bulkBatch = false)

  /** As [[upsertSink]], with the two knobs a BULK (backfill-shaped)
    * merge wants. `createBuckets` sizes the bucket modulus when this
    * call CREATES the store (the meta freezes it; an existing store's
    * layout always wins) — a deployment sizes buckets to target
    * per-bucket file size, and a small scratch store has no business
    * writing [[StoreBuckets]] near-empty directories per merge.
    * `bulkBatch = true` declares the batch touches most buckets (a
    * backfill or an overlapping re-poll of the whole corpus), so the
    * touched-bucket pruning machinery — a checkpoint job plus a
    * collect whose only value is to SHRINK the store scan — is pure
    * overhead: the merge instead anti-joins against the full store
    * scan in the same job as the write (one job per merge, no
    * checkpoint). Correctness is identical either way (the anti-join
    * drops existing keys regardless of how many buckets are read);
    * like [[graft.MartRunner.incrementalSink]]'s scope hook, the flag
    * is the caller's claim about the batch's SHAPE, and only cost
    * depends on it. */
  def upsertSink(batch: DataFrame, storePath: String, key: String,
      autoCompactMinFiles: Option[Int], createBuckets: Int,
      bulkBatch: Boolean): Unit = {
    val spark0 = batch.sparkSession
    val fs = fsOf(spark0, storePath)
    healInterruptedCompaction(fs, storePath)
    val committed = hasCommittedData(spark0, storePath)
    // the store's own frozen layout (modulus + hash) wins over the
    // code constants; a committed store with a torn/absent meta is a
    // pre-meta layout (xxhash64), a FRESH store starts on the
    // murmur3-aligned layout
    val (nBuckets, hashKind) = readStoreMeta(fs, storePath).getOrElse(
      if (committed) (StoreBuckets, Xx64Bucket) else (createBuckets, Murmur3Bucket))
    // Dedup spelling is layout-dependent. Murmur3 layout: ONE
    // exchange — repartition(nBuckets, key) places every row in the
    // partition whose id equals its bucket (same hash, same modulus),
    // the dropDuplicates aggregate's ClusteredDistribution(key) is
    // already satisfied (no second exchange), and the partitionBy
    // write then emits ONE file per touched bucket with no dedicated
    // bucket repartition. Legacy xxhash64 layout: bucket ≠ partition
    // id, so it keeps the dedup exchange + explicit bucket
    // repartition (two exchanges) until compacted into a new store.
    def dedupedBucketed(df: DataFrame): DataFrame = hashKind match {
      case Murmur3Bucket =>
        withBucket(df.repartition(nBuckets, col(key)).dropDuplicates(key),
          key, nBuckets, Murmur3Bucket)
      case Xx64Bucket =>
        withBucket(df.dropDuplicates(key), key, nBuckets, Xx64Bucket)
          .repartition(nBuckets, col(KeyBucketCol))
    }
    val (merged, touchedBuckets) =
      if (committed && bulkBatch) {
        // bulk path: the batch touches ~every bucket, so pruning has
        // nothing to prune — anti-join the full store scan. The
        // emptiness probe below made this a TWO-consumer frame (probe
        // + write), so it is lazily checkpointed like the pruned
        // path: the probe is the first action and evaluates dedup +
        // anti-join ONCE into blocks; a non-empty merge's write then
        // reads the blocks instead of re-running the join. The
        // checkpoint preserves partitioning, so the murmur3 path's
        // single exchange survives into the write.
        val incoming = dedupedBucketed(batch)
        val existing = spark0.read.schema(incoming.schema).parquet(storePath)
        (incoming.join(existing.select(key), Seq(key), "left_anti")
          .localCheckpoint(false), None)
      } else if (committed) {
        // materialize the deduped batch ONCE: it feeds the touched-
        // bucket collect, the anti-join, and the write — without the
        // checkpoint each would re-run the dedup shuffle (and for
        // file-backed micro-batches, re-read the source). LAZY: the
        // touched-bucket collect is the first action anyway, so it
        // materializes the checkpoint in ITS job instead of paying a
        // separate eager-checkpoint job per merge. The checkpoint
        // preserves the partitioning, so the murmur3 path stays
        // exchange-free through the anti-join and write.
        val incoming = dedupedBucketed(batch).localCheckpoint(false)
        val touched = incoming.select(KeyBucketCol).distinct().collect().map(_.getInt(0)).toSeq
        val existing = storeScan(spark0, storePath, incoming.schema, touched)
        (incoming.join(existing.select(key), Seq(key), "left_anti"), Some(touched))
      } else {
        // refuse to mix layouts: anything in the directory that is
        // not store-shaped (bucket dirs, meta, hidden commit files)
        // is some OTHER dataset — flat parquet, a foreign
        // partitionBy(date) layout — and appending __kb= dirs into it
        // would entangle both
        val p = new org.apache.hadoop.fs.Path(storePath)
        if (fs.exists(p) && fs.listStatus(p).exists { f =>
              val n = f.getPath.getName
              !(n.startsWith(s"$KeyBucketCol=") || n.startsWith("_") || n.startsWith("."))
            })
          throw new java.io.IOException(
            s"upsertSink: $storePath holds a foreign layout; refusing to mix")
        (dedupedBucketed(batch), None)
      }
    // the layout meta commits BEFORE the first data commit: a crash
    // between the two leaves (meta, no data) — harmless, the next
    // merge reads the same layout — never (data, no meta), which a
    // later change of the code constants would misinterpret
    writeStoreMeta(fs, storePath, nBuckets, hashKind)
    // bulk replay fast path: re-offering already-ingested batches is
    // the COMMON at-least-once case for bulk merges, and an all-dropped
    // anti-join still pays a full write-commit job. The probe is the
    // bulk frame's FIRST action, so it materializes the lazy
    // checkpoint above — the one evaluation of dedup + anti-join per
    // merge — and skipping the commit leaves the store byte-identical;
    // a non-empty merge's write reads the probe's blocks. Only the
    // bulk path: the pruned path's checkpoint already makes its write
    // marginal, and probing there would add a job instead of saving
    // one.
    if (committed && bulkBatch && merged.isEmpty) return
    // append-mode write: existing bucket files stay, only new keys
    // land; each merge adds ONE file per touched bucket (bucket ==
    // partition for murmur3; explicit repartition for legacy), the
    // store's documented one-task-per-bucket layout contract (see
    // compactStore).
    merged.write.mode("append").partitionBy(KeyBucketCol).parquet(storePath)
    // maintenance rides the write: only the buckets this merge touched
    // are listed (first write = every bucket, which one fresh file
    // each can never trigger)
    autoCompactMinFiles.foreach(mf =>
      compactStoreSelective(spark0, storePath, mf, onlyBuckets = touchedBuckets))
  }

  /** Run a read ACTION over a store that a concurrent compacting
    * writer may be swapping: bucket swaps delete the files a reader
    * listed before the swap, so its tasks die with
    * FileNotFoundException even though the store is perfectly
    * consistent. This classifies that exact failure (a
    * FileNotFoundException anywhere in the cause chain), refreshes
    * Spark's cached listings/relations for the path, and re-runs the
    * body — which must REBUILD its frame from the path (e.g.
    * `spark.read.parquet(storePath)`), because a captured DataFrame
    * pins the stale file list. Any other failure rethrows
    * immediately. This is the reader half of the auto-compaction
    * contract ([[upsertSink]] with `autoCompactMinFiles`): the writer
    * swaps atomically per bucket, the reader retries across the swap. */
  def withReaderRetry[T](spark: org.apache.spark.sql.SparkSession,
      storePath: String, attempts: Int = 3)(body: => T): T = {
    require(attempts >= 1, "attempts must be positive")
    def staleListing(t: Throwable): Boolean = {
      var c = t
      while (c != null) {
        if (c.isInstanceOf[java.io.FileNotFoundException]) return true
        c = c.getCause
      }
      false
    }
    var last: Throwable = null
    for (_ <- 1 to attempts) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) if staleListing(e) =>
          last = e
          spark.catalog.refreshByPath(storePath)
      }
    }
    throw last
  }

  /** Stream-static enrichment: a streaming fact joined to a STATIC
    * dimension frame — the third join family Structured Streaming
    * supports (beside stream-stream and batch). The static side needs
    * no watermark and is re-planned per micro-batch (picking up
    * compaction of the dim); Spark broadcasts it when small, exactly
    * like batch. Works identically on batch input — the spec uses
    * that as ground truth. */
  def enrichWithTypeDim(events: DataFrame, typeDim: DataFrame): DataFrame =
    events.join(typeDim, Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"), col("type_rank"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** Store maintenance: every micro-batch appends a file per touched
    * bucket, so read cost grows with FILE COUNT even when data
    * doesn't. Compaction rewrites each bucket's rows into one file
    * (repartition on the bucket column → one task owns each bucket's
    * write) and swaps directories. A table format would do this
    * transactionally; as an explicit maintenance job the swap is a
    * rename — schedule it against a quiesced store (readers mid-swap
    * see the old or new listing, writers must pause). */
  /** Heal an interrupted compaction swap before touching the store.
    * The swap leaves exactly one of three states: (live, no aside) =
    * normal; (no live, aside) = crashed between the two renames →
    * restore the aside copy; (live, aside) = crashed after install,
    * before cleanup → the aside copy is superseded, drop it. Called
    * by BOTH the sink and compaction, so no crash window lets a later
    * merge mistake the store for empty and fork the key space. */
  private[graft] def healInterruptedCompaction(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(storePath)
    val aside = new org.apache.hadoop.fs.Path(storePath + "__precompact")
    val tmp = new org.apache.hadoop.fs.Path(storePath + "__compacting")
    if (fs.exists(aside)) {
      if (!fs.exists(path)) {
        if (!fs.rename(aside, path))
          throw new java.io.IOException(
            s"store recovery: could not restore $aside to $path")
      } else fs.delete(aside, true)
    }
    // a stale __compacting dir (crash after the tmp write, before the
    // swap) is NEVER the only copy — the live-or-aside store still
    // holds everything — so it is always safe to drop; left in place
    // it is a full store copy of dead weight. Writers are required to
    // pause during compaction, so this cannot race a live one.
    if (fs.exists(tmp)) fs.delete(tmp, true)
    healInterruptedBucketCompaction(fs, storePath)
  }

  /** Heal per-bucket compaction leftovers (compactStoreSelective's
    * crash windows). For each bucket aside: live bucket missing →
    * restore it; live present → the aside is superseded, drop it.
    * Bucket tmp dirs are never the only copy → always dropped. */
  private[graft] def healInterruptedBucketCompaction(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(storePath)
    if (!fs.exists(p)) return
    fs.listStatus(p).map(_.getPath).foreach { d =>
      val name = d.getName
      if (name.startsWith(BucketAsidePrefix)) {
        val live = new org.apache.hadoop.fs.Path(p,
          s"$KeyBucketCol=${name.stripPrefix(BucketAsidePrefix)}")
        if (!fs.exists(live)) {
          if (!fs.rename(d, live))
            throw new java.io.IOException(s"store recovery: could not restore bucket $d")
        } else fs.delete(d, true)
      } else if (name.startsWith(BucketTmpPrefix)) fs.delete(d, true)
    }
  }

  // underscore prefix hides these from Spark's file listing; NO '='
  // in the name (an underscore dir containing '=' is NOT filtered by
  // partition discovery and would be parsed as a partition value)
  private[graft] val BucketAsidePrefix = "_compact_aside_kb"
  private[graft] val BucketTmpPrefix = "_compact_tmp_kb"

  /** Selective maintenance: compact ONLY buckets whose data-file count
    * reached `minFiles`, leaving every other bucket's files untouched
    * (byte-identical — spec-asserted). At scale a handful of hot
    * buckets fragment while the cold tail doesn't; the whole-store
    * [[compactStore]] rewrites corpus-sized cold data for nothing,
    * this rewrites exactly the fragmented buckets. Each bucket swaps
    * independently (write tmp → live aside → tmp installed → aside
    * dropped, renames checked), and [[healInterruptedBucketCompaction]]
    * — invoked from every store touch — covers each crash window, so
    * a failure mid-list leaves earlier buckets compacted, later ones
    * as they were, and nothing lost. Returns the compacted bucket ids.
    * Like compactStore, run against a quiesced store (writers pause;
    * readers mid-swap see old or new files). */
  def compactStoreSelective(spark: org.apache.spark.sql.SparkSession, storePath: String,
      minFiles: Int = 4, onlyBuckets: Option[Seq[Int]] = None): Seq[Int] = {
    require(minFiles >= 2, "minFiles < 2 would rewrite already-compact buckets")
    val fs = fsOf(spark, storePath)
    healInterruptedCompaction(fs, storePath)
    val p = new org.apache.hadoop.fs.Path(storePath)
    if (!fs.exists(p)) return Seq.empty
    val isData = (n: String) => !n.startsWith("_") && !n.startsWith(".")
    val wanted = onlyBuckets.map(_.toSet)
    val fragmented = fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$KeyBucketCol="))
      .filter(s => wanted.forall(_.contains(
        s.getPath.getName.stripPrefix(s"$KeyBucketCol=").toInt)))
      .map(_.getPath)
      .filter(d => fs.listStatus(d).count(f => f.isFile && isData(f.getPath.getName)) >= minFiles)
    fragmented.map { dir =>
      val n = dir.getName.stripPrefix(s"$KeyBucketCol=").toInt
      val tmp = new org.apache.hadoop.fs.Path(p, s"$BucketTmpPrefix$n")
      val aside = new org.apache.hadoop.fs.Path(p, s"$BucketAsidePrefix$n")
      // one file: a bucket is sized to one task by layout contract
      spark.read.parquet(dir.toString).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(dir, aside)) {
        fs.delete(tmp, true)
        throw new java.io.IOException(s"compactStoreSelective: could not move bucket aside: $dir")
      }
      if (!fs.rename(tmp, dir)) {
        if (!fs.rename(aside, dir))
          throw new java.io.IOException(
            s"compactStoreSelective: bucket $n lost BOTH live and aside — restore $aside manually")
        fs.delete(tmp, true)
        throw new java.io.IOException(s"compactStoreSelective: could not install bucket $n")
      }
      fs.delete(aside, true)
      n
    }.toSeq
  }

  def compactStore(spark: org.apache.spark.sql.SparkSession, storePath: String): Unit = {
    val fs = fsOf(spark, storePath)
    healInterruptedCompaction(fs, storePath)
    // meta-missing committed stores are pre-meta layouts → xxhash64
    val (nBuckets, hashKind) = readStoreMeta(fs, storePath)
      .getOrElse((StoreBuckets, Xx64Bucket))
    val df = spark.read.parquet(storePath)
    val tmpPath = storePath + "__compacting"
    df.repartition(col(KeyBucketCol))
      .write.mode("overwrite").partitionBy(KeyBucketCol).parquet(tmpPath)
    writeStoreMeta(fs, tmpPath, nBuckets, hashKind) // layout travels with the data
    swapStoreInto(fs, storePath, tmpPath, "compactStore")
  }

  /** Install a fully-written replacement store over the live one —
    * the shared tail of [[compactStore]] and [[migrateStore]]. Swap
    * order matters: the live data is never DELETED before its
    * replacement is installed, and every store touch heals the one
    * crash window (live renamed aside, replacement not yet in) by
    * restoring the aside copy; rename results are CHECKED
    * (object-store renames return false). */
  private def swapStoreInto(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String, tmpPath: String, op: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(storePath)
    val tmp = new org.apache.hadoop.fs.Path(tmpPath)
    val aside = new org.apache.hadoop.fs.Path(storePath + "__precompact")
    if (!fs.rename(path, aside))
      throw new java.io.IOException(s"$op: could not move live store aside: $path")
    if (!fs.rename(tmp, path)) {
      fs.rename(aside, path) // restore the live store before failing
      fs.delete(tmp, true) // the restored live store supersedes the tmp copy
      throw new java.io.IOException(s"$op: could not install replacement store: $tmpPath")
    }
    fs.delete(aside, true)
  }

  /** One-time layout migration: rewrite a legacy xxhash64-bucketed
    * store (v1 meta, or pre-meta) into the murmur3 layout, so every
    * later merge rides ONE exchange instead of paying the dedicated
    * bucket repartition forever. The rewrite re-hashes every key with
    * the partitioner-aligned hash, lands one file per bucket (the
    * compacted layout), commits a v2 meta INTO the replacement before
    * the swap — layout travels with the data, same as compaction —
    * and installs it with [[compactStore]]'s checked swap + heal
    * discipline. `key` names the store's upsert key (the meta records
    * only the layout, not the key — same caller contract as
    * [[upsertSink]]). Returns true iff a migration ran; an
    * already-murmur3 or empty store is a no-op. Run against a
    * quiesced store, like all maintenance here. */
  def migrateStore(spark: org.apache.spark.sql.SparkSession, storePath: String,
      key: String): Boolean = {
    val fs = fsOf(spark, storePath)
    healInterruptedCompaction(fs, storePath)
    if (!hasCommittedData(spark, storePath)) return false
    val (nBuckets, hashKind) = readStoreMeta(fs, storePath)
      .getOrElse((StoreBuckets, Xx64Bucket))
    if (hashKind == Murmur3Bucket) return false
    val df = spark.read.parquet(storePath).drop(KeyBucketCol)
    val tmpPath = storePath + "__compacting"
    // repartition on the KEY with the store's modulus: murmur3 bucket
    // == partition id, so the partitionBy write emits one file per
    // bucket with no second exchange
    withBucket(df.repartition(nBuckets, col(key)), key, nBuckets, Murmur3Bucket)
      .write.mode("overwrite").partitionBy(KeyBucketCol).parquet(tmpPath)
    writeStoreMeta(fs, tmpPath, nBuckets, Murmur3Bucket)
    swapStoreInto(fs, storePath, tmpPath, "migrateStore")
    true
  }

  /** Batch-query forms for the driver contract. */
  def e1Batch(events: DataFrame): DataFrame =
    hourlyAgg(events, streaming = false)
      .orderBy("hour_us", "event_type")

  def e2Batch(events: DataFrame): DataFrame =
    dedup(events, streaming = false)
      .orderBy("ts_us", "user_id", "event_type")
}
