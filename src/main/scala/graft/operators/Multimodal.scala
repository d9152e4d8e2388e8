package graft.operators

import graft.SessionMemo
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY §2 tier D).
  *
  * Media payloads are opaque `binary` columns + typed metadata,
  * processed partition-wise — the Scala-Spark equivalent of a Pandas
  * UDF over mapInPandas: one JVM-side pass per partition, batch-shaped,
  * no per-row driver involvement. No image/audio codecs ship in this
  * container, so THE DECODE STEP IS A STUB — `stubDecode` derives
  * deterministic fake features from the content hash. The Spark-side
  * plumbing (schema, binary handling, partition-wise execution,
  * typed output) is real and oracle-checked.
  */
object Multimodal {

  /** Driver-contract defaults, interpolated into the oracle SQL
    * (SparkEntry) so operator and oracle can't drift. */
  val DefaultChunkBytes = 64
  val DefaultStride = 2

  /** Typed row after metadata extraction. */
  case class MediaMeta(
      doc_id: Long, media_type: String, n_bytes: Long, content_md5: String,
      fake_width: Long, fake_height: Long, n_frames: Long, decode_status: String)

  /** Lowercase hex of a digest — table lookup, not a per-byte
    * format() call (the D-tier kernels run this per CHUNK; format's
    * locale machinery was a measurable constant factor). */
  private def hexLower(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = HexLowerDigits((bytes(i) >> 4) & 0xf)
      out(i * 2 + 1) = HexLowerDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** STUB decode: in production this calls the codec (image resize,
    * audio resample, video frame-sample). Here: md5-derived
    * deterministic pseudo-features so the oracle can verify the
    * plumbing end-to-end. */
  private def stubDecode(docId: Long, mediaType: String, bytes: Array[Byte]): MediaMeta = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = hexLower(md.digest(bytes))
    def h(from: Int, len: Int): Long = java.lang.Long.parseLong(hex.substring(from, from + len), 16)
    MediaMeta(
      doc_id = docId,
      media_type = mediaType,
      n_bytes = bytes.length.toLong,
      content_md5 = hex,
      fake_width = 16 + h(0, 4) % 2048,
      fake_height = 16 + h(4, 4) % 2048,
      n_frames = if (mediaType == "video") 1 + h(8, 4) % 8 else 1L,
      decode_status = "stubbed")
  }

  /** Attach an opaque binary payload + media type to each document.
    * (Synthetic corpus has no real media; text bytes stand in. The
    * schema/partitioning contract is what downstream relies on.) */
  def attachBinary(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"))

  /** d1: partition-wise metadata extraction over binary media columns. */
  def d1MultimodalMeta(spark: SparkSession, docs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    attachBinary(docs)
      .select(col("doc_id").cast("long"), col("media"), col("media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, mt) => stubDecode(id, mt, bytes) })
      .orderBy("doc_id")
  }

  /** d2: binary payload chunking — fixed-size slicing of opaque media
    * blobs with per-chunk checksums: the transport/storage framing a
    * media pipeline needs before shipping payloads to decode workers
    * (and the shape frame-extraction plumbing takes for video).
    *
    * Typed flatMap kernel: each emitted chunk row carries only
    * (idx, len, md5) — work and memory linear in blob size. The
    * earlier explode(sequence) spelling rode the FULL binary payload
    * into every chunk row before substr, O(bytes²/chunk) per blob —
    * harmless on the ~1 KB stand-in text, catastrophic on the
    * GB-scale video payload this operator exists for. */
  /** d3: frame sampling — the every-Nth-frame selection a video
    * pipeline runs before decode (sample-then-decode, never the
    * reverse). Operates on the d2 chunk stream: video payloads only,
    * every `stride`-th chunk kept as a "frame", renumbered densely so
    * downstream batch shapes are contiguous. The stride filter is a
    * narrow predicate on the chunk stream — the decode worker fan-out
    * downstream sees 1/stride of the bytes. */
  def d3FrameSample(docs: DataFrame, stride: Int = DefaultStride): DataFrame =
    chunkRows(docs, DefaultChunkBytes)
      .filter(col("media_type") === "video" && col("chunk_idx") % stride === 0)
      .select(col("doc_id"), (col("chunk_idx") / stride).cast("long").as("frame_idx"),
        col("chunk_idx"), col("chunk_len"), col("chunk_md5"))
      .orderBy("doc_id", "frame_idx")

  /** (media_type, sh8 = chunk checksum) items — the chunk-grain
    * shingle frame the HLL keys aggregate over, exposed for the
    * streaming chunk-register door (d12). */
  private[graft] def chunkShingleItems(docs: DataFrame,
      chunkBytes: Int = DefaultChunkBytes): DataFrame =
    chunkRows(docs, chunkBytes)
      .select(col("media_type"), col("chunk_md5").as("sh8"))

  /** The shared chunk kernel: payload bytes enter here ONCE, slim
    * (doc_id, media_type, chunk_idx, chunk_len, chunk_md5) rows leave
    * — nothing downstream of this frame ever touches payload bytes
    * again (d4's dedup groupBy, d5's two checksum shuffles, d3's
    * stride filter all move checksum-sized rows only). No sort: each
    * consumer orders its own report. */
  private def chunkRows(docs: DataFrame, chunkBytes: Int): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(
        attachBinary(docs).select(col("doc_id"), col("media"), col("media_type")))
      .as[(Long, Array[Byte], String)]
      .flatMap { case (id, bytes, mt) =>
        // ≥1 chunk even for an empty blob (empty payloads still need a
        // framing row downstream).
        val nChunks = math.max(
          math.ceil(bytes.length.toDouble / chunkBytes).toInt, 1)
        val md = java.security.MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](chunkBytes * 2)
        (0 until nChunks).iterator.map { i =>
          val from = i * chunkBytes
          val until = math.min(from + chunkBytes, bytes.length)
          // checksum over the hex encoding, not the raw bytes: DuckDB's
          // md5 is VARCHAR-only, and hex is byte-exact in both engines
          // for ANY payload — no ASCII assumption. Uppercase digits =
          // Spark's hex() and DuckDB's hex(). The hex rides a reused
          // byte buffer straight into the digest — the per-chunk
          // StringBuilder→String→getBytes churn was ~3 allocations of
          // payload-sized garbage per chunk, a GB-scale-blob tax.
          var j = from
          while (j < until) {
            buf((j - from) * 2) = HexDigits((bytes(j) >> 4) & 0xf).toByte
            buf((j - from) * 2 + 1) = HexDigits(bytes(j) & 0xf).toByte
            j += 1
          }
          md.reset()
          md.update(buf, 0, (until - from) * 2)
          (id, mt, i.toLong, (until - from).toLong, hexLower(md.digest()))
        }
      }
      .toDF("doc_id", "media_type", "chunk_idx", "chunk_len", "chunk_md5")
  }

  def d2MediaChunks(docs: DataFrame, chunkBytes: Int = DefaultChunkBytes): DataFrame =
    chunkRows(docs, chunkBytes).orderBy("doc_id", "chunk_idx")

  /** d4: content-addressed segment dedup over the chunk stream — the
    * media twin of c1's exact text dedup: identical fixed-size
    * segments (repeated frames, shared intros/outros, padding runs)
    * collapse by chunk checksum, reporting copy counts, distinct
    * carriers, the canonical (lowest-doc) copy, and the bytes a
    * dedup'd store would reclaim. For video corpora this is the
    * frame-level pruning pass that runs BEFORE any decode.
    *
    * Scale shape: one shuffle on the checksum — content-addressed
    * keys hash-distribute evenly, and the count/min aggregates are
    * map-side combinable, so even a degenerate corpus (billions of
    * identical black frames) costs one hot-key partial-agg chain,
    * never a blowup. */
  def d4ChunkDedup(docs: DataFrame, chunkBytes: Int = DefaultChunkBytes): DataFrame =
    chunkRows(docs, chunkBytes)
      .groupBy(col("chunk_md5"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"),
        max(col("chunk_len")).as("chunk_len"))
      .filter(col("n_copies") > 1)
      .withColumn("dup_bytes", (col("n_copies") - 1) * col("chunk_len"))
      .orderBy(col("n_copies").desc, col("chunk_md5"))

  /** d11: DISTINCT-CHUNK cardinality per media type via HLL — the
    * sketch tier meeting the media tier: the content-addressed chunk
    * store's true size (what d4's dedup would leave) estimated from
    * 256 registers per media type, beside the exact audit. At 100 TB
    * of media the exact distinct (a shuffle over every chunk hash)
    * is the expensive leg; the registers ship per day/partition and
    * max-merge (c155's proven property) — capacity planning for the
    * chunk store priced without re-hashing a byte. Reuses c154's
    * register/estimator spellings (one HLL contract, text and
    * media). */
  def d11ChunkHll(docs: DataFrame, chunkBytes: Int = DefaultChunkBytes): DataFrame = {
    import graft.operators.TextAnalysis
    val items = chunkRows(docs, chunkBytes)
      .select(col("media_type"), col("chunk_md5").as("sh8"))
    val exact = items.groupBy("media_type")
      .agg(countDistinct(col("sh8")).as("exact_distinct"))
    TextAnalysis.hllEstimate(
        TextAnalysis.hllRegisters(items, Seq("media_type")), Seq("media_type"))
      .join(exact, Seq("media_type"))
      .withColumn("rel_err",
        round((col("est") - col("exact_distinct")) / col("exact_distinct"), 4))
      .select(col("media_type"), col("exact_distinct"), col("n_used"),
        col("sum_scaled"), col("raw_est"), col("lc_est"), col("est"),
        col("rel_err"))
      .orderBy("media_type")
  }

  /** d5: per-document media manifest with dedup-aware storage
    * accounting (d2 ∘ d4): for every document, its chunk count and
    * byte total, plus how many of its chunk INSTANCES are redundant —
    * i.e. not the canonical (first-occurring) copy of their content —
    * and the bytes a content-addressed store would reclaim for it.
    * The shipping manifest a CAS-backed media lake derives per asset.
    *
    * Canonical copy = min (doc_id, chunk_idx) per checksum, computed
    * as a map-side-combinable struct-min aggregate and joined back on
    * the checksum — deliberately NOT a per-checksum window, whose
    * partitions would be unbounded on a degenerate corpus (billions
    * of identical black frames in one window partition); the
    * agg+join spelling hash-distributes and degrades to an AQE skew
    * join instead. Two checksum shuffles + the doc regroup.
    *
    * The chunk frame is MATERIALIZED before the self-referencing
    * join: both join sides read the slim (checksum-sized) rows, so
    * the payload-chewing chunk kernel runs once — unmaterialized,
    * the canonical branch's aggregate breaks exchange reuse and the
    * whole binary scan + hex/md5 pass ran TWICE (the dominant term
    * in d5's r6 ScaleSmoke row). Strategy rides `graft.materialize`
    * (localCheckpoint locally, durable scratch on a cluster). */
  def d5MediaManifest(docs: DataFrame, chunkBytes: Int = DefaultChunkBytes): DataFrame = {
    val chunks = Materialize.frame(chunkRows(docs, chunkBytes))
    val canon = chunks.groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("c"))
      .select(col("chunk_md5"), col("c.doc_id").as("c_doc"), col("c.chunk_idx").as("c_idx"))
    chunks.join(canon, Seq("chunk_md5"))
      .withColumn("redundant",
        !(col("doc_id") === col("c_doc") && col("chunk_idx") === col("c_idx")))
      .groupBy(col("doc_id"), col("media_type"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("n_bytes"),
        sum(when(col("redundant"), 1L).otherwise(0L)).as("n_redundant"),
        sum(when(col("redundant"), col("chunk_len")).otherwise(0L)).as("reclaim_bytes"))
      .withColumn("uniq_ratio",
        when(col("n_bytes") === 0L, lit(null).cast("double"))
          .otherwise(round((col("n_bytes") - col("reclaim_bytes")).cast("double")
            / col("n_bytes"), 4)))
      .orderBy("doc_id")
  }

  /** d6 stub-pHash geometry: 60 stripes (a 6×10 blockhash-style
    * grid; bit 60–63 stay clear so the hash never touches the bigint
    * sign — DuckDB's `<<` overflows at 63), banded 4×15 for the
    * pigeonhole join, hamming ≤ 3 = "same asset, different
    * encoding". All oracle-interpolated operator semantics. */
  val PhashStripes = 60
  val PhashBands = 4
  val PhashMaxHamming = 3

  /** Deterministic stubbed PERCEPTUAL hash — the d1 discipline: no
    * codecs ship in this container, so the decode+DCT of a real
    * pHash is stubbed with a blockhash-shaped statistic the oracle
    * can replay: the payload's hex splits into [[PhashStripes]]
    * equal stripes, each stripe contributes one bit (top bit of its
    * md5). Like real blockhash, a LOCALIZED payload change (re-tag,
    * bitrate tweak, color-space flip over a region) perturbs only
    * the stripes it touches — hamming stays small — while unrelated
    * payloads land ~30 bits apart. (A real pHash is also
    * length-invariant because decode normalizes dimensions first;
    * the stub's grid is length-relative instead, so the invariance
    * only holds for same-length recodes. That is a property of the
    * STUB, not the plumbing — swap `stubPhash` for the codec call
    * and everything downstream holds.) */
  private def stubPhash(bytes: Array[Byte]): Long = {
    val hx = toHexUpper(bytes)
    stubPhashHex(hx, 0, hx.length, PhashStripes)
  }

  /** The stripe→bit core over a HEX slice [from, until) — shared by
    * the asset-grain hash (d6, [[PhashStripes]] stripes over the
    * whole payload) and the frame-grain hash (d9, [[FrameStripes]]
    * stripes over one sampled chunk's slice, the payload hexed once
    * per asset). Stripe width is slice-relative; past-end stripes
    * digest the empty slice (a constant bit — identical on every
    * frame, so it never contributes hamming distance). */
  private def stubPhashHex(hx: Array[Byte], from: Int, until: Int, stripes: Int): Long = {
    val len = until - from
    val w = math.max(math.ceil(len / stripes.toDouble).toLong, 1L).toInt
    val md = java.security.MessageDigest.getInstance("MD5")
    var phash = 0L
    var s = 0
    while (s < stripes) {
      val f = from + math.min(s * w, len)
      val u = from + math.min(s * w + w, len)
      md.reset()
      md.update(hx, f, u - f)
      // top bit of the digest = first md5 hex char >= '8'
      if ((md.digest()(0) & 0x80) != 0) phash |= 1L << s
      s += 1
    }
    phash
  }

  /** d6: perceptual near-dup clustering for media assets — the gap
    * d4 leaves open: d4 collapses byte-IDENTICAL segments, so a
    * re-encoded asset (same content, different bytes) escapes it
    * entirely. d6 is the media twin of c4's SimHash discipline at
    * ASSET grain: per-asset stubbed perceptual hash (one kernel pass
    * over payload bytes — the only stage that touches them), 4×15
    * pigeonhole banding WITHIN media type (hamming ≤ 3 ⇒ ≥1 band
    * agrees, so the band equi-join finds every close pair without n²
    * compares; [[Dedup.BucketCap]] guards degenerate buckets),
    * xor-popcount verification on candidates only, then the same
    * adaptive component labeler every dedup tier uses
    * ([[Dedup.labelComponents]]).
    *
    * Report: one row per ASSET — its phash, its cluster (= the
    * component's min doc_id; singletons self-cluster), and the
    * keep/drop decision (`is_canonical`, c1's keep-first policy).
    * Per-asset, not clusters-only, because the manifest consumer
    * (d5's shape) needs a decision for EVERY asset. */
  def d6MediaNearDup(docs: DataFrame, maxHamming: Int = PhashMaxHamming,
      bucketCap: Int = Dedup.BucketCap): DataFrame =
    d6Assets(docs, maxHamming, bucketCap).orderBy("doc_id")

  /** The per-asset cluster frame d6 reports and d7 accounts over —
    * session-memoized at the DEFAULT geometry (the memo key is the
    * input plan, so non-default parameters bypass it rather than
    * serving another geometry's rows). */
  private[graft] def d6Assets(docs: DataFrame, maxHamming: Int = PhashMaxHamming,
      bucketCap: Int = Dedup.BucketCap): DataFrame =
    if (maxHamming == PhashMaxHamming && bucketCap == Dedup.BucketCap)
      SessionMemo.frame("d6_assets", docs)(
        Materialize.frame(d6AssetsBuild(docs, maxHamming, bucketCap)))
    else d6AssetsBuild(docs, maxHamming, bucketCap)

  private def d6AssetsBuild(docs: DataFrame, maxHamming: Int,
      bucketCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark0 = docs.sparkSession
    import spark0.implicits._
    require(maxHamming < PhashBands,
      "pigeonhole banding is only complete for hamming < band count")
    // phash kernel: both the band join's two sides and the final
    // report read this |assets|-row frame — one payload pass total
    val ph = Materialize.frame(
      graft.sources.Tables.parallelKernelInput(
          attachBinary(docs).select(col("doc_id"), col("media"), col("media_type")))
        .as[(Long, Array[Byte], String)]
        .mapPartitions(_.map { case (id, bytes, mt) => (id, mt, stubPhash(bytes)) })
        .toDF("doc_id", "media_type", "phash"))
    val bands = ph.select(col("doc_id"), col("media_type"), col("phash"),
        explode(sequence(lit(0), lit(PhashBands - 1))).as("j"))
      .withColumn("band", expr(s"(phash >> (15 * j)) & 32767"))
      // degenerate-bucket cap, c4's discipline: B near-identical
      // assets in one band bucket is C(B,2) pairs — that mass is
      // exact-dup shaped (d4's job), not enumerated here
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("media_type"), col("j"), col("band"))))
      .filter(col("bsz") <= bucketCap)
      .drop("bsz")
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.media_type") === col("b.media_type") && col("a.j") === col("b.j")
          && col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.phash ^ b.phash)") <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val labels = Dedup.labelComponents(pairs)
      .withColumnRenamed("label", "comp")
    ph.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("comp"), col("doc_id")))
      .withColumn("is_canonical",
        when(col("cluster") === col("doc_id"), 1L).otherwise(0L))
      .select(col("doc_id"), col("media_type"), col("phash"),
        col("cluster"), col("is_canonical"))
  }

  /** d7: storage accounting at PERCEPTUAL-cluster grain — the cut
    * decision over d6's evidence, the way c34 is the cut over c33's:
    * d5 prices what exact chunk dedup reclaims, but a re-encoded
    * asset shares no byte-identical chunk, so its redundancy is
    * invisible to d5. Per d6 cluster: member count, total payload
    * bytes, and what keep-one-per-cluster reclaims (every
    * non-canonical member's full payload). Cluster ids are min doc
    * ids — globally unique across media types since banding never
    * crosses a type — so the report's total order is the cluster id.
    *
    * Shape: the memoized per-asset cluster frame ⋈ an |assets|-row
    * byte-size projection (payload READ only for its length — the
    * kernel's slim-rows discipline), one report-sized aggregation. */
  def d7ClusterManifest(docs: DataFrame): DataFrame = {
    val sizes = attachBinary(docs)
      .select(col("doc_id"), length(col("media")).cast("long").as("asset_bytes"))
    d6Assets(docs).join(sizes, Seq("doc_id"))
      .groupBy("cluster", "media_type")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("asset_bytes")).as("n_bytes"),
        sum(when(col("is_canonical") === 0L, col("asset_bytes")).otherwise(0L))
          .as("reclaim_bytes"))
      .orderBy("cluster")
  }

  /** d8 CDC geometry — all oracle-interpolated contract constants.
    * Rolling window of [[CdcWindow]] bytes; a cut lands after byte p
    * when the window's gear-sum ≡ 0 (mod [[CdcModulus]]), so the
    * expected chunk is ≈ CdcModulus bytes — d2's framing size, for a
    * like-for-like dedup comparison. The modulus is deliberately NOT
    * a power of two: sums over a small alphabet live on a lattice
    * whose low bits are structured (measured here: mod-64 leaves
    * residue 0 nearly unreachable on the lowercase-word corpus — 5
    * cuts corpus-wide — while mod-63 cuts at the designed ~1/64
    * rate). Real CDC gear tables are random 64-bit for the same
    * reason; 63 is the engine-portable spelling of that lesson. */
  val CdcWindow = 16
  val CdcModulus = 63

  /** Per-byte gear value: a small-prime affine hash whose arithmetic
    * ((b+1)·40503 mod 65521) is exact int math in BOTH engines — the
    * c38 discipline (pick the spelling the engines compute
    * identically). Window sums stay < 2²⁰, nowhere near overflow. */
  private[operators] val GearTable: Array[Int] =
    Array.tabulate(256)(b => ((b + 1) * 40503) % 65521)

  /** d8: content-defined chunking over the binary payload — the
    * boundary rule d2 cannot express: d2 cuts every `chunkBytes`
    * bytes, so ONE inserted byte shifts every later cut and the
    * content-addressed store (d4/d5) sees a 100%-new asset. d8 cuts
    * where the CONTENT says to (rolling-hash boundary, the
    * LBFS/rsync/FastCDC family), so after an insertion the cut
    * stream re-synchronizes at the first content boundary and every
    * later chunk hashes identically — the property that makes CDC
    * the framing layer of every dedup store.
    *
    * Kernel: a true O(1)-per-byte rolling update (add the entering
    * gear value, drop the leaving one) — one pass per payload, one
    * hex encoding per payload, chunk checksums digested straight off
    * hex slices (d2's byte-exact hex-domain contract). The oracle
    * spells the SAME math declaratively (per-byte grain + a
    * 16-row window sum); the kernel exists because at 100 TB the
    * per-byte explode is exactly the payload-widening shuffle the
    * D-tier payload diet removed — payload bytes enter here once and
    * only (doc_id, idx, len, md5) rows leave.
    *
    * Production notes, kernel-local by design: FastCDC's min/max
    * chunk caps are a sequential-dependence knob (a suppressed cut
    * moves every later one), so the DECLARED contract is the uncapped
    * rule — cap enforcement belongs in this kernel, where it is a
    * two-line change that no longer needs an oracle twin. The gear
    * table likewise swaps for a cryptographic one without touching
    * the plan shape. */
  def d8CdcChunks(docs: DataFrame): DataFrame =
    cdcChunkRows(docs).orderBy("doc_id", "chunk_idx")

  private def cdcChunkRows(docs: DataFrame): DataFrame = {
    val spark0 = docs.sparkSession
    import spark0.implicits._
    graft.sources.Tables.parallelKernelInput(
        attachBinary(docs).select(col("doc_id"), col("media"), col("media_type")))
      .as[(Long, Array[Byte], String)]
      .flatMap { case (id, bytes, mt) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // one hex pass per payload; every chunk digests a slice of it
        val hx = toHexUpper(bytes)
        // cut after byte p (full window only, never after the last
        // byte — a zero-length tail chunk frames nothing)
        val starts = scala.collection.mutable.ArrayBuffer(0)
        var ws = 0
        var p = 0
        while (p < bytes.length) {
          ws += GearTable(bytes(p) & 0xff)
          if (p >= CdcWindow) ws -= GearTable(bytes(p - CdcWindow) & 0xff)
          if (p >= CdcWindow - 1 && p < bytes.length - 1 && ws % CdcModulus == 0)
            starts += p + 1
          p += 1
        }
        starts.iterator.zipWithIndex.map { case (from, idx) =>
          val until = if (idx + 1 < starts.length) starts(idx + 1) else bytes.length
          md.reset()
          md.update(hx, from * 2, (until - from) * 2)
          (id, mt, idx.toLong, (until - from).toLong, hexLower(md.digest()))
        }
      }
      .toDF("doc_id", "media_type", "chunk_idx", "chunk_len", "chunk_md5")
  }

  /** d10: content-addressed dedup at CDC-chunk grain (d8 ∘ d4) — the
    * measured PAYOFF of content-defined chunking: d4 collapses
    * byte-identical FIXED-grid segments, so one inserted byte shifts
    * every later boundary and an edited asset re-uploads ~whole; over
    * d8's content-defined chunks the cut stream re-synchronizes at
    * the next boundary and everything after the edit dedups again.
    * Same report contract as d4 (copies, carriers, canonical,
    * reclaimable bytes), same one map-side-combinable checksum
    * shuffle — the delta between d4's reclaim and this one is the
    * storage line item CDC buys, and the spec pins it on the planted
    * insertion (CDC reclaims the shared tail, the fixed grid
    * reclaims none of it). */
  def d10CdcDedup(docs: DataFrame): DataFrame =
    cdcChunkRows(docs)
      .groupBy(col("chunk_md5"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"),
        max(col("chunk_len")).as("chunk_len"))
      .filter(col("n_copies") > 1)
      .withColumn("dup_bytes", (col("n_copies") - 1) * col("chunk_len"))
      .orderBy(col("n_copies").desc, col("chunk_md5"))

  /** d9 FRAME geometry: 32 stripes over each sampled chunk's 128 hex
    * chars (width 4 — exact cover, no dead stripes), banded 4×8 bits
    * for the pigeonhole join (hamming ≤ 3 ⇒ ≥1 band agrees, complete
    * because maxHamming < bands). d6's 60-stripe grid is
    * payload-relative and would leave every stripe past a short
    * chunk's end constant — a degenerate always-agreeing band; the
    * frame grid is sized to the chunk. All oracle-interpolated. */
  val FrameStripes = 32
  val FrameBands = 4
  val FrameMaxHamming = 3

  /** d9: frame-grain perceptual near-dup (d3 ∘ d6) — the containment
    * gap d6's asset-grain hash leaves open: a re-encoded SEGMENT
    * inside a longer video moves most asset stripes, so the
    * whole-asset hamming is large and d6 never pairs them (c42's
    * argument, at media grain). d9 runs the perceptual hash over
    * d3's SAMPLED frames instead: matched frame pairs (banded
    * pigeonhole join + xor-popcount verify, d6's machinery at frame
    * grain) aggregate to a per-video-pair report oriented like c42 —
    * doc_in = the side with fewer sampled frames, coverage = the
    * fraction of its frames with a perceptual match in doc_of. A
    * shared segment reads as high coverage of the shorter side; the
    * report is the top-50 coverage ranking.
    *
    * Scale shape: payload bytes are hexed ONCE per asset inside the
    * kernel and every sampled frame phashes a slice (d8's one-hex
    * discipline) — only (doc, frame, 64-bit hash) rows leave. The
    * band join is frame-grain but bucket-capped ([[Dedup.BucketCap]]
    * — a degenerate black-frame bucket is dropped, d4's
    * content-addressed job); pair volume ∝ perceptual-match mass.
    * Frame sampling (stride [[DefaultStride]]) is the d3 contract:
    * sample-then-hash, never the reverse, so the kernel reads
    * 1/stride of the frames a full pass would. Decode stays stubbed
    * (d1's discipline): swap [[stubPhashHex]]'s input for decoded
    * frame pixels on a real cluster and everything downstream holds. */
  def d9FrameNearDup(docs: DataFrame, maxHamming: Int = FrameMaxHamming,
      bucketCap: Int = Dedup.BucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxHamming < FrameBands,
      "pigeonhole banding is only complete for hamming < band count")
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val fp = Materialize.frame(
      graft.sources.Tables.parallelKernelInput(
          attachBinary(docs).filter(col("media_type") === "video")
            .select(col("doc_id"), col("media")))
        .as[(Long, Array[Byte])]
        .flatMap { case (id, bytes) =>
          val hx = toHexUpper(bytes)
          val nChunks = math.max(
            math.ceil(bytes.length.toDouble / DefaultChunkBytes).toInt, 1)
          (0 until nChunks).iterator.filter(_ % DefaultStride == 0).map { c =>
            val from = c * DefaultChunkBytes * 2
            val until = math.min(from + DefaultChunkBytes * 2, hx.length)
            (id, (c / DefaultStride).toLong, stubPhashHex(hx, from, until, FrameStripes))
          }
        }
        .toDF("doc_id", "frame_idx", "fhash"))
    val nf = fp.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
    val bands = fp.select(col("doc_id"), col("frame_idx"), col("fhash"),
        explode(sequence(lit(0), lit(FrameBands - 1))).as("j"))
      .withColumn("band", expr("(fhash >> (8 * j)) & 255"))
      // degenerate-bucket cap shares the join's own (j, band) shuffle
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("j"), col("band"))))
      .filter(col("bsz") <= bucketCap)
      .drop("bsz")
    val mp = bands.as("a").join(bands.as("b"),
        col("a.j") === col("b.j") && col("a.band") === col("b.band")
          && col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.fhash ^ b.fhash)") <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("a.frame_idx").as("fa"),
        col("b.doc_id").as("doc_b"), col("b.frame_idx").as("fb"))
      .distinct()
    val agg = mp.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_frame_pairs"),
        countDistinct(col("fa")).as("ma"), countDistinct(col("fb")).as("mb"))
    // contained side = fewer sampled frames; equal sizes keep the
    // lower id (doc_a < doc_b already) — c42's deterministic rule
    val isIn = col("na") <= col("nb")
    agg
      .join(nf.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_frames", "na"), Seq("doc_a"))
      .join(nf.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_frames", "nb"), Seq("doc_b"))
      .select(
        when(isIn, col("doc_a")).otherwise(col("doc_b")).as("doc_in"),
        when(isIn, col("doc_b")).otherwise(col("doc_a")).as("doc_of"),
        col("n_frame_pairs"),
        when(isIn, col("na")).otherwise(col("nb")).as("n_frames_in"),
        round(when(isIn, col("ma")).otherwise(col("mb")).cast("double")
          / when(isIn, col("na")).otherwise(col("nb")), 4).as("coverage"))
      .orderBy(col("coverage").desc, col("doc_in"), col("doc_of"))
      .limit(50)
  }

  /** Whole-payload uppercase hex — the ONE spelling of the D-tier's
    * hex-domain contract, shared by the asset phash (d6), the CDC
    * kernel (d8), and the frame phash (d9); chunkRows keeps its own
    * reused per-chunk buffer (a different allocation pattern). */
  private def toHexUpper(bytes: Array[Byte]): Array[Byte] = {
    val hx = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      hx(i * 2) = HexDigits((bytes(i) >> 4) & 0xf).toByte
      hx(i * 2 + 1) = HexDigits(bytes(i) & 0xf).toByte
      i += 1
    }
    hx
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray
  private val HexLowerDigits = "0123456789abcdef".toCharArray
}
