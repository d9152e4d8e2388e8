package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Door, EmbedDupStream}
import graft.operators.Similarity

/** Round-15 contracts: the live EMBEDDING near-dup gate (c84) — the
  * vector twin of NearDupStream, one admission policy at two
  * evidence grains. */
class Round15Spec extends AnyFunSuite {
  import TestSpark._

  test("c84 decisions partition the corpus; every drop cites an admitted keeper") {
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    val rows = EmbedDupStream.c84EmbedGateAudit(spark, sf).collect()
    assert(rows.length == n, s"${rows.length} decisions for $n vectors")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "one decision per vector")
    val admitted = rows.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val drops = rows.filter(!_.getBoolean(1))
    // precision: every drop cites a VERIFIED near-dup that was
    // actually kept (the gate's guarantee), and admits carry no cite
    assert(drops.forall(r => !r.isNullAt(2) && admitted.contains(r.getLong(2))),
      "a drop cites a vector the gate did not keep")
    assert(rows.filter(_.getBoolean(1)).forall(_.isNullAt(2)), "an admit carries a cite")
  }

  test("c84 on ONE batch with empty stores equals c32's keep-one-per-cluster decision") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val scratch = java.nio.file.Files.createTempDirectory("graft-c84-one-").toString
    val (decisions, _) = EmbedDupStream.batchDecisions(
      graft.operators.Materialize.frame(emb),
      s"$scratch/buckets", s"$scratch/keep", EmbedDupStream.CosThreshold)
    val got = decisions.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    // c32's clusters: canonical (= min member) keeps, others cite it
    val clusters = Similarity.c32SemanticClusters(emb).collect()
    for (c <- clusters) {
      val canonical = c.getLong(1)
      assert(got(canonical) == ((true, -1L)), s"canonical $canonical not admitted")
    }
    val canon = clusters.map(_.getLong(1)).toSet
    val clustered = clusters.map(_.getLong(0)).toSet // cluster label = min member
    // every non-canonical member of a duplicated cluster drops citing
    // the cluster label (= the min member = the canonical)
    val dropped = got.filter(!_._2._1)
    assert(dropped.nonEmpty, "the test corpus surfaced no semantic dups at all")
    for ((v, (_, cite)) <- dropped)
      assert(clustered.contains(cite) && canon.contains(cite),
        s"vec $v cites $cite, which is not a cluster canonical")
    // and the counts reconcile: drops per cluster = members - 1
    val nDrops = clusters.map(c => c.getLong(2) - 1).sum
    assert(dropped.size.toLong == nDrops,
      s"${dropped.size} drops vs ${nDrops} reclaimable members in c32")
  }

  test("live embedding gate accumulates the same stores as the c84 audit replay") {
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val n = EmbedDupStream.EmbedAuditBatches
    val in = java.nio.file.Files.createTempDirectory("graft-eg-in-").toString
    for (i <- 0 until n) {
      vecs.filter(pmod(col("vec_id"), lit(n)) === i)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(50) // distinct mtimes → batch order = poll order
    }
    def store(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-eg-$tag-").toString + "/store"
    val (dS, kS, bS) = (store("d"), store("k"), store("b"))
    val src = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Door.live(src)((b, _) => EmbedDupStream.processBatch(b, dS, kS, bS))
    try q.processAllAvailable() finally q.stop()
    val live = EmbedDupStream.decisions(spark, dS).orderBy("vec_id").collect()
    val audit = EmbedDupStream.c84EmbedGateAudit(spark, sf).collect()
    assert(live.length == audit.length,
      s"live ${live.length} rows vs audit ${audit.length}")
    assert(live.sameElements(audit), "live gate stores diverge from the audit replay")
    // replay: re-offering everything changes nothing (at-least-once)
    val src2 = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q2 = Door.live(src2)((b, _) => EmbedDupStream.processBatch(b, dS, kS, bS))
    try q2.processAllAvailable() finally q2.stop()
    val replayed = EmbedDupStream.decisions(spark, dS).orderBy("vec_id").collect()
    assert(replayed.sameElements(audit), "replay changed admission decisions")
  }
}
