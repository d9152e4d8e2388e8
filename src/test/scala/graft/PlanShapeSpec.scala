package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the physical properties PLANS.md
  * claims (pushdown, broadcast placement, no accidental cartesian
  * products) must survive future edits. String-level checks against
  * the executed plan are deliberately coarse — they catch structural
  * regressions, not cosmetic changes. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Final adaptive plan — AQE join-strategy decisions (broadcast vs
    * shuffle from MEASURED sizes) only exist after execution. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }


  test("b1 pushes the shipdate filter and prunes columns at the scan") {
    val p = plan("b1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "scan reads unneeded columns")
  }

  test("b3 broadcasts the geo dims, not the fact chain") {
    val p = plan("b3_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("nation.parquet") && p.contains("region.parquet"), p)
  }

  test("no query plans a broadcast nested loop or cartesian product") {
    for (name <- Seq("c2_dedup_ngram", "c3_dedup_minhash", "c4_dedup_simhash", "c5_embed_neardup",
      "b13_range_join", "c33_substring_dedup", "c34_span_cuts", "d6_media_neardup",
      "c56_delta_spans", "c59_novelty", "d9_frame_neardup", "d10_cdc_dedup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested loop join")
    }
  }

  test("c33's span collapse shares the diagonal exchange (window + groupBy, one shuffle)") {
    // assert on the PURE chain — the keyed query memoizes+materializes
    // it (spanFrame), which would hide the window plan behind a scan
    val p = graft.operators.Dedup
      .spanChain(graft.sources.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // the run-group window and the span aggregate both key on
    // (doc_a, doc_b, diag): the groupBy must reuse the window's sort
    // order/exchange rather than plan its own hash exchange on top.
    // 3 = count agg + semi-join probe + diagonal window (the
    // count-first cap added the first two; the collect agg and the
    // span agg both reuse an upstream exchange)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"c33 plans $exchanges hash exchanges (count + posting-list + diagonal expected):\n$p")
  }

  test("the at-rest posting builds cap on a COUNT before any list aggregate") {
    // the r10 verdict's scale-killer: a hot boilerplate key must be
    // dropped by a map-side-combinable count filter BEFORE its rows
    // reach collect_list — the buffer bound is the plan shape, so pin
    // it. Plans print root-first: the list aggregate must sit ABOVE
    // (earlier in the string than) the occurrence-count filter that
    // feeds it through the semi-join.
    val docs = graft.sources.Tables.documents(spark, sf)
    val span = graft.operators.Dedup.spanChain(docs)
      .queryExecution.executedPlan.toString
    assert(span.contains("LeftSemi"), s"c33 lost the count-first semi-join:\n$span")
    assert(span.contains("collect_list") && span.contains("occ_n"), span)
    assert(span.indexOf("collect_list") < span.indexOf("occ_n"),
      s"c33 collects posting lists below the count filter:\n$span")
    val c56 = SparkEntry.queries("c56_delta_spans")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(c56.contains("LeftSemi"), s"c56 lost the count-first semi-join:\n$c56")
    assert(c56.indexOf("collect_list") < c56.indexOf("occ_n"),
      s"c56 collects posting lists below the count filter:\n$c56")
    val ng = graft.operators.Dedup.ngramPostingsPlan(docs)
      .queryExecution.executedPlan.toString
    assert(ng.contains("LeftSemi"), s"ngramPostings lost the count-first semi-join:\n$ng")
    assert(ng.contains("collect_list") && ng.contains("sh_df"), ng)
    assert(ng.indexOf("collect_list") < ng.indexOf("sh_df"),
      s"ngramPostings collects posting lists below the df filter:\n$ng")
  }

  test("d6's band-join sides read the materialized phash frame, never the payload kernel") {
    val p = plan("d6_media_neardup")
    // the phash kernel is materialized (Materialize.frame → Scan
    // ExistingRDD); if the payload-chewing kernel itself appeared in
    // the final plan, the binary scan would re-run per consumer (the
    // pre-diet d5 bug). The labeler's union-find MapPartitions is the
    // only legitimate object kernel here.
    assert(p.contains("Scan ExistingRDD"), s"phash frame not materialized:\n$p")
    assert(!p.contains("MapPartitions graft.operators.Multimodal"),
      s"d6's final plan re-runs the payload phash kernel:\n$p")
  }

  test("similarity norms use the fused self-dot expression") {
    // assert on the PURE ranked chain — the keyed query memoizes+
    // materializes it (c6's exact frame feeds every recall audit), so
    // the keyed plan is a checkpoint read with no scoring left in it
    val p = graft.operators.Similarity
      .c6RankedTopK(graft.sources.Tables.embeddings(spark, sf), None, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_self_dot"))
  }

  test("b14 cube expands AFTER the broadcast joins (scan read once)") {
    val p = plan("b14_cube")
    assert(p.contains("Expand"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // Expand must sit above the joins: a plan that joins expanded rows
    // would 4x the join input
    assert(p.indexOf("Expand") < p.indexOf("BroadcastHashJoin"),
      "cube expansion below the joins")
  }

  test("b16's grid join is broadcast — the fact side never re-shuffles unaggregated") {
    val p = plan("b16_gapfill")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c17 scans the corpus exactly once (df derived from tf)") {
    val p = plan("c17_tfidf")
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans <= 1, s"c17 scans documents $scans times:\n$p")
  }

  test("c20's benchmark join is AQE-broadcast while small (no forced hint)") {
    // the benchmark key set is corpus-proportional, so the operator
    // carries NO broadcast hint; at test scale AQE must still measure
    // it small and pick the broadcast join at runtime
    val p = finalPlan("c20_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("report dim joins degrade to shuffle when broadcast is off (no forced hint)") {
    // the track dim is corpus-grain: with the broadcast thresholds
    // disabled, the planner must fall back to a shuffled join — a
    // forced broadcast() hint would ignore the threshold and OOM at
    // scale instead
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      for (name <- Seq("a5_rpt_user_counts", "c20_contamination")) {
        val p = finalPlan(name)
        assert(!p.contains("BroadcastHashJoin"),
          s"$name still broadcasts with thresholds disabled (forced hint?):\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      }
    }
    // and with defaults restored the same joins broadcast again
    assert(finalPlan("a5_rpt_user_counts").contains("BroadcastHashJoin"))
  }

  test("b17 unpivot is a zero-shuffle Expand over the wide frame") {
    val p = plan("b17_unpivot")
    assert(p.contains("Expand"), p)
    // only the pivot's own aggregation and the final sort may exchange;
    // the melt itself must not add a hash shuffle on top of the wide frame
    val expandIdx = p.indexOf("Expand")
    val above = p.substring(0, expandIdx)
    assert(!above.contains("Exchange hashpartitioning"),
      s"unpivot introduced a shuffle above the Expand:\n$p")
  }

  test("c5 multi-table candidates stay an equi-join on (table, bucket)") {
    val p = graft.operators.Similarity
      .c5Candidates(sources.Tables.embeddings(spark, sf), 8, 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c7's probe side broadcasts; the corpus side never does") {
    val p = plan("c7_ann_ivf")
    assert(p.contains("BroadcastExchange"), p)
    // exactly the two bounded sides broadcast (centroids, probes) —
    // a third would mean the corpus assignment leaked into one
    val n = "BroadcastExchange".r.findAllIn(p).length
    assert(n <= 3, s"unexpected broadcast count $n:\n$p")
  }

  test("c38's corpus pass broadcast-joins the rates back — never a shuffle join") {
    // scaladoc claims "zero corpus shuffles (two report-sized
    // aggregates broadcast back)": the only hash exchanges allowed
    // are the two source-grain partial-agg exchanges; the corpus-side
    // join must be the broadcast of the 20-row rates frame
    val p = plan("c38_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"c38 shuffle-joins the corpus:\n$p")
    // 3 = the corpus side's one partial-agg exchange + the 20-row
    // source-grain counts aggregate, which plans twice because the
    // rates build consumes it under both the total and the join
    // branch (report-sized both times — not worth a materialization)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"c38 plans $exchanges hash exchanges (1 corpus partial-agg + 2 report-sized expected):\n$p")
  }

  test("c60/c64/c65 serve through one corpus kernel pass + one rank window (zero corpus shuffles)") {
    // the whole ADC serving family runs one scan: c47's flat PQ and
    // c60's IVF pruning keep assignment/probe/encode inside the
    // kernel; c64's trained and c65's residual variants run their
    // TRAINING jobs eagerly (bounded collects) before the serving plan
    // is built. So every served plan is the same "zero corpus-grain
    // shuffles" shape: one rank window over ≤ partitions·|Q|·topK heap
    // rows, no join, at most that window's exchange. c79 serves the
    // same contract off the STORED codes scan — the artifact read must
    // not cost a plan shape the live compose doesn't pay
    for (name <- Seq("c47_pq_adc", "c60_ivf_pq", "c64_pq_trained", "c65_ivfpq_residual",
        "c71_ivfpq_trained", "c79_stored_serving")) {
      val p = plan(name)
      assert("Window \\[".r.findAllIn(p).size == 1,
        s"$name plans more than the one report-sized rank window:\n$p")
      assert(!p.contains("Join"), s"$name's serving path plans a join:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= 1,
        s"$name plans $exchanges hash exchanges (only the rank window's expected):\n$p")
    }
  }

  test("c118's dense ranking reads the stored codes; raw embeddings only for the two bounded reads") {
    // the r11 verdict's #1 done-criterion: the fusion's dense leg
    // must rank off the persisted index (codes scan), with raw
    // embeddings touched only by (a) the bounded query frame and
    // (b) the broadcast-bounded candidate fetch of the refine stage.
    // The keyed query memoizes the dense leg (a checkpoint read), so
    // the scan pins check its producer plan, as c6's pin does.
    val p = graft.operators.Similarity.storedDenseRanked(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("c79_index"),
      s"c118's dense leg does not scan the stored index:\n$p")
    val rawScans = "embeddings\\.parquet".r.findAllIn(p).size
    assert(rawScans <= 2,
      s"c118 reads raw embeddings $rawScans times (query frame + candidate fetch expected):\n$p")
    // the candidate fetch rides broadcast joins; the only sort-merge
    // join allowed is the fusion's report-sized FULL-OUTER combine
    // (≤ 2k rows — full outer cannot broadcast)
    val both = p + plan("c118_rrf_stored")
    val smj = both.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("FullOuter")),
      s"c118 shuffle-joins something besides the report-sized fusion:\n$both")
  }

  test("c49 assembles the hashed vectors in aggregates alone off the tf memo") {
    // scaladoc claims "one conditional-sum aggregate, no explode, no
    // pivot shuffle": no join anywhere, input is the materialized tf
    // memo, exchanges are the two map-side-combined agg boundaries
    val p = plan("c49_feature_hash")
    assert(!p.contains("Join"), s"c49 plans a join:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"tf memo not materialized:\n$p")
    assert(p.contains("partial_"), s"c49's aggregate lost map-side combine:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"c49 plans $exchanges hash exchanges ((doc,bucket) + doc expected):\n$p")
  }

  test("c52 is one map-side-combinable aggregate off the materialized tf memo") {
    val p = plan("c52_token_entropy")
    assert(!p.contains("Join"), s"c52 plans a join:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"tf memo not materialized:\n$p")
    assert(p.contains("partial_"), s"c52's aggregate lost map-side combine:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"c52 plans $exchanges hash exchanges (one doc-grain agg expected):\n$p")
  }

  test("c7's centroid assignment is a map-side struct-max aggregate, not a corpus window") {
    // the r10 respelling (the round-7 verdict's #1): the corpus×k
    // argmax must partial-combine before its shuffle; the only Window
    // nodes left are the two q_id-grain bounded ranks (probe + top-k)
    val p = plan("c7_ann_ivf")
    assert(p.contains("partial_max_by"),
      s"c7's assignment lost the map-side struct-max:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 2,
      s"c7 plans a Window beyond the two q_id-grain ranks:\n$p")
  }

  test("staging is a single projection over the scan (no shuffle)") {
    val p = plan("a1_stg_events")
    assert(!p.contains("Exchange hashpartitioning"), s"staging shuffles:\n$p")
  }

  test("a6 aggregates the track dim exactly once (display attrs ride the counts agg)") {
    // the r3 plan inlined dimTrack under both the counts join and the
    // display join — two full aggregations of a corpus-grain dim, 5
    // source subtrees. With the display attributes folded into the
    // counts groupBy exactly 4 remain: stg slice, anchor agg, ONE dim
    // subtree, and the event-type dim.
    val p = plan("a6_rpt_type_counts")
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans <= 4, s"a6 scans events $scans times (dim aggregated twice?):\n$p")
  }

  test("a9 runs its checks over materialized marts: one source scan total") {
    val p = plan("a9_dq_checks")
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans == 0, s"a9's check job still re-derives staging from source:\n$p")
  }

  test("c106 sweeps the grid off ONE packing window (explode above, never a window per budget)") {
    val p = plan("c106_pack_sweep")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"c106 plans $windows windows (one budget-independent prefix sum expected):\n$p")
    assert(p.contains("Generate explode"), s"c106 lost the grid explode:\n$p")
  }

  test("c108 samples via TakeOrdered — never a global sort of the corpus") {
    val p = plan("c108_gumbel_sample")
    assert(p.contains("TakeOrderedAndProject"), s"c108 lost the TakeOrdered top-k:\n$p")
    // the rank window runs AFTER the limit, over k rows — the plan's
    // only Sort nodes sit above the TakeOrdered's k-row output
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c110's assignment is a map-side struct-max aggregate, not a corpus window") {
    val p = plan("c110_embed_drift")
    assert(!p.contains("Window"), s"c110 sorts the corpus for its assignment:\n$p")
    assert(p.contains("max_by"), s"c110 lost the struct-max assignment:\n$p")
    assert(p.contains("BroadcastExchange"), s"c110's centroids are not broadcast:\n$p")
  }

  test("c113's stage-2 vector fetch broadcasts the candidates against one corpus scan") {
    val p = plan("c113_pq_rerank")
    assert(p.contains("BroadcastHashJoin"), s"c113's candidate fetch shuffles the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // ADC rank window + the ≤ depth-row re-rank window, nothing more
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows <= 2, s"c113 plans $windows windows:\n$p")
  }

  test("the fusion and the new report tier plan no cartesian products") {
    for (name <- Seq("c107_source_divergence", "c109_rrf_fusion",
        "c111_keeps_pack", "c112_repeat_mixture")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
    }
  }

  test("global-window inventory: every unpartitioned Window in a keyed plan is an allow-listed bounded frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the STANDING inventory: every keyed query whose RETURNED plan
    // contains an unpartitioned Window, with why it is bounded (the
    // window's input is report-sized, never corpus-grain). Store-
    // grain keys run their windows at build time through the
    // RANGE-bucketed arrival pattern (withArrivalCum / e4Batch's
    // bucket-offset frame, ≤33 rows) — those never reach the
    // returned plan. ANY new name failing here must either partition
    // the window or argue a bounded input and join this list.
    val allowed: Map[String, String] = Map(
      // rank stamped onto an ALREADY-LIMITED frame: TakeOrdered cuts
      // the corpus to ActiveBatchK rows BEFORE the window runs
      "c93_active_batch" -> "row_number over a limit(ActiveBatchK) frame",
      // same shape at GumbelSampleK
      "c108_gumbel_sample" -> "row_number over a limit(GumbelSampleK) frame",
      // the RANGE-bucketed running max: the only unpartitioned window
      // is over the ≤33-row bucket-offset frame (withArrivalCum's
      // pattern); the per-row legs partition on e_bkt / the key
      "e4_stream_late" -> "bucket-offset frame, ≤33 rows by construction")
    val offenders = scala.collection.mutable.SortedMap.empty[String, Int]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf)
      val n = df.queryExecution.optimizedPlan.collectWithSubqueries {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size
      if (n > 0) offenders(name) = n
    }
    val unexplained = offenders.keySet -- allowed.keySet
    assert(unexplained.isEmpty,
      s"unpartitioned windows outside the allow-list: " +
        unexplained.map(k => s"$k(${offenders(k)})").mkString(", "))
  }
}
