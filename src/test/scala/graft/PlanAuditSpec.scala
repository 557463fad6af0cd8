package graft

/** Scale hygiene sweep: every declared query's physical plan is audited for
  * patterns that do not survive a 100x scale-up. The one sanctioned
  * exception is ann_bruteforce, whose broadcast-nested-loop over a BOUNDED
  * broadcast query set is the intended exact baseline. */
class PlanAuditSpec extends SparkSpecBase {

  // ann_recall embeds the same bounded-broadcast exact pass as its ground
  // truth — the nested loop there is the sanctioned baseline, not a plan
  // bug; ann_sq's first pass is the same bounded-broadcast scan, over the
  // 8x-compressed code column (the point of the operator); ev_gap_fill's
  // spine is a 1-row bounds frame cross-joined with the tiny distinct-type
  // set — O(|types|) broadcast, not a data-sized nested loop
  // ann_mmr's two nested loops are both bounded: the 1-row query vector
  // broadcast against the corpus (stage-1 retrieve) and the 12x12
  // candidate pairwise-sim join (stage-2 rerank input); gr_triangles
  // cross-joins four ONE-ROW aggregates for its final stat row
  // ann_pq's first pass scans reconstructions against the bounded
  // broadcast query set — same sanctioned shape as ann_sq's code scan
  // ev_changepoint and ev_anomaly_mad build the same dense hour spine as
  // ev_gap_fill: a 1-row bounds frame exploded to hours, cross-joined
  // with the tiny broadcast distinct-type set — O(|types| x hours),
  // never data-sized
  // mm_align runs the sanctioned bounded-broadcast exact pass (40 text
  // queries against the image side) — the ann_bruteforce shape
  private val allowNestedLoop = Set("ann_bruteforce", "ann_recall", "ann_sq", "ev_gap_fill",
    "ev_changepoint", "ev_anomaly_mad", "mm_align",
    "ann_mmr", "gr_triangles", "ann_pq",
    // ann_kmeans_recall, ann_multiprobe, and ann_recall_curve embed the
    // same bounded-broadcast exact baseline as ann_recall for their
    // ground truth
    "ann_kmeans_recall", "ann_multiprobe", "ann_recall_curve",
    // ta_bpe_train cross-joins the per-round ONE-ROW argmax (the learned
    // merge) onto the symbol stream and the one-row stat aggregates —
    // the gr_triangles shape, bounded by construction; ta_bpe_encode
    // replays the same one-row merges over the held-out slice
    "ta_bpe_train", "ta_bpe_encode",
    // ta_ppl_bucket broadcasts its ONE-ROW tercile-threshold frame onto
    // the doc-score stream — the same bounded shape; pipe_curation
    // composes the identical tercile broadcast in its lm_tail_drop stage
    "ta_ppl_bucket", "pipe_curation",
    // ann_hybrid's vector ranking scans the corpus against the bounded
    // 5-query broadcast (the ann_bruteforce sanctioned shape); the only
    // join condition is qid != cid, so the BNLJ build side is 5 rows
    "ann_hybrid",
    // ta_pair_mine cross-joins the ONE-ROW corpus-count aggregate onto
    // the bounded verified-pair set — the gr_triangles sanctioned shape
    "ta_pair_mine",
    // ann_range scans the corpus against the bounded 10-query broadcast
    // with only qid != cid as the join condition — the ann_bruteforce
    // sanctioned exact-pass shape (radius filter instead of top-k window)
    "ann_range",
    // ta_cooccur cross-joins the ONE-ROW token-total aggregate onto the
    // CoocMinPair-cut pair table — the gr_triangles sanctioned shape
    "ta_cooccur",
    // gr_louvain_move cross-joins the ONE-ROW edge-count aggregate (m)
    // into the gain expression and the two ONE-ROW Q frames onto the
    // published rows — the gr_triangles sanctioned shape
    "gr_louvain_move",
    // gr_louvain_coarsen cross-joins the ONE-ROW graph-stats frame
    // (super-node/edge counts + both Q scores, each a one-row aggregate)
    // onto the published rows — the gr_triangles sanctioned shape
    "gr_louvain_coarsen",
    // ta_unigram_em cross-joins the ONE-ROW vocab-size aggregate onto
    // each round's histogram rows — the gr_triangles sanctioned shape
    "ta_unigram_em",
    // gr_louvain_level2 cross-joins the ONE-ROW total-weight aggregate
    // (m) into the gain expression and the two ONE-ROW Q frames onto
    // the published rows — the gr_triangles sanctioned shape
    "gr_louvain_level2",
    // ann_nndescent embeds the bounded-broadcast exact baseline for its
    // per-round recall eval (the ann_recall sanctioned shape) and
    // cross-joins ONE-ROW corpus-count / edge-count aggregates
    // (the gr_triangles shape); the graph build itself is equi-joins
    "ann_nndescent",
    // q28_rfm cross-joins the ONE-ROW customer-count aggregate for the
    // quintile cut — the gr_triangles sanctioned shape
    "q28_rfm",
    // ta_drift's dense grid crosses the per-source totals with the
    // 64-row capped vocab + the ONE-ROW corpus total — two bounded
    // dimensions, the ev_gap_fill spine shape
    "ta_drift",
    // ev_forecast's spine crosses the ONE-ROW time bounds with the tiny
    // distinct-type set — the ev_gap_fill sanctioned spine, bounded by
    // calendar not data
    "ev_forecast",
    // ev_ab_test crosses the distinct-type set with the TWO-ROW arm
    // totals — two bounded dimensions, the ev_gap_fill spine shape
    "ev_ab_test",
    // ta_topics cross-joins the ONE-ROW token-total aggregate onto the
    // cluster-term table — the gr_triangles sanctioned shape
    "ta_topics",
    // pipe_ann embeds the bounded-broadcast exact baseline for its eval
    // stage (the ann_recall sanctioned shape) and cross-joins ONE-ROW
    // stage aggregates (the gr_triangles shape)
    "pipe_ann",
    // ann_tier_compare's brute tier IS the sanctioned exact-pass shape
    // (bounded 10-query broadcast, qid != cid only), and each tier row
    // cross-joins ONE-ROW count aggregates
    "ann_tier_compare",
    // ta_bpe_sweep replays the one-row merges over the held-out slice
    // (the ta_bpe_encode shape) and crosses the ONE-ROW word total onto
    // the four cut counts
    "ta_bpe_sweep",
    // ta_heaps cross-joins the ONE-ROW max-doc-id aggregate onto the
    // token and first-occurrence streams — the gr_triangles shape
    "ta_heaps",
    // io_skew_profile crosses its ONE-ROW totals rollup with the ONE-ROW
    // top-10 rollup per profiled key — the gr_triangles shape
    "io_skew_profile",
    // gr_modularity cross-joins the ONE-ROW edge-count and ONE-ROW global
    // Q aggregates onto the per-community rows — the gr_triangles shape
    "gr_modularity",
    // gr_linkpred_eval cross-joins the ONE-ROW holdout-count aggregate
    // onto its three scorer rows — the gr_triangles sanctioned shape
    "gr_linkpred_eval",
    // ta_zipf cross-joins the ONE-ROW regression-slope aggregate onto
    // its <= 11 octave rows — the gr_triangles sanctioned shape
    "ta_zipf",
    // io_ldp cross-joins the ONE-ROW vocabulary-size aggregate onto the
    // per-event coin stream and the per-type estimates — K-bounded
    // broadcast, the gr_triangles shape
    "io_ldp",
    // gr_rich_club cross-joins its TWO ONE-ROW conditional-sum
    // histograms for the 5-row stack — the gr_triangles shape
    "gr_rich_club",
    // dd_saturation cross-joins the ONE-ROW max-doc-id aggregate onto
    // the doc and first-occurrence streams — the ta_heaps shape
    "dd_saturation",
    // ta_bm25 cross-joins the ONE-ROW corpus-stats aggregate (n, S)
    // onto the term-match stream — the gr_triangles shape
    "ta_bm25")

  // A Window whose partition spec is empty (or all-literal) runs every
  // input row through ONE task — a single-task sort that kills a 100x
  // scale-up unless the frame is bounded by construction. Frames capped
  // by an upstream LIMIT (the TakeOrdered-then-rank publish idiom:
  // gr_pagerank, zipfOn, gr_betweenness, ta_oov) are auto-sanctioned by
  // the GlobalLimit check in the gate below; everything else needs a
  // documented bound here. (A Limit below a join could in principle
  // false-sanction an unbounded side, but no registry query windows over
  // a join-of-limited-frame — the gate errs toward catching the shipped
  // pattern: rank/row_number straight over a data-sized aggregate.)
  private val allowGlobalWindow: Map[String, String] = Map(
    "ta_ppl_bucket" -> "O(ndv) histogram: window over per-bucket rollup, ndv bounded by the score grid",
    "ev_latency_slo" -> "O(ndv) histogram: cumulative window over the bounded latency-bucket rollup",
    "io_histogram" -> "O(ndv) histogram: window over the fixed bin rollup",
    "ev_survival" -> "O(minutes) life table: cumulative hazard over the bounded duration grid",
    "ev_survival_strat" -> "O(minutes x strata) life table: same grid per stratum",
    "io_cdf" -> "O(ndv) distribution: cumulative window over the bounded value rollup",
    "ta_mixture" -> "O(sources) rollup: global-total window over the per-source aggregate; sources is a bounded catalog dimension, not data-sized",
    "pipe_curation" -> "O(sources) rollup: the ta_mixture shape inside the curation capstone",
    "ta_resample" -> "O(sources) rollup: the ta_mixture shape feeding the resample weights",
    "dd_profile" -> "O(5) histogram: global total over the fixed CASE size-bucket rollup",
    "io_compact_plan" -> "O(9) histogram: cumulative window over 1KB size buckets (sz < 9000)",
    "io_ldp" -> "O(event-type vocabulary) rollup: global total over per-type coin counts",
    "ev_concurrency" -> "O(days) calendar rollup: cumulative window over per-day totals",
    "q28_rfm" -> "O(value-domain) quantile cuts: three cumulative windows over bounded value-bucket rollups (last_day div 100, n_orders, m_cents div 1e7)",
    "ev_lateness" -> "O(arrival-chunks) trace: prefix-max high watermark over the n/1000 chunk rollup — the per-round-trace class; chunk width is the declared replay granularity",
    "ta_bpe_encode" -> "O(rounds) trace: lag over the 5-row per-round token-count union",
    "ta_bpe_train" -> "O(rounds) trace: lag over the 5-row per-round token-count union",
    // the distributed two-phase prefix-sum family: phase 2's window input
    // is the per-range total table (n/RangeDocs rows — two orders below
    // the corpus; the within-range scan is range-PARTITIONED). RangeDocs
    // is the declared knob that widens with corpus so phase-2 input stays
    // partitions-scale on a real cluster.
    "mm_shard_pack" -> "prefix-sum phase 2 over the n/100 range-total table",
    "mm_interleave" -> "prefix-sum phase 2 over the n/100 range-total table",
    "mm_vit_tokens" -> "prefix-sum phase 2 over the n/100 range-total table",
    "pipe_export" -> "prefix-sum phase 2 over the n/100 range-total table",
    "ta_seq_pack" -> "prefix-sum phase 2 over the n/100 range-total table")

  /** Offenders of the four full-registry gates, one list per gate. */
  private case class RegistryAudit(
    globalWindows: Seq[String],
    cartesian: Seq[String],
    nestedLoops: Seq[String],
    unprunedLineitem: Seq[String])

  /** One pass over the registry: each key is built once and its optimized
    * plan and `plan()` text are computed once. Only offender strings are
    * kept, never the DataFrames, so each key's localCheckpoint blocks can
    * be freed before the next key is built. */
  private lazy val registryAudit: util.Try[RegistryAudit] = util.Try {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Range => LRange, Window => LWindow}
    val windows, cartesian, nestedLoops, unpruned = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      if (!allowGlobalWindow.contains(name))
        windows ++= df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) => w
        }.filter { w =>
          // bounded by construction: an upstream LIMIT (the TakeOrdered-
          // then-rank idiom) or a <=1024-row literal Range spine (dense
          // percentile/cut grids) caps the window's input rows
          val capped = w.child.collectFirst {
            case g: GlobalLimit => g
            case r: LRange if r.numElements.isValidInt && r.numElements.toInt <= 1024 => r
          }.isDefined
          !capped
        }.map(w => s"$name:\n$w")
      val p = plan(df)
      if (p.contains("CartesianProduct")) cartesian += s"$name:\n$p"
      if (!allowNestedLoop(name) && p.contains("BroadcastNestedLoopJoin"))
        nestedLoops += s"$name:\n$p"
      // lineitem is the wide fact table: no lineitem query needs every column
      p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
        if ((l.contains("l_orderkey") || l.contains("l_quantity")) &&
            l.contains("l_comment") && l.contains("l_tax") && l.contains("l_partkey") &&
            l.contains("l_shipdate") && l.contains("l_suppkey"))
          unpruned += s"$name scans too much of lineitem: $l"
      }
    }
    RegistryAudit(windows.result(), cartesian.result(), nestedLoops.result(), unpruned.result())
  }

  test("no constant-parallelism window over an unbounded frame") {
    val offenders = registryAudit.get.globalWindows
    assert(offenders.isEmpty,
      s"constant-parallelism window over an unbounded frame (single-task sort " +
        s"at 100x — cap with orderBy().limit(K) first, use TopKPerKeyNative, or " +
        s"add a documented-bound allowlist entry):\n" + offenders.mkString("\n"))
  }

  test("no query plans a cartesian product") {
    val offenders = registryAudit.get.cartesian
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only the sanctioned exact baseline uses a nested-loop join") {
    val offenders = registryAudit.get.nestedLoops
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("PQ approx scoring runs the native codegen dot, not an interpreted HOF fold") {
    // ann_pq's approx pass is live in its final plan; ann_ivfpq's exact
    // rerank is post-checkpoint and visible (the approx pass upstream of
    // the localCheckpoint uses the same dot() helper — pinned bit-identical
    // to the fold by VectorDotSpec's float x double test).
    Seq("ann_pq", "ann_ivfpq").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sfDir))
      assert(p.contains("vector_dot"), s"$name plan lacks the native dot:\n$p")
      assert(!p.contains("aggregate(sequence("),
        s"$name still plans an interpreted sequence fold:\n$p")
    }
  }

  test("a cluster-partitioned corpus layout prunes the scan to the probed partitions") {
    // ann_multiprobe's 100 TB claim: "the candidate scan reads only the P
    // probed partitions of a clustered layout". Make it checkable — write
    // the corpus partitioned by its trained cluster, filter to a probe
    // set, and assert the scan carries partition filters and returns
    // exactly the probed clusters' members.
    import org.apache.spark.sql.functions._
    val asg = graft.operators.Similarity.kmeansAssignments(spark, sfDir)
      .select(col("vec_id"), col("c"))
    val layout = scratch("ivf_layout")
    graft.sources.Tables.embeddings(spark, sfDir)
      .join(asg, Seq("vec_id")).write.partitionBy("c").parquet(layout)
    val probes = Seq(2L, 5L)
    val scan = spark.read.parquet(layout).filter(col("c").isin(probes: _*))
    val p = plan(scan)
    assert(p.contains("PartitionFilters") && !p.contains("PartitionFilters: []"),
      s"probe filter did not reach the partition layout:\n$p")
    val expected = asg.filter(col("c").isin(probes: _*)).count()
    assert(expected > 0 && scan.count() == expected)
  }

  test("no forced broadcast of O(corpus) tables (per-doc counts/signatures)") {
    // These queries join one-row-per-doc tables that grow with the data; a
    // broadcast() hint there ships the corpus to every executor at 100x.
    // Distribution choice must be left to Catalyst/AQE. (The spatial joins
    // use a SIZE-GATED hint instead — audited in the next test; queries
    // with legitimately bounded broadcasts — a #layers manifest, a top-k
    // query side — are not in this list.)
    val mustNotHint = Seq("dd_ngram_jaccard", "dd_minhash", "dd_jaccard_capped", "zs_polygonize",
      // dd_span's span-df table is one row per distinct span — corpus-sized
      "dd_span")
    mustNotHint.foreach { name =>
      val analyzed = SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"$name forces a broadcast of an O(corpus) table:\n$analyzed")
    }
  }

  test("spatial-join broadcast is size-gated: refuses an oversized zone side") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a zone layer whose optimizer estimate exceeds the 64 MB gate (x4
    // cell fan-out): range stats are exact, 8 bytes/row x 4M rows x 4 > 64MB
    val big = spark.range(4L * 1000 * 1000).select(
      col("id").as("zone_id"),
      (col("id") % 18 * 20 - 180).cast("double").as("xmin"),
      (col("id") % 7 * 10 - 35).cast("double").as("ymin"))
      .withColumn("xmax", col("xmin") + 20.0)
      .withColumn("ymax", col("ymin") + 10.0)
    val pts = graft.operators.Geo.points(spark, sfDir)
    val gated = graft.operators.Geo.pointZoneJoinOn(pts, big)
    assert(!gated.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "oversized zone side must not be broadcast")
    // the real (dimension-sized) zone layer passes the gate and hints
    val small = graft.operators.Geo.pointZoneJoinOn(pts, graft.operators.Geo.zones(spark, sfDir))
    assert(small.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "dimension-sized zone side should broadcast")
  }

  test("AQE splits a skewed join partition at runtime (the hot-key escape hatch)") {
    import org.apache.spark.sql.functions._
    // one key owns ~98% of the fact side — the shape salting guards against;
    // AQE's skew-join split is the runtime fallback and must actually engage
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> util.Try(conf.get(k)).toOption)
    try {
      conf.set(keys(0), "1m"); conf.set(keys(1), "2")
      conf.set(keys(2), "1m"); conf.set(keys(3), "-1")
      val fact = spark.range(3000000L).select(
        when(col("id") % 50 === 0, col("id")).otherwise(lit(0L)).as("k"), col("id").as("v"))
      val dim = spark.range(60000L).select(col("id").as("k"), (col("id") * 2).as("w"))
      // the collect-shrinking filter references BOTH sides so it cannot be
      // pushed below the join (a fact-only filter would drain the shuffle)
      val joined = fact.join(dim, "k").filter((col("v") + col("w")) % 10000 === 0)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), s"skew join did not engage:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("the 100 TB shuffle path: gate off + no auto-broadcast = same zonal results via SMJ") {
    // at scale the zone side stops fitting the broadcast gate and the join
    // must hash-partition both sides on the cell key — prove the shuffle
    // plan engages AND produces row-identical results
    val conf = spark.conf
    val savedThreshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val expected = graft.operators.Geo.zonalStats(spark, sfDir).collect()
    try {
      conf.set("graft.broadcastGateBytes", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = graft.operators.Geo.zonalStats(spark, sfDir)
      val p = plan(shuffled)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"gate off should force a shuffle join:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"broadcast survived the gate:\n$p")
      assert(shuffled.collect().toSeq == expected.toSeq,
        "shuffle-path results differ from broadcast-path results")
    } finally {
      conf.unset("graft.broadcastGateBytes")
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }

  test("decontamination broadcasts the benchmark index, never the corpus") {
    // the asymmetric inverted-index shape: the bench-gram index is bounded
    // (a benchmark stays small no matter the corpus), so it must broadcast
    // and the corpus grams must stream map-side with no shuffle of their own
    val p = plan(SparkEntry.queries("dd_contamination")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"bench index not broadcast:\n$p")
  }

  test("interpolation queries broadcast the exploded query-cell grid") {
    // zs_idw / zs_kde: the query grid (and its cell explosion) is a bounded
    // constant — the station side must not shuffle for the join
    Seq("zs_idw", "zs_kde").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sfDir))
      assert(p.contains("BroadcastHashJoin"), s"$name query grid not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name shuffles the station side:\n$p")
    }
  }

  test("every parquet scan prunes columns (no SELECT * scans of wide tables)") {
    val offenders = registryAudit.get.unprunedLineitem
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
