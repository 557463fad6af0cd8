package graft

import graft.operators.{Dedup, Events, GraphOps, Similarity}
import graft.sources.ManifestIO
import org.apache.spark.sql.functions._

/** Round-17 pins: the LPA/modularity per-order basket cap (quadratic-
  * fan-out guard, dormant on TPC-H's <= 7 lineitems/order) and the
  * size-gated DV anti-join (broadcast while the sidecar fits, shuffle
  * co-partition past the gate — same results either way). */
class Round17Spec extends SparkSpecBase {

  test("LpaOrderCap drops a planted mega-order before pair generation, dormant on real baskets") {
    import spark.implicits._
    // two small orders + one mega-order holding LpaOrderCap+1 parts
    val mega = (1L to (GraphOps.LpaOrderCap + 1)).map(p => (999L, p))
    val small = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))
    val inc0 = (small ++ mega).toDF("o", "p").localCheckpoint()
    val kept = GraphOps.capOrders(inc0)
    assert(kept.filter(col("o") === 999L).count() == 0, "mega-order survived the cap")
    assert(kept.count() == small.size, "small orders must pass untouched")
    // dormancy on the driver corpus: the cap filters nothing at any shipped SF
    val real = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct().localCheckpoint()
    assert(GraphOps.capOrders(real).count() == real.count(),
      "cap must be dormant on TPC-H order sizes")
  }

  test("strided suffix pass catches a mid-document duplicate at its global position") {
    import spark.implicits._
    // the shared 24-char phrase sits at global position ~201 — inside the
    // SECOND sampled window (off=161 covers [161, 224]); the old head-only
    // slice (chars 1-64) could never see it
    val phrase = "the quick brown fox jumps"
    val docs = Seq(
      (1L, "en", ("a" + "bcdefgh".take(6)) * 28 + phrase + "tail one " * 3),
      (2L, "en", "zy xwvuts rqponm lkjihgf " * 8 + phrase + "tail two " * 3))
      .toDF("doc_id", "lang", "text")
    // both docs are ~225+ chars with DIFFERENT heads; only the planted
    // phrase repeats cross-doc, starting past position 195 in each
    val a = docs.filter(col("doc_id") === 1L).select(expr(s"locate('$phrase', text)")).head.getInt(0)
    val b = docs.filter(col("doc_id") === 2L).select(expr(s"locate('$phrase', text)")).head.getInt(0)
    assert(a > 160 && b > 160, s"planted phrase must sit mid-document (got $a, $b)")
    val wit = Dedup.substringDedupOn(docs)
    val hits = wit.filter(col("doc_a") === 1L && col("doc_b") === 2L).collect()
    assert(hits.nonEmpty, s"mid-document duplicate not witnessed:\n${wit.collect().mkString("\n")}")
    // the cut ranges must land at the GLOBAL position in the higher doc
    val cuts = Dedup.substringCutOn(docs).filter(col("doc_id") === 2L).collect()
    assert(cuts.nonEmpty, "no cut range for the duplicated phrase")
    assert(cuts.exists(r => r.getLong(1) >= 161L),
      s"cut range not at the global mid-document position: ${cuts.mkString(",")}")
  }

  test("stratified survival: per-cohort risk split and the lr_num sign on a planted frame") {
    import spark.implicits._
    // converted sessions last 10 min (die at t=10), unconverted 2 min
    // (die at t=2); one late unconverted session is censored (within
    // 1800s of obs end). obs end = 100000.
    val sess = Seq(
      (0L, 600L, 1L), (1000L, 1600L, 1L),          // converted, t=10
      (2000L, 2120L, 0L), (3000L, 3120L, 0L),      // unconverted, t=2
      (99000L, 100000L, 0L))                        // censored at t=16
      .toDF("start_sec", "end_sec", "conv")
    val rows = Events.survivalStratOn(sess).collect()
    val byT = rows.map(r => r.getLong(0) -> r).toMap
    assert(byT.keySet == Set(2L, 10L, 16L), s"unexpected durations: ${byT.keySet}")
    // t=2: both cohorts fully at risk; only unconverted die -> lr_num < 0
    val t2 = byT(2L)
    assert(t2.getLong(1) == 2L && t2.getLong(4) == 3L, s"t=2 risk split wrong: $t2")
    assert(t2.getLong(5) == 2L && t2.getLong(2) == 0L, s"t=2 deaths wrong: $t2")
    assert(t2.getLong(7) == -(2L * 2L), s"t=2 lr_num: expected -4, got ${t2.getLong(7)}")
    // t=10: only converted remain at risk besides the censored one
    val t10 = byT(10L)
    assert(t10.getLong(1) == 2L && t10.getLong(2) == 2L, s"t=10 converted deaths wrong: $t10")
    // t=16: the censored session — censored count, zero deaths
    val t16 = byT(16L)
    assert(t16.getLong(5) == 0L && t16.getLong(6) == 1L, s"t=16 censoring wrong: $t16")
  }

  test("graph-ANN index artifact: cold build == warm deploy, one train event") {
    import spark.implicits._
    val dir = scratch("gsmodel")
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // 12 dense-id vectors in three separated blobs (the KmeansModelSpec corpus)
    Seq(
      (0L, 0L, v(0.10, 0.11, 0.09, 0.10)), (1L, 0L, v(0.12, 0.10, 0.11, 0.09)),
      (2L, 0L, v(0.09, 0.12, 0.10, 0.11)), (3L, 1L, v(0.52, 0.50, 0.51, 0.49)),
      (4L, 1L, v(0.50, 0.52, 0.49, 0.51)), (5L, 1L, v(0.51, 0.49, 0.50, 0.52)),
      (6L, 2L, v(0.90, 0.91, 0.89, 0.92)), (7L, 2L, v(0.92, 0.89, 0.91, 0.90)),
      (8L, 2L, v(0.89, 0.92, 0.90, 0.91)), (9L, 0L, v(0.30, 0.31, 0.29, 0.30)),
      (10L, 1L, v(0.70, 0.69, 0.71, 0.70)), (11L, 2L, v(0.48, 0.53, 0.50, 0.50)))
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val t0 = ModelTelemetry.trains.get()
    val cold = Similarity.graphRefined(spark, dir).collect().toSeq
    assert(cold.nonEmpty, "refined serve returned no rows")
    assert(ModelTelemetry.trains.get() == t0 + 1, "cold call must train exactly once")
    val warm = Similarity.graphRefined(spark, dir).collect().toSeq
    assert(warm == cold, "warm deploy diverged from the cold build")
    assert(ModelTelemetry.trains.get() == t0 + 1, "warm call must not retrain")
  }

  test("DV anti-join: broadcast hint present under the gate, gone past it, results identical") {
    import spark.implicits._
    val base = (0L until 400L)
      .map(i => (i % 4, i / 4 + 1, (i % 50) + 1.0, if (i % 5 == 0) "R" else "N"))
      .toDF("file_id", "pos", "l_quantity", "l_returnflag")
      .localCheckpoint()
    val dv = base.filter(col("l_returnflag") === "R")
      .select("file_id", "pos").localCheckpoint()
    val conf = spark.conf
    val savedThreshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // auto-broadcast off BOTH times: any BroadcastHashJoin can only come
      // from the size-gated hint, so the pair of assertions is sharp
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hinted = ManifestIO.dvAccounting(base, dv)
      val pHint = plan(hinted)
      assert(pHint.contains("BroadcastHashJoin"),
        s"under the gate the DV hint must broadcast the sidecar:\n$pHint")
      val expected = hinted.collect().toSeq
      conf.set("graft.broadcastGateBytes", "0")
      val gated = ManifestIO.dvAccounting(base, dv)
      val pGate = plan(gated)
      assert(!pGate.contains("BroadcastHashJoin"),
        s"past the gate the broadcast hint must disappear:\n$pGate")
      assert(gated.collect().toSeq == expected,
        "shuffle-path DV accounting differs from broadcast-path")
    } finally {
      conf.unset("graft.broadcastGateBytes")
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }
}
