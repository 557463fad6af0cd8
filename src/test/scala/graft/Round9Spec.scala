package graft

import graft.operators.{Events, GraphOps, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-9 operator pins: trigram stupid backoff on a held-out split
  * (ta_lm_backoff), common-neighbor link prediction (gr_common_neighbors),
  * and the hashed linear classifier gate (ta_hash_classify). */
class Round9Spec extends SparkSpecBase {

  test("lm_backoff: three-tier arithmetic on a hand-worked held-out corpus") {
    import spark.implicits._
    // train = even doc_id, held-out = odd.
    // doc 0: "a b c a b c" -> c3 {abc:2, bca:1, cab:1}, c2 {ab:2, bc:1, ca:1},
    //   suffix-bigram {bc:2, ca:1, ab:1}, suffix-unigram {b:2, c:1, a:1}
    // doc 1: "a b c d b c a" -> 5 trigrams:
    //   abc  hit     10000*2 div 2 = 10000
    //   bcd  oov     (c3 miss, suffix (c,d) miss)       0
    //   cdb  oov     (suffix (d,b) miss)                0
    //   dbc  backoff 4000*2 div 2 =                  4000
    //   bca  hit     10000*1 div 1 =                10000
    //   -> n_tg 5, hit 2, backoff 1, oov 2, doc score 24000 div 5 = 4800
    val docs = Seq(
      (0L, "s", "a b c a b c"),
      (1L, "s", "a b c d b c a")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.lmBackoffOn(docs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "s")
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6)) == ((1L, 5L, 2L, 1L, 2L, 4800L)))
  }

  test("lm_backoff: train-side docs never score, short docs drop") {
    import spark.implicits._
    val docs = Seq(
      (0L, "s", "a b c a b c"), // train only
      (2L, "s", "x y z x y z"), // train only
      (3L, "t", "a b")          // held-out but < 3 words
    ).toDF("doc_id", "source", "text")
    assert(TextAnalysis.lmBackoffOn(docs).collect().isEmpty)
  }

  test("common_neighbors: wedges, adjacency exclusion, and the hub cap") {
    import spark.implicits._
    // path 1-2-3: candidate (1,3) via center 2, jaccard 1/1
    // clique-ish 4..7 (45,46,56,57,67): candidate (4,7) via 5 AND 6,
    //   degrees 2 and 2, union 2 -> jaccard 10000
    // hub 100 with CnDegCap+1 leaf neighbors: excluded as a center, so
    //   its leaf pairs never become candidates (and each leaf has
    //   degree 1, no other wedges)
    val hub = (0 until (GraphOps.CnDegCap.toInt + 1))
      .map(i => (100L, 1000L + i))
    val edges = (Seq((1L, 2L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (5L, 7L), (6L, 7L)) ++ hub)
      .toDF("a", "b")
    val out = GraphOps.commonNeighborsOn(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.size == 2, s"got ${out.keySet}")
    assert(out((4L, 7L)) == ((2L, 2L, 2L, 10000L)))
    assert(out((1L, 3L)) == ((1L, 1L, 1L, 10000L)))
  }

  test("common_neighbors: uncapped degrees in the score, capped counts") {
    import spark.implicits._
    // center 2 in-cap; node 1 ALSO neighbors a hub (degree grows but 1
    // is never a useful center) -> (1,3) still found, deg_a counts the
    // hub edge: deg(1)=2, deg(3)=1, union 2+1-1=2 -> jaccard 5000
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 99L)).toDF("a", "b")
    val out = GraphOps.commonNeighborsOn(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out((1L, 3L)) == ((1L, 2L, 1L, 5000L)))
  }

  test("hash_classify: bucket arithmetic, broadcast model join, threshold split") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "alpha beta"),          // single bigram: score == its weight
      (2L, "s", "alpha beta"),          // identical text -> identical score
      (3L, "t", "gamma delta epsilon")  // two features -> integer mean
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.hashClassifyOn(spark, docs)
    // expected weight of one feature, computed through the same md5
    // arithmetic the operator pins (validates bucketing + join + mean,
    // the oracle gate covers cross-engine hash agreement)
    def wt(feat: String): Long = spark.sql(
      s"""SELECT CAST(conv(substring(md5(concat('wt:', CAST(
         |  CAST(conv(substring(md5('hc:$feat'), 1, 4), 16, 10) AS BIGINT) % ${TextAnalysis.HcBuckets}
         |  AS STRING))), 1, 4), 16, 10) AS BIGINT) % 2001""".stripMargin)
      .collect()(0).getLong(0)
    val wAB = wt("alpha beta")
    val wGD = wt("gamma delta")
    val wDE = wt("delta epsilon")
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6))).toMap
    val sKept = if (wAB >= 1000L) 2L else 0L
    assert(rows("s") == ((2L, sKept, 2L - sKept, wAB, wAB, wAB)))
    val mT = (wGD + wDE) / 2 // nonneg long division == div
    val tKept = if (mT >= 1000L) 1L else 0L
    assert(rows("t") == ((1L, tKept, 1L - tKept, mT, mT, mT)))
    // the 256-row model side must broadcast, never shuffle the corpus
    assert(plan(out).contains("BroadcastHashJoin"))
  }

  test("dsir: add-one ratio weights and the selection cut on a hand-worked corpus") {
    import spark.implicits._
    // features: 'a b' (raw 2, target 1), 'c d' (raw 1, target 0) — distinct
    // buckets (asserted), so:
    //   ct1/cr1: B1 = 2/3, B2 = 1/2; nt = 3, nr = 5
    //   w(B1) = 10000*2*5 div (3*3) = 11111   (target-enriched, selected)
    //   w(B2) = 10000*1*5 div (2*3) =  8333   (target-absent, dropped)
    val docs = Seq(
      (1L, "s", "en", "a b"),
      (2L, "s", "de", "a b"),
      (3L, "t", "de", "c d")).toDF("doc_id", "source", "lang", "text")
    val b = spark.sql(
      s"""SELECT
         |  CAST(conv(substring(md5('ds:a b'), 1, 4), 16, 10) AS BIGINT) % ${TextAnalysis.DsirBuckets},
         |  CAST(conv(substring(md5('ds:c d'), 1, 4), 16, 10) AS BIGINT) % ${TextAnalysis.DsirBuckets}""".stripMargin)
      .collect()(0)
    assert(b.getLong(0) != b.getLong(1), "hash collision in the fixture — pick other words")
    val out = TextAnalysis.dsirOn(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("s") == ((2L, 2L, 11111L, 11111L, 11111L)))
    assert(out("t") == ((1L, 0L, 8333L, 8333L, 8333L)))
  }

  test("hamming_str: parity with the portable HOF fold, codegen, length check") {
    import spark.implicits._
    // 200 random-ish 64-char '0'/'1' pairs (md5-derived, deterministic)
    val pairs = spark.range(200).selectExpr(
      "concat_ws('', transform(sequence(0, 63), i -> " +
        "  CASE WHEN (CAST(conv(substring(md5(concat('a', id, ':', i)), 1, 4), 16, 10) AS INT) % 2) = 1 THEN '1' ELSE '0' END)) AS ha",
      "concat_ws('', transform(sequence(0, 63), i -> " +
        "  CASE WHEN (CAST(conv(substring(md5(concat('b', id, ':', i)), 1, 4), 16, 10) AS INT) % 2) = 1 THEN '1' ELSE '0' END)) AS hb")
    val both = pairs.selectExpr(
      "hamming_str(ha, hb) AS native",
      "aggregate(sequence(1, 64), 0, (acc, i) -> " +
        "acc + IF(substring(ha, i, 1) = substring(hb, i, 1), 0, 1)) AS hof")
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
    assert(both.filter(col("native") < 0 || col("native") > 64).isEmpty)
    // codegen'd: with the (interpreted) HOF fixture generation cut off by
    // a checkpoint, the projection carrying ONLY hamming_str must be
    // whole-stage-codegen'd (the '* ' prefix)
    val mat = pairs.localCheckpoint()
    val p = plan(mat.selectExpr("hamming_str(ha, hb) AS h"))
    assert(p.contains("hamming_str"))
    assert(p.linesIterator.exists(l => l.contains("* Project")), p)
    // unequal lengths refuse loudly (like DuckDB's hamming())
    val err = intercept[Exception] {
      spark.sql("SELECT hamming_str('abc', 'ab')").collect()
    }
    assert(err.getMessage.contains("length mismatch")
      || err.getCause != null && err.getCause.getMessage.contains("length mismatch"))
  }

  test("khop: hop distances and the unreached bucket on a path graph") {
    import spark.implicits._
    // path 0-1-2-3-4-5, symmetric edges; seed = node 0 (u % 100 == 0)
    // 3 hops: d(0)=0, d(1)=1, d(2)=2, d(3)=3, nodes 4 and 5 unreached
    val ed = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val sym = (ed ++ ed.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.khopOn(sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(-1L -> 2L, 0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("ev_absence: window edges and bucket straddling") {
    import spark.implicits._
    // timeout 100s, buckets of 100:
    //  u1: A at 95, B at 195  -> IN (eb = ea + T inclusive; straddles buckets 0->1)
    //  u2: A at 10, B at 10   -> absent (strictly after required)
    //  u3: A at 10, B at 111  -> absent (ea + T + 1)
    //  u4: A at 10, B at 20 and 40 -> first_b = 20, lag 10
    //  u5: A at 3610 (hour 2), no B -> absent, second output hour
    val ev = Seq(
      (1L, "a", 101L, 95L), (1L, "b", 102L, 195L),
      (2L, "a", 201L, 10L), (2L, "b", 202L, 10L),
      (3L, "a", 301L, 10L), (3L, "b", 302L, 111L),
      (4L, "a", 401L, 10L), (4L, "b", 402L, 40L), (4L, "b", 403L, 20L),
      (5L, "a", 501L, 3610L)
    ).toDF("user_id", "event_type", "event_id", "es")
    val out = Events.absenceOn(ev, "a", "b", 100L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // hour 0: A events of u1..u4 -> followed: u1 (lag 100), u4 (lag 10);
    // absent: u2, u3. avg lag = 110 div 2 = 55
    assert(out(0L) == ((4L, 2L, 2L, 55L)))
    assert(out(3600L) == ((1L, 0L, 1L, 0L)))
  }

  test("ev_attribution: largest-remainder split, window edges, cross-purchase reuse") {
    import spark.implicits._
    // window 100s. u1: purchase at 100 with clicks at 0, 50, 99:
    //   3 clicks, 10000 div 3 = 3333 rem 1 -> earliest (t=0) gets 3334.
    //   click at 100 (== ep) excluded, click at -1 (< ep-100) n/a here.
    // u2: purchase at 250, clicks at 150 (= ep-100, IN) and 249; split
    //   5000/5000, no remainder. One of u2's clicks (249) also precedes
    //   a second purchase at 349 -> credited AGAIN with full 10000.
    val ev = Seq(
      (1L, "a", 11L, 0L), (1L, "a", 12L, 50L), (1L, "a", 13L, 99L),
      (1L, "a", 14L, 100L), (1L, "b", 15L, 100L),
      (2L, "a", 21L, 150L), (2L, "a", 22L, 249L), (2L, "b", 23L, 250L),
      (2L, "b", 24L, 349L)
    ).toDF("user_id", "event_type", "event_id", "es")
    val out = Events.attributionOn(ev, "a", "b", 100L).collect()
    // all clicks land in hour 0: credited instances = 3 (u1) + 2 (u2 first)
    // + 1 (u2 second purchase) = 6; credit = 10000 * 3 purchases = 30000
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2)) == ((0L, 6L, 30000L)))
  }
}
