package graft

import graft.operators.{Events, GraphOps, Multimodal, TextAnalysis}
import graft.sources.ManifestIO
import org.apache.spark.sql.functions._

/** Round-18 pins: the resource-allocation hub discount, ViT patch math +
  * downscale rungs, the compaction planner's packing bounds, the WAP
  * gates, the rate-limit RANGE window, and WordPiece greedy
  * longest-match-first semantics — each on a hand-worked frame. */
class Round18Spec extends SparkSpecBase {

  test("resource allocation discounts the hub that raw common-neighbors cannot") {
    import spark.implicits._
    // pairs (1,2) and (3,4) both have exactly one common neighbor:
    // (1,2) share the EXCLUSIVE node 10 (degree 2); (3,4) share the hub
    // 20 (degree 6 via extra spokes). RA must rank (1,2) above (3,4);
    // raw n_common ties them.
    val edges = Seq(
      (1L, 10L), (2L, 10L), // exclusive wedge
      (3L, 20L), (4L, 20L), // hub wedge
      (20L, 31L), (20L, 32L), (20L, 33L), (20L, 34L)) // hub spokes
      .toDF("a", "b")
    val out = GraphOps.resourceAllocOn(edges).collect()
    val row12 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    val row34 = out.find(r => r.getLong(0) == 3L && r.getLong(1) == 4L).get
    assert(row12.getLong(2) == 1L && row34.getLong(2) == 1L, "both wedges have one common neighbor")
    assert(row12.getLong(3) == 500000000L, s"exclusive weight 10^9 div 2: $row12")
    assert(row34.getLong(3) == 166666666L, s"hub weight 10^9 div 6: $row34")
    assert(out.indexOf(row12) < out.indexOf(row34), "RA must rank the exclusive wedge first")
  }

  test("ViT token math: patch count exact, each downscale rung fires at its boundary") {
    import spark.implicits._
    // bl chosen so (w, h) hit all three rungs:
    //   w = 256 + (bl*7919) % 768, h = 256 + (bl*104729) % 768
    // bl=0 -> 256x256 -> 1 + 16*16 = 257 tokens, scale 1
    // raw max is 1 + 64*64 = 4097 (w=h=1023): always representable at s=4
    val out = Multimodal.vitTokensOn(Seq((0L, 0L)).toDF("doc_id", "bl")).collect()
    assert(out.length == 1 && out.head.getLong(2) == 257L,
      s"256x256 must cost 1 + 16x16 = 257 tokens: ${out.mkString(",")}")
    // rung arithmetic, checked directly on the documented formulas:
    // 1008x1008 -> raw 1+63*63=3970 > 1024; s=2 -> 1+32*32=1025 > 1024;
    // s=4 -> 1+16*16=257 <= 1024 (the s=4 rung exists for exactly this band)
    val toks = (w: Long, h: Long, s: Long) =>
      1L + ((w + 16 * s - 1) / (16 * s)) * ((h + 16 * s - 1) / (16 * s))
    assert(toks(1008, 1008, 1) == 3970L && toks(1008, 1008, 2) == 1025L
      && toks(1008, 1008, 4) == 257L)
    // 640x640 -> raw 1+40*40=1601 > 1024; s=2 -> 1+20*20=401 <= 1024
    assert(toks(640, 640, 1) == 1601L && toks(640, 640, 2) == 401L)
  }

  test("compaction planner: size-desc packing, one-file overflow bound, keep split") {
    import spark.implicits._
    val target = ManifestIO.CompactTargetBytes
    val smallCut = ManifestIO.CompactSmallBytes
    // 40 small files of 5000 bytes + 2 large files that must be kept
    val files = ((1L to 40L).map(i => (i, 5000L)) ++
      Seq((100L, smallCut), (101L, smallCut + 5))).toDF("file_id", "sz")
    val out = ManifestIO.compactPlanOn(files).collect()
    val keep = out.filter(_.getString(0) == "keep")
    assert(keep.length == 1 && keep.head.getLong(2) == 2L
      && keep.head.getLong(3) == 2 * smallCut + 5,
      s"files at/above the threshold are kept: ${keep.mkString(",")}")
    val bins = out.filter(_.getString(0) == "rewrite")
    assert(bins.map(_.getLong(2)).sum == 40L, "every small file lands in exactly one bin")
    // start-offset rule: a bin holds ceil/floor of target/5000 files and
    // overflows by at most one file
    assert(bins.forall(r => r.getLong(3) < target + 5000L),
      s"bin overflow must be bounded by one file: ${bins.mkString(",")}")
    assert(bins.dropRight(1).forall(r => r.getLong(3) >= target - 5000L),
      s"non-final bins must be filled to within one file of target: ${bins.mkString(",")}")
  }

  test("WAP gates: duplicate key, negative-domain breach, and volume each quarantine alone") {
    import spark.implicits._
    // wapOn batches on k div 1000 and restages every k % 1009 == 0 row,
    // so the batches it actually sees are:
    // batch 0: k 1..999     (999 rows, clean, >= WapMinRows) -> publish
    // batch 1: k 1000..1999 + restaged 1009 dup              -> gate_unique fails
    // batch 2: k 2000..2999 + restaged 2018 dup, 299 of 1001
    //          rows negative (> 1/4)             -> gate_domain (and unique) fail
    // batch 3: k 3000..3010 (11 rows, one negative at 3000)  -> gate_volume fails
    val base = ((1L to 1000L).map(k => (k, 10.0)) ++
      (1001L to 2000L).map(k => (k, 10.0)) ++
      (2001L to 3000L).map(k => (k, if (k % 10 < 3) -5.0 else 10.0)) ++
      (3001L to 3010L).map(k => (k, 10.0))).toDF("k", "bal")
    val out = ManifestIO.wapOn(base).collect().sortBy(_.getLong(0))
    assert(out(0).getString(7) == "publish", s"clean batch must publish: ${out(0)}")
    assert(out(1).getString(7) == "quarantine" && out(1).getLong(4) == 0L,
      s"duplicate key must fail gate_unique: ${out(1)}")
    assert(out(2).getString(7) == "quarantine" && out(2).getLong(5) == 0L,
      s"negative-heavy batch must fail gate_domain: ${out(2)}")
    assert(out(3).getString(7) == "quarantine" && out(3).getLong(6) == 0L,
      s"short batch must fail gate_volume: ${out(3)}")
  }

  test("rate limit: trailing RANGE window counts peers, violations start past the budget") {
    import spark.implicits._
    val w = Events.RateLimitWindowSec
    // user 1: five events inside one window (two tied) -> counts 1,2,3,4,5
    // (ties are RANGE peers: both tied rows see the full peer frame);
    // user 2: two events exactly w apart -> the second does NOT see the first
    val ev = Seq(
      (1L, 1000L), (1L, 1100L), (1L, 1100L), (1L, 1200L), (1L, 1300L),
      (2L, 5000L), (2L, 5000L + w)).toDF("user_id", "ts_sec")
    val out = Events.rateLimitOn(ev).collect()
    val u1 = out.find(_.getLong(0) == 5L).get // max_in_window = 5
    assert(u1.getLong(1) == 1L, "one user peaks at 5 in-window events")
    // counts per event: 1, 3, 3, 4, 5 -> violations (> 3): 2 events
    assert(u1.getLong(2) == 2L, s"two events exceed the budget of 3: $u1")
    val u2 = out.find(_.getLong(0) == 1L).get
    assert(u2.getLong(1) == 1L && u2.getLong(2) == 0L,
      s"a window-width gap must reset the count: $u2")
  }

  test("substring witness artifact: cold build == warm deploy for both consumers") {
    import spark.implicits._
    val dir = scratch("sdwmodel")
    // the shared phrase must sit inside the FIRST sampled 64-char window
    // (strided offsets 1/161/...), so keep the distinct prefixes short
    val phrase = "the quick brown fox jumps over the lazy dog"
    Seq(
      (1L, "en", "aaa1 " + phrase),
      (2L, "en", "bbb2 " + phrase))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val t0 = ModelTelemetry.trains.get()
    val dedupCold = graft.operators.Dedup.substringDedup(spark, dir).collect().toSeq
    assert(ModelTelemetry.trains.get() == t0 + 1, "first consumer cold-builds the witness list")
    val cutCold = graft.operators.Dedup.substringCut(spark, dir).collect().toSeq
    assert(ModelTelemetry.trains.get() == t0 + 1, "the cut must deploy the persisted witnesses")
    assert(graft.operators.Dedup.substringDedup(spark, dir).collect().toSeq == dedupCold)
    assert(graft.operators.Dedup.substringCut(spark, dir).collect().toSeq == cutCold)
    assert(dedupCold.nonEmpty && cutCold.nonEmpty, "the planted phrase must be witnessed")
  }

  test("unigram Viterbi trades piece count against frequency in both directions") {
    import spark.implicits._
    // scenario 1: 'abcd' seen ONCE, 'ab'/'cd' each 100x — the rare whole
    // word scores bitlen(1) - T, the split (bitlen(101) - T) x2; with
    // total piece mass ~610 (T = 10), 14 - 2T > 1 - T, so the DP must
    // SPLIT the rare word
    val rare = (Seq.fill(100)("ab") ++ Seq.fill(100)("cd") ++ Seq("abcd")).mkString(" ")
    val out1 = TextAnalysis.unigramOn(Seq(rare).toDF("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out1 == Seq((1L, 2L, 200L), (2L, 1L, 1L)),
      s"rare word must split into two common pieces: $out1")
    // scenario 2: 'abcd' seen 50x — now bitlen(50)=6 vs the split's
    // 2*(bitlen(150) - T) = 16 - 2T with T = 11: 6 - T wins, the DP must
    // keep the whole word as ONE piece
    val common = (Seq.fill(100)("ab") ++ Seq.fill(100)("cd")
      ++ Seq.fill(50)("abcd")).mkString(" ")
    val out2 = TextAnalysis.unigramOn(Seq(common).toDF("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out2 == Seq((1L, 3L, 250L)),
      s"a frequent word must stay one piece: $out2")
  }

  test("unigram EM: prunes to the used vocabulary and climbs the likelihood") {
    import spark.implicits._
    // ab x100, cd x100, abcd x50 — round 1 keeps every word whole (the
    // scenario-2 trade above), so the pieces on optimal paths are
    // exactly {ab, cd, abcd}: round 2 must prune the vocab to 3 and the
    // rescored segmentation must score strictly higher (bitlen against
    // a much smaller total mass)
    val corpus = (Seq.fill(100)("ab") ++ Seq.fill(100)("cd")
      ++ Seq.fill(50)("abcd")).mkString(" ")
    val out = TextAnalysis.unigramEmOn(Seq(corpus).toDF("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    val r1 = out.filter(_._1 == 1L)
    val r2 = out.filter(_._1 == 2L)
    assert(r1.map(_._2).toSeq == Seq(1L) && r2.map(_._2).toSeq == Seq(1L),
      s"all three words stay single-piece in both rounds: ${out.mkString(",")}")
    assert(r2.head._5 == 3L, s"round-2 vocab must prune to {ab, cd, abcd}: ${out.mkString(",")}")
    assert(r2.head._4 > r1.head._4,
      s"EM must climb: round-2 score ${r2.head._4} <= round-1 ${r1.head._4}")
  }

  test("CDC chunking re-aligns after an insertion: shifted duplicates still dedupe") {
    import spark.implicits._
    // brute-force an 8-char string whose md5 opens with the CdcMask —
    // exactly the boundary predicate the operator applies
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex2(s: String) =
      md.digest(s.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    val bnd = (0 to 999999).iterator.map(i => f"bnd$i%05d")
      .find(s => hex2(s) == graft.operators.Dedup.CdcMask).get
    // both docs share the (filler + boundary) x4 suffix; doc B carries an
    // EXTRA PREFIX (the insertion) — fixed-size chunking would misalign
    // every downstream chunk, CDC must still dedupe the repeated units
    val unit = "abcdefgh" + bnd
    val docA = "headerA-" + unit * 4
    val docB = "longer-header-B-" + unit * 4
    val out = graft.operators.Dedup.cdcOn(
      Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")).collect()
    val dupMass = out.filter(_.getLong(0) >= 2L)
    assert(dupMass.nonEmpty, s"repeated content units must dedupe: ${out.mkString(",")}")
    // the 16-char unit repeats 4x per doc; interior chunks are identical
    // across BOTH docs despite the shifted prefix -> a chunk with
    // dup_count >= 6 (3 interior repeats x 2 docs) must exist
    assert(out.exists(r => r.getLong(0) >= 6L),
      s"cross-doc re-alignment failed: ${out.mkString(",")}")
  }

  test("Louvain level 2: q1 anchors to level 1's q_after and the weighted sweep climbs") {
    val move = GraphOps.louvainMove(spark, sfDir).collect()
    val l2 = GraphOps.louvainLevel2(spark, sfDir).collect()
    assert(move.nonEmpty && l2.nonEmpty)
    // continuity: the singleton partition on the coarse graph scores
    // exactly level 1's post-move Q (the coarsening invariant, seen
    // ACROSS queries this time)
    assert(l2.head.getLong(5) == move.head.getLong(5),
      s"q1 ${l2.head.getLong(5)} != level-1 q_after ${move.head.getLong(5)}")
    // the guarded weighted sweep never loses modularity
    assert(l2.head.getLong(6) >= l2.head.getLong(5),
      s"level-2 sweep lost modularity: ${l2.head}")
    // one shared level: gr_louvain_level2 is gr_louvain_full's level 2, so
    // its q1 / q2 are full's level-1 / level-2 q_x10000 rows exactly
    val full = GraphOps.louvainFull(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(full.get(1L).contains(l2.head.getLong(5)),
      s"q1 ${l2.head.getLong(5)} != gr_louvain_full level 1 ${full.get(1L)}")
    assert(full.get(2L).contains(l2.head.getLong(6)),
      s"q2 ${l2.head.getLong(6)} != gr_louvain_full level 2 ${full.get(2L)}")
  }

  test("Louvain coarsening preserves modularity: coarse-grain Q == node-grain Q") {
    // the phase-2 invariant (contraction preserves Q exactly): the coarse
    // degree 2*self + ext must reproduce the node-grain degree sums, so
    // both published Q columns agree; a mismatch means edge mass was
    // dropped or double-counted in the super-graph build
    val out = GraphOps.louvainCoarsen(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(7) == r.getLong(8)),
      s"q_after != q_coarse: ${out.map(r => (r.getLong(7), r.getLong(8))).mkString(",")}")
    // the super-graph is a real contraction: every row's community holds
    // at least one member and the graph-level counts ride every row
    assert(out.forall(_.getLong(1) >= 1L))
    assert(out.map(_.getLong(5)).distinct.length == 1, "n_super_nodes must be global")
  }

  test("WordPiece: greedy longest-match-first with continuation pieces and char floor") {
    import spark.implicits._
    // corpus: 'abcdef' x4 and 'abcxyz' x1. Candidate multi-pieces are
    // dominated by abcdef's substrings; with the vocab cap at 24 every
    // piece of both words makes it in (tiny corpus), so each word
    // encodes as [abcdef] = 1 piece and [abcxyz] = 1 piece.
    val docs = Seq.fill(4)("abcdef").mkString(" ") + " abcxyz"
    val out = TextAnalysis.wordpieceOn(Seq(docs).toDF("text")).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L && out.head.getLong(1) == 2L,
      s"both words fit single vocab pieces: ${out.mkString(",")}")
    assert(out.head.getLong(2) == 5L, "occurrence weights: 4 + 1")
    // a word longer than WpMaxPieceLen MUST fragment: 'abcdefgh' (8 chars)
    // has 25 candidate multi-pieces; the 24-cap's tie-break (pcnt desc,
    // piece asc) cuts exactly '##gh' — the alphabetically last — so the
    // encode is [abcdef][##g][##h]: greedy longest-match at the start,
    // then the single-char floor where the vocab has no multi-piece
    val out2 = TextAnalysis.wordpieceOn(Seq(Seq.fill(8)("abcdefgh").mkString(" "))
      .toDF("text")).collect()
    assert(out2.length == 1 && out2.head.getLong(0) == 3L,
      s"8-char word = [abcdef][##g][##h] under the capped vocab: ${out2.mkString(",")}")
  }
}
