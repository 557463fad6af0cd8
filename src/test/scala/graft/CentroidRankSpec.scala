package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame

/** Pins the one exact-integer nearest-centroid rank the Lloyd reassign,
  * the multi-probe probes and the PQ encoders share: distance p/n² with
  * p = Σ (xq·n − cS)², an exact tie going to the lower centroid id, and
  * exactly min(P, k) probes per query. The ties are planted with different
  * (p, n): 1/1 = 4/4 and 9/1 = 81/9, so only the id can break them. */
class CentroidRankSpec extends SparkSpecBase {

  /** Two-dim (i INT, xq long) points: queries 0 and 3 at the origin,
    * vec_id 12 (not a query) far off. */
  private def dims: DataFrame = {
    import spark.implicits._
    Seq((0L, 0, 0L), (0L, 1, 0L), (3L, 0, 0L), (3L, 1, 0L), (12L, 0, 40L), (12L, 1, 40L))
      .toDF("vec_id", "i", "xq")
  }

  /** (c, n, cS per dim) as codebook rows (c, i INT, cS, n). */
  private def codebook(cents: (Long, Long, Long, Long)*): DataFrame = {
    import spark.implicits._
    cents.flatMap { case (c, n, s0, s1) => Seq((c, 0, s0, n), (c, 1, s1, n)) }
      .toDF("c", "i", "cS", "n")
  }

  private def assigned(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("c")).toMap

  private def probed(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().toSeq.groupMap(_.getAs[Long]("qid"))(_.getAs[Long]("c"))
      .map { case (q, cs) => q -> { assert(cs.distinct.size == cs.size); cs.toSet } }

  test("an exact p/n² tie goes to the lower centroid id; probes keep min(P, k) per query") {
    // Lloyd reassign (P = 1): centroid 7 = (2, 0)/2 and centroid 3 = (0, 1)/1
    // are both at squared distance 1 from the origin (p/n² = 4/4 = 1/1)
    val lloyd = assigned(Similarity.kmReassign(dims, codebook((7L, 2L, 2L, 0L), (3L, 1L, 0L, 1L))))
    assert(lloyd(0L) == 3L && lloyd(3L) == 3L, s"the tie must go to centroid 3: $lloyd")

    // Probes (P = MultiProbeP = 6 of k = 8): squared distances 1, 2, 4, 5, 8,
    // then 15 and 16 tie at 9 (81/9 = 9/1) for the last probe slot
    val eight = codebook((16L, 1L, 3L, 0L), (15L, 3L, 0L, 9L), (10L, 1L, 1L, 0L),
      (11L, 1L, 1L, 1L), (12L, 1L, 2L, 0L), (13L, 1L, 2L, 1L), (14L, 1L, 2L, 2L),
      (17L, 1L, 4L, 0L))
    assert(Similarity.MultiProbeP == 6)
    val p8 = probed(Similarity.probesOf(dims, eight))
    assert(p8.keySet == Set(0L, 3L), s"only queries (vec_id < 10) are probed: $p8")
    for ((q, cs) <- p8)
      assert(cs == Set(10L, 11L, 12L, 13L, 14L, 15L), s"query $q: the tie must keep 15, not 16: $cs")

    // k = 4 < P: every centroid is probed, no more
    val p4 = probed(Similarity.probesOf(dims, codebook((10L, 1L, 1L, 0L), (11L, 1L, 1L, 1L),
      (12L, 1L, 2L, 0L), (13L, 1L, 2L, 1L))))
    assert(p4 == Map(0L -> Set(10L, 11L, 12L, 13L), 3L -> Set(10L, 11L, 12L, 13L)), s"$p4")
  }
}
