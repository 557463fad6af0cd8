package graft

import graft.operators.GraphOps
import org.apache.spark.sql.DataFrame

/** Pins the LPA-chain model artifact (train-once / deploy-many — the
  * kmModel pattern on the graph tier): the first of gr_lpa /
  * gr_modularity / gr_louvain_move persists the capped co-order edge
  * list and the final LPA labels keyed by a lineitem fingerprint, and
  * every deployed result must be bit-identical to the cold build — the
  * artifact caches a deterministic computation, never a second code
  * path. Also pins fingerprint invalidation and the ModelTelemetry
  * accounting Bench's cold_hit column relies on. */
class LpaModelSpec extends SparkSpecBase {

  /** A corpus dir with a real lineitem.parquet: two clean 3-part
    * communities bridged by one shared order, every co-pair repeated in
    * >= LpaMinShared orders so the edge filter keeps the structure. */
  private def writeCorpus(): String = {
    import spark.implicits._
    val dir = scratch("lpamodel")
    val communityA = Seq(101L, 102L, 103L)
    val communityB = Seq(201L, 202L, 203L)
    val orders =
      (1L to 3L).map(o => (o, communityA)) ++ // A co-bought 3x
      (4L to 6L).map(o => (o, communityB)) ++ // B co-bought 3x
      Seq((7L, Seq(103L, 201L)), (8L, Seq(103L, 201L))) // the bridge, 2x
    orders.flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("artifact/fold parity: cold build == warm deploy across all three consumers") {
    val dir = writeCorpus()
    val t0 = ModelTelemetry.trains.get()
    val lpaCold = rows(GraphOps.lpa(spark, dir))
    assert(ModelTelemetry.trains.get() == t0 + 1, "first consumer cold-trains once")
    val modCold = rows(GraphOps.modularity(spark, dir))
    val louCold = rows(GraphOps.louvainMove(spark, dir))
    assert(ModelTelemetry.trains.get() == t0 + 1,
      "modularity and louvainMove must deploy the persisted chain")
    assert(rows(GraphOps.lpa(spark, dir)) == lpaCold, "lpa: deploy diverged from build")
    assert(rows(GraphOps.modularity(spark, dir)) == modCold,
      "modularity: deploy diverged from build")
    assert(rows(GraphOps.louvainMove(spark, dir)) == louCold,
      "louvainMove: deploy diverged from build")
    // the bridge graph has real structure: two communities survive
    assert(lpaCold.length >= 2, s"expected >= 2 communities: $lpaCold")
  }

  test("fingerprint invalidation: a changed lineitem file forces a rebuild") {
    val dir = writeCorpus()
    val first = rows(GraphOps.lpa(spark, dir))
    // assert on THIS corpus' fingerprints, never a global artifact count —
    // the store is shared with concurrent suites / Verify runs
    val fpBefore = ModelStore.fingerprint(dir, "lineitem.parquet", "lpa1").get
    assert(new java.io.File(ModelStore.Root, s"lpalbl_$fpBefore").isDirectory,
      "cold build must persist the first fingerprint's artifact")
    val pq = new java.io.File(dir, "lineitem.parquet")
    val files = if (pq.isDirectory) pq.listFiles.toSeq else Seq(pq)
    files.foreach(f => assert(f.setLastModified(f.lastModified() + 60000L)))
    val fpAfter = ModelStore.fingerprint(dir, "lineitem.parquet", "lpa1").get
    assert(fpAfter != fpBefore, "the mtime bump must change the fingerprint")
    val second = rows(GraphOps.lpa(spark, dir))
    assert(second == first, "same data must find the same communities")
    assert(new java.io.File(ModelStore.Root, s"lpalbl_$fpAfter").isDirectory,
      "the rebuild must persist the new fingerprint's artifact")
  }
}
