package graft

import graft.operators.GraphOps
import org.apache.spark.sql.DataFrame

/** Pins the co-activity graph model artifact (the LPA-chain contract on
  * the gr tier's OTHER shared chain): the first of the twelve
  * co-activity consumers persists the capped (a, b, hr) pair list and
  * its distinct edge projection keyed by an events fingerprint, and
  * every deployed result must be bit-identical to the cold build — the
  * artifact caches a deterministic computation, never a second code
  * path. Also pins the gr_copurchase pair-count artifact (keyed on
  * orders x lineitem) and the ModelTelemetry accounting Bench's
  * cold_hit column relies on. */
class CoactModelSpec extends SparkSpecBase {

  /** A corpus dir with a real events.parquet: a 3-user triangle cell,
    * a duplicate-edge cell (the distinct projection must collapse it),
    * and a 21-user hub cell the <= 20 cap must drop entirely. */
  private def writeEventsCorpus(): String = {
    import spark.implicits._
    val dir = scratch("coactmodel")
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val h1 = java.sql.Timestamp.valueOf("2024-01-01 01:10:00")
    val h2 = java.sql.Timestamp.valueOf("2024-01-01 02:10:00")
    val rows =
      Seq(1L, 2L, 3L).map(u => (u, "view", h0)) ++   // triangle cell
      Seq(2L, 3L).map(u => (u, "view", h1)) ++       // repeats edge (2,3)
      (100L to 120L).map(u => (u, "click", h2))      // 21 users: capped out
    rows.toDF("user_id", "event_type", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  /** orders + lineitem with two shared-pair customers and one singleton:
    * co-purchase pairs (10,20) x2 customers and (10,30)/(20,30) x1. */
  private def writePurchaseCorpus(): String = {
    import spark.implicits._
    val dir = scratch("copurmodel")
    Seq((1L, 11L), (2L, 12L), (3L, 13L)).toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 30L), (3L, 20L))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("co-activity artifact: cold build == warm deploy, hub cell capped, one train") {
    val dir = writeEventsCorpus()
    val t0 = ModelTelemetry.trains.get()
    val triCold = rows(GraphOps.triangleStats(spark, dir))
    // two builds: the pairs, then the edges over them
    assert(ModelTelemetry.trains.get() == t0 + 2, "first consumer cold-trains pairs + edges")
    // the cap dropped the 21-user cell; the duplicate edge collapsed
    assert(triCold == Seq(Seq(3L, 3L, 3L, 1L, 10000L)),
      s"expected the clean 3-node triangle census: $triCold")
    val prCold = rows(GraphOps.pagerank(spark, dir))
    val trCold = rows(GraphOps.temporalReach(spark, dir)) // pairs artifact
    assert(ModelTelemetry.trains.get() == t0 + 2,
      "pagerank and temporalReach must deploy the persisted chain")
    assert(rows(GraphOps.triangleStats(spark, dir)) == triCold,
      "triangles: deploy diverged from build")
    assert(rows(GraphOps.pagerank(spark, dir)) == prCold,
      "pagerank: deploy diverged from build")
    assert(rows(GraphOps.temporalReach(spark, dir)) == trCold,
      "temporalReach: deploy diverged from build")
  }

  test("co-activity invalidation: a changed events file forces a rebuild") {
    val dir = writeEventsCorpus()
    val first = rows(GraphOps.triangleStats(spark, dir))
    // assert on THIS corpus' fingerprints, never a global artifact count
    val fpBefore = ModelStore.fingerprint(dir, "events.parquet", "coact1").get
    assert(new java.io.File(ModelStore.Root, s"coactedges_$fpBefore").isDirectory,
      "cold build must persist the first fingerprint's edges")
    val pq = new java.io.File(dir, "events.parquet")
    pq.listFiles.foreach(f => assert(f.setLastModified(f.lastModified() + 60000L)))
    val fpAfter = ModelStore.fingerprint(dir, "events.parquet", "coact1").get
    assert(fpAfter != fpBefore, "the mtime bump must change the fingerprint")
    assert(rows(GraphOps.triangleStats(spark, dir)) == first,
      "same data must produce the same census")
    assert(new java.io.File(ModelStore.Root, s"coactedges_$fpAfter").isDirectory,
      "the rebuild must persist the new fingerprint's edges")
  }

  test("co-purchase artifact: cold projection == warm deploy, one train") {
    val dir = writePurchaseCorpus()
    val t0 = ModelTelemetry.trains.get()
    val cold = rows(GraphOps.copurchase(spark, dir))
    assert(ModelTelemetry.trains.get() == t0 + 1, "cold projection trains once")
    // (10,20) co-bought by all three customers; 30 pairs only with 13's
    assert(cold.head == Seq(10L, 20L, 3L), s"top pair must be (10,20)x3: $cold")
    assert(cold.toSet ==
      Set(Seq(10L, 20L, 3L), Seq(10L, 30L, 1L), Seq(20L, 30L, 1L)), s"pairs: $cold")
    assert(rows(GraphOps.copurchase(spark, dir)) == cold,
      "copurchase: deploy diverged from build")
    assert(ModelTelemetry.trains.get() == t0 + 1, "warm consumer must not retrain")
  }
}
