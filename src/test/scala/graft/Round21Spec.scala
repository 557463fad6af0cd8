package graft

import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-21 additions: the layered graph-ANN index (ann_graph_layered).
  * Pins (1) the recall floor the layers exist to buy — serving top-down
  * over the layered index recovers at least as much of the exact top-3
  * as the flat hybrid union (the r11 directive's acceptance bar; the
  * beam-trap measurement in ann_graph_recall is WHY the layers exist),
  * and (2) the artifact contract — cold build == warm deploy
  * bit-identically, hub edges live only between hub ids, and a corpus
  * mtime bump invalidates the fingerprint and retrains. */
class Round21Spec extends SparkSpecBase {

  private def corpusFrame(dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"), Similarity.norm("embedding").as("nrm"))
      .localCheckpoint()
  }

  private def recallOf(served: DataFrame, exact: DataFrame): (Long, Long) = {
    val hits = exact.join(served.select(col("qid"), col("cid")), Seq("qid", "cid")).count()
    (hits, exact.count())
  }

  test("ann_graph_layered: top-down serve recall >= flat hybrid recall") {
    val c = corpusFrame(sfDir)
    val exact = Similarity.bruteforceOn(c.filter(col("vec_id") < 10), c, 3)
      .select(col("qid"), col("cid")).localCheckpoint()
    val refined = Similarity.nndGraphs(c).last
    val backbone = Similarity.gsBackboneOn(c).localCheckpoint()
    val hybrid = Similarity.beamServe(c, refined.unionByName(backbone).distinct())
    val layered = Similarity.layeredServe(c, Similarity.layeredEdgesOn(c, refined))
    val (hHits, n) = recallOf(hybrid, exact)
    val (lHits, n2) = recallOf(layered, exact)
    assert(n == n2 && n > 0)
    val nCorpus = c.count()
    def perQ(served: DataFrame): Map[Long, Long] =
      exact.join(served.select(col("qid"), col("cid")), Seq("qid", "cid"))
        .groupBy("qid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lHits >= hHits,
      s"layered recall regressed below hybrid: layered $lHits/$n vs hybrid $hHits/$n " +
        s"(corpus n=$nCorpus, perq layered=${perQ(layered)} hybrid=${perQ(hybrid)})")
  }

  test("gr_betweenness: stress replay matches on diamond+tail bridged to a clique") {
    import spark.implicits._
    import graft.operators.GraphOps
    // diamond (1-2-4, 1-3-4) + tail (4-5-6) + bridge to a 5-clique —
    // multiple shortest paths (sigma > 1), a pure bridge (5), and the
    // densest local sigma/P blowup a small graph can make (the clique)
    val edges = (Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 10L))
      ++ (for { a <- 10L to 14L; b <- 10L to 14L if a < b } yield (a, b)))
    val df = edges.toDF("a", "b")
    val sym = df.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(df.select(col("b").as("src"), col("a").as("dst")))
    val got = GraphOps.betweennessOn(sym)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // independent replay: per-source BFS sigma + backward path counts
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
      .withDefaultValue(Seq())
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val srcs = nodes.take(GraphOps.BrandesSources)
    val stress = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val touch = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (s <- srcs) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Set(s)
      for (d <- 1 to GraphOps.BrandesDepth) {
        val nf = scala.collection.mutable.Map[Long, Long]()
        for (u <- frontier; w <- adj(u) if !dist.contains(w))
          nf(w) = nf.getOrElse(w, 0L) + sigma(u)
        nf.foreach { case (w, sg) => dist(w) = d; sigma(w) = sg }
        frontier = nf.keySet.toSet
      }
      val p = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for (d <- (GraphOps.BrandesDepth - 1) to 0 by -1;
           u <- dist.filter(_._2 == d).keys)
        p(u) = adj(u).filter(w => dist.get(w).contains(d + 1)).map(w => 1L + p(w)).sum
      for ((u, _) <- dist if u != s) {
        stress(u) += sigma(u) * p(u); touch(u) += 1L
      }
    }
    val expected = touch.keys.toSeq
      .map(u => (u, stress(u), touch(u)))
      .sortBy { case (u, st, _) => (-st, u) }
      .take(GraphOps.BrandesTopK)
      .zipWithIndex.map { case ((u, st, tc), i) => (i + 1L, u, st, tc) }
    assert(got == expected, s"got=$got\nexpected=$expected")
    // the bridge (5) must out-rank every clique member: all 6<->diamond
    // traffic routes through it, while clique paths are all length 1-2
    val rankOf = got.map(r => r._2 -> r._1).toMap
    assert(rankOf(5L) < (10L to 14L).map(rankOf).min,
      s"bridge node 5 should dominate the clique: $got")
  }

  /** A corpus dir with a real embeddings.parquet: 24 vectors in 3 well-
    * separated blobs, ids dense 0..23 so hubs (id % 8 == 0) exist in
    * every blob's range and the fixed entry (0, and 8 for query 0) is a
    * hub. */
  private def writeCorpus(): String = {
    import spark.implicits._
    val dir = scratch("nndlmodel")
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val base = Seq(v(1.0, 0.1, 0.0, 0.0), v(0.0, 1.0, 0.1, 0.0), v(0.0, 0.1, 1.0, 0.3))
    (0L until 24L).map { i =>
      val b = base((i % 3L).toInt)
      (i, i % 3L, b.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "label", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("layered artifact: cold build == warm deploy, hub edges hub-only, mtime invalidates") {
    val dir = writeCorpus()
    val t0 = ModelTelemetry.trains.get()
    val cold = rows(Similarity.graphLayered(spark, dir))
    // cold trains BOTH tiers: the nnd_ edge artifact and the nndl_ index
    assert(ModelTelemetry.trains.get() == t0 + 2,
      "cold layered build must train the refined graph + the layered index")
    assert(rows(Similarity.graphLayered(spark, dir)) == cold,
      "warm deploy diverged from the cold fold")
    assert(ModelTelemetry.trains.get() == t0 + 2, "warm consumers must not retrain")
    val fp = ModelStore.fingerprint(dir, "embeddings.parquet",
      s"nndl${Similarity.NnDescentK}x${Similarity.NnDescentRounds}h${Similarity.GsHubMod}k${Similarity.GsOutK}").get
    val art = spark.read.parquet(new java.io.File(ModelStore.Root, s"nndl_$fp").getPath)
    assert(art.select("layer").distinct().collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L),
      "the artifact must carry both layers")
    val badHub = art.filter(col("layer") === 1L)
      .filter(col("src") % Similarity.GsHubMod =!= 0L
        || col("dst") % Similarity.GsHubMod =!= 0L)
    assert(badHub.isEmpty, s"layer-1 edges must be hub-to-hub: ${badHub.head(3).toSeq}")
    // mtime bump => new fingerprint => retrain, same result
    val pq = new java.io.File(dir, "embeddings.parquet")
    val files = if (pq.isDirectory) pq.listFiles.toSeq else Seq(pq)
    files.foreach(f => assert(f.setLastModified(f.lastModified() + 60000L)))
    val fp2 = ModelStore.fingerprint(dir, "embeddings.parquet",
      s"nndl${Similarity.NnDescentK}x${Similarity.NnDescentRounds}h${Similarity.GsHubMod}k${Similarity.GsOutK}").get
    assert(fp2 != fp, "the mtime bump must change the fingerprint")
    assert(rows(Similarity.graphLayered(spark, dir)) == cold,
      "same data must serve the same neighbors after invalidation")
    assert(new java.io.File(ModelStore.Root, s"nndl_$fp2").isDirectory,
      "the retrain must persist the new fingerprint's index")
  }
}
