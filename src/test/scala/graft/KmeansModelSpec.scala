package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame

/** Pins the k-means model artifact (train-once / deploy-many — the BPE
  * artifact pattern applied to the quantizer chain): the first consumer
  * persists both Lloyd codebooks as parquet keyed by a filesystem
  * fingerprint of embeddings.parquet, and every deployed-artifact result
  * must be bit-identical to the cold fold — the artifact is a cache of a
  * deterministic computation (every stored value an exact BIGINT), never
  * a second code path with its own semantics. Also pins fingerprint
  * invalidation (a changed corpus file forces a retrain) and the
  * ModelTelemetry cold/warm accounting Bench's cold_hit column relies on. */
class KmeansModelSpec extends SparkSpecBase {

  /** A corpus dir with a real embeddings.parquet: 12 vectors, 4 dims,
    * 3 labels — small enough that two Lloyd rounds run in milliseconds,
    * structured enough (three separated blobs + stragglers) that the
    * rounds actually move assignments. */
  private def writeCorpus(): String = {
    import spark.implicits._
    val dir = scratch("kmmodel")
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    Seq(
      (0L, 0L, v(0.10, 0.11, 0.09, 0.10)), (1L, 0L, v(0.12, 0.10, 0.11, 0.09)),
      (2L, 0L, v(0.09, 0.12, 0.10, 0.11)), (3L, 1L, v(0.52, 0.50, 0.51, 0.49)),
      (4L, 1L, v(0.50, 0.52, 0.49, 0.51)), (5L, 1L, v(0.51, 0.49, 0.50, 0.52)),
      (6L, 2L, v(0.90, 0.91, 0.89, 0.92)), (7L, 2L, v(0.92, 0.89, 0.91, 0.90)),
      (8L, 2L, v(0.89, 0.92, 0.90, 0.91)), (9L, 0L, v(0.30, 0.31, 0.29, 0.30)),
      (10L, 1L, v(0.70, 0.69, 0.71, 0.70)), (11L, 2L, v(0.48, 0.53, 0.50, 0.50)))
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def cbRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy("c", "i"))

  test("artifact/fold parity: cold train == warm deploy, telemetry counts one train") {
    val dir = writeCorpus()
    val t0 = ModelTelemetry.trains.get()
    // first call finds no artifact: trains, persists, returns the fold
    val cold = rows(Similarity.kmeans(spark, dir))
    val cbCold = cbRows(Similarity.trainedCodebook(spark, dir))
    assert(ModelTelemetry.trains.get() == t0 + 1,
      "exactly the first consumer should cold-train (trainedCodebook must deploy)")
    // second call deploys the persisted codebooks — bit-identical rows
    assert(rows(Similarity.kmeans(spark, dir)) == cold, "kmeans: deploy diverged from fold")
    assert(cbRows(Similarity.trainedCodebook(spark, dir)) == cbCold,
      "trainedCodebook: deploy diverged from fold")
    assert(ModelTelemetry.trains.get() == t0 + 1, "warm consumers must not retrain")
    // the codebook schema survives the parquet roundtrip exactly
    val sch = Similarity.trainedCodebook(spark, dir).schema
    assert(sch.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("c", "bigint"), ("i", "int"), ("cS", "bigint"), ("n", "bigint")),
      s"warm codebook schema drifted: $sch")
  }

  test("fingerprint invalidation: a changed corpus file forces a retrain") {
    val dir = writeCorpus()
    val first = rows(Similarity.kmeans(spark, dir))
    // assert on THIS corpus' fingerprints, never a global artifact count —
    // the store is shared with concurrent suites / Verify runs
    val fpBefore = ModelStore.fingerprint(dir, "embeddings.parquet", "km2").get
    assert(new java.io.File(ModelStore.Root, s"km_$fpBefore").isDirectory,
      "cold train must persist the first fingerprint's codebook")
    val pq = new java.io.File(dir, "embeddings.parquet")
    val files = if (pq.isDirectory) pq.listFiles.toSeq else Seq(pq)
    files.foreach(f => assert(f.setLastModified(f.lastModified() + 60000L)))
    val fpAfter = ModelStore.fingerprint(dir, "embeddings.parquet", "km2").get
    assert(fpAfter != fpBefore, "the mtime bump must change the fingerprint")
    val second = rows(Similarity.kmeans(spark, dir))
    assert(second == first, "same data must learn the same clusters")
    assert(new java.io.File(ModelStore.Root, s"km_$fpAfter").isDirectory,
      "the retrain must persist the new fingerprint's codebook")
  }
}
