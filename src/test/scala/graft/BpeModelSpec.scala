package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame

/** Pins the BPE model artifact (train-once / deploy-many) against the
  * fold it caches: the dir-level entry points (bpeTrain / bpeEncode /
  * fertility) persist the learned merge table as parquet keyed by a
  * filesystem fingerprint of documents.parquet, and every deployed-artifact
  * result must be bit-identical to the pure fold over the same frame —
  * the artifact is a cache of a deterministic computation, never a second
  * code path with its own semantics. Also pins fingerprint invalidation:
  * a changed corpus file (mtime) must force a retrain, not serve the
  * stale model. */
class BpeModelSpec extends SparkSpecBase {

  /** A corpus dir with a real documents.parquet: train slice (chars
    * 1..40) = BpeSpec's hand-worked "aaaa bb cc dd", held-out slice
    * (41..80) = "aabb aaaa cc". Two docs so doc-level operators have a
    * nontrivial rollup. */
  private def writeCorpus(): String = {
    import spark.implicits._
    val dir = scratch("bpemodel")
    Seq(
      (1L, "en", "aaaa bb cc dd" + " " * 27 + "aabb aaaa cc"),
      (2L, "fr", "aaaa bb cc dd" + " " * 27 + "aabb aaaa cc"))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("artifact/fold parity: train, encode, fertility identical with and without the model") {
    val dir = writeCorpus()
    val docs = graft.sources.Tables.documents(spark, dir)
    // first dir-level call trains AND persists; the fold-only *On entry
    // points never touch the artifact — they are the ground truth
    val trainFirst = rows(TextAnalysis.bpeTrain(spark, dir))
    assert(trainFirst == rows(TextAnalysis.bpeTrainOn(docs)), "train: artifact path diverged from fold")
    // second call deploys the artifact (barrier-free replay) — same rows
    assert(rows(TextAnalysis.bpeTrain(spark, dir)) == trainFirst, "train: redeploy diverged")
    assert(rows(TextAnalysis.bpeEncode(spark, dir)) == rows(TextAnalysis.bpeEncodeOn(docs)),
      "encode: artifact path diverged from fold")
    assert(rows(TextAnalysis.fertility(spark, dir)) == rows(TextAnalysis.fertilityOn(docs)),
      "fertility: artifact path diverged from fold")
  }

  test("fingerprint invalidation: a changed corpus file forces a retrain") {
    val dir = writeCorpus()
    val docs = graft.sources.Tables.documents(spark, dir)
    val first = TextAnalysis.bpeMergesFor(spark, dir, docs)
    assert(first.nonEmpty)
    // shift every file's mtime — the fingerprint must change, so the
    // merges must be recomputed (observable: results still correct, and
    // the NEW fingerprint's artifact materializes). Assert on THIS
    // corpus' fingerprints, never a global artifact count — the store is
    // shared with concurrent suites / Verify runs.
    val tag = TextAnalysis.BpeRounds.toString
    val fpBefore = ModelStore.fingerprint(dir, "documents.parquet", tag).get
    assert(new java.io.File(ModelStore.Root, s"bpe_$fpBefore").isDirectory,
      "cold train must persist the first fingerprint's merges")
    val pq = new java.io.File(dir, "documents.parquet")
    val files = if (pq.isDirectory) pq.listFiles.toSeq else Seq(pq)
    files.foreach(f => assert(f.setLastModified(f.lastModified() + 60000L)))
    val fpAfter = ModelStore.fingerprint(dir, "documents.parquet", tag).get
    assert(fpAfter != fpBefore, "the mtime bump must change the fingerprint")
    val second = TextAnalysis.bpeMergesFor(spark, dir, docs)
    assert(second == first, "same data must learn the same merges")
    assert(new java.io.File(ModelStore.Root, s"bpe_$fpAfter").isDirectory,
      "the retrain must persist the new fingerprint's merges")
  }
}
