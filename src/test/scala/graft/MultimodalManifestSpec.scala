package graft

import graft.operators.Multimodal
import graft.sources.{ManifestIO, Tables}
import org.apache.spark.sql.functions._

class MultimodalManifestSpec extends SparkSpecBase {

  test("decodeBatch emits one frame per 16 bytes with exact stub features") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val decoded = Multimodal.decodeBatch(spark, sfDir).collect()
    val byDoc = decoded.groupBy(_.docId)
    assert(byDoc.size == docs.size)
    // spot-check one doc end to end
    val (id, text) = docs.head
    val frames = byDoc(id).sortBy(_.frameIdx)
    val expected = text.getBytes("UTF-8").grouped(16).toArray
    assert(frames.length == expected.length)
    frames.zip(expected).foreach { case (f, bytes) =>
      assert(f.nBytes == bytes.length)
      assert(math.abs(f.meanByte - bytes.map(_ & 0xff).sum.toDouble / bytes.length) < 1e-12)
    }
  }

  test("frame sampling agrees with metadata frame counts") {
    val meta = Multimodal.metadata(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select("doc_id", "n_frames").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = Multimodal.frameSample(spark, sfDir)
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("frame_idx").as("maxi"))
      .collect()
    sampled.foreach { r =>
      val (id, n, maxi) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val frames = meta(id)
      assert(n == (frames + 3) / 4, s"doc $id: $n sampled of $frames")
      assert(maxi < frames)
    }
  }

  test("csv and json manifests round-trip schema and values") {
    val dir = scratch("io_spec")
    val part = Tables.part(spark, sfDir)
    ManifestIO.writeCsv(part, s"$dir/csv")
    ManifestIO.writeJson(part, s"$dir/json")
    val fromCsv = ManifestIO.readCsv(spark, s"$dir/csv", ManifestIO.manifestSchema)
    val fromJson = ManifestIO.readJson(spark, s"$dir/json", ManifestIO.manifestSchema)
    assert(fromCsv.schema == ManifestIO.manifestSchema)
    assert(fromCsv.exceptAll(part).isEmpty && part.exceptAll(fromCsv).isEmpty)
    assert(fromJson.exceptAll(part).isEmpty && part.exceptAll(fromJson).isEmpty)
  }

  test("appendMissing writes each key once (incremental skip)") {
    val dir = scratch("catalog")
    val firstHalf = Tables.part(spark, sfDir).filter(col("p_partkey") < 100)
    val all = Tables.part(spark, sfDir)
    val n1 = ManifestIO.appendMissing(spark, firstHalf, dir, "p_partkey")
    assert(n1 == firstHalf.count())
    val n2 = ManifestIO.appendMissing(spark, all, dir, "p_partkey")
    assert(n1 + n2 == all.count(), s"$n1 + $n2 != ${all.count()}")
    // idempotent: a third sync writes nothing
    assert(ManifestIO.appendMissing(spark, all, dir, "p_partkey") == 0)
    val cat = spark.read.parquet(dir)
    assert(cat.count() == all.count())
    assert(cat.select("p_partkey").distinct().count() == all.count())
  }

  test("appendMissing fails loudly on a corrupt catalog instead of treating it as a first write") {
    val dir = new java.io.File(scratch("corrupt_catalog"))
    assert(dir.mkdirs())
    val w = new java.io.PrintWriter(new java.io.File(dir, "part-00000.parquet"))
    w.println("not parquet"); w.close()
    def listing() = dir.listFiles().map(f => (f.getName, f.length)).sorted.toSeq
    val before = listing()
    intercept[org.apache.spark.SparkException] {
      ManifestIO.appendMissing(spark, Tables.part(spark, sfDir), dir.getPath, "p_partkey")
    }
    assert(listing() == before)
  }

  test("writePartitioned lays out one directory per partition value") {
    val dir = scratch("part_spec")
    ManifestIO.writePartitioned(Tables.orders(spark, sfDir), dir, "o_orderpriority", "o_orderkey")
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("o_orderpriority=")) == 5, dirs.mkString(","))
    val back = spark.read.parquet(dir)
    assert(back.count() == Tables.orders(spark, sfDir).count())
  }
}
