package graft

import graft.sources.{ManifestIO, Tables}
import org.apache.spark.sql.functions._

/** Z-order clustering (SURVEY.md §2.H io_zorder): the write-side proof that
  * the Morton key actually clusters — repartitionByRange(zkey) +
  * sortWithinPartitions gives pairwise-DISJOINT per-file key ranges, which
  * is the property that makes parquet min/max statistics skip files for
  * 2-D range predicates (Delta OPTIMIZE ZORDER's contract). */
class ZOrderSpec extends SparkSpecBase {

  private def keyed = Tables.events(spark, sfDir)
    .select(col("event_id"),
      ((col("event_id") * lit(7919L)) % lit(36000L)).as("gx"),
      ((col("event_id") * lit(104729L)) % lit(7000L)).as("gy"))
    .withColumn("zkey", ManifestIO.mortonKey(col("gx"), col("gy")))

  test("morton key interleaves and is order-isomorphic to the bit math") {
    val r = keyed.select("gx", "gy", "zkey").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (gx, gy, z) = (row.getLong(0), row.getLong(1), row.getLong(2))
      val expected = (0 until 16).map { i =>
        (((gx >> i) & 1L) << (2 * i)) | (((gy >> i) & 1L) << (2 * i + 1))
      }.sum
      assert(z == expected, s"gx=$gx gy=$gy")
      // de-interleaving recovers both coordinates — no bit collision
      val dx = (0 until 16).map(i => (((z >> (2 * i)) & 1L) << i)).sum
      val dy = (0 until 16).map(i => (((z >> (2 * i + 1)) & 1L) << i)).sum
      assert(dx == gx && dy == gy)
    }
  }

  test("native morton_interleave expression is bit-for-bit equal to the fold") {
    val diff = keyed
      .withColumn("zn", expr("morton_interleave(gx, gy)"))
      .filter(col("zn") =!= col("zkey"))
    assert(diff.isEmpty, "mask-spread diverges from the portable fold")
    // codegen actually engages: formatted plans star codegen'd stages, so
    // the projection computing the key must be starred
    val p = plan(keyed.withColumn("zn", expr("morton_interleave(gx, gy)")))
    assert(p.contains("* Project"), p)
  }

  test("range-clustered write yields disjoint per-file zkey ranges and exact reads") {
    val dir = scratch("zorder")
    keyed
      .repartitionByRange(8, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // per-file key ranges must not overlap: that is what turns a zkey range
    // predicate into file-level min/max skipping
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min("zkey").as("lo"), max("zkey").as("hi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length > 1, "want multiple files to prove disjointness")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $hi1 > $lo2")
      case _ =>
    }
    // a 2-D box query via the zkey-ordered layout returns exactly the
    // unclustered scan's rows
    val boxed = back.filter(col("gx") < 512 && col("gy") < 512)
    val expected = keyed.filter(col("gx") < 512 && col("gy") < 512)
    assert(boxed.count() == expected.count())
    assert(boxed.select("event_id").exceptAll(expected.select("event_id")).isEmpty)
  }
}
