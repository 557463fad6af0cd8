package graft

import graft.operators.Geo
import org.apache.spark.sql.functions._

/** Proves the raw-point spatial join's (`Geo.pointZoneJoinOn`) 100 TB
  * shuffle path survives key skew: a real corpus concentrates points in a
  * few geographic cells (cities), and the cell-keyed sort-merge join then
  * hangs one straggler task on the hot cell unless AQE's skew-join split
  * fires. The aligned zonal core (`Geo.alignedZonal`) has no such hot key:
  * a city's points are one cell-partials row before any join. SURVEY §5 claims AQE handles
  * this — this spec makes the claim checkable: force the shuffle path
  * (gate off, no auto-broadcast), lower the skew thresholds to test-data
  * scale, synthesize a ~1000x hot cell, and assert BOTH that the final
  * adaptive plan actually split the skewed partition AND that results are
  * row-identical to the broadcast path. */
class SkewSpec extends SparkSpecBase {

  test("AQE splits the hot cell in the zonal sort-merge join, results identical") {
    import spark.implicits._
    // one hot cell (cx=0, cy=0: lon [0,20), lat [0,10)) with 50k points;
    // five cold cells with 50 each — ~1000x skew on the join key
    val hot = spark.range(50000).select(
      (col("id") % 2000 / 100.0).as("lon"),
      (col("id") % 900 / 100.0).as("lat"),
      lit(1.0).as("value"))
    val cold = spark.range(250).select(
      ((col("id") % 5 + 1) * 20.0 + 3.0).as("lon"),
      lit(12.0).as("lat"),
      lit(2.0).as("value"))
    val pts = hot.unionByName(cold).repartition(4).localCheckpoint()
    val zs = (0 to 5).map(i => (i.toLong, i * 20.0, if (i == 0) 0.0 else 10.0))
      .toDF("zone_id", "xmin", "ymin")
      .withColumn("xmax", col("xmin") + 20.0)
      .withColumn("ymax", col("ymin") + 10.0)

    val expected = Geo.pointZoneJoinOn(pts, zs)
      .groupBy("zone_id").agg(count(lit(1)).as("n")).orderBy("zone_id").collect()

    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("graft.broadcastGateBytes", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // production defaults (256 MB / factor 5) scaled to test-data bytes:
      // the hot partition (~50k rows) must cross the threshold, the split
      // target must be far below it
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")

      val skewed = Geo.pointZoneJoinOn(pts, zs)
        .groupBy("zone_id").agg(count(lit(1)).as("n")).orderBy("zone_id")
      val rows = skewed.collect()
      val finalPlan = skewed.queryExecution.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin") || finalPlan.contains("ShuffledHashJoin"),
        s"gate off should force a shuffle join:\n$finalPlan")
      assert(finalPlan.contains("skewed"),
        s"AQE did not split the hot cell partition:\n$finalPlan")
      assert(rows.toSeq == expected.toSeq,
        "skew-split results differ from broadcast-path results")
    } finally {
      conf.unset("graft.broadcastGateBytes")
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
