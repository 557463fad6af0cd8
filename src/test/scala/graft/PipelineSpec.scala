package graft

import graft.operators.{Geo, Pipeline}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpecBase {

  test("incremental runner: first run writes all layers, re-run writes nothing") {
    val out = scratch("pipe_spec")
    val first = Pipeline.runIncremental(spark, sfDir, out)
    assert(first.keySet == Set("clicks", "purchases"))
    assert(first.values.forall(_ > 0))
    val enriched1 = spark.read.parquet(s"$out/enriched")
      .select("layer", "zone_id", "n_points", "mean_value").localCheckpoint()
    // second run: nothing recomputed, outputs byte-identical
    val second = Pipeline.runIncremental(spark, sfDir, out)
    assert(second.isEmpty, s"re-run recomputed: $second")
    val enriched2 = spark.read.parquet(s"$out/enriched")
      .select("layer", "zone_id", "n_points", "mean_value")
    assert(enriched1.exceptAll(enriched2).isEmpty && enriched2.exceptAll(enriched1).isEmpty)
  }

  test("a NEW layer pair joins an existing catalog without recomputing old ones") {
    val out = scratch("pipe_spec2")
    val one = Seq(Pipeline.LayerSpec("clicks", "click"))
    val both = one :+ Pipeline.LayerSpec("errors", "error")
    assert(Pipeline.runIncremental(spark, sfDir, out, one).keySet == Set("clicks"))
    val added = Pipeline.runIncremental(spark, sfDir, out, both)
    assert(added.keySet == Set("errors"), s"expected only the new layer: $added")
    val layers = spark.read.parquet(s"$out/enriched")
      .select("layer").distinct().collect().map(_.getString(0)).toSet
    assert(layers == Set("clicks", "errors"))
  }

  test("pipeline stages conserve counts: tiles and enriched cover each layer's points") {
    val out = scratch("pipe_spec3")
    Pipeline.runIncremental(spark, sfDir, out)
    val zones = Geo.zones(spark, sfDir).count()
    val enriched = spark.read.parquet(s"$out/enriched")
    // LEFT JOIN semantics: every zone appears once per layer, empty zones kept
    assert(enriched.count() == 2 * zones)
    // tile n_features per layer == that layer's point count (tiling drops nothing)
    val tiled = spark.read.parquet(s"$out/tiles")
      .groupBy("layer").agg(sum("n_features").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map(
      "clicks" -> Geo.points(spark, sfDir).filter(col("event_type") === "click").count(),
      "purchases" -> Geo.points(spark, sfDir).filter(col("event_type") === "purchase").count())
    assert(tiled == expected, s"$tiled != $expected")
  }
}
