package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Geospatial re-expression of the reference pipeline (SURVEY.md §2.B).
  *
  * The reference computes zonal statistics as a PostGIS spatial join +
  * grouped AVG (pipeline/processing/stats.py:5-17), standardizes rasters by
  * clipping to a lon/lat box and reprojecting (batch/processing/raster.py:
  * 22-38), joins stats back to vector features by fid (pipeline/processing/
  * vector.py:6-13), and tiles the result into an XYZ pyramid with densest-
  * feature dropping (pipeline/processing/tiles.py:16-29).
  *
  * Geometry model: points carry (lon, lat) derived deterministically from
  * event keys via integer arithmetic (portable to the DuckDB oracle bit for
  * bit); zones are axis-aligned boxes derived from part keys — exactly the
  * grid-cell polygons the reference gets from ST_DumpAsPolygons
  * (pipeline/processing/inputs.py:7-17).
  *
  * Scale design: the point-in-zone join is NOT a nested-loop scan. Points
  * pre-aggregate into 1-degree cell partials (`cellPartials`, INT keys),
  * zones explode onto the unit cells they cover, and the join is an
  * equi-join on (fx, fy) — the standard shard-able spatial-join plan: at
  * 100 TB both sides hash-partition by cell, here the cell table is small
  * enough that `sizeGated` broadcasts it (`alignedZonal`).
  */
object Geo {

  // -- synthetic geometry (integer-derived => identical in Spark & DuckDB) --

  /** The ONE point-coordinate rule: a key's position as nonnegative
    * integer hundredths of a degree, (slon, slat) in [0, lonSpan) x
    * [0, latSpan) — lon = slon/100 - 180, lat = slat/100 - 35 over the
    * default [0, 36000) x [0, 7000) band. Every synthetic point derives
    * from it: `lonLat` (points, zs_epoch_delta, zs_line_clip's segment
    * starts), `centredX100` (zs_nearest_zone, ev_trajectory, and doubled,
    * zs_idw/zs_kde's stations), and the shifted integers themselves
    * (zs_buffer, io_zorder). zs_bilinear's query points run the same rule
    * over a band one cell narrower, so their 2x2 stencil stays inside
    * the grid. The oracles spell it `event_id * 7919 % 36000`. */
  private[graft] def hundredths(key: Column, lonSpan: Long = 36000L,
      latSpan: Long = 7000L): (Column, Column) =
    ((key * lit(7919L)) % lit(lonSpan), (key * lit(104729L)) % lit(latSpan))

  /** The rule's (lon, lat) doubles — one division of an exact integer,
    * the same expression as pointsSql's CAST(.. AS DOUBLE) / 100.0 - 180.0. */
  private[graft] def lonLat(key: Column): (Column, Column) = {
    val (s, t) = hundredths(key)
    (s.cast("double").divide(lit(100.0)).minus(lit(180.0)),
      t.cast("double").divide(lit(100.0)).minus(lit(35.0)))
  }

  /** The rule's exact centred x100 integers (a100 = lon*100,
    * b100 = lat*100). Rebuilt from the key, never from the double lon:
    * lon*100 is 3566.999... for some keys and truncates wrong. */
  private[graft] def centredX100(key: Column): (Column, Column) = {
    val (s, t) = hundredths(key)
    (s - lit(18000L), t - lit(3500L))
  }

  /** events -> points: lon in [-180, 180), lat in [-35, 35) — the
    * reference's clip band (batch/processing/config.py:18-21). */
  def points(spark: SparkSession, dir: String): DataFrame = {
    val (lon, lat) = lonLat(col("event_id"))
    events(spark, dir).select(
      col("event_id"), col("event_type"), col("value"), lon.as("lon"), lat.as("lat"))
  }

  private[graft] val pointsSql =
    """SELECT event_id, event_type, value,
      |  CAST(event_id * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
      |  CAST(event_id * 104729 % 7000 AS DOUBLE) / 100.0 - 35.0 AS lat
      |FROM events""".stripMargin

  /** part -> zones: 20x10-degree boxes [xmin,xmax) x [ymin,ymax). */
  def zones(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir).select(
      col("p_partkey").as("zone_id"),
      ((col("p_partkey") * lit(37L)) % lit(340L)).cast("double").minus(lit(180.0)).as("xmin"),
      ((col("p_partkey") * lit(61L)) % lit(60L)).cast("double").minus(lit(35.0)).as("ymin"))
      .withColumn("xmax", col("xmin") + lit(20.0))
      .withColumn("ymax", col("ymin") + lit(10.0))

  private[operators] val zonesSql =
    """SELECT p_partkey AS zone_id,
      |  CAST(p_partkey * 37 % 340 AS DOUBLE) - 180.0 AS xmin,
      |  CAST(p_partkey * 61 % 60 AS DOUBLE) - 35.0 AS ymin,
      |  CAST(p_partkey * 37 % 340 AS DOUBLE) - 160.0 AS xmax,
      |  CAST(p_partkey * 61 % 60 AS DOUBLE) - 25.0 AS ymax
      |FROM part""".stripMargin

  /** Cell-bucketed spatial join: zone side exploded onto its covering grid
    * cells, point side keyed by its single cell, equi-join + exact
    * containment. Result identical to the naive theta-join the oracle runs.
    *
    * Cell size = zone extent (20x10 deg): each zone covers <=4 cells. A
    * finer 10x5 grid was measured SLOWER here (more broadcast rows + probe
    * overhead beat the better filter selectivity at this density). At
    * 100 TB both sides hash-partition on (cx,cy) instead of broadcasting;
    * the same plan shape survives. */
  val CellW = 20.0
  val CellH = 10.0

  /** Size-gated broadcast: hint `derived` for broadcast ONLY when the
    * optimizer's size estimate of `base` (its pre-explode source — explode
    * destroys sizeInBytes estimates, which is exactly why Catalyst+AQE
    * mis-plan these joins as sort-merge on a handful of cell keys) times
    * the fan-out factor fits the broadcast threshold. A corpus-sized side
    * fails the gate and hash-partitions instead — measured: the ungated
    * hint broke at 100x (round-1 verdict), the unhinted SMJ on ~126 cell
    * keys was 4-25x slower at sf0.1 (round-2 bench). The gate threshold is
    * a runtime conf so a deployment (or the parity spec) can force the
    * hash-partitioned path: graft.broadcastGateBytes=0 turns every
    * size-gated hint off. */
  private val BroadcastGateBytes = 64L * 1024 * 1024
  private[graft] def sizeGated(base: DataFrame, derived: DataFrame, fanout: Long = 4L): DataFrame = {
    val gate = base.sparkSession.conf
      .get("graft.broadcastGateBytes", BroadcastGateBytes.toString).toLong
    val est = base.queryExecution.optimizedPlan.stats.sizeInBytes * fanout
    if (est <= gate) broadcast(derived) else derived
  }

  /** Generic form: any points DataFrame with (lon, lat) columns against any
    * zones DataFrame with (xmin, ymin, xmax, ymax) box columns — the
    * raw-point path, for boxes that need not be integer-aligned. No
    * registry key reaches it (the keys run `alignedZonal`); it stays as the
    * reference the specs compare the aligned core against. */
  def pointZoneJoinOn(points: DataFrame, zones: DataFrame): DataFrame = {
    val z = zones
      .withColumn("cx", explode(expr(
        s"sequence(CAST(floor(xmin / $CellW) AS INT), CAST(floor(xmax / $CellW) AS INT))")))
      .withColumn("cy", explode(expr(
        s"sequence(CAST(floor(ymin / $CellH) AS INT), CAST(floor(ymax / $CellH) AS INT))")))
    val p = points
      .withColumn("cx", floor(col("lon") / lit(CellW)).cast("int"))
      .withColumn("cy", floor(col("lat") / lit(CellH)).cast("int"))
    p.join(sizeGated(zones, z), Seq("cx", "cy")).filter(
      col("lon") >= col("xmin") && col("lon") < col("xmax")
        && col("lat") >= col("ymin") && col("lat") < col("ymax"))
  }

  /** Generic zonal statistics over any point/zone DataFrames. LEFT JOIN
    * shape like the reference (stats.py:9-13): a zone with no intersecting
    * points still emits a row (n_points 0, NULL stats) — sparse rasters
    * (cloud-masked) hit this constantly. */
  def zonalStatsOn(points: DataFrame, zones: DataFrame, valueCol: String = "value"): DataFrame = {
    val stats = pointZoneJoinOn(points, zones)
      .groupBy("zone_id")
      .agg(
        count(lit(1)).as("n_points"),
        dmean(col(valueCol)).as("mean_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
    zones.select("zone_id").join(stats, Seq("zone_id"), "left")
      .select(col("zone_id"), coalesce(col("n_points"), lit(0L)).as("n_points"),
        col("mean_value"), col("min_value"), col("max_value"))
  }

  // ------------------------------------------------------------ operators

  /** Clip to a bbox (batch raster standardization: gdal -projwin/-te). The
    * predicate is a plain range filter => pushdown-able when lon/lat are
    * materialized columns; here they are derived, so it folds into the
    * scan's projection stage. */
  def clip(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir)
      .filter(col("lon") >= lit(-20.0) && col("lon") < lit(60.0)
        && col("lat") >= lit(-10.0) && col("lat") < lit(30.0))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_points"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")

  /** Affine reprojection (gdalwarp linear re-grid): x' = a*x + b. Pure
    * double arithmetic, row-parallel, no shuffle. */
  def affine(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir)
      .filter(col("event_id") < lit(100L))
      .select(col("event_id"),
        (col("lon") * lit(0.5) + lit(10.0)).as("x_proj"),
        (col("lat") * lit(2.0) - lit(5.0)).as("y_proj"))
      .orderBy("event_id")

  /** Exact long-cents accumulator: `value` is 2-decimal fixed-point, so
    * round(value*100) is its exact integer numerator (the *100 can be 1 ulp
    * off an integer; round snaps it — never a .5 tie). Long sums are
    * codegen-fast where Decimal(18,4) sums carry overflow-checked two-phase
    * state (measured ~2s of a 4s zonal query at sf0.1). Bit-exactness:
    * sum_cents K is exact in a long; K < 2^53 (corpus sum of 100x values —
    * holds to ~10^11 rows x 500.0 values), so cast(double)/100.0 is the
    * correctly-rounded double of K/100 — the SAME double the oracle's
    * CAST(SUM(DECIMAL(18,4)) AS DOUBLE) produces. Queries summing values
    * that are not fixed-point stay on the decimal path. */
  private val valueCents: Column = round(col("value") * lit(100)).cast("long")
  private def centsToDouble(centsSum: Column): Column =
    centsSum.cast("double") / lit(100.0)

  /** A point's 1-degree cell as INT (fx, fy). INT, not BIGINT: two INT join
    * keys pack into one long, so a broadcast cell table builds a
    * LongHashedRelation — with BIGINT keys it is an UnsafeHashedRelation
    * and the explode-and-probe stage measured ~3x the CPU. */
  private def cellKeys(pts: DataFrame): DataFrame =
    pts.withColumn("fx", floor(col("lon")).cast("int"))
      .withColumn("fy", floor(col("lat")).cast("int"))

  /** The ONE point -> 1-degree cell partials rule: (fx, fy, cell_n,
    * cell_cents[, cell_min, cell_max]) per occupied cell. Counts, cents
    * sums, min and max re-aggregate associatively, so any union of whole
    * cells rolls up to exactly the raw-point aggregate. The table is
    * geometry-bounded (<= one row per occupied cell of the clip band,
    * 360x70) but its optimizer estimate follows the points input, so
    * callers gate its broadcast on that: `sizeGated(pts, cellPartials(pts), 1L)`. */
  private def cellPartials(pts: DataFrame, minMax: Boolean = false): DataFrame = {
    val aggs = Seq(count(lit(1)).as("cell_n"), sum(valueCents).as("cell_cents")) ++
      (if (minMax) Seq(min(col("value")).as("cell_min"), max(col("value")).as("cell_max"))
       else Nil)
    cellKeys(pts).groupBy("fx", "fy").agg(aggs.head, aggs.tail: _*)
  }

  /** The aligned zonal core (zs_zonal_stats, zs_vector_enrich,
    * Pipeline.enrichLayer): per-zone (zone_id, xmin, ymin, n_points,
    * mean_value[, min_value, max_value]) over integer-degree box zones
    * of positive extent (`sequence` counts down when xmax - 1 < xmin).
    *
    * The zones are integer-aligned, so a 1-degree cell lies wholly inside
    * or wholly outside each zone: a cell belongs to a zone exactly when
    * (fx, fy) is in [xmin, xmax) x [ymin, ymax). Each zone explodes onto
    * its unit cells and probes the cell-partials table on (fx, fy): no
    * theta predicate, 200 INT-keyed probes per 20x10 zone. The join is
    * LEFT OUTER and the aggregate runs once per zone, so every
    * zone is kept (n_points 0, NULL stats — stats.py:9-13 / vector.py:6-13)
    * without a second join back onto the zones.
    *
    * The zone side is spread with a round-robin `repartition` first: AQE
    * coalesces a small post-aggregate shuffle into one partition, which
    * would otherwise run the whole explode-and-probe stage as one task. */
  private[graft] def alignedZonal(pts: DataFrame, zs: DataFrame, minMax: Boolean): DataFrame = {
    val stats = Seq(
      coalesce(sum(col("cell_n")), lit(0L)).as("n_points"),
      (centsToDouble(sum(col("cell_cents"))) / sum(col("cell_n"))).as("mean_value")) ++
      (if (minMax) Seq(min(col("cell_min")).as("min_value"), max(col("cell_max")).as("max_value"))
       else Nil)
    zs.repartition(zs.sparkSession.sparkContext.defaultParallelism)
      .withColumn("fx", explode(expr("sequence(CAST(xmin AS INT), CAST(xmax AS INT) - 1)")))
      .withColumn("fy", explode(expr("sequence(CAST(ymin AS INT), CAST(ymax AS INT) - 1)")))
      .join(sizeGated(pts, cellPartials(pts, minMax), 1L), Seq("fx", "fy"), "left_outer")
      .groupBy("zone_id", "xmin", "ymin")
      .agg(stats.head, stats.tail: _*)
  }

  /** Zonal statistics: the reference's core query (stats.py query_1),
    * generalized from AVG to the full suite, via the aligned core.
    *
    * LEFT JOIN fidelity (stats.py:9-13): zones with zero intersecting
    * points stay in the output (n_points 0, NULL stats). The part-derived
    * zones always land inside the point band, so a deterministic off-band
    * sentinel zone (zone_id -1, lat 40..50 — above the reference's -35..35
    * clip band, so provably point-free) pins the empty-zone row in the
    * driver gate at every SF. */
  def zonalStats(spark: SparkSession, dir: String): DataFrame = {
    val z = zones(spark, dir).unionByName(
      spark.range(1).select(lit(-1L).as("zone_id"),
        lit(-170.0).as("xmin"), lit(40.0).as("ymin"),
        lit(-150.0).as("xmax"), lit(50.0).as("ymax")))
    alignedZonal(points(spark, dir), z, minMax = true)
      .select("zone_id", "n_points", "mean_value", "min_value", "max_value")
      .orderBy("zone_id")
  }

  // -- the raster core: the 1-degree cell table the terrain keys build and
  //    walk (the reference's ST_DumpAsPolygons pixels, inputs.py:7-17) --

  /** The ONE 1-degree density grid: (fx, fy, n) per occupied cell, BIGINT
    * keys floor(lon)/floor(lat) — the elevation raster of every terrain
    * key. (`cellKeys` stays the INT-keyed zonal twin.) */
  private def densityGrid(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir)
      .withColumn("fx", floor(col("lon")).cast("long"))
      .withColumn("fy", floor(col("lat")).cast("long"))
      .groupBy("fx", "fy").agg(count(lit(1)).as("n"))

  /** The value grid: (fx, fy, cell_sum, cell_n) per occupied 1-degree
    * cell, keys shifted nonnegative (fx + 180, fy + 35) so Spark `div` =
    * DuckDB `//`, values summed as exact DECIMAL(18,4). */
  private def valueGrid(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir)
      .withColumn("fx", (floor(col("lon")).cast("long") + lit(180L)))
      .withColumn("fy", (floor(col("lat")).cast("long") + lit(35L)))
      .groupBy("fx", "fy")
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("cell_sum"),
        count(lit(1)).as("cell_n"))

  /** The ONE neighbor-offset window: each row fans out map-side onto the
    * (2rx + 1) x (2ry + 1) integer offsets (dx, dy) around it — a literal
    * window, no join. */
  private def offsetWindow(df: DataFrame, rx: Int, ry: Int): DataFrame =
    df.withColumn("dx", explode(sequence(lit(-rx), lit(rx))))
      .withColumn("dy", explode(sequence(lit(-ry), lit(ry))))

  /** The ONE copy of the D8 neighbor direction tables (index d = 0..7,
    * E counter-clockwise); the oracle-side dirs VALUES lists must stay in
    * this order. */
  private val D8dxA = "array(1, 1, 0, -1, -1, -1, 0, 1)"
  private val D8dyA = "array(0, 1, 1, 1, 0, -1, -1, -1)"

  /** Direction d's entry of a D8 table (element_at is 1-based). */
  private def d8At(table: String): Column = expr(s"element_at($table, CAST(d + 1 AS INT))")

  /** The ONE D8 neighbor step: each cell of an (fx, fy, n) grid explodes
    * onto its 8 neighbors d = 0..7 and probes the grid for the neighbor's
    * count on the computed key (nx, ny) — one equi-join on the cell table,
    * never a theta join. Columns (nx, ny, fx, fy, n, d, nn); under a
    * `left_outer` probe nn is NULL for an absent neighbor. */
  private def d8Step(cells: DataFrame, how: String): DataFrame =
    cells
      .withColumn("d", explode(expr("sequence(0, 7)")))
      .withColumn("nx", col("fx") + d8At(D8dxA))
      .withColumn("ny", col("fy") + d8At(D8dyA))
      .join(cells.select(col("fx").as("nx"), col("fy").as("ny"), col("n").as("nn")),
        Seq("nx", "ny"), how)

  /** The ONE east/north adjacency probe: every 4-adjacent pair of occupied
    * cells once — each cell joins its east (fx + 1, fy) and north
    * (fx, fy + 1) neighbor on the computed key. Returns `cols` of the cell
    * and of the neighbor, the latter suffixed "2". */
  private def eastNorthPairs(cells: DataFrame, cols: String*): DataFrame = {
    def probe(dx: Long, dy: Long) = cells
      .withColumn("ax", col("fx") + lit(dx))
      .withColumn("ay", col("fy") + lit(dy))
      .join(cells.select(Seq(col("fx").as("ax"), col("fy").as("ay")) ++
        cols.map(c => col(c).as(c + "2")): _*), Seq("ax", "ay"))
      .select(cols.map(col) ++ cols.map(c => col(c + "2")): _*)
    probe(1L, 0L).unionByName(probe(0L, 1L))
  }

  /** Grid downsample (raster block aggregation, gdal BLOCKXSIZE): fine
    * 1-degree cells -> coarse 4x4 blocks. Partial decimal sums carry up the
    * pyramid so the coarse aggregate reuses fine-level work — one shuffle
    * per level keyed by the parent cell. */
  def gridDownsample(spark: SparkSession, dir: String): DataFrame =
    valueGrid(spark, dir)
      .withColumn("cx", (col("fx") / lit(4L)).cast("long"))
      .withColumn("cy", (col("fy") / lit(4L)).cast("long"))
      .groupBy("cx", "cy")
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("cell_n")).as("n_points"),
        (sum(col("cell_sum")).cast("double") / sum(col("cell_n"))).as("mean_value"))
      .orderBy("cx", "cy")

  /** Focal (neighborhood) statistics — the raster convolution the GDAL
    * toolchain runs as focal mean / kernel smoothing: each 1-degree cell's
    * smoothed value is the 3x3-weighted sum of its neighbors' point counts
    * (binomial kernel 1-2-1 ⊗ 1-2-1: corners 1, edges 2, center 4, /16).
    * Plan: aggregate the sparse cell grid ONCE, then each source cell
    * SCATTERS its contribution to its 9 covering targets (explode of the
    * 3x3 offsets — a gather would need an outer join per neighbor) and one
    * groupBy on the target key re-aggregates. Two shuffles total, both on
    * the compact cell table, never on raw points; weights are integer so
    * the weighted sum is exact (the /16 mean stays a single double
    * division of exact integers). Empty neighborhoods simply don't exist:
    * only cells reachable from an occupied cell appear — same sparse
    * semantics as a sparse-matrix convolution. */
  def focalMean(spark: SparkSession, dir: String): DataFrame =
    offsetWindow(densityGrid(spark, dir), 1, 1)
      .select((col("fx") + col("dx")).as("tx"), (col("fy") + col("dy")).as("ty"),
        (col("n") * (lit(2L) - abs(col("dx"))) * (lit(2L) - abs(col("dy")))).as("w"))
      .groupBy("tx", "ty")
      .agg(sum(col("w")).as("wsum"), count(lit(1)).as("n_contrib"))
      .withColumn("smooth", col("wsum").cast("double") / lit(16.0))
      .orderBy("tx", "ty")

  /** D8 FLOW DIRECTION (zs_flowdir) — the drainage primitive of raster
    * terrain analysis (GDAL DEM / hydrology tooling — the reference's
    * raster stack domain): treat the point-density grid as elevation;
    * each occupied cell drains to its steepest-DESCENT neighbor among
    * the 8, with the diagonal's 1/sqrt(2) distance weight FROZEN as the
    * scaled-integer pair 10 (cardinal) / 7 (diagonal) — the zs_hexbin
    * rule: an irrational constant in a discrete decision must become an
    * integer literal or it flips cross-engine at some corpus size.
    * Absent neighbors are elevation 0 (water drains off the occupied
    * region), so only interior cells at a local minimum emit the SINK
    * verdict (dir -1). Ties break to the smallest direction code.
    * Output: the direction histogram + total weighted drop — the
    * distribution a hydrology pipeline checks before flow accumulation.
    *
    * Scale: the dense (cell x 8) grid joins the cell table to itself on
    * the COMPUTED neighbor key — one equi-join on the compact cell
    * table, never on raw points (the focal_mean posture); per-cell
    * argmax fans in exactly 8 rows; the rollup is 9 keys. */
  def flowDir(spark: SparkSession, dir: String): DataFrame =
    flowDirOn(densityGrid(spark, dir))

  /** Per-cell D8 selection (fx, fy, n, d, nx, ny, nn, eff at the argmax
    * direction) — shared by zs_flowdir's histogram and zs_flowaccum's
    * drainage forest. */
  private[graft] def flowSel(cellsIn: DataFrame): DataFrame = {
    val cells = cellsIn
      .localCheckpoint() // grid base + neighbor lookup side
    val wSel = Window.partitionBy("fx", "fy").orderBy(col("eff").desc, col("d").asc)
    d8Step(cells, "left_outer")
      .withColumn("w", d8At("array(10, 7, 10, 7, 10, 7, 10, 7)"))
      .withColumn("nn", coalesce(col("nn"), lit(0L)))
      .withColumn("eff", expr("(n - nn) * w"))
      .withColumn("rn", row_number().over(wSel))
      .filter(col("rn") === 1)
  }

  /** Same operator over any (fx, fy, n) cell grid — Round12Spec pins
    * the peak/sink/tie cases on hand-built 3x3 grids. */
  def flowDirOn(cellsIn: DataFrame): DataFrame =
    flowSel(cellsIn)
      .withColumn("flow_dir",
        when(col("eff") <= 0, lit(-1L)).otherwise(col("d").cast("long")))
      .groupBy("flow_dir")
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("eff") > 0, col("eff")).otherwise(lit(0L))).as("sum_eff"))
      .orderBy("flow_dir")

  /** Accumulation rounds of zs_flowaccum (the gr_khop bounded-round
    * rule: full accumulation iterates to the longest drainage path —
    * unbounded — so the checked operator reports the within-R-hops
    * upstream count, the same honest cap as the BFS/Bellman-Ford
    * queries). */
  val FlowAccumRounds = 4

  /** D8 FLOW ACCUMULATION (zs_flowaccum) — the step after zs_flowdir in
    * every hydrology stack (GDAL/TauDEM): how much upstream area drains
    * THROUGH each cell. The drainage graph is a forest (each cell has
    * at most one outgoing edge — its argmax direction — and edges to
    * EMPTY cells leave the grid: those cells are OUTLETs), so
    * acc_R(v) = 1 + sum of acc_{R-1} over inflow neighbors counts each
    * upstream cell within R hops exactly once (unique paths in a
    * forest). Output: the top-25 accumulation cells with their class —
    * interior (drains to an occupied cell), outlet (drains off-grid),
    * sink (no descending neighbor) — the cells where streams form.
    *
    * Scale: per round ONE co-partitioned (edges x acc) join + a
    * map-side-combinable inflow sum (the gr_sssp per-round shape),
    * rounds localCheckpointed; edges are cell-table-sized, never
    * point-sized. */
  def flowAccum(spark: SparkSession, dir: String): DataFrame =
    flowAccumOn(densityGrid(spark, dir))

  /** Same operator over any (fx, fy, n) cell grid — Round12Spec pins a
    * hand-worked chain (path longer than R shows the cap). */
  def flowAccumOn(cellsIn: DataFrame): DataFrame = {
    val sel = flowSel(cellsIn)
      .localCheckpoint() // consumers: edges, class column, cell base
    val base = sel.select(col("fx"), col("fy"))
      .localCheckpoint() // per-round left-join spine
    val edges = sel.filter(col("eff") > 0 && col("nn") > 0)
      .select(col("fx").as("ux"), col("fy").as("uy"),
        col("nx").as("vx"), col("ny").as("vy"))
      .localCheckpoint() // one join per round
    var acc = base.withColumn("acc", lit(1L)).localCheckpoint()
    for (_ <- 1 to FlowAccumRounds) {
      val inflow = edges
        .join(acc.select(col("fx").as("ux"), col("fy").as("uy"), col("acc")),
          Seq("ux", "uy"))
        .groupBy(col("vx").as("fx"), col("vy").as("fy"))
        .agg(sum(col("acc")).as("inflow"))
      acc = base.join(inflow, Seq("fx", "fy"), "left_outer")
        .select(col("fx"), col("fy"),
          (coalesce(col("inflow"), lit(0L)) + lit(1L)).as("acc"))
        .localCheckpoint() // next round + final read
    }
    acc.join(sel.select(col("fx"), col("fy"),
        when(col("eff") <= 0, lit("sink"))
          .when(col("nn") === 0, lit("outlet"))
          .otherwise(lit("interior")).as("cell_class")),
      Seq("fx", "fy"))
      .orderBy(col("acc").desc, col("fx"), col("fy"))
      .limit(25)
      .select(col("fx"), col("fy"), col("acc"), col("cell_class"))
      .orderBy(col("acc").desc, col("fx"), col("fy"))
  }

  /** WATERSHED LABELING (zs_watershed) — the basin decomposition that
    * completes the hydrology trio (zs_flowdir: where each cell drains;
    * zs_flowaccum: how much drains through; zs_watershed: WHICH BASIN
    * each cell belongs to): the drainage graph is a forest, so its
    * undirected connected components ARE the basins — an edge u->v
    * always stays inside v's root's tree, so two basins never share an
    * edge and no ridge-merging can occur. Components via the
    * pointer-doubling loop (basin chains are drainage-path-length deep
    * — the polygonize O(log d) rule); basin id = min cell label
    * (deterministic). Output: top-20 basins by size with cell count,
    * elevation mass, and the ROOT class (sink or outlet — every basin
    * has exactly one root, the one cell with no out-edge).
    *
    * Scale: everything downstream of the cell table — the component
    * loop's per-round traffic is O(#cells) label rows (the polygonize
    * audit), never points. */
  def watershed(spark: SparkSession, dir: String): DataFrame =
    watershedOn(densityGrid(spark, dir))

  /** Per-cell basin labels (the flowSel frame + its component id) —
    * shared by zs_watershed's basin rollup and zs_ridge's boundary
    * extraction. */
  private[graft] def basinLabels(cellsIn: DataFrame): DataFrame = {
    // cell-id stride 1024 covers ANY lat in [-512, 512) — watershedOn /
    // ridgeOn are documented generic over (fx, fy, n) grids, so a
    // lat-[-35,35) stride (the old *70) would silently alias distinct
    // cells from a wider-lat caller into one id and merge unrelated basins
    val sel = flowSel(cellsIn)
      .withColumn("id", expr("(fx + 180) * 1024 + (fy + 512)"))
      .withColumn("tid", expr("(nx + 180) * 1024 + (ny + 512)"))
      .localCheckpoint() // edge build + node set + the final join back
    val edges = sel.filter(col("eff") > 0 && col("nn") > 0)
      .select(col("id").as("src"), col("tid").as("dst"))
    val comp = GraphOps.minLabelComponentsDoubling(sel.select(col("id")),
      GraphOps.sym(edges, "src", "dst"))
    sel.join(comp, Seq("id"))
  }

  /** Same operator over any (fx, fy, n) cell grid — Round12Spec pins
    * two separated channels resolving to two basins with their roots. */
  def watershedOn(cellsIn: DataFrame): DataFrame =
    basinLabels(cellsIn)
      .withColumn("root_class",
        when(col("eff") <= 0, lit("sink"))
          .when(col("nn") === 0, lit("outlet"))
          .otherwise(lit(null).cast("string")))
      .groupBy(col("comp").as("basin_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("mass"),
        max(col("root_class")).as("root_class"))
      .orderBy(col("n_cells").desc, col("basin_id"))
      .limit(20)

  /** Isoline levels of zs_contour (cell point-count thresholds). */
  val ContourLevels = Seq(2L, 5L, 10L, 20L)

  /** CONTOUR DENSITY (zs_contour) — marching-squares-lite isoline
    * extraction over the density raster: for each level L, a contour
    * segment is a 4-adjacent OCCUPIED cell pair whose counts straddle L
    * (min < L <= max), counted once via the E/N-only adjacency probes
    * (the zs_ridge posture — equi-joins on computed neighbor keys, never
    * a theta join); n_cells_above is the hypsometric companion (area at
    * or above each level). Borders against EMPTY cells are not segments
    * by definition here — the isoline is drawn between sampled cells
    * (pinned in Round13Spec on a hand-built step grid).
    *
    * Scale: two cell-table-sized equi-joins + a |levels| fan-out on the
    * bounded pair frame, rollups map-side-combinable on 4 keys; the
    * level spine keeps empty levels visible. */
  def contour(spark: SparkSession, dir: String): DataFrame =
    contourOn(densityGrid(spark, dir))

  /** Same operator over any (fx, fy, n) cell grid. */
  def contourOn(cellsIn: DataFrame): DataFrame = {
    val c = cellsIn.localCheckpoint() // both probe sides x2 + area counts
    val lv = array(ContourLevels.map(lit): _*)
    val segs = eastNorthPairs(c, "n")
      .withColumn("level", explode(lv))
      .filter(least(col("n"), col("n2")) < col("level")
        && greatest(col("n"), col("n2")) >= col("level"))
      .groupBy("level").agg(count(lit(1)).as("ns"))
    val above = c.withColumn("level", explode(lv))
      .filter(col("n") >= col("level"))
      .groupBy("level").agg(count(lit(1)).as("na"))
    val spine = c.sparkSession.range(1, ContourLevels.length + 1L)
      .select(element_at(lv, col("id").cast("int")).as("level"))
    spine.join(segs, Seq("level"), "left_outer")
      .join(above, Seq("level"), "left_outer")
      .select(col("level"),
        coalesce(col("ns"), lit(0L)).as("n_segments"),
        coalesce(col("na"), lit(0L)).as("n_cells_above"))
      .orderBy("level")
  }

  /** RIDGE EXTRACTION (zs_ridge) — the divide lines between watersheds
    * (zs_shared_borders' hydrology sibling): a ridge segment is a
    * 4-adjacent cell pair whose members belong to DIFFERENT basins;
    * each border counted once via E/N-only adjacency probes (two
    * equi-joins on computed neighbor keys — the zs_flowdir posture,
    * never a theta join). Output: the top-15 basin-pair divides by
    * segment count (least/greatest pair canonicalization, unique
    * tiebreak) — where a drainage analyst looks for the watershed
    * boundary.
    *
    * Scale: the labeled cell frame joins itself twice on computed
    * (fx+1, fy) / (fx, fy+1) keys — co-partitionable, cell-table-sized;
    * the pair rollup is map-side-combinable. */
  def ridge(spark: SparkSession, dir: String): DataFrame =
    ridgeOn(densityGrid(spark, dir))

  /** Same operator over any (fx, fy, n) cell grid — Round12Spec pins
    * the two-channel grid's single divide. */
  def ridgeOn(cellsIn: DataFrame): DataFrame = {
    val lab = basinLabels(cellsIn).select(col("fx"), col("fy"), col("comp"))
      .localCheckpoint() // both sides of both adjacency joins
    eastNorthPairs(lab, "comp")
      .filter(col("comp") =!= col("comp2"))
      .groupBy(least(col("comp"), col("comp2")).as("basin_a"),
        greatest(col("comp"), col("comp2")).as("basin_b"))
      .agg(count(lit(1)).as("n_segments"))
      .orderBy(col("n_segments").desc, col("basin_a"), col("basin_b"))
      .limit(15)
  }

  /** Stats joined back onto every zone feature (vector.py query_1 is a LEFT
    * JOIN so empty zones keep their geometry, stats NULL): the aligned core
    * already keeps every zone, so the enrich is its projection. */
  def vectorEnrich(spark: SparkSession, dir: String): DataFrame =
    vectorEnrichOn(points(spark, dir), zones(spark, dir)).orderBy("zone_id")

  /** Generic form: any (lon, lat, value) points frame against any
    * integer-aligned box zones frame (Pipeline.enrichLayer reuses it per
    * layer). */
  def vectorEnrichOn(pts: DataFrame, zs: DataFrame): DataFrame =
    alignedZonal(pts, zs, minMax = false)

  // -- tiling (tippecanoe re-expression, plate-carree XYZ grid: 2^z x 2^z,
  //    pure arithmetic => bitwise portable; a Web-Mercator variant lives in
  //    the spec suite where transcendental libm differences don't matter) --

  val Zoom = 10

  private def tileCols(zoom: Int): (Column, Column) = {
    val n = (1L << zoom).toDouble
    (floor((col("lon") + lit(180.0)) / lit(360.0) * lit(n)).cast("long"),
      floor((lit(90.0) - col("lat")) / lit(180.0) * lit(n)).cast("long"))
  }

  private def tileSqlExprs(zoom: Int): (String, String) = {
    val n = (1L << zoom).toDouble
    (s"CAST(floor((lon + 180.0) / 360.0 * $n) AS BIGINT)",
      s"CAST(floor((90.0 - lat) / 180.0 * $n) AS BIGINT)")
  }

  /** Quadkey digits: interleave tx/ty bits, MSB first (Bing tile scheme). */
  private def quadkeyCol(zoom: Int): Column =
    concat((zoom - 1 to 0 by -1).map { i =>
      (shiftright(col("tx"), i) % lit(2L) + (shiftright(col("ty"), i) % lit(2L)) * lit(2L))
        .cast("string")
    }: _*)

  private def quadkeySql(zoom: Int): String =
    (zoom - 1 to 0 by -1).map { i =>
      s"CAST(((tx >> $i) & 1) + ((ty >> $i) & 1) * 2 AS VARCHAR)"
    }.mkString(" || ")

  /** Generic form over any (lon, lat, value) points DataFrame. */
  def tileAssignOn(pts: DataFrame): DataFrame = {
    val (tx, ty) = tileCols(Zoom)
    pts
      .withColumn("tx", tx).withColumn("ty", ty)
      .withColumn("quadkey", quadkeyCol(Zoom))
      .groupBy("tx", "ty", "quadkey")
      .agg(count(lit(1)).as("n_features"), dsum(col("value")).as("sum_value"))
  }

  /** lon/lat -> XYZ tile + quadkey at zoom 10, per-tile feature counts. */
  def tileAssign(spark: SparkSession, dir: String): DataFrame =
    tileAssignOn(points(spark, dir)).orderBy("tx", "ty")

  /** The z10 base both pyramids roll up: (tx, ty, cents, n) per occupied
    * tile, value summed as exact long cents (`valueCents`), so every level
    * above re-aggregates long sums and `centsToDouble` gives the same
    * correctly rounded double a DECIMAL(18,4) sum cast to double does. */
  private def tileBase(spark: SparkSession, dir: String): DataFrame = {
    val (tx, ty) = tileCols(Zoom)
    points(spark, dir)
      .withColumn("tx", tx).withColumn("ty", ty)
      .groupBy("tx", "ty")
      .agg(sum(valueCents).as("cents"), count(lit(1)).as("n"))
  }

  /** Tile pyramid rollup z10 -> z6: parent key is a bit shift of the child
    * key, so each level is one shuffle over pre-aggregated partials
    * (tippecanoe's per-zoom generation, --maximum-zoom=10). */
  def tilePyramid(spark: SparkSession, dir: String): DataFrame =
    tileBase(spark, dir)
      .withColumn("tx6", shiftright(col("tx"), 4))
      .withColumn("ty6", shiftright(col("ty"), 4))
      .groupBy("tx6", "ty6")
      .agg(
        count(lit(1)).as("n_child_tiles"),
        sum(col("n")).as("n_features"),
        centsToDouble(sum(col("cents"))).as("sum_value"))
      .orderBy("tx6", "ty6")

  /** Densest-feature dropping (tippecanoe --drop-densest-as-needed): keep
    * the top-10 features per z6 tile by value; rank ties broken by id so
    * the kept set is deterministic. */
  def featureDrop(spark: SparkSession, dir: String): DataFrame = {
    val (tx, ty) = tileCols(6)
    val w = Window.partitionBy("tx", "ty").orderBy(col("value").desc, col("event_id").asc)
    points(spark, dir)
      .withColumn("tx", tx).withColumn("ty", ty)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(10))
      .select("tx", "ty", "rank", "event_id", "value")
      .orderBy("tx", "ty", "rank")
  }

  /** CRS detection by value-range fingerprinting (batch/processing/
    * raster.py:14-19 reads the source CRS; when metadata is absent, range
    * heuristics are the standard fallback): a layer whose coords fit
    * [-180,180]x[-90,90] is geographic; otherwise projected. Checked over
    * the raw layer and an affine-projected copy in one union scan. */
  def crsDetect(spark: SparkSession, dir: String): DataFrame = {
    val raw = points(spark, dir).select(lit("raw").as("layer"), col("lon").as("x"), col("lat").as("y"))
    val proj = points(spark, dir).select(lit("projected").as("layer"),
      (col("lon") * lit(111320.0)).as("x"), (col("lat") * lit(110540.0)).as("y"))
    raw.unionByName(proj)
      .groupBy("layer")
      .agg(min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .withColumn("crs_guess",
        when(col("min_x") >= -180.0 && col("max_x") <= 180.0
          && col("min_y") >= -90.0 && col("max_y") <= 90.0, lit("geographic"))
          .otherwise(lit("projected")))
      .orderBy("layer")
  }

  /** Per-layer CRS manifest (batch/processing/raster.py:14-19 reads the real
    * source CRS via gdalsrsinfo before deciding how to standardize a
    * layer). Layers derive from nation keys; odd keys carry a projected CRS
    * plus integer affine params back to the common grid. */
  def layerManifest(spark: SparkSession, dir: String): DataFrame =
    nation(spark, dir).select(
      col("n_nationkey").cast("long").as("layer_id"),
      when(col("n_nationkey") % 2 === 0, lit("EPSG:4326"))
        .otherwise(lit("EPSG:6933")).as("crs"),
      (col("n_nationkey") % 3 + 1).cast("double").as("sx"),
      (col("n_nationkey") % 5 + 1).cast("double").as("sy"),
      (col("n_nationkey") * 7 % 100).cast("double").as("dx"),
      (col("n_nationkey") * 11 % 100).cast("double").as("dy"),
      // which band of the multi-band source this layer standardizes
      // (gdal_translate -b row['band'], raster.py:34) — cycles 1..3 so
      // bands 2 and 3 are both exercised on translate-branch layers
      (col("n_nationkey") % 3 + 1).cast("long").as("band"))

  private val layerManifestSql =
    """SELECT CAST(n_nationkey AS BIGINT) AS layer_id,
      |  CASE WHEN n_nationkey % 2 = 0 THEN 'EPSG:4326' ELSE 'EPSG:6933' END AS crs,
      |  CAST(n_nationkey % 3 + 1 AS DOUBLE) AS sx,
      |  CAST(n_nationkey % 5 + 1 AS DOUBLE) AS sy,
      |  CAST(n_nationkey * 7 % 100 AS DOUBLE) AS dx,
      |  CAST(n_nationkey * 11 % 100 AS DOUBLE) AS dy,
      |  CAST(n_nationkey % 3 + 1 AS BIGINT) AS band
      |FROM nation""".stripMargin

  /** Metadata-driven standardization dispatch: geographic layers pass
    * through untouched (gdal_translate), projected layers run their
    * per-layer affine back to the common grid (gdalwarp) — the branch the
    * reference takes per raster at raster.py:14-19, expressed as ONE
    * declarative plan: broadcast the manifest (genuinely O(#layers) — a
    * justified broadcast, unlike per-row tables) and branch per row with
    * `when`, so Catalyst sees a single scan + hash join, no driver-side
    * per-layer loop. Integer affine params x 2-decimal coords stay exact.
    * The translate branch also selects the manifest's BAND from the
    * multi-band source (gdal_translate -b row['band'], raster.py:34) via
    * element_at on the band-value array. */
  def crsDispatch(spark: SparkSession, dir: String): DataFrame = {
    val m = layerManifest(spark, dir)
    points(spark, dir)
      .withColumn("layer_id", col("event_id") % 25)
      // the multi-band source pixel: band k = value * 2^(k-1) — powers of
      // two keep 2-decimal doubles exact on both engines
      .withColumn("bands", array(col("value"), col("value") * 2, col("value") * 4))
      .join(broadcast(m), Seq("layer_id"))
      .withColumn("x_std",
        when(col("crs") === "EPSG:4326", col("lon"))
          .otherwise(col("lon") * col("sx") + col("dx")))
      .withColumn("y_std",
        when(col("crs") === "EPSG:4326", col("lat"))
          .otherwise(col("lat") * col("sy") + col("dy")))
      // band pick mirrors the reference's split: the translate branch
      // honors the manifest band (gdal_translate -b, raster.py:34); the
      // warp branch standardizes the default first band (raster.py:20-29
      // passes no -b to gdalwarp)
      .withColumn("band_used",
        when(col("crs") === "EPSG:4326", col("band")).otherwise(lit(1L)))
      .withColumn("v_band", element_at(col("bands"), col("band_used").cast("int")))
      .groupBy("layer_id", "crs", "band_used")
      .agg(
        count(lit(1)).as("n_points"),
        dsum(col("x_std")).as("sum_x"),
        dsum(col("y_std")).as("sum_y"),
        dsum(col("v_band")).as("sum_band_value"))
      .orderBy("layer_id")
  }

  /** Write a tile pyramid as the z/x/y directory artifact the reference
    * produces with tippecanoe --output-to-directory (tiles.py:16-31):
    * parquet partitioned by zoom/tx/ty — one directory per tile, so a tile
    * server's point read prunes to a single leaf and never scans
    * neighbors. */
  def writeTileDirectory(pyramid: DataFrame, path: String): Unit =
    pyramid.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("zoom", "tx", "ty")
      .parquet(path)

  /** Triangle zones — real polygons, not boxes (the reference's zone layers
    * are arbitrary polygons tested with ST_Intersects). Vertices are
    * integer-derived: A = (ax, ay), B = A + (w, 0), C = A + (0, h) with
    * w in 10..24, h in 6..13 — integer coordinates, so every cross product
    * below is exact in doubles. */
  def triZones(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir).select(
      col("p_partkey").as("zone_id"),
      ((col("p_partkey") * lit(53L)) % lit(330L)).cast("double").minus(lit(180.0)).as("ax"),
      ((col("p_partkey") * lit(89L)) % lit(55L)).cast("double").minus(lit(35.0)).as("ay"),
      (col("p_partkey") % lit(15L) + lit(10L)).cast("double").as("w"),
      (col("p_partkey") % lit(8L) + lit(6L)).cast("double").as("h"))

  private val triZonesSql =
    """SELECT p_partkey AS zone_id,
      |  CAST(p_partkey * 53 % 330 AS DOUBLE) - 180.0 AS ax,
      |  CAST(p_partkey * 89 % 55 AS DOUBLE) - 35.0 AS ay,
      |  CAST(p_partkey % 15 + 10 AS DOUBLE) AS w,
      |  CAST(p_partkey % 8 + 6 AS DOUBLE) AS h
      |FROM part""".stripMargin

  /** Point-in-triangle via two exact sign tests in the triangle's local
    * frame (right triangle A, A+(w,0), A+(0,h)): dx,dy >= 0 and
    * h*dx + w*dy <= w*h. Products of 2-decimal points with integer extents
    * are exact doubles — bit-identical across engines. */
  private val triContains =
    "dx >= 0 AND dy >= 0 AND h * dx + w * dy <= w * h"

  /** Zonal statistics over TRIANGLE zones — interior/boundary cell split
    * (the raster-block trick generalized to polygons; reference analog:
    * ST_Intersects with a spatial index, stats.py:5-17).
    *
    * The triangle's legs are axis-aligned at INTEGER coordinates (triZones),
    * so they lie exactly on 1-degree cell boundaries: every cell of the bbox
    * automatically satisfies dx,dy >= 0 and only the hypotenuse constraint
    * h*dx + w*dy <= w*h discriminates. A bbox cell is
    *   - INTERIOR  iff its far corner passes:  h*(fx+1-ax) + w*(fy+1-ay) <= w*h
    *   - OUTSIDE   iff its near corner fails:  h*(fx-ax)   + w*(fy-ay)   >  w*h
    *   - BOUNDARY  otherwise (hypotenuse crosses the cell — O(w+h) of them).
    * All classification arithmetic is pure integers — exact. Interior cells
    * contribute pre-aggregated `cellPartials` rows (one row per cell instead of
    * one exact test per point); only boundary cells run the per-point sign
    * test, which is the identical double expression the oracle runs, and a
    * point in an interior cell clears the hypotenuse by >= 0.01*h — far
    * above double rounding — so membership agrees bit-for-bit with the
    * oracle's per-point test. Cents partials re-aggregate associatively:
    * the final mean is bit-identical to the naive plan.
    * Measured at sf0.1: 3.5s (exact test on all candidates) -> ~1s. */
  def triZonalStats(spark: SparkSession, dir: String): DataFrame = {
    val zc = triZones(spark, dir)
      // one cell PAST the legs' extent on each axis: a point exactly on
      // vertex B (lon = ax+w) or C (lat = ay+h) satisfies the closed
      // containment but lives in the next cell; the near-corner filter
      // prunes everything else in that extra row/column
      .withColumn("fx", explode(expr(
        "sequence(CAST(ax AS INT), CAST(ax + w AS INT))")))
      .withColumn("fy", explode(expr(
        "sequence(CAST(ay AS INT), CAST(ay + h AS INT))")))
      .withColumn("far", col("h") * (col("fx") + 1 - col("ax")) + col("w") * (col("fy") + 1 - col("ay")))
      .withColumn("near", col("h") * (col("fx") - col("ax")) + col("w") * (col("fy") - col("ay")))
      .filter(col("near") <= col("w") * col("h"))
      .withColumn("interior", col("far") <= col("w") * col("h"))
    val pts = points(spark, dir)
    // interior path: cell-level partials, no per-point test; the gate keys
    // on the points input (see cellPartials): broadcast at test SFs,
    // hash-partition at corpus scale (where 25k rows shuffle trivially)
    val interiorPart = zc.filter(col("interior"))
      .select("zone_id", "fx", "fy")
      .join(sizeGated(pts, cellPartials(pts), 1L), Seq("fx", "fy"))
      .select(col("zone_id"), col("cell_n").as("n"), col("cell_cents").as("cents"))
    // boundary path: exact sign test, same expression as the oracle; the
    // boundary cell set is O(zones x perimeter) — gate with that fan-out
    val boundaryPart = cellKeys(pts)
      .join(sizeGated(triZones(spark, dir),
        zc.filter(!col("interior")).select("zone_id", "fx", "fy", "ax", "ay", "w", "h"),
        32L), Seq("fx", "fy"))
      .withColumn("dx", col("lon") - col("ax"))
      .withColumn("dy", col("lat") - col("ay"))
      .filter(expr(triContains))
      .groupBy("zone_id")
      .agg(count(lit(1)).as("n"), sum(valueCents).as("cents"))
    interiorPart.unionByName(boundaryPart)
      .groupBy("zone_id")
      .agg(
        sum(col("n")).as("n_points"),
        (centsToDouble(sum(col("cents"))) / sum(col("n"))).as("mean_value"))
      .orderBy("zone_id")
  }

  // -- arbitrary-polygon zones (reference: real MultiPolygons run through
  //    make-valid / ST_Intersects, pipeline/processing/inputs.py:46-61 +
  //    stats.py:5-17; boxes and triangles above are the special cases) --

  /** Concave pentagon zones — a box with a notch cut into the top edge, so
    * the shape is NOT convex and only a general containment test works.
    * All vertices are integer-derived: A=(ax,ay), B=(ax+w,ay), C=(ax+w,ay+h),
    * D=(ax+wDIV2, ay+h-d) [the reflex notch], E=(ax,ay+h), with w in 10..24,
    * h in 6..13, d in 2..5 < h. Geometry is an array<struct<x,y>> column —
    * the general vertex-list form, not per-shape columns. */
  def polyZones(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir).select(
      col("p_partkey").as("zone_id"),
      ((col("p_partkey") * lit(53L)) % lit(330L)).cast("double").minus(lit(180.0)).as("ax"),
      ((col("p_partkey") * lit(89L)) % lit(55L)).cast("double").minus(lit(35.0)).as("ay"),
      (col("p_partkey") % lit(15L) + lit(10L)).as("wl"),
      (col("p_partkey") % lit(8L) + lit(6L)).as("hl"),
      (col("p_partkey") % lit(4L) + lit(2L)).as("dl"))
      .withColumn("w", col("wl").cast("double"))
      .withColumn("h", col("hl").cast("double"))
      .withColumn("hx", expr("CAST(wl DIV 2 AS DOUBLE)"))
      .withColumn("nd", col("dl").cast("double"))
      .withColumn("verts", array(
        struct(col("ax").as("x"), col("ay").as("y")),
        struct((col("ax") + col("w")).as("x"), col("ay").as("y")),
        struct((col("ax") + col("w")).as("x"), (col("ay") + col("h")).as("y")),
        struct((col("ax") + col("hx")).as("x"), (col("ay") + col("h") - col("nd")).as("y")),
        struct(col("ax").as("x"), (col("ay") + col("h")).as("y"))))
      .select("zone_id", "ax", "ay", "w", "h", "hx", "nd", "verts")

  /** Zonal statistics over ARBITRARY polygons, interior/boundary cell split.
    *
    * This is the reference's ST_Intersects plan — coarse spatial index,
    * then exact geometry — with the raster-block trick: 1-degree bbox cells
    * are classified against the polygon so interior cells contribute
    * pre-aggregated `cellPartials` rows and ONLY boundary cells run a
    * per-point test (the all-candidates pnpoly ran 13M interpreted
    * higher-order-function calls at sf0.1 — 122s; this plan is ~100x less
    * exact-test work and the remaining test is codegen'd arithmetic).
    *
    * Geometry: the pentagon is exactly box MINUS notch triangle
    * E(ax,ay+h)-C(ax+w,ay+h)-D(ax+hx,ay+h-nd). Two half-plane functions
    *   f1(x,y) = (y-(ay+h))*hx + nd*(x-ax)          (E-D line, >0 above)
    *   f2(x,y) = (y-(ay+h-nd))*(w-hx) - nd*(x-(ax+hx)) (D-C line, >0 left/above)
    * reproduce pnpoly's verdict EXACTLY for every representable point:
    * inside <=> in the half-open box AND NOT (f1 >= 0 AND f2 > 0). (pnpoly
    * boundary conventions, verified edge by edge: points on open E-D are
    * outside, on open D-C inside, vertex D inside, box right/top edges
    * outside — which is why candidate cells span only [ax,ax+w-1] x
    * [ay,ay+h-1].)
    *
    * The per-point test runs in EXACT 64-bit INTEGER arithmetic: 2-decimal
    * coords are not exact doubles (0.2 isn't representable), so points
    * lying mathematically ON a notch line get rounding-noise verdicts that
    * differ between float expression shapes — ~5k such points exist per
    * axis at sf0.1 (verified by exact integer count). round(coord*100)
    * recovers the exact integer numerator, f1/f2 become pure long
    * arithmetic, and the oracle computes the identical integers, so
    * membership is the exact rational answer on both engines for every
    * input — no boundary luck. f1/f2 are linear, so cell classification
    * needs only the extreme corners (f1 grows in +x+y; f2 in -x+y):
    *   drop      iff f1min >= 0 AND f2min > 0   (cell inside the notch)
    *   interior  iff f1max < 0 OR  f2max <= 0   (cell clear of the notch)
    *   boundary  otherwise — per-point exact integer f1/f2 test. */
  def polyZonalStats(spark: SparkSession, dir: String): DataFrame = {
    val zc = polyZones(spark, dir)
      .withColumn("fx", explode(expr("sequence(CAST(ax AS INT), CAST(ax + w - 1 AS INT))")))
      .withColumn("fy", explode(expr("sequence(CAST(ay AS INT), CAST(ay + h - 1 AS INT))")))
      .withColumn("f1max",
        (col("fy") + 1 - col("ay") - col("h")) * col("hx") + col("nd") * (col("fx") + 1 - col("ax")))
      .withColumn("f2max",
        (col("fy") + 1 - col("ay") - col("h") + col("nd")) * (col("w") - col("hx"))
          - col("nd") * (col("fx") - col("ax") - col("hx")))
      .withColumn("f1min",
        (col("fy") - col("ay") - col("h")) * col("hx") + col("nd") * (col("fx") - col("ax")))
      .withColumn("f2min",
        (col("fy") - col("ay") - col("h") + col("nd")) * (col("w") - col("hx"))
          - col("nd") * (col("fx") + 1 - col("ax") - col("hx")))
      .filter(!(col("f1min") >= 0 && col("f2min") > 0))
      .withColumn("interior", col("f1max") < 0 || col("f2max") <= 0)
    val pts = points(spark, dir)
    val interiorPart = zc.filter(col("interior"))
      .select("zone_id", "fx", "fy")
      .join(sizeGated(pts, cellPartials(pts, minMax = true), 1L), Seq("fx", "fy"))
      .select(col("zone_id"), col("cell_n").as("n"), col("cell_cents").as("cents"),
        col("cell_min").as("min_v"), col("cell_max").as("max_v"))
    val boundaryPart = cellKeys(pts)
      .withColumn("a", round(col("lon") * lit(100)).cast("long"))
      .withColumn("b", round(col("lat") * lit(100)).cast("long"))
      .join(sizeGated(part(spark, dir),
        zc.filter(!col("interior"))
          .select(col("zone_id"), col("fx"), col("fy"),
            (col("ax") * 100).cast("long").as("ax100"),
            ((col("ay") + col("h")) * 100).cast("long").as("top100"),
            col("hx").cast("long").as("hxl"), col("nd").cast("long").as("ndl"),
            (col("w") - col("hx")).cast("long").as("rwl")),
        32L), Seq("fx", "fy"))
      .withColumn("f1i",
        (col("b") - col("top100")) * col("hxl") + col("ndl") * (col("a") - col("ax100")))
      .withColumn("f2i",
        (col("b") - col("top100") + col("ndl") * 100L) * col("rwl")
          - col("ndl") * (col("a") - col("ax100") - col("hxl") * 100L))
      .filter(!(col("f1i") >= 0 && col("f2i") > 0))
      .groupBy("zone_id")
      .agg(count(lit(1)).as("n"), sum(valueCents).as("cents"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    interiorPart.unionByName(boundaryPart)
      .groupBy("zone_id")
      .agg(
        sum(col("n")).as("n_points"),
        (centsToDouble(sum(col("cents"))) / sum(col("n"))).as("mean_value"),
        min(col("min_v")).as("min_value"),
        max(col("max_v")).as("max_value"))
      .orderBy("zone_id")
  }

  /** Full pyramid z10 -> z0 in step-2 levels (tippecanoe generates every
    * zoom from max down to --minimum-zoom). Each level aggregates the
    * PREVIOUS level's partials — one shuffle per level on the parent key,
    * never re-reading the base data; the per-level long-cents partial sums
    * carry up exactly. */
  def tilePyramidFull(spark: SparkSession, dir: String): DataFrame = {
    val base = tileBase(spark, dir).withColumn("zoom", lit(Zoom))
    val levels = Iterator.iterate((base, Zoom)) { case (prev, z) =>
      val nz = z - 2
      (prev
        .withColumn("ptx", shiftright(col("tx"), 2))
        .withColumn("pty", shiftright(col("ty"), 2))
        .groupBy("ptx", "pty")
        .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n"))
        .withColumnRenamed("ptx", "tx").withColumnRenamed("pty", "ty")
        .withColumn("zoom", lit(nz)), nz)
    }.takeWhile(_._2 >= 0).map(_._1).toSeq
    levels.reduce(_ unionByName _)
      .select(col("zoom"), col("tx"), col("ty"), col("n").as("n_features"),
        centsToDouble(col("cents")).as("sum_value"))
      .orderBy("zoom", "tx", "ty")
  }

  /** True Web-Mercator tiling at zoom 8 (tippecanoe's actual projection;
    * the oracle-checked zs_tile_assign uses plate-carree because ln/tan
    * results are not bit-portable across engines). Rows-only check; the
    * GeoSpec pins fixed points (equator -> ty = 2^(z-1)) and monotonicity. */
  val MercZoom = 8
  def webmercator(spark: SparkSession, dir: String): DataFrame = {
    val n = (1L << MercZoom).toDouble
    val latRad = col("lat") * lit(math.Pi / 180.0)
    points(spark, dir)
      .withColumn("tx", floor((col("lon") + lit(180.0)) / lit(360.0) * lit(n)).cast("long"))
      .withColumn("ty", floor(
        (lit(1.0) - log(tan(latRad) + lit(1.0) / cos(latRad)) / lit(math.Pi)) / lit(2.0) * lit(n))
        .cast("long"))
      .groupBy("tx", "ty")
      .agg(count(lit(1)).as("n_features"), dsum(col("value")).as("sum_value"))
      .orderBy("tx", "ty")
  }

  // -- raster polygonization (reference: ST_DumpAsPolygons merges contiguous
  //    same-value pixel regions into polygons before the spatial join,
  //    pipeline/processing/inputs.py:7-17) --

  /** Rasterize points into 1-degree cells with a discrete value class
    * (cell point-count mod 4 — integer, deterministic in any engine) and a
    * unique integer cell label. lon in [-180,180), lat in [-35,35) =>
    * label = (fx+180)*70 + (fy+35) is injective. */
  private def classedCells(spark: SparkSession, dir: String): DataFrame =
    densityGrid(spark, dir)
      .withColumn("cls", col("n") % lit(4L))
      .withColumn("lbl", (col("fx") + lit(180L)) * lit(70L) + (col("fy") + lit(35L)))

  /** Raster polygonization: merge 4-adjacent same-class cells into regions
    * by iterative min-label propagation (hash-min connected components).
    *
    * Plan shape: adjacency edges come from two SHIFTED EQUI-joins (right
    * neighbor, up neighbor — key (fx+1, fy, cls) vs (fx, fy, cls)), never a
    * theta self-join; each round is one shuffle of O(#cells) label rows,
    * localCheckpointed to cut lineage. Rounds needed = region graph
    * diameter; classes are pseudo-random mod-4 so regions are subcritical
    * (percolation p=0.25 < 0.59) and converge in a handful of rounds. At
    * 100 TB the same loop holds (labels are one row per OCCUPIED cell, not
    * per point); for adversarial snake-shaped regions swap in
    * large-star/small-star pointer doubling for O(log d) rounds.
    * The converged labeling is the unique per-region min — independent of
    * iteration order, so deterministic and oracle-checkable (the oracle
    * computes the same fixpoint as a recursive-CTE transitive closure). */
  def polygonize(spark: SparkSession, dir: String): DataFrame =
    cellRegions(spark, dir)
      .groupBy(col("region_id"), col("cls"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("n")).as("n_points"),
        min(col("fx")).as("rxmin"), max(col("fx")).as("rxmax"),
        min(col("fy")).as("rymin"), max(col("fy")).as("rymax"))
      .orderBy("region_id")

  /** Per-cell converged region labels (the loop itself); exposed for the
    * adjacency-invariant spec. */
  private[graft] def cellRegions(spark: SparkSession, dir: String): DataFrame = {
    val cells = classedCells(spark, dir).localCheckpoint()
    val half = eastNorthPairs(cells, "cls", "lbl")
      .filter(col("cls") === col("cls2"))
      .select(col("lbl").as("src"), col("lbl2").as("dst"))
    val edges = half.unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    // pointer doubling (O(log d) rounds), NOT hash-min (O(d)): same-class
    // raster regions (coastlines, contour bands) have diameter proportional
    // to grid width, so at 100x rasters hash-min's round count — and its
    // round cap — both become real (measured 8 rounds already at sf0.1).
    // Round5Spec pins this path to the doubling loop.
    val labels = GraphOps.minLabelComponentsDoubling(cells.select(col("lbl").as("id")), edges)
    cells.join(labels, cells("lbl") === labels("id"))
      .select(col("fx"), col("fy"), col("n"), col("cls"), col("comp").as("region_id"))
  }

  /** Low-zoom simplification (tiles.py feeds tippecanoe --simplification):
    * snap coordinates to a 1-degree grid and collapse coincident features,
    * keeping the representative (min event_id) + collapse count. */
  def simplify(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir)
      .withColumn("snap_lon", floor(col("lon")).cast("long"))
      .withColumn("snap_lat", floor(col("lat")).cast("long"))
      .groupBy("snap_lon", "snap_lat")
      .agg(
        min(col("event_id")).as("rep_event_id"),
        count(lit(1)).as("n_collapsed"),
        dsum(col("value")).as("sum_value"))
      .orderBy("snap_lon", "snap_lat")

  /** Polygon measures — ST_Area / ST_Centroid analog (the reference stores
    * real polygon layers; any vector pipeline reports feature area and
    * centroid). Shoelace over the generic array<struct<x,y>> vertex list:
    * vertices are integer-valued (polyZones), so the doubled signed area
    * and the centroid numerators are EXACT 64-bit integers on both engines,
    * and the centroid is one double division of identical integers —
    * deterministic with no rounding discipline needed (SURVEY §4 rule (b)).
    * Per-feature O(n_verts) map work, no shuffle at all until the ORDER BY:
    * at 100 TB this is embarrassingly parallel scan work. */
  def polyArea(spark: SparkSession, dir: String): DataFrame = {
    def ringSum(term: String) = expr(
      s"""aggregate(sequence(1, size(verts)), CAST(0 AS LONG), (acc, i) -> acc + ($term))"""
        .replace("X1", "CAST(element_at(verts, i).x AS LONG)")
        .replace("Y1", "CAST(element_at(verts, i).y AS LONG)")
        .replace("X2", "CAST(element_at(verts, i % size(verts) + 1).x AS LONG)")
        .replace("Y2", "CAST(element_at(verts, i % size(verts) + 1).y AS LONG)"))
    polyZones(spark, dir)
      .withColumn("area2", ringSum("X1 * Y2 - X2 * Y1"))
      .withColumn("cxn", ringSum("(X1 + X2) * (X1 * Y2 - X2 * Y1)"))
      .withColumn("cyn", ringSum("(Y1 + Y2) * (X1 * Y2 - X2 * Y1)"))
      .select(col("zone_id"), col("area2"),
        (col("cxn").cast("double") / (col("area2") * 3).cast("double")).as("cx"),
        (col("cyn").cast("double") / (col("area2") * 3).cast("double")).as("cy"))
      .orderBy("zone_id")
  }

  /** Nearest-zone-centroid join — the kNN (k=1) spatial join every
    * enrichment pipeline needs ("attach each point to its closest admin
    * centroid"). Semantics: nearest centroid among the 3x3 grid cells
    * around the point (bounded-radius nearest neighbor — the standard
    * scale formulation; an unbounded nearest would be a cross join).
    * Distance is squared euclidean in exact x100 integers; the argmin is
    * min(struct(d2, zone_id)) — lexicographic struct min, map-side
    * combinable, so the shuffle carries ONE row per point, not the ~9-cell
    * candidate fan-in (a row_number window would shuffle every candidate).
    * Points whose 3x3 window holds no centroid are dropped (inner join).
    *
    * Cell size is the kNN tuning knob and must track NEIGHBOR DENSITY, not
    * the zonal-join cell size: with the zonal 20x10-degree cells a 3x3
    * window held ~1,400 of the sf0.1 centroids, so the candidate join
    * materialized ~140M pairs (74.8s in BENCH_r03 — the round-3 outlier).
    * 2x1-degree cells hold ~2 centroids each (~18 candidates per point,
    * ~100x fewer pairs) at the same argmin plan shape. At 100 TB the rule
    * stands: pick the cell so the expected window population is O(10). */
  def nearestZone(spark: SparkSession, dir: String): DataFrame = {
    val cellW = 200L // x100 integer degrees: 2x1-degree cells (see above)
    val cellH = 100L
    val z = zones(spark, dir).select(col("zone_id"),
        ((col("xmin") + lit(10.0)) * 100).cast("long").as("zcx"),
        ((col("ymin") + lit(5.0)) * 100).cast("long").as("zcy"))
    val zc = offsetWindow(z, 1, 1)
      .select(col("zone_id"), col("zcx"), col("zcy"),
        (floorDiv(col("zcx"), cellW) + col("dx")).as("cx"),
        (floorDiv(col("zcy"), cellH) + col("dy")).as("cy"))
    val (a100, b100) = centredX100(col("event_id"))
    val p = events(spark, dir).select(col("event_id"), a100.as("a100"), b100.as("b100"))
      .withColumn("cx", floorDiv(col("a100"), cellW))
      .withColumn("cy", floorDiv(col("b100"), cellH))
    p.join(sizeGated(z, zc, 9L), Seq("cx", "cy"))
      .withColumn("d2",
        (col("a100") - col("zcx")) * (col("a100") - col("zcx"))
          + (col("b100") - col("zcy")) * (col("b100") - col("zcy")))
      .groupBy("event_id")
      .agg(min(struct(col("d2"), col("zone_id"))).as("m"))
      .select(col("event_id"), col("m.zone_id").as("zone_id"), col("m.d2").as("d2"))
      .orderBy("event_id")
  }

  private def floorDiv(c: Column, d: Long): Column =
    floor(c.cast("double") / lit(d.toDouble)).cast("long")

  /** Area-weighted zonal statistics — the refinement real zonal-stats
    * engines (exactextract, rasterstats) apply over the reference's
    * ST_Intersects join (pipeline/processing/stats.py:5-17): a raster cell
    * straddling the zone border contributes in proportion to the OVERLAP
    * AREA, not all-or-nothing. Points aggregate once into 3x2-degree raster
    * cells (decimal sum + count — the raster-block trick zs_zonal_stats
    * uses); zones explode onto their covering cells (fanout <= 48) with an
    * exact integer overlap weight (zone corners and the cell pitch are both
    * integer degrees, so overlap widths are exact integers); one equi-join
    * on the cell key; one per-zone aggregate. Weighted mean = exact decimal
    * numerator / exact long denominator, one double division.
    * At 100 TB: cells and zones hash-partition on (gx, gy); the weight is
    * computed map-side, so the shuffle carries one row per (zone, cell)
    * overlap — O(zone area / cell area), never O(points). */
  def areaWeighted(spark: SparkSession, dir: String): DataFrame = {
    val cw = 3L; val ch = 2L // cell pitch in integer degrees
    val cells = points(spark, dir)
      .withColumn("gx", floor((col("lon") + lit(180.0)) / lit(cw.toDouble)).cast("long"))
      .withColumn("gy", floor((col("lat") + lit(35.0)) / lit(ch.toDouble)).cast("long"))
      .groupBy("gx", "gy")
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("cell_sum"),
        count(lit(1)).as("cell_n"))
    val z = zones(spark, dir).select(col("zone_id"),
        (col("xmin") + lit(180.0)).cast("long").as("zx0"),
        (col("ymin") + lit(35.0)).cast("long").as("zy0"))
      .withColumn("zx1", col("zx0") + lit(20L))
      .withColumn("zy1", col("zy0") + lit(10L))
    val zc = z
      .withColumn("gx", explode(expr(s"sequence(zx0 div $cw, zx1 div $cw)")))
      .withColumn("gy", explode(expr(s"sequence(zy0 div $ch, zy1 div $ch)")))
      .withColumn("wx", least(col("zx1"), (col("gx") + 1) * cw) - greatest(col("zx0"), col("gx") * cw))
      .withColumn("wy", least(col("zy1"), (col("gy") + 1) * ch) - greatest(col("zy0"), col("gy") * ch))
      .withColumn("w", col("wx") * col("wy"))
      .filter(col("w") > 0) // zone edges aligned to the cell pitch yield w=0 slivers
      .select(col("zone_id"), col("gx"), col("gy"), col("w"))
    cells.join(sizeGated(z, zc, 48L), Seq("gx", "gy"))
      .groupBy("zone_id")
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("w")).as("tot_w"),
        sum(col("w") * col("cell_n")).as("wn"),
        sum(col("cell_sum") * col("w")).as("wsum_dec"))
      .select(col("zone_id"), col("n_cells"), col("tot_w"), col("wn"),
        r4(col("wsum_dec").cast("double") / col("wn").cast("double")).as("wmean"))
      .orderBy("zone_id")
  }

  /** Bilinear raster resampling at query points — the interpolation kernel
    * of the reference's gdalwarp standardization (batch/processing/
    * raster.py:22-38, `-r bilinear` family): the value at an arbitrary
    * point is the 2x2-neighbor weighted mean of the surrounding cell
    * CENTERS. The raster is the 1-degree point-density grid (decimal cell
    * means quantized to exact 1e-4 integers, so the weighted sum is exact
    * long arithmetic — order-free and oracle-portable); query points are
    * supplier-derived at half-degree offsets so the x100 fractional
    * distances are exact integers. Each query point explodes to its <=4
    * neighbors, equi-joins the grid on the cell key, and aggregates num =
    * SUM(w * v10k) / den = SUM(w) — missing neighbors renormalize, the
    * GDAL nodata convention. At 100 TB the grid hash-partitions on (fx,
    * fy) and the query side shuffles once — never a crossJoin. */
  def bilinear(spark: SparkSession, dir: String): DataFrame = {
    val grid = valueGrid(spark, dir)
      .withColumn("v10k",
        floor((col("cell_sum").cast("double") / col("cell_n").cast("double"))
          * lit(10000.0) + lit(0.5)).cast("long"))
      .select("fx", "fy", "v10k")
    val (a100, b100) = hundredths(col("s_suppkey"), 35900L, 6900L)
    val q = supplier(spark, dir).select(col("s_suppkey").as("q_id"),
        a100.as("a100"), b100.as("b100"))
      .withColumn("gx0", expr("a100 div 100")).withColumn("dx", col("a100") % lit(100L))
      .withColumn("gy0", expr("b100 div 100")).withColumn("dy", col("b100") % lit(100L))
    val nbrs = q
      .withColumn("di", explode(array(lit(0L), lit(1L))))
      .withColumn("dj", explode(array(lit(0L), lit(1L))))
      .select(col("q_id"),
        (col("gx0") + col("di")).as("fx"), (col("gy0") + col("dj")).as("fy"),
        (when(col("di") === 0L, lit(100L) - col("dx")).otherwise(col("dx"))
          * when(col("dj") === 0L, lit(100L) - col("dy")).otherwise(col("dy"))).as("w"))
      .filter(col("w") > 0)
    nbrs.join(grid, Seq("fx", "fy"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_nbrs"),
        sum(col("w")).as("den"),
        sum(col("w") * col("v10k")).as("num"))
      .select(col("q_id"), col("n_nbrs"), col("den"),
        r4(col("num").cast("double") / (col("den") * lit(10000L)).cast("double")).as("interp"))
      .orderBy("q_id")
  }

  /** Polyline clipping to a bbox — the VECTOR form of the reference's clip
    * standardization (batch clips rasters with gdalwarp -te; ogr2ogr
    * -clipsrc is the line/polygon analog): Liang–Barsky parametric
    * clipping of each segment to [-60,60]x[-20,20], emitting the clipped
    * endpoints and clipped length. Pure map stage — no shuffle, no UDF:
    * the t-interval is GREATEST/LEAST over per-axis CASE ratios, written
    * as the IDENTICAL expression in the oracle so every double (and every
    * boundary accept/reject compare) matches bit for bit (SURVEY §4
    * same-expression rule). Degenerate axis-parallel segments take the
    * dx=0 / dy=0 branches. At 100 TB: partition count is the only knob. */
  def lineClip(spark: SparkSession, dir: String): DataFrame = {
    val t0 = "GREATEST(CAST(0 AS DOUBLE), " +
      "CASE WHEN dx > 0 THEN (-60.0 - x0) / dx WHEN dx < 0 THEN (60.0 - x0) / dx ELSE CAST(0 AS DOUBLE) END, " +
      "CASE WHEN dy > 0 THEN (-20.0 - y0) / dy WHEN dy < 0 THEN (20.0 - y0) / dy ELSE CAST(0 AS DOUBLE) END)"
    val t1 = "LEAST(CAST(1 AS DOUBLE), " +
      "CASE WHEN dx > 0 THEN (60.0 - x0) / dx WHEN dx < 0 THEN (-60.0 - x0) / dx ELSE CAST(1 AS DOUBLE) END, " +
      "CASE WHEN dy > 0 THEN (20.0 - y0) / dy WHEN dy < 0 THEN (-20.0 - y0) / dy ELSE CAST(1 AS DOUBLE) END)"
    val (x0, y0) = lonLat(col("o_orderkey"))
    orders(spark, dir).select(col("o_orderkey").as("seg_id"), x0.as("x0"), y0.as("y0"),
        (((col("o_orderkey") * 131L) % 2000L).cast("double") / 100.0 - 10.0).as("dx"),
        (((col("o_orderkey") * 241L) % 1000L).cast("double") / 100.0 - 5.0).as("dy"))
      .filter(expr(
        "NOT (dx = 0 AND (x0 < -60.0 OR x0 > 60.0)) AND NOT (dy = 0 AND (y0 < -20.0 OR y0 > 20.0))"))
      .withColumn("t0", expr(t0)).withColumn("t1", expr(t1))
      .filter(col("t0") <= col("t1"))
      .select(col("seg_id"),
        r4(col("x0") + col("t0") * col("dx")).as("cx0"),
        r4(col("y0") + col("t0") * col("dy")).as("cy0"),
        r4(col("x0") + col("t1") * col("dx")).as("cx1"),
        r4(col("y0") + col("t1") * col("dy")).as("cy1"),
        r4((col("t1") - col("t0")) * sqrt(col("dx") * col("dx") + col("dy") * col("dy"))).as("clip_len"))
      .orderBy("seg_id")
  }

  /** Inverse-distance-weighted interpolation (gdal_grid invdist analog):
    * estimate the field at a fixed query grid (20x7 points over the clip
    * band) from the stations inside the query point's 3x3 window of
    * 2x1-degree cells. Fully exact until the final division: coordinates
    * live in x200 integer space (stations on even, query points on odd
    * coordinates — d2 can never be 0, no self-match branch), the weight is
    * the integer quotient 10^12 div d2, and numerator/denominator
    * accumulate as DECIMAL(38,0) (a long sum of 10^16-scale terms could
    * overflow silently in Spark while DuckDB promotes to HUGEINT). One
    * double division + shared r4 rounding at the end.
    *
    * Plan: `stationProbe`, aggregated per query point. At 100 TB with a
    * large query grid both sides hash-partition on the cell key instead
    * (same shape as zs_nearest_zone). */
  def idw(spark: SparkSession, dir: String): DataFrame =
    stationProbe(spark, dir, 1)
      .withColumn("w", expr("CAST(1000000000000 AS BIGINT) div d2"))
      .groupBy("qid", "qa200", "qb200")
      .agg(
        count(lit(1)).as("n_stations"),
        sum((col("v100") * col("w")).cast(DecimalType(38, 0))).as("num"),
        sum(col("w").cast(DecimalType(38, 0))).as("den"))
      .select(col("qid"), col("qa200"), col("qb200"), col("n_stations"),
        r4(col("num").cast("double") / col("den").cast("double") / lit(100.0)).as("idw_value"))
      .orderBy("qid")

  /** zs_idw / zs_kde's shared probe: the 20x7 query grid (qid, qa200,
    * qb200 — odd x200 coordinates) against the stations (sa200, sb200 —
    * the doubled `centredX100`, even — and value cents v100), with each
    * pair's exact squared distance d2. The query points' windows of
    * 400x200-unit cells (+-1 in x, +-ry in y) are a few thousand rows —
    * broadcast; stations are scanned once, keyed to their cell map-side. */
  private def stationProbe(spark: SparkSession, dir: String, ry: Int): DataFrame = {
    val grid = spark.range(1)
      .select(explode(expr("sequence(0, 19)")).as("ga"))
      .select(col("ga"), explode(expr("sequence(0, 6)")).as("gb"))
      .select(
        (col("ga") * 10 + col("gb")).cast("long").as("qid"),
        (col("ga") * 3600L - 36000L + 1L).as("qa200"),
        (col("gb") * 2000L - 7000L + 1L).as("qb200"))
    val q = offsetWindow(grid, 1, ry)
      .select(col("qid"), col("qa200"), col("qb200"),
        (floorDiv(col("qa200"), 400L) + col("dx")).as("cx"),
        (floorDiv(col("qb200"), 200L) + col("dy")).as("cy"))
    val (a100, b100) = centredX100(col("event_id"))
    events(spark, dir).select((a100 * lit(2L)).as("sa200"), (b100 * lit(2L)).as("sb200"),
        valueCents.as("v100"))
      .withColumn("cx", floorDiv(col("sa200"), 400L))
      .withColumn("cy", floorDiv(col("sb200"), 200L))
      .join(broadcast(q), Seq("cx", "cy"))
      .withColumn("d2",
        (col("sa200") - col("qa200")) * (col("sa200") - col("qa200"))
          + (col("sb200") - col("qb200")) * (col("sb200") - col("qb200")))
  }

  /** Kernel density estimate at the same query grid zs_idw uses — the
    * heatmap-surface form of tippecanoe's density output. Epanechnikov
    * kernel K(u) = 1 - u^2 (u = d/h, bandwidth h = 1.5 deg): POLYNOMIAL,
    * so each station's contribution is the exact integer quotient
    * (h2 - d2) * 10^6 div h2 and the density sum is exact — no
    * transcendental, unlike a Gaussian kernel (engine-divergent exp()).
    * Window: dx -1..1 x dy -2..2 cells (x200 cells are 400x200 units;
    * +-1 cell guarantees 400 >= h=300 horizontally, vertically +-2 cells
    * guarantee 400 >= 300 — a 3x3 window would only guarantee 200).
    * Same broadcast-query-cells plan as zs_idw; at 100 TB both sides
    * hash-partition on the cell key. */
  def kde(spark: SparkSession, dir: String): DataFrame = {
    val h2 = 300L * 300L // bandwidth 1.5 deg = 300 x200-units, squared
    stationProbe(spark, dir, 2)
      .filter(col("d2") < lit(h2))
      .withColumn("contrib", expr(s"(($h2 - d2) * 1000000) div $h2"))
      .groupBy("qid", "qa200", "qb200")
      .agg(
        count(lit(1)).as("n_in_bw"),
        // contrib is up to 10^6 per row: a raw sum(long) wraps silently past
        // ~9.2e18 (≈10^13 in-bandwidth rows per grid point — reachable at
        // full corpus scale) while DuckDB promotes to HUGEINT, so the
        // engines diverge exactly when it's hardest to debug. Accumulate as
        // DECIMAL(38,0) (no wrap) and cast down at the end, mirroring the
        // oracle's CAST(SUM(...) AS BIGINT) — an out-of-range final total
        // then fails loudly on both engines instead of silently on one.
        sum(col("contrib").cast(DecimalType(38, 0))).cast("long").as("density_x1e6"))
      .orderBy("qid")
  }

  /** Buffer radius of zs_buffer, in integer hundredths of a degree. */
  val BufferR100 = 150L

  /** BUFFER / MORPHOLOGICAL DILATION (zs_buffer) — the ST_Buffer +
    * ST_Union verb of the reference's PostGIS vocabulary, rasterized:
    * the buffered region of a point layer is every 1-degree cell whose
    * CENTER lies within R = 1.5 deg of some point, and dissolving the
    * per-point disks is a DISTINCT on the cell key (the zs_dissolve
    * rasterized-union argument: geometry never meets geometry).
    * Coordinates stay in the nonneg-shifted integer-hundredths frame
    * (slon in [0,36000), slat in [0,7000)), so the center-distance test
    * is pure BIGINT arithmetic — shift-invariant, division-free,
    * identical on both engines. Cells outside the clip band are dropped
    * (the reference clips to its lon/lat box the same way). Output per
    * event_type: point count, dissolved buffer area in cells, cell-x
    * extent — the coverage table a vector-enrichment step publishes.
    *
    * Scale: the dilation fans each point onto <= 25 candidate cells
    * map-side (a literal 5x5 window — no join, no geometry pairs), then
    * ONE distinct shuffle keyed by (event_type, cell) with map-side
    * partials, output bounded by the grid (360 x 70 x types), never by
    * the corpus. */
  def buffer(spark: SparkSession, dir: String): DataFrame = {
    val (slon, slat) = hundredths(col("event_id"))
    bufferOn(events(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("event_type"), slon.as("slon"), slat.as("slat")))
  }

  /** Same dilation over any (event_type, slon, slat) point frame in the
    * shifted integer-hundredths frame — Round20Spec pins the 3x3 disk of
    * a cell-centered point, band clipping, and the dissolve overlap. */
  def bufferOn(pts: DataFrame): DataFrame = {
    val r2 = BufferR100 * BufferR100
    val cells = offsetWindow(pts, 2, 2)
      .select(col("event_type"),
        (expr("slon div 100") + col("dx")).as("cx"),
        (expr("slat div 100") + col("dy")).as("cy"),
        col("slon"), col("slat"))
      .filter(col("cx") >= 0 && col("cx") < 360
        && col("cy") >= 0 && col("cy") < 70)
      .filter(expr("(cx * 100 + 50 - slon) * (cx * 100 + 50 - slon)" +
        s" + (cy * 100 + 50 - slat) * (cy * 100 + 50 - slat) <= $r2"))
      .select("event_type", "cx", "cy").distinct()
    val nPts = pts.groupBy("event_type").agg(count(lit(1)).as("n_points"))
    cells.groupBy("event_type")
      .agg(count(lit(1)).as("n_buffer_cells"),
        min("cx").as("min_cx"), max("cx").as("max_cx"))
      .join(nPts, Seq("event_type"))
      .orderBy("event_type")
  }

  /** Dissolve / ST_Union area: the union area of each group's overlapping
    * zone boxes, EXACTLY, by integer-cell decomposition — zone corners are
    * integer degrees, so a zone is exactly its 20x10 = 200 unit cells and
    * union area = COUNT(DISTINCT cell). The classic rasterized-dissolve
    * plan: explode covered cells map-side, one distinct shuffle keyed by
    * (group, cell), one group rollup. Also reports the overlap factor
    * (summed area vs union area). At 100 TB the distinct is the only
    * full-volume shuffle and it partitions on the cell key — no geometry
    * ever meets another geometry (contrast PostGIS ST_Union's pairwise
    * polygon merging, which cannot shard). */
  def dissolve(spark: SparkSession, dir: String): DataFrame = {
    val cells = zones(spark, dir).select(
        (col("zone_id") % 16).as("grp"),
        col("xmin").cast("long").as("x0"),
        col("ymin").cast("long").as("y0"))
      .withColumn("cx", explode(expr("sequence(x0, x0 + 19)")))
      .withColumn("cy", explode(expr("sequence(y0, y0 + 9)")))
      // injective single-column cell key: |cy| <= 35 < 500
      .select(col("grp"), (col("cx") * 1000L + col("cy")).as("cell"))
    cells.groupBy("grp")
      .agg(
        count(lit(1)).as("summed_cells"),
        countDistinct(col("cell")).as("union_cells"))
      .withColumn("overlap_x100", expr("summed_cells * 100 div union_cells"))
      .orderBy("grp")
  }

  /** Shared-border simplification (tippecanoe --detect-shared-borders,
    * pipeline/processing/tiles.py:17): when two zones share a border,
    * tippecanoe simplifies that border ONCE and both polygons reuse the
    * result, so simplification never opens slivers between neighbors.
    * Re-expressed on the dissolve decomposition: zone corners are integer
    * degrees, so a zone's border is exactly its unit boundary segments;
    * keying segments by geometry (sx, sy, orientation) makes coincident
    * borders collide, a cell-keyed groupBy detects sharing
    * (n_zones >= 2), and the keep/drop decision is a function of the
    * SEGMENT KEY ALONE — computed once per geometric border, inherited
    * identically by every owner, the consistency tippecanoe's flag buys.
    * At 100 TB: segment explode is map-side (60 rows per zone), one
    * shuffle keyed by segment, the owner join co-partitions with it, one
    * rollup per zone — no geometry ever meets another geometry. */
  def sharedBorders(spark: SparkSession, dir: String): DataFrame =
    sharedBordersOn(zones(spark, dir))

  /** Same operator over any zones-shaped frame (zone_id, xmin, ymin) —
    * GeoSpec feeds synthetic coincident/adjacent zones with hand-computed
    * expectations. */
  def sharedBordersOn(zonesDf: DataFrame): DataFrame = {
    val z = zonesDf.select(
      col("zone_id"), col("xmin").cast("long").as("x0"), col("ymin").cast("long").as("y0"))
    val horiz = z
      .withColumn("k", explode(expr("sequence(0, 19)")))
      .withColumn("ey", explode(array(col("y0"), col("y0") + 10L)))
      .select(col("zone_id"), (col("x0") + col("k")).as("sx"), col("ey").as("sy"),
        lit(0L).as("orient"))
    val vert = z
      .withColumn("j", explode(expr("sequence(0, 9)")))
      .withColumn("ex", explode(array(col("x0"), col("x0") + 20L)))
      .select(col("zone_id"), col("ex").as("sx"), (col("y0") + col("j")).as("sy"),
        lit(1L).as("orient"))
    val segs = horiz.unionByName(vert)
    // one decision row per geometric segment: shared detection + the
    // keep/drop simplification choice (nonnegative operands keep % portable)
    val segStats = segs.groupBy("sx", "sy", "orient")
      .agg(countDistinct(col("zone_id")).as("n_zones"))
      .withColumn("keep",
        ((col("sx") + 200L) * 31L + (col("sy") + 100L) * 17L + col("orient") * 7L) % 5L =!= 0L)
    segs.join(segStats, Seq("sx", "sy", "orient"))
      .groupBy("zone_id")
      .agg(
        count(lit(1)).as("n_border"),
        sum(when(col("n_zones") >= 2, 1L).otherwise(0L)).as("n_shared"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("n_zones") >= 2 && col("keep"), 1L).otherwise(0L)).as("n_shared_kept"))
      .orderBy("zone_id")
  }

  /** Hexagonal binning (H3-style density map, one resolution): pointy-top
    * axial coordinates + cube rounding assign each point to a hex of
    * size 3 deg; per-hex count + exact mean. The original all-double
    * cube rounding used identical expression TEXT on both engines, yet
    * the sf0.1 step-up caught assignment flips on hex-boundary points:
    * identical text does not pin identical ULPs (constant folding / FMA
    * contraction differ between engines), and floor(v + 0.5) amplifies a
    * 1-ulp gap into a different hex. The fix is the repo's exact-integer
    * discipline (SURVEY §4, same as zs_idw): coords are centi-degree
    * integers by construction, sqrt(3) is frozen as the 1e12-scaled
    * integer constant 1732050807569 (OUR grid definition — determinism
    * needs a fixed constant, not a correctly-rounded op), and the axial
    * projection, cube rounding (+OFF shift keeps numerators nonnegative
    * so truncating and flooring integer division agree), and tie-fix
    * comparisons all run in exact BIGINT arithmetic. Denominator
    * D = 900e12 (axial /9 x centi /100 x sqrt3 scale 1e12); numerators
    * stay under 1.3e17, well inside long. The ONLY engine-syntax
    * difference is integer division — the DIVOP token splices to `div`
    * (Spark) / `//` (DuckDB), identical on the nonnegative operands
    * here. Pure map stage + one groupBy, same scale shape as
    * zs_tile_assign. */
  private val hexSteps: Seq[(String, String)] = Seq(
    // centi-degree integers: lon*100 is within ~1e-11 of an integer by
    // construction, so the +0.5 floor sits 0.5 away from any boundary
    "lons" -> "CAST(floor(lon * 100.0 + 0.5) AS BIGINT)",
    "lats" -> "CAST(floor(lat * 100.0 + 0.5) AS BIGINT)",
    // axial numerators over D = 900000000000000 (9e14):
    //   qf = (lon*sqrt(3)/9 - lat/9)  -> nq = lons*sqrt3_1e12 - lats*1e12
    //   rf = 2*lat/9                  -> nr = lats*2e12
    "nq" -> "lons * 1732050807569 - lats * 1000000000000",
    "nr" -> "lats * 2000000000000",
    // cube rounding: floor(x/D + 0.5) = (n + OFF*D + D/2) divop D - OFF
    // with OFF = 100 making every dividend nonnegative
    // (90450000000000000 = 100*D + D/2)
    "rq" -> "(nq + 90450000000000000) DIVOP 900000000000000 - 100",
    "rr" -> "(nr + 90450000000000000) DIVOP 900000000000000 - 100",
    "rs" -> "(-nq - nr + 90450000000000000) DIVOP 900000000000000 - 100",
    // rounding residuals, scaled by D — exact integers
    "dq" -> "abs(rq * 900000000000000 - nq)",
    "dr" -> "abs(rr * 900000000000000 - nr)",
    "ds" -> "abs(rs * 900000000000000 - (-nq - nr))",
    "hq" -> "CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS BIGINT)",
    "hr" -> "CAST(CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -rq - rs ELSE rr END AS BIGINT)")

  private def hexStepsFor(divOp: String): Seq[(String, String)] =
    hexSteps.map { case (n, e) => n -> e.replace("DIVOP", divOp) }

  /** The hex assignment alone over any (lon, lat) frame — GeoSpec pins
    * fixed points against Python-bignum ground truth. */
  def hexAssignOn(pts: DataFrame): DataFrame =
    hexStepsFor("div").foldLeft(pts) {
      case (df, (name, sql)) => df.withColumn(name, expr(sql))
    }

  def hexbin(spark: SparkSession, dir: String): DataFrame = {
    val withHex = hexAssignOn(points(spark, dir))
    withHex.groupBy("hq", "hr")
      .agg(
        count(lit(1)).as("n_points"),
        (centsToDouble(sum(valueCents)) / count(lit(1))).as("mean_value"))
      .orderBy("hq", "hr")
  }

  /** TEMPORAL CHANGE DETECTION (zs_epoch_delta) — the two-epoch per-cell
    * delta map every monitoring pipeline renders (the NDVI/nightlights
    * change-detection shape): split the point stream at its day-range
    * midpoint (computed from the data — one-row agg, deterministic
    * integer arithmetic), count each 1-degree cell per epoch with
    * conditional sums (a cell active in only one epoch naturally reads 0
    * in the other — no outer join needed), and report the top-20 cells
    * by absolute change. Cell keys ride the house floor(lon) convention.
    *
    * Scale: one map-side-combinable groupBy on the cell key; the epoch
    * midpoint is a one-row collect (the seeds/N precedent); the top-20
    * is a TakeOrdered on (|delta| desc, fx, fy) — a total order. */
  def epochDelta(spark: SparkSession, dir: String): DataFrame = {
    val (lon, lat) = lonLat(col("event_id"))
    val pts = events(spark, dir).select(
      expr("unix_timestamp(ts) div 86400").as("day"), lon.as("lon"), lat.as("lat"))
    val b = pts.agg(min("day").as("d0"), max("day").as("d1")).collect()(0)
    val mid = (b.getLong(0) + b.getLong(1) + 1L) / 2L
    pts
      .withColumn("fx", floor(col("lon")).cast("long"))
      .withColumn("fy", floor(col("lat")).cast("long"))
      .groupBy("fx", "fy")
      .agg(sum(when(col("day") < mid, 1L).otherwise(0L)).as("n1"),
        sum(when(col("day") >= mid, 1L).otherwise(0L)).as("n2"))
      .withColumn("delta", col("n2") - col("n1"))
      .orderBy(abs(col("delta")).desc, col("fx"), col("fy"))
      .limit(20)
      .orderBy(abs(col("delta")).desc, col("fx"), col("fy"))
  }

  /** Relaxation rounds for zs_cost_distance — like FlowAccumRounds, the
    * honest bounded-rounds cap (full cost-distance iterates to the
    * longest cheapest path; the checked operator reports the within-R-
    * relaxations field, stated in the output as the unreached bucket). */
  val CostDistRounds = 6

  /** COST DISTANCE (zs_cost_distance) — the accumulated-cost surface of
    * GRASS r.cost / the proximity family GDAL ships: cheapest travel
    * cost from the 5 densest cells (the "facilities", deterministic
    * n-desc/fx/fy pick) to every other cell, where a step costs the
    * octile integer weight (10 cardinal / 14 diagonal — the public
    * pathfinding approximation of sqrt2, kept integer so both engines
    * agree bit-for-bit) plus the DESTINATION cell's point density as
    * terrain friction. Bounded Bellman-Ford: R rounds of relax-and-min
    * (dist := min(dist, min over in-edges of dist(u) + w)), the gr_sssp
    * shape on the 8-neighbor grid graph. Output: cost-bucket histogram
    * (cost div 50; unreached-within-R = bucket -1) with per-bucket min
    * and max cost.
    *
    * Scale: edges are cell-table-sized (8 per occupied cell, built by
    * explode + one equi-join, never a theta join); each round is one
    * co-partitioned join + a map-side-combinable min; rounds
    * localCheckpointed (the iterative-algorithm rule). The oracle's
    * chained round-CTEs are AS MATERIALIZED — each d_{r-1} is referenced
    * twice, the §6 DuckDB-inlining rule. */
  def costDistance(spark: SparkSession, dir: String): DataFrame =
    costDistanceOn(densityGrid(spark, dir))

  /** Same operator over any (fx, fy, n) cell grid — Round16Spec pins the
    * diagonal-vs-two-cardinals choice and the unreached cap on a hand
    * grid. */
  def costDistanceOn(cellsIn: DataFrame, nSources: Int = 5): DataFrame = {
    val cells = cellsIn
      .localCheckpoint() // consumers: edge build (2 sides), sources, final spine
    val edges = d8Step(cells, "inner")
      .select(col("fx").as("ux"), col("fy").as("uy"), col("nx").as("vx"), col("ny").as("vy"),
        (d8At("array(10, 14, 10, 14, 10, 14, 10, 14)") + col("nn")).as("wcost"))
      .localCheckpoint() // one join per round
    var dist = cells.orderBy(col("n").desc, col("fx"), col("fy")).limit(nSources)
      .select(col("fx"), col("fy"), lit(0L).as("cost"))
      .localCheckpoint()
    for (_ <- 1 to CostDistRounds) {
      val relaxed = edges
        .join(dist.select(col("fx").as("ux"), col("fy").as("uy"), col("cost")),
          Seq("ux", "uy"))
        .select(col("vx").as("fx"), col("vy").as("fy"),
          (col("cost") + col("wcost")).as("cost"))
      dist = dist.unionByName(relaxed)
        .groupBy("fx", "fy").agg(min(col("cost")).as("cost"))
        .localCheckpoint() // next round + final read
    }
    cells.join(dist, Seq("fx", "fy"), "left_outer")
      .withColumn("bucket",
        when(col("cost").isNull, lit(-1L)).otherwise(expr("cost div 50")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_cells"),
        coalesce(min(col("cost")), lit(-1L)).as("min_cost"),
        coalesce(max(col("cost")), lit(-1L)).as("max_cost"))
      .orderBy("bucket")
  }

  /** TERRAIN RUGGEDNESS INDEX (zs_tri) — Riley et al. 1999's TRI over
    * the density-as-elevation grid: per occupied cell, the sum of
    * absolute elevation differences to its 8 neighbors (absent
    * neighbors are elevation 0 — the flowdir water rule), classed into
    * Riley's level/intermediate/rugged bands scaled to the corpus
    * (cut at 8·n-bar style fixed integer cuts 16/80). Pure integers
    * end to end; the per-class rollup publishes cell counts and the
    * index mass.
    *
    * Scale: the same one-equi-join-on-computed-neighbor-key shape as
    * zs_focal_mean — cell-table-sized, never points; the final rollup
    * is 3 keys. */
  def tri(spark: SparkSession, dir: String): DataFrame =
    triOn(densityGrid(spark, dir))

  /** Same operator over any (fx, fy, n) cell grid — the driver corpus
    * never reaches the rugged band (max TRI ~43 at sf0.1), so Round16Spec
    * plants a spike cell to pin the third class. */
  def triOn(cellsIn: DataFrame): DataFrame = {
    val cells = cellsIn
      .localCheckpoint() // self-join both sides
    d8Step(cells, "left_outer")
      .withColumn("nn", coalesce(col("nn"), lit(0L)))
      .groupBy("fx", "fy")
      .agg(max(col("n")).as("n"), sum(abs(col("n") - col("nn"))).as("tri"))
      .withColumn("tri_class",
        when(col("tri") < 16L, lit("level"))
          .when(col("tri") < 80L, lit("intermediate"))
          .otherwise(lit("rugged")))
      .groupBy("tri_class")
      .agg(count(lit(1)).as("n_cells"), sum(col("tri")).as("tri_mass"),
        min(col("tri")).as("min_tri"), max(col("tri")).as("max_tri"))
      .orderBy("tri_class")
  }

  /** MAJORITY (MODE) RESAMPLING (zs_resample_majority) — the categorical
    * sibling of zs_grid_downsample: a CLASSED raster downsamples by
    * majority vote (GDAL's `-r mode`), never by mean — averaging class
    * codes is meaningless. Fine 1° cells carry class = density mod 4 (the
    * polygonize classing); each 4x4 block elects the class covering the
    * most fine cells, ties to the smallest class code (deterministic
    * mode, spec-pinned). Output per coarse cell: the winning class, its
    * cell count, the class diversity, and total fine cells.
    *
    * Scale: two map-side-combinable groupBys (cell → class counts →
    * block) and a per-block argmax window over ≤4 class rows; nonneg
    * shift before div so Spark div = DuckDB //. */
  def resampleMajority(spark: SparkSession, dir: String): DataFrame = {
    val byClass = densityGrid(spark, dir)
      .select(expr("(fx + 180) div 4").as("cx"), expr("(fy + 35) div 4").as("cy"),
        (col("n") % lit(4L)).as("cls"))
      .groupBy("cx", "cy", "cls").agg(count(lit(1)).as("n_cells"))
    val wMaj = Window.partitionBy("cx", "cy")
      .orderBy(col("n_cells").desc, col("cls").asc)
    byClass
      .withColumn("rn", row_number().over(wMaj))
      .withColumn("n_classes", count(lit(1)).over(Window.partitionBy("cx", "cy")))
      .withColumn("n_fine", sum(col("n_cells")).over(Window.partitionBy("cx", "cy")))
      .filter(col("rn") === 1)
      .select(col("cx"), col("cy"), col("cls").as("maj_cls"),
        col("n_cells").as("maj_cells"), col("n_classes"), col("n_fine"))
      .orderBy("cx", "cy")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zs_resample_majority" -> (resampleMajority _),
    "zs_tri" -> (tri _),
    "zs_cost_distance" -> (costDistance _),
    "zs_epoch_delta" -> (epochDelta _),
    "zs_hexbin" -> (hexbin _),
    "zs_flowdir" -> (flowDir _),
    "zs_flowaccum" -> (flowAccum _),
    "zs_watershed" -> (watershed _),
    "zs_ridge" -> (ridge _),
    "zs_contour" -> (contour _),
    "zs_shared_borders" -> (sharedBorders _),
    "zs_dissolve" -> (dissolve _),
    "zs_kde" -> (kde _),
    "zs_buffer" -> (buffer _),
    "zs_idw" -> (idw _),
    "zs_line_clip" -> (lineClip _),
    "zs_area_weighted" -> (areaWeighted _),
    "zs_bilinear" -> (bilinear _),
    "zs_focal_mean" -> (focalMean _),
    "zs_poly_area" -> (polyArea _),
    "zs_nearest_zone" -> (nearestZone _),
    "zs_crs_detect" -> (crsDetect _),
    "zs_tri_zonal" -> (triZonalStats _),
    "zs_poly_zonal" -> (polyZonalStats _),
    "zs_polygonize" -> (polygonize _),
    "zs_crs_dispatch" -> (crsDispatch _),
    "zs_tile_pyramid_full" -> (tilePyramidFull _),
    "zs_simplify" -> (simplify _),
    "zs_webmercator" -> (webmercator _),
    "zs_clip" -> (clip _),
    "zs_affine" -> (affine _),
    "zs_zonal_stats" -> (zonalStats _),
    "zs_grid_downsample" -> (gridDownsample _),
    "zs_vector_enrich" -> (vectorEnrich _),
    "zs_tile_assign" -> (tileAssign _),
    "zs_tile_pyramid" -> (tilePyramid _),
    "zs_feature_drop" -> (featureDrop _))

  val oracle: Map[String, String] = {
    val (tx10, ty10) = tileSqlExprs(Zoom)
    val (tx6, ty6) = tileSqlExprs(6)
    val pyramidLevels = (Zoom to 0 by -2).map { z =>
      val shift = Zoom - z
      s"""SELECT $z AS zoom, tx >> $shift AS tx, ty >> $shift AS ty,
         |  CAST(SUM(n) AS BIGINT) AS n_features, CAST(SUM(sum_dec) AS DOUBLE) AS sum_value
         |FROM z10 GROUP BY 1, 2, 3""".stripMargin
    }.mkString("\nUNION ALL\n")
    Map(
      "zs_resample_majority" ->
        s"""WITH pts AS ($pointsSql),
           |fine AS (
           |  SELECT CAST(floor(lon) AS BIGINT) + 180 AS fx,
           |    CAST(floor(lat) AS BIGINT) + 35 AS fy, COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |), bc AS (
           |  SELECT fx // 4 AS cx, fy // 4 AS cy, n % 4 AS cls,
           |    CAST(COUNT(*) AS BIGINT) AS n_cells
           |  FROM fine GROUP BY 1, 2, 3
           |), r AS (
           |  SELECT cx, cy, cls, n_cells,
           |    ROW_NUMBER() OVER (PARTITION BY cx, cy
           |      ORDER BY n_cells DESC, cls ASC) AS rn,
           |    CAST(COUNT(*) OVER (PARTITION BY cx, cy) AS BIGINT) AS n_classes,
           |    CAST(SUM(n_cells) OVER (PARTITION BY cx, cy) AS BIGINT) AS n_fine
           |  FROM bc
           |)
           |SELECT cx, cy, cls AS maj_cls, n_cells AS maj_cells, n_classes, n_fine
           |FROM r WHERE rn = 1 ORDER BY cx, cy""".stripMargin,
      "zs_tri" ->
        s"""WITH pts AS ($pointsSql),
           |cells AS MATERIALIZED (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |dirs(dx, dy) AS (
           |  VALUES (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)
           |),
           |t AS (
           |  SELECT c.fx, c.fy, MAX(c.n) AS n,
           |    CAST(SUM(ABS(c.n - COALESCE(nb.n, 0))) AS BIGINT) AS tri
           |  FROM cells c CROSS JOIN dirs d
           |  LEFT JOIN cells nb ON nb.fx = c.fx + d.dx AND nb.fy = c.fy + d.dy
           |  GROUP BY c.fx, c.fy
           |), k AS (
           |  SELECT CASE WHEN tri < 16 THEN 'level'
           |    WHEN tri < 80 THEN 'intermediate' ELSE 'rugged' END AS tri_class, tri
           |  FROM t
           |)
           |SELECT tri_class, CAST(COUNT(*) AS BIGINT) AS n_cells,
           |  CAST(SUM(tri) AS BIGINT) AS tri_mass,
           |  MIN(tri) AS min_tri, MAX(tri) AS max_tri
           |FROM k GROUP BY tri_class ORDER BY tri_class""".stripMargin,
      "zs_cost_distance" -> {
        val round = (r: Int) =>
          s"""d$r AS MATERIALIZED (
             |  SELECT fx, fy, MIN(cost) AS cost FROM (
             |    SELECT fx, fy, cost FROM d${r - 1}
             |    UNION ALL
             |    SELECT e.vx AS fx, e.vy AS fy, p.cost + e.wcost AS cost
             |    FROM edges e JOIN d${r - 1} p ON e.ux = p.fx AND e.uy = p.fy
             |  ) GROUP BY fx, fy
             |)""".stripMargin
        s"""WITH pts AS ($pointsSql),
           |cells AS MATERIALIZED (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |dirs(d, dx, dy, w) AS (
           |  VALUES (0, 1, 0, 10), (1, 1, 1, 14), (2, 0, 1, 10), (3, -1, 1, 14),
           |    (4, -1, 0, 10), (5, -1, -1, 14), (6, 0, -1, 10), (7, 1, -1, 14)
           |),
           |edges AS MATERIALIZED (
           |  SELECT c.fx AS ux, c.fy AS uy, c.fx + d.dx AS vx, c.fy + d.dy AS vy,
           |    d.w + nb.n AS wcost
           |  FROM cells c CROSS JOIN dirs d
           |  JOIN cells nb ON nb.fx = c.fx + d.dx AND nb.fy = c.fy + d.dy
           |),
           |d0 AS (SELECT fx, fy, CAST(0 AS BIGINT) AS cost
           |  FROM cells ORDER BY n DESC, fx, fy LIMIT 5),
           |${(1 to CostDistRounds).map(round).mkString(",\n")}
           |SELECT CASE WHEN d.cost IS NULL THEN -1 ELSE d.cost // 50 END AS bucket,
           |  CAST(COUNT(*) AS BIGINT) AS n_cells,
           |  COALESCE(MIN(d.cost), -1) AS min_cost,
           |  COALESCE(MAX(d.cost), -1) AS max_cost
           |FROM cells c LEFT JOIN d$CostDistRounds d ON c.fx = d.fx AND c.fy = d.fy
           |GROUP BY bucket ORDER BY bucket""".stripMargin
      },
      "zs_epoch_delta" ->
        """WITH p AS (
          |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
          |    CAST(event_id * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
          |    CAST(event_id * 104729 % 7000 AS DOUBLE) / 100.0 - 35.0 AS lat
          |  FROM events
          |),
          |b AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM p),
          |c AS (
          |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
          |    SUM(CASE WHEN day < mid THEN 1 ELSE 0 END) AS n1,
          |    SUM(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS n2
          |  FROM p CROSS JOIN b GROUP BY 1, 2
          |)
          |SELECT fx, fy, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
          |  CAST(n2 - n1 AS BIGINT) AS delta
          |FROM c ORDER BY abs(n2 - n1) DESC, fx, fy LIMIT 20""".stripMargin,
      "zs_hexbin" -> {
        // chain the same expression steps as nested CTE selects so each
        // name is computed ONCE with the identical text the Spark plan ran
        // (modulo the DIVOP token: `//` here, `div` in Spark — identical
        // on the nonnegative dividends the OFF shift guarantees)
        val chained = hexStepsFor("//").zipWithIndex.map { case ((n, e), i) =>
          val prev = if (i == 0) "pts" else s"h${i - 1}"
          s"h$i AS (SELECT *, $e AS $n FROM $prev)"
        }.mkString(",\n")
        s"""WITH pts AS ($pointsSql),
           |$chained
           |SELECT hq, hr, COUNT(*) AS n_points,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_value
           |FROM h${hexSteps.size - 1}
           |GROUP BY hq, hr ORDER BY hq, hr""".stripMargin
      },
      "zs_shared_borders" ->
        """WITH zz AS (
          |  SELECT p_partkey AS zone_id,
          |    CAST(CAST(p_partkey * 37 % 340 AS DOUBLE) - 180.0 AS BIGINT) AS x0,
          |    CAST(CAST(p_partkey * 61 % 60 AS DOUBLE) - 35.0 AS BIGINT) AS y0
          |  FROM part
          |), h AS (
          |  SELECT zone_id, x0 + k AS sx, y0 + dy AS sy, 0 AS orient
          |  FROM zz, range(0, 20) t1(k), (SELECT unnest([0, 10]) AS dy) d
          |), v AS (
          |  SELECT zone_id, x0 + dx AS sx, y0 + j AS sy, 1 AS orient
          |  FROM zz, range(0, 10) t2(j), (SELECT unnest([0, 20]) AS dx) d
          |), segs AS (
          |  SELECT * FROM h UNION ALL SELECT * FROM v
          |), st AS (
          |  SELECT sx, sy, orient, COUNT(DISTINCT zone_id) AS n_zones,
          |    ((sx + 200) * 31 + (sy + 100) * 17 + orient * 7) % 5 <> 0 AS keep
          |  FROM segs GROUP BY 1, 2, 3
          |)
          |SELECT s.zone_id, COUNT(*) AS n_border,
          |  CAST(SUM(CASE WHEN n_zones >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  CAST(SUM(CASE WHEN n_zones >= 2 AND keep THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_kept
          |FROM segs s JOIN st USING (sx, sy, orient)
          |GROUP BY s.zone_id ORDER BY s.zone_id""".stripMargin,
      "zs_dissolve" ->
        """WITH z AS (
          |  SELECT p_partkey % 16 AS grp,
          |    CAST(CAST(p_partkey * 37 % 340 AS DOUBLE) - 180.0 AS BIGINT) AS x0,
          |    CAST(CAST(p_partkey * 61 % 60 AS DOUBLE) - 35.0 AS BIGINT) AS y0
          |  FROM part
          |), c AS (
          |  SELECT grp, (x0 + dx) * 1000 + (y0 + dy) AS cell
          |  FROM z, (SELECT unnest(range(0, 20)) AS dx), (SELECT unnest(range(0, 10)) AS dy)
          |)
          |SELECT grp, COUNT(*) AS summed_cells,
          |  COUNT(DISTINCT cell) AS union_cells,
          |  CAST((COUNT(*) * 100) // COUNT(DISTINCT cell) AS BIGINT) AS overlap_x100
          |FROM c GROUP BY grp ORDER BY grp""".stripMargin,
      "zs_buffer" ->
        s"""WITH pts AS MATERIALIZED (
           |  SELECT event_type, event_id * 7919 % 36000 AS slon,
           |    event_id * 104729 % 7000 AS slat
           |  FROM events
           |), cand AS (
           |  SELECT event_type, slon // 100 + ox AS cx, slat // 100 + oy AS cy,
           |    slon, slat
           |  FROM pts, range(-2, 3) tx(ox), range(-2, 3) ty(oy)
           |), cells AS (
           |  SELECT DISTINCT event_type, cx, cy FROM cand
           |  WHERE cx >= 0 AND cx < 360 AND cy >= 0 AND cy < 70
           |    AND (cx * 100 + 50 - slon) * (cx * 100 + 50 - slon)
           |      + (cy * 100 + 50 - slat) * (cy * 100 + 50 - slat)
           |      <= ${BufferR100 * BufferR100}
           |), np AS (
           |  SELECT event_type, COUNT(*) AS n_points FROM pts GROUP BY event_type
           |)
           |SELECT c.event_type, COUNT(*) AS n_buffer_cells,
           |  MIN(cx) AS min_cx, MAX(cx) AS max_cx, np.n_points
           |FROM cells c JOIN np USING (event_type)
           |GROUP BY c.event_type, np.n_points
           |ORDER BY c.event_type""".stripMargin,
      "zs_kde" ->
        """WITH g AS (
          |  SELECT CAST(ga * 10 + gb AS BIGINT) AS qid,
          |    CAST(ga * 3600 - 36000 + 1 AS BIGINT) AS qa200,
          |    CAST(gb * 2000 - 7000 + 1 AS BIGINT) AS qb200
          |  FROM range(0, 20) t1(ga), range(0, 7) t2(gb)
          |), s AS (
          |  SELECT
          |    2 * (CAST(event_id * 7919 % 36000 AS BIGINT) - 18000) AS sa200,
          |    2 * (CAST(event_id * 104729 % 7000 AS BIGINT) - 3500) AS sb200
          |  FROM events
          |), j AS (
          |  SELECT qid, qa200, qb200,
          |    (sa200 - qa200) * (sa200 - qa200) + (sb200 - qb200) * (sb200 - qb200) AS d2
          |  FROM g JOIN s ON (sa200 - qa200) * (sa200 - qa200)
          |    + (sb200 - qb200) * (sb200 - qb200) < 90000
          |)
          |SELECT qid, qa200, qb200, COUNT(*) AS n_in_bw,
          |  CAST(SUM(((90000 - d2) * 1000000) // 90000) AS BIGINT) AS density_x1e6
          |FROM j GROUP BY qid, qa200, qb200 ORDER BY qid""".stripMargin,
      "zs_idw" ->
        s"""WITH g AS (
          |  SELECT CAST(ga * 10 + gb AS BIGINT) AS qid,
          |    CAST(ga * 3600 - 36000 + 1 AS BIGINT) AS qa200,
          |    CAST(gb * 2000 - 7000 + 1 AS BIGINT) AS qb200
          |  FROM range(0, 20) t1(ga), range(0, 7) t2(gb)
          |), q AS (
          |  SELECT qid, qa200, qb200,
          |    CAST(floor(CAST(qa200 AS DOUBLE) / 400.0) AS BIGINT) + dx AS cx,
          |    CAST(floor(CAST(qb200 AS DOUBLE) / 200.0) AS BIGINT) + dy AS cy
          |  FROM g, (SELECT unnest([-1, 0, 1]) AS dx), (SELECT unnest([-1, 0, 1]) AS dy)
          |), s AS (
          |  SELECT
          |    2 * (CAST(event_id * 7919 % 36000 AS BIGINT) - 18000) AS sa200,
          |    2 * (CAST(event_id * 104729 % 7000 AS BIGINT) - 3500) AS sb200,
          |    CAST(round(value * 100) AS BIGINT) AS v100
          |  FROM events
          |), sc AS (
          |  SELECT *,
          |    CAST(floor(CAST(sa200 AS DOUBLE) / 400.0) AS BIGINT) AS cx,
          |    CAST(floor(CAST(sb200 AS DOUBLE) / 200.0) AS BIGINT) AS cy
          |  FROM s
          |), j AS (
          |  SELECT qid, qa200, qb200, v100,
          |    (sa200 - qa200) * (sa200 - qa200) + (sb200 - qb200) * (sb200 - qb200) AS d2
          |  FROM sc JOIN q ON sc.cx = q.cx AND sc.cy = q.cy
          |), k AS (
          |  SELECT qid, qa200, qb200, v100, 1000000000000 // d2 AS w FROM j
          |)
          |SELECT qid, qa200, qb200, COUNT(*) AS n_stations,
          |  ${r4Sql("CAST(SUM(CAST(v100 * w AS DECIMAL(38,0))) AS DOUBLE) / CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) / 100.0")} AS idw_value
          |FROM k GROUP BY qid, qa200, qb200 ORDER BY qid""".stripMargin,
      "zs_line_clip" ->
        // IDENTICAL Liang–Barsky expressions to the Spark side — every
        // double and boundary compare matches bit for bit
        s"""WITH segs AS (
           |  SELECT o_orderkey AS seg_id,
           |    CAST(o_orderkey * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS x0,
           |    CAST(o_orderkey * 104729 % 7000 AS DOUBLE) / 100.0 - 35.0 AS y0,
           |    CAST(o_orderkey * 131 % 2000 AS DOUBLE) / 100.0 - 10.0 AS dx,
           |    CAST(o_orderkey * 241 % 1000 AS DOUBLE) / 100.0 - 5.0 AS dy
           |  FROM orders
           |),
           |f AS (
           |  SELECT * FROM segs
           |  WHERE NOT (dx = 0 AND (x0 < -60.0 OR x0 > 60.0))
           |    AND NOT (dy = 0 AND (y0 < -20.0 OR y0 > 20.0))
           |),
           |t AS (
           |  SELECT *,
           |    GREATEST(CAST(0 AS DOUBLE),
           |      CASE WHEN dx > 0 THEN (-60.0 - x0) / dx WHEN dx < 0 THEN (60.0 - x0) / dx ELSE CAST(0 AS DOUBLE) END,
           |      CASE WHEN dy > 0 THEN (-20.0 - y0) / dy WHEN dy < 0 THEN (20.0 - y0) / dy ELSE CAST(0 AS DOUBLE) END) AS t0,
           |    LEAST(CAST(1 AS DOUBLE),
           |      CASE WHEN dx > 0 THEN (60.0 - x0) / dx WHEN dx < 0 THEN (-60.0 - x0) / dx ELSE CAST(1 AS DOUBLE) END,
           |      CASE WHEN dy > 0 THEN (20.0 - y0) / dy WHEN dy < 0 THEN (-20.0 - y0) / dy ELSE CAST(1 AS DOUBLE) END) AS t1
           |  FROM f
           |)
           |SELECT seg_id,
           |  ${graft.sources.Tables.r4Sql("x0 + t0 * dx")} AS cx0,
           |  ${graft.sources.Tables.r4Sql("y0 + t0 * dy")} AS cy0,
           |  ${graft.sources.Tables.r4Sql("x0 + t1 * dx")} AS cx1,
           |  ${graft.sources.Tables.r4Sql("y0 + t1 * dy")} AS cy1,
           |  ${graft.sources.Tables.r4Sql("(t1 - t0) * sqrt(dx * dx + dy * dy)")} AS clip_len
           |FROM t WHERE t0 <= t1 ORDER BY seg_id""".stripMargin,
      "zs_area_weighted" ->
        // integer zone corners x integer cell pitch => exact integer
        // overlap widths; the kx/ky VALUES cross-join enumerates the
        // bounded covering-cell window (<=8x6), same as the Spark explode
        s"""WITH pts AS ($pointsSql),
           |cells AS (
           |  SELECT CAST(floor((lon + 180.0) / 3.0) AS BIGINT) AS gx,
           |    CAST(floor((lat + 35.0) / 2.0) AS BIGINT) AS gy,
           |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS cell_sum,
           |    COUNT(*) AS cell_n
           |  FROM pts GROUP BY 1, 2
           |),
           |z AS (
           |  SELECT p_partkey AS zone_id,
           |    CAST(p_partkey * 37 % 340 AS BIGINT) AS zx0,
           |    CAST(p_partkey * 61 % 60 AS BIGINT) AS zy0
           |  FROM part
           |),
           |zc AS (
           |  SELECT zone_id, zx0 // 3 + kx AS gx, zy0 // 2 + ky AS gy,
           |    (LEAST(zx0 + 20, (zx0 // 3 + kx + 1) * 3) - GREATEST(zx0, (zx0 // 3 + kx) * 3))
           |      * (LEAST(zy0 + 10, (zy0 // 2 + ky + 1) * 2) - GREATEST(zy0, (zy0 // 2 + ky) * 2)) AS w
           |  FROM z,
           |    (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) kxs(kx),
           |    (VALUES (0),(1),(2),(3),(4),(5)) kys(ky)
           |  WHERE zx0 // 3 + kx <= (zx0 + 20) // 3 AND zy0 // 2 + ky <= (zy0 + 10) // 2
           |)
           |SELECT zone_id, COUNT(*) AS n_cells, CAST(SUM(w) AS BIGINT) AS tot_w,
           |  CAST(SUM(w * cell_n) AS BIGINT) AS wn,
           |  ${graft.sources.Tables.r4Sql(
               "CAST(SUM(cell_sum * w) AS DOUBLE) / CAST(SUM(w * cell_n) AS DOUBLE)")} AS wmean
           |FROM zc JOIN cells USING (gx, gy)
           |WHERE w > 0
           |GROUP BY zone_id ORDER BY zone_id""".stripMargin,
      "zs_bilinear" ->
        // cell means quantized to exact 1e-4 integers (v10k) so the
        // weighted sum is exact integer arithmetic on both engines
        s"""WITH pts AS ($pointsSql),
           |grid AS (
           |  SELECT CAST(floor(lon) AS BIGINT) + 180 AS fx,
           |    CAST(floor(lat) AS BIGINT) + 35 AS fy,
           |    CAST(floor((CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |      / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS v10k
           |  FROM pts GROUP BY 1, 2
           |),
           |q AS (
           |  SELECT s_suppkey AS q_id,
           |    CAST(s_suppkey * 7919 % 35900 AS BIGINT) AS a100,
           |    CAST(s_suppkey * 104729 % 6900 AS BIGINT) AS b100
           |  FROM supplier
           |),
           |n AS (
           |  SELECT q_id, a100 // 100 + di AS fx, b100 // 100 + dj AS fy,
           |    (CASE WHEN di = 0 THEN 100 - a100 % 100 ELSE a100 % 100 END)
           |      * (CASE WHEN dj = 0 THEN 100 - b100 % 100 ELSE b100 % 100 END) AS w
           |  FROM q, (VALUES (0),(1)) dis(di), (VALUES (0),(1)) djs(dj)
           |)
           |SELECT q_id, COUNT(*) AS n_nbrs, CAST(SUM(w) AS BIGINT) AS den,
           |  ${graft.sources.Tables.r4Sql(
               "CAST(SUM(w * v10k) AS DOUBLE) / CAST(SUM(w) * 10000 AS DOUBLE)")} AS interp
           |FROM n JOIN grid USING (fx, fy)
           |WHERE w > 0
           |GROUP BY q_id ORDER BY q_id""".stripMargin,
      "zs_contour" ->
        s"""WITH pts AS ($pointsSql),
           |cells AS (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |adj AS (
           |  SELECT a.n AS n, b.n AS n2 FROM cells a
           |  JOIN cells b ON b.fx = a.fx + 1 AND b.fy = a.fy
           |  UNION ALL
           |  SELECT a.n, b.n FROM cells a
           |  JOIN cells b ON b.fx = a.fx AND b.fy = a.fy + 1
           |),
           |lv AS (SELECT CAST(UNNEST([${ContourLevels.mkString(", ")}]) AS BIGINT) AS level),
           |segs AS (
           |  SELECT level, COUNT(*) AS ns FROM adj CROSS JOIN lv
           |  WHERE LEAST(n, n2) < level AND GREATEST(n, n2) >= level GROUP BY level
           |),
           |abv AS (
           |  SELECT level, COUNT(*) AS na FROM cells CROSS JOIN lv
           |  WHERE n >= level GROUP BY level
           |)
           |SELECT lv.level, COALESCE(ns, 0) AS n_segments,
           |  COALESCE(na, 0) AS n_cells_above
           |FROM lv LEFT JOIN segs USING (level) LEFT JOIN abv USING (level)
           |ORDER BY level""".stripMargin,
      "zs_ridge" ->
        s"""WITH RECURSIVE
           |pts AS ($pointsSql),
           |cells AS (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |dirs(d, dx, dy, w) AS (
           |  VALUES (0, 1, 0, 10), (1, 1, 1, 7), (2, 0, 1, 10), (3, -1, 1, 7),
           |    (4, -1, 0, 10), (5, -1, -1, 7), (6, 0, -1, 10), (7, 1, -1, 7)
           |),
           |grid AS (
           |  SELECT c.fx, c.fy, c.n, d.d, d.w, COALESCE(nb.n, 0) AS nn,
           |    c.fx + d.dx AS nx, c.fy + d.dy AS ny,
           |    (c.n - COALESCE(nb.n, 0)) * d.w AS eff
           |  FROM cells c CROSS JOIN dirs d
           |  LEFT JOIN cells nb ON nb.fx = c.fx + d.dx AND nb.fy = c.fy + d.dy
           |),
           |sel AS (
           |  SELECT *, (fx + 180) * 1024 + (fy + 512) AS id,
           |    (nx + 180) * 1024 + (ny + 512) AS tid
           |  FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY fx, fy
           |      ORDER BY eff DESC, d ASC) AS rn
           |    FROM grid) t WHERE rn = 1
           |),
           |e AS (
           |  SELECT id AS src, tid AS dst FROM sel WHERE eff > 0 AND nn > 0
           |),
           |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |reach AS (
           |  SELECT id AS cell, id AS r FROM sel
           |  UNION
           |  SELECT s.dst AS cell, reach.r FROM reach JOIN sym s ON reach.cell = s.src
           |),
           |final AS (SELECT cell, MIN(r) AS basin FROM reach GROUP BY cell),
           |lab AS (
           |  SELECT sel.fx, sel.fy, f.basin AS comp
           |  FROM sel JOIN final f ON sel.id = f.cell
           |),
           |seg AS (
           |  SELECT LEAST(a.comp, b.comp) AS basin_a,
           |    GREATEST(a.comp, b.comp) AS basin_b
           |  FROM lab a JOIN lab b
           |    ON b.fx = a.fx + 1 AND b.fy = a.fy
           |  WHERE a.comp <> b.comp
           |  UNION ALL
           |  SELECT LEAST(a.comp, b.comp), GREATEST(a.comp, b.comp)
           |  FROM lab a JOIN lab b
           |    ON b.fx = a.fx AND b.fy = a.fy + 1
           |  WHERE a.comp <> b.comp
           |)
           |SELECT basin_a, basin_b, COUNT(*) AS n_segments
           |FROM seg GROUP BY 1, 2
           |ORDER BY n_segments DESC, basin_a, basin_b LIMIT 15""".stripMargin,
      "zs_watershed" ->
        s"""WITH RECURSIVE
           |pts AS ($pointsSql),
           |cells AS (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |dirs(d, dx, dy, w) AS (
           |  VALUES (0, 1, 0, 10), (1, 1, 1, 7), (2, 0, 1, 10), (3, -1, 1, 7),
           |    (4, -1, 0, 10), (5, -1, -1, 7), (6, 0, -1, 10), (7, 1, -1, 7)
           |),
           |grid AS (
           |  SELECT c.fx, c.fy, c.n, d.d, d.w, COALESCE(nb.n, 0) AS nn,
           |    c.fx + d.dx AS nx, c.fy + d.dy AS ny,
           |    (c.n - COALESCE(nb.n, 0)) * d.w AS eff
           |  FROM cells c CROSS JOIN dirs d
           |  LEFT JOIN cells nb ON nb.fx = c.fx + d.dx AND nb.fy = c.fy + d.dy
           |),
           |sel AS (
           |  SELECT *, (fx + 180) * 1024 + (fy + 512) AS id,
           |    (nx + 180) * 1024 + (ny + 512) AS tid
           |  FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY fx, fy
           |      ORDER BY eff DESC, d ASC) AS rn
           |    FROM grid) t WHERE rn = 1
           |),
           |e AS (
           |  SELECT id AS src, tid AS dst FROM sel WHERE eff > 0 AND nn > 0
           |),
           |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |reach AS (
           |  SELECT id AS cell, id AS r FROM sel
           |  UNION
           |  SELECT s.dst AS cell, reach.r FROM reach JOIN sym s ON reach.cell = s.src
           |),
           |final AS (SELECT cell, MIN(r) AS basin FROM reach GROUP BY cell)
           |SELECT f.basin AS basin_id, COUNT(*) AS n_cells,
           |  CAST(SUM(sel.n) AS BIGINT) AS mass,
           |  MAX(CASE WHEN sel.eff <= 0 THEN 'sink'
           |    WHEN sel.nn = 0 THEN 'outlet' END) AS root_class
           |FROM sel JOIN final f ON sel.id = f.cell
           |GROUP BY 1 ORDER BY n_cells DESC, basin_id LIMIT 20""".stripMargin,
      "zs_flowaccum" -> {
        val round = (r: Int) =>
          s"""a$r AS (
             |  SELECT s.fx, s.fy, CAST(COALESCE(i.inflow, 0) + 1 AS BIGINT) AS acc
             |  FROM (SELECT fx, fy FROM sel) s LEFT JOIN (
             |    SELECT e.vx AS fx, e.vy AS fy, SUM(a.acc) AS inflow
             |    FROM edges e JOIN a${r - 1} a ON e.ux = a.fx AND e.uy = a.fy
             |    GROUP BY 1, 2) i ON s.fx = i.fx AND s.fy = i.fy
             |)""".stripMargin
        s"""WITH pts AS ($pointsSql),
           |cells AS (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |dirs(d, dx, dy, w) AS (
           |  VALUES (0, 1, 0, 10), (1, 1, 1, 7), (2, 0, 1, 10), (3, -1, 1, 7),
           |    (4, -1, 0, 10), (5, -1, -1, 7), (6, 0, -1, 10), (7, 1, -1, 7)
           |),
           |grid AS (
           |  SELECT c.fx, c.fy, c.n, d.d, d.w, COALESCE(nb.n, 0) AS nn,
           |    c.fx + d.dx AS nx, c.fy + d.dy AS ny,
           |    (c.n - COALESCE(nb.n, 0)) * d.w AS eff
           |  FROM cells c CROSS JOIN dirs d
           |  LEFT JOIN cells nb ON nb.fx = c.fx + d.dx AND nb.fy = c.fy + d.dy
           |),
           |sel AS (
           |  SELECT * FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY fx, fy
           |      ORDER BY eff DESC, d ASC) AS rn
           |    FROM grid) WHERE rn = 1
           |),
           |edges AS (
           |  SELECT fx AS ux, fy AS uy, nx AS vx, ny AS vy FROM sel
           |  WHERE eff > 0 AND nn > 0
           |),
           |a0 AS (SELECT fx, fy, CAST(1 AS BIGINT) AS acc FROM sel),
           |${(1 to FlowAccumRounds).map(round).mkString(",\n")}
           |SELECT a.fx, a.fy, a.acc,
           |  CASE WHEN s.eff <= 0 THEN 'sink'
           |    WHEN s.nn = 0 THEN 'outlet' ELSE 'interior' END AS cell_class
           |FROM a$FlowAccumRounds a JOIN sel s ON a.fx = s.fx AND a.fy = s.fy
           |ORDER BY a.acc DESC, a.fx, a.fy LIMIT 25""".stripMargin
      },
      "zs_flowdir" ->
        s"""WITH pts AS ($pointsSql),
           |cells AS (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |dirs(d, dx, dy, w) AS (
           |  VALUES (0, 1, 0, 10), (1, 1, 1, 7), (2, 0, 1, 10), (3, -1, 1, 7),
           |    (4, -1, 0, 10), (5, -1, -1, 7), (6, 0, -1, 10), (7, 1, -1, 7)
           |),
           |grid AS (
           |  SELECT c.fx, c.fy, c.n, d.d, d.w,
           |    (c.n - COALESCE(nb.n, 0)) * d.w AS eff
           |  FROM cells c CROSS JOIN dirs d
           |  LEFT JOIN cells nb ON nb.fx = c.fx + d.dx AND nb.fy = c.fy + d.dy
           |),
           |sel AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fx, fy
           |    ORDER BY eff DESC, d ASC) AS rn
           |  FROM grid
           |)
           |SELECT CAST(CASE WHEN eff <= 0 THEN -1 ELSE d END AS BIGINT) AS flow_dir,
           |  COUNT(*) AS n_cells,
           |  CAST(SUM(CASE WHEN eff > 0 THEN eff ELSE 0 END) AS BIGINT) AS sum_eff
           |FROM sel WHERE rn = 1 GROUP BY 1 ORDER BY flow_dir""".stripMargin,
      "zs_focal_mean" ->
        s"""WITH pts AS ($pointsSql),
           |cells AS (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |sc AS (
           |  SELECT fx + dx AS tx, fy + dy AS ty,
           |    n * (2 - abs(dx)) * (2 - abs(dy)) AS w
           |  FROM cells, (VALUES (-1), (0), (1)) dxs(dx), (VALUES (-1), (0), (1)) dys(dy)
           |)
           |SELECT tx, ty, CAST(SUM(w) AS BIGINT) AS wsum, COUNT(*) AS n_contrib,
           |  CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) / 16.0 AS smooth
           |FROM sc GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin,
      "zs_poly_area" ->
        // exact-integer shoelace over the pentagon ring; same integers as
        // the Spark HOF, so area2/cxn/cyn match bit for bit and the
        // centroid is one double division of identical integers
        """WITH z AS (
          |  SELECT p_partkey AS zone_id,
          |    CAST(p_partkey * 53 % 330 AS BIGINT) - 180 AS ax,
          |    CAST(p_partkey * 89 % 55 AS BIGINT) - 35 AS ay,
          |    p_partkey % 15 + 10 AS w, p_partkey % 8 + 6 AS h,
          |    CAST(FLOOR((p_partkey % 15 + 10) / 2.0) AS BIGINT) AS hx,
          |    p_partkey % 4 + 2 AS nd
          |  FROM part
          |),
          |v AS (
          |  SELECT zone_id, 1 AS i, ax AS x, ay AS y FROM z
          |  UNION ALL SELECT zone_id, 2, ax + w, ay FROM z
          |  UNION ALL SELECT zone_id, 3, ax + w, ay + h FROM z
          |  UNION ALL SELECT zone_id, 4, ax + hx, ay + h - nd FROM z
          |  UNION ALL SELECT zone_id, 5, ax, ay + h FROM z
          |),
          |pairs AS (
          |  SELECT a.zone_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
          |  FROM v a JOIN v b ON a.zone_id = b.zone_id AND b.i = a.i % 5 + 1
          |)
          |SELECT zone_id,
          |  CAST(SUM(x1 * y2 - x2 * y1) AS BIGINT) AS area2,
          |  CAST(SUM((x1 + x2) * (x1 * y2 - x2 * y1)) AS DOUBLE)
          |    / CAST(CAST(SUM(x1 * y2 - x2 * y1) AS BIGINT) * 3 AS DOUBLE) AS cx,
          |  CAST(SUM((y1 + y2) * (x1 * y2 - x2 * y1)) AS DOUBLE)
          |    / CAST(CAST(SUM(x1 * y2 - x2 * y1) AS BIGINT) * 3 AS DOUBLE) AS cy
          |FROM pairs GROUP BY zone_id ORDER BY zone_id""".stripMargin,
      "zs_nearest_zone" ->
        // identical candidate generation (3x3 cell window, x100 ints) +
        // the same lexicographic (d2, zone_id) argmin, via row_number
        """WITH p AS (
          |  SELECT event_id,
          |    CAST(event_id * 7919 % 36000 AS BIGINT) - 18000 AS a100,
          |    CAST(event_id * 104729 % 7000 AS BIGINT) - 3500 AS b100
          |  FROM events
          |),
          |z AS (
          |  SELECT p_partkey AS zone_id,
          |    (CAST(p_partkey * 37 % 340 AS BIGINT) - 170) * 100 AS zcx,
          |    (CAST(p_partkey * 61 % 60 AS BIGINT) - 30) * 100 AS zcy
          |  FROM part
          |),
          |cand AS (
          |  SELECT p.event_id, z.zone_id,
          |    (a100 - zcx) * (a100 - zcx) + (b100 - zcy) * (b100 - zcy) AS d2
          |  FROM p JOIN z
          |    ON CAST(FLOOR(zcx / 200.0) AS BIGINT)
          |      BETWEEN CAST(FLOOR(a100 / 200.0) AS BIGINT) - 1
          |          AND CAST(FLOOR(a100 / 200.0) AS BIGINT) + 1
          |   AND CAST(FLOOR(zcy / 100.0) AS BIGINT)
          |      BETWEEN CAST(FLOOR(b100 / 100.0) AS BIGINT) - 1
          |          AND CAST(FLOOR(b100 / 100.0) AS BIGINT) + 1
          |),
          |r AS (
          |  SELECT event_id, zone_id, d2,
          |    ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY d2, zone_id) AS rk
          |  FROM cand
          |)
          |SELECT event_id, zone_id, d2 FROM r WHERE rk = 1 ORDER BY event_id""".stripMargin,
      "zs_crs_detect" ->
        s"""WITH pts AS ($pointsSql),
           |u AS (
           |  SELECT 'raw' AS layer, lon AS x, lat AS y FROM pts
           |  UNION ALL
           |  SELECT 'projected' AS layer, lon * 111320.0 AS x, lat * 110540.0 AS y FROM pts
           |),
           |agg AS (
           |  SELECT layer, MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
           |  FROM u GROUP BY layer
           |)
           |SELECT layer, min_x, max_x, min_y, max_y,
           |  CASE WHEN min_x >= -180.0 AND max_x <= 180.0 AND min_y >= -90.0 AND max_y <= 90.0
           |    THEN 'geographic' ELSE 'projected' END AS crs_guess
           |FROM agg ORDER BY layer""".stripMargin,
      "zs_crs_dispatch" ->
        s"""WITH pts AS ($pointsSql), m AS ($layerManifestSql),
           |p AS (SELECT *, event_id % 25 AS layer_id FROM pts)
           |SELECT p.layer_id, crs,
           |  CAST(CASE WHEN crs = 'EPSG:4326' THEN band ELSE 1 END AS BIGINT) AS band_used,
           |  COUNT(*) AS n_points,
           |  CAST(SUM(CAST(CASE WHEN crs = 'EPSG:4326' THEN lon
           |    ELSE lon * sx + dx END AS DECIMAL(18,4))) AS DOUBLE) AS sum_x,
           |  CAST(SUM(CAST(CASE WHEN crs = 'EPSG:4326' THEN lat
           |    ELSE lat * sy + dy END AS DECIMAL(18,4))) AS DOUBLE) AS sum_y,
           |  CAST(SUM(CAST([value, value * 2, value * 4]
           |    [CASE WHEN crs = 'EPSG:4326' THEN band ELSE 1 END]
           |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_band_value
           |FROM p JOIN m ON p.layer_id = m.layer_id
           |GROUP BY 1, 2, 3 ORDER BY p.layer_id""".stripMargin,
      "zs_polygonize" ->
        // c and e MUST be MATERIALIZED: e is referenced inside the
        // recursive term, and DuckDB re-evaluates plain CTEs there —
        // without it every closure iteration replays the full events
        // scan + cell self-join (the 10x step-up timeout cause)
        s"""WITH RECURSIVE
           |pts AS ($pointsSql),
           |cells AS MATERIALIZED (
           |  SELECT CAST(floor(lon) AS BIGINT) AS fx, CAST(floor(lat) AS BIGINT) AS fy,
           |    COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |),
           |c AS MATERIALIZED (
           |  SELECT fx, fy, n, n % 4 AS cls, (fx + 180) * 70 + (fy + 35) AS lbl FROM cells
           |),
           |e AS MATERIALIZED (
           |  SELECT a.lbl AS src, b.lbl AS dst FROM c a JOIN c b
           |  ON a.cls = b.cls AND
           |    ((a.fx + 1 = b.fx AND a.fy = b.fy) OR (b.fx + 1 = a.fx AND a.fy = b.fy) OR
           |     (a.fx = b.fx AND a.fy + 1 = b.fy) OR (a.fx = b.fx AND b.fy + 1 = a.fy))
           |),
           |reach AS (
           |  SELECT lbl AS cell, lbl AS r FROM c
           |  UNION
           |  SELECT e.dst AS cell, reach.r FROM reach JOIN e ON reach.cell = e.src
           |),
           |final AS (SELECT cell, MIN(r) AS region_id FROM reach GROUP BY cell)
           |SELECT f.region_id, c.cls, COUNT(*) AS n_cells,
           |  CAST(SUM(c.n) AS BIGINT) AS n_points,
           |  MIN(c.fx) AS rxmin, MAX(c.fx) AS rxmax,
           |  MIN(c.fy) AS rymin, MAX(c.fy) AS rymax
           |FROM c JOIN final f ON c.lbl = f.cell
           |GROUP BY 1, 2 ORDER BY region_id""".stripMargin,
      "zs_poly_zonal" ->
        // exact INTEGER containment — the same f1/f2 longs the Spark side
        // computes, so on-line points are deterministic on both engines
        s"""WITH pts AS (
           |  SELECT value,
           |    CAST(event_id * 7919 % 36000 AS BIGINT) - 18000 AS a100,
           |    CAST(event_id * 104729 % 7000 AS BIGINT) - 3500 AS b100
           |  FROM events
           |),
           |z AS (
           |  SELECT p_partkey AS zone_id,
           |    CAST(p_partkey * 53 % 330 AS BIGINT) * 100 - 18000 AS ax100,
           |    CAST(p_partkey * 89 % 55 AS BIGINT) * 100 - 3500 AS ay100,
           |    p_partkey % 15 + 10 AS w, p_partkey % 8 + 6 AS h,
           |    (p_partkey % 15 + 10) // 2 AS hx, p_partkey % 4 + 2 AS nd
           |  FROM part
           |)
           |SELECT zone_id, COUNT(*) AS n_points,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_value,
           |  MIN(value) AS min_value, MAX(value) AS max_value
           |FROM pts JOIN z
           |  ON a100 >= ax100 AND a100 < ax100 + w * 100
           |  AND b100 >= ay100 AND b100 < ay100 + h * 100
           |  AND NOT (
           |    (b100 - (ay100 + h * 100)) * hx + nd * (a100 - ax100) >= 0
           |    AND (b100 - (ay100 + h * 100) + nd * 100) * (w - hx)
           |      - nd * (a100 - ax100 - hx * 100) > 0)
           |GROUP BY zone_id ORDER BY zone_id""".stripMargin,
      "zs_tri_zonal" ->
        s"""WITH pts AS ($pointsSql), z AS ($triZonesSql)
           |SELECT zone_id, COUNT(*) AS n_points,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_value
           |FROM pts JOIN z ON (lon - ax) >= 0 AND (lat - ay) >= 0
           |  AND h * (lon - ax) + w * (lat - ay) <= w * h
           |GROUP BY zone_id ORDER BY zone_id""".stripMargin,
      "zs_tile_pyramid_full" ->
        s"""WITH pts AS ($pointsSql),
           |z10 AS (
           |  SELECT $tx10 AS tx, $ty10 AS ty,
           |    SUM(CAST(value AS DECIMAL(18,4))) AS sum_dec, COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |)
           |$pyramidLevels
           |ORDER BY zoom, tx, ty""".stripMargin,
      "zs_simplify" ->
        s"""WITH pts AS ($pointsSql)
           |SELECT CAST(floor(lon) AS BIGINT) AS snap_lon, CAST(floor(lat) AS BIGINT) AS snap_lat,
           |  MIN(event_id) AS rep_event_id, COUNT(*) AS n_collapsed,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
           |FROM pts GROUP BY 1, 2 ORDER BY snap_lon, snap_lat""".stripMargin,
      "zs_clip" ->
        s"""WITH pts AS ($pointsSql)
           |SELECT event_type, COUNT(*) AS n_points,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
           |FROM pts
           |WHERE lon >= -20.0 AND lon < 60.0 AND lat >= -10.0 AND lat < 30.0
           |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "zs_affine" ->
        s"""WITH pts AS ($pointsSql)
           |SELECT event_id, lon * 0.5 + 10.0 AS x_proj, lat * 2.0 - 5.0 AS y_proj
           |FROM pts WHERE event_id < 100 ORDER BY event_id""".stripMargin,
      "zs_zonal_stats" ->
        s"""WITH pts AS ($pointsSql),
           |z AS ($zonesSql
           |  UNION ALL SELECT -1, -170.0, 40.0, -150.0, 50.0),
           |stats AS (
           |  SELECT zone_id, COUNT(*) AS n_points,
           |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_value,
           |    MIN(value) AS min_value, MAX(value) AS max_value
           |  FROM pts JOIN z ON lon >= xmin AND lon < xmax AND lat >= ymin AND lat < ymax
           |  GROUP BY zone_id
           |)
           |SELECT z.zone_id, COALESCE(stats.n_points, 0) AS n_points,
           |  stats.mean_value, stats.min_value, stats.max_value
           |FROM z LEFT JOIN stats USING (zone_id) ORDER BY z.zone_id""".stripMargin,
      "zs_grid_downsample" ->
        s"""WITH pts AS ($pointsSql),
           |fine AS (
           |  SELECT CAST(floor(lon) AS BIGINT) + 180 AS fx, CAST(floor(lat) AS BIGINT) + 35 AS fy,
           |    SUM(CAST(value AS DECIMAL(18,4))) AS cell_sum_dec, COUNT(*) AS cell_n
           |  FROM pts GROUP BY 1, 2
           |)
           |SELECT fx // 4 AS cx, fy // 4 AS cy, COUNT(*) AS n_cells, CAST(SUM(cell_n) AS BIGINT) AS n_points,
           |  CAST(SUM(cell_sum_dec) AS DOUBLE) / SUM(cell_n) AS mean_value
           |FROM fine GROUP BY 1, 2 ORDER BY cx, cy""".stripMargin,
      "zs_vector_enrich" ->
        s"""WITH pts AS ($pointsSql), z AS ($zonesSql),
           |stats AS (
           |  SELECT zone_id, COUNT(*) AS n_points,
           |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_value
           |  FROM pts JOIN z ON lon >= xmin AND lon < xmax AND lat >= ymin AND lat < ymax
           |  GROUP BY zone_id
           |)
           |SELECT z.zone_id, z.xmin, z.ymin,
           |  COALESCE(stats.n_points, 0) AS n_points, stats.mean_value
           |FROM z LEFT JOIN stats ON z.zone_id = stats.zone_id
           |ORDER BY z.zone_id""".stripMargin,
      "zs_tile_assign" ->
        s"""WITH pts AS ($pointsSql),
           |t AS (SELECT *, $tx10 AS tx, $ty10 AS ty FROM pts)
           |SELECT tx, ty, ${quadkeySql(Zoom)} AS quadkey,
           |  COUNT(*) AS n_features,
           |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
           |FROM t GROUP BY tx, ty ORDER BY tx, ty""".stripMargin,
      "zs_tile_pyramid" ->
        s"""WITH pts AS ($pointsSql),
           |z10 AS (
           |  SELECT $tx10 AS tx, $ty10 AS ty,
           |    SUM(CAST(value AS DECIMAL(18,4))) AS sum_dec, COUNT(*) AS n
           |  FROM pts GROUP BY 1, 2
           |)
           |SELECT tx >> 4 AS tx6, ty >> 4 AS ty6, COUNT(*) AS n_child_tiles,
           |  CAST(SUM(n) AS BIGINT) AS n_features, CAST(SUM(sum_dec) AS DOUBLE) AS sum_value
           |FROM z10 GROUP BY 1, 2 ORDER BY tx6, ty6""".stripMargin,
      "zs_feature_drop" ->
        s"""WITH pts AS ($pointsSql),
           |t AS (
           |  SELECT *, $tx6 AS tx, $ty6 AS ty FROM pts
           |), r AS (
           |  SELECT tx, ty, event_id, value,
           |    ROW_NUMBER() OVER (PARTITION BY tx, ty ORDER BY value DESC, event_id ASC) AS rank
           |  FROM t
           |)
           |SELECT tx, ty, rank, event_id, value FROM r WHERE rank <= 10
           |ORDER BY tx, ty, rank""".stripMargin)
  }
}
