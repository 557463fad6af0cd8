package graft

import graft.operators.Geo
import org.apache.spark.sql.functions._

class GeoSpec extends SparkSpecBase {

  test("cell-bucketed point-zone join equals the naive theta-join") {
    val bucketed = Geo.pointZoneJoinOn(Geo.points(spark, sfDir), Geo.zones(spark, sfDir))
      .select("event_id", "zone_id")
    val p = Geo.points(spark, sfDir)
    val z = Geo.zones(spark, sfDir)
    val naive = p.join(z,
        col("lon") >= col("xmin") && col("lon") < col("xmax")
          && col("lat") >= col("ymin") && col("lat") < col("ymax"))
      .select("event_id", "zone_id")
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
  }

  test("zone side of the spatial join is broadcast") {
    val p = plan(Geo.zonalStats(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("aligned zonal keys end in one LeftOuter broadcast join and no sort-merge join") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    // the aligned core keeps every zone through its LEFT OUTER probe of the
    // broadcast cell table, so the final plan holds that one join and no
    // join back onto the zones (a second join, broadcast or sort-merge)
    val aqe = new AdaptiveSparkPlanHelper {}
    Seq("zs_zonal_stats", "zs_vector_enrich").foreach { key =>
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.collect()
      val fin = df.queryExecution.executedPlan
      val joins = aqe.collect(fin) { case j: BaseJoinExec => j }
      assert(joins.size == 1, s"$key:\n$fin")
      assert(joins.head.isInstanceOf[BroadcastHashJoinExec] && joins.head.joinType == LeftOuter,
        s"$key:\n$fin")
    }
  }

  test("quadkey encodes tile coordinates (invertible)") {
    val rows = Geo.tileAssign(spark, sfDir)
      .select("tx", "ty", "quadkey").limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tx, ty, qk) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(qk.length == Geo.Zoom)
      var (x, y) = (0L, 0L)
      qk.foreach { d =>
        x = (x << 1) | (d - '0') % 2
        y = (y << 1) | (d - '0') / 2
      }
      assert(x == tx && y == ty, s"$qk -> ($x,$y) != ($tx,$ty)")
    }
  }

  test("tile pyramid conserves feature counts across levels") {
    val z10 = Geo.tileAssign(spark, sfDir).agg(sum("n_features")).collect()(0).getLong(0)
    val z6 = Geo.tilePyramid(spark, sfDir).agg(sum("n_features")).collect()(0).getLong(0)
    val pts = Geo.points(spark, sfDir).count()
    assert(z10 == pts && z6 == pts)
  }

  test("triangle zonal bbox-cell join equals the naive sign-test theta-join") {
    val bucketed = Geo.triZonalStats(spark, sfDir)
    val naive = Geo.points(spark, sfDir)
      .join(Geo.triZones(spark, sfDir),
        col("lon") - col("ax") >= 0 && col("lat") - col("ay") >= 0 &&
          col("h") * (col("lon") - col("ax")) + col("w") * (col("lat") - col("ay"))
            <= col("w") * col("h"))
      .groupBy("zone_id")
      .agg(count(lit(1)).as("n_points"),
        graft.sources.Tables.dmean(col("value")).as("mean_value"))
      .orderBy("zone_id")
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    assert(bucketed.count() > 0)
  }

  test("integer half-plane decomposition equals integer pnpoly on the FULL 0.01 grid") {
    // pentagon ax=0, ay=0, w=11 (odd -> hx=5), h=7, nd=3; every representable
    // 2-decimal point in the closed bbox — all edges, vertices, both notch
    // lines — in EXACT x100 integer arithmetic on both formulations. Both
    // are exact, so equality here PROVES the region equivalence the
    // polyZonalStats split relies on (a float version of this spec fails:
    // on-line points get rounding-noise verdicts, which is why the query
    // and its oracle run the integer forms).
    val (w, h, hx, nd) = (11L, 7L, 5L, 3L)
    // vertices x100: A(0,0) B(1100,0) C(1100,700) D(500,400) E(0,700)
    val vs = Seq((0L, 0L), (1100L, 0L), (1100L, 700L), (500L, 400L), (0L, 700L))
    val grid = spark.range(0L, 1101L).select(col("id").as("a"))
      .crossJoin(spark.range(0L, 701L).select(col("id").as("b")))
    // integer pnpoly: crossing parity with multiply-form comparisons
    val crossings = (0 until 5).map { i =>
      val (xi, yi) = vs(i); val (xj, yj) = vs((i + 1) % 5)
      val dy = yj - yi
      val cross =
        if (dy == 0) lit(false)
        else {
          val lhs = (col("a") - lit(xi)) * lit(dy)
          val rhs = lit(xj - xi) * (col("b") - lit(yi))
          ((lit(yi) > col("b")) =!= (lit(yj) > col("b"))) &&
            (if (dy > 0) lhs < rhs else lhs > rhs)
        }
      when(cross, 1).otherwise(0)
    }.reduce(_ + _)
    val pnpoly = crossings % 2 === 1
    val f1 = (col("b") - lit(h * 100)) * lit(hx) + lit(nd) * col("a")
    val f2 = (col("b") - lit((h - nd) * 100)) * lit(w - hx) - lit(nd) * (col("a") - lit(hx * 100))
    val split = col("a") >= 0L && col("a") < w * 100 && col("b") >= 0L && col("b") < h * 100 &&
      !(f1 >= 0 && f2 > 0)
    val diff = grid.withColumn("pn", pnpoly).withColumn("sp", split)
      .filter(col("pn") =!= col("sp"))
    assert(diff.isEmpty, diff.limit(5).collect().mkString(","))
  }

  test("poly zonal bbox-cell split equals the naive exact-integer theta-join") {
    val bucketed = Geo.polyZonalStats(spark, sfDir)
    val z = Geo.polyZones(spark, sfDir).select(
      col("zone_id"),
      (col("ax") * 100).cast("long").as("ax100"),
      (col("ay") * 100).cast("long").as("ay100"),
      col("w").cast("long").as("wl"), col("h").cast("long").as("hl"),
      col("hx").cast("long").as("hxl"), col("nd").cast("long").as("ndl"))
    val p = Geo.points(spark, sfDir)
      .withColumn("a", round(col("lon") * 100).cast("long"))
      .withColumn("b", round(col("lat") * 100).cast("long"))
    val f1 = (col("b") - col("ay100") - col("hl") * 100) * col("hxl") +
      col("ndl") * (col("a") - col("ax100"))
    val f2 = (col("b") - col("ay100") - col("hl") * 100 + col("ndl") * 100) * (col("wl") - col("hxl")) -
      col("ndl") * (col("a") - col("ax100") - col("hxl") * 100)
    val naive = p.join(z,
        col("a") >= col("ax100") && col("a") < col("ax100") + col("wl") * 100
          && col("b") >= col("ay100") && col("b") < col("ay100") + col("hl") * 100
          && !(f1 >= 0 && f2 > 0))
      .groupBy("zone_id")
      .agg(count(lit(1)).as("n_points"),
        graft.sources.Tables.dmean(col("value")).as("mean_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy("zone_id")
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    assert(bucketed.count() > 0)
  }

  test("polygonize: converged labeling has no same-class adjacency across regions") {
    // sf0.001's 1000 occupied cells have ZERO adjacent pairs (verified in
    // DuckDB) — nothing would merge; sf0.01 has ~3.5k same-class adjacencies
    val polyDir = "/root/testdata/sf0.01"
    val cr = Geo.cellRegions(spark, polyDir).localCheckpoint()
    // every 4-adjacent same-class cell pair must share a region id
    val crossing = cr.as("a").join(cr.as("b"),
        col("a.cls") === col("b.cls") &&
          ((col("a.fx") + 1 === col("b.fx") && col("a.fy") === col("b.fy")) ||
            (col("a.fx") === col("b.fx") && col("a.fy") + 1 === col("b.fy"))))
      .filter(col("a.region_id") =!= col("b.region_id"))
    assert(crossing.isEmpty, "adjacent same-class cells in different regions")
    // conservation: every occupied cell in exactly one region, points add up
    val out = Geo.polygonize(spark, polyDir)
    val nCells = cr.count()
    val nPts = Geo.points(spark, polyDir).count()
    val agg = out.agg(sum("n_cells"), sum("n_points")).collect()(0)
    assert(agg.getLong(0) == nCells && agg.getLong(1) == nPts)
    // regions actually merge cells (multi-cell regions exist)
    assert(out.filter(col("n_cells") > 1).count() > 0)
  }

  test("tile directory sink writes the z/x/y layout and point reads prune to one leaf") {
    val out = scratch("tiles")
    val pyr = Geo.tilePyramidFull(spark, sfDir).filter(col("zoom") <= 4)
    Geo.writeTileDirectory(pyr, out)
    // the z/x/y directory artifact: zoom 0 is the single world tile
    assert(new java.io.File(s"$out/zoom=0/tx=0/ty=0").isDirectory)
    val back = spark.read.parquet(out)
    assert(back.count() == pyr.count())
    // a single-tile read must prune on all three partition columns
    val p = plan(back.filter(col("zoom") === 4 && col("tx") === 3 && col("ty") === 2))
    assert(p.contains("PartitionFilters") &&
      p.contains("zoom") && p.contains("tx") && p.contains("ty"), p)
    // round trip is value-lossless for one known tile
    val z0 = back.filter(col("zoom") === 0).select("n_features").collect()
    val pts = Geo.points(spark, sfDir).count()
    assert(z0.length == 1 && z0(0).getLong(0) == pts)
  }

  test("web-mercator tiling: equator fixed point and latitude monotonicity") {
    import spark.implicits._
    val n = 1L << Geo.MercZoom
    // derive ty for synthetic lat bands through the same operator pipeline
    val rows = Geo.webmercator(spark, sfDir).select("ty").distinct().collect().map(_.getLong(0))
    assert(rows.forall(ty => ty >= 0 && ty < n))
    // lat in [-35, 35) straddles the equator: ty range must straddle 2^(z-1)
    val mid = n / 2
    assert(rows.exists(_ < mid) && rows.exists(_ >= mid), rows.sorted.mkString(","))
    // exact fixed point: lat -> ty is the documented mercator formula
    def ty(lat: Double): Long =
      math.floor((1.0 - math.log(math.tan(math.toRadians(lat))
        + 1.0 / math.cos(math.toRadians(lat))) / math.Pi) / 2.0 * n).toLong
    assert(ty(0.0) == mid)
    assert(ty(30.0) < ty(0.0) && ty(-30.0) > ty(0.0))
  }

  test("shared borders: every zone has 60 border segments on the sf data") {
    val out = Geo.sharedBorders(spark, sfDir)
    assert(out.filter(col("n_border") =!= 60L).isEmpty)
    assert(out.count() > 0)
  }

  test("shared borders: coincident zones inherit identical decisions, adjacency detected") {
    import spark.implicits._
    // z1 and z2 coincide exactly; z3 abuts them on the x=20 edge
    val zones = Seq((1L, 0.0, 0.0), (2L, 0.0, 0.0), (3L, 20.0, 0.0))
      .toDF("zone_id", "xmin", "ymin")
    val out = Geo.sharedBordersOn(zones).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // coincident zones share ALL 60 segments and — the point of
    // --detect-shared-borders — make identical keep/drop choices
    assert(out(1L) == out(2L))
    assert(out(1L)._1 == 60L && out(1L)._2 == 60L)
    // the adjacent zone shares exactly its 10 left-edge unit segments
    val (b3, s3, _, sk3) = out(3L)
    assert(b3 == 60L && s3 == 10L)
    // shared-kept counts agree border-for-border: z3's shared-kept border
    // segments are a subset of z1's shared set, decided by the same rule
    assert(sk3 <= out(1L)._4)
  }

  test("hexbin: exact-integer cube rounding matches bignum ground truth, counts conserved") {
    import spark.implicits._
    // expected values computed with Python arbitrary-precision integers
    // over the same constants (T=1732050807569, D=9e14, OFF=100) —
    // engine-independent ground truth, including the near-origin
    // boundary point (-0.01, 0.01)
    val fixed = Seq(
      (0.0, 0.0, 0L, 0L), (10.37, -4.12, 2L, -1L), (-179.99, 34.99, -39L, 8L),
      (123.45, -34.99, 28L, -8L), (-0.01, 0.01, 0L, 0L), (2.6, 1.5, 1L, 0L))
    val got = Geo.hexAssignOn(fixed.toDF("lon", "lat", "ehq", "ehr"))
      .select("lon", "lat", "ehq", "ehr", "hq", "hr").collect()
    got.foreach { r =>
      assert(r.getLong(2) == r.getLong(4) && r.getLong(3) == r.getLong(5),
        s"hex mismatch at (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
    // binning loses no points
    val total = Geo.points(spark, sfDir).count()
    val binned = Geo.hexbin(spark, sfDir).agg(sum("n_points")).collect()(0).getLong(0)
    assert(binned == total)
  }

  test("full pyramid has every even zoom and conserves counts at each") {
    val pts = Geo.points(spark, sfDir).count()
    val perZoom = Geo.tilePyramidFull(spark, sfDir)
      .groupBy("zoom").agg(sum("n_features").as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perZoom.keySet == (0 to 10 by 2).toSet)
    perZoom.foreach { case (z, n) => assert(n == pts, s"zoom $z: $n != $pts") }
    // zoom 0 is a single world tile
    assert(Geo.tilePyramidFull(spark, sfDir).filter(col("zoom") === 0).count() == 1)
  }

  test("one coordinate rule: lon/lat equal pointsSql bit for bit, x100/x200 the shifted forms") {
    import spark.implicits._
    // event_ids at each modulus wrap (slon/slat = 0 and span - 1), one
    // either side, and a large key whose products still fit a long
    def wrapIds(mult: Long, span: Long): Seq[Long] = {
      val top = (span - BigInt(mult).modInverse(span).toLong) % span // id * mult = -1 (mod span)
      Seq(0L, span, 7 * span, top, top + span, 3 * span + top)
        .flatMap(i => Seq(i - 1, i, i + 1)).filter(_ >= 0)
    }
    val ids = (wrapIds(7919L, 36000L) ++ wrapIds(104729L, 7000L) :+ 87960930222L).distinct
    val keys = ids.toDF("event_id")
    val (lon, lat) = Geo.lonLat(col("event_id"))
    val (slon, slat) = Geo.hundredths(col("event_id"))
    val (a100, b100) = Geo.centredX100(col("event_id"))
    val got = keys.select(col("event_id"), lon.as("lon"), lat.as("lat"),
        slon.as("slon"), slat.as("slat"), a100.as("a100"), b100.as("b100"),
        (a100 * 2L).as("sa200"), (b100 * 2L).as("sb200"))
    assert(got.schema.fields.drop(1).map(_.dataType.simpleString).toSeq ==
      Seq("double", "double") ++ Seq.fill(6)("bigint"))
    // the oracle spells the rule in SQL; run it through Spark SQL
    val view = s"coord_events_${System.nanoTime()}"
    keys.select(col("event_id"), lit("t").as("event_type"), lit(1.0).as("value"))
      .createOrReplaceTempView(view)
    val sqlLonLat = spark.sql(Geo.pointsSql.replace("FROM events", s"FROM $view"))
      .select("event_id", "lon", "lat").as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // nearestZone / trajectory (a100, b100), idw / kde (sa200, sb200) and
    // io_zorder (gx, gy), as their own oracles spell them
    val shifted = keys.selectExpr("event_id",
        "event_id * 7919 % 36000 AS gx", "event_id * 104729 % 7000 AS gy",
        "CAST(event_id * 7919 % 36000 AS BIGINT) - 18000 AS a100",
        "CAST(event_id * 104729 % 7000 AS BIGINT) - 3500 AS b100",
        "2 * (CAST(event_id * 7919 % 36000 AS BIGINT) - 18000) AS sa200",
        "2 * (CAST(event_id * 104729 % 7000 AS BIGINT) - 3500) AS sb200")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val rows = got.as[(Long, Double, Double, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == ids.length && sqlLonLat.size == ids.length)
    rows.foreach { case (id, lo, la, s, t, a, b, sa, sb) =>
      val (elo, ela) = sqlLonLat(id)
      assert(java.lang.Double.doubleToRawLongBits(lo) == java.lang.Double.doubleToRawLongBits(elo)
        && java.lang.Double.doubleToRawLongBits(la) == java.lang.Double.doubleToRawLongBits(ela),
        s"event_id $id: ($lo, $la) vs pointsSql ($elo, $ela)")
      val (_, gx, gy, ea, eb, esa, esb) = shifted(id)
      assert((s, t, a, b, sa, sb) == ((gx, gy, ea, eb, esa, esb)), s"event_id $id")
    }
    // the ids reach both ends of both spans
    val ss = rows.map(_._4).toSet; val ts = rows.map(_._5).toSet
    assert(ss.contains(0L) && ss.contains(35999L) && ts.contains(0L) && ts.contains(6999L))
  }
}
