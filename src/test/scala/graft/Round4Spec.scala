package graft

import graft.operators._
import graft.sources.ManifestIO
import org.apache.spark.sql.functions._

/** Round-4 pins: brute-force recomputes of the round-4 keys and the
  * boilerplate df join plan shape. */
class Round4Spec extends SparkSpecBase {

  test("zs_area_weighted matches a brute-force overlap recompute") {
    val cells = Geo.points(spark, sfDir).collect().groupBy { r =>
      (math.floor((r.getAs[Double]("lon") + 180.0) / 3.0).toLong,
        math.floor((r.getAs[Double]("lat") + 35.0) / 2.0).toLong)
    }.map { case (k, rs) =>
      k -> (rs.map(r => BigDecimal(r.getAs[Double]("value")).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum, rs.length.toLong)
    }
    val zones = Geo.zones(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("zone_id"), (r.getAs[Double]("xmin") + 180).toLong, (r.getAs[Double]("ymin") + 35).toLong))
    val expected = zones.flatMap { case (zid, zx0, zy0) =>
      val over = for {
        gx <- (zx0 / 3) to ((zx0 + 20) / 3)
        gy <- (zy0 / 2) to ((zy0 + 10) / 2)
        w = (math.min(zx0 + 20, (gx + 1) * 3) - math.max(zx0, gx * 3)) *
          (math.min(zy0 + 10, (gy + 1) * 2) - math.max(zy0, gy * 2))
        if w > 0
        c <- cells.get((gx, gy))
      } yield (w, c._1, c._2)
      if (over.isEmpty) None
      else {
        val wn = over.map(o => o._1 * o._3).sum
        val wsum = over.map(o => o._2 * o._1).sum
        Some(zid -> (over.size.toLong, over.map(_._1).sum, wn,
          math.floor((wsum.toDouble / wn.toDouble) * 10000.0 + 0.5) / 10000.0))
      }
    }.toMap
    val got = Geo.areaWeighted(spark, sfDir).collect()
      .map(r => r.getAs[Long]("zone_id") -> (r.getAs[Long]("n_cells"),
        r.getAs[Long]("tot_w"), r.getAs[Long]("wn"), r.getAs[Double]("wmean"))).toMap
    assert(got == expected)
  }

  test("zs_bilinear matches a pointwise 2x2 recompute") {
    val grid = Geo.points(spark, sfDir).collect().groupBy { r =>
      (math.floor(r.getAs[Double]("lon")).toLong + 180, math.floor(r.getAs[Double]("lat")).toLong + 35)
    }.map { case (k, rs) =>
      val s = rs.map(r => BigDecimal(r.getAs[Double]("value")).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      k -> math.floor((s.toDouble / rs.length.toDouble) * 10000.0 + 0.5).toLong
    }
    val expected = graft.sources.Tables.supplier(spark, sfDir).collect().flatMap { r =>
      val s = r.getAs[Long]("s_suppkey")
      val a100 = s * 7919 % 35900; val b100 = s * 104729 % 6900
      val nbrs = for {
        di <- 0L to 1L; dj <- 0L to 1L
        w = (if (di == 0) 100 - a100 % 100 else a100 % 100) * (if (dj == 0) 100 - b100 % 100 else b100 % 100)
        if w > 0
        v <- grid.get((a100 / 100 + di, b100 / 100 + dj))
      } yield (w, v)
      if (nbrs.isEmpty) None
      else {
        val den = nbrs.map(_._1).sum
        val num = nbrs.map(n => n._1 * n._2).sum
        Some(s -> (nbrs.size.toLong, den,
          math.floor((num.toDouble / (den * 10000L).toDouble) * 10000.0 + 0.5) / 10000.0))
      }
    }.toMap
    val got = Geo.bilinear(spark, sfDir).collect()
      .map(r => r.getAs[Long]("q_id") -> (r.getAs[Long]("n_nbrs"), r.getAs[Long]("den"), r.getAs[Double]("interp"))).toMap
    assert(got == expected)
  }

  test("mm_modality_balance keeps exactly the md5-bottom-K per modality") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "doc_id").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      rs.map(_._2).sortBy(id => (org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString), id))
        .take(40).zipWithIndex.map { case (id, i) => (src, i + 1L, id, rs.length.toLong) }
    }.toSet
    val got = Multimodal.modalityBalance(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_total"))).toSet
    assert(got == expected)
  }

  test("ta_pii_scrub finds exactly the planted PII and the redaction hash matches") {
    val byId = TextAnalysis.piiScrub(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
    docs.foreach { d =>
      val id = d.getAs[Long]("doc_id"); val r = byId(id)
      assert(r.getAs[Long]("n_email") == (if (id % 7 == 0) 1L else 0L), id)
      assert(r.getAs[Long]("n_phone") == (if (id % 5 == 0) 1L else 0L), id)
      val text2 = d.getAs[String]("text") +
        (if (id % 7 == 0) s" contact user$id@example.com" else "") +
        (if (id % 5 == 0) s" call 555-${"%04d".format(id % 10000)}" else "")
      val red = text2
        .replaceAll("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>")
        .replaceAll("555-[0-9]{4}", "<PHONE>")
      assert(r.getAs[Long]("red_len") == red.length.toLong, id)
      assert(r.getAs[String]("red_md5") == org.apache.commons.codec.digest.DigestUtils.md5Hex(red), id)
    }
  }

  test("ev_topk_per_window: at most 3 types per hour, counts non-increasing in rank") {
    val rows = Events.topkPerWindow(spark, sfDir).collect()
    rows.groupBy(_.getAs[Long]("hour_epoch")).foreach { case (h, rs) =>
      assert(rs.length <= 3, h)
      val byRank = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("n_events"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, h)
    }
  }

  test("q24 window suite: quartiles bounded, pct_rank/cume monotone per partition") {
    val rows = Relational.q24WindowSuite(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("o_orderpriority")).foreach { case (p, rs) =>
      assert(rs.forall(r => { val q = r.getAs[Long]("quartile"); q >= 1 && q <= 4 }), p)
      val sorted = rs.sortBy(r => (r.getAs[Double]("o_totalprice"), r.getAs[Long]("o_orderkey")))
      def mono(xs: Seq[Double]) = xs.zip(xs.tail).forall { case (a, b) => a <= b }
      assert(mono(sorted.map(_.getAs[Double]("pct_rank")).toSeq), p)
      assert(mono(sorted.map(_.getAs[Double]("cume")).toSeq), p)
    }
  }

  test("ann_sq codes are 4-bit bounded and the rerank beats or ties the approx ordering") {
    val rows = Similarity.sq(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (q, rs) =>
      // final ranking is by exact cosine, descending
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, q)
      // every survivor came from the approx top-10
      assert(rs.forall(_.getAs[Long]("approx_rank") <= 10), q)
    }
    // the quantizer itself: codes bounded, reconstruction within 1/32
    val e = graft.sources.Tables.embeddings(spark, sfDir).limit(50)
      .withColumn("codes", Similarity.sqCodes("embedding")).collect()
    e.foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      val c = r.getSeq[Long](r.fieldIndex("codes"))
      c.foreach(x => assert(x >= -8 && x <= 7))
      v.zip(c).foreach { case (x, code) =>
        val recon = (code + 0.5) / 16.0
        // off-range values clamp; in-range quantization error is <= 1/32
        if (x >= -0.5 && x < 0.5) assert(math.abs(x - recon) <= 1.0 / 32 + 1e-12, s"$x $code")
      }
    }
  }

  test("zs_line_clip matches a pointwise Liang-Barsky recompute, including the kept-row set") {
    val got = Geo.lineClip(spark, sfDir).collect()
      .map(r => r.getAs[Long]("seg_id") -> (r.getAs[Double]("cx0"), r.getAs[Double]("cy0"),
        r.getAs[Double]("cx1"), r.getAs[Double]("cy1"), r.getAs[Double]("clip_len"))).toMap
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val keys = graft.sources.Tables.orders(spark, sfDir).select("o_orderkey").collect().map(_.getLong(0))
    val expected = keys.flatMap { k =>
      val x0 = (k * 7919 % 36000).toDouble / 100.0 - 180.0
      val y0 = (k * 104729 % 7000).toDouble / 100.0 - 35.0
      val dx = (k * 131 % 2000).toDouble / 100.0 - 10.0
      val dy = (k * 241 % 1000).toDouble / 100.0 - 5.0
      if ((dx == 0 && (x0 < -60.0 || x0 > 60.0)) || (dy == 0 && (y0 < -20.0 || y0 > 20.0))) None
      else {
        val tx0 = if (dx > 0) (-60.0 - x0) / dx else if (dx < 0) (60.0 - x0) / dx else 0.0
        val tx1 = if (dx > 0) (60.0 - x0) / dx else if (dx < 0) (-60.0 - x0) / dx else 1.0
        val ty0 = if (dy > 0) (-20.0 - y0) / dy else if (dy < 0) (20.0 - y0) / dy else 0.0
        val ty1 = if (dy > 0) (20.0 - y0) / dy else if (dy < 0) (-20.0 - y0) / dy else 1.0
        val t0 = math.max(0.0, math.max(tx0, ty0)); val t1 = math.min(1.0, math.min(tx1, ty1))
        if (t0 <= t1)
          Some(k -> (r4(x0 + t0 * dx), r4(y0 + t0 * dy), r4(x0 + t1 * dx), r4(y0 + t1 * dy),
            r4((t1 - t0) * math.sqrt(dx * dx + dy * dy))))
        else None
      }
    }.toMap
    assert(got == expected)
    assert(got.nonEmpty && got.size < keys.length) // clip both keeps and drops
  }

  test("dd_url_canon canonical keys carry no noise and cover every doc") {
    val rows = Dedup.urlCanon(spark, sfDir).collect()
    rows.foreach { r =>
      val c = r.getAs[String]("canon")
      assert(c.startsWith("https://") && !c.contains("?") && !c.contains("#"), c)
      assert(!c.endsWith("/") && !c.contains("www.") && c == c.toLowerCase, c)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.sources.Tables.documents(spark, sfDir).count())
    // the casing/tracking noise actually collapsed something
    assert(rows.exists(_.getAs[Long]("n_forms") > 1))
  }

  test("mm_av_sync: every chunk aligns to the latest frame within one frame period") {
    val rows = Multimodal.avSync(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val gap = r.getAs[Long]("chunk_ts") - r.getAs[Long]("frame_ts")
      assert(gap >= 0 && gap < 40, r)
      assert(r.getAs[Long]("frame_ts") == r.getAs[Long]("frame_idx") * 40, r)
    }
  }

  test("ev_json_nested explode count matches the generating arithmetic") {
    val n = Events.jsonNested(spark, sfDir).count()
    val expect = graft.sources.Tables.documents(spark, sfDir)
      .select(sum(col("doc_id") % 3 + 1)).collect()(0).getLong(0)
    assert(n == expect)
  }

  test("ev_gap_fill spine is dense and filled slots are zero-count with carried-forward sums") {
    val rows = Events.gapFill(spark, sfDir).collect()
    val hours = rows.map(_.getAs[Long]("hour_epoch")).distinct.sorted
    val types = rows.map(_.getAs[String]("event_type")).distinct
    assert(rows.length == hours.length * types.length) // dense grid
    assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600 }) // no gaps
    rows.filter(_.getAs[Long]("filled") == 1L)
      .foreach(r => assert(r.getAs[Long]("n_events") == 0L, r))
    // LOCF: non-null from the first observation onward, null strictly before
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("hour_epoch"))
      val firstObs = sorted.indexWhere(_.getAs[Long]("filled") == 0L)
      assert(firstObs >= 0, s"type $t has no observed slot")
      val (before, after) = sorted.splitAt(firstObs)
      before.foreach(r => assert(r.isNullAt(r.fieldIndex("locf_sum")), (t, r)))
      after.foreach(r => assert(!r.isNullAt(r.fieldIndex("locf_sum")), (t, r)))
    }
  }

  test("io_manifest_diff statuses match the snapshot edit rules exactly") {
    val rows = ManifestIO.manifestDiffQuery(spark, sfDir).collect()
    val keys = graft.sources.Tables.part(spark, sfDir)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val expectRemoved = keys.filter(_ % 97 == 0)
    val expectChanged = keys.filter(k => k % 13 == 0 && k % 97 != 0)
    val expectAdded = keys.filter(_ % 89 == 0).map(_ + 1000000L)
    def got(s: String) = rows.filter(_.getAs[String]("status") == s).map(_.getAs[Long]("key")).toSet
    assert(got("removed") == expectRemoved)
    assert(got("changed") == expectChanged)
    assert(got("added") == expectAdded)
  }

  test("ta_boilerplate df comes from a groupBy join, never a shingle-partitioned window") {
    val p = plan(TextAnalysis.boilerplate(spark, sfDir))
    // a window partitioned by the shingle key would serialize every
    // occurrence of a hot shingle into one task — the plan must not
    // contain a Window at all (both aggregates are hash aggregates)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }
}
