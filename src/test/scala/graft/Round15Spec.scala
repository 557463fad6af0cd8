package graft

import org.apache.spark.sql.functions._

/** Round-9 session-3 depth specs: the parallel LTTB variant quantified
  * against the true sequential algorithm, and the equi-height histogram
  * driven as a CBO selectivity estimator. */
class Round15Spec extends SparkSpecBase {

  /** True sequential LTTB (Steinarsson 2013): anchor = previously SELECTED
    * point, next-bucket average as the forward anchor. Driver-side
    * reference over integer points; same 2x-area integer arithmetic. */
  private def trueLttb(pts: Seq[(Long, Long)], buckets: Int): Seq[(Long, Long)] = {
    val n = pts.length
    val bsize = (n + buckets - 1) / buckets
    val grouped = pts.grouped(bsize).toVector
    val sel = scala.collection.mutable.ArrayBuffer[(Long, Long)](grouped.head.head)
    for (k <- 1 until grouped.length - 1) {
      val a = sel.last
      val next = grouped(k + 1)
      val (cx, cy, cn) = (next.map(_._1).sum, next.map(_._2).sum, next.length.toLong)
      val best = grouped(k).maxBy { case (px, py) =>
        // |(Ax-Px)(Cy-Py) - (Cx-Px)(Ay-Py)| scaled by cn (C is an average)
        val t = (a._1 - px) * (cy - cn * py) - (cx - cn * px) * (a._2 - py)
        (math.abs(t), -px) // tie: smallest x, mirroring the operator
      }
      sel += best
    }
    sel += grouped.last.last
    sel.toSeq
  }

  test("ev_lttb: the bucket-anchor variant tracks true sequential LTTB") {
    import spark.implicits._
    // deterministic rough series: 200 points, quadratic-residue noise
    val pts = (0 until 200).map(i => (1000L + i, (i.toLong * i * 7919) % 997))
    val df = pts.zipWithIndex
      .map { case ((x, v), i) => ("s", x, v, i.toLong) }
      .toDF("event_type", "xs", "vm", "event_id")
    val par = graft.operators.Events.lttbOn(df, target = 10L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val ref = trueLttb(pts, 10).toSet
    assert(par.size == 10 && ref.size == 10)
    // endpoints always agree; interior selections overlap substantially —
    // the approximation pins >= 6/10 on this fixed series (measured; the
    // two algorithms differ only through the backward anchor)
    assert(par.contains(pts.head) && par.contains(pts.last))
    val overlap = (par intersect ref).size
    assert(overlap >= 6, s"only $overlap/10 points shared with true LTTB")
  }

  test("runtime bloom-filter join pruning: injected, and semantics-preserving") {
    // Catalyst's runtime row-level filter: a selective build side injects
    // bloom_filter_might_contain onto the probe-side scan of a shuffle
    // join — the row-level complement of partition pruning, and the
    // mechanism that makes selective fact-dim joins scan-light at 100 TB.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      def q = graft.sources.Tables.lineitem(spark, sfDir)
        .join(graft.sources.Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      val withFilter = q
      assert(withFilter.queryExecution.executedPlan.toString.contains("might_contain"),
        "runtime bloom filter not injected on the probe side")
      val expected = withFilter.collect().toSeq
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val baseline = q
      assert(!baseline.queryExecution.executedPlan.toString.contains("might_contain"))
      assert(baseline.collect().toSeq == expected, "pruning changed results")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("dynamic partition pruning: the dim filter prunes fact partitions at runtime") {
    // the directory-level counterpart to the bloom-filter spec above: a
    // filtered dim subquery prunes which partitions of the fact layout
    // are scanned at all — the star-schema scan-saver at 100 TB
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
      .map(k => k -> conf.getOption(k))
    val tmp = s"/tmp/graft_io/orders_part_${Integer.toHexString(sfDir.hashCode)}"
    if (!new java.io.File(tmp).exists())
      graft.sources.ManifestIO.writePartitioned(
        graft.sources.Tables.orders(spark, sfDir), tmp, "o_orderpriority", "o_orderkey")
    val dimPath = "/tmp/graft_io/dpp_dim"
    if (!new java.io.File(dimPath).exists()) {
      import spark.implicits._
      Seq(("1-URGENT", 10L), ("2-HIGH", 20L), ("3-MEDIUM", 30L)).toDF("prio", "w")
        .write.mode("overwrite").parquet(dimPath)
    }
    try {
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10.0")
      def q = spark.read.parquet(tmp)
        .join(spark.read.parquet(dimPath).filter(col("w") === 10L),
          col("o_orderpriority") === col("prio"))
        .groupBy("prio").agg(count(lit(1)).as("n")).orderBy("prio")
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      val pruned = q
      assert(pruned.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "DPP subquery not injected")
      val expected = pruned.collect().toSeq
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      val baseline = q
      assert(!baseline.queryExecution.executedPlan.toString.contains("dynamicpruning"))
      assert(baseline.collect().toSeq == expected, "pruning changed results")
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("SQL front door: literal spark.sql over registered views matches the DataFrame API") {
    // a reference user who writes SQL can drive graft's tables directly:
    // register the loaders as temp views and the engine's ANSI surface
    // (agg, join, window, rollup) is available verbatim — same Catalyst
    // plans, same results as the DataFrame operators
    graft.sources.Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem_v")
    graft.sources.Tables.orders(spark, sfDir).createOrReplaceTempView("orders_v")
    val sql = spark.sql(
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    val api = graft.sources.Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(graft.sources.Tables.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(sql.collect().toSeq == api.collect().toSeq)
    // a SQL window + join round-trips identically too
    val sql2 = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_top FROM (
        |  SELECT o_orderpriority,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders_v) WHERE rk <= 3
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin).collect()
    assert(sql2.forall(_.getLong(1) == 3L) && sql2.length == 5)
  }

  test("io_histogram: equi-height buckets estimate range selectivity") {
    val h = graft.sources.ManifestIO.histogramQuery(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))) // lo, hi, n
    val n = h.map(_._3).sum
    // predicate: cents in [lo of bucket 3, hi of bucket 6] — spans whole
    // buckets 3..6 exactly, so the histogram estimate is their sum
    val (a, b) = (h(2)._1, h(5)._2)
    val est = h.filter(t => t._1 >= a && t._2 <= b).map(_._3).sum
    val truth = graft.sources.Tables.orders(spark, sfDir)
      .filter(expr(s"CAST(floor(o_totalprice * 100) AS BIGINT) BETWEEN $a AND $b"))
      .count()
    // whole-bucket alignment: estimate within one straddling value's mass
    // of the truth (boundary values can be shared with buckets 2/7)
    assert(math.abs(est - truth) * 20 <= n, s"est $est vs truth $truth (n=$n)")
    // partial-bucket interpolation: half of bucket 1's range estimates
    // about half its rows (within 3x either way on real data)
    val (l1, h1, n1) = h(0)
    val mid = l1 + (h1 - l1) / 2
    val est1 = n1 * (mid - l1 + 1) / (h1 - l1 + 1)
    val truth1 = graft.sources.Tables.orders(spark, sfDir)
      .filter(expr(s"CAST(floor(o_totalprice * 100) AS BIGINT) BETWEEN $l1 AND $mid"))
      .count()
    assert(est1 <= truth1 * 3 + 1 && truth1 <= est1 * 3 + 1,
      s"interpolated $est1 vs true $truth1")
  }
}
