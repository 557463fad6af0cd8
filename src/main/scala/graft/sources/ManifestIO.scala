package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV/JSON manifest handling + incremental catalog writer (SURVEY.md §2.H).
  *
  * The reference's batch stage is driven by a CSV manifest (batch/
  * processing/data.py:9-20) and emits a rasters.csv result manifest
  * (batch/processing/upload.py:35-44); the pipeline stage skips any
  * (vector, raster) pair whose output already exists (pipeline/processing/
  * data.py:26-40). Re-expressed: schema'd csv/json readers+writers, and an
  * incremental writer = anti-join of the incoming batch against the
  * already-written catalog keys, then a partitioned append — the scalable
  * form of "skip if output exists" (no per-file driver loop; one anti-join
  * that broadcasts the key set).
  */
object ManifestIO {

  val manifestSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  /** Write a DataFrame as a single-header CSV manifest directory. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Read a CSV manifest with an explicit schema (never inferSchema — an
    * inference pass is a second full scan at 100 TB). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Partitioned, sorted-within-partition parquet writer — the layout that
    * makes downstream scans prune (partition column) and range-skip
    * (min/max on the sort column). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String, sortCol: String): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Incremental catalog append: write only rows whose `keyCol` is not
    * already present at `catalogPath`. Returns the number of rows written.
    * The existing-key set is a single-column scan (column pruning) and the
    * anti-join broadcasts it when small — the reference's exists-check at
    * data.py:26-40 without a driver-side listing loop.
    *
    * The anti-join runs ONCE: the fresh set is persisted, the count
    * materializes the cache, and the write reads from it (a bare
    * count-then-write would run the whole join twice).
    *
    * Idempotency boundary: a crash BEFORE the write leaves the catalog
    * untouched (safe re-run); a crash MID-write can leave a partial append —
    * the committed part files' keys are then skipped on re-run and only the
    * missing remainder is written, so re-running converges. What this does
    * NOT protect against is a concurrent second writer racing the same
    * batch (both anti-joins see the old catalog); serialize writers per
    * catalog path. */
  def appendMissing(spark: SparkSession, batch: DataFrame, catalogPath: String, keyCol: String): Long = {
    // explicit existence check: a blanket catch around the read would treat
    // a CORRUPT catalog as "first write" and silently duplicate rows
    val path = new org.apache.hadoop.fs.Path(catalogPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (!fs.exists(path)) batch
      else {
        val existing = spark.read.parquet(catalogPath).select(col(keyCol)).distinct()
        batch.join(broadcast(existing), Seq(keyCol), "left_anti")
      }
    fresh.persist()
    try {
      val n = fresh.count()
      if (n > 0) fresh.write.mode(SaveMode.Append).parquet(catalogPath)
      n
    } finally fresh.unpersist()
  }

  /** CSV manifest round-trip as a query: part -> csv manifest -> schema'd
    * read -> per-brand aggregate. The oracle aggregates the parquet
    * directly, so the round-trip must be value-lossless (doubles survive
    * via Java shortest round-trip formatting). */
  def csvManifestQuery(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"/tmp/graft_io/manifest_${Integer.toHexString(dir.hashCode)}"
    writeCsv(Tables.part(spark, dir), tmp)
    readCsv(spark, tmp, manifestSchema)
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_parts"),
        Tables.dsum(col("p_retailprice")).as("sum_retail"),
        max(col("p_size")).as("max_size"))
      .orderBy("p_brand")
  }

  /** Partitioned-layout round trip: write orders partitioned by priority,
    * read back with a partition predicate — the scan must prune to ONE
    * partition directory (PartitionFilters, asserted in the spec) and the
    * values must survive the layout change. */
  def partitionedScanQuery(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"/tmp/graft_io/orders_part_${Integer.toHexString(dir.hashCode)}"
    if (!new java.io.File(tmp).exists())
      writePartitioned(Tables.orders(spark, dir), tmp, "o_orderpriority", "o_orderkey")
    spark.read.parquet(tmp)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        Tables.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** JSON-lines manifest round trip (upload.py emits machine-readable
    * manifests; JSONL is the streaming-friendly form): supplier -> jsonl ->
    * schema'd read -> per-nation aggregate, oracle on the original parquet. */
  def jsonManifestQuery(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"/tmp/graft_io/supplier_json_${Integer.toHexString(dir.hashCode)}"
    writeJson(Tables.supplier(spark, dir), tmp)
    val schema = Tables.supplier(spark, dir).schema
    readJson(spark, tmp, schema)
      .groupBy(col("s_nationkey").cast("int").as("nationkey"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        Tables.dsum(col("s_acctbal")).as("sum_acctbal"))
      .orderBy("nationkey")
  }

  /** Schema evolution across parquet batches — a long-lived ingest dir
    * accumulates files written under successive schema versions; readers
    * must see the union schema with nulls for pre-evolution rows. Batch v1
    * (even order keys) lacks the later `o_tax` column; batch v2 (odd keys)
    * carries it; the mergeSchema read unions them and the aggregate proves
    * both the null-fill and the value path. At 100 TB mergeSchema's footer
    * sampling is the cost knob — production pins the merged schema in a
    * catalog instead of re-inferring; the read path (union schema + null
    * fill) is identical. */
  def schemaEvolutionQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_io/evolve_${Integer.toHexString(dir.hashCode)}"
    val orders = Tables.orders(spark, dir)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode(SaveMode.Overwrite).parquet(s"$base/v1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        (col("o_orderkey") % 7).as("o_tax"))
      .write.mode(SaveMode.Overwrite).parquet(s"$base/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        count(col("o_tax")).as("n_with_tax"),
        sum(coalesce(col("o_tax"), lit(0L))).as("sum_tax"),
        Tables.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Catalog snapshot diff — the reconciliation report every incremental
    * ingest needs: which manifest rows were added, removed, or changed
    * between two snapshots. One full outer join on the key; the verdict is
    * a null-pattern CASE. Snapshot v2 is derived from v1 with
    * deterministic edits (drops, price changes, synthetic additions) so
    * the oracle rebuilds both sides exactly. Unchanged rows are filtered
    * out BEFORE the ORDER BY, so the output is O(churn), not O(catalog) —
    * at 100 TB the join shuffles once on the key and the report stays
    * small. */
  def manifestDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.part(spark, dir)
      .select(col("p_partkey").as("key"), col("p_retailprice").as("price"), col("p_size").as("size"))
    val v2 = v1.filter(col("key") % 97 =!= 0)
      .select(col("key"),
        when(col("key") % 13 === 0, col("price") + 1.0).otherwise(col("price")).as("price"),
        col("size"))
      .unionByName(v1.filter(col("key") % 89 === 0)
        .select((col("key") + 1000000L).as("key"), col("price"), col("size")))
    v1.select(col("key"), col("price").as("old_price"), col("size").as("old_size"))
      .join(v2.select(col("key"), col("price").as("new_price"), col("size").as("new_size")),
        Seq("key"), "full_outer")
      .withColumn("status",
        when(col("old_price").isNull, "added")
          .when(col("new_price").isNull, "removed")
          .when(col("old_price") =!= col("new_price") || col("old_size") =!= col("new_size"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("key"), col("status"), col("old_price"), col("new_price"))
      .orderBy("status", "key")
  }

  /** 16-bit-per-axis Morton (z-order) interleave of two non-negative grid
    * coordinates — the multi-dimensional clustering key behind Delta's
    * OPTIMIZE ZORDER / Hudi space-filling layouts: sorting by zkey keeps
    * rows close in BOTH x and y close in the file order, so per-file
    * min/max statistics prune 2-D range predicates that a lexicographic
    * (x, y) sort only prunes on x. Unrolled to a flat 64-term codegen
    * expression (a fold over bit positions; HOFs would interpret). */
  def mortonKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .plus(shiftright(x, i).bitwiseAND(lit(1L)).multiply(lit(1L << (2 * i))))
        .plus(shiftright(y, i).bitwiseAND(lit(1L)).multiply(lit(1L << (2 * i + 1))))
    }

  private[graft] val mortonSql: String =
    (0 until 16).map(i =>
      s"(((gx >> $i) & 1) * ${1L << (2 * i)}) + (((gy >> $i) & 1) * ${1L << (2 * i + 1)})")
      .mkString(" + ")

  /** Z-order clustering audit query: derive each event's integer grid
    * coordinates, interleave them into the Morton key, and report per
    * zkey-prefix bucket (top 16 bits) the row count and key range — the
    * layout summary a clustered writer would produce (ZOrderSpec proves
    * the write side: repartitionByRange(zkey) + sortWithinPartitions gives
    * pairwise-disjoint per-file key ranges, which is what makes min/max
    * skipping effective). Pure map stage + one groupBy shuffle. */
  def zorderQuery(spark: SparkSession, dir: String): DataFrame = {
    // native mask-spread expression (graft.functions.MortonInterleave);
    // bit-for-bit equal to the portable fold — ZOrderSpec asserts parity
    val (gx, gy) = graft.operators.Geo.hundredths(col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), gx.as("gx"), gy.as("gy"))
      .select(col("event_id"), expr("morton_interleave(gx, gy)").as("zkey"))
      .groupBy(shiftright(col("zkey"), 16).as("zbucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("zkey")).as("min_zkey"),
        max(col("zkey")).as("max_zkey"),
        min(col("event_id")).as("min_event_id"))
      .orderBy("zbucket")
  }

  /** Batch MERGE (upsert-with-delete) — the lakehouse write primitive
    * (Delta/Iceberg MERGE INTO) re-expressed as one FULL OUTER JOIN plus a
    * rewrite: base = orders, updates = per-order lineitem rollups (plus
    * synthetic unmatched keys — NEGATIVE, the io_time_travel collision
    * lesson — so the insert branch is live at every SF). Clauses:
    * matched & n_lines >= 6 -> DELETE, matched -> UPDATE total,
    * not matched -> INSERT (status 'N'), no update row -> keep. The
    * post-merge table lands in parquet and the query reports the audit
    * every MERGE emits: row count + total per (status, action), deletes
    * accounted from the pre-write frame with their removed values.
    *
    * Scale: ONE shuffle join on the natural key (both sides co-partition
    * on okey; at 100 TB the base side is the table's bucketed layout and
    * the join is shuffle-free on it), one write, and a bounded audit
    * aggregate. No whole-table broadcast, no driver-side row handling. */
  def mergeQuery(spark: SparkSession, dir: String): DataFrame = {
    // per-INVOCATION unique path (pid is not enough: two calls in the same
    // JVM — a Bench sample overlapping a Verify, or parallel test runners —
    // would race on a shared delete/overwrite); the run directory is
    // deleted on JVM exit so repeated benches don't accumulate /tmp litter
    val pid = ProcessHandle.current().pid()
    val out = s"/tmp/graft_merge/run_${pid}_${Integer.toHexString(dir.hashCode)}_${System.nanoTime()}"
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.deleteOnExit(p)
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("okey"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"))
    val upd0 = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(Tables.dsum(col("l_extendedprice")).as("upd_total"),
        count(lit(1)).as("n_lines"))
    val updates = upd0.unionByName(
      upd0.filter(col("okey") % 100 === 0)
        .select((-(col("okey") + 1L)).as("okey"), col("upd_total"), col("n_lines")))
    val merged = base.join(updates, Seq("okey"), "full_outer")
      .withColumn("action",
        when(col("status").isNull, "insert")
          .when(col("n_lines").isNull, "keep")
          .when(col("n_lines") >= 6, "delete")
          .otherwise("update"))
      .localCheckpoint() // consumers: post-merge write + delete audit
    merged.filter(col("action") =!= "delete")
      .select(col("okey"), coalesce(col("status"), lit("N")).as("status"),
        when(col("action") === "keep", col("total"))
          .otherwise(col("upd_total")).as("total"),
        col("action"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/merged")
    val landed = spark.read.parquet(s"$out/merged")
      .groupBy("status", "action")
      .agg(count(lit(1)).as("n_rows"), Tables.dsum(col("total")).as("sum_total"))
    val deleted = merged.filter(col("action") === "delete")
      .groupBy(col("status"), col("action"))
      .agg(count(lit(1)).as("n_rows"), Tables.dsum(col("total")).as("sum_total"))
    landed.unionByName(deleted).orderBy("status", "action")
  }

  /** K-ANONYMITY risk report (k = 5) — the privacy gate a training-data
    * pipeline runs next to PII scrubbing (ta_pii_scrub removes direct
    * identifiers; this measures INDIRECT re-identification): the
    * quasi-identifier is (event_type, props.k div 10, hour-of-day) — all
    * exact integers — and a user is at risk when any of their QI combos
    * is shared by fewer than 5 distinct users. Per event type: combo
    * counts by anonymity class (singleton / 2-4 / >= 5) and the distinct
    * users touching a sub-k combo.
    *
    * Scale: dedup-before-count — distinct (QI, user) first (full-key
    * shuffle with map-side partial dedup), then combo sizes are a plain
    * map-side-combinable count; the risk rollup joins the BOUNDED combo
    * table (|types| x 50 buckets x 24 hours) back to the deduped pairs,
    * so nothing user-sized ever collapses onto the QI key alone. */
  def kanonQuery(spark: SparkSession, dir: String): DataFrame =
    kanonOn(Tables.events(spark, dir))

  /** Same operator over any (event_type, props, ts, user_id) frame. */
  def kanonOn(events: DataFrame): DataFrame = {
    val qi = events
      .select(col("event_type"),
        expr("cast(get_json_object(props, '$.k') as bigint) div 10").as("kb"),
        hour(col("ts")).cast("long").as("hh"),
        col("user_id"))
      .distinct()
      .localCheckpoint() // consumers: combo sizes + risk-user rollup
    val combos = qi.groupBy("event_type", "kb", "hh")
      .agg(count(lit(1)).as("n_users"))
      .localCheckpoint() // bounded (types x 50 x 24); consumed twice
    val riskUsers = qi
      .join(combos.filter(col("n_users") < 5), Seq("event_type", "kb", "hh"))
      .select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_risk_users"))
    combos.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_combos"),
        sum(when(col("n_users") === 1, 1L).otherwise(0L)).as("n_singleton"),
        sum(when(col("n_users") >= 2 && col("n_users") <= 4, 1L).otherwise(0L)).as("n_low"),
        sum(when(col("n_users") >= 5, 1L).otherwise(0L)).as("n_anon"))
      .join(riskUsers, Seq("event_type"), "left")
      .withColumn("n_risk_users", coalesce(col("n_risk_users"), lit(0L)))
      .orderBy("event_type")
  }

  def ldpQuery(spark: SparkSession, dir: String): DataFrame =
    ldpOn(Tables.events(spark, dir))

  /** LOCAL DIFFERENTIAL PRIVACY — k-ary randomized response (io_ldp).
    * The privacy tier's collection-side sibling of io_kanon's
    * release-side audit: each event reports its TRUE event_type with
    * probability 3/4, otherwise a uniformly drawn type (Warner 1965;
    * the k-RR mechanism RAPPOR generalizes) — then the aggregator
    * debiases: E[obs_t] = p*n_t + (1-p)*n/K, so est_t =
    * (4*obs_t*K - n) / (3K) with p = 3/4. The "coin" is md5 on the
    * event key (the repo's only sanctioned hash), so both engines flip
    * identically and the whole mechanism-plus-estimator roundtrip is
    * oracle-checkable bit for bit. The estimator numerator can run
    * negative for rare types (that IS the mechanism's noise floor), so
    * the division publishes via the abs-split; the privacy bound rides
    * every row as exp_eps = 1 + 3K EXACTLY (e^eps of k-RR at p=3/4 —
    * the one transcendental-free way to publish epsilon). Output per
    * type: true count, observed randomized count, debiased estimate,
    * signed error — the utility table a privacy deployment publishes
    * when calibrating k-RR against its type taxonomy.
    *
    * Scale: ONE corpus scan emits (true, reported) per event as a
    * 2-row melt, then one map-side-combinable groupBy on the bounded
    * type key; the vocabulary and its size are broadcast one-row/K-row
    * frames; the total rides a window over the AGGREGATED K-row frame
    * (the ta_mixture shape) — no second corpus pass. */
  def ldpOn(events: DataFrame): DataFrame = {
    val w = Window.orderBy("event_type")
    val vocab = events.select(col("event_type")).distinct()
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .localCheckpoint() // consumers: K count + replacement lookup
    val kRow = vocab.agg(count(lit(1)).as("kk"))
      .localCheckpoint() // one-row frame: two crossJoin consumers
    val coin = events.select(col("event_id"), col("event_type"))
      .withColumn("mh", md5(concat(lit("ldp:"), col("event_id").cast("string"))))
      .withColumn("c", expr(
        "CAST(conv(substring(mh, 1, 1), 16, 10) AS BIGINT) % 4"))
      .withColumn("rh", expr(
        "CAST(conv(substring(mh, 2, 4), 16, 10) AS BIGINT)"))
      .crossJoin(broadcast(kRow))
      .withColumn("ridx", col("rh") % col("kk"))
    val reported = coin
      .join(broadcast(vocab.select(col("idx").as("ridx"),
        col("event_type").as("rtype"))), Seq("ridx"))
      .select(col("event_type"),
        when(col("c") < 3, col("event_type")).otherwise(col("rtype")).as("rep"))
    val counts = reported
      .select(explode(array(
        struct(col("event_type").as("t"), lit(1L).as("is_true")),
        struct(col("rep").as("t"), lit(0L).as("is_true")))).as("s"))
      .select(col("s.t").as("event_type"), col("s.is_true"))
      .groupBy("event_type")
      .agg(sum("is_true").as("true_cnt"), sum(expr("1 - is_true")).as("obs_cnt"))
      .withColumn("n", sum("true_cnt").over(Window.partitionBy()))
    counts.crossJoin(broadcast(kRow))
      .withColumn("est_x10000", expr(
        """CASE WHEN 4 * obs_cnt * kk - n >= 0
          |  THEN (10000 * (4 * obs_cnt * kk - n)) div (3 * kk)
          |  ELSE -((10000 * (n - 4 * obs_cnt * kk)) div (3 * kk))
          |END""".stripMargin.replace("\n", " ")))
      .withColumn("err_x10000", expr("est_x10000 - true_cnt * 10000"))
      .withColumn("exp_eps", expr("1 + 3 * kk"))
      .select("event_type", "true_cnt", "obs_cnt", "est_x10000",
        "err_x10000", "exp_eps")
      .orderBy("event_type")
  }

  /** Data-quality constraint report — the Deequ/Great-Expectations gate a
    * pipeline runs BEFORE building on a table: each constraint is a
    * violation count (0 = pass) so the report is one exact aggregate per
    * table, unpivoted to a row per constraint. The language-allowlist
    * constraint legitimately FAILS on this corpus (zh/es/de docs) —
    * surfacing violations is the point of the report, and the gate
    * consumer decides which constraints block. Scale: ONE scan + one
    * map-side-combined aggregate per table, no shuffle beyond the final
    * one-row exchange; countDistinct is the only expensive member (exact
    * two-phase) — a 100 TB deployment swaps it for approx_count_distinct
    * at a documented tolerance. */
  def dqReportQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .agg(
        (count(lit(1)) - countDistinct(col("doc_id"))).as("v1"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("v2"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L)).as("v3"),
        sum(when(!col("lang").isin("en", "fr"), 1L).otherwise(0L)).as("v4"))
      .select(lit("documents").as("table_name"), expr(
        "stack(4, 'dup_doc_id', v1, 'null_text', v2, " +
          "'chars_len_mismatch', v3, 'lang_allowlist', v4) AS (constraint, n_violations)"))
    val evs = Tables.events(spark, dir)
      .agg(
        (count(lit(1)) - countDistinct(col("event_id"))).as("v1"),
        sum(when(col("ts").isNull, 1L).otherwise(0L)).as("v2"),
        sum(when(col("value") < 0.0, 1L).otherwise(0L)).as("v3"),
        sum(when(col("event_type").isNull || col("event_type") === "", 1L).otherwise(0L)).as("v4"))
      .select(lit("events").as("table_name"), expr(
        "stack(4, 'dup_event_id', v1, 'null_ts', v2, " +
          "'negative_value', v3, 'empty_type', v4) AS (constraint, n_violations)"))
    docs.unionByName(evs)
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("table_name", "constraint")
  }

  /** ANALYZE-shape column statistics report — the stats collection that
    * feeds a cost-based optimizer (row counts drive join-side choice,
    * null fractions drive filter selectivity, exact NDVs drive broadcast
    * decisions; Spark's own ANALYZE TABLE ... COMPUTE STATISTICS fills
    * the same catalog slots). One exact aggregate pass per table — every
    * per-column stat rides the same map-side-combinable job — unpivoted
    * via stack(). events.ts is profiled at whole-second granularity
    * (the §4 timestamp discipline: sub-second encodings have drifted
    * across testdata regenerations; second-floor is stable on both
    * engines). */
  def colStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .agg(
        count(lit(1)).as("nr"),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("u1"),
        countDistinct(col("doc_id")).as("d1"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("u2"),
        countDistinct(col("text")).as("d2"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("u3"),
        countDistinct(col("lang")).as("d3"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("u4"),
        countDistinct(col("source")).as("d4"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("u5"),
        countDistinct(col("n_chars")).as("d5"))
      .select(lit("documents").as("table_name"), col("nr").as("n_rows"), expr(
        "stack(5, 'doc_id', u1, d1, 'lang', u3, d3, 'n_chars', u5, d5, " +
          "'source', u4, d4, 'text', u2, d2) AS (column_name, n_nulls, n_distinct)"))
    val evs = Tables.events(spark, dir)
      .select(col("event_id"), unix_timestamp(col("ts")).as("ts_sec"),
        col("user_id"), col("event_type"), col("value"))
      .agg(
        count(lit(1)).as("nr"),
        sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("u1"),
        countDistinct(col("event_id")).as("d1"),
        sum(when(col("ts_sec").isNull, 1L).otherwise(0L)).as("u2"),
        countDistinct(col("ts_sec")).as("d2"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("u3"),
        countDistinct(col("user_id")).as("d3"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("u4"),
        countDistinct(col("event_type")).as("d4"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("u5"),
        countDistinct(col("value")).as("d5"))
      .select(lit("events").as("table_name"), col("nr").as("n_rows"), expr(
        "stack(5, 'event_id', u1, d1, 'event_type', u4, d4, 'ts_sec', u2, d2, " +
          "'user_id', u3, d3, 'value', u5, d5) AS (column_name, n_nulls, n_distinct)"))
    docs.unionByName(evs)
      .select("table_name", "column_name", "n_rows", "n_nulls", "n_distinct")
      .orderBy("table_name", "column_name")
  }

  /** PARTITION-SPEC EVOLUTION (io_partition_evolution) — the Iceberg
    * partition-evolution contract: a table's OLD files keep their old
    * layout while NEW files land under a finer spec, and reads union
    * both generations transparently. Generation 1 (even orderkeys) is
    * partitioned by status only; generation 2 (odd orderkeys) by
    * (status, priority). A priority-filtered read prunes gen-2 at the
    * DIRECTORY level but must scan every row of the matching gen-1
    * status dirs and filter late — the scan-amplification gauge this
    * query outputs per (generation, status): rows the layout forces the
    * scan to read vs rows actually matched. That measured gap is the
    * case for running a layout rewrite (io_zorder) after an evolution.
    *
    * Round14Spec pins the physical contract: the gen-2 plan carries the
    * priority in PartitionFilters; the gen-1 plan pushes it only as a
    * post-scan data filter. Oracle: pure parity arithmetic on orders.
    * Scratch layout is written once per sfDir (idempotent exists-check,
    * the partitionedScanQuery convention). */
  def partitionEvolutionQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_io/pevo_${Integer.toHexString(dir.hashCode)}"
    val (g1, g2) = (s"$root/gen1", s"$root/gen2")
    // probe the LAST-written dir: an interrupted first run that landed g1
    // but not g2 must rebuild, not skip into a missing-path read
    if (!new java.io.File(g2).exists()) {
      val o = Tables.orders(spark, dir)
      writePartitioned(o.filter(col("o_orderkey") % 2 === 0), g1,
        "o_orderstatus", "o_orderkey")
      o.filter(col("o_orderkey") % 2 === 1)
        .repartition(col("o_orderstatus"), col("o_orderpriority"))
        .sortWithinPartitions("o_orderkey")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus", "o_orderpriority").parquet(g2)
    }
    def gauge(path: String, gen: Long, pruned: Boolean): DataFrame = {
      val scanned =
        (if (pruned) spark.read.parquet(path).filter(col("o_orderpriority") === "1-URGENT")
         else spark.read.parquet(path))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n_scanned"))
      val matched = spark.read.parquet(path)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_matched"))
      scanned.join(matched, Seq("o_orderstatus"), "left_outer")
        .select(lit(gen).as("generation"), col("o_orderstatus"),
          col("n_scanned"), coalesce(col("n_matched"), lit(0L)).as("n_matched"))
    }
    gauge(g1, 1L, pruned = false).unionByName(gauge(g2, 2L, pruned = true))
      .orderBy("generation", "o_orderstatus")
  }

  /** EQUI-HEIGHT HISTOGRAM (io_histogram) — the ANALYZE-style catalog
    * statistic a cost-based optimizer consumes (Spark's own
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` builds exactly
    * this shape): 8 equal-row-count buckets over orders.o_totalprice
    * (scaled to integer cents for cross-engine exactness), each with its
    * value range, row count, and distinct count.
    *
    * The oracle states the spec directly as ntile(8) over the raw rows
    * (unique (v, o_orderkey) tie-break per SURVEY §4); the Spark side
    * computes the SAME partitioning without ever sorting raw rows
    * globally: aggregate to a value-count table (one shuffle, O(ndv)
    * rows), prefix-sum ranks on that small frame, then place each
    * value's contiguous rank block [lo_rank, cum] into ntile's bucket
    * rank ranges with integer arithmetic — values straddling a boundary
    * explode into each bucket they touch with exact overlap counts.
    * ntile bucket k (1-based, q = N div 8, m = N mod 8) holds ranks
    * ((k-1)*q + min(k-1, m) + 1) .. (k*q + min(k, m)); rank r lives in
    * bucket (r-1) div (q+1) + 1 while r <= m*(q+1), else
    * m + (r - m*(q+1) - 1) div q + 1.
    *
    * Scale: the only global window runs over the O(ndv) value-count
    * frame (the seqPack range-offset shape), never the corpus; N is a
    * one-row collect. At 100 TB the raw-row ntile the oracle runs would
    * be a single-partition sort — this plan is WHY the histogram stays
    * buildable. */
  def histogramQuery(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val B = 8L
    val g = Tables.orders(spark, dir)
      .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val n = g.agg(sum(col("cnt"))).collect()(0).getLong(0) // one-row agg
    val q = n / B
    val m = n % B
    def bucketOfRank(r: String): String =
      s"CASE WHEN $r <= ${m * (q + 1)} THEN ($r - 1) div ${q + 1} + 1 " +
        s"ELSE $m + ($r - ${m * (q + 1)} - 1) div $q + 1 END"
    g.withColumn("cum", sum(col("cnt")).over(
        w.orderBy("v").rowsBetween(w.unboundedPreceding, w.currentRow)))
      .withColumn("lo_rank", col("cum") - col("cnt") + 1L)
      .withColumn("b1", expr(bucketOfRank("lo_rank")))
      .withColumn("b2", expr(bucketOfRank("cum")))
      .withColumn("bucket", explode(expr("sequence(b1, b2)")))
      .withColumn("bs", (col("bucket") - 1L) * q + least(col("bucket") - 1L, lit(m)) + 1L)
      .withColumn("be", col("bucket") * q + least(col("bucket"), lit(m)))
      .withColumn("n_in", least(col("cum"), col("be")) - greatest(col("lo_rank"), col("bs")) + 1L)
      .groupBy("bucket")
      .agg(min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"),
        sum(col("n_in")).as("n_rows"), count(lit(1)).as("n_distinct"))
      .orderBy("bucket")
  }

  /** Shared versioned update log over `part` (3 versions): the base of
    * io_time_travel (snapshot reads) and io_cdf (the change feed). */
  private def partLog(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.part(spark, dir)
      .select(col("p_partkey").as("key"), col("p_retailprice").as("price"))
    base.select(lit(1L).as("version"), col("key"), lit("u").as("op"), col("price"))
      .union(base.filter(col("key") % 13 === 0)
        .select(lit(2L), col("key"), lit("u"), col("price") + 1.0))
      .union(base.filter(col("key") % 97 === 0)
        .select(lit(2L), col("key"), lit("d"), lit(0.0)))
      // synthetic v3 inserts use NEGATIVE keys: p_partkey is non-negative
      // at every scale factor, so the new keys can never collide with a
      // real key (a fixed positive offset would collide once the key
      // space outgrows it, making the dedup window's tie pick
      // shuffle-order-dependent)
      .union(base.filter(col("key") % 89 === 0)
        .select(lit(3L), -(col("key") + 1L), lit("u"), col("price")))
      .union(base.filter(col("key") % 7 === 0)
        .select(lit(3L), col("key"), lit("u"), col("price") + 2.0))
      .toDF("version", "key", "op", "price")
  }

  /** Snapshots >= this version stay readable after io_vacuum. */
  val VacuumRetainVersion = 2L

  /** Per-entry reclaim verdict of io_vacuum (private to share with the
    * Round12Spec invariant check): an entry's visibility interval is
    * [version, next_sup), where next_sup is the version of the next
    * superseding entry per key in (version asc, u-before-d asc) order —
    * the same delete-beats-update same-version tie as the snapshot
    * reads. Reclaimable = visible in NO retained snapshot: an 'u'
    * superseded at or before the retention cut, or a 'd' tombstone at
    * or before the cut (its effect is baked into every retained
    * snapshot, and everything it superseded is reclaimed with it). */
  private[graft] def vacuumFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key")
      .orderBy(col("version").asc, when(col("op") === "d", 1).otherwise(0).asc)
    partLog(spark, dir)
      .withColumn("next_sup", lead(col("version"), 1).over(w))
      .withColumn("reclaim",
        (col("op") === "u" && col("next_sup").isNotNull
          && col("next_sup") <= VacuumRetainVersion) ||
        (col("op") === "d" && col("version") <= VacuumRetainVersion))
  }

  /** VACUUM dry-run report (io_vacuum) — the lakehouse data-lifecycle
    * step next to io_time_travel (snapshot reads), io_cdf (the change
    * feed) and io_zorder (layout): which log entries are
    * unreachable by every retained snapshot (>= VacuumRetainVersion)
    * and can be physically removed, per (version, op), with the
    * reclaimable price mass. Retained snapshots are byte-identical
    * before and after dropping the flagged entries — the VACUUM
    * correctness invariant, proven in Round12Spec by rebuilding every
    * retained snapshot from both logs.
    *
    * Scale: one per-key window (the same (key) shuffle every snapshot
    * read pays) + a map-side-combinable rollup over <= versions x 2
    * groups; nothing touches more than the log itself. */
  def vacuumQuery(spark: SparkSession, dir: String): DataFrame =
    vacuumFrame(spark, dir)
      .groupBy("version", "op")
      .agg(count(lit(1)).as("n_entries"),
        sum(when(col("reclaim"), 1L).otherwise(0L)).as("n_reclaimable"),
        Tables.dsum(when(col("reclaim") && col("op") === "u", col("price"))
          .otherwise(lit(0.0))).as("reclaim_price"))
      .orderBy("version", "op")

  /** Catalog time travel (iceberg-lite on plain parquet): an append-only
    * log of (version, key, op, payload) rows — inserts/updates as 'u',
    * deletes as 'd' — reconstructs EVERY historical snapshot in one pass:
    * each log row fans out to the versions it is visible in, a (v, key)
    * window keeps the newest op (delete-beats-update on a same-version
    * tie, deterministically), and surviving 'u' rows aggregate per
    * version. The log here is derived from `part` with deterministic
    * v2/v3 edits so the oracle rebuilds it exactly.
    *
    * Scale: the fan-out is bounded by the retained version count (a real
    * catalog compacts old versions); the only full shuffle is the
    * (v, key) window — the same one a single as-of read would pay. */
  def timeTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val log = partLog(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("v", "key").orderBy(col("version").desc, col("op").asc)
    log.withColumn("v", explode(expr("sequence(version, 3L)")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "u")
      .groupBy("v")
      .agg(count(lit(1)).as("n_keys"), Tables.dsum(col("price")).as("sum_price"))
      .orderBy("v")
  }

  /** Live rows of the part log's snapshot `v` (newest op per key,
    * delete-beats-update on same-version ties): (key, price). */
  private def snapshotAt(log: DataFrame, v: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("version").desc, col("op").asc)
    log.filter(col("version") <= v)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "u")
      .select(col("key"), col("price"))
  }

  /** CHANGE DATA FEED read (the Delta CDF / Iceberg changelog shape) —
    * row-level changes between snapshot v1 and the latest v3 of the
    * shared part log: inserts (key only in v3 — the negative synthetic
    * keys), deletes (v2's 'd' tombstones), and updates as the
    * pre/post-image PAIR every CDC consumer expects. Price equality
    * decides "changed" — both images are computed by the identical
    * double expression on both engines (the +1.0/+2.0 deltas are exact
    * double ops), so the comparison cannot drift.
    *
    * Scale: two windowed snapshot states over the co-partitioned log
    * (same (key) shuffle), one full-outer join on the key, and the
    * four change classes are projections of that ONE joined frame
    * (localCheckpoint — four consumers). */
  def cdfQuery(spark: SparkSession, dir: String): DataFrame = {
    val log = partLog(spark, dir).localCheckpoint() // two snapshot reads
    val j = snapshotAt(log, 1L).select(col("key"), col("price").as("p1"))
      .join(snapshotAt(log, 3L).select(col("key"), col("price").as("p3")),
        Seq("key"), "full_outer")
      .localCheckpoint() // four change-class consumers
    val ins = j.filter(col("p1").isNull)
      .select(col("key"), lit("insert").as("change_type"), col("p3").as("price"))
    val del = j.filter(col("p3").isNull)
      .select(col("key"), lit("delete").as("change_type"), col("p1").as("price"))
    val upd = j.filter(col("p1").isNotNull && col("p3").isNotNull && col("p1") =!= col("p3"))
    ins.unionByName(del)
      .unionByName(upd.select(col("key"), lit("update_pre").as("change_type"),
        col("p1").as("price")))
      .unionByName(upd.select(col("key"), lit("update_post").as("change_type"),
        col("p3").as("price")))
      .orderBy("key", "change_type")
  }

  /** INCREMENTAL VIEW MAINTENANCE (io_ivm) — the materialized-view
    * counterpart of io_cdf: a per-group aggregate view (count + exact
    * price mass over key-hash groups) materialized at snapshot v1 is
    * MAINTAINED to v3 by applying signed deltas from the change feed
    * (insert → +1/+price, delete → −1/−price, update → −pre +post — the
    * classic incremental aggregate algebra), never rescanning the base.
    * The output is the self-auditing report every IVM deployment runs:
    * maintained vs full-recompute columns side by side with a
    * `consistent` verdict per group — all sums decimal-accumulated, so
    * equality is exact, not approximate.
    *
    * Scale: the deltas are change-feed-sized (the point of IVM — a 100 TB
    * base with a 1 GB daily delta updates the view in delta time); both
    * snapshot states ride the same co-partitioned (key) window as io_cdf;
    * group rollups are map-side-combinable on 8 keys. The recompute
    * column is the AUDIT (a deployment runs it sampled or off-peak);
    * maintenance itself never touches it. */
  def ivmQuery(spark: SparkSession, dir: String): DataFrame = {
    def grpOf(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ((k % 8) + 8) % 8
    val log = partLog(spark, dir).localCheckpoint() // two snapshot reads
    val s1 = snapshotAt(log, 1L).localCheckpoint() // view build + delta join + n_v1
    val s3 = snapshotAt(log, 3L).localCheckpoint() // delta join + recompute audit
    val j = s1.select(col("key"), col("price").as("p1"))
      .join(s3.select(col("key"), col("price").as("p3")), Seq("key"), "full_outer")
      .withColumn("grp", grpOf(col("key")))
      .localCheckpoint() // four delta-class consumers
    val v1 = s1.groupBy(grpOf(col("key")).as("grp"))
      .agg(count(lit(1)).as("n_v1"))
    val contrib = s1
      .select(grpOf(col("key")).as("grp"), lit(1L).as("dn"), col("price").as("dp"))
      .unionByName(j.filter(col("p1").isNull)
        .select(col("grp"), lit(1L).as("dn"), col("p3").as("dp")))
      .unionByName(j.filter(col("p3").isNull)
        .select(col("grp"), lit(-1L).as("dn"), (-col("p1")).as("dp")))
      .unionByName(j.filter(col("p1").isNotNull && col("p3").isNotNull && col("p1") =!= col("p3"))
        .select(col("grp"), lit(0L).as("dn"), (-col("p1")).as("dp")))
      .unionByName(j.filter(col("p1").isNotNull && col("p3").isNotNull && col("p1") =!= col("p3"))
        .select(col("grp"), lit(0L).as("dn"), col("p3").as("dp")))
    val maintained = contrib.groupBy("grp")
      .agg(sum(col("dn")).as("n_maint"), Tables.dsum(col("dp")).as("sum_maint"))
    val recomputed = s3.groupBy(grpOf(col("key")).as("grp"))
      .agg(count(lit(1)).as("n_recomp"), Tables.dsum(col("price")).as("sum_recomp"))
    maintained.join(recomputed, Seq("grp"), "full_outer")
      .join(v1, Seq("grp"), "left_outer")
      .select(col("grp"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_maint"), lit(0L)).as("n_maint"),
        coalesce(col("sum_maint"), lit(0.0)).as("sum_maint"),
        coalesce(col("n_recomp"), lit(0L)).as("n_recomp"),
        coalesce(col("sum_recomp"), lit(0.0)).as("sum_recomp"))
      .withColumn("consistent",
        col("n_maint") === col("n_recomp") && col("sum_maint") === col("sum_recomp"))
      .orderBy("grp")
  }

  /** Audit thresholds of io_wap. */
  val WapMinRows = 800L
  val WapNegDenom = 4L

  /** WRITE-AUDIT-PUBLISH (io_wap) — the gated-promotion workflow
    * (Iceberg's WAP / Delta's staged commits, Netflix's original
    * pattern): every staged batch lands invisible, an AUDIT computes
    * its quality gates, and only passing batches PUBLISH; failing ones
    * stay quarantined with the reason on record. Batches are the
    * customer table at a 1000-key grain; the staged stream replays
    * rows whose key divides 1009 (an upstream retry — the duplicate
    * the uniqueness gate exists to catch). Three exact-integer gates:
    * key uniqueness (n_dup_keys = 0), value domain (negative balances
    * at most 1/WapNegDenom of rows, cross-multiplied — no float
    * fraction), and volume (n_rows >= WapMinRows). Output per batch:
    * the audit metrics, each gate verdict, and the publish decision.
    *
    * Scale: metrics are one map-side-combinable rollup per batch after
    * a (batch, key) dedup count — the same two-phase shape as
    * ev_sliding_distinct; no gate ever re-reads published data. */
  def wapQuery(spark: SparkSession, dir: String): DataFrame =
    wapOn(Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal")))

  /** Same audit over any (k, bal) base — Round18Spec plants a duplicate
    * key, a negative-heavy batch, and a short batch, one per gate. */
  def wapOn(base: DataFrame): DataFrame = {
    val staged = base.unionByName(base.filter(col("k") % 1009 === 0))
      .withColumn("batch_id", expr("k div 1000"))
    val perKey = staged.groupBy("batch_id", "k")
      .agg(count(lit(1)).as("nk"), sum(when(col("bal") < 0, 1L).otherwise(0L)).as("neg"))
    perKey.groupBy("batch_id")
      .agg(sum(col("nk")).as("n_rows"),
        sum(when(col("nk") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
        sum(col("neg")).as("n_neg"))
      .withColumn("gate_unique", (col("n_dup_keys") === 0).cast("long"))
      .withColumn("gate_domain",
        (col("n_neg") * WapNegDenom <= col("n_rows")).cast("long"))
      .withColumn("gate_volume", (col("n_rows") >= WapMinRows).cast("long"))
      .withColumn("verdict",
        when(col("gate_unique") * col("gate_domain") * col("gate_volume") === 1,
          lit("publish")).otherwise(lit("quarantine")))
      .select("batch_id", "n_rows", "n_dup_keys", "n_neg",
        "gate_unique", "gate_domain", "gate_volume", "verdict")
      .orderBy("batch_id")
  }

  /** Bin capacity / small-file threshold of io_compact_plan (KB-scale
    * stand-ins for the 128 MB-scale production values). */
  val CompactTargetBytes = 131072L
  val CompactSmallBytes = 9000L

  /** COMPACTION PLANNER (io_compact_plan) — a compaction dry-run:
    * which small files coalesce into which rewrite task (Iceberg's
    * binpack strategy: sort candidates by size descending, fill bins
    * of CompactTargetBytes greedily; files at or above
    * CompactSmallBytes are kept as-is). The file manifest is synthetic
    * but exact: orders rolled up at a 64-key file grain with an
    * integer byte estimate, so both engines see identical sizes.
    * Whole-file first-fit does not prefix-sum, so bins use START-OFFSET
    * assignment (the mm_shard_pack rule) in (size-bucket desc, size
    * desc, file_id) order — a deterministic size-descending total
    * order; bins overflow by at most one file, visible in bin_bytes.
    * Output: one row per rewrite bin plus the 'keep' rollup sentinel
    * (bin_id -1) for the files the planner leaves alone.
    *
    * Scale: the manifest is O(files), never O(rows); global offsets
    * via the two-phase prefix sum (per-size-bucket subtotals +
    * broadcast bucket offsets + within-bucket window) — at 800k files
    * per 100 TB table there is no single-partition global sort. */
  def compactPlanQuery(spark: SparkSession, dir: String): DataFrame =
    compactPlanOn(Tables.orders(spark, dir)
      .groupBy(expr("o_orderkey div 64").as("file_id"))
      .agg(sum(expr("40 + CAST(floor(o_totalprice) AS BIGINT) % 200")).as("sz")))

  /** Same planner over any (file_id, sz) manifest — Round18Spec pins the
    * size-desc packing order, the one-file overflow bound, and the keep
    * split on a hand-built manifest. */
  def compactPlanOn(filesIn: DataFrame): DataFrame = {
    val files = filesIn
      .localCheckpoint() // consumers: small-file plan + keep rollup
    val small = files.filter(col("sz") < CompactSmallBytes)
      .withColumn("rng", expr("-(sz div 1024)"))
    val rangeTot = small.groupBy("rng").agg(sum(col("sz")).as("tot"))
    val wRanges = Window.orderBy(col("rng").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = rangeTot
      .withColumn("range_off", sum(col("tot")).over(wRanges) - col("tot"))
      .select("rng", "range_off")
    val wInRange = Window.partitionBy("rng")
      .orderBy(col("sz").desc, col("file_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = small.join(broadcast(offsets), Seq("rng"))
      .withColumn("start", col("range_off") + sum(col("sz")).over(wInRange) - col("sz"))
      .withColumn("bin_id", expr(s"start div $CompactTargetBytes"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("bin_bytes"))
      .select(lit("rewrite").as("op"), col("bin_id"), col("n_files"), col("bin_bytes"))
    val keep = files.filter(col("sz") >= CompactSmallBytes)
      .groupBy()
      .agg(count(lit(1)).as("n_files"),
        coalesce(sum(col("sz")), lit(0L)).as("bin_bytes"))
      .select(lit("keep").as("op"), lit(-1L).as("bin_id"),
        col("n_files"), col("bin_bytes"))
    bins.unionByName(keep).orderBy("op", "bin_id")
  }

  /** KEY-SKEW PROFILE (io_skew_profile) — the "should I salt this join"
    * gauge run before any large shuffle lands in production: for each
    * candidate shuffle key, the exact key cardinality, the hottest key's
    * row count, the top-10 coverage, scaled key-share ratios, and a salt
    * hint (hottest key >10x the uniform per-key average — the point where
    * one reducer partition holds an order of magnitude more than its
    * peers and AQE skew-split or salting is warranted). This is the
    * diagnostic that motivated ta_lm_topv's broadcast top-V design and
    * the AQE skew harness (SkewSpec): measure the skew, then pick the
    * mitigation.
    *
    * Scale: each profile is one map-side-combinable groupBy(key) count;
    * the counts frame is checkpointed once and read by a one-row rollup
    * and a TakeOrdered(10) (orderBy+limit — never a global window sort);
    * everything after is one-row x one-row. Keys are profiled as strings
    * (nulls to '') so heterogeneous key types share one report schema. */
  def skewProfileQuery(spark: SparkSession, dir: String): DataFrame = {
    def profile(name: String, df: DataFrame, key: String): DataFrame = {
      val cnt = df
        .groupBy(coalesce(expr(key).cast("string"), lit("")).as("k"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // one-row rollup + TakeOrdered(10) both read it
      val tot = cnt.agg(count(lit(1)).as("n_keys"), sum("n").as("n_rows"))
      val top = cnt.orderBy(col("n").desc, col("k").asc).limit(10)
        .agg(sum("n").as("top10_rows"), max("n").as("max_key_rows"))
      tot.crossJoin(top) // one-row x one-row
        .select(lit(name).as("table_key"), col("n_rows"), col("n_keys"),
          col("max_key_rows"), col("top10_rows"),
          expr("max_key_rows * 10000 div n_rows").as("share_top1_x10000"),
          expr("top10_rows * 10000 div n_rows").as("share_top10_x10000"),
          (col("max_key_rows") > expr("(n_rows * 10) div n_keys")).as("salt_hot"))
    }
    profile("documents.lang", Tables.documents(spark, dir), "lang")
      .unionByName(profile("documents.source", Tables.documents(spark, dir), "source"))
      .unionByName(profile("events.event_type", Tables.events(spark, dir), "event_type"))
      .unionByName(profile("events.user_id", Tables.events(spark, dir), "user_id"))
      .unionByName(profile("lineitem.l_partkey", Tables.lineitem(spark, dir), "l_partkey"))
      .unionByName(profile("orders.o_custkey", Tables.orders(spark, dir), "o_custkey"))
      .orderBy("table_key")
  }

  private def skewProfileSql: String = {
    def profile(i: Int, name: String, table: String, key: String) =
      s"""c_$i AS (
         |  SELECT COALESCE(CAST($key AS VARCHAR), '') AS k, COUNT(*) AS n
         |  FROM $table GROUP BY 1
         |),
         |t_$i AS (
         |  SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows FROM c_$i
         |),
         |o_$i AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS top10_rows,
         |    CAST(MAX(n) AS BIGINT) AS max_key_rows
         |  FROM (SELECT n FROM c_$i ORDER BY n DESC, k ASC LIMIT 10)
         |),
         |p_$i AS (
         |  SELECT '$name' AS table_key, n_rows, n_keys, max_key_rows, top10_rows,
         |    (max_key_rows * 10000) // n_rows AS share_top1_x10000,
         |    (top10_rows * 10000) // n_rows AS share_top10_x10000,
         |    max_key_rows > (n_rows * 10) // n_keys AS salt_hot
         |  FROM t_$i, o_$i
         |)""".stripMargin
    val profs = Seq(
      ("documents.lang", "documents", "lang"),
      ("documents.source", "documents", "source"),
      ("events.event_type", "events", "event_type"),
      ("events.user_id", "events", "user_id"),
      ("lineitem.l_partkey", "lineitem", "l_partkey"),
      ("orders.o_custkey", "orders", "o_custkey"))
    s"""WITH ${profs.zipWithIndex.map { case ((n, t, k), i) => profile(i, n, t, k) }.mkString(",\n")}
       |${profs.indices.map(i => s"SELECT * FROM p_$i").mkString("\nUNION ALL\n")}
       |ORDER BY table_key""".stripMargin
  }

  /** Lands the DV demo layout (8 file groups + the positional `_deletes`
    * sidecar) under a fresh scratch root; shared by io_deletion_vectors
    * and io_dv_compact. Returns (base, dv, root). */
  private def writeDvLayout(spark: SparkSession, dir: String): (DataFrame, DataFrame, String) = {
    val root = s"/tmp/graft_io/dv_${Integer.toHexString(dir.hashCode)}_${System.nanoTime()}"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file_id").orderBy("l_orderkey", "l_linenumber")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), (col("l_orderkey") % 8).as("file_id"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .write.mode(SaveMode.Overwrite).partitionBy("file_id").parquet(s"$root/data")
    val base = spark.read.parquet(s"$root/data")
    // the DELETE executes as a positional sidecar — data files untouched
    base.filter(col("l_returnflag") === "R" && col("l_quantity") < 10)
      .select(col("file_id"), col("pos"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/_deletes")
    (base, spark.read.parquet(s"$root/_deletes"), root)
  }

  private def reclaimOnExit(spark: SparkSession, root: String): Unit =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .deleteOnExit(new org.apache.hadoop.fs.Path(root))

  /** DELETION VECTORS (io_deletion_vectors) — Iceberg-v3/Delta-DV
    * row-level deletes WITHOUT rewriting data files: the base table
    * lands once as 8 file groups (bucket by l_orderkey % 8) with an
    * explicit in-file position column (real DVs address physical parquet
    * row positions; a stored position is the portable stand-in, stated),
    * a DELETE predicate (returned small lines: l_returnflag = 'R' AND
    * l_quantity < 10) is executed by writing ONLY a positional sidecar
    * `_deletes` (file_id, pos) — the data files never rewrite — and the
    * read path applies the DV as an anti-join on (file_id, pos). The
    * checked output is the per-file accounting (rows / deleted / live /
    * live quantity mass); the ORACLE applies the logical predicate to
    * raw lineitem directly, proving the positional path reproduces the
    * logical delete exactly — the equivalence a lakehouse DV
    * implementation must maintain.
    *
    * Scale: the DV sidecar is deletes-sized (the point: a 100 TB base
    * with a 0.1% delete takes a GB-scale sidecar and zero data-file
    * churn until compaction); the anti-join SIZE-GATES the broadcast
    * hint on the sidecar's own stats (dvGated) — broadcast while it
    * fits, co-partitioned on (file_id, pos) under AQE once it doesn't;
    * the write is one pass with a per-bucket position window
    * (bucket-partitioned sort, never global). Scratch path is
    * per-invocation unique (the mergeQuery race rule). */
  def deletionVectorsQuery(spark: SparkSession, dir: String): DataFrame = {
    val (base, dv, root) = writeDvLayout(spark, dir)
    val out = dvAccounting(base, dv)
      .localCheckpoint() // materialize before the scratch dir is reclaimed
    reclaimOnExit(spark, root)
    out
  }

  /** DV COMPACTION (io_dv_compact) — the lifecycle's second half: a file
    * group whose delete fraction exceeds 6.2% gets REWRITTEN (live rows
    * only, fresh positions) and its DV entries dropped; below the
    * threshold the group keeps its data file + sidecar (reading through
    * the DV stays cheaper than churning the file). The rewrite actually
    * LANDS (dynamic-partition write of the rewritten groups; counts
    * come from the landed parquet, the pipe_incremental rule) and the
    * report shows before/after rows + DV entries per group with the
    * conservation invariant visible: n_rows_after − n_dv_after is the
    * live count on both paths.
    *
    * Scale: the threshold decision is an 8-row stats frame (broadcast
    * join, never a collect-driven plan); only rewritten groups' rows
    * move; the DV drop is an anti-join of the deletes-sized sidecar. */
  def dvCompactQuery(spark: SparkSession, dir: String): DataFrame = {
    val (base, dv, root) = writeDvLayout(spark, dir)
    val stats = base.groupBy("file_id").agg(count(lit(1)).as("n_rows"))
      .join(dv.groupBy("file_id").agg(count(lit(1)).as("n_deleted")),
        Seq("file_id"), "left_outer")
      .select(col("file_id"), col("n_rows"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"))
      .withColumn("rewrite",
        (col("n_deleted") * 1000 > col("n_rows") * 62).cast("long"))
      .localCheckpoint() // decision + report spine
    val rewriteIds = stats.filter(col("rewrite") === 1L).select("file_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file_id").orderBy("l_orderkey", "l_linenumber")
    base.join(dvGated(dv), Seq("file_id", "pos"), "left_anti")
      .join(broadcast(rewriteIds), Seq("file_id"))
      .drop("pos").withColumn("pos", row_number().over(w).cast("long"))
      .write.mode(SaveMode.Overwrite).partitionBy("file_id").parquet(s"$root/data2")
    // a corpus where no group crosses the threshold lands nothing — an
    // empty parquet dir has no inferable schema, so guard the read-back
    val landed =
      if (stats.filter(col("rewrite") === 1L).isEmpty)
        stats.select(col("file_id")).limit(0).withColumn("n_landed", lit(0L))
      else spark.read.parquet(s"$root/data2")
        .groupBy("file_id").agg(count(lit(1)).as("n_landed"))
    val out = stats
      .join(landed, Seq("file_id"), "left_outer")
      .select(col("file_id"), col("n_rows"), col("n_deleted"),
        col("rewrite").as("rewritten"),
        when(col("rewrite") === 1L, coalesce(col("n_landed"), lit(0L)))
          .otherwise(col("n_rows")).as("n_rows_after"),
        when(col("rewrite") === 1L, lit(0L))
          .otherwise(col("n_deleted")).as("n_dv_after"))
      .orderBy("file_id")
      .localCheckpoint() // materialize before the scratch dir is reclaimed
    reclaimOnExit(spark, root)
    out
  }

  /** SIZE-GATED DV side for the anti-join: the sidecar is deletes-sized,
    * so at shipped SFs it broadcasts — but a 100 TB base at 0.1% deletes
    * yields a GB-scale sidecar at or past executor broadcast budgets, so
    * the hint is gated on the DV's own stats (the Geo.sizeGated idiom:
    * hint iff estimated bytes fit graft.broadcastGateBytes, default 64 MB;
    * past the gate the anti-join co-partitions on (file_id, pos) under
    * AQE). Round17Spec pins hint-on/hint-off plans + identical results. */
  private def dvGated(dv: DataFrame): DataFrame =
    graft.operators.Geo.sizeGated(dv, dv, fanout = 1L)

  /** The DV-scan accounting, separated so Round16Spec can plant a file
    * group whose rows are ALL deleted: left_outer joins keep it in the
    * report with (n_live = 0, live_qty NULL) — the oracle's
    * unconditional GROUP BY emits it, so an inner join here would
    * hash-mismatch the moment a group's delete fraction hits 100%. */
  private[graft] def dvAccounting(base: DataFrame, dv: DataFrame): DataFrame = {
    val live = base.join(dvGated(dv), Seq("file_id", "pos"), "left_anti")
    base.groupBy("file_id").agg(count(lit(1)).as("n_rows"))
      .join(dv.groupBy("file_id").agg(count(lit(1)).as("n_deleted")),
        Seq("file_id"), "left_outer")
      .join(live.groupBy("file_id").agg(count(lit(1)).as("n_live"),
          Tables.dsum(col("l_quantity")).as("live_qty")),
        Seq("file_id"), "left_outer")
      .select(col("file_id"), col("n_rows"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
        coalesce(col("n_live"), lit(0L)).as("n_live"), col("live_qty"))
      .orderBy("file_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "io_deletion_vectors" -> (deletionVectorsQuery _),
    "io_dv_compact" -> (dvCompactQuery _),
    "io_skew_profile" -> (skewProfileQuery _),
    "io_compact_plan" -> (compactPlanQuery _),
    "io_wap" -> (wapQuery _),
    "io_dq_report" -> (dqReportQuery _),
    "io_kanon" -> (kanonQuery _),
    "io_ldp" -> (ldpQuery _),
    "io_merge" -> (mergeQuery _),
    "io_histogram" -> (histogramQuery _),
    "io_partition_evolution" -> (partitionEvolutionQuery _),
    "io_vacuum" -> (vacuumQuery _),
    "io_cdf" -> (cdfQuery _),
    "io_ivm" -> (ivmQuery _),
    "io_col_stats" -> (colStatsQuery _),
    "io_time_travel" -> (timeTravelQuery _),
    "io_zorder" -> (zorderQuery _),
    "io_manifest_diff" -> (manifestDiffQuery _),
    "io_schema_evolution" -> (schemaEvolutionQuery _),
    "io_csv_manifest" -> (csvManifestQuery _),
    "io_json_manifest" -> (jsonManifestQuery _),
    "io_partitioned_scan" -> (partitionedScanQuery _))

  private def ldpSql: String = {
    val hex1 = "(strpos('0123456789abcdef', substr(mh, 1, 1)) - 1)"
    val hex4 = (2 to 5).map(k =>
        s"(strpos('0123456789abcdef', substr(mh, $k, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")
    """WITH vocab AS MATERIALIZED (
      |  SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS idx
      |  FROM (SELECT DISTINCT event_type FROM events)
      |), kk AS MATERIALIZED (SELECT COUNT(*) AS kk FROM vocab
      |), coin AS (
      |  SELECT event_type, HEX1 % 4 AS c, HEX4 % kk.kk AS ridx
      |  FROM (SELECT event_type,
      |    md5('ldp:' || CAST(event_id AS VARCHAR)) AS mh FROM events)
      |  CROSS JOIN kk
      |), rep AS MATERIALIZED (
      |  SELECT coin.event_type,
      |    CASE WHEN c < 3 THEN coin.event_type ELSE v.event_type END AS rep
      |  FROM coin JOIN vocab v ON v.idx = coin.ridx
      |), melted AS (
      |  SELECT event_type AS t, 1 AS is_true FROM rep
      |  UNION ALL SELECT rep, 0 FROM rep
      |), counts AS (
      |  SELECT t AS event_type, CAST(SUM(is_true) AS BIGINT) AS true_cnt,
      |    CAST(SUM(1 - is_true) AS BIGINT) AS obs_cnt
      |  FROM melted GROUP BY t
      |), tot AS (SELECT CAST(SUM(true_cnt) AS BIGINT) AS n FROM counts
      |), est AS (
      |  SELECT c.event_type, c.true_cnt, c.obs_cnt,
      |    CAST(CASE WHEN 4 * c.obs_cnt * kk.kk - tot.n >= 0
      |      THEN (10000 * (4 * c.obs_cnt * kk.kk - tot.n)) // (3 * kk.kk)
      |      ELSE -((10000 * (tot.n - 4 * c.obs_cnt * kk.kk)) // (3 * kk.kk))
      |    END AS BIGINT) AS est_x10000,
      |    CAST(1 + 3 * kk.kk AS BIGINT) AS exp_eps
      |  FROM counts c CROSS JOIN kk CROSS JOIN tot
      |)
      |SELECT event_type, true_cnt, obs_cnt, est_x10000,
      |  est_x10000 - true_cnt * 10000 AS err_x10000, exp_eps
      |FROM est ORDER BY event_type""".stripMargin
      .replace("HEX1", hex1).replace("HEX4", hex4)
  }

  val oracle: Map[String, String] = Map(
    "io_wap" ->
      s"""WITH staged AS (
         |  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
         |  UNION ALL
         |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 1009 = 0
         |), per_key AS (
         |  SELECT k // 1000 AS batch_id, k, COUNT(*) AS nk,
         |    SUM(CASE WHEN bal < 0 THEN 1 ELSE 0 END) AS neg
         |  FROM staged GROUP BY 1, 2
         |), audit AS (
         |  SELECT batch_id, SUM(nk) AS n_rows,
         |    SUM(CASE WHEN nk > 1 THEN 1 ELSE 0 END) AS n_dup_keys,
         |    SUM(neg) AS n_neg
         |  FROM per_key GROUP BY batch_id
         |)
         |SELECT CAST(batch_id AS BIGINT) AS batch_id,
         |  CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(n_dup_keys AS BIGINT) AS n_dup_keys,
         |  CAST(n_neg AS BIGINT) AS n_neg,
         |  CAST(CASE WHEN n_dup_keys = 0 THEN 1 ELSE 0 END AS BIGINT) AS gate_unique,
         |  CAST(CASE WHEN n_neg * $WapNegDenom <= n_rows THEN 1 ELSE 0 END AS BIGINT)
         |    AS gate_domain,
         |  CAST(CASE WHEN n_rows >= $WapMinRows THEN 1 ELSE 0 END AS BIGINT)
         |    AS gate_volume,
         |  CASE WHEN n_dup_keys = 0 AND n_neg * $WapNegDenom <= n_rows
         |    AND n_rows >= $WapMinRows THEN 'publish' ELSE 'quarantine' END AS verdict
         |FROM audit ORDER BY batch_id""".stripMargin,
    "io_compact_plan" ->
      s"""WITH files AS (
         |  SELECT o_orderkey // 64 AS file_id,
         |    SUM(40 + CAST(floor(o_totalprice) AS BIGINT) % 200) AS sz
         |  FROM orders GROUP BY 1
         |), small AS (
         |  SELECT file_id, sz FROM files WHERE sz < $CompactSmallBytes
         |), placed AS (
         |  SELECT file_id, sz,
         |    (SUM(sz) OVER (ORDER BY -(sz // 1024) ASC, sz DESC, file_id ASC
         |       ROWS UNBOUNDED PRECEDING) - sz) // $CompactTargetBytes AS bin_id
         |  FROM small
         |)
         |SELECT * FROM (
         |  SELECT 'rewrite' AS op, CAST(bin_id AS BIGINT) AS bin_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(sz) AS BIGINT) AS bin_bytes
         |  FROM placed GROUP BY bin_id
         |  UNION ALL
         |  SELECT 'keep', CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(sz), 0) AS BIGINT)
         |  FROM files WHERE sz >= $CompactSmallBytes
         |) ORDER BY op, bin_id""".stripMargin,
    // the logical form of the positional delete: the DV path must
    // reproduce this exactly
    // logical form of the compaction decision + its outcome: the landed
    // rewrite must reproduce these counts exactly
    "io_dv_compact" ->
      """WITH b AS (
        |  SELECT l_orderkey % 8 AS file_id,
        |    (l_returnflag = 'R' AND l_quantity < 10) AS del
        |  FROM lineitem
        |), s AS (
        |  SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
        |  FROM b GROUP BY file_id
        |)
        |SELECT file_id, n_rows, n_deleted,
        |  CAST(CASE WHEN n_deleted * 1000 > n_rows * 62 THEN 1 ELSE 0 END AS BIGINT) AS rewritten,
        |  CASE WHEN n_deleted * 1000 > n_rows * 62 THEN n_rows - n_deleted ELSE n_rows END
        |    AS n_rows_after,
        |  CASE WHEN n_deleted * 1000 > n_rows * 62 THEN 0 ELSE n_deleted END AS n_dv_after
        |FROM s ORDER BY file_id""".stripMargin,
    "io_deletion_vectors" ->
      """WITH b AS (
        |  SELECT l_orderkey % 8 AS file_id, l_quantity,
        |    (l_returnflag = 'R' AND l_quantity < 10) AS del
        |  FROM lineitem
        |)
        |SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(SUM(CASE WHEN del THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
        |  CAST(SUM(CASE WHEN del THEN NULL
        |    ELSE CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS live_qty
        |FROM b GROUP BY file_id ORDER BY file_id""".stripMargin,
    "io_partition_evolution" ->
      """WITH g AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS generation,
        |    o_orderstatus, o_orderpriority
        |  FROM orders)
        |SELECT CAST(generation AS BIGINT) AS generation, o_orderstatus,
        |  CAST(SUM(CASE WHEN generation = 1 OR o_orderpriority = '1-URGENT'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matched
        |FROM g GROUP BY generation, o_orderstatus
        |HAVING SUM(CASE WHEN generation = 1 OR o_orderpriority = '1-URGENT'
        |  THEN 1 ELSE 0 END) > 0
        |ORDER BY generation, o_orderstatus""".stripMargin,
    "io_histogram" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
        |  FROM orders),
        |n AS (SELECT v, ntile(8) OVER (ORDER BY v, o_orderkey) AS bucket FROM c)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  MIN(v) AS lo_cents, MAX(v) AS hi_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
        |FROM n GROUP BY bucket ORDER BY bucket""".stripMargin,
    "io_skew_profile" -> skewProfileSql,
    "io_col_stats" ->
      """WITH d AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
        |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u2,
        |    CAST(COUNT(DISTINCT text) AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u3,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS d3,
        |    CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u4,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS d4,
        |    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u5,
        |    CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS d5
        |  FROM documents
        |), e AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
        |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        |    CAST(COUNT(DISTINCT event_id) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u2,
        |    CAST(COUNT(DISTINCT CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u3,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS d3,
        |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u4,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS d4,
        |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u5,
        |    CAST(COUNT(DISTINCT value) AS BIGINT) AS d5
        |  FROM events
        |), u AS (
        |  SELECT 'documents' AS table_name, 'doc_id' AS column_name, nr AS n_rows, u1 AS n_nulls, d1 AS n_distinct FROM d
        |  UNION ALL SELECT 'documents', 'lang', nr, u3, d3 FROM d
        |  UNION ALL SELECT 'documents', 'n_chars', nr, u5, d5 FROM d
        |  UNION ALL SELECT 'documents', 'source', nr, u4, d4 FROM d
        |  UNION ALL SELECT 'documents', 'text', nr, u2, d2 FROM d
        |  UNION ALL SELECT 'events', 'event_id', nr, u1, d1 FROM e
        |  UNION ALL SELECT 'events', 'event_type', nr, u4, d4 FROM e
        |  UNION ALL SELECT 'events', 'ts_sec', nr, u2, d2 FROM e
        |  UNION ALL SELECT 'events', 'user_id', nr, u3, d3 FROM e
        |  UNION ALL SELECT 'events', 'value', nr, u5, d5 FROM e
        |)
        |SELECT table_name, column_name, n_rows, n_nulls, n_distinct
        |FROM u ORDER BY table_name, column_name""".stripMargin,
    "io_dq_report" ->
      """WITH d AS (
        |  SELECT CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |    CAST(SUM(CASE WHEN lang NOT IN ('en', 'fr') THEN 1 ELSE 0 END) AS BIGINT) AS v4
        |  FROM documents
        |), e AS (
        |  SELECT CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |    CAST(SUM(CASE WHEN event_type IS NULL OR event_type = '' THEN 1 ELSE 0 END) AS BIGINT) AS v4
        |  FROM events
        |), u AS (
        |  SELECT 'documents' AS table_name, 'dup_doc_id' AS constraint, v1 AS n_violations FROM d
        |  UNION ALL SELECT 'documents', 'null_text', v2 FROM d
        |  UNION ALL SELECT 'documents', 'chars_len_mismatch', v3 FROM d
        |  UNION ALL SELECT 'documents', 'lang_allowlist', v4 FROM d
        |  UNION ALL SELECT 'events', 'dup_event_id', v1 FROM e
        |  UNION ALL SELECT 'events', 'null_ts', v2 FROM e
        |  UNION ALL SELECT 'events', 'negative_value', v3 FROM e
        |  UNION ALL SELECT 'events', 'empty_type', v4 FROM e
        |)
        |SELECT table_name, "constraint", n_violations, n_violations = 0 AS passed
        |FROM u ORDER BY table_name, "constraint"""".stripMargin,
    "io_kanon" ->
      """WITH qi AS (
        |  SELECT DISTINCT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS kb,
        |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hh, user_id
        |  FROM events
        |), combos AS (
        |  SELECT event_type, kb, hh, COUNT(*) AS n_users
        |  FROM qi GROUP BY event_type, kb, hh
        |), risk AS (
        |  SELECT qi.event_type, COUNT(DISTINCT user_id) AS n_risk_users
        |  FROM qi JOIN combos USING (event_type, kb, hh)
        |  WHERE n_users < 5 GROUP BY qi.event_type
        |)
        |SELECT c.event_type, COUNT(*) AS n_combos,
        |  CAST(SUM(CASE WHEN n_users = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
        |  CAST(SUM(CASE WHEN n_users BETWEEN 2 AND 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN n_users >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_anon,
        |  COALESCE(MAX(r.n_risk_users), 0) AS n_risk_users
        |FROM combos c LEFT JOIN risk r ON c.event_type = r.event_type
        |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin,
    "io_ldp" -> ldpSql,
    "io_merge" ->
      """WITH upd0 AS (
        |  SELECT l_orderkey AS okey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS upd_total,
        |    COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1
        |), updates AS (
        |  SELECT * FROM upd0
        |  UNION ALL
        |  SELECT -(okey + 1), upd_total, n_lines FROM upd0 WHERE okey % 100 = 0
        |), m AS (
        |  SELECT b.o_orderstatus AS status, b.o_totalprice AS total,
        |    u.upd_total, u.n_lines
        |  FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.okey
        |), a AS (
        |  SELECT *, CASE WHEN status IS NULL THEN 'insert'
        |    WHEN n_lines IS NULL THEN 'keep'
        |    WHEN n_lines >= 6 THEN 'delete' ELSE 'update' END AS action
        |  FROM m
        |), post AS (
        |  SELECT COALESCE(status, 'N') AS status, action,
        |    CASE WHEN action = 'keep' THEN total ELSE upd_total END AS total
        |  FROM a WHERE action <> 'delete'
        |  UNION ALL
        |  SELECT status, action, total FROM a WHERE action = 'delete'
        |)
        |SELECT status, action, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(total AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
        |FROM post GROUP BY status, action ORDER BY status, action""".stripMargin,
    "io_time_travel" ->
      """WITH base AS (
        |  SELECT p_partkey AS key, p_retailprice AS price FROM part
        |), log AS (
        |  SELECT 1 AS version, key, 'u' AS op, price FROM base
        |  UNION ALL SELECT 2, key, 'u', price + 1.0 FROM base WHERE key % 13 = 0
        |  UNION ALL SELECT 2, key, 'd', 0.0 FROM base WHERE key % 97 = 0
        |  UNION ALL SELECT 3, -(key + 1), 'u', price FROM base WHERE key % 89 = 0
        |  UNION ALL SELECT 3, key, 'u', price + 2.0 FROM base WHERE key % 7 = 0
        |), x AS (
        |  SELECT l.*, unnest(range(version, 4)) AS v FROM log l
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY v, key
        |    ORDER BY version DESC, op ASC) AS rn
        |  FROM x
        |)
        |SELECT CAST(v AS BIGINT) AS v, COUNT(*) AS n_keys,
        |  CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM r WHERE rn = 1 AND op = 'u' GROUP BY v ORDER BY v""".stripMargin,
    "io_vacuum" ->
      s"""WITH base AS (
        |  SELECT p_partkey AS key, p_retailprice AS price FROM part
        |), log AS (
        |  SELECT 1 AS version, key, 'u' AS op, price FROM base
        |  UNION ALL SELECT 2, key, 'u', price + 1.0 FROM base WHERE key % 13 = 0
        |  UNION ALL SELECT 2, key, 'd', 0.0 FROM base WHERE key % 97 = 0
        |  UNION ALL SELECT 3, -(key + 1), 'u', price FROM base WHERE key % 89 = 0
        |  UNION ALL SELECT 3, key, 'u', price + 2.0 FROM base WHERE key % 7 = 0
        |), f AS (
        |  SELECT *, LEAD(version) OVER (PARTITION BY key
        |      ORDER BY version ASC, CASE WHEN op = 'd' THEN 1 ELSE 0 END ASC)
        |    AS next_sup
        |  FROM log
        |), v AS (
        |  SELECT *,
        |    ((op = 'u' AND next_sup IS NOT NULL AND next_sup <= $VacuumRetainVersion)
        |      OR (op = 'd' AND version <= $VacuumRetainVersion)) AS reclaim
        |  FROM f
        |)
        |SELECT CAST(version AS BIGINT) AS version, op, COUNT(*) AS n_entries,
        |  CAST(SUM(CASE WHEN reclaim THEN 1 ELSE 0 END) AS BIGINT) AS n_reclaimable,
        |  CAST(SUM(CAST(CASE WHEN reclaim AND op = 'u' THEN price ELSE 0.0 END
        |    AS DECIMAL(18,4))) AS DOUBLE) AS reclaim_price
        |FROM v GROUP BY 1, 2 ORDER BY version, op""".stripMargin,
    "io_ivm" ->
      """WITH base AS (
        |  SELECT p_partkey AS key, p_retailprice AS price FROM part
        |), log AS (
        |  SELECT 1 AS version, key, 'u' AS op, price FROM base
        |  UNION ALL SELECT 2, key, 'u', price + 1.0 FROM base WHERE key % 13 = 0
        |  UNION ALL SELECT 2, key, 'd', 0.0 FROM base WHERE key % 97 = 0
        |  UNION ALL SELECT 3, -(key + 1), 'u', price FROM base WHERE key % 89 = 0
        |  UNION ALL SELECT 3, key, 'u', price + 2.0 FROM base WHERE key % 7 = 0
        |), s1 AS (
        |  SELECT key, price FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY key
        |      ORDER BY version DESC, op ASC) AS rn
        |    FROM log WHERE version <= 1) WHERE rn = 1 AND op = 'u'
        |), s3 AS (
        |  SELECT key, price FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY key
        |      ORDER BY version DESC, op ASC) AS rn
        |    FROM log WHERE version <= 3) WHERE rn = 1 AND op = 'u'
        |), j AS (
        |  SELECT COALESCE(s1.key, s3.key) AS key,
        |    CAST(((COALESCE(s1.key, s3.key) % 8) + 8) % 8 AS BIGINT) AS grp,
        |    s1.price AS p1, s3.price AS p3
        |  FROM s1 FULL OUTER JOIN s3 ON s1.key = s3.key
        |), v1 AS (
        |  SELECT CAST(((key % 8) + 8) % 8 AS BIGINT) AS grp, COUNT(*) AS n_v1
        |  FROM s1 GROUP BY 1
        |), contrib AS (
        |  SELECT CAST(((key % 8) + 8) % 8 AS BIGINT) AS grp, 1 AS dn, price AS dp FROM s1
        |  UNION ALL SELECT grp, 1, p3 FROM j WHERE p1 IS NULL
        |  UNION ALL SELECT grp, -1, -p1 FROM j WHERE p3 IS NULL
        |  UNION ALL SELECT grp, 0, -p1 FROM j
        |    WHERE p1 IS NOT NULL AND p3 IS NOT NULL AND p1 <> p3
        |  UNION ALL SELECT grp, 0, p3 FROM j
        |    WHERE p1 IS NOT NULL AND p3 IS NOT NULL AND p1 <> p3
        |), m AS (
        |  SELECT grp, CAST(SUM(dn) AS BIGINT) AS n_maint,
        |    CAST(SUM(CAST(dp AS DECIMAL(18,4))) AS DOUBLE) AS sum_maint
        |  FROM contrib GROUP BY grp
        |), r AS (
        |  SELECT CAST(((key % 8) + 8) % 8 AS BIGINT) AS grp, COUNT(*) AS n_recomp,
        |    CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_recomp
        |  FROM s3 GROUP BY 1
        |)
        |SELECT COALESCE(m.grp, r.grp) AS grp,
        |  COALESCE(v1.n_v1, 0) AS n_v1,
        |  COALESCE(m.n_maint, 0) AS n_maint,
        |  COALESCE(m.sum_maint, 0.0) AS sum_maint,
        |  COALESCE(r.n_recomp, 0) AS n_recomp,
        |  COALESCE(r.sum_recomp, 0.0) AS sum_recomp,
        |  (COALESCE(m.n_maint, 0) = COALESCE(r.n_recomp, 0)
        |    AND COALESCE(m.sum_maint, 0.0) = COALESCE(r.sum_recomp, 0.0)) AS consistent
        |FROM m FULL OUTER JOIN r ON m.grp = r.grp
        |LEFT JOIN v1 ON COALESCE(m.grp, r.grp) = v1.grp
        |ORDER BY grp""".stripMargin,
    "io_cdf" ->
      """WITH base AS (
        |  SELECT p_partkey AS key, p_retailprice AS price FROM part
        |), log AS (
        |  SELECT 1 AS version, key, 'u' AS op, price FROM base
        |  UNION ALL SELECT 2, key, 'u', price + 1.0 FROM base WHERE key % 13 = 0
        |  UNION ALL SELECT 2, key, 'd', 0.0 FROM base WHERE key % 97 = 0
        |  UNION ALL SELECT 3, -(key + 1), 'u', price FROM base WHERE key % 89 = 0
        |  UNION ALL SELECT 3, key, 'u', price + 2.0 FROM base WHERE key % 7 = 0
        |), s1 AS (
        |  SELECT key, price AS p1 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY key
        |      ORDER BY version DESC, op ASC) AS rn
        |    FROM log WHERE version <= 1) WHERE rn = 1 AND op = 'u'
        |), s3 AS (
        |  SELECT key, price AS p3 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY key
        |      ORDER BY version DESC, op ASC) AS rn
        |    FROM log WHERE version <= 3) WHERE rn = 1 AND op = 'u'
        |), j AS (
        |  SELECT COALESCE(s1.key, s3.key) AS key, p1, p3
        |  FROM s1 FULL OUTER JOIN s3 ON s1.key = s3.key
        |)
        |SELECT * FROM (
        |  SELECT key, 'insert' AS change_type, p3 AS price FROM j WHERE p1 IS NULL
        |  UNION ALL SELECT key, 'delete', p1 FROM j WHERE p3 IS NULL
        |  UNION ALL SELECT key, 'update_pre', p1 FROM j
        |    WHERE p1 IS NOT NULL AND p3 IS NOT NULL AND p1 <> p3
        |  UNION ALL SELECT key, 'update_post', p3 FROM j
        |    WHERE p1 IS NOT NULL AND p3 IS NOT NULL AND p1 <> p3
        |) ORDER BY key, change_type""".stripMargin,
    "io_zorder" ->
      s"""WITH p AS (
        |  SELECT event_id,
        |    CAST(event_id * 7919 % 36000 AS BIGINT) AS gx,
        |    CAST(event_id * 104729 % 7000 AS BIGINT) AS gy
        |  FROM events
        |), z AS (
        |  SELECT event_id, $mortonSql AS zkey FROM p
        |)
        |SELECT zkey >> 16 AS zbucket, COUNT(*) AS n_rows,
        |  MIN(zkey) AS min_zkey, MAX(zkey) AS max_zkey,
        |  MIN(event_id) AS min_event_id
        |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin,
    "io_manifest_diff" ->
      """WITH v1 AS (
        |  SELECT p_partkey AS key, p_retailprice AS price, p_size AS size FROM part
        |),
        |v2 AS (
        |  SELECT key,
        |    CASE WHEN key % 13 = 0 THEN price + 1.0 ELSE price END AS price, size
        |  FROM v1 WHERE key % 97 <> 0
        |  UNION ALL
        |  SELECT key + 1000000 AS key, price, size FROM v1 WHERE key % 89 = 0
        |),
        |d AS (
        |  SELECT COALESCE(v1.key, v2.key) AS key,
        |    v1.price AS old_price, v2.price AS new_price,
        |    CASE WHEN v1.price IS NULL THEN 'added'
        |         WHEN v2.price IS NULL THEN 'removed'
        |         WHEN v1.price <> v2.price OR v1.size <> v2.size THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.key = v2.key
        |)
        |SELECT key, status, old_price, new_price
        |FROM d WHERE status <> 'unchanged' ORDER BY status, key""".stripMargin,
    "io_schema_evolution" ->
      // recomputed from the source table with the same even/odd split the
      // two batch writes used: odd keys carry o_tax = key % 7, even are null
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_tax,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 7 ELSE 0 END) AS BIGINT) AS sum_tax,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "io_json_manifest" ->
      """SELECT CAST(s_nationkey AS INT) AS nationkey, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
        |FROM supplier GROUP BY 1 ORDER BY nationkey""".stripMargin,
    "io_partitioned_scan" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "io_csv_manifest" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_retail,
        |  MAX(p_size) AS max_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
