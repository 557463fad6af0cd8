package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ManifestIO

/** End-to-end incremental pipeline runner (SURVEY.md §2.H).
  *
  * The reference's actual product is its main loop: iterate (vector, raster)
  * layer pairs through discover -> import -> zonal stats -> vector merge ->
  * tiles, skipping pairs whose outputs already exist (pipeline/processing/
  * data.py:43-50, utils.py:47-57, __main__.py). Re-expressed: a layer pair
  * is (zone layer, point layer = one event class); each MISSING pair runs
  * standardize -> zonal stats -> vector enrich -> tile assign — all stages
  * are the already-oracle-checked Geo operators, the runner adds
  * composition and idempotence, not new math.
  *
  * Idempotence design:
  *   - data writes use DYNAMIC PARTITION OVERWRITE (each layer is one
  *     partition directory): re-running after a crash mid-write atomically
  *     replaces exactly the partial partitions, so the runner converges
  *     under retries;
  *   - a _done catalog (appendMissing) marks layers complete only AFTER
  *     their data lands; the skip check reads _done, not the data dirs, so
  *     a partial data write is never mistaken for a finished layer.
  * All missing layers ride ONE write job per output (their plans unioned,
  * partitionBy splitting them back out): at 100 TB the per-job fixed cost
  * (commit protocol, driver scheduling) is paid once per output instead of
  * once per layer x output, and a retry's unit of work is still the layer
  * partition. The skip check stays a metadata-sized read (one row per
  * layer) and each layer's branch shuffles only that layer's rows.
  */
object Pipeline {

  /** A (zone-layer, point-layer) pair; the point layer is one event class. */
  final case class LayerSpec(name: String, eventType: String)

  val defaultLayers: Seq[LayerSpec] =
    Seq(LayerSpec("clicks", "click"), LayerSpec("purchases", "purchase"))

  /** Stages 1-3: standardized points of one event class -> zonal stats ->
    * stats merged onto every zone feature (vector.py:6-13 LEFT JOIN keeps
    * empty zones with NULL stats). Same aligned zonal core as
    * Geo.vectorEnrich: each zone probes one exact-cents partial per
    * occupied 1-degree cell of the layer, not raw points. */
  def enrichLayer(spark: SparkSession, dir: String, spec: LayerSpec): DataFrame =
    Geo.vectorEnrichOn(
      Geo.points(spark, dir).filter(col("event_type") === spec.eventType),
      Geo.zones(spark, dir))
      .withColumn("layer", lit(spec.name))

  /** Stage 4: XYZ tiles of the layer's points (tiles.py / tippecanoe). */
  def tileLayer(spark: SparkSession, dir: String, spec: LayerSpec): DataFrame =
    Geo.tileAssignOn(Geo.points(spark, dir).filter(col("event_type") === spec.eventType))
      .withColumn("layer", lit(spec.name))

  private def doneLayers(spark: SparkSession, outRoot: String): Set[String] = {
    val path = new org.apache.hadoop.fs.Path(s"$outRoot/_done")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else spark.read.parquet(s"$outRoot/_done").select("layer")
      .collect().map(_.getString(0)).toSet
  }

  private def writeLayerPartition(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("layer")
      .parquet(path)

  /** Run every layer pair not yet marked done; returns rows written per
    * layer (enriched + tiles). A second call with the same outRoot computes
    * nothing and returns an empty map. */
  def runIncremental(spark: SparkSession, dir: String, outRoot: String,
      layers: Seq[LayerSpec] = defaultLayers): Map[String, Long] = {
    import spark.implicits._
    val done = doneLayers(spark, outRoot)
    val missing = layers.filterNot(l => done(l.name))
    if (missing.isEmpty) Map.empty
    else {
      // one write job per output: each layer's plan is a branch of the
      // union, partitionBy routes it to its own partition directory, and
      // the plans execute exactly once (no persist + count pre-pass).
      // The two outputs are independent (disjoint paths, disjoint plans) —
      // write them concurrently so one write's commit tail back-fills with
      // the other's tasks (guide §2.6)
      Par.run2(
        () => writeLayerPartition(
          missing.map(enrichLayer(spark, dir, _)).reduce(_ unionByName _),
          s"$outRoot/enriched"),
        () => writeLayerPartition(
          missing.map(tileLayer(spark, dir, _)).reduce(_ unionByName _),
          s"$outRoot/tiles"))
      // row counts come from the LANDED data (partition-pruned parquet
      // metadata count), not a recompute of the plans
      val names = missing.map(_.name)
      def countsOf(path: String): Map[String, Long] =
        spark.read.parquet(path).filter(col("layer").isin(names: _*))
          .groupBy("layer").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ce = countsOf(s"$outRoot/enriched")
      val ct = countsOf(s"$outRoot/tiles")
      // mark done LAST: a crash above leaves every in-flight layer
      // unmarked and the dynamic overwrite makes the retry atomic per
      // layer partition
      ManifestIO.appendMissing(spark, names.toDF("layer"), s"$outRoot/_done", "layer")
      names.map(n => n -> (ce.getOrElse(n, 0L) + ct.getOrElse(n, 0L))).toMap
    }
  }

  /** Driver-checked query: run the pipeline into a FRESH scratch root, run
    * it AGAIN (the second pass must skip every layer — idempotence is
    * exercised on every Verify), then serve the enriched output back from
    * parquet. The scratch root is wiped first: a catalog persisted across
    * sessions would serve output from a PREVIOUS code version — stale
    * results that could mask a new bug or fail a correct build — and would
    * let Bench time the heavy query as a cached read. The oracle recomputes
    * the same union of per-layer enrich queries directly, so the round trip
    * through the partitioned layout must be value-lossless. */
  def pipeQuery(spark: SparkSession, dir: String): DataFrame = {
    // pid suffix: the wipe must never destroy a CONCURRENT process's run
    // (two JVMs on the same sfDir would otherwise share — and delete —
    // one scratch root mid-write)
    val pid = ProcessHandle.current().pid()
    val out = s"/tmp/graft_pipe/run_${pid}_${Integer.toHexString(dir.hashCode)}"
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    runIncremental(spark, dir, out)
    runIncremental(spark, dir, out)
    spark.read.parquet(s"$out/enriched")
      .select("layer", "zone_id", "xmin", "ymin", "n_points", "mean_value")
      .orderBy("layer", "zone_id")
  }

  /** TRAINING-SHARD EXPORT (pipe_export) — the final verb of a pretrain
    * data pipeline, downstream of every other pipe_* capstone: exact-dedup
    * the corpus (Dedup.exactOn keep-set, min-doc_id per content hash),
    * pack the survivors into fixed 2048-token contexts
    * (TextAnalysis.seqPackOn — the identical two-phase prefix-sum core
    * ta_seq_pack checks), group 4 contexts to a shard, and emit the
    * shard manifest a trainer consumes: sequence/doc-slot/token counts,
    * the doc_id range for provenance, and the fill ratio (10000 = every
    * context fully packed; only the tail shard ever reads lower).
    *
    * Composition over re-implementation: both stages ARE the
    * oracle-checked cores, so this manifest cannot fork from the
    * operators it composes; the oracle replays the same chain as CTEs.
    *
    * Scale: the dedup keep-set is one map-side-combinable groupBy; the
    * pack is seqPackOn's bounded two-phase prefix sum; the shard rollup
    * is a groupBy on seq_id div 4 — nothing new shuffles the corpus. */
  def pipeExport(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val keep = Dedup.exactOn(docs).select(col("keep_id").as("doc_id"))
    val surv = docs.join(keep, Seq("doc_id"), "left_semi")
    TextAnalysis.seqPackOn(surv, TextAnalysis.SeqLen)
      .withColumn("shard_id", expr("seq_id div 4"))
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("n_docs")).as("n_doc_slots"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))
      .withColumn("fill_x10000",
        expr(s"n_tokens * 10000 div (n_seqs * ${TextAnalysis.SeqLen})"))
      .orderBy("shard_id")
  }

  /** EVAL-SET CONSTRUCTION (pipe_eval) — the held-out-benchmark capstone
    * every training pipeline runs before publishing an eval suite,
    * composing three checked cores: the hash split (ta_split's
    * exact-dup-group-keyed assignment, so a test doc's duplicates can
    * never sit in train), 8-gram decontamination AGAINST THE TRAIN SPLIT
    * (dd_contamination's shingle machinery with train as the
    * contamination source — a test doc sharing any 8-gram with train
    * leaks and is dropped), and a per-lang composition report
    * (candidates / contaminated / final docs / final exact-dup groups /
    * final chars).
    *
    * Scale: the train gram index is O(corpus) and is deliberately NOT
    * broadcast (dd_contamination's bounded-benchmark broadcast rule does
    * not apply when the index side is the 80% split) — the semi join is
    * a shuffle equi-join on the gram hash where the test side is ~1/10
    * of the corpus; docs under 8 words emit no grams and pass unscreened
    * (stated, same rule as dd_contamination). */
  def evalSet(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val docs = TextAnalysis.splitDocs(
        Tables.documents(spark, dir)
          .repartition(spark.sparkContext.defaultParallelism))
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"),
        col("gk"), col("split"), col("text"))
      .localCheckpoint() // consumers: train gram index + test candidates
    def grams(d: DataFrame): DataFrame = Dedup.gramHashes(d, 8)
    val test = docs.filter(col("split") === "test")
    val trainSh = grams(docs.filter(col("split") === "train"))
      .select("sh").distinct()
    val contaminated = grams(test).join(trainSh, Seq("sh"))
      .select("doc_id").distinct()
      .withColumn("hit", lit(1L))
    test.join(contaminated, Seq("doc_id"), "left_outer")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("hit")).as("n_contaminated"),
        sum(lit(1L) - col("hit")).as("n_final"),
        countDistinct(when(col("hit") === 0L, col("gk"))).as("n_final_groups"),
        sum(when(col("hit") === 0L, col("n_chars")).otherwise(lit(0L))).as("n_chars_final"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_eval" -> (evalSet _),
    "pipe_export" -> (pipeExport _),
    "pipe_incremental" -> (pipeQuery _))

  // the split-hash oracle helper is TextAnalysis's — one definition for
  // both the ta_split and pipe_eval oracles
  private def hex4Sql(e: String) = TextAnalysis.hex4Sql(e)

  val oracle: Map[String, String] = Map(
    "pipe_eval" ->
      s"""WITH g0 AS (
         |  SELECT doc_id, lang, n_chars, text, md5('sg:' || text) AS gk FROM documents
         |), a AS (
         |  SELECT doc_id, lang, n_chars, text, gk,
         |    CAST(${hex4Sql("md5('sp:' || gk)")} AS BIGINT) % ${TextAnalysis.SplitBuckets} AS b
         |  FROM g0
         |), s AS (
         |  SELECT doc_id, lang, n_chars, text, gk,
         |    CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         |  FROM a
         |), d AS (
         |  SELECT doc_id, split, string_split(text, ' ') AS ws FROM s
         |), g AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, split,
         |    md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS sh
         |  FROM (SELECT doc_id, split, ws, unnest(range(1, len(ws) - 6)) AS i
         |        FROM d WHERE len(ws) >= 8)
         |), tr AS (
         |  SELECT DISTINCT sh FROM g WHERE split = 'train'
         |), cont AS (
         |  SELECT DISTINCT g.doc_id FROM g JOIN tr USING (sh) WHERE g.split = 'test'
         |)
         |SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |  CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
         |  CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         |  CAST(COUNT(DISTINCT CASE WHEN c.doc_id IS NULL THEN s.gk END) AS BIGINT) AS n_final_groups,
         |  CAST(SUM(CASE WHEN c.doc_id IS NULL THEN s.n_chars ELSE 0 END) AS BIGINT) AS n_chars_final
         |FROM s LEFT JOIN cont c ON s.doc_id = c.doc_id
         |WHERE s.split = 'test'
         |GROUP BY s.lang ORDER BY s.lang""".stripMargin,
    "pipe_export" ->
      s"""WITH keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         |    doc_id // 100 AS rng
         |  FROM documents JOIN keep USING (doc_id)
         |), rt AS (
         |  SELECT rng, SUM(nt) AS tot FROM d GROUP BY rng
         |), ro AS (
         |  SELECT rng, CAST(SUM(tot) OVER (ORDER BY rng
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tot AS BIGINT) AS range_off
         |  FROM rt
         |), s AS (
         |  SELECT d.doc_id, d.nt,
         |    range_off + CAST(SUM(nt) OVER (PARTITION BY d.rng ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS BIGINT) AS strt
         |  FROM d JOIN ro ON d.rng = ro.rng
         |), e AS (
         |  SELECT doc_id, nt, strt, strt + nt AS fin,
         |    UNNEST(range(strt // ${TextAnalysis.SeqLen},
         |      (strt + nt - 1) // ${TextAnalysis.SeqLen} + 1)) AS seq_id
         |  FROM s
         |), sq AS (
         |  SELECT seq_id, COUNT(*) AS n_docs,
         |    CAST(SUM(LEAST(fin, (seq_id + 1) * ${TextAnalysis.SeqLen})
         |      - GREATEST(strt, seq_id * ${TextAnalysis.SeqLen})) AS BIGINT) AS n_tokens,
         |    MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |  FROM e GROUP BY seq_id
         |)
         |SELECT seq_id // 4 AS shard_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_seqs,
         |  CAST(SUM(n_docs) AS BIGINT) AS n_doc_slots,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  MIN(first_doc) AS first_doc, MAX(last_doc) AS last_doc,
         |  (CAST(SUM(n_tokens) AS BIGINT) * 10000)
         |    // (CAST(COUNT(*) AS BIGINT) * ${TextAnalysis.SeqLen}) AS fill_x10000
         |FROM sq GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "pipe_incremental" ->
      s"""WITH pts AS (${Geo.pointsSql}), z AS (${Geo.zonesSql}),
         |l AS (
         |  SELECT 'clicks' AS layer, 'click' AS et
         |  UNION ALL SELECT 'purchases', 'purchase'
         |),
         |stats AS (
         |  SELECT l.layer, z.zone_id, COUNT(*) AS n_points,
         |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_value
         |  FROM l JOIN pts ON pts.event_type = l.et
         |  JOIN z ON lon >= xmin AND lon < xmax AND lat >= ymin AND lat < ymax
         |  GROUP BY 1, 2
         |)
         |SELECT l.layer, z.zone_id, z.xmin, z.ymin,
         |  COALESCE(s.n_points, 0) AS n_points, s.mean_value
         |FROM l CROSS JOIN z
         |LEFT JOIN stats s ON s.layer = l.layer AND s.zone_id = z.zone_id
         |ORDER BY l.layer, z.zone_id""".stripMargin)
}
