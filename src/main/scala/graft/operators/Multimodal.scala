package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Multimodal (opaque binary) column handling (SURVEY.md §2.F).
  *
  * Real pipelines carry image/audio/video as `binary` columns with typed
  * metadata. No media codecs exist in this environment, so the payload is a
  * deterministic fake — the document text's UTF-8 bytes — but every piece of
  * Spark-side plumbing is real: binary schema, per-row metadata extraction
  * (length / magic / checksum), frame-granularity sampling via a generated
  * explode, and a typed mapPartitions decode stage (`decodeBatch`) with the
  * batch shape a Pandas-UDF/mapInPandas stage would have at scale.
  *
  * Both oracle queries operate on the hex view of the bytes so DuckDB
  * reproduces them exactly (utf-8 bytes are identical on both engines;
  * hex normalized to lowercase).
  */
object Multimodal {

  /** documents with a synthetic binary payload column. */
  def withPayload(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).withColumn("payload", col("text").cast("binary"))

  /** Typed metadata extraction over an opaque binary column: byte length,
    * 4-byte magic, md5 checksum, frame count at 16 bytes/frame. Row-parallel
    * scan, no shuffle. */
  def metadata(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        length(col("payload")).cast("long").as("byte_len"),
        lower(hex(expr("substring(payload, 1, 4)"))).as("magic"),
        md5(col("payload")).as("checksum"),
        expr("CAST((length(payload) + 15) div 16 AS LONG)").as("n_frames"))
      .orderBy("doc_id")

  /** Deterministic frame sampling: frames are 16-byte chunks; sample every
    * 4th frame for doc_id < 100. The explode is generated per row from the
    * frame count — the same shape a video frame-sampler has (no driver-side
    * loop, no UDF). */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .filter(col("doc_id") < 100)
      .withColumn("n_frames", expr("CAST((length(payload) + 15) div 16 AS LONG)"))
      .select(col("doc_id"), col("payload"), col("n_frames"),
        explode(expr("sequence(0L, n_frames - 1, 4L)")).as("frame_idx"))
      .select(
        col("doc_id"), col("frame_idx"),
        lower(hex(expr("substring(payload, CAST(frame_idx * 16 + 1 AS INT), 16)"))).as("frame_hex"),
        md5(expr("substring(payload, CAST(frame_idx * 16 + 1 AS INT), 16)")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** The decode stage a real multimodal pipeline would run (image decode,
    * resample, feature-extract). The codec is STUBBED — deterministic fake
    * features derived from the bytes — but the distributed shape is real:
    * typed Dataset, per-partition batching, bounded memory per batch.
    * Exercised by MultimodalSpec (no SQL oracle: not SQL-expressible). */
  final case class DecodedFrame(docId: Long, frameIdx: Long, meanByte: Double,
      nBytes: Int, byteSum: Long)

  def decodeBatch(spark: SparkSession, dir: String): Dataset[DecodedFrame] = {
    import spark.implicits._
    withPayload(spark, dir)
      // single-file table = one scan partition; decode must use every core
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id").as("docId"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // STUB decode: a real implementation hands each 16-byte frame to a
        // codec; here the "feature" is the mean byte value — deterministic,
        // so specs can assert exact results.
        rows.flatMap { case (docId, payload) =>
          payload.grouped(16).zipWithIndex.map { case (frame, idx) =>
            val s = frame.map(_ & 0xff).sum.toLong
            DecodedFrame(docId, idx.toLong,
              if (frame.isEmpty) 0.0 else s.toDouble / frame.length,
              frame.length, s)
          }
        }
      }
  }

  /** The batched model-inference stage shape: payloads are fed to the
    * "model" in explicit batches (`grouped(batchSize)`) exactly as a
    * mapInPandas / Triton-client stage would batch at scale — per-batch
    * memory is bounded and the codec/model call sites are per-batch, not
    * per-row. The embedding itself is STUBBED deterministically: an 8-dim
    * byte-stride sum (dim d = sum of bytes at positions ≡ d mod 8), so the
    * oracle reproduces it exactly. */
  final case class PayloadEmb(doc_id: Long, emb: Array[Double], byte_len: Int)

  def embedBatch(spark: SparkSession, dir: String, batchSize: Int = 64): Dataset[PayloadEmb] = {
    import spark.implicits._
    withPayload(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // a real stage hands `batch` to the model in one call; the stub
          // computes per-row stride sums inside the batch
          batch.iterator.map { case (id, bytes) =>
            val acc = new Array[Double](8)
            var i = 0
            while (i < bytes.length) { acc(i % 8) += (bytes(i) & 0xff).toDouble; i += 1 }
            PayloadEmb(id, acc, bytes.length)
          }
        }
      }
  }

  /** ANN over the payload embeddings: bounded query set (doc_id < 10),
    * candidates share an (argmax-dim, length-bucket) signature — positive
    * vectors defeat sign-bucket LSH, so the coarse quantizer is the
    * dominant dimension plus a 256-byte length octave — exact fold-dot
    * cosine + top-3 inside the bucket. Same plan as Similarity's bucketed
    * cosineTopK; the approximate RESULT is exact and oracle-checked
    * because both engines apply the identical bucketing. */
  def embedKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dot8 = (a: String, b: String) =>
      expr(s"aggregate(sequence(0, 7), CAST(0.0 AS DOUBLE), " +
        s"(acc, i) -> acc + element_at($a, i + 1) * element_at($b, i + 1))")
    val e = embedBatch(spark, dir).toDF()
      .withColumn("nrm", sqrt(dot8("emb", "emb")))
      .withColumn("bucket", concat(
        array_position(col("emb"), array_max(col("emb"))).cast("string"),
        lit("|"), expr("CAST(byte_len DIV 256 AS INT)").cast("string")))
      .localCheckpoint() // embed stage runs once for query + corpus sides
    val q = e.filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"), col("emb").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    e.select(col("doc_id").as("cid"), col("emb").as("cv"), col("nrm").as("cn"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", dot8("qv", "cv") / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), r4(col("cos")).as("cos_sim"))
      .orderBy("qid", "rank")
  }

  /** Content-addressable chunk dedup across payloads (CDC-style storage
    * dedup): chunk every payload into 16-byte frames, hash each, and report
    * the duplicated chunks with reference counts — the inverted-index shape
    * again (shuffle on chunk hash), chunk content never moves twice. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .withColumn("n_frames", expr("CAST((length(payload) + 15) div 16 AS LONG)"))
      .select(col("doc_id"), col("payload"),
        explode(expr("sequence(0L, n_frames - 1)")).as("frame_idx"))
      .select(col("doc_id"),
        md5(expr("substring(payload, CAST(frame_idx * 16 + 1 AS INT), 16)")).as("chunk_hash"))
      .groupBy("chunk_hash")
      .agg(
        count(lit(1)).as("ref_count"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("ref_count") > 1)
      .orderBy("chunk_hash")

  /** Hamming cut of mm_phash_dedup (frame fingerprints are noisier than
    * word-shingle ones: ~60 frames/payload vs hundreds of shingles). */
  val PhashMaxHamming = 16

  /** Perceptual-hash-style payload NEAR-dup — the image/video near-dup
    * pass next to mm_chunk_dedup's exact chunk sharing: each payload gets
    * a 64-bit SimHash over its frame-hash SET (a real phash would hash
    * decoded pixel features; no codecs exist here, so frame hashes are
    * the deterministic stand-in — the fingerprint/band/verify plumbing is
    * the deployed shape), banded LSH proposes candidates, and the native
    * codegen hamming_str scores them. The ENTIRE operator is
    * Dedup.simhashOn on a frame shingle set — fingerprint machinery
    * shared across modalities on both the Spark side and the oracle
    * generator (simhashOracleSql), exactly how a production pipeline
    * runs one near-dup stack over text and media. */
  def phashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashOn(phashFrames(spark, dir), PhashMaxHamming).orderBy("da", "db")

  /** Distinct 16-byte frame hashes per payload — the shingle set. */
  private[graft] def phashFrames(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .withColumn("n_frames", expr("CAST((length(payload) + 15) div 16 AS LONG)"))
      .select(col("doc_id"), col("payload"),
        explode(expr("sequence(0L, n_frames - 1)")).as("fi"))
      .select(col("doc_id"),
        md5(expr("substring(payload, CAST(fi * 16 + 1 AS INT), 16)")).as("sh"))
      .distinct()

  /** The typed mapPartitions decode stage as an oracle-checked query: the
    * stub features re-aggregate to integer-exact per-doc totals (frame
    * byte-sums are integer-valued doubles), so even the imperative tier is
    * held to the same hash-match bar as the declarative operators. */
  def decodeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeBatch(spark, dir)
      .groupBy(col("docId").as("doc_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(col("byteSum")).as("byte_sum"),
        sum(col("nBytes").cast("long")).as("n_bytes"))
      .orderBy("doc_id")
  }

  /** Shard packing — the webdataset/tar-shard layout step of a training
    * run: assign payloads (ordered by doc_id) to fixed-size shards by their
    * cumulative byte offset (a doc belongs to shard floor(start/4096)).
    *
    * The prefix sum is DISTRIBUTED, not a single global window: per-range
    * subtotals (doc_id div 100) are prefix-summed on the tiny range table,
    * the per-range start offsets join back (broadcast — O(#ranges) rows),
    * and the within-range running sum is a window PARTITIONED by range. At
    * 100 TB a global ORDER BY window would serialize on one task; this
    * shape scales with the range count while producing byte-identical
    * offsets. */
  def shardPack(spark: SparkSession, dir: String): DataFrame = {
    val ShardBytes = 4096L
    val RangeDocs = 100L
    val sized = withPayload(spark, dir)
      .select(col("doc_id"), length(col("payload")).cast("long").as("nb"))
      .withColumn("rng", expr(s"doc_id div $RangeDocs"))
    val rangeTot = sized.groupBy("rng").agg(sum(col("nb")).as("tot"))
    val wRanges = Window.orderBy("rng")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = rangeTot
      .withColumn("range_off", sum(col("tot")).over(wRanges) - col("tot"))
      .select("rng", "range_off")
    val wInRange = Window.partitionBy("rng").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsets), Seq("rng"))
      .withColumn("start", col("range_off") + sum(col("nb")).over(wInRange) - col("nb"))
      .withColumn("shard_id", expr(s"start div $ShardBytes"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("shard_id")
  }

  /** Context budget / per-image token cost of mm_interleave. */
  val InterleaveCtxTokens = 256L
  val InterleaveImageTokens = 64L

  /** MULTIMODAL CONTEXT INTERLEAVING (mm_interleave) — ta_seq_pack's
    * multimodal sibling (the LLaVA/Flamingo data-prep shape): docs carry
    * TWO token costs — their text words plus a fixed
    * InterleaveImageTokens for docs with an image attachment (every 3rd
    * doc here — the deterministic modality stand-in, stub doctrine) —
    * and pack into InterleaveCtxTokens training contexts in doc order.
    * Whole-doc first-fit does not prefix-sum (each break depends on the
    * previous one — the bin-packing recursion), so the packing contract
    * is START-OFFSET assignment (the mm_shard_pack rule): a doc belongs
    * to the context its global token offset lands in; contexts overflow
    * by at most one doc's cost, visible in total_tokens. Per context:
    * doc/image counts and the text/image token split — the modality-mix
    * audit a multimodal training run checks before consuming shards.
    *
    * Scale: global offsets via the two-phase prefix sum (per-range
    * subtotals + broadcast range offsets + within-range window) — never
    * a global ORDER BY window; the rollup is map-side-combinable on the
    * context key. */
  def interleave(spark: SparkSession, dir: String): DataFrame = {
    val RangeDocs = 100L
    val sized = documents(spark, dir)
      .select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS LONG)").as("tt"),
        expr(s"CASE WHEN doc_id % 3 = 0 THEN ${InterleaveImageTokens}L ELSE 0L END").as("it"))
      .withColumn("cost", col("tt") + col("it"))
      .withColumn("rng", expr(s"doc_id div $RangeDocs"))
    val rangeTot = sized.groupBy("rng").agg(sum(col("cost")).as("tot"))
    val wRanges = Window.orderBy("rng")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = rangeTot
      .withColumn("range_off", sum(col("tot")).over(wRanges) - col("tot"))
      .select("rng", "range_off")
    val wInRange = Window.partitionBy("rng").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsets), Seq("rng"))
      .withColumn("start", col("range_off") + sum(col("cost")).over(wInRange) - col("cost"))
      .withColumn("ctx_id", expr(s"start div $InterleaveCtxTokens"))
      .groupBy("ctx_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("it") > 0, 1L).otherwise(0L)).as("n_images"),
        sum(col("tt")).as("text_tokens"),
        sum(col("it")).as("image_tokens"),
        sum(col("cost")).as("total_tokens"))
      .orderBy("ctx_id")
  }

  /** Deterministic modality rebalancing — cap each modality (source) at K
    * docs, chosen by md5 order (KMV-style, reproducible across runs and
    * engines): the training-mix step every multimodal corpus build runs
    * before packing shards. TWO-PHASE bottom-k, never one window per
    * modality: phase 1 ranks within (modality, salt) — 16 bounded
    * partitions per modality, each keeping its local bottom-K, a superset
    * of the global bottom-K — and phase 2 ranks only the <=16K survivors.
    * A single window partitioned by modality would funnel a whole modality
    * (billions of rows at corpus scale) into ONE task; the salted phase
    * caps every window partition at 1/16 of a modality and the final
    * window at 16K rows. n_total joins back from a map-side-combined
    * groupBy (broadcast — modality cardinality is tiny). */
  def modalityBalance(spark: SparkSession, dir: String): DataFrame = {
    val K = 40
    val docs = documents(spark, dir)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("hk"),
        (col("doc_id") % 16L).as("salt"))
    val totals = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
    val w1 = Window.partitionBy("source", "salt").orderBy(col("hk"), col("doc_id"))
    val w2 = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
    docs
      .withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= K)
      .withColumn("rank", row_number().over(w2).cast("long")).filter(col("rank") <= K)
      .join(broadcast(totals), Seq("source"))
      .select(col("source"), col("rank"), col("doc_id"), col("n_total"))
      .orderBy("source", "rank")
  }

  /** Audio/video stream alignment — every audio chunk (30ms cadence) picks
    * up the latest video frame at-or-before it (40ms cadence): the
    * point-in-time alignment a multimodal training pipeline runs before
    * fusing modalities. Runs on the NATIVE as-of merge operator
    * (graft.plans.AsofJoinExec): both sides hash-partition on doc_id,
    * sort by (doc_id, ts), and stream once — no tagged-union window, no
    * candidate explosion. Frame/chunk timelines derive from payload byte
    * length, so the DuckDB ASOF JOIN oracle rebuilds them exactly. */
  def avSync(spark: SparkSession, dir: String): DataFrame = {
    // len > 0: Spark's sequence(0, -1) would emit a DESCENDING [0, -1]
    // for an empty payload where the oracle's range(0, 0) is empty —
    // zero-length docs have no frames or chunks on either engine
    val d = withPayload(spark, dir)
      .select(col("doc_id"), length(col("payload")).cast("long").as("len"))
      .filter(col("len") > 0)
      .repartition(spark.sparkContext.defaultParallelism)
    val frames = d
      .select(col("doc_id"), explode(expr("sequence(0L, (len + 15) div 16 - 1)")).as("fi"))
      .select(col("doc_id"), (col("fi") * 40L).as("ts"), col("fi"))
    val chunks = d
      .select(col("doc_id"), explode(expr("sequence(0L, (len + 23) div 24 - 1)")).as("ci"))
      .select(col("doc_id"), (col("ci") * 30L).as("ts"), col("ci"))
    graft.plans.AsofJoinNative.asof(chunks, frames, "doc_id", "ts", Seq("fi"))
      .select(col("doc_id"), col("ci"), col("ts").as("chunk_ts"),
        col("asof_time").as("frame_ts"), col("asof_fi").as("frame_idx"))
      .orderBy("doc_id", "ci")
  }

  /** SCENE-CUT detection over the frame stream — the shot-boundary pass a
    * video curation pipeline runs before scene-based sampling: per frame a
    * 16-level "luma" surrogate (1-based position of the frame-md5's first
    * hex char — the no-codec stand-in for a decoded luminance mean; the
    * cut/island plumbing is the deployed shape, per the multimodal stub
    * doctrine), a cut wherever consecutive frames jump by >= 8 levels,
    * scenes as cut-count running-sum islands, longest scene per doc.
    *
    * Scale: the frame explode is the mm_framesample generated sequence
    * (no driver loop); lag + running sum + per-scene rollup all share the
    * one (doc, frame_idx) sort; nothing leaves the doc partition until
    * the final bounded per-doc rollup. */
  def sceneCut(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("fi").asc)
    val run = Window.partitionBy("doc_id").orderBy(col("fi").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val frames = withPayload(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("n_frames", expr("CAST((length(payload) + 15) div 16 AS LONG)"))
      .select(col("doc_id"), col("n_frames"), col("payload"),
        explode(expr("sequence(0L, n_frames - 1)")).as("fi"))
      .withColumn("luma", expr(
        "CAST(locate(substring(md5(substring(payload, CAST(fi * 16 + 1 AS INT), 16)), 1, 1), " +
          "'0123456789abcdef') AS BIGINT)"))
      .drop("payload")
    frames
      .withColumn("cut", when(abs(col("luma") - lag(col("luma"), 1).over(w)) >= 8L, 1L)
        .otherwise(0L))
      .withColumn("scene", sum(col("cut")).over(run))
      .groupBy("doc_id", "n_frames", "scene")
      .agg(count(lit(1)).as("scene_len"))
      .groupBy("doc_id", "n_frames")
      .agg((max(col("scene")) + 1L).as("n_scenes"),
        max(col("scene_len")).as("longest_scene"))
      .orderBy("doc_id")
  }

  /** Epoch count / shard fan-out of mm_epoch_shuffle. */
  val ShuffleEpochs = 3
  val EpochShards = 8L

  /** EPOCH SHUFFLE AUDIT (mm_epoch_shuffle) — the dataloader's other half
    * next to mm_shard_pack (which packs ONE epoch's order): each training
    * epoch must see the corpus in a fresh permutation, and a distributed
    * loader gets one coordination-free by re-sharding on a seeded hash
    * (shard = md5(epoch, doc_id) — any worker locates any doc's shard for
    * any epoch without a shuffle table). Report per (epoch, shard): docs,
    * chars, and n_carryover — docs landing in the SAME shard as the
    * previous epoch, the decorrelation gauge (a broken seed shows up as
    * carryover == n_docs; a healthy one hovers near n_docs/shards).
    *
    * Scale: assignment is a pure map stage; the carryover join is
    * co-partitioned on (epoch, doc_id); the rollup map-side combines.
    * Epochs multiply rows ONLY inside this audit — the loader itself
    * computes assignments on the fly. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("n_chars").cast("long").as("nc"))
    val assigned = (0 until ShuffleEpochs).map { ep =>
      docs.withColumn("epoch", lit(ep.toLong))
        .withColumn("shard", expr(
          md5Int(s"concat('ep:$ep:', CAST(doc_id AS STRING))", 6) + s" % $EpochShards"))
    }.reduce(_.unionByName(_))
      .localCheckpoint() // rollup side + previous-epoch lookup side
    val prev = assigned.select((col("epoch") + 1L).as("epoch"),
      col("doc_id"), col("shard").as("prev_shard"))
    assigned.join(prev, Seq("epoch", "doc_id"), "left_outer")
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("nc").as("n_chars"),
        sum(when(col("prev_shard") === col("shard"), 1L).otherwise(0L))
          .as("n_carryover"))
      .orderBy("epoch", "shard")
  }

  /** ASPECT-RATIO BUCKETING (mm_aspect_bucket) — the SDXL-style batch
    * grouping every image-training pipeline runs: images batch only with
    * same-aspect peers so resize-to-target wastes no pixels. Dimensions
    * derive deterministically from the payload byte length (the synthetic
    * -geometry doctrine — no codec in this container); each image elects
    * the closest rung on the {1:1, 4:3, 3:4, 16:9, 9:16} ladder by
    * minimizing |w/h − rw/rh| EXACTLY: the distance is the rational
    * |w·rh − rw·h| / rh (h > 0 cancels across rungs), and multiplying by
    * 144/rh (144 = lcm of the ladder's rh values) turns the argmin into
    * a pure-BIGINT comparison — no float ratio ever materializes. Ties
    * break to the smallest rung index.
    *
    * Scale: per-row arithmetic + a 5-way generated explode + one
    * map-side-combinable rollup; the argmin window fans in exactly 5
    * rows per image. */
  def aspectBucket(spark: SparkSession, dir: String): DataFrame = {
    val dims = withPayload(spark, dir)
      .select(col("doc_id"), length(col("payload")).cast("long").as("bl"))
      .withColumn("w", expr("256 + (bl * 7919) % 768"))
      .withColumn("h", expr("256 + (bl * 104729) % 768"))
    val ladder = Seq((0, 1, 1, "1:1"), (1, 4, 3, "4:3"), (2, 3, 4, "3:4"),
        (3, 16, 9, "16:9"), (4, 9, 16, "9:16"))
      .map { case (i, rw, rh, s) =>
        s"struct(${i}L AS i, ${rw}L AS rw, ${rh}L AS rh, '$s' AS rung)" }
      .mkString("array(", ", ", ")")
    val wSel = Window.partitionBy("doc_id").orderBy(col("score").asc, col("i").asc)
    dims
      .select(col("doc_id"), col("w"), col("h"), explode(expr(ladder)).as("r"))
      .select(col("doc_id"), col("w"), col("h"),
        col("r.i").as("i"), col("r.rw").as("rw"), col("r.rh").as("rh"),
        col("r.rung").as("rung"))
      .withColumn("score", expr("abs(w * rh - rw * h) * (144 div rh)"))
      .withColumn("rn", row_number().over(wSel))
      .filter(col("rn") === 1)
      .groupBy("i", "rung")
      .agg(count(lit(1)).as("n_images"),
        sum(col("w")).as("sum_w"), sum(col("h")).as("sum_h"))
      .select("rung", "n_images", "sum_w", "sum_h")
      .orderBy("rung")
  }

  /** Per-clip encoder token cap of mm_audio_tokens. */
  val AudioMaxTokens = 1500L

  /** AUDIO TOKEN ACCOUNTING (mm_audio_tokens) — the audio sibling of
    * mm_vit_tokens: the sample → frame → token budget every speech
    * pipeline prices before packing. Clip metadata is the deterministic
    * fake (sample rate from doc_id mod 4 in {8, 16, 32, 48} kHz,
    * duration from n_chars), but the arithmetic is the real front-end:
    * resample to 16 kHz (n16 = n_samples * 16000 div sr — exact
    * BIGINT), STFT frames at win 400 / hop 160 (the wav2vec2/Whisper
    * constants: frames = (n16 - 400) div 160 + 1), encoder tokens =
    * ceil(frames / 8) (three stride-2 convs), capped at AudioMaxTokens
    * with the overflow counted — the truncation audit a speech-LM data
    * pipeline publishes per source.
    *
    * Scale: every derivation is row-local integer arithmetic; the only
    * shuffle is the map-side-combinable per-source rollup. */
  def audioTokens(spark: SparkSession, dir: String): DataFrame =
    audioTokensOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"), col("n_chars")))

  /** Same accounting over any (doc_id, source, n_chars) frame —
    * Round20Spec pins the frame/token math on hand-sized clips. */
  def audioTokensOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("sr", expr(
        """CAST(CASE WHEN doc_id % 4 = 0 THEN 8000
          |  WHEN doc_id % 4 = 1 THEN 16000
          |  WHEN doc_id % 4 = 2 THEN 32000
          |  ELSE 48000 END AS BIGINT)""".stripMargin.replace("\n", " ")))
      .withColumn("dur_ms", expr("(n_chars * 137) % 180000 + 1000"))
      .withColumn("n16", expr("(sr * dur_ms div 1000) * 16000 div sr"))
      .withColumn("frames", expr(
        "CASE WHEN n16 >= 400 THEN (n16 - 400) div 160 + 1 ELSE CAST(0 AS BIGINT) END"))
      .withColumn("tokens", expr("(frames + 7) div 8"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_clips"),
        sum(col("dur_ms")).as("total_ms"),
        sum(col("tokens")).as("tokens_full"),
        sum(least(col("tokens"), lit(AudioMaxTokens))).as("tokens_kept"),
        sum(when(col("tokens") > AudioMaxTokens, 1L).otherwise(0L)).as("n_truncated"))
      .orderBy("source")

  /** Context budget / per-image token cap of mm_vit_tokens. */
  val VitCtxTokens = 8192L
  val VitMaxImgTokens = 1024L

  /** VISION-TRANSFORMER TOKEN ACCOUNTING (mm_vit_tokens) — the budget
    * arithmetic every VLM data pipeline runs before packing (ViT patch
    * embedding: an image of w x h pixels at patch 16 costs
    * 1 + ceil(w/16)*ceil(h/16) tokens incl. the CLS token; Dosovitskiy
    * et al. 2021). Images whose raw cost exceeds VitMaxImgTokens are
    * DOWNSCALED by the smallest power-of-two factor s in {1,2,4} that
    * fits the cap — the deterministic stand-in for the resize policy
    * (LLaVA's anyres / GPT-style tiling make the same discrete choice).
    * All arithmetic stays BIGINT: ceil(x/k) = (x + k - 1) div k, dims
    * derived from payload length exactly as mm_aspect_bucket. Final
    * token costs pack into VitCtxTokens training contexts in doc order
    * via START-OFFSET assignment (the mm_shard_pack rule — whole-doc
    * first-fit does not prefix-sum). Output is the context-shape
    * histogram: for each images-per-context value, how many contexts,
    * their token mass, and how many of their images were downscaled —
    * the audit a VLM training run reads before consuming shards.
    *
    * Scale: per-image cost is row-local arithmetic; global offsets via
    * the two-phase prefix sum (per-range subtotals + broadcast range
    * offsets + within-range window) — never a global ORDER BY window;
    * both rollups are map-side-combinable. */
  def vitTokens(spark: SparkSession, dir: String): DataFrame =
    vitTokensOn(withPayload(spark, dir)
      .select(col("doc_id"), length(col("payload")).cast("long").as("bl")))

  /** Same operator over any (doc_id, bl) frame — Round18Spec pins the
    * patch math and each downscale rung on hand-sized images. */
  def vitTokensOn(docs: DataFrame): DataFrame = {
    val RangeDocs = 100L
    val toks = (s: Long) =>
      s"1 + ((w + ${16 * s - 1}) div ${16 * s}) * ((h + ${16 * s - 1}) div ${16 * s})"
    val sized = docs
      .withColumn("w", expr("256 + (bl * 7919) % 768"))
      .withColumn("h", expr("256 + (bl * 104729) % 768"))
      .withColumn("scale_s", expr(
        s"CASE WHEN ${toks(1L)} <= $VitMaxImgTokens THEN 1L " +
          s"WHEN ${toks(2L)} <= $VitMaxImgTokens THEN 2L ELSE 4L END"))
      .withColumn("img_tokens", expr(
        s"CASE scale_s WHEN 1 THEN ${toks(1L)} WHEN 2 THEN ${toks(2L)} " +
          s"ELSE ${toks(4L)} END"))
      .withColumn("rng", expr(s"doc_id div $RangeDocs"))
    val rangeTot = sized.groupBy("rng").agg(sum(col("img_tokens")).as("tot"))
    val wRanges = Window.orderBy("rng")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = rangeTot
      .withColumn("range_off", sum(col("tot")).over(wRanges) - col("tot"))
      .select("rng", "range_off")
    val wInRange = Window.partitionBy("rng").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsets), Seq("rng"))
      .withColumn("start",
        col("range_off") + sum(col("img_tokens")).over(wInRange) - col("img_tokens"))
      .withColumn("ctx_id", expr(s"start div $VitCtxTokens"))
      .groupBy("ctx_id")
      .agg(count(lit(1)).as("n_images"), sum(col("img_tokens")).as("ctx_tokens"),
        sum(expr("CASE WHEN scale_s > 1 THEN 1 ELSE 0 END")).as("n_downscaled"))
      .groupBy("n_images")
      .agg(count(lit(1)).as("n_contexts"), sum(col("ctx_tokens")).as("sum_tokens"),
        sum(col("n_downscaled")).as("sum_downscaled"))
      .orderBy("n_images")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_vit_tokens" -> (vitTokens _),
    "mm_audio_tokens" -> (audioTokens _),
    "mm_aspect_bucket" -> (aspectBucket _),
    "mm_epoch_shuffle" -> (epochShuffle _),
    "mm_scene_cut" -> (sceneCut _),
    "mm_av_sync" -> (avSync _),
    "mm_modality_balance" -> (modalityBalance _),
    "mm_interleave" -> (interleave _),
    "mm_shard_pack" -> (shardPack _),
    "mm_metadata" -> (metadata _),
    "mm_framesample" -> (frameSample _),
    "mm_chunk_dedup" -> (chunkDedup _),
    "mm_phash_dedup" -> (phashDedup _),
    "mm_decode_stats" -> (decodeStats _),
    "mm_embed_knn" -> (embedKnn _))

  val oracle: Map[String, String] = Map(
    "mm_audio_tokens" ->
      s"""WITH c AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 4 = 0 THEN 8000
         |      WHEN doc_id % 4 = 1 THEN 16000
         |      WHEN doc_id % 4 = 2 THEN 32000
         |      ELSE 48000 END AS sr,
         |    (n_chars * 137) % 180000 + 1000 AS dur_ms
         |  FROM documents
         |), t AS (
         |  SELECT source, dur_ms, tokens FROM (
         |    SELECT source, dur_ms,
         |      (CASE WHEN n16 >= 400 THEN (n16 - 400) // 160 + 1 ELSE 0 END + 7)
         |        // 8 AS tokens
         |    FROM (SELECT source, dur_ms,
         |      (sr * dur_ms // 1000) * 16000 // sr AS n16 FROM c))
         |)
         |SELECT source, COUNT(*) AS n_clips,
         |  CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
         |  CAST(SUM(tokens) AS BIGINT) AS tokens_full,
         |  CAST(SUM(LEAST(tokens, $AudioMaxTokens)) AS BIGINT) AS tokens_kept,
         |  CAST(SUM(CASE WHEN tokens > $AudioMaxTokens THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated
         |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "mm_vit_tokens" -> {
      val toks = (s: Long) =>
        s"1 + ((w + ${16 * s - 1}) // ${16 * s}) * ((h + ${16 * s - 1}) // ${16 * s})"
      s"""WITH d AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS bl FROM documents
         |), dims AS (
         |  SELECT doc_id, 256 + (bl * 7919) % 768 AS w,
         |    256 + (bl * 104729) % 768 AS h
         |  FROM d
         |), costed AS (
         |  SELECT doc_id,
         |    CASE WHEN ${toks(1L)} <= $VitMaxImgTokens THEN 1
         |      WHEN ${toks(2L)} <= $VitMaxImgTokens THEN 2 ELSE 4 END AS scale_s,
         |    CASE WHEN ${toks(1L)} <= $VitMaxImgTokens THEN ${toks(1L)}
         |      WHEN ${toks(2L)} <= $VitMaxImgTokens THEN ${toks(2L)}
         |      ELSE ${toks(4L)} END AS img_tokens
         |  FROM dims
         |), placed AS (
         |  SELECT doc_id, scale_s, img_tokens,
         |    (SUM(img_tokens) OVER (ORDER BY doc_id
         |       ROWS UNBOUNDED PRECEDING) - img_tokens) // $VitCtxTokens AS ctx_id
         |  FROM costed
         |), ctx AS (
         |  SELECT ctx_id, COUNT(*) AS n_images,
         |    SUM(img_tokens) AS ctx_tokens,
         |    SUM(CASE WHEN scale_s > 1 THEN 1 ELSE 0 END) AS n_downscaled
         |  FROM placed GROUP BY ctx_id
         |)
         |SELECT CAST(n_images AS BIGINT) AS n_images,
         |  CAST(COUNT(*) AS BIGINT) AS n_contexts,
         |  CAST(SUM(ctx_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(n_downscaled) AS BIGINT) AS sum_downscaled
         |FROM ctx GROUP BY n_images ORDER BY n_images""".stripMargin
    },
    "mm_aspect_bucket" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS bl FROM documents
        |), dims AS (
        |  SELECT doc_id, 256 + (bl * 7919) % 768 AS w,
        |    256 + (bl * 104729) % 768 AS h
        |  FROM d
        |), ladder(i, rw, rh, rung) AS (
        |  VALUES (0, 1, 1, '1:1'), (1, 4, 3, '4:3'), (2, 3, 4, '3:4'),
        |    (3, 16, 9, '16:9'), (4, 9, 16, '9:16')
        |), scored AS (
        |  SELECT doc_id, w, h, i, rung,
        |    ABS(w * rh - rw * h) * (144 // rh) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY ABS(w * rh - rw * h) * (144 // rh) ASC, i ASC) AS rn
        |  FROM dims CROSS JOIN ladder
        |)
        |SELECT rung, CAST(COUNT(*) AS BIGINT) AS n_images,
        |  CAST(SUM(w) AS BIGINT) AS sum_w, CAST(SUM(h) AS BIGINT) AS sum_h
        |FROM scored WHERE rn = 1
        |GROUP BY i, rung ORDER BY rung""".stripMargin,
    "mm_epoch_shuffle" -> {
      val hex6 = (1 to 6).map(k =>
          s"(strpos('0123456789abcdef', substr(mh, $k, 1)) - 1)")
        .reduce((a, b) => s"($a * 16 + $b)")
      s"""WITH a AS (
         |  SELECT doc_id, n_chars, epoch,
         |    CAST($hex6 AS BIGINT) % $EpochShards AS shard
         |  FROM (
         |    SELECT doc_id, n_chars, epoch,
         |      md5('ep:' || CAST(epoch AS VARCHAR) || ':'
         |        || CAST(doc_id AS VARCHAR)) AS mh
         |    FROM documents, (SELECT unnest(range(0, $ShuffleEpochs)) AS epoch)
         |  )
         |), j AS (
         |  SELECT a.epoch, a.shard, a.n_chars, p.shard AS prev_shard
         |  FROM a LEFT JOIN a p
         |    ON p.doc_id = a.doc_id AND p.epoch = a.epoch - 1
         |)
         |SELECT epoch, shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(CASE WHEN prev_shard = shard THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_carryover
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "mm_scene_cut" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST((length(text) + 15) // 16 AS BIGINT) AS n_frames
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, n_frames, fi,
        |    CAST(strpos('0123456789abcdef',
        |      substr(md5(substr(text, CAST(fi * 16 + 1 AS INT), 16)), 1, 1))
        |      AS BIGINT) AS luma
        |  FROM (SELECT doc_id, text, n_frames, unnest(range(0, n_frames)) AS fi FROM d)
        |), c AS (
        |  SELECT doc_id, n_frames, fi,
        |    CASE WHEN ABS(luma - LAG(luma) OVER (PARTITION BY doc_id ORDER BY fi)) >= 8
        |      THEN 1 ELSE 0 END AS cut
        |  FROM f
        |), s AS (
        |  SELECT doc_id, n_frames, fi,
        |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY fi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
        |  FROM c
        |), sl AS (
        |  SELECT doc_id, n_frames, scene, COUNT(*) AS scene_len
        |  FROM s GROUP BY doc_id, n_frames, scene
        |)
        |SELECT doc_id, n_frames, CAST(MAX(scene) + 1 AS BIGINT) AS n_scenes,
        |  MAX(scene_len) AS longest_scene
        |FROM sl GROUP BY doc_id, n_frames ORDER BY doc_id""".stripMargin,
    "mm_av_sync" ->
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents WHERE length(text) > 0),
        |f0 AS (SELECT doc_id, unnest(range(0, (len + 15) // 16)) AS fi FROM d),
        |f AS (SELECT doc_id, fi, fi * 40 AS ts FROM f0),
        |c0 AS (SELECT doc_id, unnest(range(0, (len + 23) // 24)) AS ci FROM d),
        |c AS (SELECT doc_id, ci, ci * 30 AS ts FROM c0)
        |SELECT c.doc_id, c.ci, c.ts AS chunk_ts, f.ts AS frame_ts, f.fi AS frame_idx
        |FROM c ASOF LEFT JOIN f ON c.doc_id = f.doc_id AND f.ts <= c.ts
        |ORDER BY c.doc_id, c.ci""".stripMargin,
    "mm_modality_balance" ->
      // single window in the oracle — equivalent because phase 1 keeps a
      // superset of the global bottom-K per modality (each salt slice
      // keeps its local bottom-K)
      """WITH t AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source),
        |r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents
        |)
        |SELECT r.source, CAST(rank AS BIGINT) AS rank, doc_id, n_total
        |FROM r JOIN t ON r.source = t.source
        |WHERE rank <= 40 ORDER BY r.source, rank""".stripMargin,
    "mm_embed_knn" -> {
      val dot8 = (a: String, b: String) =>
        s"list_reduce(list_transform(range(1, 9), i -> $a[i] * $b[i]), (acc, v) -> acc + v)"
      s"""WITH e0 AS (
         |  SELECT doc_id, length(text) AS byte_len,
         |    list_transform(range(0, 8), d -> COALESCE(list_sum(
         |      list_transform(range(CAST(d + 1 AS INT), length(text) + 1, 8),
         |        i -> ascii(substr(text, CAST(i AS INT), 1)))), 0)::DOUBLE) AS emb
         |  FROM documents
         |),
         |e AS (
         |  SELECT doc_id, emb, byte_len, sqrt(${dot8("emb", "emb")}) AS nrm,
         |    CAST(list_position(emb, list_max(emb)) AS VARCHAR) || '|' ||
         |      CAST(byte_len // 256 AS VARCHAR) AS bucket
         |  FROM e0
         |),
         |cand AS (
         |  SELECT q.doc_id AS qid, c.doc_id AS cid,
         |    ${dot8("q.emb", "c.emb")} / (q.nrm * c.nrm) AS cos
         |  FROM e q JOIN e c ON q.bucket = c.bucket
         |    AND q.doc_id < 10 AND q.doc_id <> c.doc_id
         |),
         |ranked AS (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
         |  FROM cand
         |)
         |SELECT qid, rank, cid, ${graft.sources.Tables.r4Sql("cos")} AS cos_sim
         |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
    },
    "mm_decode_stats" ->
      """SELECT doc_id,
        |  (length(text) + 15) // 16 AS n_frames,
        |  CAST(list_sum(list_transform(range(1, length(text) + 1),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT) AS byte_sum,
        |  CAST(length(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_phash_dedup" -> Dedup.simhashOracleSql(
      """SELECT DISTINCT doc_id,
        |    md5(substr(text, CAST(fi * 16 + 1 AS INT), 16)) AS sh
        |  FROM (SELECT doc_id, text, unnest(range(0, (length(text) + 15) // 16)) AS fi
        |        FROM documents)""".stripMargin, PhashMaxHamming),
    "mm_chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text, (length(text) + 15) // 16 AS n_frames FROM documents
        |),
        |ch AS (
        |  SELECT doc_id, md5(substr(text, CAST(frame_idx * 16 + 1 AS INT), 16)) AS chunk_hash
        |  FROM (SELECT doc_id, text, unnest(range(0, n_frames)) AS frame_idx FROM d)
        |)
        |SELECT chunk_hash, COUNT(*) AS ref_count, COUNT(DISTINCT doc_id) AS n_docs,
        |  MIN(doc_id) AS first_doc
        |FROM ch GROUP BY chunk_hash HAVING COUNT(*) > 1
        |ORDER BY chunk_hash""".stripMargin,
    "mm_interleave" ->
      // the oracle's single global window computes the same offsets the
      // distributed two-phase prefix sum produces
      s"""WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tt,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN $InterleaveImageTokens ELSE 0 END AS BIGINT) AS it
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tt, it, tt + it AS cost,
        |    CAST(SUM(tt + it) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (tt + it) AS BIGINT) AS start
        |  FROM s
        |)
        |SELECT start // $InterleaveCtxTokens AS ctx_id, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN it > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_images,
        |  CAST(SUM(tt) AS BIGINT) AS text_tokens,
        |  CAST(SUM(it) AS BIGINT) AS image_tokens,
        |  CAST(SUM(cost) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1 ORDER BY ctx_id""".stripMargin,
    "mm_shard_pack" ->
      // the oracle's single global window computes the same offsets the
      // distributed two-phase prefix sum produces
      """WITH s AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS nb FROM documents),
        |c AS (
        |  SELECT doc_id, nb,
        |    CAST(SUM(nb) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nb AS BIGINT) AS start
        |  FROM s
        |)
        |SELECT start // 4096 AS shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(nb) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "mm_metadata" ->
      """SELECT doc_id, source,
        |  CAST(length(text) AS BIGINT) AS byte_len,
        |  lower(hex(substr(text, 1, 4))) AS magic,
        |  md5(text) AS checksum,
        |  (length(text) + 15) // 16 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_framesample" ->
      """WITH d AS (
        |  SELECT doc_id, text, (length(text) + 15) // 16 AS n_frames
        |  FROM documents WHERE doc_id < 100
        |),
        |f AS (
        |  SELECT doc_id, unnest(range(0, n_frames, 4)) AS frame_idx, text FROM d
        |)
        |SELECT doc_id, frame_idx,
        |  lower(hex(substr(text, CAST(frame_idx * 16 + 1 AS INT), 16))) AS frame_hex,
        |  md5(substr(text, CAST(frame_idx * 16 + 1 AS INT), 16)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)
}
