package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ModelStore
import graft.sources.Tables._
import TextAnalysis.{windowSlice, windowText, wordWindows, words}

/** Deduplication suite over the `documents` table (SURVEY.md §2.C).
  *
  * The reference pipeline dedups at file granularity (skip-if-output-exists,
  * pipeline/processing/data.py:26-40); a training-data pipeline needs
  * content-level dedup. All hashes are md5-derived so the DuckDB oracle
  * reproduces them bit for bit (SURVEY.md §4) — never engine-native hash().
  *
  * Scale design (SURVEY.md §5): every near-dup operator is an inverted-index
  * plan — explode a bounded per-doc feature set (shingles, minhash bands,
  * simhash blocks), shuffle on the feature key, and generate candidate pairs
  * only inside a bucket with `a < b` triangularization. Nothing ever
  * self-joins the full corpus; at 100 TB the bucket key is the shuffle
  * partition key and hot buckets are AQE-skew-split.
  */
object Dedup {

  /** Distinct word 3-gram shingles of any (id, text) corpus (docs are
    * single-space joined). Spark array indexing is 0-based (DuckDB's is
    * 1-based — the oracle SQL mirrors this with range(1, len-1)). */
  def shinglesOn(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    wordWindows(docs, Seq(col(idCol).as("doc_id")), 3, windowText(3), "sh", words(textCol),
      distinct = true)

  /** Distinct md5 hashes (doc_id, sh) of a corpus's word n-grams — the
    * gram index of dd_contamination and pipe_eval's decontamination. */
  private[operators] def gramHashes(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    wordWindows(docs, Seq(col(idCol).as("doc_id")), n, s"md5(${windowText(n)})", "sh",
      words(textCol), distinct = true)

  private[graft] def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOn(documents(spark, dir)
      // documents is a single small parquet file => one input partition; fan
      // out before the expensive explode/hash stages so they use every core
      .repartition(spark.sparkContext.defaultParallelism))

  private[operators] val shinglesSql =
    """SELECT doc_id, sh FROM (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)-1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 3)
      |)""".stripMargin

  /** Exact dedup: content-hash groupBy, keep the lowest doc_id per distinct
    * text. Output is the keep-set with its group size — one shuffle on the
    * md5 key; at 100 TB this is the standard first dedup pass. */
  def exactOn(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  def exact(spark: SparkSession, dir: String): DataFrame =
    exactOn(documents(spark, dir)).orderBy("keep_id")

  /** DEDUP SATURATION CURVE (dd_saturation) — the acquisition-planning
    * sibling of dd_exact and ta_heaps: at 25/50/75/100% prefixes of the
    * doc_id range, how many docs are exact duplicates of something
    * already seen? A RISING duplicate rate says the source is
    * exhausting (new crawl mass repeats old mass — RefinedWeb's scaling
    * argument); flat-low says the corpus can keep growing. ONE pass
    * each side, the ta_heaps first-occurrence trick on the md5 content
    * hash: a hash contributes a unique doc to the first cut containing
    * its earliest doc_id, every doc counts toward its own cut, then a
    * 4-row cumulative window publishes docs/unique/dup/rate per cut.
    *
    * Scale: one map-side-combinable min per content hash (the dd_exact
    * shuffle), one per-cut rollup, a broadcast one-row maxid; the
    * cumulative window touches 4 rows. */
  def saturation(spark: SparkSession, dir: String): DataFrame =
    saturationOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** Same curve over any (doc_id, text) frame — Round20Spec pins the
    * cumulative unique/dup accounting on a hand-worked prefix. */
  def saturationOn(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docsIn.sparkSession
    val docs = docsIn
      .select(col("doc_id"), md5(col("text")).as("h"))
      .localCheckpoint() // consumers: maxid + per-cut docs + first-occurrence
    val maxid = docs.agg(max(col("doc_id")).as("maxid"))
      .localCheckpoint() // one-row frame, two cut consumers
    def cutOf(id: Column): Column =
      Seq(25, 50, 75).foldLeft(when(lit(false), lit(0L))) { (c, f) =>
        c.when(id <= expr(s"maxid * $f div 100"), lit(f.toLong))
      }.otherwise(lit(100L))
    val perCutDocs = docs.crossJoin(broadcast(maxid))
      .select(cutOf(col("doc_id")).as("cut_pct"))
      .groupBy("cut_pct").agg(count(lit(1)).as("nd"))
    val perCutFirst = docs.groupBy("h").agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(maxid))
      .select(cutOf(col("fd")).as("cut_pct"))
      .groupBy("cut_pct").agg(count(lit(1)).as("nu"))
    val spine = spark.range(1, 5L).select((col("id") * 25L).as("cut_pct"))
    val wCum = Window.orderBy("cut_pct")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(perCutDocs, Seq("cut_pct"), "left_outer")
      .join(perCutFirst, Seq("cut_pct"), "left_outer")
      .select(col("cut_pct"),
        sum(coalesce(col("nd"), lit(0L))).over(wCum).as("n_docs"),
        sum(coalesce(col("nu"), lit(0L))).over(wCum).as("n_unique"))
      .withColumn("n_dup", expr("n_docs - n_unique"))
      .withColumn("dup_rate_x10000",
        when(col("n_docs") > 0, expr("n_dup * 10000 div n_docs"))
          .otherwise(lit(0L)))
      .orderBy("cut_pct")
  }

  /** DUPLICATED-N-GRAM FRACTION (dd_dup_ngrams) — the Gopher/RefinedWeb
    * quality signal dd_exact can't see: per document, what share of its
    * distinct word-3-grams also occur in OTHER documents? A high share
    * with no exact-dup match is boilerplate/template contamination (the
    * doc is stitched from corpus-common fragments). Published as the
    * decile histogram of the per-doc share (decile = frac_x10000 div
    * 1000, 0..10) with the gram mass per decile — bounded output at any
    * corpus size. df counts DOCUMENTS per gram (shingles are distinct
    * per doc), so a gram repeated only inside one doc does not count as
    * duplicated — that within-doc signal is ta_repetition's job.
    *
    * Scale: reuses the dd_ngram_jaccard shingle shuffle; df is one
    * map-side-combinable groupBy on the gram key; the per-doc rollup
    * joins back on the same key and the decile histogram is 11 rows. */
  def dupNgrams(spark: SparkSession, dir: String): DataFrame =
    dupNgramsOn(shingles(spark, dir))

  /** Same histogram over any (doc_id, sh) distinct shingle set —
    * Round20Spec pins the share arithmetic on a hand-worked corpus. */
  def dupNgramsOn(sh: DataFrame): DataFrame = {
    val s = sh.localCheckpoint() // consumers: df + per-doc join side
    val df = s.groupBy("sh").agg(count(lit(1)).as("df"))
    val perDoc = s.join(df, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("frac_x10000", expr("n_dup * 10000 div n_sh"))
    perDoc
      .groupBy(expr("frac_x10000 div 1000").as("dup_decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_sh").as("total_grams"), sum("n_dup").as("dup_grams"))
      .orderBy("dup_decile")
  }

  /** Normalized exact dedup — the standard first pass on web text: case-
    * fold + whitespace-collapse + trim before hashing, so trivially-mutated
    * copies land in one group. (Regex kept to a portable subset: DuckDB is
    * RE2, Spark is java.util.regex.) */
  def normalized(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm_text", trim(regexp_replace(lower(col("text")), " +", " ")))
      .groupBy(md5(col("norm_text")).as("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
      .orderBy("keep_id")

  /** Word-3-gram Jaccard near-dup pairs (threshold 0.5): inverted index on
    * the shingle, per-bucket triangular pair generation, |A∩B| from the
    * bucket join and |A∪B| = |A|+|B|-|A∩B| from per-doc shingle counts
    * broadcast back in. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOn(shingles(spark, dir), 0.5).orderBy("da", "db")

  /** Generic form over any (doc_id, sh) shingle set. `dfCap` drops shingles
    * whose document frequency exceeds the cap BEFORE pair generation — the
    * hot-bucket guard — computed as a WINDOW count over the same shuffle
    * the bucket join needs anyway (a separate groupBy+anti-join costs an
    * extra full shuffle of the shingle set and, measured at sf0.1, made the
    * capped path 2x SLOWER than uncapped; the window form shares it). */
  def ngramJaccardOn(shingleSet: DataFrame, threshold: Double, dfCap: Option[Int] = None,
      materialized: Boolean = false): DataFrame = {
    // referenced three times below (two join sides + counts): materialize
    // eagerly so the shingle explode runs once, not per subtree (a lazy
    // persist still races when broadcast builds start concurrently).
    // Callers that already hold a checkpointed frame pass materialized =
    // true to skip a second full copy of the largest intermediate.
    val sh0 = if (materialized) shingleSet else shingleSet.localCheckpoint()
    val sh = dfCap match {
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        sh0.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
          .filter(col("df") <= cap).drop("df")
      case None => sh0
    }
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_inter"))
    // counts is one row per doc — O(corpus). No broadcast hint: at test SFs
    // AQE converts the shuffle join to broadcast at runtime; at 100 TB both
    // sides hash-partition on the doc key instead of shipping the corpus.
    inter
      .join(counts.withColumnRenamed("doc_id", "da").withColumnRenamed("n_sh", "na"), "da")
      .join(counts.withColumnRenamed("doc_id", "db").withColumnRenamed("n_sh", "nb"), "db")
      .withColumn("jaccard",
        r4(col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter"))))
      .filter(col("jaccard") >= lit(threshold))
      .select("da", "db", "n_inter", "jaccard")
  }

  /** The skew-capped scale path: drop shingles whose document frequency
    * exceeds a cap (stopword-shingle removal) BEFORE the inverted-index
    * join — the standard guard against the b^2 pair blowup of hot buckets
    * at 100 TB. Jaccard is then computed consistently over the rare-shingle
    * space (both engines apply the same cap, so the oracle matches). */
  def ngramJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOn(shingles(spark, dir), 0.5, dfCap = Some(20)).orderBy("da", "db")

  /** MinHash + LSH. 12 hash functions derived from THREE md5 digests per
    * shingle — digest d = md5("d:shingle") splits into four 8-hex-char
    * (32-bit) hash values, h = substr(digest(h/4), (h%4)*8+1, 8) — so the
    * dominant per-shingle cost is 3 md5 calls, not 12 (lexicographic min
    * of a hex substring is still a valid random-permutation proxy and
    * portable to the oracle). 6 bands x 2 rows; band key = md5 of the two
    * signature components; pairs sharing >=1 band are candidates, scored by
    * full-signature agreement (est_sim = matching components / 12). */
  def minhash(spark: SparkSession, dir: String): DataFrame =
    minhashOn(shingles(spark, dir)).orderBy("da", "db")

  /** Minhash signature table: one row per doc, 12 8-hex-char min-hashes.
    * One shuffle: digests projected ONCE per shingle (3 md5 calls), then
    * 12 min-aggregates over substrings, column-wise with map-side partial
    * aggregation (vs. exploding 12 hash rows per shingle). */
  private[graft] def minhashSignatures(shingleSet: DataFrame): DataFrame = {
    val withDigests = shingleSet.select(col("doc_id") +:
      (0 until 3).map(d => md5(concat(lit(s"$d:"), col("sh"))).as(s"dg$d")): _*)
    val sigCols = (0 until 12).map(h =>
      min(substring(col(s"dg${h / 4}"), (h % 4) * 8 + 1, 8)).as(s"mh$h"))
    withDigests.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .localCheckpoint() // tiny (one row per doc); used by both band sides + scoring
  }

  /** Distinct (da, db) candidate pairs sharing a 6x2 minhash band. */
  private[graft] def bandCandidates(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 6).map(b =>
      md5(concat(col(s"mh${2 * b}"), lit("|"), col(s"mh${2 * b + 1}"))))
    val bands = sig.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "band_key")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db")).distinct()
  }

  /** Generic form over any (doc_id, sh) shingle set. */
  def minhashOn(shingleSet: DataFrame): DataFrame = {
    val sig = minhashSignatures(shingleSet)
    val cand = bandCandidates(sig)
    // signature agreement: sig is one row per doc — O(corpus) — so no
    // broadcast hint; AQE broadcasts at test SFs, hash-partitions at scale
    val matches = (0 until 12).map(h =>
      when(col(s"x.mh$h") === col(s"y.mh$h"), 1).otherwise(0)).reduce(_ + _)
    cand
      .join(sig.as("x"), col("da") === col("x.doc_id"))
      .join(sig.as("y"), col("db") === col("y.doc_id"))
      .select(col("da"), col("db"), round(matches / lit(12.0), 4).as("est_sim"))
  }

  /** CROSS-SOURCE OVERLAP MATRIX (ta_src_overlap) — the syndication
    * report a corpus curator reads before weighting sources (two feeds
    * republishing each other look like twice the data but carry half
    * the signal, and near-dup mass BETWEEN sources is how you see it):
    * minhash candidates verified at the exact 9/12 signature threshold
    * (the pipeline's integer rule), each verified pair attributed to
    * its (source, source) cell on least/greatest canonicalization —
    * within-source cells on the diagonal; n_docs_a/b give the cell's
    * denominators. Every cell with >= 1 verified pair appears.
    *
    * Scale: the candidate/verify machinery is dd_minhash's audited
    * path; the source attribution is two co-partitioned doc-key joins;
    * the matrix is bounded by sources^2. */
  def srcOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint() // shingles + two source lookups + size table
    val sig = minhashSignatures(shinglesOn(docs))
      .localCheckpoint() // bands + both verify sides
    val matches = (0 until 12).map(h =>
      when(col(s"x.mh$h") === col(s"y.mh$h"), 1).otherwise(0)).reduce(_ + _)
    val ver = bandCandidates(sig)
      .join(sig.as("x"), col("da") === col("x.doc_id"))
      .join(sig.as("y"), col("db") === col("y.doc_id"))
      .withColumn("agree", matches.cast("long"))
      .filter(col("agree") >= 9L)
      .select(col("da"), col("db"))
    val srcOf = docs.select(col("doc_id"), col("source"))
    val sizes = srcOf.groupBy("source").agg(count(lit(1)).as("n_docs"))
    ver
      .join(srcOf.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
      .join(srcOf.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .join(sizes.select(col("source").as("source_a"), col("n_docs").as("n_docs_a")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n_docs").as("n_docs_b")),
        Seq("source_b"))
      .select("source_a", "source_b", "n_pairs", "n_docs_a", "n_docs_b")
      .orderBy("source_a", "source_b")
  }

  /** Bloom geometry of dd_bloom_screen: k hash functions into m bits.
    * m is FIXED (the filter must be oracle-checkable), so saturation at
    * large corpora is visible in the report rather than hidden — a
    * deployment sizes m to n; the fp_rate column is exactly the gauge
    * that tells it to. */
  val BloomScreenBits = 8192L
  val BloomScreenK = 2

  /** BLOOM PRE-SCREEN for exact dedup (dd_bloom_screen) — the
    * memory-bounded first pass production exact-dedup runs before any
    * shuffle-heavy join: the corpus (even doc_ids) inserts its text
    * hashes into a DETERMINISTIC md5 Bloom filter (the bit array IS a
    * <= m-row distinct-positions table — broadcast-sized BY
    * CONSTRUCTION no matter the corpus, which is the entire point);
    * each batch doc (odd ids) is bloom-positive iff ALL k of its
    * positions are set. The report measures the screen against exact
    * truth: per source, batch size, bloom positives, true duplicates
    * (bloom NEVER misses one — no false negatives, spec-pinned), false
    * positives, and the observed fp rate — the number that tells a
    * deployment when m needs resizing.
    *
    * Scale: the corpus pass is one map-side-combinable distinct over
    * positions; the probe joins the BROADCAST bit table; truth is one
    * co-partitioned hash join, paid here only to measure the screen (a
    * deployment pays it only for bloom positives — the screened resid
    * is the saving). */
  def bloomScreen(spark: SparkSession, dir: String): DataFrame =
    bloomScreenOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** Bloom position j of the text-hash column `h`. */
  private def bloomPosExpr(j: Int): String =
    md5Int(s"concat('bf$j:', h)", 4) + s" % $BloomScreenBits"

  /** Same operator over any (doc_id, source, text) frame — Round12Spec
    * pins zero false negatives and a planted false positive. */
  def bloomScreenOn(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .localCheckpoint() // corpus insert + batch probe + truth join
    val corpusH = hashed.filter(col("doc_id") % 2 === 0).select("h").distinct()
      .localCheckpoint() // bit build + truth side
    val bits = (0 until BloomScreenK).map(j => corpusH.select(expr(bloomPosExpr(j)).as("pos")))
      .reduce(_ unionAll _).distinct()
      .withColumn("present", lit(1L))
    val batch = hashed.filter(col("doc_id") % 2 === 1)
    val probed = (0 until BloomScreenK).map(j =>
        batch.select(col("doc_id"), expr(bloomPosExpr(j)).as("pos")))
      .reduce(_ unionAll _)
      .join(broadcast(bits), Seq("pos"), "left_outer")
      .groupBy("doc_id")
      .agg((sum(coalesce(col("present"), lit(0L))) === BloomScreenK.toLong).as("bloom_pos"))
    batch
      .join(probed, Seq("doc_id"))
      .join(corpusH.withColumn("is_dup", lit(1L)), Seq("h"), "left_outer")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(0L)) === 1L)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("n_bloom_pos"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_true_dup"),
        sum(when(col("bloom_pos") && !col("is_dup"), 1L).otherwise(0L)).as("n_false_pos"))
      .withColumn("fp_rate_x10000", expr(
        "CASE WHEN n_batch - n_true_dup = 0 THEN 0L " +
          "ELSE (10000 * n_false_pos) div (n_batch - n_true_dup) END"))
      .orderBy("source")
  }

  /** INCREMENTAL MINHASH DEDUP (dd_minhash_inc) — the daily-ingest
    * deployment shape of dd_minhash: a standing corpus (even doc_ids —
    * the stored LSH band index) receives a new batch (odd doc_ids);
    * each batch doc gets a verdict. Candidates verify at the pipeline's
    * exact INTEGER 9/12 signature threshold; verdict precedence is
    * dup_of_corpus (any verified corpus partner — min id reported) >
    * dup_in_batch (a verified LOWER-id batch partner — the keep-min
    * rule, so exactly one member of a new duplicate group survives) >
    * unique. Within-batch pairs matter: a burst of copies arriving in
    * ONE batch is invisible to the corpus index alone.
    *
    * Scale: in production the corpus band keys are precomputed and
    * stored (the index IS a table); the batch computes its own bands
    * and PROBES via the band-key equi-join — batch-sized, not
    * corpus-sized, work, with the same hot-band cap as every dedup
    * index here; verification touches only candidate pairs. The
    * even/odd split models exactly that asymmetry on one corpus. */
  def minhashInc(spark: SparkSession, dir: String): DataFrame =
    minhashIncOn(shingles(spark, dir))

  /** Generic form over any (doc_id, sh) shingle set — Round12Spec
    * plants all three verdict classes. */
  def minhashIncOn(shingleSet: DataFrame): DataFrame = {
    val sig = minhashSignatures(shingleSet)
      .localCheckpoint() // consumers: bands + both verify sides
    val matches = (0 until 12).map(h =>
      when(col(s"x.mh$h") === col(s"y.mh$h"), 1).otherwise(0)).reduce(_ + _)
    val ver = bandCandidates(sig)
      .join(sig.as("x"), col("da") === col("x.doc_id"))
      .join(sig.as("y"), col("db") === col("y.doc_id"))
      .withColumn("agree", matches.cast("long"))
      .filter(col("agree") >= 9L)
      .select(col("da"), col("db"))
    val pr = GraphOps.sym(ver, "da", "db", "d", "p")
    val m = pr.filter(col("d") % 2 === 1)
      .groupBy("d")
      .agg(
        min(when(col("p") % 2 === 0, col("p"))).as("mc"),
        min(when(col("p") % 2 === 1 && col("p") < col("d"), col("p"))).as("mb"))
    shingleSet.select(col("doc_id")).filter(col("doc_id") % 2 === 1).distinct()
      .join(m, col("doc_id") === col("d"), "left_outer")
      .select(col("doc_id"),
        when(col("mc").isNotNull, lit("dup_of_corpus"))
          .when(col("mb").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("unique")).as("verdict"),
        coalesce(col("mc"), col("mb")).as("match_id"))
      .orderBy("doc_id")
  }

  /** SimHash: 64-bit fingerprint as a 64-char '0'/'1' string (portable — no
    * engine-specific int/hex casts). Bit j of a shingle's hash is bit (j%4)
    * of hex digit (j/4) of its md5; the doc bit is the sign of the +/-1 sum
    * over shingles. Candidate pairs share one of four 16-bit blocks
    * (bit-sliced LSH: hamming<=3 guarantees a shared block by pigeonhole);
    * emitted pairs have hamming <= 12. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOn(shingles(spark, dir), 12).orderBy("da", "db")

  /** Generic form over any (doc_id, sh) shingle set. */
  def simhashOn(shingleSet: DataFrame, maxHamming: Int): DataFrame = {
    // Column-wise: 16 hex-digit columns per shingle, 64 signed-bit sums in
    // ONE groupBy (map-side combined, codegen'd) — no 64x row explosion,
    // no collect_list sort.
    val digitCols = (0 until 16).map(d =>
      conv(substring(col("hv"), d + 1, 1), 16, 10).cast("int").as(s"d$d"))
    val withDigits = shingleSet
      .select(col("doc_id"), md5(col("sh")).as("hv"))
      .select(col("doc_id") +: digitCols: _*)
    val bitSums = (0 until 64).map { j =>
      sum(expr(s"CASE WHEN shiftright(d${j / 4}, ${3 - j % 4}) % 2 = 1 THEN 1 ELSE -1 END")).as(s"s$j")
    }
    val fp = withDigits.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((0 until 64).map(j =>
          when(col(s"s$j") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
      .localCheckpoint() // one row per doc; both self-join sides reuse it
    val blocks = fp.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("block", expr("substring(simhash, b * 16 + 1, 16)"))
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.b") === col("y.b") && col("x.block") === col("y.block")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("x.simhash").as("ha"),
        col("y.doc_id").as("db"), col("y.simhash").as("hb"))
      .distinct()
    // native codegen scorer on the candidate hot path (HammingStr) —
    // the portable HOF form (aggregate over 64 substring pairs) is
    // interpreted and allocates two strings per position per pair
    cand
      .withColumn("hamming", expr("hamming_str(ha, hb)"))
      .filter(col("hamming") <= lit(maxHamming))
      .select("da", "db", "hamming")
  }

  /** Near-dup CLUSTERING — pair lists are not yet a dedup decision: a
    * production pipeline merges pairs into clusters and keeps ONE canonical
    * doc per cluster (transitively: if A~B and B~C, all three are one
    * cluster even when A~C scores below threshold). Connected components of
    * the jaccard>=0.5 pair graph via large-star/small-star pointer doubling
    * (GraphOps.minLabelComponentsDoubling — same loop as raster
    * polygonization). r5 audit: doubling beats hash-min here TWICE over —
    * hash-min shuffles one label row per DOCUMENT per round while doubling
    * only touches the (tiny) near-dup edge set, and near-dup chains
    * (template pages A~B~C~...) make cluster diameter unbounded at corpus
    * scale where hash-min's round cap throws; measured 5.3s -> 2.7s at
    * sf0.1. Canonical = the component's min doc_id, which IS the converged
    * label.
    * Every doc is emitted with its cluster id and size; singletons keep
    * their own id, so the keep-set is `is_canonical`. */
  def cluster(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccardOn(shingles(spark, dir), 0.5)
      .select(col("da"), col("db")).localCheckpoint()
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionByName(pairs.select(col("db").as("src"), col("da").as("dst")))
    val nodes = documents(spark, dir).select(col("doc_id").as("id"))
    val comp = GraphOps.minLabelComponentsDoubling(nodes, edges)
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("comp"))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"), (col("id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup pairs. Scale path: 8-bit random-hyperplane
    * sign bucket (see Similarity.bucketExpr) FIRST, exact cosine only inside
    * the bucket — the corpus never full-self-joins. Threshold 0.4 (this
    * corpus's max pairwise cosine is ~0.48; a 0.95 threshold would be
    * trivially empty). */
  def embedCosine(spark: SparkSession, dir: String): DataFrame = {
    embedCosineOn(
      embeddings(spark, dir).repartition(spark.sparkContext.defaultParallelism),
      0.4).orderBy("va", "vb")
  }

  /** Generic form over any (vec_id, embedding ARRAY<FLOAT>) corpus. */
  def embedCosineOn(vectors: DataFrame, threshold: Double): DataFrame = {
    val e = vectors
      .select(col("vec_id"), col("embedding"),
        Similarity.bucket("embedding").as("bucket"),
        Similarity.norm("embedding").as("nrm"))
      .localCheckpoint() // bucket+norm computed once, reused by both join sides
    val pairs = e.as("x").join(e.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"),
        (Similarity.dot("x.embedding", "y.embedding")
          / (col("x.nrm") * col("y.nrm"))).as("cos"))
    pairs.filter(col("cos") >= lit(threshold))
      .select(col("va"), col("vb"), r4(col("cos")).as("cos_sim"))
  }

  /** URL-canonicalization dedup — web-crawl corpora dedup on the
    * CANONICAL URL before touching content: protocol upgraded, host
    * lowercased, www. stripped, query string / fragment / trailing slash
    * dropped. The corpus has no URL column, so each doc gets a synthetic
    * one (deterministic casing / tracking-param / fragment noise keyed on
    * doc_id — same expression on both engines) and the canonicalizer must
    * collapse exactly the noise. One hash-groupBy on the canonical key —
    * the same single-shuffle shape as dd_exact; the regex chain is a pure
    * map stage. */
  def urlCanon(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      // fan out off the one-partition scan before the regex chain
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("url", concat(
        when(col("doc_id") % 3 === 0, lit("http://")).otherwise(lit("https://")),
        when(col("doc_id") % 4 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".Example.COM/page/"), (col("doc_id") % 50L).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("?utm_source=x&ref=y")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("#top")).otherwise(lit(""))))
      .withColumn("canon",
        regexp_replace(regexp_replace(regexp_replace(
          lower(regexp_replace(col("url"), "[?#].*$", "")),
          "^http://", "https://"), "^https://www\\.", "https://"), "/$", ""))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_forms"),
        min(col("doc_id")).as("keep_id"))
      .orderBy("canon")

  /** SimHash band-join oracle over any (doc_id, sh) shingle CTE body —
    * shared by dd_simhash (word shingles) and mm_phash_dedup (payload
    * frame hashes), mirroring the shared simhashOn on the Spark side. */
  private[operators] def simhashOracleSql(shCte: String, maxHamming: Int): String =
    s"""WITH sh AS ($shCte),
       |bits AS (
       |  SELECT doc_id, j,
       |    CASE WHEN SUM(CASE WHEN
       |        ((strpos('0123456789abcdef', substr(md5(sh), CAST(j // 4 AS INT) + 1, 1)) - 1)
       |          >> (3 - (j % 4))) % 2 = 1
       |      THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END AS ch
       |  FROM sh, UNNEST(range(0, 64)) AS t(j) GROUP BY doc_id, j
       |),
       |fp AS (
       |  SELECT doc_id, STRING_AGG(ch, '' ORDER BY j) AS simhash FROM bits GROUP BY doc_id
       |),
       |blocks AS (
       |  SELECT doc_id, simhash, b, substr(simhash, b * 16 + 1, 16) AS block
       |  FROM fp, UNNEST(range(0, 4)) AS t(b)
       |),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, x.simhash AS ha, y.doc_id AS db, y.simhash AS hb
       |  FROM blocks x JOIN blocks y
       |    ON x.b = y.b AND x.block = y.block AND x.doc_id < y.doc_id
       |)
       |SELECT da, db, hamming(ha, hb) AS hamming
       |FROM cand WHERE hamming(ha, hb) <= $maxHamming ORDER BY da, db""".stripMargin

  /** Chunk-level exact-substring dedup fraction (the RefinedWeb /
    * exact-substring pass at span granularity): cut each doc into
    * consecutive 10-word spans, md5 each span, count corpus-wide span
    * occurrences, and report per doc how many of its spans occur anywhere
    * else (including repeated within the doc itself). Docs shorter than
    * one span are dropped — no spans, nothing to judge.
    *
    * Scale: spans per doc are O(len/10), so the exploded table is ~1/10th
    * the corpus token count; one shuffle on the span hash for the df
    * count, a co-partitioned join back (same key), one groupBy(doc).
    * Hot spans (boilerplate) are exactly the skewed keys — AQE skew-split
    * applies; the df table is corpus-sized so it is NEVER broadcast. */
  def spanDedupOn(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanWords: Int = 10): DataFrame = {
    val spans = wordWindows(docs, Seq(col(idCol).as("doc_id")), spanWords,
        s"md5(${windowSlice(spanWords)})", "h", words(textCol), stride = spanWords)
      // referenced by both the df aggregate and the join probe side —
      // materialize so the corpus-wide split/slice/md5 explode runs once
      // (the two subtrees differ, so ReuseExchange cannot dedupe them)
      .localCheckpoint()
    val df = spans.groupBy("h").agg(count(lit(1)).as("df"))
    spans.join(df, Seq("h"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_x10000", expr("n_dup_spans * 10000 div n_spans"))
      .orderBy("doc_id")
  }

  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** MAXIMAL duplicated-span extraction — the deployment output of
    * exact-substring dedup (the byte ranges a curation pipeline actually
    * cuts, per the dedup-training-data line of work): on the same 10-word
    * span grid as dd_span, flag spans whose corpus-wide df >= 2, then merge
    * RUNS of consecutive flagged spans per doc into one (start_word,
    * n_words) row via gaps-and-islands (island id = g - row_number, exact
    * integers, g unique per doc so the ordering is total).
    *
    * Scale: identical traffic to dd_span (one shuffle on the span hash for
    * df, a co-partitioned join back) plus one shuffle on doc_id for the
    * island window — the window partition is a single doc's flagged spans,
    * bounded by doc length. Hot boilerplate spans are the skewed keys;
    * AQE skew-split applies to the df join, never a broadcast of the
    * corpus-sized df table. */
  def spanExtractOn(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = wordWindows(docs, Seq(col(idCol).as("doc_id")), spanWords,
        s"struct(cast(i div $spanWords as bigint) as g, md5(${windowSlice(spanWords)}) as h)",
        "s", words(textCol), stride = spanWords)
      .select(col("doc_id"), col("s.g").as("g"), col("s.h").as("h"))
      .localCheckpoint() // consumers: df aggregate + join probe side
    val df = spans.groupBy("h").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id").orderBy(col("g").asc)
    spans.join(df, Seq("h"))
      .filter(col("df") >= 2)
      .withColumn("island", col("g") - row_number().over(byDoc).cast("long"))
      .groupBy("doc_id", "island")
      .agg(min(col("g")).as("g0"), count(lit(1)).as("n_spans"))
      .select(col("doc_id"), (col("g0") * spanWords).as("start_word"),
        col("n_spans"), (col("n_spans") * spanWords).as("n_words"))
      .orderBy("doc_id", "start_word")
  }

  def spanExtract(spark: SparkSession, dir: String): DataFrame =
    spanExtractOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** WINNOWING fingerprint selection (Schleimer et al., SIGMOD 2003 — the
    * MOSS algorithm): hash every 4-word gram, slide a 4-gram window, keep
    * the window MINIMUM (rightmost on hash ties — the guarantee that makes
    * the fingerprint set position-robust), and dedupe selections. Per doc:
    * window count, selected fingerprints, density x10000 (winnowing's
    * expected density is 2/(w+1)), and how many selected fingerprints also
    * appear in another doc's selection (the match-detection output).
    *
    * Determinism: the gram hash is the first 8 md5 hex chars COMPARED AS A
    * STRING (fixed-width lowercase hex orders exactly like its value — the
    * minhash trick); the rightmost tie-break is string-composed as
    * h8 || lpad(999999 - p, 6) so MIN(key) picks (min hash, max position)
    * with zero integer conversion on either engine.
    *
    * Scale: the gram explode is bounded (one row per word); the two
    * windows (min-over-w, count) share one (doc_id, p) sort; selection
    * shrinks the corpus ~2/(w+1) BEFORE the only cross-doc shuffle (df on
    * the 8-hex hash). Hot boilerplate fingerprints are the skewed df keys
    * — AQE splits them; the df side is corpus-sized, never broadcast. */
  def winnowOn(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramWords: Int = 4, winGrams: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = docs.select(col(idCol).as("doc_id"), words(textCol).as("ws"))
      .filter(size(col("ws")) >= gramWords + winGrams - 1) // one full window of grams
    val grams = wordWindows(full, Seq(col("doc_id")), gramWords,
        s"struct(cast(i as bigint) as p, " +
          s"concat(substring(md5(${windowSlice(gramWords)}), 1, 8), " +
          s"lpad(cast(999999 - i as string), 6, '0')) as key)",
        "g", col("ws"))
      .select(col("doc_id"), col("g.p").as("p"), col("g.key").as("key"))
    val byDoc = Window.partitionBy("doc_id").orderBy(col("p").asc)
    val perDoc = Window.partitionBy("doc_id")
    val sel = grams
      .withColumn("minkey", min(col("key")).over(byDoc.rowsBetween(0, winGrams - 1)))
      .withColumn("ng", count(lit(1)).over(perDoc))
      .filter(col("p") <= col("ng") - winGrams)
      .select(col("doc_id"), col("minkey"), (col("ng") - (winGrams - 1)).as("n_windows"))
      .distinct()
      .withColumn("h", substring(col("minkey"), 1, 8))
      .localCheckpoint() // consumers: df aggregate + per-doc rollup
    val dfh = sel.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("dfd"))
    sel.join(dfh, Seq("h"))
      .groupBy("doc_id", "n_windows")
      .agg(
        count(lit(1)).as("n_fp"),
        sum(when(col("dfd") >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
      .withColumn("density_x10000", expr("n_fp * 10000 div n_windows"))
      .select("doc_id", "n_windows", "n_fp", "density_x10000", "n_shared_fp")
      .orderBy("doc_id")
  }

  def winnow(spark: SparkSession, dir: String): DataFrame =
    winnowOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** N-GRAM NOVELTY (ta_novelty) — the corpus-order novelty curve a
    * data-collection pipeline tracks to decide when a source is mined
    * out: a doc's 3-gram is NOVEL iff no lower-doc_id doc contains it
    * (first-occurrence = min doc_id per gram), novelty = novel/total as
    * a scaled integer. Falling per-doc novelty across a source is the
    * diminishing-returns signal.
    *
    * Scale: one shuffle on the gram key for the min-doc aggregate, a
    * co-partitioned join back on the same key (the dd_span plan), one
    * groupBy(doc). Hot boilerplate grams are the skewed keys — AQE
    * splits; the first-occurrence table is corpus-sized, never
    * broadcast. */
  def noveltyOn(shingleSet: DataFrame): DataFrame = {
    val sh = shingleSet.localCheckpoint() // consumers: first-occ agg + probe
    val first = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("sh"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_x10000", expr("n_novel * 10000 div n_grams"))
      .orderBy("doc_id")
  }

  def novelty(spark: SparkSession, dir: String): DataFrame =
    noveltyOn(shingles(spark, dir))

  /** CONTRASTIVE TRIPLET MINING (ta_pair_mine) — the training-pair
    * generation step of retriever/embedding training (the DPR/Contriever
    * data-prep shape): positives are verified near-dup pairs (minhash
    * >= 9/12 signature agreement — the exact INTEGER threshold), and each
    * pair gets a deterministic random negative drawn md5-uniformly from
    * the corpus EXCLUDING the anchor and positive (two-exclusion rank
    * shift — k in [1, n-2] maps bijectively onto ranks skipping both, so
    * the negative can never degenerate into a member of the pair).
    *
    * Scale: global doc ranks come from the mm_shard_pack/seq_pack
    * two-phase prefix sum (per-range counts prefix-summed on the tiny
    * range table, offsets broadcast, within-range window BY RANGE) —
    * never a global ORDER BY window; the corpus count is a one-row
    * aggregate cross-joined (the gr_triangles sanctioned shape); the
    * negative lookup is one join on the rank key. */
  def pairMine(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint() // shingles + rank build
    val sized = docs.select(col("doc_id")).withColumn("rng", expr("doc_id div 100"))
    val rt = sized.groupBy("rng").agg(count(lit(1)).as("cnt"))
    val wR = Window.orderBy("rng")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ro = rt.withColumn("off", sum(col("cnt")).over(wR) - col("cnt"))
      .select("rng", "off")
    val wIn = Window.partitionBy("rng").orderBy("doc_id")
    val ranks = sized.join(broadcast(ro), Seq("rng"))
      .withColumn("rank", (col("off") + row_number().over(wIn)).cast("long"))
      .select("doc_id", "rank")
      .localCheckpoint() // consumers: anchor rank, pos rank, neg lookup
    val nTot = ranks.agg(count(lit(1)).as("n"))
    val sig = minhashSignatures(shinglesOn(docs))
    val matches = (0 until 12).map(h =>
      when(col(s"x.mh$h") === col(s"y.mh$h"), 1).otherwise(0)).reduce(_ + _)
    val pos = bandCandidates(sig)
      .join(sig.as("x"), col("da") === col("x.doc_id"))
      .join(sig.as("y"), col("db") === col("y.doc_id"))
      .withColumn("sig_agree", matches.cast("long"))
      .filter(col("sig_agree") >= 9L)
      .select("da", "db", "sig_agree")
    pos
      .join(ranks.select(col("doc_id").as("da"), col("rank").as("ra")), Seq("da"))
      .join(ranks.select(col("doc_id").as("db"), col("rank").as("rb")), Seq("db"))
      .crossJoin(broadcast(nTot))
      .withColumn("h", expr(
        md5Int("concat('pm:', CAST(da AS STRING), ':', CAST(db AS STRING))", 6)))
      .withColumn("k", expr("h % (n - 2) + 1"))
      .withColumn("k2", expr("k + (CASE WHEN k >= least(ra, rb) THEN 1 ELSE 0 END)"))
      .withColumn("nrank", expr("k2 + (CASE WHEN k2 >= greatest(ra, rb) THEN 1 ELSE 0 END)"))
      .join(ranks.select(col("rank").as("nrank"), col("doc_id").as("neg_id")), Seq("nrank"))
      .select(col("da").as("anchor"), col("db").as("pos_id"),
        col("neg_id"), col("sig_agree"))
      .orderBy("anchor", "pos_id")
  }

  /** END-TO-END DEDUP FUNNEL (pipe_dedup) — the dedup half of the pipeline
    * story next to pipe_curation's quality half: the stage order every
    * production corpus dedup runs, cheapest-first so each tier shrinks the
    * input of the next.
    *
    *   1 input            -> corpus size baseline
    *   2 norm_exact       -> normalized content hash, keep min doc_id
    *   3 minhash_neardup  -> LSH band candidates, verified at >= 9/12
    *                         signature agreement (exact INTEGER threshold,
    *                         est_sim 0.75 — no float compare), greedy drop
    *                         of the higher doc_id per verified pair (full
    *                         transitive clustering is dd_cluster's job)
    *   4 span_clean       -> drop docs with >= 50% corpus-duplicated
    *                         10-word spans (the substring tier)
    *
    * Per stage: surviving docs + tokens. Scale: stage 2 is one hash
    * shuffle; stage 3 the inverted-index band plan (bounded per-doc
    * signature rows, triangular candidates); stage 4 the dd_span plan over
    * the ALREADY-SHRUNK corpus — the funnel order is the cost model. */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame =
    dedupFunnelOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** Same funnel over any (doc_id, text) frame — Round10Spec drives every
    * stage with planted duplicates (the driver corpus has no exact dups
    * and its span-dup docs coincide with the minhash near-dups, so stages
    * 2 and 4 are legitimate no-ops there). */
  def dedupFunnelOn(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .localCheckpoint() // stage stat + stage-2 window
    val keep2 = docs
      .withColumn("norm_hash", md5(trim(regexp_replace(lower(col("text")), " +", " "))))
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("norm_hash")))
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "text", "toks")
      .localCheckpoint() // shingles + stage stat + stage-3 anti-join
    val sig = minhashSignatures(shinglesOn(keep2))
    val matches = (0 until 12).map(h =>
      when(col(s"x.mh$h") === col(s"y.mh$h"), 1).otherwise(0)).reduce(_ + _)
    val dropped = bandCandidates(sig)
      .join(sig.as("x"), col("da") === col("x.doc_id"))
      .join(sig.as("y"), col("db") === col("y.doc_id"))
      .filter(matches >= 9)
      .select(col("db").as("doc_id")).distinct()
    val s3 = keep2.join(dropped, Seq("doc_id"), "left_anti")
      .localCheckpoint() // span grid + stage stat + stage-4 join
    val s4 = s3
      .join(spanDedupOn(s3).select("doc_id", "dup_x10000"), Seq("doc_id"), "left")
      .filter(coalesce(col("dup_x10000"), lit(0L)) < 5000L)
    def stat(df: DataFrame, id: Long, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    Seq(stat(docs, 1L, "input"), stat(keep2, 2L, "norm_exact"),
      stat(s3, 3L, "minhash_neardup"), stat(s4, 4L, "span_clean"))
      .reduce(_ unionByName _)
      .orderBy("stage_id")
  }

  /** Benchmark decontamination — the train/test-overlap pass every LLM
    * training pipeline runs before shipping data: flag corpus docs that
    * share any 8-word sequence with a held-out benchmark set (here the
    * deterministic doc_id % 7 == 0 slice stands in for the benchmark).
    * Reports per contaminated doc how many of its distinct 8-grams hit
    * the benchmark index.
    *
    * The plan is the ASYMMETRIC inverted-index shape, different from the
    * pairwise dd_ngram_jaccard: benchmarks are small and bounded, so
    * their distinct-gram index BROADCASTS (a benchmark set stays ~10^6
    * grams no matter how big the corpus gets) and the corpus streams
    * through map-side — no shuffle of corpus grams at all; only the
    * per-doc hit aggregation shuffles, and only for docs with >= 1 hit. */
  def contaminationOn(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", benchMod: Int = 7, n: Int = 8,
      benchMaxId: Long = 100000L): DataFrame = {
    val grams = gramHashes(docs, n, idCol, textCol)
    // the synthetic benchmark is the % benchMod slice CAPPED at a fixed id
    // ceiling: a real benchmark is a fixed artifact that does not grow with
    // the corpus, and only a genuinely bounded index may carry an
    // unconditional broadcast (an uncapped 1/7 corpus slice would outgrow
    // executor memory at scale — the round-1 verdict's O(corpus) broadcast
    // class)
    val isBench = col("doc_id") % benchMod === 0 && col("doc_id") < benchMaxId
    val benchIndex = grams.filter(isBench).select("sh").distinct()
    grams.filter(!isBench)
      .join(broadcast(benchIndex), Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_grams"))
      .orderBy("doc_id")
  }

  def contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** LSH calibration report — the evaluation a pipeline runs BEFORE
    * trusting minhash bands at scale: for every pair that shares at least
    * one shingle, bucket the TRUE n-gram jaccard and report what fraction
    * of each bucket the 6x2 band index detected (the empirical s-curve;
    * detection should be ~0 for background similarity and ~1 for real
    * near-dups — a drifting middle bucket says re-tune bands/rows).
    *
    * Reuses the two production cores verbatim on ONE shared shingle scan
    * (localCheckpoint): the truth side is the dd_ngram_jaccard inverted
    * index, the detected side the dd_minhash band join. The report join
    * is on the (da, db) pair key both cores already emit. */
  def lshTune(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir).localCheckpoint()
    val truth = ngramJaccardOn(sh, 0.0, materialized = true)
      .select(col("da"), col("db"), floor(col("jaccard") * 100).cast("long").as("pct"))
    // detection only needs the band-candidate pair SET — skip minhashOn's
    // signature-agreement scoring joins whose est_sim we would discard
    val detected = bandCandidates(minhashSignatures(sh))
      .select(col("da"), col("db"), lit(1L).as("hit"))
    truth.join(detected, Seq("da", "db"), "left_outer")
      .withColumn("bucket",
        when(col("pct") === 0L, "0_under_1pct")
          .when(col("pct") < 2L, "1_under_2pct")
          .when(col("pct") < 5L, "2_under_5pct")
          .when(col("pct") < 10L, "3_under_10pct")
          .when(col("pct") < 50L, "4_under_50pct")
          .otherwise("5_near_dup"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_detected"))
      .withColumn("det_rate", r4(col("n_detected").cast("double") / col("n_pairs")))
      .orderBy("bucket")
  }

  /** CONTAINMENT SCORING (dd_containment) — the ASYMMETRIC similarity
    * Jaccard structurally misses: C(A,B) = |A∩B| / min(|A|,|B|) is ~100
    * when a short document's shingles live inside a long one (quotation,
    * template wrapping, embedded copies) even while Jaccard stays low
    * because the union is dominated by the longer doc. Broder's
    * containment measure, the standard companion to resemblance. Both
    * scores are published as exact scaled integers per pair; output is
    * the top-25 by containment (this corpus has no planted asymmetric
    * pairs — Round14Spec plants one and pins cont=100 / low jaccard).
    *
    * Scale: the identical inverted-index pair plan as dd_ngram_jaccard
    * (shingle-key shuffle, a<b triangularization, per-doc count join) —
    * nothing new shuffles; the top-25 is a TakeOrdered. */
  def containmentOn(shingleSet: DataFrame, topK: Int = 25): DataFrame = {
    val sh = shingleSet.localCheckpoint() // two join sides + counts
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("doc_id", "da").withColumnRenamed("n_sh", "na"), "da")
      .join(counts.withColumnRenamed("doc_id", "db").withColumnRenamed("n_sh", "nb"), "db")
      .withColumn("cont_x100", expr("n_inter * 100 div least(na, nb)"))
      .withColumn("jac_x100", expr("n_inter * 100 div (na + nb - n_inter)"))
      .select("da", "db", "na", "nb", "n_inter", "cont_x100", "jac_x100")
      .orderBy(col("cont_x100").desc, col("da"), col("db"))
      .limit(topK)
  }

  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentOn(shingles(spark, dir))

  /** DUPLICATION PROFILE (dd_profile) — the report every dedup run
    * prints before anyone trusts it: duplicate-cluster sizes bucketed
    * ({1, 2, 3-4, 5-8, 9+}), with cluster counts, document mass, and
    * the corpus share each bucket holds (scaled integer). The cluster
    * key is the lowered 40-char HEAD — the boilerplate-template
    * detector (web scrapes share page headers long before they share
    * whole bodies; this corpus has shared heads at every SF while
    * full-text md5 is almost entirely unique). The "1" bucket is the
    * unique mass; the rest sizes the near-dup work ahead — the go/no-go
    * gauge for scheduling the heavier dedup tiers.
    *
    * Scale: one map-side-combinable groupBy on the head key; the
    * bucket rollup and the share window run on a <= 5-row frame. */
  def dupProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents(spark, dir)
      .groupBy(substring(lower(col("text")), 1, 40).as("head"))
      .agg(count(lit(1)).as("group_size"))
      .withColumn("bucket",
        when(col("group_size") === 1L, "1_unique")
          .when(col("group_size") === 2L, "2_pair")
          .when(col("group_size") <= 4L, "3_small")
          .when(col("group_size") <= 8L, "4_medium")
          .otherwise("5_large"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_clusters"), sum(col("group_size")).as("n_docs"))
      .withColumn("total", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("share_x10000", expr("n_docs * 10000 div total"))
      .drop("total")
      .orderBy("bucket")
  }

  /** SUFFIX-ADJACENCY SUBSTRING DEDUP (dd_substring) — the exact
    * cross-document repeated-substring detector (the suffix-array pass of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): every suffix of a STRIDED
    * SAMPLE of 64-char document windows (offsets 1, 1+stride, ... —
    * SubstringMaxWindows of them, so mid-document duplicates are seen,
    * not just the head; suffix positions stay GLOBAL so cut ranges are
    * character-precise) is sorted globally; any cross-document pair
    * sharing a >= 16-char substring inside sampled windows is witnessed
    * by two SORT-ADJACENT suffixes from different docs (for any
    * cross-doc pair (i, j) in suffix order, some adjacent cross-doc pair
    * between them has LCP >= LCP(i, j)), so adjacent-lag comparison
    * finds every duplicated substring without ever generating the
    * quadratic pair set. A duplicate straddling a window boundary is
    * honestly outside the sample — coverage is slice/stride of each doc,
    * the knob a deployment turns (stride = slice is Lee et al.'s full
    * pass; suffix count stays O(windows x slice) per doc either way).
    *
    * The LCP of adjacent suffixes is computed by a 7-step doubling probe
    * (64/32/16/8/4/2/1) — flat chained CASE arithmetic, whole-stage codegen,
    * never a per-char HOF loop (SURVEY §6: interpreted HOFs on the hot
    * path are 25x slower). Equal-when-truncated steps can overshoot only
    * when both remainders are exhausted and identical, so the final clamp
    * to min(suffix lengths) restores exactness.
    *
    * Scale: the global suffix sort is re-expressed as a shuffle on the
    * 16-char suffix prefix (adjacent pairs with LCP >= 16 NEVER straddle
    * a prefix16 boundary, so per-group windows lose no qualifying pair) —
    * the same bounded-bucket shape as every other near-dup operator here;
    * hot prefixes are AQE-skew-split. Suffix fan-out is bounded at
    * 49 x SubstringMaxWindows rows per doc by construction. */
  /** Window stride / count of the sampled suffix pass: 64-char windows at
    * offsets 1, 161, 321, 481 — mid-document duplicates are sampled (the
    * head-only slice missed a duplicated paragraph at position 200), the
    * per-doc suffix count stays bounded at windows x 49, and windows are
    * DISJOINT (stride > slice), so no suffix is generated twice. Mirrored
    * in the oracle CTE; Round17Spec plants a mid-document duplicate. */
  val SubstringStride = 160
  val SubstringMaxWindows = 4

  /** Oracle twin of [[substringWitnessOn]] — the shared CTE chain (ends
    * in `wit`: doc_id, sp, suf, pdoc, psp, lcp with lcp >= 16; sp is the
    * GLOBAL character position, off + local - 1). */
  private val substringWitnessSql: String =
    s"""t0 AS (SELECT doc_id, lower(text) AS lt FROM documents),
      |tw AS (SELECT doc_id,
      |  UNNEST(range(1, GREATEST(len(lt), 1) + 1, $SubstringStride)) AS off, lt FROM t0),
      |t AS (SELECT doc_id, off, substr(lt, CAST(off AS INT), 64) AS t64 FROM tw
      |  WHERE off <= 1 + ${(SubstringMaxWindows - 1) * SubstringStride}
      |    AND len(substr(lt, CAST(off AS INT), 64)) >= 16),
      |s0 AS (SELECT doc_id, off, UNNEST(range(1, len(t64) - 14)) AS lsp, t64 FROM t),
      |s AS (SELECT doc_id, off + lsp - 1 AS sp, substr(t64, CAST(lsp AS INT)) AS suf FROM s0),
      |p AS (SELECT doc_id, sp, suf, substr(suf, 1, 16) AS p16 FROM s),
      |a AS (SELECT doc_id, sp, suf,
      |  LAG(suf) OVER (PARTITION BY p16 ORDER BY suf, doc_id, sp) AS psuf,
      |  LAG(doc_id) OVER (PARTITION BY p16 ORDER BY suf, doc_id, sp) AS pdoc,
      |  LAG(sp) OVER (PARTITION BY p16 ORDER BY suf, doc_id, sp) AS psp
      |  FROM p),
      |f AS (SELECT doc_id, sp, suf, psuf, pdoc, psp FROM a
      |  WHERE psuf IS NOT NULL AND pdoc <> doc_id),
      |l64 AS (SELECT doc_id, sp, suf, psuf, pdoc, psp,
      |  (CASE WHEN substr(suf, 1, 64) = substr(psuf, 1, 64) THEN 64 ELSE 0 END) AS o FROM f),
      |l32 AS (SELECT doc_id, sp, suf, psuf, pdoc, psp,
      |  o + (CASE WHEN substr(suf, CAST(o + 1 AS INT), 32) = substr(psuf, CAST(o + 1 AS INT), 32) THEN 32 ELSE 0 END) AS o FROM l64),
      |l16 AS (SELECT doc_id, sp, suf, psuf, pdoc, psp,
      |  o + (CASE WHEN substr(suf, CAST(o + 1 AS INT), 16) = substr(psuf, CAST(o + 1 AS INT), 16) THEN 16 ELSE 0 END) AS o FROM l32),
      |l8 AS (SELECT doc_id, sp, suf, psuf, pdoc, psp,
      |  o + (CASE WHEN substr(suf, CAST(o + 1 AS INT), 8) = substr(psuf, CAST(o + 1 AS INT), 8) THEN 8 ELSE 0 END) AS o FROM l16),
      |l4 AS (SELECT doc_id, sp, suf, psuf, pdoc, psp,
      |  o + (CASE WHEN substr(suf, CAST(o + 1 AS INT), 4) = substr(psuf, CAST(o + 1 AS INT), 4) THEN 4 ELSE 0 END) AS o FROM l8),
      |l2 AS (SELECT doc_id, sp, suf, psuf, pdoc, psp,
      |  o + (CASE WHEN substr(suf, CAST(o + 1 AS INT), 2) = substr(psuf, CAST(o + 1 AS INT), 2) THEN 2 ELSE 0 END) AS o FROM l4),
      |l1 AS (SELECT doc_id, sp, suf, psuf, pdoc, psp,
      |  o + (CASE WHEN substr(suf, CAST(o + 1 AS INT), 1) = substr(psuf, CAST(o + 1 AS INT), 1) THEN 1 ELSE 0 END) AS o FROM l2),
      |wit AS (SELECT doc_id, sp, suf, pdoc, psp,
      |  CAST(LEAST(o, len(suf), len(psuf)) AS BIGINT) AS lcp FROM l1
      |  WHERE CAST(LEAST(o, len(suf), len(psuf)) AS BIGINT) >= 16)""".stripMargin

  /** The adjacent-suffix witness frame both substring operators read:
    * one row per sort-adjacent cross-doc suffix pair with LCP >=
    * `minLcp` — columns (doc_id, sp, suf, pdoc, psp, psuf, lcp). */
  private def substringWitnessOn(docs: DataFrame, minLcp: Int, slice: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lastOff = 1L + (SubstringMaxWindows - 1).toLong * SubstringStride
    val sufs = docs
      .select(col("doc_id"), lower(col("text")).as("lt"))
      .select(col("doc_id"),
        explode(expr(
          s"sequence(1L, greatest(cast(length(lt) as bigint), 1L), ${SubstringStride}L)")).as("off"),
        col("lt"))
      .filter(col("off") <= lastOff)
      .select(col("doc_id"), col("off"),
        expr(s"substring(lt, cast(off as int), $slice)").as("t64"))
      .filter(length(col("t64")) >= minLcp)
      .select(col("doc_id"), col("off"),
        explode(expr(s"sequence(1L, cast(length(t64) as bigint) - ${minLcp - 1}L)")).as("lsp"),
        col("t64"))
      .select(col("doc_id"), (col("off") + col("lsp") - lit(1L)).as("sp"),
        expr("substring(t64, cast(lsp as int))").as("suf"))
      .withColumn("p16", substring(col("suf"), 1, minLcp))
    val w = Window.partitionBy("p16").orderBy(col("suf"), col("doc_id"), col("sp"))
    val adj = sufs
      .withColumn("psuf", lag(col("suf"), 1).over(w))
      .withColumn("pdoc", lag(col("doc_id"), 1).over(w))
      .withColumn("psp", lag(col("sp"), 1).over(w))
      .filter(col("psuf").isNotNull && col("pdoc") =!= col("doc_id"))
    Seq(64, 32, 16, 8, 4, 2, 1).foldLeft(adj.withColumn("o", lit(0L))) {
      (d, k) =>
        d.withColumn("o", expr(
          s"o + (case when substring(suf, cast(o + 1 as int), $k) = " +
            s"substring(psuf, cast(o + 1 as int), $k) then ${k}L else 0L end)"))
    }
      .withColumn("lcp", least(col("o"), length(col("suf")).cast("long"),
        length(col("psuf")).cast("long")))
      .filter(col("lcp") >= minLcp.toLong)
  }

  /** The witness list as a MODEL ARTIFACT (the LPA-chain pattern): the
    * suffix pass is the expensive half of both substring operators and
    * its output — the adjacent-suffix witnesses — IS the delete list
    * Lee et al.'s pipeline materializes, so the first consumer persists
    * it fingerprint-keyed on documents.parquet and the other deploys it.
    * Parity + invalidation pinned in Round18Spec. */
  private def substringWitnessFor(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "sp", "suf", "pdoc", "psp", "lcp")
    // witnesses are O(docs x windows) — never one write task
    ModelStore.frame(spark, ModelStore.Source(dir, "documents.parquet", "sdw1"),
        ModelStore.Table("sdwit", cols, singleFile = false), warm = _.localCheckpoint()) {
      substringWitnessOn(documents(spark, dir)
          .repartition(spark.sparkContext.defaultParallelism), 16, 64)
        .select(cols.map(col): _*)
        .localCheckpoint() // consumer reads it twice (marks + report)
    }
  }

  private def substringDedupOnWitness(wit: DataFrame, topK: Int): DataFrame =
    wit
      .select(col("lcp"),
        expr("substring(suf, 1, cast(lcp as int))").as("sub"),
        least(col("doc_id"), col("pdoc")).as("doc_a"),
        greatest(col("doc_id"), col("pdoc")).as("doc_b"))
      .distinct()
      .orderBy(col("lcp").desc, col("sub"), col("doc_a"), col("doc_b"))
      .limit(topK)

  def substringDedupOn(docs: DataFrame, minLcp: Int = 16, slice: Int = 64,
      topK: Int = 25): DataFrame =
    substringDedupOnWitness(substringWitnessOn(docs, minLcp, slice), topK)

  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupOnWitness(substringWitnessFor(spark, dir), 25)

  /** SUBSTRING REMOVAL RANGES (dd_substring_cut) — the actionable output
    * of the suffix pass: character-precise cut ranges per document (the
    * ranges Lee et al.'s dedup actually deletes). Each witness marks the
    * HIGHER doc_id's occurrence [sp, sp+lcp-1] for removal
    * (keep-first-occurrence, the dd_exact keep-min convention); a doc's
    * marks then merge into maximal disjoint ranges with the islands
    * idiom: ordered by start, a range opens a new island iff its start
    * exceeds the running max end + 1 (overlap AND adjacency merge).
    * Output: one row per merged range with its length — the total
    * cut_len is the dedup's reclaimable character mass.
    *
    * Scale: the witness frame is dd_substring's bucket-shuffle plan; the
    * merge is one window per doc over that doc's O(slice) marks. */
  def substringCutOn(docs: DataFrame, minLcp: Int = 16, slice: Int = 64): DataFrame =
    substringCutOnWitness(substringWitnessOn(docs, minLcp, slice))

  private def substringCutOnWitness(wit: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val marks = wit
      .select(
        when(col("doc_id") > col("pdoc"), col("doc_id")).otherwise(col("pdoc")).as("doc_id"),
        when(col("doc_id") > col("pdoc"), col("sp")).otherwise(col("psp")).as("cs"),
        (when(col("doc_id") > col("pdoc"), col("sp")).otherwise(col("psp"))
          + col("lcp") - 1L).as("ce"))
      .distinct()
    val wOrd = Window.partitionBy("doc_id").orderBy(col("cs"), col("ce"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    marks
      .withColumn("runmax", max(col("ce")).over(wRun))
      .withColumn("fresh",
        when(col("runmax").isNull || col("cs") > col("runmax") + 1L, 1L).otherwise(0L))
      .withColumn("island", sum(col("fresh")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min(col("cs")).as("cut_start"), max(col("ce")).as("cut_end"))
      .withColumn("cut_len", col("cut_end") - col("cut_start") + 1L)
      .select("doc_id", "cut_start", "cut_end", "cut_len")
      .orderBy("doc_id", "cut_start")
  }

  def substringCut(spark: SparkSession, dir: String): DataFrame =
    substringCutOnWitness(substringWitnessFor(spark, dir))

  /** ENTITY RESOLUTION (dd_entity) — the classic record-linkage plan
    * (blocking + pairwise edit-distance verify) over document title
    * mentions (first 4 words, lowered): candidate pairs are generated
    * ONLY inside a blocking key (the first 2 words), verified with
    * Levenshtein distance, and thresholded. Both engines implement the
    * textbook unit-cost Wagner-Fischer distance, so the scores are exact
    * integers — no float discipline needed.
    *
    * Scale: the block key is the shuffle key (never a corpus self-join);
    * each block is capped at a deterministic first-`blockCap` members by
    * doc_id BEFORE pair generation (the gr_common_neighbors hub-cap
    * pattern, mirrored in the oracle), so pair fan-out is bounded at
    * cap^2/2 per block regardless of skew; hot blocks AQE-split. The
    * top-50 is a TakeOrdered, never a full sort. */
  def entityOn(docs: DataFrame, maxDist: Long = 6, blockCap: Int = 64,
      topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 4)
      .select(col("doc_id"),
        expr("concat_ws(' ', slice(ws, 1, 4))").as("mention"),
        expr("concat_ws(' ', slice(ws, 1, 2))").as("blk"))
    val capped = m
      .withColumn("rn", row_number().over(Window.partitionBy("blk").orderBy("doc_id")))
      .filter(col("rn") <= blockCap)
      .drop("rn")
    capped.as("a").join(capped.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.mention"), col("b.mention")).cast("long").as("dist"),
        col("a.mention").as("mention_a"), col("b.mention").as("mention_b"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("dist"), col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  def entity(spark: SparkSession, dir: String): DataFrame =
    entityOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** Rolling window / boundary mask of dd_cdc: a position ends a chunk
    * when the md5 of its trailing CdcWindow chars starts with CdcMask —
    * two hex nibbles, so the expected chunk is 256 chars. */
  val CdcWindow = 8
  val CdcMask = "00"

  /** CONTENT-DEFINED CHUNKING DEDUP (dd_cdc) — the storage-dedup
    * primitive (Rabin/FastCDC family): chunk boundaries are decided by
    * the CONTENT's rolling fingerprint, not fixed offsets, so an
    * insertion early in a document shifts only the chunk it lands in —
    * every downstream chunk re-aligns and still dedupes (the property
    * fixed-size chunking fundamentally lacks, and why every backup /
    * artifact store ships CDC). The fingerprint here is the house md5
    * over the trailing CdcWindow chars (a gear/Rabin hash would be the
    * production rolling variant; md5 keeps both engines bit-identical —
    * the boundary DISTRIBUTION is what the operator exercises). A
    * boundary closes the chunk at p; the document end is a forced
    * sentinel boundary. Chunks dedupe corpus-wide by md5; output is the
    * duplication histogram with reclaimable bytes — the dedup-ratio
    * report a storage layer publishes.
    *
    * Scale: the position scan is per-doc flat arithmetic (boundary
    * positions computed inside one transform/filter per document — rows
    * never explode to the character grain); chunks are O(chars/256);
    * the rollups are map-side-combinable on the chunk hash. */
  def cdcOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
      .filter(col("n") >= CdcWindow)
      .localCheckpoint() // consumers: boundary scan + chunk-text lookup
    val bounds = d.select(col("doc_id"),
        explode(expr(
          s"filter(transform(sequence(CAST($CdcWindow AS BIGINT), n), " +
            s"p -> CASE WHEN substring(md5(substring(text, CAST(p - ${CdcWindow - 1} AS INT), $CdcWindow)), 1, ${CdcMask.length}) = '$CdcMask' " +
            s"THEN p ELSE CAST(-1 AS BIGINT) END), x -> x > 0)")).as("b"))
    val allb = bounds
      .unionByName(d.select(col("doc_id"), col("n").as("b")))
      .distinct() // the doc end may itself be a content boundary
    val byDoc = Window.partitionBy("doc_id").orderBy(col("b").asc)
    allb
      .withColumn("prev", lag(col("b"), 1, 0L).over(byDoc))
      .join(d.select("doc_id", "text"), Seq("doc_id"))
      .select(
        md5(expr("substring(text, CAST(prev + 1 AS INT), CAST(b - prev AS INT))")).as("chash"),
        (col("b") - col("prev")).as("clen"))
      .groupBy("chash")
      .agg(count(lit(1)).as("dup_count"), max(col("clen")).as("clen"))
      .groupBy("dup_count")
      .agg(count(lit(1)).as("n_chunks"),
        sum(expr("(dup_count - 1) * clen")).as("reclaim_bytes"))
      .orderBy("dup_count")
  }

  def cdc(spark: SparkSession, dir: String): DataFrame =
    cdcOn(documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_cdc" -> (cdc _),
    "dd_containment" -> (containment _),
    "dd_profile" -> (dupProfile _),
    "dd_substring" -> (substringDedup _),
    "dd_substring_cut" -> (substringCut _),
    "dd_entity" -> (entity _),
    "dd_lsh_tune" -> (lshTune _),
    "dd_contamination" -> (contamination _),
    "dd_span" -> (spanDedup _),
    "dd_span_extract" -> (spanExtract _),
    "dd_winnow" -> (winnow _),
    "pipe_dedup" -> (dedupFunnel _),
    "ta_pair_mine" -> (pairMine _),
    "ta_novelty" -> (novelty _),
    "dd_url_canon" -> (urlCanon _),
    "dd_exact" -> (exact _),
    "dd_saturation" -> (saturation _),
    "dd_dup_ngrams" -> (dupNgrams _),
    "dd_normalized" -> (normalized _),
    "dd_ngram_jaccard" -> (ngramJaccard _),
    "dd_jaccard_capped" -> (ngramJaccardCapped _),
    "ta_src_overlap" -> (srcOverlap _),
    "dd_bloom_screen" -> (bloomScreen _),
    "dd_minhash_inc" -> (minhashInc _),
    "dd_minhash" -> (minhash _),
    "dd_simhash" -> (simhash _),
    "dd_cluster" -> (cluster _),
    "dd_embed_cosine" -> (embedCosine _))

  val oracle: Map[String, String] = Map(
    "dd_cdc" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents
         |  WHERE length(text) >= $CdcWindow
         |), pos AS (
         |  SELECT doc_id, UNNEST(range($CdcWindow, n + 1)) AS p FROM d
         |), bounds AS (
         |  SELECT pos.doc_id, pos.p AS b FROM pos JOIN d USING (doc_id)
         |  WHERE substr(md5(substr(d.text, CAST(pos.p - ${CdcWindow - 1} AS BIGINT), $CdcWindow)),
         |      1, ${CdcMask.length}) = '$CdcMask'
         |), allb AS (
         |  SELECT doc_id, b FROM bounds UNION SELECT doc_id, n AS b FROM d
         |), ch AS (
         |  SELECT doc_id, b,
         |    COALESCE(LAG(b) OVER (PARTITION BY doc_id ORDER BY b), 0) AS prev
         |  FROM allb
         |), hashed AS (
         |  SELECT md5(substr(d.text, ch.prev + 1, ch.b - ch.prev)) AS chash,
         |    ch.b - ch.prev AS clen
         |  FROM ch JOIN d USING (doc_id)
         |), per AS (
         |  SELECT chash, COUNT(*) AS dup_count, MAX(clen) AS clen
         |  FROM hashed GROUP BY 1
         |)
         |SELECT CAST(dup_count AS BIGINT) AS dup_count,
         |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM((dup_count - 1) * clen) AS BIGINT) AS reclaim_bytes
         |FROM per GROUP BY dup_count ORDER BY dup_count""".stripMargin,
    "dd_containment" ->
      s"""WITH sh AS ($shinglesSql),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2
         |)
         |SELECT da, db, ca.n_sh AS na, cb.n_sh AS nb, n_inter,
         |  (n_inter * 100) // LEAST(ca.n_sh, cb.n_sh) AS cont_x100,
         |  (n_inter * 100) // (ca.n_sh + cb.n_sh - n_inter) AS jac_x100
         |FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
         |ORDER BY cont_x100 DESC, da, db LIMIT 25""".stripMargin,
    "dd_profile" ->
      """WITH g AS (
        |  SELECT COUNT(*) AS group_size
        |  FROM documents GROUP BY substring(lower(text), 1, 40)
        |), b AS (
        |  SELECT CASE WHEN group_size = 1 THEN '1_unique'
        |    WHEN group_size = 2 THEN '2_pair'
        |    WHEN group_size <= 4 THEN '3_small'
        |    WHEN group_size <= 8 THEN '4_medium'
        |    ELSE '5_large' END AS bucket, group_size
        |  FROM g
        |), r AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |    CAST(SUM(group_size) AS BIGINT) AS n_docs
        |  FROM b GROUP BY bucket
        |)
        |SELECT bucket, n_clusters, n_docs,
        |  (n_docs * 10000) // CAST(SUM(n_docs) OVER () AS BIGINT) AS share_x10000
        |FROM r ORDER BY bucket""".stripMargin,
    "dd_entity" ->
      """WITH m0 AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |  array_to_string(ws[1:4], ' ') AS mention,
        |  array_to_string(ws[1:2], ' ') AS blk
        |  FROM m0 WHERE len(ws) >= 4),
        |c AS (SELECT doc_id, mention, blk,
        |  ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn FROM m),
        |k AS (SELECT doc_id, mention, blk FROM c WHERE rn <= 64)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.mention, b.mention) AS BIGINT) AS dist,
        |  a.mention AS mention_a, b.mention AS mention_b
        |FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.mention, b.mention) <= 6
        |ORDER BY dist, doc_a, doc_b LIMIT 50""".stripMargin,
    "dd_substring" ->
      s"""WITH $substringWitnessSql
         |SELECT DISTINCT lcp, substr(suf, 1, CAST(lcp AS INT)) AS sub,
         |  LEAST(doc_id, pdoc) AS doc_a, GREATEST(doc_id, pdoc) AS doc_b
         |FROM wit
         |ORDER BY lcp DESC, sub, doc_a, doc_b LIMIT 25""".stripMargin,
    "dd_substring_cut" ->
      s"""WITH $substringWitnessSql,
         |marks AS (
         |  SELECT DISTINCT
         |    CASE WHEN doc_id > pdoc THEN doc_id ELSE pdoc END AS doc_id,
         |    CASE WHEN doc_id > pdoc THEN sp ELSE psp END AS cs,
         |    (CASE WHEN doc_id > pdoc THEN sp ELSE psp END) + lcp - 1 AS ce
         |  FROM wit
         |),
         |run AS (SELECT doc_id, cs, ce,
         |  MAX(ce) OVER (PARTITION BY doc_id ORDER BY cs, ce
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
         |  FROM marks),
         |isl AS (SELECT doc_id, cs, ce,
         |  SUM(CASE WHEN runmax IS NULL OR cs > runmax + 1 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY cs, ce
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM run)
         |SELECT doc_id, MIN(cs) AS cut_start, MAX(ce) AS cut_end,
         |  MAX(ce) - MIN(cs) + 1 AS cut_len
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, cut_start""".stripMargin,
    "dd_lsh_tune" ->
      s"""WITH sh AS ($shinglesSql),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2
         |),
         |truth AS (
         |  SELECT da, db,
         |    CAST(floor(${graft.sources.Tables.r4Sql("CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter)")} * 100) AS BIGINT) AS pct
         |  FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
         |),
         |sig AS (
         |  SELECT doc_id, h,
         |    MIN(substr(md5(CAST(h // 4 AS VARCHAR) || ':' || sh),
         |      CAST((h % 4) * 8 + 1 AS INT), 8)) AS mh
         |  FROM sh, UNNEST(range(0, 12)) AS t(h) GROUP BY doc_id, h
         |),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    md5(MIN(CASE WHEN h % 2 = 0 THEN mh END) || '|' || MIN(CASE WHEN h % 2 = 1 THEN mh END)) AS band_key
         |  FROM sig GROUP BY doc_id, h // 2
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |),
         |j AS (
         |  SELECT truth.pct, CASE WHEN cand.da IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM truth LEFT JOIN cand ON truth.da = cand.da AND truth.db = cand.db
         |)
         |SELECT CASE WHEN pct = 0 THEN '0_under_1pct' WHEN pct < 2 THEN '1_under_2pct'
         |    WHEN pct < 5 THEN '2_under_5pct' WHEN pct < 10 THEN '3_under_10pct'
         |    WHEN pct < 50 THEN '4_under_50pct' ELSE '5_near_dup' END AS bucket,
         |  COUNT(*) AS n_pairs, CAST(SUM(hit) AS BIGINT) AS n_detected,
         |  ${graft.sources.Tables.r4Sql("CAST(SUM(hit) AS DOUBLE) / COUNT(*)")} AS det_rate
         |FROM j GROUP BY 1 ORDER BY bucket""".stripMargin,
    "dd_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS sh
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
        |        FROM d WHERE len(ws) >= 8)
        |), bench AS (
        |  SELECT DISTINCT sh FROM g WHERE doc_id % 7 = 0 AND doc_id < 100000
        |)
        |SELECT g.doc_id, COUNT(*) AS n_hit_grams
        |FROM g JOIN bench USING (sh)
        |WHERE NOT (g.doc_id % 7 = 0 AND g.doc_id < 100000)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "dd_span" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(ws, g * 10 + 1, g * 10 + 10), ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) // 10)) AS g
        |        FROM d WHERE len(ws) >= 10)
        |), f AS (
        |  SELECT h, COUNT(*) AS df FROM s GROUP BY h
        |)
        |SELECT s.doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  CAST((SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 10000) // COUNT(*) AS BIGINT) AS dup_x10000
        |FROM s JOIN f ON s.h = f.h
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "dd_span_extract" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), s AS (
        |  SELECT doc_id, g,
        |    md5(array_to_string(list_slice(ws, g * 10 + 1, g * 10 + 10), ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) // 10)) AS g
        |        FROM d WHERE len(ws) >= 10)
        |), f AS (
        |  SELECT h, COUNT(*) AS df FROM s GROUP BY h
        |), dup AS (
        |  SELECT s.doc_id, s.g FROM s JOIN f ON s.h = f.h WHERE df >= 2
        |), isl AS (
        |  SELECT doc_id, g,
        |    g - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY g) AS island
        |  FROM dup
        |)
        |SELECT doc_id, CAST(MIN(g) * 10 AS BIGINT) AS start_word,
        |  COUNT(*) AS n_spans, CAST(COUNT(*) * 10 AS BIGINT) AS n_words
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_word""".stripMargin,
    "dd_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id, p,
        |    substr(md5(array_to_string(list_slice(ws, p + 1, p + 4), ' ')), 1, 8)
        |      || lpad(CAST(999999 - p AS VARCHAR), 6, '0') AS key
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 3)) AS p
        |        FROM d WHERE len(ws) >= 7)
        |), m AS (
        |  SELECT doc_id, p,
        |    MIN(key) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minkey,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM g
        |), sel AS (
        |  SELECT DISTINCT doc_id, minkey, CAST(ng - 3 AS BIGINT) AS n_windows
        |  FROM m WHERE p <= ng - 4
        |), h2 AS (
        |  SELECT doc_id, minkey, n_windows, substr(minkey, 1, 8) AS h FROM sel
        |), dfh AS (
        |  SELECT h, COUNT(DISTINCT doc_id) AS dfd FROM h2 GROUP BY h
        |)
        |SELECT doc_id, n_windows, COUNT(*) AS n_fp,
        |  CAST((COUNT(*) * 10000) // n_windows AS BIGINT) AS density_x10000,
        |  CAST(SUM(CASE WHEN dfd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp
        |FROM h2 JOIN dfh USING (h)
        |GROUP BY doc_id, n_windows ORDER BY doc_id""".stripMargin,
    "ta_novelty" ->
      s"""WITH sh AS ($shinglesSql),
         |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
         |SELECT sh.doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST((SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) * 10000)
         |    // COUNT(*) AS BIGINT) AS novelty_x10000
         |FROM sh JOIN f USING (sh)
         |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "ta_pair_mine" -> {
      val hexDigit = (k: Int) =>
        s"(strpos('0123456789abcdef', substr(m, $k, 1)) - 1)"
      val horner = (1 to 6).map(hexDigit).reduce((a, b) => s"($a * 16 + $b)")
      s"""WITH sh AS ($shinglesSql),
         |sig AS (
         |  SELECT doc_id, h,
         |    MIN(substr(md5(CAST(h // 4 AS VARCHAR) || ':' || sh),
         |      CAST((h % 4) * 8 + 1 AS INT), 8)) AS mh
         |  FROM sh, UNNEST(range(0, 12)) AS t(h) GROUP BY doc_id, h
         |), bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    md5(MIN(CASE WHEN h % 2 = 0 THEN mh END) || '|'
         |      || MIN(CASE WHEN h % 2 = 1 THEN mh END)) AS band_key
         |  FROM sig GROUP BY doc_id, h // 2
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |), pos AS (
         |  SELECT da, db,
         |    CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS sig_agree
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = da
         |  JOIN sig sb ON sb.doc_id = db AND sb.h = sa.h
         |  GROUP BY da, db
         |  HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= 9
         |), ranks AS (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rank
         |  FROM documents
         |), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
         |), w AS (
         |  SELECT da, db, sig_agree, ra.rank AS ra, rb.rank AS rb, nt.n,
         |    md5('pm:' || CAST(da AS VARCHAR) || ':' || CAST(db AS VARCHAR)) AS m
         |  FROM pos
         |  JOIN ranks ra ON ra.doc_id = da
         |  JOIN ranks rb ON rb.doc_id = db, nt
         |), kk AS (
         |  SELECT *, CAST($horner AS BIGINT) % (n - 2) + 1 AS k FROM w
         |), k2t AS (
         |  SELECT *, k + (CASE WHEN k >= LEAST(ra, rb) THEN 1 ELSE 0 END) AS k2 FROM kk
         |), nr AS (
         |  SELECT *, k2 + (CASE WHEN k2 >= GREATEST(ra, rb) THEN 1 ELSE 0 END) AS nrank
         |  FROM k2t
         |)
         |SELECT da AS anchor, db AS pos_id, r.doc_id AS neg_id, sig_agree
         |FROM nr JOIN ranks r ON r.rank = nr.nrank
         |ORDER BY anchor, pos_id""".stripMargin
    },
    "pipe_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |), k2 AS (
        |  SELECT doc_id, text, toks FROM (
        |    SELECT d.*, MIN(doc_id) OVER (PARTITION BY
        |      md5(trim(regexp_replace(lower(text), ' +', ' ')))) AS keep_id
        |    FROM d) WHERE doc_id = keep_id
        |), sh AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM k2
        |          WHERE len(string_split(text, ' ')) >= 3)
        |  )
        |), sig AS (
        |  SELECT doc_id, h,
        |    MIN(substr(md5(CAST(h // 4 AS VARCHAR) || ':' || sh),
        |      CAST((h % 4) * 8 + 1 AS INT), 8)) AS mh
        |  FROM sh, UNNEST(range(0, 12)) AS t(h) GROUP BY doc_id, h
        |), bands AS (
        |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
        |    md5(MIN(CASE WHEN h % 2 = 0 THEN mh END) || '|'
        |      || MIN(CASE WHEN h % 2 = 1 THEN mh END)) AS band_key
        |  FROM sig GROUP BY doc_id, h // 2
        |), cand AS (
        |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        |), ver AS (
        |  SELECT da, db FROM (
        |    SELECT da, db, SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS m
        |    FROM cand
        |    JOIN sig sa ON sa.doc_id = da
        |    JOIN sig sb ON sb.doc_id = db AND sb.h = sa.h
        |    GROUP BY da, db) WHERE m >= 9
        |), s3 AS (
        |  SELECT * FROM k2 WHERE doc_id NOT IN (SELECT DISTINCT db FROM ver)
        |), sp AS (
        |  SELECT s.doc_id,
        |    CAST((SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) * 10000)
        |      // COUNT(*) AS BIGINT) AS dup_x10000
        |  FROM (
        |    SELECT doc_id,
        |      md5(array_to_string(list_slice(ws, g * 10 + 1, g * 10 + 10), ' ')) AS h
        |    FROM (SELECT doc_id, ws, unnest(range(0, len(ws) // 10)) AS g
        |          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM s3)
        |          WHERE len(ws) >= 10)
        |  ) s JOIN (
        |    SELECT h, COUNT(*) AS df FROM (
        |      SELECT doc_id,
        |        md5(array_to_string(list_slice(ws, g * 10 + 1, g * 10 + 10), ' ')) AS h
        |      FROM (SELECT doc_id, ws, unnest(range(0, len(ws) // 10)) AS g
        |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM s3)
        |            WHERE len(ws) >= 10)
        |    ) GROUP BY h
        |  ) f ON s.h = f.h
        |  GROUP BY s.doc_id
        |), s4 AS (
        |  SELECT s3.* FROM s3 LEFT JOIN sp USING (doc_id)
        |  WHERE COALESCE(dup_x10000, 0) < 5000
        |)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_id, 'input' AS stage,
        |    COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens FROM d
        |  UNION ALL SELECT 2, 'norm_exact', COUNT(*), CAST(SUM(toks) AS BIGINT) FROM k2
        |  UNION ALL SELECT 3, 'minhash_neardup', COUNT(*), CAST(SUM(toks) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, 'span_clean', COUNT(*), CAST(SUM(toks) AS BIGINT) FROM s4
        |) ORDER BY stage_id""".stripMargin,
    "dd_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
        |    || source || '.Example.COM/page/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&ref=y' ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      lower(regexp_replace(url, '[?#].*$', '')),
        |      '^http://', 'https://'), '^https://www\.', 'https://'), '/$', '') AS canon
        |  FROM u
        |)
        |SELECT canon, COUNT(*) AS n_docs, COUNT(DISTINCT url) AS n_forms,
        |  MIN(doc_id) AS keep_id
        |FROM c GROUP BY canon ORDER BY canon""".stripMargin,
    "dd_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dd_normalized" ->
      """SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS norm_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dd_saturation" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS h FROM documents
        |), mx AS (
        |  SELECT MAX(doc_id) AS maxid FROM documents
        |), dc AS (
        |  SELECT CASE WHEN doc_id <= maxid * 25 // 100 THEN 25
        |    WHEN doc_id <= maxid * 50 // 100 THEN 50
        |    WHEN doc_id <= maxid * 75 // 100 THEN 75 ELSE 100 END AS cut_pct
        |  FROM d CROSS JOIN mx
        |), nd AS (
        |  SELECT cut_pct, COUNT(*) AS nd FROM dc GROUP BY cut_pct
        |), fo AS (
        |  SELECT h, MIN(doc_id) AS fd FROM d GROUP BY h
        |), fc AS (
        |  SELECT CASE WHEN fd <= maxid * 25 // 100 THEN 25
        |    WHEN fd <= maxid * 50 // 100 THEN 50
        |    WHEN fd <= maxid * 75 // 100 THEN 75 ELSE 100 END AS cut_pct,
        |    COUNT(*) AS nu
        |  FROM fo CROSS JOIN mx GROUP BY 1
        |), spine AS (
        |  SELECT UNNEST([25, 50, 75, 100]) AS cut_pct
        |), cum AS (
        |  SELECT s.cut_pct,
        |    SUM(COALESCE(nd.nd, 0)) OVER w AS n_docs,
        |    SUM(COALESCE(fc.nu, 0)) OVER w AS n_unique
        |  FROM spine s
        |  LEFT JOIN nd USING (cut_pct) LEFT JOIN fc USING (cut_pct)
        |  WINDOW w AS (ORDER BY s.cut_pct
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT CAST(cut_pct AS BIGINT) AS cut_pct,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_unique AS BIGINT) AS n_unique,
        |  CAST(n_docs - n_unique AS BIGINT) AS n_dup,
        |  CAST(CASE WHEN n_docs > 0
        |    THEN (n_docs - n_unique) * 10000 // n_docs ELSE 0 END AS BIGINT)
        |    AS dup_rate_x10000
        |FROM cum ORDER BY cut_pct""".stripMargin,
    "dd_dup_ngrams" ->
      s"""WITH sh AS MATERIALIZED ($shinglesSql),
         |df AS MATERIALIZED (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
         |pd AS (
         |  SELECT s.doc_id, COUNT(*) AS n_sh,
         |    CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM sh s JOIN df USING (sh) GROUP BY s.doc_id
         |), fr AS (
         |  SELECT doc_id, n_sh, n_dup, n_dup * 10000 // n_sh AS frac_x10000
         |  FROM pd
         |)
         |SELECT CAST(frac_x10000 // 1000 AS BIGINT) AS dup_decile,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_sh) AS BIGINT) AS total_grams,
         |  CAST(SUM(n_dup) AS BIGINT) AS dup_grams
         |FROM fr GROUP BY 1 ORDER BY dup_decile""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH sh AS ($shinglesSql),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT da, db, n_inter,
         |  ${graft.sources.Tables.r4Sql("CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter)")} AS jaccard
         |FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
         |WHERE ${graft.sources.Tables.r4Sql("CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter)")} >= 0.5
         |ORDER BY da, db""".stripMargin,
    "dd_jaccard_capped" ->
      s"""WITH sh0 AS ($shinglesSql),
         |rare AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh0 GROUP BY sh) WHERE df <= 20),
         |sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN rare ON sh0.sh = rare.sh),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT da, db, n_inter,
         |  ${graft.sources.Tables.r4Sql("CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter)")} AS jaccard
         |FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
         |WHERE ${graft.sources.Tables.r4Sql("CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter)")} >= 0.5
         |ORDER BY da, db""".stripMargin,
    "ta_src_overlap" ->
      s"""WITH sh AS ($shinglesSql),
         |sig AS (
         |  SELECT doc_id, h,
         |    MIN(substr(md5(CAST(h // 4 AS VARCHAR) || ':' || sh),
         |      CAST((h % 4) * 8 + 1 AS INT), 8)) AS mh
         |  FROM sh, UNNEST(range(0, 12)) AS t(h) GROUP BY doc_id, h
         |),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    md5(MIN(CASE WHEN h % 2 = 0 THEN mh END) || '|' || MIN(CASE WHEN h % 2 = 1 THEN mh END)) AS band_key
         |  FROM sig GROUP BY doc_id, h // 2
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |),
         |ver AS (
         |  SELECT da, db FROM cand
         |  JOIN sig sa ON sa.doc_id = da
         |  JOIN sig sb ON sb.doc_id = db AND sb.h = sa.h
         |  GROUP BY da, db
         |  HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= 9
         |),
         |sizes AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |cells AS (
         |  SELECT LEAST(xa.source, xb.source) AS source_a,
         |    GREATEST(xa.source, xb.source) AS source_b, COUNT(*) AS n_pairs
         |  FROM ver
         |  JOIN documents xa ON ver.da = xa.doc_id
         |  JOIN documents xb ON ver.db = xb.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT cells.source_a, cells.source_b, cells.n_pairs,
         |  za.n_docs AS n_docs_a, zb.n_docs AS n_docs_b
         |FROM cells
         |JOIN sizes za ON cells.source_a = za.source
         |JOIN sizes zb ON cells.source_b = zb.source
         |ORDER BY source_a, source_b""".stripMargin,
    "dd_bloom_screen" -> {
      val hex = (src: String, k: Int) =>
        s"(strpos('0123456789abcdef', substr($src, $k, 1)) - 1)"
      val fold = (src: String) =>
        s"(((${hex(src, 1)} * 16 + ${hex(src, 2)}) * 16 + ${hex(src, 3)}) * 16 + ${hex(src, 4)})"
      val pos = (j: Int) => s"${fold(s"md5('bf$j:' || h)")} % $BloomScreenBits"
      s"""WITH hashed AS (
         |  SELECT doc_id, source, md5(text) AS h FROM documents
         |), corpus AS (
         |  SELECT DISTINCT h FROM hashed WHERE doc_id % 2 = 0
         |), bits AS (
         |  SELECT DISTINCT pos FROM (
         |    ${(0 until BloomScreenK).map(j => s"SELECT ${pos(j)} AS pos FROM corpus")
                .mkString(" UNION ALL ")}) u
         |), batch AS (
         |  SELECT doc_id, source, h FROM hashed WHERE doc_id % 2 = 1
         |), probed AS (
         |  SELECT doc_id, COUNT(bits.pos) = $BloomScreenK AS bloom_pos FROM (
         |    ${(0 until BloomScreenK).map(j =>
                s"SELECT doc_id, ${pos(j)} AS pos FROM batch").mkString(" UNION ALL ")}) p
         |  LEFT JOIN bits ON p.pos = bits.pos
         |  GROUP BY doc_id
         |), t AS (
         |  SELECT b.source, probed.bloom_pos, corpus.h IS NOT NULL AS is_dup
         |  FROM batch b
         |  JOIN probed ON b.doc_id = probed.doc_id
         |  LEFT JOIN corpus ON b.h = corpus.h
         |)
         |SELECT source, COUNT(*) AS n_batch,
         |  CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pos,
         |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
         |  CAST(SUM(CASE WHEN bloom_pos AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos,
         |  CASE WHEN COUNT(*) - SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) = 0 THEN 0
         |    ELSE CAST((10000 * SUM(CASE WHEN bloom_pos AND NOT is_dup THEN 1 ELSE 0 END))
         |      // (COUNT(*) - SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)) AS BIGINT) END
         |    AS fp_rate_x10000
         |FROM t GROUP BY source ORDER BY source""".stripMargin
    },
    "dd_minhash_inc" ->
      s"""WITH sh AS ($shinglesSql),
         |sig AS (
         |  SELECT doc_id, h,
         |    MIN(substr(md5(CAST(h // 4 AS VARCHAR) || ':' || sh),
         |      CAST((h % 4) * 8 + 1 AS INT), 8)) AS mh
         |  FROM sh, UNNEST(range(0, 12)) AS t(h) GROUP BY doc_id, h
         |),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    md5(MIN(CASE WHEN h % 2 = 0 THEN mh END) || '|' || MIN(CASE WHEN h % 2 = 1 THEN mh END)) AS band_key
         |  FROM sig GROUP BY doc_id, h // 2
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |),
         |ver AS (
         |  SELECT da, db FROM cand
         |  JOIN sig sa ON sa.doc_id = da
         |  JOIN sig sb ON sb.doc_id = db AND sb.h = sa.h
         |  GROUP BY da, db
         |  HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= 9
         |),
         |pr AS (SELECT da AS d, db AS p FROM ver UNION ALL SELECT db, da FROM ver),
         |m AS (
         |  SELECT d, MIN(CASE WHEN p % 2 = 0 THEN p END) AS mc,
         |    MIN(CASE WHEN p % 2 = 1 AND p < d THEN p END) AS mb
         |  FROM pr WHERE d % 2 = 1 GROUP BY d
         |),
         |bd AS (SELECT DISTINCT doc_id FROM sh WHERE doc_id % 2 = 1)
         |SELECT doc_id,
         |  CASE WHEN mc IS NOT NULL THEN 'dup_of_corpus'
         |    WHEN mb IS NOT NULL THEN 'dup_in_batch'
         |    ELSE 'unique' END AS verdict,
         |  COALESCE(mc, mb) AS match_id
         |FROM bd LEFT JOIN m ON bd.doc_id = m.d
         |ORDER BY doc_id""".stripMargin,
    "dd_minhash" ->
      s"""WITH sh AS ($shinglesSql),
         |sig AS (
         |  SELECT doc_id, h,
         |    MIN(substr(md5(CAST(h // 4 AS VARCHAR) || ':' || sh),
         |      CAST((h % 4) * 8 + 1 AS INT), 8)) AS mh
         |  FROM sh, UNNEST(range(0, 12)) AS t(h) GROUP BY doc_id, h
         |),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    md5(MIN(CASE WHEN h % 2 = 0 THEN mh END) || '|' || MIN(CASE WHEN h % 2 = 1 THEN mh END)) AS band_key
         |  FROM sig GROUP BY doc_id, h // 2
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |)
         |SELECT da, db,
         |  ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 12.0, 4) AS est_sim
         |FROM cand
         |JOIN sig sa ON sa.doc_id = da
         |JOIN sig sb ON sb.doc_id = db AND sb.h = sa.h
         |GROUP BY da, db ORDER BY da, db""".stripMargin,
    "dd_simhash" -> simhashOracleSql(shinglesSql, 12),
    "dd_cluster" ->
      // sh is self-joined and e sits inside the recursive term; DuckDB
      // re-evaluates plain CTEs per reference AND per closure iteration,
      // so without MATERIALIZED every reach round replays the whole
      // shingle build + Jaccard join (the 10x step-up timeout cause)
      s"""WITH RECURSIVE sh AS MATERIALIZED ($shinglesSql),
         |cnt AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS MATERIALIZED (
         |  SELECT da, db FROM inter
         |  JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
         |  WHERE ${graft.sources.Tables.r4Sql("CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter)")} >= 0.5
         |),
         |e AS MATERIALIZED (SELECT da AS src, db AS dst FROM pairs UNION ALL SELECT db, da FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS comp FROM documents
         |  UNION
         |  SELECT e.dst AS id, reach.comp FROM reach JOIN e ON reach.id = e.src
         |),
         |c AS (SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
         |s AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM c GROUP BY cluster_id)
         |SELECT c.id AS doc_id, c.cluster_id, s.cluster_size,
         |  c.id = c.cluster_id AS is_canonical
         |FROM c JOIN s USING (cluster_id) ORDER BY doc_id""".stripMargin,
    "dd_embed_cosine" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${Similarity.bucketSql("embedding")} AS bucket,
         |    ${Similarity.normSql("embedding")} AS nrm
         |  FROM embeddings
         |)
         |SELECT x.vec_id AS va, y.vec_id AS vb,
         |  ${graft.sources.Tables.r4Sql(Similarity.dotSql("x.embedding", "y.embedding") + " / (x.nrm * y.nrm)")} AS cos_sim
         |FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${Similarity.dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.4
         |ORDER BY va, vb""".stripMargin)
}
