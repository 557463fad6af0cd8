package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.ModelStore
import graft.sources.Tables._

/** Similarity search over the `embeddings` table (SURVEY.md §2.D).
  *
  * Cross-engine determinism: every dot product is an explicit left-to-right
  * fold of double products (Spark `aggregate`, DuckDB `list_reduce`), so the
  * float->double->sum pipeline is bit-identical on both engines and ranking
  * ties cannot diverge (SURVEY.md §4). All pseudo-randomness (hyperplanes)
  * is md5-derived integer arithmetic.
  *
  * Scale design (SURVEY.md §5): the query side is a bounded set that gets
  * broadcast; the corpus side is never self-joined. Brute force is the
  * exact baseline (one broadcast-nested-loop over the corpus, fully
  * parallel); LSH/IVF bucket the corpus first so a 100 TB corpus shuffles
  * once on the bucket key instead of cross-joining.
  */
object Similarity {

  val Dim = 64
  val HyperplaneBits = 8

  /** Left-fold dot product of two float-array columns, in double. Uses the
    * native codegen expression (graft.functions.VectorDot) — bit-identical
    * to the declarative `aggregate(zip_with(...))` fold it replaces. */
  def dot(a: String, b: String): Column = expr(s"vector_dot($a, $b)")

  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), " +
      "(acc, v) -> acc + v)"

  def norm(v: String): Column = sqrt(dot(v, v))

  def normSql(v: String): String = s"sqrt(${dotSql(v, v)})"

  /** Deterministic "random" hyperplane weight for (plane h, dim i):
    * first two hex digits of md5('h:i') as 0..255, centered to +/-127.5.
    * Computed once at plan-build time (the oracle SQL re-derives the same
    * value from md5 at query time) — exact .5-fraction doubles either way. */
  def weight(h: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$h:$i".getBytes("UTF-8"))
    (d(0) & 0xff).toDouble - 127.5
  }

  private def weightSqlExpr(h: String, i: String): String =
    s"((strpos('0123456789abcdef', substr(md5(CAST($h AS VARCHAR) || ':' || CAST($i AS VARCHAR)), 1, 1)) - 1) * 16 " +
      s"+ strpos('0123456789abcdef', substr(md5(CAST($h AS VARCHAR) || ':' || CAST($i AS VARCHAR)), 2, 1)) - 1 - 127.5)"

  /** 8-char '0'/'1' random-hyperplane sign bucket of a vector column:
    * 8 native codegen `vector_dot(v, <literal weight row>)` projections
    * (bit-identical to the oracle's left-to-right list_reduce fold).
    * Measured r9 vs the interpreted aggregate() HOF: a wash at sf0.1
    * (1.36s vs 1.36s across the three consumers — the projection is not
    * the bottleneck there), kept native because it stays inside
    * whole-stage codegen (8 compiled loops/row vs 8 interpreted 64-step
    * lambda frames/row — what matters at 100x corpus). A fully unrolled
    * 512-term expression remains ~8x slower (r1): expression COMPILATION
    * dominates; vector_dot compiles one loop per plane instead.
    * vector_dot comes from GraftExtensions, installed by GraftSession. */
  def bucket(v: String): Column = {
    val parts = (0 until HyperplaneBits).map { h =>
      val w = (0 until Dim).map(i => s"${weight(h, i)}D").mkString("array(", ", ", ")")
      s"CASE WHEN vector_dot($v, $w) > 0 THEN '1' ELSE '0' END"
    }
    expr(s"concat(${parts.mkString(", ")})")
  }

  def bucketSql(v: String): String =
    s"array_to_string(list_transform(range(0, $HyperplaneBits), h -> " +
      s"CASE WHEN list_reduce(list_transform(range(0, $Dim), i -> " +
      s"$v[i + 1]::DOUBLE * ${weightSqlExpr("h", "i")}), (acc, w) -> acc + w) > 0 " +
      "THEN '1' ELSE '0' END), '')"

  /** IVF-style coarse cell: sign pattern of the first 4 dimensions — a fixed
    * grid quantizer (16 cells); a trained k-means centroid table would slot
    * into the same plan as a broadcast join. */
  private def cellExpr(v: String): String =
    s"concat(CASE WHEN element_at($v, 1) > 0 THEN '1' ELSE '0' END, " +
      s"CASE WHEN element_at($v, 2) > 0 THEN '1' ELSE '0' END, " +
      s"CASE WHEN element_at($v, 3) > 0 THEN '1' ELSE '0' END, " +
      s"CASE WHEN element_at($v, 4) > 0 THEN '1' ELSE '0' END)"

  private def cellSql(v: String): String =
    s"(CASE WHEN $v[1] > 0 THEN '1' ELSE '0' END) || (CASE WHEN $v[2] > 0 THEN '1' ELSE '0' END) " +
      s"|| (CASE WHEN $v[3] > 0 THEN '1' ELSE '0' END) || (CASE WHEN $v[4] > 0 THEN '1' ELSE '0' END)"

  private def corpus(spark: SparkSession, dir: String): DataFrame = {
    embeddings(spark, dir)
      // single-file table => one input partition; fan out before per-row folds
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"), norm("embedding").as("nrm"))
  }

  // ---- The ANN core: every determinism rule of the family lives here once:
  // the exact-integer nearest-centroid rank, the cosine top-k (score,
  // order, qid != cid) and the recall harness (SURVEY.md §2.D).

  /** THE exact-integer nearest-centroid rank: each point (one row per
    * `keys` + dim i, milli-unit coordinate xq) against every (sum cS,
    * count n) centroid of codebook `cb` (broadcast, joined on the non-lead
    * keys + i), at distance p/n² with p = Σ (xq·n − cS)². p and n² are
    * exact BIGINTs, so the one division is the same correctly-rounded
    * double on both engines; ties go to the lower `label`. Keeps the `top`
    * nearest per point (1: the argmin, min(top, k) rows otherwise) as
    * (keys, label, p, n, rn). Serves the Lloyd reassign, the multi-probe
    * probes and the PQ encoders. */
  private def nearestCentroids(dims: DataFrame, cb: DataFrame, keys: Seq[String],
      label: String, top: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(
      (col("p").cast("double") / (col("n") * col("n")).cast("double")).asc,
      col(label).asc)
    dims.join(broadcast(cb), keys.tail :+ "i")
      .withColumn("t", expr("xq * n - cS"))
      .groupBy((keys :+ label).map(col): _*)
      .agg(sum(expr("t * t")).as("p"), max(col("n")).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(if (top == 1) col("rn") === 1 else col("rn") <= top) // the argmin keeps its `=` plan
  }

  /** THE cosine of a pair: VectorDot's left fold of a·b over the product
    * of Spark's norms. Every cosine in this file is this expression. */
  private def cosine(a: String = "qv", b: String = "cv", na: String = "qn",
      nb: String = "cn"): Column =
    dot(a, b) / (col(na) * col(nb))

  /** Every (query, candidate) pair of a scan, never a query with itself:
    * the bounded query side (qid, qv, qn, ...) is broadcast against the
    * corpus side (cid, cv, cn, ...) and equi-joined on column `on` when
    * given (a bucket, cell, label or cluster — partition pruning on a
    * layout clustered by it), else paired with every row. */
  private def annPairs(q: DataFrame, corp: DataFrame, on: Option[String] = None): DataFrame =
    on.fold(corp.join(broadcast(q), col("qid") =!= col("cid")))(k =>
      corp.join(broadcast(q), Seq(k)).filter(col("qid") =!= col("cid")))

  /** THE ranking: the first k rows per qid in (score desc, cid asc) order,
    * numbered from 1 in column `rank` (INT, or BIGINT when `long`). cid is
    * unique within a query, so the order is total on both engines. */
  private def topK(score: String, k: Int, rank: String = "rank", long: Boolean = false)(
      df: DataFrame): DataFrame = {
    val rn = row_number().over(Window.partitionBy("qid").orderBy(col(score).desc, col("cid").asc))
    df.withColumn(rank, if (long) rn.cast("long") else rn).filter(col(rank) <= k)
  }

  /** THE cosine top-k: annPairs scored as `cos`, kept by topK. */
  private def cosineTopK(q: DataFrame, corp: DataFrame, on: Option[String], k: Int,
      rank: String = "rank", long: Boolean = false): DataFrame =
    annPairs(q, corp, on).withColumn("cos", cosine()).transform(topK("cos", k, rank, long))

  /** cosineTopK over (vec_id, embedding, nrm [, on]) frames, published as
    * (qid, rank, cid, cos_sim): exact when `on` is None, else bucketed. */
  private def vecTopK(queries: DataFrame, corpusDf: DataFrame, on: Option[String],
      k: Int): DataFrame = {
    val key = on.toSeq.map(col)
    cosineTopK(
      queries.select(Seq(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn")) ++ key: _*),
      corpusDf.select(Seq(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn")) ++ key: _*),
      on, k)
      .select(col("qid"), col("rank"), col("cid"), r4(col("cos")).as("cos_sim"))
  }

  /** THE recall harness: every exact (qid, cid) left-joined to the
    * approximate result's (qid, cid) pairs and counted per `by` (one row
    * when none) as n_exact and n_hits; `recallOf` is their 4dp ratio. */
  private def hitCounts(exact: DataFrame, approx: DataFrame, by: String*): DataFrame =
    exact.select(col("qid"), col("cid"))
      .join(approx.select(col("qid"), col("cid"), lit(1L).as("hit")), Seq("qid", "cid"), "left_outer")
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))

  private def recallOf: Column = r4(col("n_hits").cast("double") / col("n_exact"))

  /** Exact top-5 cosine neighbors for the bounded query set (vec_id < 10):
    * broadcast the queries, one parallel pass over the corpus, per-query
    * top-k via window (at scale: TakeOrdered per query partition). */
  def bruteforce(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).localCheckpoint() // reused: query + corpus side
    bruteforceOn(c.filter(col("vec_id") < 10), c, 5).orderBy("qid", "rank")
  }

  /** RANGE (radius) search — the other retrieval primitive next to top-k:
    * ALL corpus vectors within a cosine radius of each query (cos >= 0.3;
    * the corpus' exact top-3 cosines run 0.25-0.49, so the radius is live
    * at every SF), no ranking window at all. Result size is data-driven,
    * which is exactly when a top-k can't express the semantics (dedup
    * radii, near-certain-match lookups). The 0.3 boundary compares
    * identically-computed doubles on both engines (the established cos
    * fold) — same accepted float-boundary class as ivfpq's approx_rank,
    * pinned here.
    *
    * Scale: identical plan to the exact baseline (bounded query broadcast,
    * one corpus pass) minus the window — at scale the radius composes with
    * the IVF/LSH bucket tiers exactly like the top-k tiers do. */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).localCheckpoint() // reused: query + corpus side
    val q = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    annPairs(q, c.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn")))
      .withColumn("cos", cosine())
      .filter(col("cos") >= 0.3)
      .select(col("qid"), col("cid"), r4(col("cos")).as("cos_sim"))
      .orderBy("qid", "cid")
  }

  /** Neighbors per node in ann_nndescent's kNN graph. */
  val NnDescentK = 5

  /** Refinement rounds of ann_nndescent. */
  val NnDescentRounds = 3

  /** NN-DESCENT (ann_nndescent) — the distributed kNN-GRAPH build (Dong
    * et al., WWW 2011; the construction step under graph-ANN indexes
    * like HNSW/DiskANN): start from a DETERMINISTIC-random directed
    * K-out graph over the whole corpus (md5-derived neighbor ids — the
    * paper's random init, and at scale the init is a pure per-row
    * computation, NO join), then NnDescentRounds refinement rounds on
    * the paper's core observation — a neighbor of a neighbor is likely
    * a neighbor. Per round: symmetrize the graph (reverse edges carry
    * the signal back — without them convergence stalls, measured),
    * candidates = two-hop pairs u->v->w (u != w) unioned with the
    * current edges, dedup'd, exact-cosine rescored ONCE per distinct
    * pair, top-K per node kept. Because round r's list is the top-K of
    * a SUPERSET of round r-1's list under the true metric, per-node
    * recall is monotone non-decreasing — pinned in Round12Spec and
    * visible in the checked output: the convergence TRACE (round,
    * n_edges, recall of the sample nodes vs the exact top-K), the curve
    * an index build monitors to decide when to stop (0.0 -> 0.36 in 3
    * rounds at sf0.01; the per-round gain scales with K/n, so bigger
    * corpora run more rounds — production NN-Descent iterates to a
    * recall target, rounds here are the ann_kmeans bounded-rounds
    * rule).
    *
    * Scale: no stage is quadratic — init is per-row arithmetic, the
    * two-hop expansion joins the (<= 2K)-out-degree symmetric graph
    * with itself on the middle node, so candidates are BOUNDED at
    * ~(2K)^2 + K per node by construction (hub middle nodes skew the
    * join key — AQE splits — but cannot blow up any node's candidate
    * list); rescoring touches each distinct pair once via two
    * co-partitioned vector lookups on the native codegen vector_dot.
    * Ids are dense 0..n-1 here (TESTDATA contract); a deployment ranks
    * ids first (ta_pair_mine's two-phase prefix sum). The bounded
    * sample (vec_id < 10) exact eval is the ann_recall sanctioned
    * shape. */
  def nndescent(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
      .localCheckpoint() // shared: rescore lookups x rounds, exact eval
    nndescentOn(c)
  }

  /** Graphs 0..NnDescentRounds of the NN-Descent refinement over corpus
    * c — the shared build core of the ann_nndescent trace and the
    * refined-graph index artifact (ann_graph_refined). Every returned
    * frame is localCheckpointed (multi-consumer per round). */
  private[graft] def nndGraphs(c: DataFrame): Seq[DataFrame] = {
    val g0 = kOutOn(c, "nnd", NnDescentK)
      .localCheckpoint() // consumers: sym sides, union, eval, next round
    val wRe = Window.partitionBy("u").orderBy(col("cos").desc, col("w").asc)
    def refine(g: DataFrame): DataFrame = {
      val sym = GraphOps.sym(g, "src", "dst")
        .distinct()
        .localCheckpoint() // both sides of the two-hop self-join
      sym.select(col("src").as("u"), col("dst").as("v"))
        .join(sym.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
        .filter(col("u") =!= col("w"))
        .select(col("u"), col("w"))
        .unionByName(g.select(col("src").as("u"), col("dst").as("w")))
        .distinct()
        .join(c.select(col("vec_id").as("u"), col("embedding").as("uv"),
          col("nrm").as("un")), Seq("u"))
        .join(c.select(col("vec_id").as("w"), col("embedding").as("wv"),
          col("nrm").as("wn")), Seq("w"))
        .withColumn("cos", cosine("uv", "wv", "un", "wn"))
        .withColumn("rn", row_number().over(wRe))
        .filter(col("rn") <= NnDescentK)
        .select(col("u").as("src"), col("w").as("dst"))
        .localCheckpoint() // consumers: sym sides, union, eval, next round
    }
    Iterator.iterate(g0)(refine).take(NnDescentRounds + 1).toSeq
  }

  /** Same build over any dense-id (vec_id, embedding, nrm) corpus —
    * Round12Spec pins the monotone recall trace on a planted-cluster
    * corpus. */
  def nndescentOn(c: DataFrame): DataFrame = {
    // the refinement build and the exact-baseline pass are independent —
    // the exact pass's corpus scan back-fills the build's barriers
    // (guide §2.6)
    val (graphs, exact) = Par.run2(
      () => nndGraphs(c),
      () => bruteforceOn(c.filter(col("vec_id") < 10), c, NnDescentK)
        .select(col("qid"), col("cid"))
        .localCheckpoint()) // one eval join per round
    val trace = graphs.zipWithIndex.map { case (g, r) =>
      val ne = g.agg(count(lit(1)).as("n_edges"))
      hitCounts(exact, g.filter(col("src") < 10).select(col("src").as("qid"), col("dst").as("cid")))
        .crossJoin(ne)
        .select(lit(r.toLong).as("round"), col("n_edges"), col("n_exact"),
          col("n_hits"), recallOf.as("recall"))
    }
    trace.reduce(_ unionByName _).orderBy("round")
  }

  /** Out-degree / beam width / hop count for ann_graph_search. */
  val GsOutK = 8
  val GsBeam = 8
  val GsHops = 3

  /** GRAPH-BASED ANN SEARCH (ann_graph_search) — the SERVING pattern of
    * the HNSW/DiskANN family: beam search over a kNN graph. Per query,
    * keep a beam of the W best-scored nodes; each hop expands the beam
    * through the symmetrized graph, exact-rescores the frontier and
    * re-trims to W (Malkov & Yashunin's ef-search loop, hop-bounded by
    * the repo's fixed-rounds rule). The graph is the DETERMINISTIC
    * random K-out init ('gs:'-seeded) so the checked object is the
    * SEARCH, not the build. Entry point is fixed (node 0; node 1 for
    * query 0 — never self). Output: each query's final top-3 (rank, id,
    * 4dp cosine).
    *
    * Scale: the beam is bounded by construction (queries x W nodes with
    * ≤2K symmetric neighbours each), so it lives on the driver (the
    * ann_mmr rule). Per hop, two bounded lookup jobs — the beam nodes'
    * edges in either direction, then the vectors not held yet — and
    * local scoring, max merge and top-W trim; the graph is checkpointed
    * once per serve, since every hop scans it. */
  def graphSearch(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
      .localCheckpoint() // graph init + vector lookups x hops + query side
    beamServe(c, gsBackboneOn(c))
  }

  /** The deterministic md5-keyed K-out long-link graph over corpus ids —
    * ann_graph_search's serving graph, ann_graph_refined's anti-trap
    * backbone, and ann_graph_recall's random tier (one definition, three
    * consumers). */
  private[graft] def gsBackboneOn(c: DataFrame): DataFrame = kOutOn(c, "gs", GsOutK)

  /** k md5-keyed ('<tag>:src:j') out-edges per dense corpus id, never a
    * self edge — the NN-Descent init ('nnd') and the long-link backbone. */
  private def kOutOn(c: DataFrame, tag: String, k: Int): DataFrame = {
    val nTot = c.agg(count(lit(1)).as("n"))
    c.select(col("vec_id").as("src")).crossJoin(broadcast(nTot))
      .select(col("src"), col("n"), explode(expr(s"sequence(0, ${k - 1})")).as("j"))
      .withColumn("h", expr(
        md5Int(s"concat('$tag:', CAST(src AS STRING), ':', CAST(j AS STRING))", 6) + " % n"))
      .withColumn("dst", expr("CASE WHEN h = src THEN (h + 1) % n ELSE h END"))
      .select("src", "dst").distinct()
  }

  /** A corpus row on the driver: its embedding and Spark's `nrm`. */
  private final case class BeamVec(v: Array[Float], nrm: Double)

  /** Per query id, the beam's candidate id -> cosine. */
  private type Beam = Map[Long, Map[Long, Double]]

  /** The first k in (cos desc, cid asc) row_number order, by Spark's
    * double ordering (NaN greatest, -0.0 == 0.0). */
  private def beamTop(b: Map[Long, Double], k: Int): Seq[(Long, Double)] =
    b.toSeq.sortWith { case ((ca, a), (cb, bb)) =>
      val o = SQLOrderingUtil.compareDoubles(bb, a)
      if (o != 0) o < 0 else ca < cb
    }.take(k)

  /** `max(cos)` per cid, by Spark's double ordering. */
  private def beamMerge(a: Map[Long, Double], b: Iterable[(Long, Double)]): Map[Long, Double] =
    b.foldLeft(a) { case (m, (cid, cos)) =>
      m.updated(cid, m.get(cid).filter(SQLOrderingUtil.compareDoubles(_, cos) >= 0).getOrElse(cos))
    }

  /** `dot(qv, cv) / (qn * cn)` as Spark evaluates it: VectorDot's left
    * fold of float->double products over Spark's norms; a zero divisor
    * raises, as the session's ANSI Divide does. */
  private def beamCos(q: BeamVec, c: BeamVec): Double = {
    require(q.v.length == c.v.length, s"vector_dot: length mismatch ${q.v.length} vs ${c.v.length}")
    var acc = 0.0
    for (i <- q.v.indices) acc += q.v(i).toDouble * c.v(i).toDouble
    val d = q.nrm * c.nrm
    if (d == 0.0) throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero (beam cosine)")
    acc / d
  }

  /** One bounded vector lookup job: the corpus rows matching `pred`. */
  private def beamFetch(c: DataFrame, pred: Column): Map[Long, BeamVec] =
    c.filter(pred).select("vec_id", "embedding", "nrm").collect()
      .map(r => r.getLong(0) -> BeamVec(r.getSeq[Float](1).toArray, r.getDouble(2))).toMap

  /** One lookup job for the queries (vec_id < 10) and their entries
    * (`alt` for query 0, else 0 — never self): the scored entry beam
    * (no beam when the entry is not in the corpus) and the vectors. */
  private def beamSeed(c: DataFrame, alt: Long): (Beam, Map[Long, BeamVec]) = {
    val got = beamFetch(c, col("vec_id") < 10 || col("vec_id").isin(0L, alt))
    (got.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val e = if (qid == 0L) alt else 0L
      got.get(e).map(v => qid -> Map(e -> beamCos(qv, v)))
    }, got)
  }

  /** `hops` expand/rescore/re-trim rounds from a scored beam over edge
    * list `g`; returns the beam and the vectors held after it. */
  private def beamHops(c: DataFrame, g: DataFrame, init: Beam, vecs0: Map[Long, BeamVec],
      hops: Int): (Beam, Map[Long, BeamVec]) =
    (1 to hops).foldLeft((init, vecs0)) { case ((beam, known), _) =>
      val ids = beam.valuesIterator.flatMap(_.keys).toSeq.distinct.sorted
      val adj = g.filter(col("src").isin(ids: _*) || col("dst").isin(ids: _*))
        .select("src", "dst").collect()
        .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
        .groupMap(_._1)(_._2)
      val cands = beam.map { case (qid, b) =>
        qid -> (b.keySet.flatMap(adj.getOrElse(_, Array.empty[Long])) - qid)
      }
      val missing = (cands.valuesIterator.flatten.toSet -- known.keySet).toSeq.sorted
      val vecs = if (missing.isEmpty) known else known ++ beamFetch(c, col("vec_id").isin(missing: _*))
      // a frontier node already in the beam scores identically — max
      // dedups; a cid the corpus lacks is dropped (the oracle's inner join)
      (beam.map { case (qid, b) =>
        qid -> beamTop(beamMerge(b, cands(qid).flatMap(cid =>
          vecs.get(cid).map(v => cid -> beamCos(vecs(qid), v)))), GsBeam).toMap
      }, vecs)
    }

  /** Per-query top-3 of a served beam as a local frame, r4 in Spark. */
  private def beamPublish(spark: SparkSession, beam: Beam): DataFrame = {
    val rows = beam.toSeq.flatMap { case (qid, b) =>
      beamTop(b, 3).zipWithIndex.map { case ((cid, cos), i) => Row(qid, i + 1, cid, cos) }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("qid", LongType), StructField("rank", IntegerType, nullable = false),
        StructField("cid", LongType), StructField("cos", DoubleType))))
      .select(col("qid"), col("rank"), col("cid"), r4(col("cos")).as("cos_sim"))
      .coalesce(1) // ≤ 30 rows: sort in place, no range-partition sample + shuffle
      .orderBy("qid", "rank")
  }

  /** The ef-search serve over any (src, dst) graph — ann_graph_search,
    * ann_graph_refined and ann_graph_recall's tiers. */
  private[graft] def beamServe(c: DataFrame, g0: DataFrame): DataFrame = {
    val g = g0.select("src", "dst").localCheckpoint() // one edge lookup per hop
    val (b0, vecs) = beamSeed(c, 1L)
    beamPublish(c.sparkSession, beamHops(c, g, b0, vecs, GsHops)._1)
  }

  /** GRAPH-ANN INDEX ARTIFACT + SERVE (ann_graph_refined) — closes
    * build→persist→serve for the graph tier (§10 candidate): the FINAL
    * NN-Descent graph persists as the index artifact (n x K exact long
    * edges, fingerprint-keyed under /tmp/graft_models — a graph index IS
    * its edge list, the disk artifact DiskANN/HNSW serialize). Serving
    * runs the beam over the refined edges UNIONED with the deterministic
    * K-out long-link backbone: a pure kNN graph is strongly clustered,
    * so a fixed-entry beam gets trapped in the entry's neighborhood —
    * MEASURED here, recall 0.60 (random) vs 0.17 (refined-only) vs 0.60+
    * (hybrid) at sf0.01, the exact failure HNSW's layers / DiskANN's
    * alpha-pruned long edges exist to fix, and ann_graph_recall keeps
    * all three tiers visible. Warm consumers skip the entire build
    * (ModelStore's deploy-or-build; edges are exact longs, so results
    * are bit-identical either way). The oracle replays build + serve as
    * one chained-CTE program. */
  def graphRefined(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
      .localCheckpoint() // build rescores x rounds + serve lookups x hops
    beamServe(c,
      refinedGraphFor(spark, dir, c).unionByName(gsBackboneOn(c)).distinct())
  }

  /** GRAPH-TIER RECALL COMPARISON (ann_graph_recall) — the measured
    * recall-floor LIFT the refined index buys: the SAME beam loop served
    * over the random K-out init (ann_graph_search's graph) and over the
    * persisted NN-Descent index (ann_graph_refined's), each scored
    * against the exact top-3 — the two-row table that justifies paying
    * the build. All counts exact integers; recall is the shared r4 form.
    *
    * Scale: three beam serves (two bounded lookups per hop, at most
    * queries x W x out-degree rows) + one bounded-broadcast exact pass
    * (the ann_recall sanctioned shape); the refined graph comes from the
    * artifact, so a warm run pays no build. */
  def graphRecall(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
      .localCheckpoint() // init + three serves' vector lookups + exact pass
    // the random backbone, the exact baseline, and the refined-index
    // deploy/build are mutually independent consumers of the checkpointed
    // corpus — materialize them concurrently (guide §2.6)
    val Seq(rand, exact, refined) = Par.run(Seq(
      () => gsBackboneOn(c)
        .localCheckpoint(), // random-tier serve + the hybrid union
      () => bruteforceOn(c.filter(col("vec_id") < 10), c, 3)
        .select(col("qid"), col("cid"))
        .localCheckpoint(), // one hit join per tier
      () => refinedGraphFor(spark, dir, c)))
    def tierRow(name: String, g: DataFrame): DataFrame =
      hitCounts(exact, beamServe(c, g))
        .select(lit(name).as("tier"), col("n_exact"), col("n_hits"), recallOf.as("recall_at_3"))
    // three independent serves over checkpointed parents (c, rand, exact;
    // refined is the artifact scan or the build's checkpoint) — concurrent
    // submission overlaps their per-hop lookup jobs (guide §2.6)
    Par.run(Seq(
      () => tierRow("1_random", rand),
      () => tierRow("2_refined", refined),
      () => tierRow("3_hybrid", refined.unionByName(rand).distinct())))
      .reduce(_ unionByName _)
      .orderBy("tier")
  }

  /** The refined kNN graph for the corpus at `dir` (the nnd_ artifact):
    * deployed, else the NN-Descent build. */
  private[graft] def refinedGraphFor(spark: SparkSession, dir: String,
      c: DataFrame): DataFrame =
    ModelStore.frame(spark,
        ModelStore.Source(dir, "embeddings.parquet", s"nnd${NnDescentK}x$NnDescentRounds"),
        ModelStore.Table("nnd", Seq("src", "dst"), singleFile = false, // O(n*K) edges
          casts = Map("src" -> "long", "dst" -> "long"))) {
      nndGraphs(c).last // localCheckpointed by the build
    }

  /** Hub modulus of the layered index: vec_id % GsHubMod == 0 promotes
    * ~1/GsHubMod of the corpus to layer 1 (HNSW assigns levels by a
    * geometric draw on a per-node hash; a deterministic arithmetic
    * sample keeps the layer membership oracle-replayable with zero
    * extra state and — unlike a rank window over the hub set — needs no
    * global ordering pass at build time). */
  val GsHubMod = 8L

  /** LAYERED GRAPH-ANN INDEX + TOP-DOWN SERVE (ann_graph_layered) — the
    * HNSW layer rationale (Malkov & Yashunin 2018) made a first-class
    * artifact. ann_graph_recall MEASURED the failure this exists to fix:
    * a pure kNN graph is strongly clustered, so a fixed-entry beam traps
    * in the entry's neighborhood (recall 0.17 refined-only vs 0.60
    * hybrid at sf0.01). The hybrid tier patched that by unioning random
    * long links into ONE flat graph; the layered index persists BOTH
    * tiers as one edge list with a `layer` column (layeredEdgesOn: hub
    * long links on layer 1, each hop crossing ~GsHubMod times more of the
    * id space; refined kNN edges + the flat backbone on layer 0) and
    * serves TOP-DOWN (layeredServe). The spec pins recall(layered) >=
    * recall(hybrid) plus artifact/fold parity and fingerprint
    * invalidation; the oracle replays build + both serve phases as one
    * MATERIALIZED chained-CTE program.
    *
    * Scale: the upper layer has n/GsHubMod nodes with out-degree GsOutK
    * (pure arithmetic on the one-row corpus count — no window, no shuffle
    * beyond the distinct); the serve is 3 x GsHops driver-side hops, each
    * two bounded lookup jobs (queries x W x 2K rows, corpus-independent);
    * the artifact write is partitioned (O(n*K) edges, never one task). */
  def graphLayered(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).localCheckpoint()
    layeredServe(c, layeredGraphFor(spark, dir, c))
  }

  /** Top-down serve over a (layer, src, dst) index: entry at the fixed
    * hub (vec_id 0; GsHubMod for query 0 — never self); GsHops hops over
    * the layer-1 long links navigate coarsely to the query's region, then
    * the surviving beam seeds a layer-0 descent lane. Exposed for the
    * recall-floor spec. */
  private[graft] def layeredServe(c: DataFrame, g0: DataFrame): DataFrame = {
    val g = g0.select("layer", "src", "dst")
      .localCheckpoint() // one edge lookup per hop, both layers
    val base = g.filter(col("layer") === 0L)
    val (b0, vecs) = beamSeed(c, GsHubMod)
    // Two base-layer lanes, published as the top-3 of their union: the
    // DESCENT lane (B) runs from the upper beam (the HNSW path), the
    // ENTRY lane (A) replays the flat serve's trajectory from the fixed
    // entry. Greedy beam search is not monotone in seed quality, so one
    // lane seeded with both was measured losing per-query coin flips vs
    // the flat hybrid; the intact entry lane makes recall(layered) >=
    // recall(flat hybrid) structural. A runs concurrently with [upper ->
    // B] so their lookup jobs overlap (guide §2.6); each lane grows its
    // own copy of the seed's vectors, so the threads share no state.
    val ((laneA, _), (laneB, _)) = Par.run2(
      () => beamHops(c, base, b0, vecs, GsHops),
      () => {
        val (upper, v) = beamHops(c, g.filter(col("layer") === 1L), b0, vecs, GsHops)
        beamHops(c, base, upper, v, GsHops)
      })
    beamPublish(c.sparkSession, laneA.map { case (qid, a) =>
      qid -> beamMerge(a, laneB.getOrElse(qid, Map.empty))
    })
  }

  /** The layered edge list for any corpus frame: layer-1 hub long links
    * (pure arithmetic off the one-row count — hub j's id is j*GsHubMod,
    * dense ids make rank == id div GsHubMod so no ordering pass); layer 0
    * is the refined kNN edges MERGED with the flat long-link backbone —
    * the DiskANN base-graph shape (long edges folded into the base
    * graph, not only the hierarchy), which makes the base serve exactly
    * the hybrid tier's and the upper layer a strict warm-start on top. */
  private[graft] def layeredEdgesOn(c: DataFrame, refined: DataFrame): DataFrame = {
    val nTot = c.agg(count(lit(1)).as("n"))
    val upperE = c.filter(col("vec_id") % GsHubMod === 0L)
      .select(col("vec_id").as("src")).crossJoin(broadcast(nTot))
      .withColumn("nh", expr(s"(n + ${GsHubMod - 1}) div $GsHubMod"))
      .select(col("src"), col("nh"), explode(expr(s"sequence(0, ${GsOutK - 1})")).as("j"))
      .withColumn("h", expr(
        md5Int("concat('ly:', CAST(src AS STRING), ':', CAST(j AS STRING))", 6) + " % nh"))
      .withColumn("dst", expr(s"CASE WHEN h * $GsHubMod = src " +
        s"THEN ((h + 1) % nh) * $GsHubMod ELSE h * $GsHubMod END"))
      .select("src", "dst").distinct()
    upperE.withColumn("layer", lit(1L))
      .unionByName(refined.select("src", "dst")
        .unionByName(gsBackboneOn(c)).distinct()
        .withColumn("layer", lit(0L)))
      .select("layer", "src", "dst")
  }

  /** The layered index for the corpus at `dir` (the nndl_ artifact):
    * deployed, else built over the refined graph (itself deployed when
    * warm). */
  private[graft] def layeredGraphFor(spark: SparkSession, dir: String,
      c: DataFrame): DataFrame =
    ModelStore.frame(spark, ModelStore.Source(dir, "embeddings.parquet",
          s"nndl${NnDescentK}x${NnDescentRounds}h${GsHubMod}k$GsOutK"),
        ModelStore.Table("nndl", Seq("layer", "src", "dst"), singleFile = false, // O(n*K)
          casts = Map("layer" -> "long", "src" -> "long", "dst" -> "long"))) {
      layeredEdgesOn(c, refinedGraphFor(spark, dir, c))
        .localCheckpoint() // consumed by the write and both serve loops
    }

  /** Generic exact top-k: any (vec_id, embedding, nrm) query set against a
    * corpus of the same shape — broadcast the queries, one parallel pass
    * over the corpus, per-query top-k via window. */
  def bruteforceOn(queries: DataFrame, corpusDf: DataFrame, k: Int): DataFrame =
    vecTopK(queries, corpusDf, None, k)

  /** Random-hyperplane LSH ANN: candidates share the 8-bit sign bucket;
    * exact cosine + top-3 only within the bucket. */
  def lsh(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir).withColumn("bucket", bucket("embedding"))
      .localCheckpoint() // bucket projections computed once for query + corpus sides
    vecTopK(e.filter(col("vec_id") < 10), e, Some("bucket"), 3).orderBy("qid", "rank")
  }

  /** IVF-style ANN: corpus partitioned into 16 coarse cells by the sign
    * grid; each query probes only its own cell. */
  def ivf(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir).withColumn("cell", expr(cellExpr("embedding")))
      .localCheckpoint() // cell + norm computed once for query + corpus sides
    vecTopK(e.filter(col("vec_id") < 10), e, Some("cell"), 3).orderBy("qid", "rank")
  }

  /** Recall@3 of the LSH index against the exact baseline — the evaluation
    * query every ANN deployment runs before trusting the index: for each
    * query vector, how many of the true top-3 neighbors did the bucketed
    * search return? Both rankings share one corpus scan (localCheckpoint);
    * the overlap is a (qid, cid) equi-join of two 3-row-per-query sets —
    * negligible compared to the searches themselves. Queries whose bucket
    * missed every true neighbor still appear (left join, recall 0). */
  def recall(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).withColumn("bucket", bucket("embedding"))
      .localCheckpoint() // shared by the exact pass + both bucketed sides
    val q = c.filter(col("vec_id") < 10)
    hitCounts(bruteforceOn(q, c, 3), vecTopK(q, c, Some("bucket"), 3), "qid")
      .withColumn("recall_at_3", recallOf)
      .orderBy("qid")
  }

  /** Scalar-quantized ANN with exact rerank — the FAISS-SQ pattern: corpus
    * vectors compress to 4-bit codes (floor(v*16) clamped to [-8,7] — 8x
    * smaller than float32), the first pass ranks by the dot product against
    * the DEQUANTIZED codes ((code+0.5)/16, an exact dyadic double, so the
    * fold is bit-portable), and only the top-10 approximate candidates per
    * query pay the exact-cosine rerank. At 100 TB the scan reads the code
    * column (1/8 the bytes) and the full-precision vectors are fetched for
    * ~10 rows per query — the memory/bandwidth economics that make
    * quantized indexes the production default. approx_rank is kept in the
    * output so the reordering done by the rerank is visible. */
  def sqCodes(v: String): Column = expr(
    s"transform($v, x -> CAST(GREATEST(-8D, LEAST(7D, floor(CAST(x AS DOUBLE) * 16D))) AS BIGINT))")

  /** Dequantized reconstruction of a code array — computed ONCE per
    * corpus row (O(dim), interpreted transform is off the pair hot path)
    * so the per-pair approx score is the native codegen vector_dot.
    * (c + 0.5) / 16 is exact in doubles (small int + half, power-of-two
    * divisor), so the product stream is bit-identical to the old
    * interpreted per-pair fold. */
  private def reconOf(codes: String): Column = expr(
    s"transform($codes, c -> (CAST(c AS DOUBLE) + 0.5) / 16D)")

  def sq(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).withColumn("codes", sqCodes("embedding"))
      .localCheckpoint() // codes + norms computed once for query + corpus sides
    val q = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    annPairs(q, c.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn"),
        reconOf("codes").as("recon")))
      .withColumn("approx", cosine(b = "recon"))
      .transform(topK("approx", 10, "approx_rank", long = true))
      .withColumn("cos", cosine())
      .transform(topK("cos", 3, long = true))
      .select(col("qid"), col("rank"), col("cid"), r4(col("cos")).as("cos_sim"), col("approx_rank"))
      .orderBy("qid", "rank")
  }

  /** MMR-diversified top-k (maximal marginal relevance, lambda = 0.5) —
    * the rerank stage that turns a similarity hit list into a DIVERSE
    * sample (retrieval diversification / diverse data selection). Stage 1
    * is distributed: broadcast the query vector, one corpus pass, global
    * top-12 by relevance (TakeOrdered — never a full sort), plus the
    * 12x12 pairwise sims. Stage 2 is the greedy argmax over the BOUNDED
    * candidate set, driver-side — the standard retrieve-then-rerank
    * split; the rerank is O(k * n_cand) on 12 rows no matter the corpus
    * size. Determinism: every similarity is the same left-fold dot both
    * engines run, the MMR score is the same two-multiply-one-subtract
    * double expression, and every argmax tie-breaks by vec_id (the
    * oracle unrolls the same 5 greedy steps in SQL). */
  def mmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nCand, k) = (12, 5)
    val c = corpus(spark, dir).localCheckpoint() // shared: query row + corpus pass
    val q = c.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val cands = c.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        cosine("embedding", "qv", "nrm", "qn").as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(nCand)
      .localCheckpoint() // reused by both pairwise-sim sides + the collect
    val rel = cands.select(col("vec_id"), col("rel")).as[(Long, Double)].collect().toMap
    val sim = cands.as("a").join(cands.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        cosine("a.embedding", "b.embedding", "a.nrm", "b.nrm").as("sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    var selected = Vector.empty[(Long, Long, Double)] // (step, vec_id, score)
    var remaining = rel.keySet.toList.sorted
    for (step <- 1 to k) {
      val best = remaining
        .map { id =>
          val score =
            if (selected.isEmpty) rel(id)
            else 0.5 * rel(id) - 0.5 * selected.map(s => sim((id, s._2))).max
          (id, score)
        }
        .sortBy { case (id, s) => (-s, id) }.head
      selected :+= ((step.toLong, best._1, best._2))
      remaining = remaining.filterNot(_ == best._1)
    }
    selected.toDF("step", "vec_id", "score")
      .select(col("step"), col("vec_id"), r4(col("score")).as("mmr_score"))
      .coalesce(1) // ≤ k rows: sort in place, no range-partition sample + shuffle
      .orderBy("step")
  }

  /** PQ subspace codebook of (vec_id, label, s, i, xq) dims: one (sum cS,
    * count n) centroid per (label, 32-dim subspace s, dim i). */
  private def pqCodebook(sdims: DataFrame): DataFrame =
    sdims.groupBy(col("label").as("cb_label"), col("s"), col("i"))
      .agg(sum("xq").as("cS"), count(lit(1)).as("n"))

  /** PQ code + reconstruction (vec_id, rec): each subspace of each vector
    * coded by its nearest codebook centroid (the exact-integer argmin),
    * the 64-dim reconstruction built from the exact quotients cS/n. */
  private def pqRecon(sdims: DataFrame, cb: DataFrame): DataFrame = {
    val codes = nearestCentroids(sdims, cb, Seq("vec_id", "s"), "cb_label", 1)
      .select(col("vec_id"), col("s"), col("cb_label").as("code"))
    val recon = cb.groupBy("cb_label", "s")
      .agg(expr("transform(array_sort(collect_list(struct(i, " +
        "CAST(cS AS DOUBLE) / CAST(n AS DOUBLE) AS r))), e -> e.r)").as("rvec"))
    codes.as("cd").join(recon.as("rc"),
        col("cd.s") === col("rc.s") && col("cd.code") === col("rc.cb_label"))
      .select(col("cd.vec_id").as("vec_id"), col("cd.s").as("s"), col("rc.rvec").as("rvec"))
      .groupBy("vec_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(s, rvec))), e -> e.rvec))").as("rec"))
  }

  /** Product quantization + exact rerank — the remaining member of the
    * FAISS family (next to ann_sq / ann_lsh / ann_ivf): each vector is
    * coded as TWO centroid ids (one per 32-dim subspace, here the
    * per-label subvector centroids as the deterministic stand-in for a
    * k-means codebook), queries score against the 64-dim reconstruction
    * (asymmetric distance), and the top-10 are reranked exactly.
    *
    * Everything before the final double division is exact integer
    * arithmetic, so the DuckDB oracle hash-matches: coordinates quantize
    * to milli-units via floor(x*1000+0.5) (native round() half-way rules
    * diverge); the nearest-centroid argmin compares d_j = p_j / n_j^2
    * where p_j = sum_i (xq_i*n_j - S_ij)^2 — p and n^2 are exact
    * integers below 2^53 (holds to ~15k vectors per label; past that a
    * real deployment trains the codebook on a sample anyway), so the
    * single division is the same correctly-rounded double on both
    * engines, ties broken by label. Reconstruction values are exact
    * quotients S/n; the query-side score is the same left-fold both
    * engines run.
    *
    * Scale: the codebook is O(labels x dims) — broadcast; assignment is
    * one groupBy over |corpus| x |labels| x dims partial products with
    * map-side combine; the scan side never self-joins. */
  def pq(spark: SparkSession, dir: String): DataFrame = {
    val e0 = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"), col("embedding"), norm("embedding").as("nrm"))
      .localCheckpoint() // reused: dims, corpus norms, query side, rerank
    val dims = e0.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .withColumn("s", expr("i div 32"))
      .withColumn("xq", expr("CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)"))
    val cb = pqCodebook(dims).localCheckpoint() // labels x 64 rows; probed by every corpus dim
    val rec = pqRecon(dims, cb)
      .join(e0.select(col("vec_id"), col("nrm").as("cn")), Seq("vec_id"))
    val q = e0.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val firstPass = annPairs(q, rec.withColumnRenamed("vec_id", "cid"))
      // native codegen fold (float qv x double rec) — bit-identical to the
      // declarative aggregate() it replaced (left-to-right double products).
      .withColumn("approx", cosine(b = "rec"))
      .transform(topK("approx", 10, "approx_rank", long = true))
    firstPass
      .join(e0.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn2")), Seq("cid"))
      .withColumn("cos", cosine(nb = "cn2"))
      .transform(topK("cos", 3, long = true))
      .select(col("qid"), col("rank"), col("cid"), r4(col("cos")).as("cos_sim"),
        col("approx_rank"))
      .orderBy("qid", "rank")
  }

  /** EXACT distributed k-means (two Lloyd rounds, k = 10, label-seeded) —
    * the trained-codebook upgrade §9 queued for the IVF/PQ quantizers.
    * The usual reason k-means can't be oracle-checked is float centroid
    * drift; here EVERY round stays in exact integer arithmetic: with
    * milli-unit coordinates xq and a centroid held as (sum S, count n),
    * the distance comparison d_j = p_j / n_j^2, p_j = sum_i
    * (xq_i*n_j - S_ij)^2, needs only ONE correctly-rounded double
    * division per candidate (both operands exact integers under 2^53) —
    * so assignments, and therefore the next round's integer centroid
    * sums, are bit-identical on both engines, round after round. The
    * oracle unrolls the same two rounds as chained CTEs.
    *
    * Plan shape per round: one co-partitioned join (dims x assignment)
    * + groupBy for centroids (k x 64 rows, broadcast back), one probe
    * + groupBy for reassignment, one per-vector argmin window over k
    * candidates. Rounds are a fixed small constant — the driver loop
    * carries no data, only plan construction. */
  /** Final (vec_id, cluster, p, n) assignment after two Lloyd rounds —
    * shared by the kmeans summary query and the recall evaluation. */
  private[graft] def kmeansAssignments(spark: SparkSession, dir: String): DataFrame =
    kmeansChain(spark, dir)._2

  /** The localCheckpointed exploded integer-coordinate table every Lloyd
    * round and the multi-probe centroid ranking share. */
  private def kmDims(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .withColumn("xq", expr("CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)"))
      .select("vec_id", "label", "i", "xq")
      .localCheckpoint() // reused by every round's centroid + probe side

  private def kmCentroids(dims: DataFrame, assign: DataFrame): DataFrame =
    dims.join(assign, Seq("vec_id"))
      .groupBy(col("c"), col("i"))
      .agg(sum("xq").as("cS"), count(lit(1)).as("n"))

  /** One Lloyd reassignment: each vector's nearest centroid of `cb`, as
    * (vec_id, c, p, n). */
  private[graft] def kmReassign(dims: DataFrame, cb: DataFrame): DataFrame =
    nearestCentroids(dims, cb, Seq("vec_id"), "c", 1).select("vec_id", "c", "p", "n")

  /** The multi-probe probe set: the MultiProbeP nearest trained centroids
    * of each bounded query (vec_id < 10), as (qid, c). */
  private[graft] def probesOf(dims: DataFrame, cb: DataFrame): DataFrame =
    nearestCentroids(dims.filter(col("vec_id") < 10), cb, Seq("vec_id"), "c", MultiProbeP)
      .select(col("vec_id").as("qid"), col("c"))

  /** A codebook table as the fold builds it: c long, i INT (the
    * posexplode position — a coerced i would ripple into join plans),
    * cS/n long; `lead` columns come first. */
  private def kmTable(family: String, lead: Seq[String] = Nil): ModelStore.Table =
    ModelStore.Table(family, lead ++ Seq("c", "i", "cS", "n"),
      casts = Map("c" -> "long", "i" -> "int"))

  /** Codebook rows (c, i, cS, n from column `at` on) as a local bounded
    * frame (k x 64 rows, broadcast-ready) with the fold's exact schema. */
  private def kmLocalCb(spark: SparkSession, rows: Seq[Row], at: Int): DataFrame = {
    import spark.implicits._
    rows.map(r => (r.getLong(at), r.getInt(at + 1), r.getLong(at + 2), r.getLong(at + 3)))
      .toDF("c", "i", "cS", "n")
  }

  /** Stale-snapshot codebook of ann_refresh (the kms_ artifact) — the
    * quantizer trained on the stale half (even vec_ids, label-seeded,
    * two Lloyd rounds) persists like the main codebooks: the refresh
    * gauge re-runs per bench/verify invocation, but "the index trained on
    * the old snapshot" is by definition train-once. */
  private def staleCodebookFor(spark: SparkSession, dir: String, dims: DataFrame): DataFrame =
    ModelStore.collected[DataFrame](spark,
        ModelStore.Source(dir, "embeddings.parquet", "km2stale"), kmTable("kms"),
        rows => Some(kmLocalCb(spark, rows.toSeq, 0)), identity) {
      val stale = dims.filter(pmod(col("vec_id"), lit(StaleModulus)) === lit(0L))
      val seed = stale.select(col("vec_id"), col("label").cast("long").as("c")).distinct()
      val st1 = kmReassign(stale, kmCentroids(stale, seed))
      val st2 = kmReassign(stale, kmCentroids(stale, st1.select("vec_id", "c")))
      kmCentroids(stale, st2.select("vec_id", "c")).localCheckpoint()
    }

  /** K-MEANS MODEL (the km_ artifact): (deploy codebook cb2, serving
    * codebook cb3, the fold's final assignment — None when deployed).
    * Every ann-family query that deploys the trained quantizer
    * (ann_kmeans/_recall, ann_multiprobe, ann_ivfpq, ann_recall_curve,
    * pipe_ann, ann_tier_compare, plus ta_topics / dd_semdedup / mm
    * wrappers) shares it: the first trainer persists BOTH codebooks as
    * one tiny table (k x 64 x 2 rows, tagged by `stage`), and a warm
    * consumer pays ONE probe pass for assignments (kmReassign over cb2)
    * and ZERO Lloyd work for the serving codebook. Every stored value is
    * an exact BIGINT (centroids held as (sum, count), never divided), so
    * the deployed assignment is bit-identical to the fold's
    * (KmeansModelSpec pins parity + fingerprint invalidation). Cold: the
    * label-seeded two-Lloyd fold over `dims`, each result eagerly
    * checkpointed (cb2 feeds the write + the final reassign; assignFull
    * feeds cb3's build + the caller; cb3 feeds the write + serving). */
  private def kmModel(spark: SparkSession, dir: String,
      dims: => DataFrame): (DataFrame, DataFrame, Option[DataFrame]) =
    ModelStore.collected[(DataFrame, DataFrame, Option[DataFrame])](spark,
        ModelStore.Source(dir, "embeddings.parquet", "km2"), kmTable("km", Seq("stage")),
        rows => {
          def cb(stage: Int): Option[DataFrame] =
            Some(rows.toSeq.filter(_.getInt(0) == stage)).filter(_.nonEmpty)
              .map(kmLocalCb(spark, _, 1))
          for (cb2 <- cb(2); cb3 <- cb(3)) yield (cb2, cb3, None)
        },
        { case (cb2, cb3, _) =>
          cb2.withColumn("stage", lit(2)).unionByName(cb3.withColumn("stage", lit(3)))
        }) {
      val d = dims
      val seed = d.select(col("vec_id"), col("label").cast("long").as("c")).distinct()
      val as1 = kmReassign(d, kmCentroids(d, seed))
      val cb2 = kmCentroids(d, as1.select("vec_id", "c")).localCheckpoint()
      val assignFull = kmReassign(d, cb2).localCheckpoint()
      val cb3 = kmCentroids(d, assignFull.select("vec_id", "c")).localCheckpoint()
      (cb2, cb3, Some(assignFull))
    }

  /** (dims, final assignment, serving codebook) — artifact-backed: warm
    * consumers pay one probe pass for assignments and nothing for the
    * serving codebook. */
  private def kmeansFull(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val dims = kmDims(spark, dir)
    val (cb2, cb3, fold) = kmModel(spark, dir, dims)
    (dims, fold.getOrElse(kmReassign(dims, cb2)), cb3)
  }

  /** (dims, final assignment) — the two-Lloyd chain every quantizer
    * consumer shares (artifact-backed via kmeansFull). */
  private def kmeansChain(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (dims, assignFull, _) = kmeansFull(spark, dir)
    (dims, assignFull)
  }

  def kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansAssignments(spark, dir)
      .withColumn("pf", expr("p div (n * n)"))
      .groupBy(col("c").as("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_member"),
        sum(col("pf")).as("inertia_floor"))
      .orderBy("cluster")

  /** Recall of the TRAINED-cluster probe (the §9 "k-means as IVF coarse
    * quantizer" evaluation): queries probe only their own two-round-Lloyd
    * cluster — exactly the ann_ivf plan with ann_kmeans' assignment as
    * the cell — and recall@3 is measured against the exact baseline, the
    * same harness shape as ann_recall. Everything upstream is the
    * integer-exact kmeans chain, so the oracle replays it verbatim. */
  def kmeansRecall(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).localCheckpoint() // exact pass + both probe sides
    val clustered = c.join(
      kmeansAssignments(spark, dir).select(col("vec_id"), col("c")), Seq("vec_id"))
      .localCheckpoint()
    val q = clustered.filter(col("vec_id") < 10)
    hitCounts(bruteforceOn(q, c, 3), vecTopK(q, clustered, Some("c"), 3), "qid")
      .withColumn("recall_at_3", recallOf)
      .orderBy("qid")
  }

  /** Probe fan-out of the multi-probe search: each query visits its
    * MultiProbeP closest trained clusters (of 10). Chosen by measured
    * recall@3 sweep (P=4: 0.60-0.77, P=5: 0.77-0.83, P=6: 0.87-0.93
    * across sf0.001/0.01/0.1 — the label-seeded Euclidean clusters align
    * only weakly with cosine neighborhoods, so hitting the 0.8 target
    * takes P=6 of k=10; at corpus scale k grows ~sqrt(n) and P/k shrinks
    * accordingly). Pinned in the query OUTPUT (n_probed) so the oracle
    * checks the bound, and in SimilaritySpec. */
  val MultiProbeP = 6

  /** Trained codebook of the FINAL two-round-Lloyd assignment: (c, i, cS,
    * n), k x 64 rows — the static side of the multi-probe search.
    * KmeansModelSpec checks that a warm deploy equals the cold train. */
  def trainedCodebook(spark: SparkSession, dir: String): DataFrame =
    kmModel(spark, dir, kmDims(spark, dir))._2 // warm: no Lloyd work, no corpus scan

  /** TOPIC DISCOVERY (ta_topics) — the BERTopic-lite corpus-exploration
    * deliverable: cluster the embedded docs with the trained k-means
    * chain (doc_id and vec_id aligned by the driver contract — the
    * ann_hybrid rule; at SFs where only a prefix of docs is embedded,
    * the topic table covers the embedded subset, honestly), then label
    * each cluster with its 3 most DISTINCTIVE terms by c-TF-IDF-style
    * lift — cluster term share vs corpus term share as the ta_cooccur
    * staged integer division (raw counts would label every cluster with
    * the same common words; lift surfaces what makes a cluster itself).
    * Output: (cluster, n_docs, rank, term, lift) — the table a corpus
    * curator reads first.
    *
    * Scale: the training chain is the audited k-means; term counts are
    * map-side-combinable on (cluster, word) and word keys; the one-row
    * token total cross-joins (gr_triangles shape); the per-cluster
    * top-3 window fans in vocabulary-bounded rows. */
  def topics(spark: SparkSession, dir: String): DataFrame = {
    val (_, assignFull) = kmeansChain(spark, dir)
    val assign = assignFull.select(col("vec_id").as("doc_id"), col("c"))
      .localCheckpoint() // word join + cluster sizes
    val words = graft.sources.Tables.documents(spark, dir)
      .join(assign, Seq("doc_id"))
      .select(col("c"), explode(split(col("text"), " ")).as("w"))
      .localCheckpoint() // three count consumers
    val cw = words.groupBy("c", "w").agg(count(lit(1)).as("cwc"))
    val nc = words.groupBy("c").agg(count(lit(1)).as("n_c"))
    val cwAll = words.groupBy("w").agg(count(lit(1)).as("cw"))
    val nt = cwAll.agg(sum(col("cw")).as("n_tot"))
    val nDocs = assign.groupBy("c").agg(count(lit(1)).as("n_docs"))
    val wR = Window.partitionBy("c").orderBy(col("lift_x100").desc, col("w").asc)
    cw.join(nc, Seq("c")).join(cwAll, Seq("w")).crossJoin(broadcast(nt))
      .withColumn("lift_x100",
        expr("((1000000 * cwc) div n_c) * n_tot div (10000 * cw)"))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= 3)
      .join(nDocs, Seq("c"))
      .select(col("c").as("cluster"), col("n_docs"), col("rank").cast("long").as("rank"),
        col("w").as("term"), col("lift_x100"))
      .orderBy("cluster", "rank")
  }

  /** Evaluation cuts of ann_recall_curve. */
  val RecallCurveKs = Seq(1, 3, 5, 10)

  /** RECALL CURVE (ann_recall_curve) — recall@{1,3,5,10} of the trained
    * multi-probe index in ONE query: the evaluation deliverable an ANN
    * deployment actually publishes (a single recall@3 hides whether the
    * index fails at the head — k=1, ranking quality — or the tail —
    * k=10, candidate coverage). Same trained-k-means probe set as
    * ann_multiprobe (P closest clusters by the exact-integer Lloyd
    * distance), approx and exact rankings carried to rank 10, then each
    * k cut evaluates |exact@k ∩ approx@k| / k. Re-running the training
    * chain inside an evaluation query is the ann_kmeans_recall
    * sanctioned shape; the k explode touches only the 100-row rank
    * frame.
    *
    * Scale: identical to ann_multiprobe's audit — bounded broadcasts
    * (codebook, probed query set), cluster-key candidate join =
    * partition pruning on a clustered layout, exact pass only for the
    * bounded sample. */
  def recallCurve(spark: SparkSession, dir: String): DataFrame = {
    val (dims, assignFull, cb) = kmeansFull(spark, dir) // cb = serving codebook (artifact-warm: zero Lloyd work)
    val assign = assignFull.select(col("vec_id"), col("c")).localCheckpoint()
    val c = corpus(spark, dir).localCheckpoint() // exact pass + both probe sides
    val clustered = c.join(assign, Seq("vec_id")).localCheckpoint()
    val q = clustered.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      .join(probesOf(dims, cb), Seq("qid"))
    val kMax = RecallCurveKs.max
    val approx = cosineTopK(q, clustered.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"), col("c")), Some("c"), kMax, "arank")
      .select(col("qid"), col("cid"), col("arank"))
    val exact = bruteforceOn(c.filter(col("vec_id") < 10), c, kMax)
      .select(col("qid"), col("cid"), col("rank").as("erank"))
    exact.join(approx, Seq("qid", "cid"), "left_outer")
      .withColumn("k", explode(expr(
        RecallCurveKs.mkString("array(", ", ", ")"))))
      .filter(col("erank") <= col("k"))
      .groupBy("qid", "k")
      .agg(sum(when(col("arank") <= col("k"), 1L).otherwise(0L)).as("n_hits"))
      .withColumn("recall_at_k", r4(col("n_hits").cast("double") / col("k")))
      .select(col("qid"), col("k").cast("long").as("k"), col("n_hits"),
        col("recall_at_k"))
      .orderBy("qid", "k")
  }

  /** Multi-probe IVF search (the fix for ann_kmeans_recall's measured ~0.2
    * recall@3 of single-cluster probing): rank ALL k trained centroids per
    * query by the SAME exact-integer distance the Lloyd rounds use
    * (p = sum_i (xq_i*n - S_i)^2, compare p/n^2 — one correctly-rounded
    * double division, bit-portable), probe the closest MultiProbeP
    * clusters, exact-cosine rerank within the probed union. The standard
    * IVF nprobe>1 trade: ~P/k of the corpus scanned instead of 1/k, recall
    * jumps from ~0.2 to ~0.9 (measured; spec-pinned >= 0.8 mean).
    *
    * At 100 TB: the codebook is k x 64 tiny rows (broadcast); centroid
    * ranking is per-query O(k) behind that broadcast — no shuffle; the
    * candidate scan partitions on the cluster key and reads only the P
    * probed partitions per query (partition pruning on a clustered layout),
    * exactly how a disk-resident IVF index shards. Probe pairs are BOUNDED
    * at queries x P by construction — n_probed in the output proves it. */
  def multiprobe(spark: SparkSession, dir: String): DataFrame = {
    // cb = trained codebook of the FINAL assignment, (c, i, cS, n), k x 64
    // rows — the artifact-backed serving codebook (warm: read, not rebuilt)
    val (dims, assignFull, cb) = kmeansFull(spark, dir)
    val assign = assignFull.select(col("vec_id"), col("c")).localCheckpoint()
    val c = corpus(spark, dir).localCheckpoint() // exact pass + both probe sides
    val clustered = c.join(assign, Seq("vec_id")).localCheckpoint()
    val probes = probesOf(dims, cb)
    // (qid, qv, qn, c): MultiProbeP rows per query, still broadcast-sized
    val q = clustered.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      .join(probes, Seq("qid"))
    // every corpus vector lives in exactly one cluster, so a (qid, cid)
    // candidate pair appears at most once across the probed buckets
    val approx = cosineTopK(q, clustered.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("c")), Some("c"), 3)
    val nProbed = probes.groupBy("qid").agg(count(lit(1)).as("n_probed"))
    hitCounts(bruteforceOn(c.filter(col("vec_id") < 10), c, 3), approx, "qid")
      .join(nProbed, Seq("qid"))
      .withColumn("recall_at_3", recallOf)
      .select("qid", "n_probed", "n_exact", "n_hits", "recall_at_3")
      .orderBy("qid")
  }

  /** IVF + PQ + exact rerank — the three-tier retrieval shape a 100 TB
    * corpus actually deploys (FAISS IVFPQ): the trained-k-means coarse
    * quantizer prunes the corpus to the query's MultiProbeP closest
    * clusters (~P/k of the data), PQ asymmetric distance scores only
    * those candidates against the subspace-codebook reconstruction
    * (reading 2 code bytes + a broadcast codebook instead of the raw
    * 64-float vector), and the approx top-10 get one exact-cosine rerank.
    *
    * Determinism: both quantizers run the repo's exact-integer argmin
    * (p = sum (xq*n - cS)^2, compare p/n^2 — single correctly-rounded
    * double division, ties by id), reconstruction values are exact
    * quotients cS/n, and the approx/exact scores are the same
    * left-to-right fold both engines run — so the full three-tier
    * cascade hash-matches the DuckDB oracle, which replays the Lloyd
    * rounds + codebook as chained CTEs.
    *
    * Scale: both codebooks are tiny broadcasts (k x 64 and labels x 64);
    * the candidate scan joins on the cluster key — on a cluster-
    * partitioned layout that is partition pruning, P/k of the corpus
    * read, no shuffle of the big side; candidate pairs are BOUNDED at
    * queries x P clusters (n_cand in the output proves the prune: at
    * P=6 of k=10 it must be strictly under the corpus size).
    *
    * Accepted-risk notes (the two float/overflow edges this cascade
    * inherits):
    *  - p = SUM((xq*n - cS)^2) accumulates as BIGINT on both engines;
    *    exactness (and Spark-vs-DuckDB agreement — sum(long) wraps vs
    *    HUGEINT promotion, the zs_idw class) holds only while p < 2^63,
    *    i.e. ~15k vectors per trained cluster / PQ label at milli-unit
    *    coords. Past that, train the quantizers on a sample (the real
    *    deployment) or move the accumulation to DECIMAL(38,0).
    *  - the approx_rank<=10 cut (and the emitted approx_rank) order by a
    *    double quotient, not exact integers: inputs are exact and the
    *    fold order matches the oracle, so it hash-matches through sf0.1,
    *    but a near-tie at the rank-10 boundary could flip cross-engine
    *    at much larger corpora (the zs_hexbin class). Same accepted
    *    float-ordered-rank posture as cos_sim ranking everywhere else;
    *    the exact rerank tier bounds the blast radius to candidate
    *    selection, never final scores. */
  def ivfpq(spark: SparkSession, dir: String): DataFrame = {
    val (dims, assignFull, cbiv) = kmeansFull(spark, dir) // cbiv = serving codebook
    // §2.6 overlap: the assignment probe (checkpointed dims + local
    // codebook), the corpus read, and the PQ subspace codebook rollup
    // (checkpointed dims) are three independent eager jobs
    val sdims = dims.withColumn("s", expr("i div 32"))
    val Seq(assign, c, cbq) = Par.run(Seq[() => DataFrame](
      () => assignFull.select(col("vec_id"), col("c")).localCheckpoint(),
      () => corpus(spark, dir).localCheckpoint(), // queries + rerank + cand norms
      () => pqCodebook(sdims)
        .localCheckpoint())) // labels x 64 rows; probed by every corpus dim
    // --- PQ tier: label-subspace codebook, codes, reconstruction (ann_pq) ---
    val rec = pqRecon(sdims, cbq)
    // --- IVF tier: rank trained centroids per query, probe top-P (ann_multiprobe) ---
    // (qid, qv, qn, c): MultiProbeP rows per query — broadcast-sized
    val q = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      .join(probesOf(dims, cbiv), Seq("qid"))
    // --- cascade: probed clusters -> PQ approx -> exact rerank ---
    val cand = annPairs(q, rec.join(assign, Seq("vec_id"))
        .join(c.select(col("vec_id"), col("nrm").as("cn")), Seq("vec_id"))
        .withColumnRenamed("vec_id", "cid"), Some("c"))
      // native codegen fold (float qv x double rec) — same left-to-right
      // accumulation as the declarative aggregate() it replaced, but inside
      // whole-stage codegen: this scan over the probed corpus fraction IS
      // the dominant IVFPQ cost at scale.
      .withColumn("approx", cosine(b = "rec"))
      .localCheckpoint() // feeds both the per-query count and the ranking
    val nc = cand.groupBy("qid").agg(count(lit(1)).as("n_cand"))
    cand
      .transform(topK("approx", 10, "approx_rank", long = true))
      .join(c.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn2")), Seq("cid"))
      .withColumn("cos", cosine(nb = "cn2"))
      .transform(topK("cos", 3, long = true))
      .join(nc, Seq("qid"))
      .select(col("qid"), col("rank"), col("cid"), r4(col("cos")).as("cos_sim"),
        col("approx_rank"), col("n_cand"))
      .orderBy("qid", "rank")
  }

  /** SemDeDup (Abbas et al. 2023) — semantic dedup on TRAINED clusters:
    * k-means partitions the corpus, exact pairwise cosine runs ONLY
    * within a cluster, and each doc similar (>= 0.4, this corpus's
    * non-trivial band — max pairwise cosine ~0.48) to a lower-id
    * cluster-mate is dropped, keeping the LOWEST such id (greedy
    * keep-first — deterministic, no iteration). Output: one row per
    * dropped doc with its keeper, cluster, and similarity.
    *
    * vs dd_embed_cosine: same exact-cosine core, but the candidate
    * generator is the TRAINED coarse quantizer, not random hyperplanes —
    * semantically-close pairs that land in different random-sign buckets
    * are still caught. Scale: pair work is sum n_c^2 over clusters,
    * never N^2; a deployment picks k ~ N/target-cluster-size so
    * per-cluster pair counts stay bounded as the corpus grows (k=10 here
    * only because the oracle replays the shared two-Lloyd-round chain).
    * Same accepted float-threshold risk as dd_embed_cosine (identical
    * fold both engines, threshold compare on a double). */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
      .join(kmeansAssignments(spark, dir).select(col("vec_id"), col("c")), Seq("vec_id"))
      .localCheckpoint() // both self-join sides
    val pairs = e.as("x").join(e.as("y"),
        col("x.c") === col("y.c") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"), col("x.vec_id").as("va"),
        col("x.c").as("cluster"),
        cosine("x.embedding", "y.embedding", "x.nrm", "y.nrm").as("cos"))
      .filter(col("cos") >= lit(0.4))
    pairs.groupBy("vec_id")
      .agg(min(struct(col("va"), col("cluster"), col("cos"))).as("k"))
      .select(col("vec_id"), col("k.va").as("kept_by"),
        col("k.cluster").as("cluster"), r4(col("k.cos")).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** Metadata-FILTERED retrieval — the "filtered search" feature every
    * production vector store ships (same-language / same-tenant / ACL
    * retrieval): top-3 cosine neighbors among corpus vectors sharing the
    * QUERY's label, the predicate applied in the join condition BEFORE
    * any distance work (pre-filtering — post-filtering a global top-k
    * loses recall whenever the filter is selective, the classic
    * filtered-ANN pitfall). Exact within the filtered subset, so fully
    * oracle-checkable.
    *
    * Scale: the label predicate composes with the bucketed index tiers —
    * on a (label, cell)-clustered layout the filter IS partition pruning
    * (parquet min/max statistics); here the queries are a bounded
    * broadcast and the corpus pass stays one scan. */
  def filtered(spark: SparkSession, dir: String): DataFrame = {
    val c = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"), norm("embedding").as("nrm"), col("label"))
      .localCheckpoint() // reused: query + corpus side
    val q = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("label"))
    cosineTopK(q, c.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"), col("label")), Some("label"), 3, long = true)
      .select(col("qid"), col("rank"), col("cid"), col("label"),
        r4(col("cos")).as("cos_sim"))
      .orderBy("qid", "rank")
  }

  /** Retrieval depth / fused depth of ann_hybrid. */
  val HybridK = 20
  val HybridKf = 5

  /** HYBRID retrieval with reciprocal-rank fusion — the
    * keyword-plus-vector search every production RAG stack runs: a
    * keyword ranking (rare-term-weighted exact-integer score — the idf
    * surrogate 100000 div df(w) summed over DISTINCT shared words, no
    * logs so both engines agree bit-for-bit) and a vector ranking
    * (exact cosine, the established cross-engine fold) each retrieve
    * top-20, and RRF (Cormack et al. 2009) fuses them:
    * 10000 div (60 + rank) per list, summed, top-5 — rank fusion needs
    * no score calibration between the two modalities, which is exactly
    * why RRF is the production default. doc_id and vec_id are aligned
    * by construction in the driver testdata (both 0..N-1 over the same
    * corpus; the oracle joins the same way, so a drift would mismatch
    * loudly at the gate).
    *
    * Scale: the keyword side is the inverted-index shape (distinct
    * (doc, word) postings shuffle on the word key; a deployment df-caps
    * stopwords — the ta_boilerplate pattern); the vector side broadcasts
    * the bounded query set; fusion is a full-outer join of two
    * <= 20-row-per-query lists — negligible. */
  def hybrid(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val words = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
      .localCheckpoint() // consumers: df counts, query side, corpus side
    val dfw = words.groupBy("w").agg(count(lit(1)).as("df"))
    val qw = words.filter(col("doc_id") < HybridKf)
      .select(col("doc_id").as("qid"), col("w"))
    val kw = qw
      .join(words.withColumnRenamed("doc_id", "cid"), Seq("w"))
      .filter(col("qid") =!= col("cid"))
      .join(dfw, Seq("w"))
      .groupBy("qid", "cid").agg(sum(expr("100000 div df")).as("kw_score"))
      .transform(topK("kw_score", HybridK, "rk", long = true))
    val c = corpus(spark, dir).localCheckpoint() // query + corpus side
    val vq = c.filter(col("vec_id") < HybridKf)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val vec = cosineTopK(vq, c.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn")), None, HybridK, "rv", long = true)
    kw.select(col("qid"), col("cid"), col("rk"))
      .join(vec.select(col("qid"), col("cid"), col("rv")), Seq("qid", "cid"), "full_outer")
      .withColumn("rrf_x10000", expr(
        "coalesce(10000 div (60 + rk), 0L) + coalesce(10000 div (60 + rv), 0L)"))
      .transform(topK("rrf_x10000", HybridKf, long = true))
      .select(col("qid"), col("rank"), col("cid"), col("rrf_x10000"),
        coalesce(col("rk"), lit(0L)).as("kw_rank"),
        coalesce(col("rv"), lit(0L)).as("vec_rank"))
      .orderBy("qid", "rank")
  }

  /** ANN SERVING CAPSTONE (pipe_ann) — the retrieval sibling of
    * pipe_curation/pipe_dedup: one query that runs the whole index
    * lifecycle end to end and reports the per-stage accounting a serving
    * deployment publishes after every build. Stages (one row each; stat
    * semantics per stage):
    *   1 embed  — corpus ingested: n_rows = vectors, stat = dimensionality;
    *   2 train  — trained quantizer (the ann_kmeans two-round-Lloyd chain):
    *              n_rows = clusters, stat = total inertia floor
    *              (sum of p div n^2 — integer-exact);
    *   3 index  — IVF posting lists built: n_rows = postings (= vectors,
    *              every vector lives in exactly one list), stat = hottest
    *              posting-list length (the skew gauge a deployment
    *              monitors before sharding);
    *   4 serve  — batch-serve the bounded query set through the
    *              multi-probe index (P = MultiProbeP closest clusters by
    *              the exact-integer Lloyd distance): n_rows = candidate
    *              pairs scanned (the bounded queries x probed-postings
    *              set — THE approximate-search cost knob), stat = top-10
    *              results returned;
    *   5 eval   — recall readout against the exact top-3 baseline
    *              (ann_recall shape): n_rows = queries evaluated, stat =
    *              total hits (the integer numerator of recall@3).
    * Every number is a count or an exact-integer aggregate, so the DuckDB
    * oracle replays the identical composition bit-for-bit.
    *
    * Scale: the stages ARE the audited cores — checkpointed shared frames
    * (corpus, clustered, candidates, served each have exactly the
    * consumers annotated), broadcast codebook + broadcast bounded query
    * set, candidate join on the cluster key (partition pruning on a
    * clustered layout), exact pass only for the bounded sample. The five
    * one-row stage aggregates union into ONE job. */
  def pipeAnn(spark: SparkSession, dir: String): DataFrame = {
    val (dims, assignFull, cb) = kmeansFull(spark, dir) // cb = serving codebook
    // §2.6 overlap: the warm-path assignment probe (reads checkpointed
    // dims + the local codebook) and the corpus read are independent
    val (assign, c) = Par.run2(
      () => assignFull.select(col("vec_id"), col("c")).localCheckpoint(),
      () => corpus(spark, dir).localCheckpoint()) // stage-1 count + exact pass + both probe sides
    val clustered = c.join(assign, Seq("vec_id"))
      .localCheckpoint() // stage-3 counts + candidate side + query side
    val q = clustered.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      .join(probesOf(dims, cb), Seq("qid"))
    // §2.6 overlap: the serve lane (candidates -> ranked results, reads
    // clustered/dims/cb) and the exact-baseline pass (reads only c) are
    // independent eager chains — run them concurrently so the exact
    // scan back-fills the serve lane's stage tails
    val ((cand, served), exact) = Par.run2(
      () => {
        val cd = annPairs(q, clustered.select(col("vec_id").as("cid"), col("embedding").as("cv"),
            col("nrm").as("cn"), col("c")), Some("c"))
          .localCheckpoint() // stage-4 count + serve ranking
        val sv = cd
          .withColumn("cos", cosine())
          .transform(topK("cos", 10))
          .select(col("qid"), col("cid"), col("rank"))
          .localCheckpoint() // stage-4 stat + eval join
        (cd, sv)
      },
      () => bruteforceOn(c.filter(col("vec_id") < 10), c, 3)
        .select(col("qid"), col("cid"))
        .localCheckpoint()) // stage-5 count + hit join
    def stage(id: Long, name: String, nRows: DataFrame, stat: DataFrame): DataFrame =
      nRows.withColumnRenamed(nRows.columns.head, "n_rows")
        .crossJoin(stat.withColumnRenamed(stat.columns.head, "stat"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("n_rows").cast("long"), col("stat").cast("long"))
    val postings = clustered.groupBy("c").agg(count(lit(1)).as("len"))
    Seq(
      stage(1L, "embed", c.agg(count(lit(1))), c.agg(max(size(col("embedding"))))),
      stage(2L, "train", assignFull.agg(countDistinct(col("c"))),
        assignFull.agg(sum(expr("p div (n * n)")))),
      stage(3L, "index", clustered.agg(count(lit(1))), postings.agg(max(col("len")))),
      stage(4L, "serve", cand.agg(count(lit(1))), served.agg(count(lit(1)))),
      stage(5L, "eval", exact.agg(countDistinct(col("qid"))),
        exact.join(served.filter(col("rank") <= 3), Seq("qid", "cid"))
          .agg(count(lit(1)))))
      .reduce(_ unionByName _)
      .orderBy("stage_id")
  }

  /** INDEX-TIER COMPARISON (ann_tier_compare) — the cost/recall frontier
    * an ANN deployment reads to PICK an index: every retrieval tier the
    * engine ships (brute force, sign-LSH, grid-IVF, trained multi-probe)
    * evaluated on the same query set in one table — candidates scanned
    * (the cost axis), results returned, hits against the exact top-3,
    * recall x10000. The brute row anchors the frontier (full scan,
    * recall 1); the tiers show what each pruning strategy buys. All
    * counts and the scaled recall are exact integers.
    *
    * Scale: each tier's candidate set is the audited shape of its
    * standalone query (broadcast bounded queries; bucket/cell/cluster
    * equi-joins = partition pruning on the respective layouts); the
    * comparison adds only one-row aggregates per tier, unioned into one
    * job. */
  def tierCompare(spark: SparkSession, dir: String): DataFrame = {
    val (dims, assignFull, cb) = kmeansFull(spark, dir) // cb = serving codebook
    val assign = assignFull.select(col("vec_id"), col("c")).localCheckpoint()
    val c = corpus(spark, dir)
      .withColumn("bucket", bucket("embedding"))
      .withColumn("cell", expr(cellExpr("embedding")))
      .localCheckpoint() // all four tier corpus sides + query side + exact pass
    val clustered = c.join(assign, Seq("vec_id")).localCheckpoint()
    val qb = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"),
        col("bucket"), col("cell"))
      .localCheckpoint() // one per tier
    val exact = bruteforceOn(c.filter(col("vec_id") < 10), c, 3)
      .select(col("qid"), col("cid"))
      .localCheckpoint() // denominator + four hit joins
    val nEx = exact.agg(count(lit(1)).as("n_exact")).localCheckpoint()
    val corp = c.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("bucket"), col("cell"))
    def tierRow(name: String, cand0: DataFrame): DataFrame = {
      val cand = cand0.localCheckpoint() // candidate count + ranking
      val top3 = cand
        .withColumn("cos", cosine())
        .transform(topK("cos", 3))
        .select(col("qid"), col("cid"))
        .localCheckpoint() // result count + hit join
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(top3.agg(count(lit(1)).as("n_results")))
        .crossJoin(top3.join(exact, Seq("qid", "cid")).agg(count(lit(1)).as("n_hits")))
        .crossJoin(nEx)
        .select(lit(name).as("tier"), col("n_candidates"), col("n_results"),
          col("n_hits"), expr("(10000 * n_hits) div n_exact").as("recall_x10000"))
    }
    def keyed(k: String): DataFrame = annPairs(qb.select(col("qid"), col("qv"), col("qn"), col(k)),
      corp.select(col("cid"), col("cv"), col("cn"), col(k)), Some(k))
    val brute = annPairs(qb.select(col("qid"), col("qv"), col("qn")),
      corp.select(col("cid"), col("cv"), col("cn")))
    val mpCand = annPairs(qb.select(col("qid"), col("qv"), col("qn")).join(probesOf(dims, cb), Seq("qid")),
      clustered.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn"), col("c")),
      Some("c"))
    // the four tiers are independent eager pipelines over checkpointed
    // parents (c, clustered, qb, exact, nEx) — submit them concurrently so
    // each tier's checkpoint jobs back-fill the others' tails (guide §2.6);
    // rows and union order are unchanged
    Par.run(Seq(
      () => tierRow("1_brute", brute),
      () => tierRow("2_lsh", keyed("bucket")),
      () => tierRow("3_ivf", keyed("cell")),
      () => tierRow("4_multiprobe", mpCand)))
      .reduce(_ unionByName _)
      .orderBy("tier")
  }

  /** Tombstone predicate of ann_delete: every 7th vector is deleted. */
  val DeleteModulus = 7L

  /** INDEX MAINTENANCE (ann_delete) — the serving lifecycle's missing
    * verb next to pipe_ann (build) and ann_tier_compare (pick): DELETES
    * against a live IVF index. Production vector stores never rewrite
    * the index per delete — they TOMBSTONE (the row stays in its posting
    * list, flagged dead, filtered at serve time) and COMPACT later
    * (rewrite posting lists without the dead rows) once the tombstone
    * ratio justifies the IO. This query runs both phases and publishes
    * the report a maintenance job ships: per posting list (the 16-cell
    * grid IVF), live/tombstone counts (the compaction-trigger gauge),
    * results served from that list by the compacted index, and serve
    * PARITY — the count of (qid, rank, cid) triples identical between
    * the tombstone-filtered serve over the FULL index and the serve over
    * the COMPACTED index. Parity == served is the invariant that makes
    * compaction safe to run online, and the oracle pins exactly that
    * (its n_match column IS the served count); any divergence between
    * the two physical paths breaks the hash. The deleted set is the
    * deterministic batch vec_id % DeleteModulus == 3.
    *
    * Scale: tombstoning is a row-wise flag (no shuffle); compaction is
    * the filter+rewrite of only the posting lists holding tombstones
    * (here: one localCheckpoint materializes the rewritten index — on a
    * clustered layout it is a partition-scoped rewrite, io_merge's
    * touched-partition rule); both serves are the audited bucketed-ANN
    * shape (bounded query broadcast, cell equi-join = partition
    * pruning); the report is three map-side-combinable rollups on <= 16
    * cell keys. */
  def annDelete(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
      .withColumn("cell", expr(cellExpr("embedding")))
      .withColumn("tomb", pmod(col("vec_id"), lit(DeleteModulus)) === lit(3L))
      .localCheckpoint() // cell stats + query side + both serve corpus sides
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("cell"))
    def serve(index: DataFrame): DataFrame =
      cosineTopK(q, index.select(col("vec_id").as("cid"), col("embedding").as("cv"),
          col("cn"), col("cell")), Some("cell"), 3, long = true)
        .select(col("qid"), col("rank"), col("cid"), col("cell"))
    // phase 1: tombstones filtered at serve time, full index scanned
    val pre = serve(e.withColumnRenamed("nrm", "cn").filter(!col("tomb")))
    // phase 2: compacted index — dead rows physically rewritten away
    // (localCheckpoint materializes the rewrite; serve reads only it)
    val compacted = e.filter(!col("tomb")).withColumnRenamed("nrm", "cn")
      .localCheckpoint()
    val post = serve(compacted).localCheckpoint() // served rollup + parity join
    val cellStats = e.groupBy("cell").agg(
      sum(when(col("tomb"), 0L).otherwise(1L)).as("n_live"),
      sum(when(col("tomb"), 1L).otherwise(0L)).as("n_tombstone"))
    val served = post.groupBy("cell").agg(count(lit(1)).as("n_served"))
    val parity = pre.join(post, Seq("qid", "rank", "cid", "cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_match"))
    cellStats
      .join(served, Seq("cell"), "left_outer")
      .join(parity, Seq("cell"), "left_outer")
      .select(col("cell"), col("n_live"), col("n_tombstone"),
        coalesce(col("n_served"), lit(0L)).as("n_served"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .orderBy("cell")
  }

  /** Stale-snapshot predicate of ann_refresh: even vec_ids are the vectors
    * that already existed when the index was trained (the deterministic
    * stand-in for "the corpus has doubled since training"). */
  val StaleModulus = 2L

  /** INDEX REFRESH GAUGE (ann_refresh) — the last verb of the serving
    * lifecycle: pipe_ann builds, ann_tier_compare picks, ann_delete
    * deletes, and THIS decides when to RETRAIN. A quantizer trained on a
    * stale snapshot (even vec_ids) keeps serving as the corpus doubles;
    * the refresh decision weighs the distortion of the full corpus under
    * the STALE codebook against one Lloyd refresh round over the full
    * corpus, plus the migration cost (vectors that change posting list —
    * each is an index rewrite at refresh time). Per cluster: members +
    * integer-floor distortion under both codebooks and movers-out. All
    * arithmetic is the ann_kmeans exact-integer Lloyd machinery (scaled
    * milli-unit coordinates, (sum, count) centroids, p/n^2 compared as
    * the IEEE-identical double ratio of identical BIGINTs), so DuckDB
    * replays the full train→deploy→refresh chain bit-identically.
    *
    * Scale: the exploded dims table is checkpointed once and shared by
    * all four Lloyd stages; every codebook is <= k x 64 rows and
    * broadcast; per-stage traffic is one map-side-combinable (c, i)
    * aggregate — the same profile as ann_kmeans, ~2x the stages. The
    * churn join is a co-partitioned equi-join on vec_id. */
  def annRefresh(spark: SparkSession, dir: String): DataFrame = {
    val dims = kmDims(spark, dir) // shared by all Lloyd stages + churn sides
    // deploy the STALE codebook over the FULL corpus (what serving does
    // today — the codebook is its own fingerprint-keyed artifact, trained
    // once), then run ONE refresh Lloyd update over the full corpus
    val aStale = kmReassign(dims, staleCodebookFor(spark, dir, dims))
      .localCheckpoint() // stats + fresh centroid build + churn side
    val aFresh = kmReassign(dims, kmCentroids(dims, aStale.select("vec_id", "c")))
      .localCheckpoint() // stats + churn side
    def stats(a: DataFrame, nCol: String, iCol: String): DataFrame = a
      .withColumn("pf", expr("p div (n * n)"))
      .groupBy(col("c").as("cluster"))
      .agg(count(lit(1)).as(nCol), sum("pf").as(iCol))
    val churn = aStale.select(col("vec_id"), col("c").as("cluster"))
      .join(aFresh.select(col("vec_id"), col("c").as("cf")), Seq("vec_id"))
      .filter(col("cluster") =!= col("cf"))
      .groupBy("cluster").agg(count(lit(1)).as("n_moved_out"))
    stats(aStale, "n_stale", "inertia_stale")
      .join(stats(aFresh, "n_fresh", "inertia_fresh"), Seq("cluster"), "full_outer")
      .join(churn, Seq("cluster"), "left_outer")
      .select(col("cluster"),
        coalesce(col("n_stale"), lit(0L)).as("n_stale"),
        coalesce(col("inertia_stale"), lit(0L)).as("inertia_stale"),
        coalesce(col("n_fresh"), lit(0L)).as("n_fresh"),
        coalesce(col("inertia_fresh"), lit(0L)).as("inertia_fresh"),
        coalesce(col("n_moved_out"), lit(0L)).as("n_moved_out"))
      .orderBy("cluster")
  }

  /** Near-dup exclusion threshold of ann_hard_negatives: candidates at or
    * above this cosine are presumed positives/duplicates, not negatives. */
  val HardNegCos = 0.95

  /** HARD-NEGATIVE MINING (ann_hard_negatives) — the contrastive-training
    * counterpart of ta_pair_mine: that query samples RANDOM negatives per
    * (anchor, positive) pair; this one mines HARD negatives — the closest
    * non-duplicate neighbors (DPR/ANCE recipe: negatives near the decision
    * boundary train retrieval models; random ones are too easy). Per
    * bounded query: top-3 candidates by cosine BELOW the dup-exclusion
    * band (cos < HardNegCos; at/above it a candidate is a presumed
    * positive), plus n_excluded — how many near-dups the miner skipped
    * (the audit column that distinguishes "no positives nearby" from
    * "positives correctly excluded"). The cosine compare is safe
    * cross-engine because the dot fold is bit-identical by construction
    * (the ann_range precedent).
    *
    * Scale: the audited bucketed-ANN serve (bounded query broadcast, cell
    * equi-join = partition pruning); the candidate frame is checkpointed
    * once for the exclusion count and the ranked keep. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
      .withColumn("cell", expr(cellExpr("embedding")))
      .localCheckpoint() // query side + candidate side
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("cell"))
    val cand = annPairs(q, e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"), col("cell")), Some("cell"))
      .withColumn("cos", cosine())
      .localCheckpoint() // exclusion count + ranked keep both read it
    val excluded = cand.filter(col("cos") >= lit(HardNegCos))
      .groupBy("qid").agg(count(lit(1)).as("n_excluded"))
    cand.filter(col("cos") < lit(HardNegCos))
      .transform(topK("cos", 3, long = true))
      .join(excluded, Seq("qid"), "left_outer")
      .select(col("qid"), col("rank"), col("cid"),
        coalesce(col("n_excluded"), lit(0L)).as("n_excluded"))
      .orderBy("qid", "rank")
  }

  /** CROSS-MODAL ALIGNMENT EVAL (mm_align) — the CLIP-style paired-
    * retrieval check a multimodal corpus build runs before training:
    * split the embedding table into a "text" side (even vec_ids) and an
    * "image" side (odd vec_ids) with ground-truth pair (t, t+1) — the
    * deterministic modality stand-in, mm stub doctrine — then for 40
    * text queries retrieve the top-5 images by cosine and report
    * recall@1 / recall@5 of the true pair per label bucket. A corpus
    * whose pairs don't rank near the top has an alignment problem the
    * trainer will inherit.
    *
    * Determinism: cosines ride the bit-identical vector_dot fold; ranks
    * tie-break (cos desc, cid) — the ann_recall discipline throughout.
    *
    * Scale: the sanctioned bounded-broadcast exact pass (40 queries x
    * image side, one corpus scan), ranked per query — at scale the scan
    * side composes with the IVF tiers exactly like ann_recall does. */
  def mmAlign(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"),
        norm("embedding").as("nrm"))
      .localCheckpoint() // text query side + image corpus side
    val q = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 80)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("label"))
    val img = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn"))
    val ranked = cosineTopK(q, img, None, 5, long = true)
      .withColumn("pair_rank", when(col("cid") === col("qid") + 1L, col("rank")))
      .groupBy("qid", "label")
      .agg(min(col("pair_rank")).as("pr")) // null if the pair missed top-5
    ranked
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pr") === 1L, 1L).otherwise(0L)).as("hits_at_1"),
        sum(when(col("pr").isNotNull, 1L).otherwise(0L)).as("hits_at_5"))
      .orderBy("label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_align" -> (mmAlign _),
    "ann_hard_negatives" -> (hardNegatives _),
    "ann_refresh" -> (annRefresh _),
    "ann_delete" -> (annDelete _),
    "ann_tier_compare" -> (tierCompare _),
    "pipe_ann" -> (pipeAnn _),
    "ann_hybrid" -> (hybrid _),
    "ann_filtered" -> (filtered _),
    "ta_topics" -> (topics _),
    "ann_recall_curve" -> (recallCurve _),
    "ann_nndescent" -> (nndescent _),
    "ann_graph_search" -> (graphSearch _),
    "ann_graph_refined" -> (graphRefined _),
    "ann_graph_layered" -> (graphLayered _),
    "ann_graph_recall" -> (graphRecall _),
    "ann_range" -> (rangeSearch _),
    "dd_semdedup" -> (semDedup _),
    "ann_ivfpq" -> (ivfpq _),
    "ann_multiprobe" -> (multiprobe _),
    "ann_kmeans_recall" -> (kmeansRecall _),
    "ann_kmeans" -> (kmeans _),
    "ann_pq" -> (pq _),
    "ann_mmr" -> (mmr _),
    "ann_sq" -> (sq _),
    "ann_recall" -> (recall _),
    "ann_bruteforce" -> (bruteforce _),
    "ann_lsh" -> (lsh _),
    "ann_ivf" -> (ivf _))

  /** DuckDB SQL: first 6 md5 hex chars (column `mh`) as an integer —
    * must encode the same convention as the Spark-side
    * md5Int(..., 6); shared by the
    * ann_nndescent and ann_graph_search graph-init oracles. */
  private def md5Hex6Sql: String = {
    val hex = (k: Int) => s"(strpos('0123456789abcdef', substr(mh, $k, 1)) - 1)"
    (1 to 6).map(hex).reduce((a, b) => s"($a * 16 + $b)")
  }

  private def annSql(candJoin: String, k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |$candJoin,
       |ranked AS (
       |  SELECT qid, cid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
       |  FROM cand
       |)
       |SELECT qid, rank, cid, ${graft.sources.Tables.r4Sql("cos")} AS cos_sim
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  private def codesSql(v: String): String =
    s"list_transform($v, x -> CAST(GREATEST(CAST(-8 AS DOUBLE), LEAST(CAST(7 AS DOUBLE), floor(x::DOUBLE * 16.0))) AS BIGINT))"

  private def reconDotSql(q: String, codes: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> " +
      s"$q[i]::DOUBLE * (($codes[i]::DOUBLE + 0.5) / 16.0)), (acc, v) -> acc + v)"

  /** The oracle unrolls the 5 greedy MMR steps as chained CTEs (a
    * recursive CTE with per-step argmax is not portable): step i scores
    * every unselected candidate against sel(i-1) and takes the
    * (score DESC, vec_id) head — exactly the driver loop. */
  private def mmrSql: String = {
    val steps = (2 to 5).map { i =>
      s"""m$i AS (
         |  SELECT c.vec_id,
         |    0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM p
         |      WHERE p.va = c.vec_id AND p.vb IN (SELECT vec_id FROM sel${i - 1})) AS score
         |  FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |),
         |s$i AS (SELECT vec_id, score FROM m$i ORDER BY score DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 to 5).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, vec_id, ${graft.sources.Tables.r4Sql("score")} AS mmr_score FROM s$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |qv AS (SELECT embedding AS v, nrm AS qn FROM e WHERE vec_id = 0),
       |c AS (
       |  SELECT vec_id, embedding, nrm, rel FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm,
       |      ${dotSql("e.embedding", "qv.v")} / (e.nrm * qv.qn) AS rel
       |    FROM e, qv WHERE e.vec_id <> 0)
       |  ORDER BY rel DESC, vec_id LIMIT 12
       |),
       |p AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
       |  FROM c a JOIN c b ON a.vec_id <> b.vec_id
       |),
       |s1 AS (SELECT vec_id, rel AS score FROM c ORDER BY rel DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |$steps
       |$union
       |ORDER BY step""".stripMargin
  }

  private def pqSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |dims AS (
       |  SELECT vec_id, label, j - 1 AS i, (j - 1) // 32 AS s,
       |    CAST(floor(embedding[j]::DOUBLE * 1000.0 + 0.5) AS BIGINT) AS xq
       |  FROM e0, (SELECT unnest(range(1, 65)) AS j)
       |),
       |cb AS (
       |  SELECT label AS cb_label, s, i, CAST(SUM(xq) AS BIGINT) AS cS, COUNT(*) AS n
       |  FROM dims GROUP BY 1, 2, 3
       |),
       |asg AS (
       |  SELECT d.vec_id, d.s, c.cb_label,
       |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
       |    MAX(c.n) AS n
       |  FROM dims d JOIN cb c ON d.s = c.s AND d.i = c.i
       |  GROUP BY 1, 2, 3
       |),
       |codes AS (
       |  SELECT vec_id, s, cb_label AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
       |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, cb_label ASC) AS rn
       |    FROM asg) WHERE rn = 1
       |),
       |recon AS (
       |  SELECT cb_label, s, list(CAST(cS AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS rvec
       |  FROM cb GROUP BY 1, 2
       |),
       |rec AS (
       |  SELECT c0.vec_id, r0.rvec || r1.rvec AS rec
       |  FROM codes c0
       |  JOIN recon r0 ON c0.s = 0 AND r0.s = 0 AND c0.code = r0.cb_label
       |  JOIN codes c1 ON c1.vec_id = c0.vec_id AND c1.s = 1
       |  JOIN recon r1 ON r1.s = 1 AND c1.code = r1.cb_label
       |),
       |cand AS (
       |  SELECT q.vec_id AS qid, x.vec_id AS cid,
       |    list_reduce(list_transform(range(1, 65),
       |      k -> q.embedding[k]::DOUBLE * x.rec[k]), (acc, v) -> acc + v)
       |      / (q.nrm * e.nrm) AS approx
       |  FROM e0 q JOIN rec x ON q.vec_id < 10 AND q.vec_id <> x.vec_id
       |  JOIN e0 e ON e.vec_id = x.vec_id
       |),
       |a AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY approx DESC, cid ASC) AS approx_rank
       |  FROM cand
       |),
       |r AS (
       |  SELECT a.qid, a.cid, a.approx_rank,
       |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY a.qid
       |      ORDER BY ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        a.cid ASC) AS rank
       |  FROM a JOIN e0 q ON q.vec_id = a.qid JOIN e0 c ON c.vec_id = a.cid
       |  WHERE a.approx_rank <= 10
       |)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, cid,
       |  ${graft.sources.Tables.r4Sql("cos")} AS cos_sim,
       |  CAST(approx_rank AS BIGINT) AS approx_rank
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** The WITH-body producing as2 (final kmeans assignment) — shared by
    * the kmeans summary oracle and the recall oracle. */
  /** ann_refresh oracle: the train(stale)→deploy(full)→refresh(full)
    * Lloyd chain replayed verbatim — same exact-integer machinery as
    * kmeansCtes, with the train and assignment target decoupled per
    * stage. */
  private def annRefreshSql: String = {
    def round(train: String, prev: String, target: String, out: String) =
      s"""cb_$out AS (
         |  SELECT $prev.c, d.i, CAST(SUM(d.xq) AS BIGINT) AS cS, COUNT(*) AS n
         |  FROM $train d JOIN $prev ON d.vec_id = $prev.vec_id GROUP BY 1, 2
         |),
         |pr_$out AS (
         |  SELECT d.vec_id, c.c,
         |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
         |    MAX(c.n) AS n
         |  FROM $target d JOIN cb_$out c ON d.i = c.i GROUP BY 1, 2
         |),
         |$out AS (
         |  SELECT vec_id, c, p, n FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, c ASC) AS rn
         |    FROM pr_$out) WHERE rn = 1
         |)""".stripMargin
    s"""WITH dims AS (
       |  SELECT vec_id, label, j - 1 AS i,
       |    CAST(floor(embedding[j]::DOUBLE * 1000.0 + 0.5) AS BIGINT) AS xq
       |  FROM embeddings, (SELECT unnest(range(1, ${Dim + 1})) AS j)
       |),
       |sdims AS (SELECT * FROM dims WHERE vec_id % $StaleModulus = 0),
       |seed AS (SELECT DISTINCT vec_id, CAST(label AS BIGINT) AS c FROM sdims),
       |${round("sdims", "seed", "sdims", "st1")},
       |${round("sdims", "st1", "sdims", "st2")},
       |${round("sdims", "st2", "dims", "a_stale")},
       |${round("dims", "a_stale", "dims", "a_fresh")},
       |ss AS (
       |  SELECT c AS cluster, COUNT(*) AS n_stale,
       |    CAST(SUM(p // (n * n)) AS BIGINT) AS inertia_stale
       |  FROM a_stale GROUP BY 1
       |),
       |sf AS (
       |  SELECT c AS cluster, COUNT(*) AS n_fresh,
       |    CAST(SUM(p // (n * n)) AS BIGINT) AS inertia_fresh
       |  FROM a_fresh GROUP BY 1
       |),
       |ch AS (
       |  SELECT s.c AS cluster, COUNT(*) AS n_moved_out
       |  FROM a_stale s JOIN a_fresh f ON s.vec_id = f.vec_id
       |  WHERE s.c <> f.c GROUP BY 1
       |)
       |SELECT COALESCE(ss.cluster, sf.cluster) AS cluster,
       |  COALESCE(n_stale, 0) AS n_stale,
       |  COALESCE(inertia_stale, 0) AS inertia_stale,
       |  COALESCE(n_fresh, 0) AS n_fresh,
       |  COALESCE(inertia_fresh, 0) AS inertia_fresh,
       |  COALESCE(n_moved_out, 0) AS n_moved_out
       |FROM ss FULL OUTER JOIN sf ON ss.cluster = sf.cluster
       |LEFT JOIN ch ON COALESCE(ss.cluster, sf.cluster) = ch.cluster
       |ORDER BY cluster""".stripMargin
  }

  private def kmeansCtes: String = {
    def round(cbIn: String, asgOut: String, prev: String) =
      s"""cb_$asgOut AS (
         |  SELECT $prev.c, d.i, CAST(SUM(d.xq) AS BIGINT) AS cS, COUNT(*) AS n
         |  FROM dims d JOIN $prev ON d.vec_id = $prev.vec_id GROUP BY 1, 2
         |),
         |a_$asgOut AS (
         |  SELECT d.vec_id, c.c,
         |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
         |    MAX(c.n) AS n
         |  FROM dims d JOIN cb_$asgOut c ON d.i = c.i GROUP BY 1, 2
         |),
         |$asgOut AS (
         |  SELECT vec_id, c, p, n FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, c ASC) AS rn
         |    FROM a_$asgOut) WHERE rn = 1
         |)""".stripMargin
    s"""dims AS (
       |  SELECT vec_id, label, j - 1 AS i,
       |    CAST(floor(embedding[j]::DOUBLE * 1000.0 + 0.5) AS BIGINT) AS xq
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS j)
       |),
       |seed AS (SELECT DISTINCT vec_id, CAST(label AS BIGINT) AS c FROM dims),
       |${round("seed", "as1", "seed")},
       |${round("as1", "as2", "as1")}""".stripMargin
  }

  private def kmeansSql: String =
    s"""WITH $kmeansCtes
       |SELECT c AS cluster, COUNT(*) AS n_members, MIN(vec_id) AS min_member,
       |  CAST(SUM(p // (n * n)) AS BIGINT) AS inertia_floor
       |FROM as2 GROUP BY c ORDER BY cluster""".stripMargin

  private def kmeansRecallSql: String =
    s"""WITH $kmeansCtes,
       |e0 AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |b AS (
       |  SELECT e0.vec_id, e0.embedding, e0.nrm, as2.c
       |  FROM e0 JOIN as2 ON e0.vec_id = as2.vec_id
       |),
       |exact AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM e0 q JOIN e0 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  ) WHERE rank <= 3
       |),
       |approx AS (
       |  SELECT qid, cid, 1 AS hit FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM b q JOIN b c ON q.c = c.c AND q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  ) WHERE rank <= 3
       |)
       |SELECT exact.qid, COUNT(*) AS n_exact,
       |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hits,
       |  ${graft.sources.Tables.r4Sql("CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*)")} AS recall_at_3
       |FROM exact LEFT JOIN approx ON exact.qid = approx.qid AND exact.cid = approx.cid
       |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin

  private def multiprobeSql: String =
    s"""WITH $kmeansCtes,
       |e0 AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |b AS (
       |  SELECT e0.vec_id, e0.embedding, e0.nrm, as2.c
       |  FROM e0 JOIN as2 ON e0.vec_id = as2.vec_id
       |),
       |cb AS (
       |  SELECT as2.c, d.i, CAST(SUM(d.xq) AS BIGINT) AS cS, COUNT(*) AS n
       |  FROM dims d JOIN as2 ON d.vec_id = as2.vec_id GROUP BY 1, 2
       |),
       |pd AS (
       |  SELECT d.vec_id, c.c,
       |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
       |    MAX(c.n) AS n
       |  FROM dims d JOIN cb c ON d.i = c.i WHERE d.vec_id < 10 GROUP BY 1, 2
       |),
       |probes AS (
       |  SELECT vec_id AS qid, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, c ASC) AS rn
       |    FROM pd) WHERE rn <= $MultiProbeP
       |),
       |exact AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM e0 q JOIN e0 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  ) WHERE rank <= 3
       |),
       |approx AS (
       |  SELECT qid, cid, 1 AS hit FROM (
       |    SELECT p.qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM probes p JOIN e0 q ON q.vec_id = p.qid
       |    JOIN b c ON c.c = p.c AND c.vec_id <> p.qid
       |  ) WHERE rank <= 3
       |),
       |np AS (SELECT qid, COUNT(*) AS n_probed FROM probes GROUP BY qid)
       |SELECT exact.qid, np.n_probed, COUNT(*) AS n_exact,
       |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hits,
       |  ${graft.sources.Tables.r4Sql("CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*)")} AS recall_at_3
       |FROM exact
       |JOIN np ON np.qid = exact.qid
       |LEFT JOIN approx ON exact.qid = approx.qid AND exact.cid = approx.cid
       |GROUP BY exact.qid, np.n_probed ORDER BY exact.qid""".stripMargin

  /** ann_tier_compare oracle: every tier's candidate CTE replayed (the
    * standalone queries' own CTE shapes), per-tier scalar count
    * subqueries, exact-integer recall. */
  private def tierCompareSql: String = {
    def rankTop(cand: String, top: String) =
      s"""$top AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY ${dotSql("qv", "cv")} / (qn * cn) DESC, cid ASC) AS rank
         |    FROM $cand) WHERE rank <= 3
         |)""".stripMargin
    def tierSel(name: String, cand: String, top: String) =
      s"""SELECT '$name' AS tier,
         |  (SELECT COUNT(*) FROM $cand) AS n_candidates,
         |  (SELECT COUNT(*) FROM $top) AS n_results,
         |  (SELECT COUNT(*) FROM $top t JOIN exact x
         |     ON t.qid = x.qid AND t.cid = x.cid) AS n_hits,
         |  (10000 * (SELECT COUNT(*) FROM $top t JOIN exact x
         |     ON t.qid = x.qid AND t.cid = x.cid))
         |    // (SELECT COUNT(*) FROM exact) AS recall_x10000""".stripMargin
    s"""WITH $kmeansCtes,
       |e0 AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |bk AS (SELECT *, ${bucketSql("embedding")} AS bucket FROM e0),
       |gc AS (SELECT *, ${cellSql("embedding")} AS cell FROM e0),
       |bcl AS (
       |  SELECT e0.vec_id, e0.embedding, e0.nrm, as2.c
       |  FROM e0 JOIN as2 ON e0.vec_id = as2.vec_id
       |),
       |cb AS (
       |  SELECT as2.c, d.i, CAST(SUM(d.xq) AS BIGINT) AS cS, COUNT(*) AS n
       |  FROM dims d JOIN as2 ON d.vec_id = as2.vec_id GROUP BY 1, 2
       |),
       |pd AS (
       |  SELECT d.vec_id, c.c,
       |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
       |    MAX(c.n) AS n
       |  FROM dims d JOIN cb c ON d.i = c.i WHERE d.vec_id < 10 GROUP BY 1, 2
       |),
       |probes AS (
       |  SELECT vec_id AS qid, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, c ASC) AS rn
       |    FROM pd) WHERE rn <= $MultiProbeP
       |),
       |exact AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM e0 q JOIN e0 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  ) WHERE rank <= 3
       |),
       |cand1 AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qv, q.nrm AS qn,
       |    c.embedding AS cv, c.nrm AS cn
       |  FROM e0 q JOIN e0 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |),
       |${rankTop("cand1", "top1")},
       |cand2 AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qv, q.nrm AS qn,
       |    c.embedding AS cv, c.nrm AS cn
       |  FROM bk q JOIN bk c ON q.bucket = c.bucket
       |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id
       |),
       |${rankTop("cand2", "top2")},
       |cand3 AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qv, q.nrm AS qn,
       |    c.embedding AS cv, c.nrm AS cn
       |  FROM gc q JOIN gc c ON q.cell = c.cell
       |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id
       |),
       |${rankTop("cand3", "top3")},
       |cand4 AS (
       |  SELECT p.qid, c.vec_id AS cid, q.embedding AS qv, q.nrm AS qn,
       |    c.embedding AS cv, c.nrm AS cn
       |  FROM probes p JOIN e0 q ON q.vec_id = p.qid
       |  JOIN bcl c ON c.c = p.c AND c.vec_id <> p.qid
       |),
       |${rankTop("cand4", "top4")}
       |SELECT * FROM (
       |  ${tierSel("1_brute", "cand1", "top1")}
       |  UNION ALL ${tierSel("2_lsh", "cand2", "top2")}
       |  UNION ALL ${tierSel("3_ivf", "cand3", "top3")}
       |  UNION ALL ${tierSel("4_multiprobe", "cand4", "top4")}
       |) ORDER BY tier""".stripMargin
  }

  /** pipe_ann oracle: the full serving composition replayed — kmeans CTEs,
    * multiprobe candidate set, top-10 serve, exact@3 eval — each stage row
    * a pair of scalar count subqueries (all integer-exact). */
  private def pipeAnnSql: String =
    s"""WITH $kmeansCtes,
       |e0 AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |b AS (
       |  SELECT e0.vec_id, e0.embedding, e0.nrm, as2.c
       |  FROM e0 JOIN as2 ON e0.vec_id = as2.vec_id
       |),
       |cb AS (
       |  SELECT as2.c, d.i, CAST(SUM(d.xq) AS BIGINT) AS cS, COUNT(*) AS n
       |  FROM dims d JOIN as2 ON d.vec_id = as2.vec_id GROUP BY 1, 2
       |),
       |pd AS (
       |  SELECT d.vec_id, c.c,
       |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
       |    MAX(c.n) AS n
       |  FROM dims d JOIN cb c ON d.i = c.i WHERE d.vec_id < 10 GROUP BY 1, 2
       |),
       |probes AS (
       |  SELECT vec_id AS qid, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, c ASC) AS rn
       |    FROM pd) WHERE rn <= $MultiProbeP
       |),
       |cand AS (
       |  SELECT p.qid, c.vec_id AS cid, q.embedding AS qv, q.nrm AS qn,
       |    c.embedding AS cv, c.nrm AS cn
       |  FROM probes p JOIN e0 q ON q.vec_id = p.qid
       |  JOIN b c ON c.c = p.c AND c.vec_id <> p.qid
       |),
       |served AS (
       |  SELECT qid, cid, rank FROM (
       |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY ${dotSql("qv", "cv")} / (qn * cn) DESC, cid ASC) AS rank
       |    FROM cand) WHERE rank <= 10
       |),
       |exact AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM e0 q JOIN e0 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  ) WHERE rank <= 3
       |)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage_id, 'embed' AS stage,
       |    (SELECT COUNT(*) FROM e0) AS n_rows,
       |    (SELECT CAST(MAX(len(embedding)) AS BIGINT) FROM e0) AS stat
       |  UNION ALL SELECT 2, 'train', (SELECT COUNT(DISTINCT c) FROM as2),
       |    (SELECT CAST(SUM(p // (n * n)) AS BIGINT) FROM as2)
       |  UNION ALL SELECT 3, 'index', (SELECT COUNT(*) FROM b),
       |    (SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM b GROUP BY c) t)
       |  UNION ALL SELECT 4, 'serve', (SELECT COUNT(*) FROM cand),
       |    (SELECT COUNT(*) FROM served)
       |  UNION ALL SELECT 5, 'eval', (SELECT COUNT(DISTINCT qid) FROM exact),
       |    (SELECT COUNT(*) FROM exact JOIN served
       |     ON exact.qid = served.qid AND exact.cid = served.cid AND served.rank <= 3)
       |) ORDER BY stage_id""".stripMargin

  /** ann_recall_curve oracle: multiprobeSql's probe/rank CTEs carried to
    * rank 10, evaluated at each k cut. */
  private def recallCurveSql: String = {
    val kMax = RecallCurveKs.max
    s"""WITH $kmeansCtes,
       |e0 AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |b AS (
       |  SELECT e0.vec_id, e0.embedding, e0.nrm, as2.c
       |  FROM e0 JOIN as2 ON e0.vec_id = as2.vec_id
       |),
       |cb AS (
       |  SELECT as2.c, d.i, CAST(SUM(d.xq) AS BIGINT) AS cS, COUNT(*) AS n
       |  FROM dims d JOIN as2 ON d.vec_id = as2.vec_id GROUP BY 1, 2
       |),
       |pd AS (
       |  SELECT d.vec_id, c.c,
       |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
       |    MAX(c.n) AS n
       |  FROM dims d JOIN cb c ON d.i = c.i WHERE d.vec_id < 10 GROUP BY 1, 2
       |),
       |probes AS (
       |  SELECT vec_id AS qid, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, c ASC) AS rn
       |    FROM pd) WHERE rn <= $MultiProbeP
       |),
       |exact AS (
       |  SELECT qid, cid, rank AS erank FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM e0 q JOIN e0 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |  ) WHERE rank <= $kMax
       |),
       |approx AS (
       |  SELECT qid, cid, rank AS arank FROM (
       |    SELECT p.qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rank
       |    FROM probes p JOIN e0 q ON q.vec_id = p.qid
       |    JOIN b c ON c.c = p.c AND c.vec_id <> p.qid
       |  ) WHERE rank <= $kMax
       |),
       |j AS (
       |  SELECT e.qid, e.erank, a.arank FROM exact e
       |  LEFT JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
       |)
       |SELECT qid, CAST(k AS BIGINT) AS k,
       |  CAST(SUM(CASE WHEN arank <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  ${graft.sources.Tables.r4Sql(
           "CAST(SUM(CASE WHEN arank <= k THEN 1 ELSE 0 END) AS DOUBLE) / k")} AS recall_at_k
       |FROM j CROSS JOIN (SELECT UNNEST(${RecallCurveKs.mkString("[", ", ", "]")}) AS k) ks
       |WHERE erank <= k
       |GROUP BY qid, k ORDER BY qid, k""".stripMargin
  }

  /** ann_ivfpq oracle: the kmeans Lloyd CTEs (coarse quantizer), the PQ
    * codebook CTEs (with the subspace id derived as i // 32 from the
    * shared dims), the top-P probe ranking, and the cascade — candidates
    * restricted to probed clusters, PQ-reconstruction approx score,
    * exact rerank. Every tier is the exact-integer argmin, so the whole
    * cascade hash-matches. */
  private def ivfpqSql: String =
    s"""WITH $kmeansCtes,
       |e0 AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |cbq AS (
       |  SELECT label AS cb_label, i // 32 AS s, i,
       |    CAST(SUM(xq) AS BIGINT) AS cS, COUNT(*) AS n
       |  FROM dims GROUP BY 1, 2, 3
       |),
       |asgq AS (
       |  SELECT d.vec_id, c.s, c.cb_label,
       |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
       |    MAX(c.n) AS n
       |  FROM dims d JOIN cbq c ON d.i = c.i GROUP BY 1, 2, 3
       |),
       |codes AS (
       |  SELECT vec_id, s, cb_label AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
       |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, cb_label ASC) AS rn
       |    FROM asgq) WHERE rn = 1
       |),
       |recon AS (
       |  SELECT cb_label, s, list(CAST(cS AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS rvec
       |  FROM cbq GROUP BY 1, 2
       |),
       |rec AS (
       |  SELECT c0.vec_id, r0.rvec || r1.rvec AS rec
       |  FROM codes c0
       |  JOIN recon r0 ON c0.s = 0 AND r0.s = 0 AND c0.code = r0.cb_label
       |  JOIN codes c1 ON c1.vec_id = c0.vec_id AND c1.s = 1
       |  JOIN recon r1 ON r1.s = 1 AND c1.code = r1.cb_label
       |),
       |cbiv AS (
       |  SELECT as2.c, d.i, CAST(SUM(d.xq) AS BIGINT) AS cS, COUNT(*) AS n
       |  FROM dims d JOIN as2 ON d.vec_id = as2.vec_id GROUP BY 1, 2
       |),
       |pd AS (
       |  SELECT d.vec_id, c.c,
       |    CAST(SUM((d.xq * c.n - c.cS) * (d.xq * c.n - c.cS)) AS BIGINT) AS p,
       |    MAX(c.n) AS n
       |  FROM dims d JOIN cbiv c ON d.i = c.i WHERE d.vec_id < 10 GROUP BY 1, 2
       |),
       |probes AS (
       |  SELECT vec_id AS qid, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY CAST(p AS DOUBLE) / CAST(n * n AS DOUBLE) ASC, c ASC) AS rn
       |    FROM pd) WHERE rn <= $MultiProbeP
       |),
       |cand AS (
       |  SELECT p.qid, x.vec_id AS cid,
       |    list_reduce(list_transform(range(1, 65),
       |      k -> q.embedding[k]::DOUBLE * x.rec[k]), (acc, v) -> acc + v)
       |      / (q.nrm * e.nrm) AS approx
       |  FROM probes p
       |  JOIN as2 ca ON ca.c = p.c
       |  JOIN rec x ON x.vec_id = ca.vec_id
       |  JOIN e0 e ON e.vec_id = ca.vec_id
       |  JOIN e0 q ON q.vec_id = p.qid
       |  WHERE ca.vec_id <> p.qid
       |),
       |nc AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid),
       |a AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY approx DESC, cid ASC) AS approx_rank
       |  FROM cand
       |),
       |r AS (
       |  SELECT a.qid, a.cid, a.approx_rank,
       |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY a.qid
       |      ORDER BY ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |        a.cid ASC) AS rank
       |  FROM a JOIN e0 q ON q.vec_id = a.qid JOIN e0 c ON c.vec_id = a.cid
       |  WHERE a.approx_rank <= 10
       |)
       |SELECT r.qid, CAST(rank AS BIGINT) AS rank, cid,
       |  ${graft.sources.Tables.r4Sql("cos")} AS cos_sim,
       |  CAST(approx_rank AS BIGINT) AS approx_rank, nc.n_cand
       |FROM r JOIN nc ON nc.qid = r.qid WHERE rank <= 3 ORDER BY r.qid, rank""".stripMargin

  private def semDedupSql: String =
    s"""WITH $kmeansCtes,
       |e0 AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |),
       |b AS (
       |  SELECT e0.vec_id, e0.embedding, e0.nrm, as2.c
       |  FROM e0 JOIN as2 ON e0.vec_id = as2.vec_id
       |),
       |p AS (
       |  SELECT y.vec_id AS vec_id, x.vec_id AS va, x.c AS cluster,
       |    ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
       |  FROM b x JOIN b y ON x.c = y.c AND x.vec_id < y.vec_id
       |  WHERE ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.4
       |),
       |k AS (SELECT vec_id, MIN(va) AS kept_by FROM p GROUP BY vec_id)
       |SELECT p.vec_id, p.va AS kept_by, p.cluster,
       |  ${graft.sources.Tables.r4Sql("p.cos")} AS cos_sim
       |FROM p JOIN k ON p.vec_id = k.vec_id AND p.va = k.kept_by
       |ORDER BY p.vec_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "mm_align" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label,
         |    ${normSql("embedding")} AS nrm
         |  FROM embeddings
         |),
         |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn, label
         |  FROM e WHERE vec_id % 2 = 0 AND vec_id < 80),
         |img AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cn
         |  FROM e WHERE vec_id % 2 = 1),
         |cand AS (
         |  SELECT qid, label, cid, ${dotSql("qv", "cv")} / (qn * cn) AS cos
         |  FROM img JOIN q ON qid <> cid
         |),
         |r AS (SELECT qid, label, cid,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM cand),
         |t5 AS (SELECT qid, label,
         |  MIN(CASE WHEN cid = qid + 1 THEN rnk END) AS pr
         |  FROM r WHERE rnk <= 5 GROUP BY qid, label)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(CASE WHEN pr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
         |  CAST(SUM(CASE WHEN pr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_5
         |FROM t5 GROUP BY label ORDER BY label""".stripMargin,
    "ann_hybrid" ->
      s"""WITH words AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |), dfw AS (
         |  SELECT w, COUNT(*) AS df FROM words GROUP BY w
         |), kw0 AS (
         |  SELECT q.doc_id AS qid, c.doc_id AS cid,
         |    CAST(SUM(100000 // dfw.df) AS BIGINT) AS kw_score
         |  FROM words q JOIN words c ON q.w = c.w AND q.doc_id < $HybridKf
         |    AND q.doc_id <> c.doc_id
         |  JOIN dfw ON dfw.w = q.w
         |  GROUP BY 1, 2
         |), kw AS (
         |  SELECT qid, cid, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY kw_score DESC, cid ASC) AS BIGINT) AS rk
         |  FROM kw0 QUALIFY rk <= $HybridK
         |), e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |), vec0 AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM e q JOIN e c ON q.vec_id < $HybridKf AND q.vec_id <> c.vec_id
         |), vec AS (
         |  SELECT qid, cid, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, cid ASC) AS BIGINT) AS rv
         |  FROM vec0 QUALIFY rv <= $HybridK
         |), fused AS (
         |  SELECT COALESCE(kw.qid, vec.qid) AS qid, COALESCE(kw.cid, vec.cid) AS cid,
         |    kw.rk, vec.rv,
         |    COALESCE(10000 // (60 + kw.rk), 0) + COALESCE(10000 // (60 + vec.rv), 0) AS rrf
         |  FROM kw FULL OUTER JOIN vec ON kw.qid = vec.qid AND kw.cid = vec.cid
         |), ranked AS (
         |  SELECT qid, cid, rrf, rk, rv, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY rrf DESC, cid ASC) AS BIGINT) AS rank
         |  FROM fused QUALIFY rank <= $HybridKf
         |)
         |SELECT qid, rank, cid, CAST(rrf AS BIGINT) AS rrf_x10000,
         |  COALESCE(rk, 0) AS kw_rank, COALESCE(rv, 0) AS vec_rank
         |FROM ranked ORDER BY qid, rank""".stripMargin,
    "ann_filtered" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm, label FROM embeddings
         |), cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.label,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM e q JOIN e c ON q.label = c.label
         |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id
         |), ranked AS (
         |  SELECT qid, cid, label, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
         |  FROM cand
         |)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, label,
         |  ${graft.sources.Tables.r4Sql("cos")} AS cos_sim
         |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "dd_semdedup" -> semDedupSql,
    "pipe_ann" -> pipeAnnSql,
    "ann_tier_compare" -> tierCompareSql,
    "ann_ivfpq" -> ivfpqSql,
    "ann_multiprobe" -> multiprobeSql,
    "ann_recall_curve" -> recallCurveSql,
    "ta_topics" ->
      s"""WITH $kmeansCtes,
         |assign AS (SELECT vec_id AS doc_id, c FROM as2),
         |words AS (
         |  SELECT a.c, UNNEST(string_split(d.text, ' ')) AS w
         |  FROM documents d JOIN assign a ON d.doc_id = a.doc_id
         |),
         |cw AS (SELECT c, w, COUNT(*) AS cwc FROM words GROUP BY 1, 2),
         |nc AS (SELECT c, COUNT(*) AS n_c FROM words GROUP BY 1),
         |cwa AS (SELECT w, COUNT(*) AS cw FROM words GROUP BY 1),
         |nt AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_tot FROM cwa),
         |nd AS (SELECT c, COUNT(*) AS n_docs FROM assign GROUP BY 1),
         |r AS (
         |  SELECT cw.c, cw.w,
         |    (((1000000 * cw.cwc) // nc.n_c) * nt.n_tot) // (10000 * cwa.cw) AS lift_x100
         |  FROM cw JOIN nc ON cw.c = nc.c JOIN cwa ON cw.w = cwa.w CROSS JOIN nt
         |),
         |rk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c
         |    ORDER BY lift_x100 DESC, w ASC) AS rank
         |  FROM r
         |)
         |SELECT rk.c AS cluster, nd.n_docs, CAST(rank AS BIGINT) AS rank,
         |  rk.w AS term, CAST(lift_x100 AS BIGINT) AS lift_x100
         |FROM rk JOIN nd ON rk.c = nd.c
         |WHERE rank <= 3 ORDER BY cluster, rank""".stripMargin,
    "ann_kmeans_recall" -> kmeansRecallSql,
    "ann_kmeans" -> kmeansSql,
    "ann_pq" -> pqSql,
    "ann_mmr" -> mmrSql,
    "ann_sq" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
         |    ${codesSql("embedding")} AS codes
         |  FROM embeddings
         |),
         |cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.embedding AS cv,
         |    q.embedding AS qv, q.nrm AS qn, c.nrm AS cn,
         |    ${reconDotSql("q.embedding", "c.codes")} / (q.nrm * c.nrm) AS approx
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |),
         |a AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx DESC, cid ASC) AS approx_rank
         |  FROM cand
         |),
         |r AS (
         |  SELECT qid, cid, approx_rank, ${dotSql("qv", "cv")} / (qn * cn) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ${dotSql("qv", "cv")} / (qn * cn) DESC, cid ASC) AS rank
         |  FROM a WHERE approx_rank <= 10
         |)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, cid,
         |  ${graft.sources.Tables.r4Sql("cos")} AS cos_sim,
         |  CAST(approx_rank AS BIGINT) AS approx_rank
         |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "ann_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |b AS (SELECT *, ${bucketSql("embedding")} AS bucket FROM e),
         |exact AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 3
         |),
         |approx AS (
         |  SELECT qid, cid, 1 AS hit FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 3
         |)
         |SELECT exact.qid, COUNT(*) AS n_exact,
         |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hits,
         |  ${graft.sources.Tables.r4Sql("CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*)")} AS recall_at_3
         |FROM exact LEFT JOIN approx ON exact.qid = approx.qid AND exact.cid = approx.cid
         |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin,
    "ann_graph_search" -> {
      val h6 = md5Hex6Sql
      val hop = (r: Int) =>
        s"""b$r AS MATERIALIZED (
           |  SELECT qid, cid, cos FROM (
           |    SELECT u.qid, u.cid, u.cos,
           |      ROW_NUMBER() OVER (PARTITION BY u.qid
           |        ORDER BY u.cos DESC, u.cid ASC) AS rn
           |    FROM (
           |      SELECT qid, cid, MAX(cos) AS cos FROM (
           |        SELECT qid, cid, cos FROM b${r - 1}
           |        UNION ALL
           |        SELECT x.qid, s.dst AS cid,
           |          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
           |        FROM b${r - 1} x JOIN sym s ON x.cid = s.src
           |        JOIN q ON q.qid = x.qid JOIN e c ON c.vec_id = s.dst
           |        WHERE s.dst <> x.qid
           |      ) z GROUP BY qid, cid
           |    ) u
           |  ) WHERE rn <= $GsBeam
           |)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |nt AS (SELECT COUNT(*) AS n FROM e),
         |g0 AS (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('gs:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, $GsOutK) t(ga)) s0) s1
         |),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM g0 UNION SELECT dst, src FROM g0
         |),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding, nrm FROM e WHERE vec_id < 10
         |),
         |b0 AS MATERIALIZED (
         |  SELECT q.qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM q JOIN e c ON c.vec_id = CASE WHEN q.qid = 0 THEN 1 ELSE 0 END
         |),
         |${(1 to GsHops).map(hop).mkString(",\n")}
         |SELECT qid, rank, cid, ${graft.sources.Tables.r4Sql("cos")} AS cos_sim
         |FROM (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
         |  FROM b$GsHops) f
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
    },
    "ann_graph_refined" -> {
      val h6 = md5Hex6Sql
      // build rounds: the ann_nndescent refinement, MATERIALIZED (each
      // g_{r-1} is referenced by s_r twice and c_r's union — the §6
      // exponential-inlining rule for chained-round CTEs)
      val round = (r: Int) =>
        s"""s$r AS MATERIALIZED (
           |  SELECT src, dst FROM g${r - 1} UNION SELECT dst, src FROM g${r - 1}
           |), c$r AS (
           |  SELECT DISTINCT u, w FROM (
           |    SELECT a.src AS u, t.dst AS w FROM s$r a JOIN s$r t ON a.dst = t.src
           |    WHERE a.src <> t.dst
           |    UNION ALL SELECT src, dst FROM g${r - 1}) p
           |), g$r AS MATERIALIZED (
           |  SELECT u AS src, w AS dst FROM (
           |    SELECT c.u, c.w,
           |      ROW_NUMBER() OVER (PARTITION BY c.u ORDER BY
           |        ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) DESC,
           |        c.w ASC) AS rn
           |    FROM c$r c JOIN e x ON c.u = x.vec_id JOIN e y ON c.w = y.vec_id
           |  ) WHERE rn <= $NnDescentK
           |)""".stripMargin
      // serve hops: the ann_graph_search beam over the refined graph
      val hop = (r: Int) =>
        s"""b$r AS MATERIALIZED (
           |  SELECT qid, cid, cos FROM (
           |    SELECT u.qid, u.cid, u.cos,
           |      ROW_NUMBER() OVER (PARTITION BY u.qid
           |        ORDER BY u.cos DESC, u.cid ASC) AS rn
           |    FROM (
           |      SELECT qid, cid, MAX(cos) AS cos FROM (
           |        SELECT qid, cid, cos FROM b${r - 1}
           |        UNION ALL
           |        SELECT x.qid, s.dst AS cid,
           |          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
           |        FROM b${r - 1} x JOIN sym s ON x.cid = s.src
           |        JOIN q ON q.qid = x.qid JOIN e c ON c.vec_id = s.dst
           |        WHERE s.dst <> x.qid
           |      ) z GROUP BY qid, cid
           |    ) u
           |  ) WHERE rn <= $GsBeam
           |)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |nt AS (SELECT COUNT(*) AS n FROM e),
         |g0 AS (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('nnd:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, 5) t(ga)) s0) s1
         |),
         |${(1 to NnDescentRounds).map(round).mkString(",\n")},
         |gr AS (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('gs:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, $GsOutK) t(ga)) s0) s1
         |),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM g$NnDescentRounds
         |  UNION SELECT dst, src FROM g$NnDescentRounds
         |  UNION SELECT src, dst FROM gr
         |  UNION SELECT dst, src FROM gr
         |),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding, nrm FROM e WHERE vec_id < 10
         |),
         |b0 AS MATERIALIZED (
         |  SELECT q.qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM q JOIN e c ON c.vec_id = CASE WHEN q.qid = 0 THEN 1 ELSE 0 END
         |),
         |${(1 to GsHops).map(hop).mkString(",\n")}
         |SELECT qid, rank, cid, ${graft.sources.Tables.r4Sql("cos")} AS cos_sim
         |FROM (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
         |  FROM b$GsHops) f
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
    },
    "ann_graph_layered" -> {
      val h6 = md5Hex6Sql
      // build rounds: the ann_nndescent refinement (layer 0), MATERIALIZED
      val round = (r: Int) =>
        s"""s$r AS MATERIALIZED (
           |  SELECT src, dst FROM g${r - 1} UNION SELECT dst, src FROM g${r - 1}
           |), c$r AS (
           |  SELECT DISTINCT u, w FROM (
           |    SELECT a.src AS u, t.dst AS w FROM s$r a JOIN s$r t ON a.dst = t.src
           |    WHERE a.src <> t.dst
           |    UNION ALL SELECT src, dst FROM g${r - 1}) p
           |), g$r AS MATERIALIZED (
           |  SELECT u AS src, w AS dst FROM (
           |    SELECT c.u, c.w,
           |      ROW_NUMBER() OVER (PARTITION BY c.u ORDER BY
           |        ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) DESC,
           |        c.w ASC) AS rn
           |    FROM c$r c JOIN e x ON c.u = x.vec_id JOIN e y ON c.w = y.vec_id
           |  ) WHERE rn <= $NnDescentK
           |)""".stripMargin
      // serve hops: upper loop over the hub long links, lower loop over
      // the refined kNN edges seeded by the upper beam
      val hop = (pfx: String, sym: String) => (r: Int) =>
        s"""$pfx$r AS MATERIALIZED (
           |  SELECT qid, cid, cos FROM (
           |    SELECT u.qid, u.cid, u.cos,
           |      ROW_NUMBER() OVER (PARTITION BY u.qid
           |        ORDER BY u.cos DESC, u.cid ASC) AS rn
           |    FROM (
           |      SELECT qid, cid, MAX(cos) AS cos FROM (
           |        SELECT qid, cid, cos FROM $pfx${r - 1}
           |        UNION ALL
           |        SELECT x.qid, s.dst AS cid,
           |          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
           |        FROM $pfx${r - 1} x JOIN $sym s ON x.cid = s.src
           |        JOIN q ON q.qid = x.qid JOIN e c ON c.vec_id = s.dst
           |        WHERE s.dst <> x.qid
           |      ) z GROUP BY qid, cid
           |    ) u
           |  ) WHERE rn <= $GsBeam
           |)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |nt AS (SELECT COUNT(*) AS n FROM e),
         |g0 AS (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('nnd:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, 5) t(ga)) s0) s1
         |),
         |${(1 to NnDescentRounds).map(round).mkString(",\n")},
         |nh AS (SELECT (n + ${GsHubMod - 1}) // $GsHubMod AS nh FROM nt),
         |up AS (
         |  SELECT DISTINCT src, CASE WHEN h * $GsHubMod = src
         |    THEN ((h + 1) % nh) * $GsHubMod ELSE h * $GsHubMod END AS dst
         |  FROM (
         |    SELECT src, nh, $h6 % nh AS h FROM (
         |      SELECT e.vec_id AS src, nh.nh AS nh,
         |        md5('ly:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nh CROSS JOIN range(0, $GsOutK) t(ga)
         |      WHERE e.vec_id % $GsHubMod = 0) s0) s1
         |),
         |gr AS (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('gs:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, $GsOutK) t(ga)) s0) s1
         |),
         |symu AS MATERIALIZED (SELECT src, dst FROM up UNION SELECT dst, src FROM up),
         |symf AS MATERIALIZED (
         |  SELECT src, dst FROM g$NnDescentRounds
         |  UNION SELECT dst, src FROM g$NnDescentRounds
         |  UNION SELECT src, dst FROM gr
         |  UNION SELECT dst, src FROM gr
         |),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding, nrm FROM e WHERE vec_id < 10
         |),
         |u0 AS MATERIALIZED (
         |  SELECT q.qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM q JOIN e c ON c.vec_id = CASE WHEN q.qid = 0 THEN $GsHubMod ELSE 0 END
         |),
         |${(1 to GsHops).map(hop("u", "symu")).mkString(",\n")},
         |a0 AS (SELECT * FROM u0),
         |${(1 to GsHops).map(hop("a", "symf")).mkString(",\n")},
         |l0 AS (SELECT * FROM u$GsHops),
         |${(1 to GsHops).map(hop("l", "symf")).mkString(",\n")}
         |SELECT qid, rank, cid, ${graft.sources.Tables.r4Sql("cos")} AS cos_sim
         |FROM (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
         |  FROM (
         |    SELECT qid, cid, MAX(cos) AS cos FROM (
         |      SELECT * FROM a$GsHops UNION ALL SELECT * FROM l$GsHops) z
         |    GROUP BY qid, cid) u2
         |) f
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
    },
    "ann_graph_recall" -> {
      val h6 = md5Hex6Sql
      val round = (r: Int) =>
        s"""s$r AS MATERIALIZED (
           |  SELECT src, dst FROM g${r - 1} UNION SELECT dst, src FROM g${r - 1}
           |), c$r AS (
           |  SELECT DISTINCT u, w FROM (
           |    SELECT a.src AS u, t.dst AS w FROM s$r a JOIN s$r t ON a.dst = t.src
           |    WHERE a.src <> t.dst
           |    UNION ALL SELECT src, dst FROM g${r - 1}) p
           |), g$r AS MATERIALIZED (
           |  SELECT u AS src, w AS dst FROM (
           |    SELECT c.u, c.w,
           |      ROW_NUMBER() OVER (PARTITION BY c.u ORDER BY
           |        ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) DESC,
           |        c.w ASC) AS rn
           |    FROM c$r c JOIN e x ON c.u = x.vec_id JOIN e y ON c.w = y.vec_id
           |  ) WHERE rn <= $NnDescentK
           |)""".stripMargin
      val hop = (pfx: String, sym: String) => (r: Int) =>
        s"""$pfx$r AS MATERIALIZED (
           |  SELECT qid, cid, cos FROM (
           |    SELECT u.qid, u.cid, u.cos,
           |      ROW_NUMBER() OVER (PARTITION BY u.qid
           |        ORDER BY u.cos DESC, u.cid ASC) AS rn
           |    FROM (
           |      SELECT qid, cid, MAX(cos) AS cos FROM (
           |        SELECT qid, cid, cos FROM $pfx${r - 1}
           |        UNION ALL
           |        SELECT x.qid, s.dst AS cid,
           |          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
           |        FROM $pfx${r - 1} x JOIN $sym s ON x.cid = s.src
           |        JOIN q ON q.qid = x.qid JOIN e c ON c.vec_id = s.dst
           |        WHERE s.dst <> x.qid
           |      ) z GROUP BY qid, cid
           |    ) u
           |  ) WHERE rn <= $GsBeam
           |)""".stripMargin
      val served = (pfx: String) =>
        s"""(SELECT qid, cid FROM (
           |  SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY cos DESC, cid ASC) AS rank FROM $pfx$GsHops) f
           | WHERE rank <= 3)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |nt AS (SELECT COUNT(*) AS n FROM e),
         |g0 AS (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('nnd:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, 5) t(ga)) s0) s1
         |),
         |${(1 to NnDescentRounds).map(round).mkString(",\n")},
         |gr AS (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('gs:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, $GsOutK) t(ga)) s0) s1
         |),
         |symr AS MATERIALIZED (SELECT src, dst FROM gr UNION SELECT dst, src FROM gr),
         |symf AS MATERIALIZED (
         |  SELECT src, dst FROM g$NnDescentRounds
         |  UNION SELECT dst, src FROM g$NnDescentRounds
         |),
         |symh AS MATERIALIZED (
         |  SELECT src, dst FROM symr UNION SELECT src, dst FROM symf
         |),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding, nrm FROM e WHERE vec_id < 10
         |),
         |bb0 AS MATERIALIZED (
         |  SELECT q.qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM q JOIN e c ON c.vec_id = CASE WHEN q.qid = 0 THEN 1 ELSE 0 END
         |),
         |br0 AS (SELECT * FROM bb0), bf0 AS (SELECT * FROM bb0), bh0 AS (SELECT * FROM bb0),
         |${(1 to GsHops).map(hop("br", "symr")).mkString(",\n")},
         |${(1 to GsHops).map(hop("bf", "symf")).mkString(",\n")},
         |${(1 to GsHops).map(hop("bh", "symh")).mkString(",\n")},
         |exact AS MATERIALIZED (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 3
         |)
         |SELECT tier, n_exact, n_hits,
         |  ${graft.sources.Tables.r4Sql("CAST(n_hits AS DOUBLE) / n_exact")} AS recall_at_3
         |FROM (
         |  SELECT '1_random' AS tier, COUNT(*) AS n_exact,
         |    CAST(SUM(CASE WHEN a.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact x LEFT JOIN ${served("br")} a
         |    ON x.qid = a.qid AND x.cid = a.cid
         |  UNION ALL
         |  SELECT '2_refined' AS tier, COUNT(*) AS n_exact,
         |    CAST(SUM(CASE WHEN a.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact x LEFT JOIN ${served("bf")} a
         |    ON x.qid = a.qid AND x.cid = a.cid
         |  UNION ALL
         |  SELECT '3_hybrid' AS tier, COUNT(*) AS n_exact,
         |    CAST(SUM(CASE WHEN a.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact x LEFT JOIN ${served("bh")} a
         |    ON x.qid = a.qid AND x.cid = a.cid
         |) u ORDER BY tier""".stripMargin
    },
    "ann_nndescent" -> {
      val h6 = md5Hex6Sql
      // Each round references g${r-1} three times and s$r twice; plain
      // CTEs inline in DuckDB, so the un-materialized chain replays
      // ~5^rounds copies of every earlier round (the 10x step-up
      // timeout cause). MATERIALIZED evaluates each round exactly once.
      val round = (r: Int) =>
        s"""s$r AS MATERIALIZED (
           |  SELECT src, dst FROM g${r - 1} UNION SELECT dst, src FROM g${r - 1}
           |), c$r AS MATERIALIZED (
           |  SELECT DISTINCT u, w FROM (
           |    SELECT a.src AS u, t.dst AS w FROM s$r a JOIN s$r t ON a.dst = t.src
           |    WHERE a.src <> t.dst
           |    UNION ALL SELECT src, dst FROM g${r - 1}) p
           |), g$r AS MATERIALIZED (
           |  SELECT u AS src, w AS dst FROM (
           |    SELECT c.u, c.w,
           |      ROW_NUMBER() OVER (PARTITION BY c.u ORDER BY
           |        ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) DESC,
           |        c.w ASC) AS rn
           |    FROM c$r c JOIN e x ON c.u = x.vec_id JOIN e y ON c.w = y.vec_id
           |  ) WHERE rn <= $NnDescentK
           |)""".stripMargin
      val ev = (r: Int) =>
        s"""ev$r AS (
           |  SELECT CAST($r AS BIGINT) AS round, (SELECT COUNT(*) FROM g$r) AS n_edges,
           |    COUNT(*) AS n_exact,
           |    CAST(SUM(CASE WHEN h.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |  FROM exact LEFT JOIN (SELECT * FROM g$r WHERE src < 10) h
           |    ON exact.qid = h.src AND exact.cid = h.dst
           |)""".stripMargin
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |nt AS MATERIALIZED (SELECT COUNT(*) AS n FROM e),
         |g0 AS MATERIALIZED (
         |  SELECT DISTINCT src, CASE WHEN h = src THEN (h + 1) % n ELSE h END AS dst
         |  FROM (
         |    SELECT src, n, $h6 % n AS h FROM (
         |      SELECT e.vec_id AS src, nt.n AS n,
         |        md5('nnd:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(ga AS VARCHAR)) AS mh
         |      FROM e CROSS JOIN nt CROSS JOIN range(0, 5) t(ga)) s0) s1
         |),
         |${(1 to NnDescentRounds).map(round).mkString(",\n")},
         |exact AS MATERIALIZED (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= $NnDescentK
         |),
         |${(0 to NnDescentRounds).map(ev).mkString(",\n")}
         |SELECT round, CAST(n_edges AS BIGINT) AS n_edges, n_exact, n_hits,
         |  ${graft.sources.Tables.r4Sql("CAST(n_hits AS DOUBLE) / n_exact")} AS recall
         |FROM (${(0 to NnDescentRounds).map(r => s"SELECT * FROM ev$r").mkString(" UNION ALL ")}) u
         |ORDER BY round""".stripMargin
    },
    "ann_range" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |)
         |SELECT qid, cid, ${graft.sources.Tables.r4Sql("cos")} AS cos_sim
         |FROM cand WHERE cos >= 0.3 ORDER BY qid, cid""".stripMargin,
    "ann_bruteforce" -> annSql(
      s"""cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |)""".stripMargin, 5),
    "ann_lsh" -> annSql(
      s"""b AS (SELECT *, ${bucketSql("embedding")} AS bucket FROM e),
         |cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id
         |)""".stripMargin, 3),
    "ann_ivf" -> annSql(
      s"""g AS (SELECT *, ${cellSql("embedding")} AS cell FROM e),
         |cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM g q JOIN g c ON q.cell = c.cell AND q.vec_id < 10 AND q.vec_id <> c.vec_id
         |)""".stripMargin, 3),
    "ann_refresh" -> annRefreshSql,
    "ann_hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |g AS (SELECT *, ${cellSql("embedding")} AS cell FROM e),
         |cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM g q JOIN g c ON q.cell = c.cell AND q.vec_id < 10
         |    AND q.vec_id <> c.vec_id
         |),
         |ex AS (
         |  SELECT qid, COUNT(*) AS n_excluded FROM cand
         |  WHERE cos >= $HardNegCos GROUP BY qid
         |),
         |kept AS (
         |  SELECT qid, rank, cid FROM (
         |    SELECT qid, cid,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, cid ASC) AS rank
         |    FROM cand WHERE cos < $HardNegCos
         |  ) WHERE rank <= 3
         |)
         |SELECT k.qid, CAST(k.rank AS BIGINT) AS rank, k.cid,
         |  COALESCE(ex.n_excluded, 0) AS n_excluded
         |FROM kept k LEFT JOIN ex ON k.qid = ex.qid
         |ORDER BY k.qid, k.rank""".stripMargin,
    // ann_delete oracle: ONE serve over the live rows — its count doubles
    // as the expected n_match, pinning that the Spark side's two physical
    // paths (tombstone-filtered full index vs compacted index) agree
    // triple-for-triple. Tombstones: vec_id % DeleteModulus = 3.
    "ann_delete" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |),
         |g AS (SELECT *, ${cellSql("embedding")} AS cell,
         |  (vec_id % $DeleteModulus = 3) AS tomb FROM e),
         |serve AS (
         |  SELECT qid, rank, cid, cell FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid, c.cell AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM g q JOIN g c ON q.cell = c.cell AND q.vec_id < 10
         |      AND q.vec_id <> c.vec_id AND NOT c.tomb
         |  ) WHERE rank <= 3
         |),
         |cs AS (
         |  SELECT cell,
         |    CAST(SUM(CASE WHEN tomb THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
         |    CAST(SUM(CASE WHEN tomb THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstone
         |  FROM g GROUP BY cell
         |),
         |sv AS (SELECT cell, COUNT(*) AS n_served FROM serve GROUP BY cell)
         |SELECT cs.cell, cs.n_live, cs.n_tombstone,
         |  COALESCE(sv.n_served, 0) AS n_served,
         |  COALESCE(sv.n_served, 0) AS n_match
         |FROM cs LEFT JOIN sv ON cs.cell = sv.cell
         |ORDER BY cs.cell""".stripMargin)
}
