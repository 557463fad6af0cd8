package graft.operators

import graft.ModelStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The graph operators: the 24 `gr_*` registry keys, the connected-
  * components loops that raster polygonization, basin labelling and
  * near-dup clustering ride, and the graph core every one of them is
  * built from. Each building block has ONE copy here, so each
  * determinism rule is a one-place edit:
  *
  *  - `sym`: an edge frame in both directions (the Union-rewrite rule);
  *  - `cappedWedges`: the hub-capped wedge self-join of the link
  *    predictors (weights ride the wedge row);
  *  - `triangles`: degree-ordered orientation + triangle closure;
  *  - `relaxHistogram`: bounded frontier relaxation + distance histogram
  *    (gr_khop, gr_sssp);
  *  - the Louvain family: `communityStats` (per-community degree sum,
  *    members, intra edges), `louvainQRow` (the exact DECIMAL(38,0) Q),
  *    `guardedMove` (the BIGINT insert gain, argmax and Grappolo guard),
  *    `louvainContract` + `coarseDegrees` (the level-1 super-graph) and
  *    `louvainWeightedLevel` (one weighted level; gr_louvain_level2 is one
  *    call of it, gr_louvain_full loops it).
  */
object GraphOps {

  /** Both directions of an edge frame: (a, b) as (src, dst) unioned with
    * (b, a) as (src, dst), any `carry` columns riding unchanged. The ONE
    * copy of the Union-rewrite rule: both endpoints are re-aliased through
    * `+ 0L`, because unioning a frame with its own column-swapped
    * projection trips Spark's Union constraint rewrite (its attribute map
    * misses the swapped exprIds). Lazy — callers checkpoint it where it
    * has more than one consumer. */
  private[graft] def sym(e: DataFrame, a: String, b: String, src: String = "src",
      dst: String = "dst", carry: Seq[String] = Nil): DataFrame = {
    def side(x: String, y: String): DataFrame = e.select(
      Seq((col(x) + lit(0L)).as(src), (col(y) + lit(0L)).as(dst)) ++ carry.map(col): _*)
    side(a, b).unionByName(side(b, a))
  }

  /** The symmetric co-activity graph (src, dst), checkpointed: every
    * consumer joins it once per round and derives degrees from it. */
  private def coActivitySym(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    sym(coActivityEdges(spark, dir), "a", "b")
      .localCheckpoint() // degree + one join per round

  /** Invocation counters, test-only observability: specs pin WHICH loop a
    * consumer (polygonize, dd_cluster) rides without parsing plans — the
    * two loops return identical frames by design, so nothing else can. */
  private[graft] val hashMinCalls = new java.util.concurrent.atomic.AtomicLong
  private[graft] val doublingCalls = new java.util.concurrent.atomic.AtomicLong

  /** Iterative min-label propagation — hash-min connected components. No
    * registry key runs it: it is the reference GenericApiSpec's parity
    * test drives minLabelComponentsDoubling against.
    *
    * Each round is ONE shuffle of O(#nodes) label rows plus an equi-join
    * with the edge list; localCheckpoint cuts lineage so round N's plan
    * does not replay rounds 1..N-1. Rounds needed = component graph
    * diameter; the converged labeling (per-component min node id) is
    * independent of iteration order — deterministic, so oracle-checkable
    * against a recursive-CTE transitive closure.
    *
    * `nodes`: one row per node with a unique LONG `id`; `edges`: directed
    * (src, dst) pairs — pass both directions for undirected graphs.
    * Returns (id, comp) where comp = min node id reachable. */
  def minLabelComponents(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    hashMinCalls.incrementAndGet()
    import org.apache.spark.sql.types.DecimalType
    // convergence check: labels only ever DECREASE, so the label sum is
    // strictly monotone until the fixpoint — comparing sums is one tiny
    // aggregate job per round instead of a labels⋈labels diff join
    // (decimal sum: a long sum of 64-bit ids can silently wrap)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast(DecimalType(38, 0)))).collect()(0).getDecimal(0)
    var labels = nodes.select(col("id"), col("id").as("comp")).localCheckpoint()
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    // <= : a graph of diameter EXACTLY maxRounds finishes changing on round
    // maxRounds and needs one extra no-change round to be DETECTED
    while (!converged && rounds <= maxRounds) {
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("comp"))
      val next = labels.unionByName(msgs)
        .groupBy("id").agg(min(col("comp")).as("comp"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      rounds += 1
    }
    // a silent truncation would return a component split in two and fail
    // only at the (distant) oracle — refuse loudly instead
    if (!converged) throw new IllegalStateException(
      s"minLabelComponents did not converge in $maxRounds rounds " +
        "(component diameter exceeds the cap; raise maxRounds or switch to pointer doubling)")
    labels
  }

  /** Connected components by LARGE-STAR / SMALL-STAR pointer doubling
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log d)-round alternative to the hash-min loop above for
    * adversarially DEEP components: hash-min moves labels one hop per
    * round (a 10^6-node path needs 10^6 rounds), star contraction
    * roughly halves every tree's height per round pair.
    *
    * Shuffle budget (r5 rewrite): the loop maintains the invariant that
    * the working edge set is DISTINCT and points strictly DOWNWARD
    * (dst < src). Then the symmetric closure fwd ∪ rev is union of two
    * disjoint dup-free halves — no distinct needed — and min-aggregates
    * tolerate duplicates anyway, so the only per-round shuffles are the
    * two star groupBys, their joins, and one distinct each: ~6 vs the
    * first draft's ~9 plus an exceptAll diff. Convergence is a sound
    * STRUCTURAL test instead of an edge-set diff: the alternating
    * algorithm's fixpoint is exactly a min-rooted star forest, and a
    * downward edge set is one iff every src has exactly ONE out-edge and
    * no dst ever appears as a src (depth 1). Both stars preserve
    * component connectivity (Kiveris et al., Lemmas 1-2), so a depth-1
    * forest's roots are necessarily their components' minima — a star
    * rooted anywhere else would have disconnected the true min.
    * Returns the same (id, comp) frame as minLabelComponents — the
    * parity spec drives both on the same graphs, including a path graph
    * deeper than hash-min's round cap. */
  def minLabelComponentsDoubling(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 32): DataFrame = {
    doublingCalls.incrementAndGet()
    import org.apache.spark.sql.functions.{col, countDistinct, least, lit, min}
    // large-star: every high neighbor of w links to m(w) = min(Γ(w) ∪ {w}).
    // With e downward, the (high neighbor, w) pairs are exactly e itself
    // (src is the high endpoint), so the emit side needs no symmetric frame.
    // The full neighbor multiset sym(e) is dup-free by disjointness
    // (fwd: dst<src, rev: dst>src).
    def largeStar(e: DataFrame): DataFrame = {
      val mins = sym(e, "src", "dst").groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("w"), least(col("mn"), col("src")).as("m"))
      e.join(mins, col("dst") === col("w"))
        .select(col("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    // small-star: u and its LOW neighbors all link to their collective min.
    // With e downward, u's low neighbors are exactly u's out-edges — no
    // symmetric frame at all.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min("dst").as("m"))
      val nbrLinks = e.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      val selfLinks = mins.select(col("src"), col("m").as("dst"))
      nbrLinks.unionByName(selfLinks)
        .filter(col("src") =!= col("dst")).distinct()
    }
    // orient the (arbitrary-direction, possibly symmetric) input downward
    var e = edges.select(
        org.apache.spark.sql.functions.greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // MEASURED r14 and reverted: materializing every TWO star pairs
      // (smallStar(largeStar(smallStar(largeStar(e))))) to halve the
      // per-round checkpoint+aggregate jobs made every consumer SLOWER
      // (sentinel-normalized: dd_cluster 0.81x, zs_polygonize 0.78x,
      // zs_ridge 0.88x at sf0.1/c32). Both star operators reference
      // their input 2-3 times (nbrs union + join / groupBy + join +
      // selfLinks), so an unmaterialized inner pair's subtree gets
      // REPLICATED into the outer pair's plan — the Spark twin of the
      // DuckDB CTE-inlining blowup. Per-round materialization is
      // structurally required, not just lineage hygiene.
      val next = smallStar(largeStar(e)).localCheckpoint()
      // star-forest test (see doc above): one out-edge per src, depth 1
      val Array(cnt, nsrc) = next.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        countDistinct(col("src"))).collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      converged = cnt == nsrc &&
        next.join(next.select((col("src") + lit(0L)).as("dst2")),
          col("dst") === col("dst2"), "left_semi").isEmpty
      e = next
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"pointer doubling did not converge in $maxRounds rounds")
    // fixpoint edges are stars (v -> component min); roots and isolated
    // nodes label themselves
    nodes.select(col("id"))
      .join(e.groupBy("src").agg(min("dst").as("m")),
        col("id") === col("src"), "left_outer")
      .select(col("id"),
        org.apache.spark.sql.functions.coalesce(col("m"), col("id")).as("comp"))
  }

  /** Raw co-activity pairs — one row per (a < b, type, hour) cell
    * co-occurrence after the ≤20-per-cell hub cap. The ONE copy of the
    * capped pair build; coActivityEdges (distinct pairs), sssp (pair
    * multiplicity as weight), and temporalReach (hour-stamped edges)
    * all derive from it. */
  private def buildCoActivityPairs(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val act = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .distinct()
    val sizes = act.groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
      .filter(col("n") <= 20)
    val ok = act.join(sizes.select("event_type", "hr"), Seq("event_type", "hr"))
    ok.as("x").join(ok.as("y"),
        col("x.event_type") === col("y.event_type") && col("x.hr") === col("y.hr")
          && col("x.user_id") < col("y.user_id"))
      .select(col("x.user_id").as("a"), col("y.user_id").as("b"), col("x.hr").as("hr"))
  }

  /** The co-activity graph as two model artifacts keyed on events
    * (coactpairs_, and coactedges_ built over it): the capped pair list
    * (a, b, hr) and its distinct edge projection (a, b) re-derive
    * identically inside SIXTEEN queries (the fourteen coActivityEdges
    * names from the edges; sssp, temporal_reach from the pairs), each
    * paying the events scan + hub-cap + cell self-join per the
    * each-query-standalone driver contract; a warm consumer pays one
    * parquet scan. Deterministic by construction (a distinct pair SET —
    * no float, no order sensitivity); CoactModelSpec pins parity +
    * invalidation. Both commits keep their partitioning (pairs are
    * O(cells x cap^2) — corpus-proportional, never one task). Frames come
    * back localCheckpointed: every consumer reads its frame 2+ times (sym
    * union x2, degree + join sides). */
  private[graft] def coActivityPairs(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ModelStore.frame(spark, ModelStore.Source(dir, "events.parquet", "coact1"),
        ModelStore.Table("coactpairs", Seq("a", "b", "hr"), singleFile = false),
        warm = _.localCheckpoint()) {
      buildCoActivityPairs(spark, dir)
        .localCheckpoint() // consumers group/join it more than once
    }

  /** The user co-activity edge set (users active in the same (event_type,
    * hour) bucket, buckets over 20 users dropped before pair generation —
    * the quadratic-fan-out cap shared with the dedup indexes): undirected,
    * kept once as a < b — the coactedges_ artifact. Fourteen keys read
    * it: gr_assort, gr_betweenness, gr_common_neighbors, gr_components,
    * gr_kcore, gr_khop, gr_linkpred_eval, gr_local_cc, gr_pagerank,
    * gr_ppr, gr_ppr_converge, gr_resource_alloc, gr_rich_club and
    * gr_triangles. */
  private[graft] def coActivityEdges(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ModelStore.frame(spark, ModelStore.Source(dir, "events.parquet", "coact1"),
        ModelStore.Table("coactedges", Seq("a", "b"), singleFile = false),
        warm = _.localCheckpoint()) {
      // cold: derive from the pairs artifact (deployed, or built by its own call)
      coActivityPairs(spark, dir).select("a", "b").distinct()
        .localCheckpoint() // degree + self-join sides downstream
    }

  /** Triangle enumeration over an undirected edge set kept once as a < b,
    * shared by gr_triangles and gr_local_cc. Returns the checkpointed
    * edges, their degrees (u, d) and one (n0, tv, tw) row per triangle.
    *
    * DEGREE-ORDERED orientation: each edge points at its higher-(degree,
    * id) endpoint, so path enumeration fans out from the LOWER-degree
    * endpoint only — out-degrees are O(sqrt(m)) (arboricity bound) and a
    * hub's quadratic wedge blowup cannot occur, which is what keeps the
    * closure join bounded under degree skew at scale. Each triangle
    * materializes exactly once: it has one source n0 whose two partners
    * (tv, tw) both outrank it, closed by an equi-join on the (tv, tw)
    * edge. */
  private def triangles(edgesIn: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val edges = edgesIn
      .localCheckpoint() // degree + orientation builds + the caller's stats
    val deg = edges.select(col("a").as("u"))
      .unionAll(edges.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("d"))
      .localCheckpoint() // both orientation lookups + the caller's stats
    val o = edges
      .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .localCheckpoint() // three join sides below
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.src") === col("e2.src")
        && (col("e1.dd") < col("e2.dd")
          || (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("n0"), col("e1.dst").as("tv"), col("e2.dst").as("tw"))
      .join(o.as("e3"), col("tv") === col("e3.src") && col("tw") === col("e3.dst"))
    (edges, deg, tri)
  }

  /** Triangle counting + global clustering coefficient (gr_triangles)
    * over the user co-activity graph (users active in the same
    * (event_type, hour) bucket are connected), enumerated by `triangles`
    * — every triangle counted exactly once, never a per-node neighborhood
    * materialization. gcc = 3 * triangles / wedges in exact scaled
    * integers.
    *
    * At 100 TB: edge generation shuffles on the bucket key, the triangle
    * closure on edge endpoints — both AQE-skew-splittable. The final stat
    * assembly cross-joins four ONE-ROW aggregates (bounded,
    * audit-sanctioned). */
  def triangleStats(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (edges, deg, triRows) = triangles(coActivityEdges(spark, dir))
    val nodesWedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val tri = triRows.agg(count(lit(1)).as("n_triangles"))
    nodesWedges.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"))
      // wedge-free graph: gcc is 0 by convention, not a division error
      // (Spark ANSI raises on div 0 where DuckDB // returns NULL)
      .withColumn("gcc_x10000",
        expr("CASE WHEN n_wedges = 0 THEN 0L ELSE n_triangles * 30000 div n_wedges END"))
      .orderBy("n_nodes")
  }

  /** PageRank over the co-activity graph (crawl-era authority scoring —
    * the quality prior web-scale training corpora weight documents by),
    * two power-iteration rounds in EXACT scaled-integer arithmetic:
    * ranks are 1e12-scaled longs, per-neighbor contributions use integer
    * division (both engines floor identically on the nonnegative
    * operands), and the damping update is (msum * 85) div 100 + 0.15e12
    * — every value a long below 8.5e17, so assignments are bit-identical
    * across engines and the oracle unrolls the same two rounds as CTEs.
    * The graph is symmetric (every node has degree >= 1 by construction)
    * so there is no dangling mass. Per round: one co-partitioned
    * (edges x ranks) join + one groupBy on dst — the standard distributed
    * PageRank shuffle pair; rounds are a fixed small constant. */
  def pagerank(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val sym = coActivitySym(spark, dir)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
    val r0 = deg.select(col("src").as("u"), lit(1000000000000L).as("r"))
    def step(r: DataFrame): DataFrame =
      sym.join(r.withColumnRenamed("u", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("u"), expr("r div d").as("c"))
        .groupBy("u").agg(sum(col("c")).as("msum"))
        .select(col("u"), expr("150000000000 + (msum * 85) div 100").as("r"))
    step(step(r0))
      .orderBy(col("r").desc, col("u").asc).limit(15)
      .select(col("u").as("user_id"), col("r").as("rank_x1e12"))
      .orderBy(col("rank_x1e12").desc, col("user_id"))
  }

  /** The shared PPR machinery: checkpointed symmetric edges, degrees, the
    * 5 lowest-id seeds, and one damped restart step — gr_ppr and
    * gr_ppr_converge run the SAME arithmetic by construction. */
  private def pprGraph(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val sym = coActivitySym(spark, dir)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
    val seeds = deg.select(col("src").as("u")).orderBy("u").limit(5)
      .localCheckpoint() // consumers: r0 + every restart join
    (sym, deg, seeds)
  }

  /** One damped PPR power-iteration step (1e12 scaled-integer arithmetic,
    * restart mass to the seeds). `checkpoint` when the result frame has
    * multiple consumers (the L1 gauge reads each rank frame twice). */
  private def pprStep(sym: DataFrame, deg: DataFrame, seeds: DataFrame)(
      r: DataFrame, checkpoint: Boolean = false): DataFrame = {
    val next = sym.join(r.withColumnRenamed("u", "src"), Seq("src"))
      .join(deg, Seq("src"))
      .select(col("dst").as("u"), expr("r div d").as("c"))
      .groupBy("u").agg(sum(col("c")).as("msum"))
      .join(seeds.withColumn("s", lit(1L)), Seq("u"), "full_outer")
      .select(col("u"),
        (coalesce(expr("(msum * 85) div 100"), lit(0L))
          + when(col("s").isNotNull, lit(150000000000L)).otherwise(lit(0L))).as("r"))
    if (checkpoint) next.localCheckpoint() else next
  }

  /** PERSONALIZED PAGERANK (gr_ppr) — random-walk-with-restart relevance
    * from a seed set (the recommendation / related-items primitive;
    * Haveliwala 2002): same damped power iteration as gr_pagerank, but
    * restart mass returns to the 5 lowest-id seed users instead of
    * spreading uniformly, so scores measure proximity TO THE SEEDS.
    * Two unrolled steps in the same 1e12 scaled-integer arithmetic
    * (every operation is BIGINT div/mult — bit-identical cross-engine,
    * the gr_pagerank discipline). Mass only flows along edges from
    * already-reached nodes, so the rank frame stays sparse: after two
    * steps it covers exactly the 2-hop ball around the seeds.
    *
    * Scale: identical plan shape to gr_pagerank (degree join + message
    * groupBy per step on the shared checkpointed symmetric edge list);
    * the seed table is 5 rows, the restart join a broadcast. */
  def ppr(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (sym, deg, seeds) = pprGraph(spark, dir)
    val step = pprStep(sym, deg, seeds) _
    val r0 = seeds.withColumn("r", lit(1000000000000L))
    step(step(r0, false), false)
      .orderBy(col("r").desc, col("u").asc).limit(15)
      .select(col("u").as("user_id"), col("r").as("ppr_x1e12"))
      .orderBy(col("ppr_x1e12").desc, col("user_id"))
  }

  /** PPR CONVERGENCE GAUGE (gr_ppr_converge) — the stopping-rule readout
    * both fixed-round walkers (gr_pagerank, gr_ppr) leave implicit: run a
    * THIRD power-iteration step and report, per transition, the L1 mass
    * delta and the reached-node count — the two numbers an iterative
    * scheduler thresholds on ("stop when ||r_t − r_{t−1}||_1 < eps").
    * All deltas are exact BIGINT sums over full-outer-joined rank frames
    * (absent node = 0 mass), so the gauge hash-matches cross-engine.
    *
    * Scale: same per-step plan as gr_ppr; the L1 rollups are one-row
    * aggregates per transition unioned into a single job. */
  def pprConverge(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (sym, deg, seeds) = pprGraph(spark, dir)
    val step = pprStep(sym, deg, seeds) _
    val r0 = seeds.withColumn("r", lit(1000000000000L))
    // each rank frame is consumed by the next step AND two L1 deltas
    val r1 = step(r0.localCheckpoint(), true)
    val r2 = step(r1, true)
    val r3 = step(r2, true)
    def l1(iter: Long, a: DataFrame, b: DataFrame): DataFrame =
      a.select(col("u"), col("r").as("ra"))
        .join(b.select(col("u"), col("r").as("rb")), Seq("u"), "full_outer")
        .agg(lit(iter).as("iter"),
          sum(abs(coalesce(col("rb"), lit(0L)) - coalesce(col("ra"), lit(0L))))
            .as("l1_delta"),
          sum(when(coalesce(col("rb"), lit(0L)) =!= 0L, 1L).otherwise(0L))
            .as("n_reached"))
    l1(1L, r0, r1).unionByName(l1(2L, r1, r2)).unionByName(l1(3L, r2, r3))
      .orderBy("iter")
  }

  /** Degree cap of gr_common_neighbors' wedge enumeration: centers with
    * more than this many neighbors are excluded from pair generation
    * (quadratic fan-out cap, same rule as the <=20-user activity buckets
    * and the dedup df-caps — documented approximation, mirrored in the
    * oracle). */
  val CnDegCap = 256L

  /** The capped wedge self-join shared by gr_common_neighbors,
    * gr_resource_alloc and gr_linkpred_eval, over an undirected (a, b)
    * edge set kept once as a < b: every center u of degree <= CnDegCap
    * emits one (a, b) row per pair of its neighbors a < b, centers above
    * the cap are dropped BEFORE pair generation. Each `weights` column is
    * computed per center from its degree `d` and rides ON the wedge row
    * under its name, so scoring is one map-side-combinable sum — no join
    * after the wedge. Returns the checkpointed degrees (u, d) and the
    * wedge rows (a, b, weights…). */
  private def cappedWedges(edges: DataFrame, weights: (String, Column)*)
      : (DataFrame, DataFrame) = {
    val s = sym(edges, "a", "b", "u", "v")
      .localCheckpoint() // consumers: deg, capped wedge self-join (both sides)
    val deg = s.groupBy("u").agg(count(lit(1)).as("d"))
      .localCheckpoint() // consumers: center cap (+ the caller's score lookups)
    val okc = s.join(deg.filter(col("d") <= CnDegCap)
      .select(col("u") +: weights.map { case (n, w) => w.as(n) }: _*), Seq("u"))
    val wedges = okc.as("x").join(okc.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(Seq(col("x.v").as("a"), col("y.v").as("b")) ++
        weights.map { case (n, _) => col(s"x.$n").as(n) }: _*)
    (deg, wedges)
  }

  /** Common-neighbor / Jaccard link prediction over the co-activity
    * graph — the classic "who should be connected" candidate generator
    * (Liben-Nowell & Kleinberg 2003): for every NON-adjacent pair (a, b)
    * sharing at least one neighbor, count common neighbors and score
    * Jaccard = |N(a) n N(b)| / |N(a) u N(b)| in exact scaled integers.
    * Top 20 by (n_common desc, a, b) — a total order, (a, b) is unique.
    *
    * Scale: wedge enumeration is the triangle problem's fan-out — a hub
    * with degree d emits d*(d-1)/2 candidate pairs, so centers above
    * CnDegCap are dropped BEFORE pair generation (the quadratic cap every
    * production link predictor applies — common neighbors routed through
    * a super-hub don't signal affinity anyway). n_common therefore counts
    * common neighbors of degree <= CnDegCap, while deg_a/deg_b come from
    * the UNCAPPED adjacency — a documented approximation, mirrored
    * exactly in the oracle. One shuffle per groupBy on natural keys; the
    * already-adjacent filter is a LEFT ANTI join on the edge key, and the
    * final top-20 is a TakeOrdered, never a global sort. */
  def commonNeighbors(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    commonNeighborsOn(coActivityEdges(spark, dir))

  /** Same operator over any undirected (a, b) edge set kept once as
    * a < b — Round9Spec pins the wedge counts, the adjacency exclusion,
    * and the CnDegCap hub cut on a hand-worked graph. */
  def commonNeighborsOn(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn
      .localCheckpoint() // consumers: sym (x2 branches), anti-join side
    val (deg, wedges) = cappedWedges(edges)
    val cand = wedges.groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    cand
      .join(edges, Seq("a", "b"), "left_anti")
      .join(deg.select(col("u").as("a"), col("d").as("deg_a")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("deg_b")), Seq("b"))
      .withColumn("jaccard_x10000",
        expr("(10000 * n_common) div (deg_a + deg_b - n_common)"))
      .orderBy(col("n_common").desc, col("a").asc, col("b").asc).limit(20)
      .select("a", "b", "n_common", "deg_a", "deg_b", "jaccard_x10000")
      .orderBy(col("n_common").desc, col("a").asc, col("b").asc)
  }

  /** RESOURCE-ALLOCATION LINK PREDICTION (gr_resource_alloc) — the
    * degree-weighted refinement of gr_common_neighbors (Zhou, Lü &
    * Zhang 2009): a shared neighbor z contributes 1/deg(z), so a
    * common neighbor that links to everyone (a hub) counts for almost
    * nothing while an exclusive mutual friend counts fully — RA beats
    * raw counts and Adamic-Adar on most link-prediction benchmarks.
    * The weight is frozen as the exact BIGINT 10^9 div deg(z) (floor
    * division on non-negative operands — identical in Spark `div` and
    * DuckDB `//`), so the score never touches a float. Same wedge plan,
    * caps, and adjacency exclusion as gr_common_neighbors: centers above
    * CnDegCap are dropped BEFORE pair generation; the weight rides ON
    * the wedge row so scoring is one map-side-combinable sum — no extra
    * join versus the counting variant. Top 20 by (ra_x1e9 desc, a, b),
    * a total order. */
  def resourceAlloc(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    resourceAllocOn(coActivityEdges(spark, dir))

  /** Same operator over any undirected (a, b) edge set kept once as
    * a < b — Round18Spec pins the RA weights and the hub discount on a
    * hand-worked graph. */
  def resourceAllocOn(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn
      .localCheckpoint() // consumers: sym (x2 branches), anti-join side
    val (_, wedges) = cappedWedges(edges,
      "w_center" -> expr("CAST(1000000000 AS BIGINT) div d"))
    val cand = wedges
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("w_center")).as("ra_x1e9"))
    cand
      .join(edges, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_x1e9").desc, col("a").asc, col("b").asc).limit(20)
      .select("a", "b", "n_common", "ra_x1e9")
      .orderBy(col("ra_x1e9").desc, col("a").asc, col("b").asc)
  }

  /** Prediction depth of gr_linkpred_eval (hits@K). */
  val LinkpredK = 50L

  /** Holdout selector of gr_linkpred_eval: ~1 edge in 5, md5-keyed. */
  val LinkpredHoldoutMod = 5L

  /** LINK-PREDICTION EVALUATION HARNESS (gr_linkpred_eval) — the
    * experiment the link-prediction literature actually runs (Liben-
    * Nowell & Kleinberg 2007): hide a deterministic ~20% of the edges
    * (md5 on the edge key — the repo's only sanctioned hash), score
    * non-adjacent pairs on the REMAINING graph with the three classic
    * scorers — common neighbors, resource allocation (1/deg), and
    * Adamic-Adar frozen as the exact-integer 10^9 div bitlen(deg)
    * (bitlen = floor(log2)+1, exact on both engines — the documented
    * log2 surrogate) — and report hits@K against the hidden edges per
    * scorer. gr_common_neighbors/gr_resource_alloc publish rankings;
    * this publishes which scorer RECOVERS ground truth, the table that
    * justifies choosing one. All three scores ride the SAME wedge row
    * (one pair generation, one groupBy), melt via stack into (scorer,
    * score) and rank in ONE window — never three wedge plans.
    * precision_x10000 normalizes by the FIXED K by design (standard
    * precision@K: an underfull candidate pool counts its missing slots
    * as misses, so scorers stay comparable across corpora); k_scored is
    * published alongside so precision@retrieved = hits/k_scored is one
    * division away (ADVICE r11 — documented, not changed).
    *
    * Scale: the wedge fan-out is the audited gr_common_neighbors plan
    * (center cap BEFORE pair generation); the melt triples only the
    * AGGREGATED candidate frame; ranks are a per-scorer window over
    * candidates, cut at K; hits is a broadcast-able semi join against
    * the O(holdout) edge list. */
  def linkpredEval(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    linkpredEvalOn(coActivityEdges(spark, dir))

  /** Same harness over any undirected (a, b) edge set kept once as
    * a < b — Round20Spec pins the split, the AA bitlen weights, and a
    * recovered planted edge on a hand-worked graph. */
  def linkpredEvalOn(edgesIn: DataFrame): DataFrame = {
    val keyed = edgesIn.withColumn("ho", expr(
      s"""CAST(conv(substring(md5(concat('lp:', CAST(a AS STRING), ':',
         |CAST(b AS STRING))), 1, 4), 16, 10) AS BIGINT)
         |% $LinkpredHoldoutMod = 0""".stripMargin.replace("\n", " ")))
      .localCheckpoint() // consumers: train side (x4) + holdout side (x2)
    val train = keyed.filter(!col("ho")).select("a", "b")
    val holdout = keyed.filter(col("ho")).select("a", "b")
    val (_, wedges) = cappedWedges(train,
      "w_ra" -> expr("CAST(1000000000 AS BIGINT) div d"),
      "w_aa" -> expr("CAST(1000000000 AS BIGINT) div length(bin(d))"))
    val cand = wedges
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum("w_ra").as("ra"), sum("w_aa").as("aa"))
      .join(train, Seq("a", "b"), "left_anti")
    val melted = cand.select(col("a"), col("b"), expr(
      """stack(3, 'aa', aa, 'cn', cn * CAST(1000000000 AS BIGINT), 'ra', ra)
        |AS (scorer, score)""".stripMargin.replace("\n", " ")))
    // Per-scorer top-K via the native two-phase heap (TopKPerKeyExec):
    // a Window.partitionBy("scorer") has cardinality 3, so ALL candidate
    // pairs would sort in 3 tasks. Key/tie must be BIGINT: scorer maps
    // to a code, and the (a asc, b asc) tiebreak packs as a*2^32+b —
    // order-preserving because ids are nonnegative and < 2^32 (the
    // user-id-space bound the Morton/packing tiers already assume).
    val top = graft.plans.TopKPerKeyNative.topK(
      melted
        .withColumn("sid", expr(
          "CASE scorer WHEN 'aa' THEN 1L WHEN 'cn' THEN 2L ELSE 3L END"))
        .withColumn("tie", expr("a * 4294967296L + b")),
      "sid", "score", "tie", LinkpredK.toInt)
    val nHo = holdout.agg(count(lit(1)).as("n_holdout"))
      .localCheckpoint() // one-row frame: keep the final-plan audit clean
    top.join(holdout.withColumn("hit", lit(1L)), Seq("a", "b"), "left_outer")
      .groupBy("scorer")
      .agg(count(lit(1)).as("k_scored"), sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .crossJoin(broadcast(nHo))
      .withColumn("precision_x10000", expr(s"hits * 10000 div $LinkpredK"))
      .select("scorer", "k_scored", "hits", "n_holdout", "precision_x10000")
      .orderBy("scorer")
  }

  /** CONNECTED-COMPONENT SIZE HISTOGRAM (gr_components) — the graph
    * census every projection audit starts with: how fragmented is the
    * co-activity graph, and does one giant component dominate (the
    * percolation question that decides whether sampling by component is
    * even possible)? Labels come from the audited two-phase star
    * contraction (minLabelComponentsDoubling — the Kiveris et al. 2014
    * alternating large-star/small-star algorithm, O(log n) rounds with
    * a driver-side star-forest convergence test), then two bounded
    * rollups: component sizes, then the size histogram. Nodes are the
    * edge endpoints (isolated users have no co-activity by definition).
    * The oracle replays reachability as a recursive min-label closure
    * (the dd_cluster precedent) — different algorithm, same fixpoint,
    * which makes the hash-match a real cross-check of the contraction.
    *
    * Scale: star contraction is the published 100 TB components
    * algorithm (each round two groupBy-min passes + equi-joins, edges
    * only shrink); the histogram aggregates O(components) rows. */
  def componentsQ(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    componentsOn(coActivityEdges(spark, dir))

  /** Same census over any undirected (a, b) edge set kept once as
    * a < b — Round20Spec pins the histogram on hand-worked fragments. */
  def componentsOn(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.localCheckpoint() // node projection + label input
    val nodes = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id"))).distinct()
    val comp = minLabelComponentsDoubling(
      nodes, edges.select(col("a").as("src"), col("b").as("dst")))
    comp.groupBy("comp").agg(count(lit(1)).as("comp_size"))
      .groupBy("comp_size").agg(count(lit(1)).as("n_components"))
      .orderBy("comp_size")
  }

  /** Degree thresholds of gr_rich_club. */
  val RichClubKs = Seq(1L, 2L, 4L, 8L, 16L)

  /** RICH-CLUB COEFFICIENT (gr_rich_club) — the hub-interconnection
    * diagnostic (Zhou & Mondragón 2004; Colizza et al. 2006 normalize
    * it): for each degree threshold k, phi(k) = 2·E_k / (N_k·(N_k−1))
    * where N_k counts nodes of degree > k and E_k the edges between
    * two such nodes — a phi(k) rising with k says the hubs form a
    * club (they preferentially interconnect), which changes how much
    * a hub-cap distorts the graph tier's projections. Published as
    * the exact scaled integer phi_x10000 per threshold.
    *
    * Scale: degree is one map-side-combinable groupBy; each edge gets
    * its endpoint degrees via two co-partitioned joins and reduces to
    * min(da, db); then BOTH histograms are single conditional-sum
    * aggregates (one pass each, all thresholds at once) and the final
    * stack touches 5 rows. No per-k scans, no self-joins. */
  def richClub(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    richClubOn(coActivityEdges(spark, dir))

  /** Same coefficient over any undirected (a, b) edge set kept once as
    * a < b — Round20Spec pins phi on a hand-worked hub graph. */
  def richClubOn(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.localCheckpoint() // deg union sides + tagged pass
    val deg = sym(edges, "a", "b", "u", "v").groupBy("u").agg(count(lit(1)).as("d"))
      .localCheckpoint() // consumers: two edge-tag sides + node histogram
    val mdeg = edges
      .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .select(least(col("da"), col("db")).as("m"))
    val eAggs = RichClubKs.map(k =>
      sum(when(col("m") > k, 1L).otherwise(0L)).as(s"e$k"))
    val nAggs = RichClubKs.map(k =>
      sum(when(col("d") > k, 1L).otherwise(0L)).as(s"n$k"))
    val ea = mdeg.agg(eAggs.head, eAggs.tail: _*)
      .localCheckpoint() // one-row frame: keep the final-plan audit clean
    val na = deg.agg(nAggs.head, nAggs.tail: _*)
      .localCheckpoint() // one-row frame, same rule
    ea.crossJoin(na)
      .select(expr(s"stack(${RichClubKs.length}, " +
        RichClubKs.map(k => s"CAST($k AS BIGINT), e$k, n$k").mkString(", ") +
        ") AS (k, n_edges, n_nodes)"))
      .withColumn("phi_x10000", expr(
        "CASE WHEN n_nodes >= 2 THEN (20000 * n_edges) div (n_nodes * (n_nodes - 1)) " +
          "ELSE CAST(0 AS BIGINT) END"))
      .select("k", "n_nodes", "n_edges", "phi_x10000")
      .orderBy("k")
  }

  /** Hop budget of gr_khop. */
  val KhopRounds = 3

  /** Fixed-k-hop BFS expansion from a deterministic seed set (every
    * user_id % 100 == 0) over the co-activity graph — the neighborhood
    * sampler every GNN / graph-feature pipeline runs: how much of the
    * graph is within k hops of the seeds, histogrammed by exact hop
    * distance (unreached = -1). FIXED hops, not convergence — the
    * contract is "k-hop neighborhood", and a fixed unroll is what the
    * oracle replays as k chained CTEs (the ann_kmeans precedent).
    *
    * Scale: per round ONE co-partitioned (frontier x edges) join + one
    * map-side-combinable min groupBy — the textbook distributed BFS
    * round; each round's label frame is localCheckpointed (consumed by
    * the next round's join AND union — the shared-frame rule). Frontier
    * size is bounded by the node set, never edges. */
  def khop(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    khopOn(coActivitySym(spark, dir))

  /** Sources / BFS depth / published rows of gr_betweenness. */
  val BrandesSources = 8
  val BrandesDepth = 4
  val BrandesTopK = 20

  /** K-SOURCE SHORTEST-PATH CENTRALITY (gr_betweenness) — completes the
    * centrality arc next to pagerank/ppr/hits: which nodes do shortest
    * paths actually route THROUGH? Exact re-expression: the published
    * score is depth-capped STRESS centrality (Shimbel 1953; Brandes
    * 2008's variants paper shows it rides the same two-phase
    * accumulation as betweenness) from the BrandesSources smallest node
    * ids — stress(v) = sum over sources s of sigma(s,v) * P_s(v), where
    * sigma is the exact shortest-path COUNT into v (summed along BFS
    * levels, the Brandes forward pass) and P_s(v) = sum over DAG
    * successors w of (1 + P_s(w)) counts the shortest-path
    * continuations out of v (the Brandes backward pass with the
    * sigma_v/sigma_w ratio integer-ized away: betweenness proper needs
    * rational ratios that no cross-engine hash can pin, stress is the
    * exact-integer member of the same family — K-source sampling per
    * Brandes & Pich 2007). Sources are excluded at publish (endpoint
    * convention). Output: top-BrandesTopK nodes by (stress desc, u asc)
    * with their per-source touch count.
    *
    * Scale: forward = BrandesDepth rounds of ONE frontier-edge
    * co-partitioned join each (frontier bounded by sources x nodes),
    * anti-joined against the visited set — the gr_khop shape carrying an
    * extra integer; backward = the same joins level-by-level in reverse;
    * every loop-carried frame localCheckpoints. Overflow bound:
    * sigma * P <= (paths per node)^2 at depth 4 on the hub-capped
    * co-activity graph — orders of magnitude under the 10^17 DECIMAL
    * rule line (and the spec plants a dense clique to check the worst
    * local blowup). */
  def betweenness(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    betweennessOn(coActivitySym(spark, dir))

  /** Same operator over any symmetric (src, dst) edge frame — Round21Spec
    * replays sigma/P by hand on a diamond-plus-tail graph and a clique. */
  def betweennessOn(sym: DataFrame): DataFrame = {
    val srcs = sym.select(col("src").as("s")).distinct()
      .orderBy(col("s").asc).limit(BrandesSources)
      .localCheckpoint() // seeds the forward pass; bounded rows
    // forward: levels(d) = (s, u, sigma) for nodes first reached at depth d
    var level = srcs.select(col("s"), col("s").as("u"), lit(1L).as("sigma"))
      .localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer(level)
    var visited = level.select("s", "u").localCheckpoint()
    for (_ <- 1 to BrandesDepth) {
      val nxt = level.join(sym, col("u") === col("src"))
        .select(col("s"), col("dst").as("u"), col("sigma"))
        .join(visited, Seq("s", "u"), "left_anti")
        .groupBy("s", "u").agg(sum(col("sigma")).as("sigma"))
        .localCheckpoint() // consumed by visited, next round, backward
      levels += nxt
      visited = visited.unionByName(nxt.select("s", "u")).localCheckpoint()
      level = nxt
    }
    // backward: P(v) = sum over BFS-DAG successors w of (1 + P(w));
    // delta holds level d+1's P while depth d is being computed
    var delta = levels(BrandesDepth).select(col("s"), col("u"), lit(0L).as("p"))
      .localCheckpoint()
    // deepest level has no successors: stress 0 (rows kept for n_sources)
    var scored = levels(BrandesDepth)
      .select(col("s"), col("u"), lit(0L).as("stress"))
    for (d <- (BrandesDepth - 1) to 0 by -1) {
      val succ = delta.select(col("s"), col("u").as("w"), col("p").as("pw"))
      val contrib = levels(d).select(col("s"), col("u"))
        .join(sym, col("u") === col("src"))
        .select(col("s"), col("u"), col("dst").as("w"))
        .join(succ, Seq("s", "w"))
        .groupBy("s", "u").agg(sum(lit(1L) + col("pw")).as("p"))
      delta = levels(d).select(col("s"), col("u"), col("sigma"))
        .join(contrib, Seq("s", "u"), "left_outer")
        .select(col("s"), col("u"), coalesce(col("p"), lit(0L)).as("p"),
          col("sigma"))
        .localCheckpoint() // next backward round + the score union
      scored = scored.unionByName(
        delta.select(col("s"), col("u"), (col("sigma") * col("p")).as("stress")))
    }
    // Publish via distributed TakeOrderedAndProject (orderBy+limit caps
    // the per-node aggregate to BrandesTopK rows with map-side partial
    // top-k), then rank the capped frame — the gr_pagerank idiom; an
    // un-partitioned window here would single-task-sort every reached
    // node at 100x.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("stress").desc, col("u").asc)
    scored
      .filter(col("u") =!= col("s")) // endpoint convention: sources excluded
      .groupBy("u")
      .agg(sum(col("stress")).as("stress"), count(lit(1)).as("n_sources"))
      .orderBy(col("stress").desc, col("u").asc).limit(BrandesTopK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "u", "stress", "n_sources")
      .orderBy("rank")
  }

  /** Same operator over any symmetric (src, dst) edge frame — Round9Spec
    * pins hop distances and the unreached bucket on a hand-worked path
    * graph. */
  def khopOn(sym: DataFrame): DataFrame = relaxHistogram(sym, KhopRounds, lit(1L))

  /** Bounded frontier relaxation + distance histogram over a symmetric
    * (src, dst, …) edge frame, shared by gr_khop (`step` 1: hop count)
    * and gr_sssp (`step` the edge weight w): every node u % 100 == 0
    * seeds at d = 0, each of `rounds` rounds relaxes d(v) = min(d(v),
    * min over incoming (d(u) + step)), and the output is the exact
    * (d, n_users) histogram with unreached nodes at d = -1. */
  private def relaxHistogram(sym: DataFrame, rounds: Int, step: Column): DataFrame = {
    val nodes = sym.select(col("src").as("u")).distinct()
      .localCheckpoint() // consumers: seed filter + final left join
    var dist = nodes.filter(col("u") % 100 === 0)
      .select(col("u"), lit(0L).as("d"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      dist = dist.join(sym, col("u") === col("src"))
        .select(col("dst").as("u"), (col("d") + step).as("d"))
        .unionByName(dist.select(col("u"), col("d")))
        .groupBy("u").agg(min(col("d")).as("d"))
        .localCheckpoint() // consumed by next round's join AND union
    }
    nodes.join(dist, Seq("u"), "left")
      .select(col("u"), coalesce(col("d"), lit(-1L)).as("d"))
      .groupBy("d").agg(count(lit(1)).as("n_users"))
      .orderBy("d")
  }

  /** Bellman-Ford relaxation rounds of gr_sssp. */
  val SsspRounds = 4

  /** Bounded-round WEIGHTED single-source shortest paths (multi-seed
    * Bellman-Ford) — the weighted complement of gr_khop: edge weight
    * max(1, 11 - shared-bucket count), so heavy co-activity = short
    * distance; seeds are every u % 100 == 0 node at distance 0, and each
    * round relaxes dist(v) = min(dist(v), min over incoming (dist(u) +
    * w)). After 4 rounds the output is the exact-integer distance
    * histogram (paths longer than 4 hops stay at their current upper
    * bound — the bounded-round contract, same as gr_khop).
    *
    * Scale: per round ONE co-partitioned join of the frontier against the
    * edge list on the src key + a map-side-combinable min — the classic
    * iterative-relaxation plan; per-round frames localCheckpoint (the
    * standing recompute rule for loop-carried frames). Distances and
    * weights are BIGINT throughout — no float path costs to drift. */
  def sssp(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val we = coActivityPairs(spark, dir)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n"))
      .select(col("a"), col("b"), greatest(lit(1L), lit(11L) - col("n")).as("w"))
    ssspOn(sym(we, "a", "b", carry = Seq("w"))
      .localCheckpoint()) // one join per round
  }

  /** Same operator over any symmetric (src, dst, w) edge frame. */
  def ssspOn(sym: DataFrame): DataFrame = relaxHistogram(sym, SsspRounds, col("w"))

  /** Peeling rounds / core threshold of gr_kcore. */
  val KcoreRounds = 4
  val KcoreK = 3L

  /** K-CORE decomposition (k = 3) by bounded PEELING — the classic
    * community-skeleton primitive: each round recomputes degrees and
    * drops every node below k, which can cascade (a node's survivors may
    * fall below k once its peeled neighbors vanish), so the output is the
    * per-round (n_nodes, n_sym_edges) shrink trace after 4 rounds — the
    * bounded-round contract of gr_khop/gr_sssp (a converged core is a
    * fixed point; unconverged graphs report their round-4 upper bound).
    *
    * Scale: per round one map-side-combinable degree count + one semi
    * join of the edge list against the surviving-node set on each
    * endpoint — never a pairwise product; per-round frames
    * localCheckpoint (loop-carried, multiply consumed). */
  def kcore(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    kcoreOn(coActivitySym(spark, dir))

  /** Same operator over any symmetric (src, dst) edge frame. */
  def kcoreOn(sym0: DataFrame): DataFrame = {
    var sym = sym0
    var trace = Seq.empty[DataFrame]
    for (r <- 1 to KcoreRounds) {
      val keep = sym.groupBy(col("src").as("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= KcoreK).select("u")
      sym = sym
        .join(keep.select(col("u").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("u").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint() // next round's degrees + this round's stat
      trace = trace :+ sym
        .agg(countDistinct(col("src")).as("n_nodes"),
          count(lit(1)).as("n_sym_edges"))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_sym_edges"))
    }
    trace.reduce(_ unionByName _).orderBy("round")
  }

  /** BIPARTITE CO-PURCHASE PROJECTION (gr_copurchase) — the recommender
    * data-prep shape: project the customer–part bipartite purchase graph
    * onto parts; edge weight = number of customers who bought both parts
    * (distinct customer–part incidence, so repeat purchases do not
    * inflate the weight). Top-30 pairs by (weight desc, p1, p2) —
    * unique tiebreak.
    *
    * Scale: the bipartite incidence list dedups on (cust, part) with
    * map-side partial dedup; the projection self-join is CO-PARTITIONED
    * on the customer key (the incidence frame is eagerly
    * localCheckpointed — house rule, self-join sides must not recompute)
    * and candidate pairs per customer are bounded by that customer's
    * basket size via p1 < p2 triangularization — never an all-pairs
    * product. The pair count shuffles on the pair key with partial aggs;
    * hot parts are skewed pair keys — AQE splits. */
  def copurchase(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    copurchasePairCounts(spark, dir)
      .orderBy(col("n_cust").desc, col("p1"), col("p2"))
      .limit(30)

  /** The full co-purchase pair-count projection (p1, p2, n_cust) as a
    * model artifact: the incidence build + customer-keyed self-join is
    * the whole cost of gr_copurchase (the single slowest query at r10),
    * and the projection is a deterministic count table, keyed on BOTH
    * source tables (orders x lineitem). Warm
    * path: one parquet scan straight into the top-K (no checkpoint —
    * single consumer, let the scan feed the TopK directly). */
  private[graft] def copurchasePairCounts(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ModelStore.frame(spark,
        ModelStore.Source(dir, Seq("orders.parquet", "lineitem.parquet"), "copur1"),
        ModelStore.Table("copur", Seq("p1", "p2", "n_cust"), singleFile = false)) {
      copurchasePairCountsOn(
        graft.sources.Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(graft.sources.Tables.lineitem(spark, dir)
              .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_partkey").as("part")))
        .localCheckpoint() // isEmpty probe + write + topK all read it
    }

  /** Basket cap of gr_copurchase: customers with more than this many
    * distinct parts are dropped BEFORE pair generation — pair fan-out is
    * quadratic in basket size, and a buy-everything account signals
    * nothing about pair affinity (the gr_common_neighbors CnDegCap
    * rationale; same cap family as the dedup hot-bucket cuts). Dormant
    * on the driver corpus (~40 parts/customer at every SF) — the
    * structural guard is the point. */
  val CopurchaseBasketCap = 256L

  /** Same projection over any (cust, part) incidence frame — Round11Spec
    * pins the triangularization and repeat-purchase dedup; Round12Spec
    * pins the basket cap. */
  def copurchaseOn(incidence: DataFrame, topK: Int): DataFrame =
    copurchasePairCountsOn(incidence)
      .orderBy(col("n_cust").desc, col("p1"), col("p2"))
      .limit(topK)

  /** The capped pair-count build shared by copurchaseOn (specs) and the
    * copur_ artifact fold. */
  private def copurchasePairCountsOn(incidence: DataFrame): DataFrame = {
    val cp0 = incidence.distinct()
      .localCheckpoint() // basket sizes + both self-join sides (house rule)
    val ok = cp0.groupBy("cust").agg(count(lit(1)).as("bs"))
      .filter(col("bs") <= CopurchaseBasketCap)
      .select("cust")
    val cp = cp0.join(ok, Seq("cust"))
      .localCheckpoint() // self-join sides must not recompute (house rule)
    cp.select(col("cust"), col("part").as("p1"))
      .join(cp.select(col("cust"), col("part").as("p2")), Seq("cust"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_cust"))
  }

  /** Rounds of synchronous label propagation (gr_lpa). */
  val LpaRounds = 3

  /** Basket cap of the gr_lpa / gr_modularity per-ORDER pair build:
    * orders with more than this many distinct parts are dropped BEFORE
    * pair generation — the CopurchaseBasketCap rationale at order grain
    * (pair fan-out is quadratic in basket size; TPC-H's <= 7
    * lineitems/order makes the cap dormant on the driver corpus, but a
    * skewed real-world order stream would go quadratic without it).
    * Mirrored in the oracle's inc CTE; Round17Spec plants a mega-order. */
  val LpaOrderCap = 256L

  /** Drop over-cap orders from a distinct (o, p) incidence frame: basket
    * size via ONE count window on the order key (the same partitioning
    * the downstream pair self-join needs — no second shuffle, unlike a
    * groupBy + keep-join), then filter. */
  private[graft] def capOrders(inc0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    inc0
      .withColumn("bs", count(lit(1)).over(Window.partitionBy("o")))
      .filter(col("bs") <= LpaOrderCap)
      .drop("bs")
  }

  /** Minimum co-order count for a gr_lpa edge: parts must co-occur in
    * >= 2 DISTINCT orders — single co-occurrence is noise (the
    * one-shared-basket pair), repetition is affinity. Also the sparsifier
    * that makes community structure visible: the raw co-activity graph
    * is near-complete at sf0.01 (avg degree ~104) and LPA correctly
    * collapses it to ONE community — measured, not guessed. */
  val LpaMinShared = 2L

  /** (edges, labels) of the capped co-order graph, as one model
    * artifact (lpaedges_ + lpalbl_, keyed on lineitem, deployed only as
    * a pair): the edge list and the final LPA labels re-derive
    * identically inside gr_lpa, gr_modularity and gr_louvain_move, so a
    * warm consumer skips the incidence self-join AND all LpaRounds
    * propagation rounds (LpaModelSpec pins parity + invalidation). Both
    * tables are O(parts)/O(co-purchase pairs) — catalog-sized. Both
    * frames come back localCheckpointed — every consumer reads each side
    * more than once (sym union x2, lookups). */
  private[graft] def lpaChain(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    ModelStore.frames(spark, ModelStore.Source(dir, "lineitem.parquet", "lpa1"),
        Seq(ModelStore.Table("lpaedges", Seq("a", "b")),
          ModelStore.Table("lpalbl", Seq("u", "lbl"))), warm = _.localCheckpoint()) {
      val inc = capOrders(graft.sources.Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct())
        .localCheckpoint() // self-join sides must not recompute (house rule)
      val edges = inc.as("x").join(inc.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b")).agg(count(lit(1)).as("ns"))
        .filter(col("ns") >= LpaMinShared)
        .select("a", "b")
        .localCheckpoint() // m + intra lookups + both sym directions
      val labels = lpaLabelsOn(sym(edges, "a", "b"))
        .localCheckpoint() // every consumer reads labels 2-4 times
      Seq(edges, labels)
    } match { case Seq(edges, labels) => (edges, labels) }
  }

  /** LABEL PROPAGATION COMMUNITIES (gr_lpa) — Raghavan et al. 2007, the
    * near-linear community detector (the Louvain-lite every graph stack
    * ships), on the part co-order graph (parts adjacent iff bought
    * together in >= LpaMinShared distinct orders — the product-community
    * graph downstream of gr_copurchase's projection): labels start as
    * node ids; each synchronous round every node adopts the MOST
    * FREQUENT label among its neighbors, ties to the smallest label — an
    * exact-integer argmax on (count desc, label asc), so every round is
    * bit-identical across engines and the oracle unrolls the LpaRounds
    * rounds as chained CTEs (the gr_pagerank pattern). Bounded rounds
    * are the honest deployment shape: LPA has no convergence guarantee
    * (label oscillation on bipartite-ish structure is a known failure
    * mode), so production runs cap rounds. Output: the largest
    * communities with member counts, top-25 on a unique tiebreak.
    *
    * Scale: edge build = one co-partitioned self-join on the order key
    * (pairs bounded by basket size, p1 < p2 triangular); per LPA round
    * ONE co-partitioned (sym edges x labels) join + one
    * map-side-combinable (node, label) count + a per-node top-1 window
    * whose partition fan-in is bounded by that node's degree — the same
    * per-round traffic as distributed PageRank; rounds localCheckpointed
    * (lineage house rule). Hot hubs are skewed dst keys — AQE splits. */
  def lpa(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (_, labels) = lpaChain(spark, dir)
    labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(25)
  }

  /** Same propagation over any symmetric (src, dst) edge frame —
    * Round12Spec pins the argmax tie rule and round count on a
    * two-community bridge graph. */
  def lpaOn(symEdges: DataFrame, topK: Int): DataFrame =
    lpaLabelsOn(symEdges).groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(topK)

  /** Full final LPA label assignment (u, lbl) over a symmetric edge
    * frame — the shared core of lpaOn's rollup and gr_modularity's
    * community partition. Per-round shapes as documented on gr_lpa. */
  private[graft] def lpaLabelsOn(symEdges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = symEdges.localCheckpoint() // reused by every round's join
    var labels = sym.select(col("src").as("u")).distinct()
      .select(col("u"), col("u").as("lbl")).localCheckpoint()
    val w = Window.partitionBy("u").orderBy(col("c").desc, col("lbl").asc)
    for (_ <- 1 to LpaRounds) {
      labels = sym.join(labels.withColumnRenamed("u", "src"), Seq("src"))
        .groupBy(col("dst").as("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("u"), col("lbl"))
        .localCheckpoint() // next round reads this; lineage house rule
    }
    labels
  }

  /** BIPARTITE HITS (gr_hits) — Kleinberg's hubs-and-authorities on the
    * customer–part purchase graph (hub = a customer whose basket
    * concentrates authoritative parts; authority = a part bought by
    * strong hubs — the repeated-improvement recommender prior next to
    * gr_pagerank's flat authority): two full mutual-reinforcement
    * iterations h = Σ a, a = Σ h over the distinct incidence,
    * UNNORMALIZED in exact integers — normalization only rescales by a
    * global constant and global rescaling never changes the ranking, so
    * the divisions (the one part of HITS that does not hash-match
    * across engines) are simply not computed. Growth per half-round is
    * bounded by the basket cap × per-part buyer count: a2 <= (256 x
    * buyers)^2-ish ~ 10^12 at sf100 — inside BIGINT, bound documented;
    * deeper iteration would switch to DECIMAL(38,0). Baskets above the
    * gr_copurchase cap are dropped (same quadratic/overflow guard).
    * Output: top-15 authority parts with their final score, buyer
    * count, and the round-1 score (the rank movement between rounds is
    * the mutual-reinforcement signal itself).
    *
    * Scale: each half-round is ONE co-partitioned (incidence x scores)
    * join + a map-side-combinable sum on the other side's key — the
    * gr_pagerank per-round shape on a bipartite graph. */
  def hits(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    hitsOn(graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.sources.Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part")), 15)

  /** Same iterations over any (cust, part) incidence frame — Round12Spec
    * pins mutual reinforcement beating raw popularity. */
  def hitsOn(incidence: DataFrame, topK: Int): DataFrame = {
    val inc0 = incidence.distinct()
      .localCheckpoint() // basket sizes + all four half-round joins
    val ok = inc0.groupBy("cust").agg(count(lit(1)).as("bs"))
      .filter(col("bs") <= CopurchaseBasketCap).select("cust")
    val inc = inc0.join(ok, Seq("cust"))
      .localCheckpoint() // four half-round joins
    // a0 = 1 for every part: h1(c) = basket size
    val h1 = inc.groupBy("cust").agg(count(lit(1)).as("h"))
    val a1 = inc.join(h1, Seq("cust"))
      .groupBy("part").agg(sum(col("h")).as("a"))
      .localCheckpoint() // h2 join + the round-1 report column
    val h2 = inc.join(a1, Seq("part"))
      .groupBy("cust").agg(sum(col("a")).as("h"))
    val a2 = inc.join(h2, Seq("cust"))
      .groupBy("part").agg(sum(col("h")).as("a2"), count(lit(1)).as("n_buyers"))
    a2.join(a1.select(col("part"), col("a").as("a1")), Seq("part"))
      .select(col("part"), col("a2"), col("a1"), col("n_buyers"))
      .orderBy(col("a2").desc, col("part")).limit(topK)
  }

  /** COMMUNITY MODULARITY (gr_modularity) — Newman-Girvan Q of the LPA
    * partition on the co-purchase graph: the quality gauge that tells a
    * pipeline whether the communities gr_lpa publishes are real structure
    * or hash noise (Q near 0), and the objective Louvain-style refinement
    * would climb. Per community: members, degree sum d_c, intra-community
    * edges m_c; the global score rides every row as
    * Q = (4m·Σm_c − Σd_c²) / (4m²), computed entirely in DECIMAL(38,0)
    * (d_c² is the gr_assort wrap class — operands cast BEFORE the
    * multiply) and published as q_x10000 via the nonneg-shift integer
    * division (numer ≥ −4m² always, so shifting by 4m²·10⁴ keeps Spark
    * `div` = DuckDB `//`).
    *
    * Scale: reuses gr_lpa's bounded-basket edge build and label rounds;
    * degree and d_c are map-side-combinable; m_c is two co-partitioned
    * label lookups on the edge list; the Q row is one-row and cross-joins
    * only one-row frames. */
  def modularity(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (edges, labels) = lpaChain(spark, dir)
    val deg = sym(edges, "a", "b").groupBy(col("src").as("u")).agg(count(lit(1)).as("d"))
    val per = communityStats(edges, deg, labels)
      .localCheckpoint() // global Q sums + published top rows read it
    val q = louvainQRow(per, edges.agg(count(lit(1)).as("m")), "q_x10000",
      "intra_edges", "degree_sum")
    per.crossJoin(broadcast(q)) // one-row global score onto the top rows
      .select(col("lbl").as("community"), col("n_members"), col("degree_sum"),
        col("intra_edges"), col("q_x10000"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(12)
  }

  /** Per-community stats of a (u, lbl) partition over the (a, b) edge
    * list and its node degrees (u, d): (lbl, n_members, degree_sum,
    * intra_edges), intra_edges counting the edges with both endpoints in
    * the community (0 when there are none). Shared by gr_modularity and
    * both Q sides of gr_louvain_move. Lazy. */
  private def communityStats(edges: DataFrame, deg: DataFrame, lab: DataFrame): DataFrame = {
    val ds = deg.join(lab, Seq("u"))
      .groupBy("lbl").agg(sum("d").as("degree_sum"), count(lit(1)).as("n_members"))
    val intra = edges
      .join(lab.select(col("u").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lab.select(col("u").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("intra_edges"))
    ds.join(intra, Seq("lbl"), "left_outer")
      .select(col("lbl"), col("n_members"), col("degree_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"))
  }

  /** One-row Newman-Girvan Q of a per-community frame under the one-row
    * edge mass `mrow` (m): Q = (4m·Σintra − Σdeg²) / (4m²), computed
    * entirely in DECIMAL(38,0) (deg² is the gr_assort wrap class —
    * operands cast BEFORE the multiply) and published as `name` = Q·10⁴
    * via the nonneg-shift integer division (numer ≥ −4m² always, so
    * shifting by 4m²·10⁴ keeps Spark `div` = DuckDB `//`). `intra` and
    * `deg` name the per-community internal mass and degree columns. The
    * one copy of the Q arithmetic: every Q the graph keys publish is this
    * row. */
  private def louvainQRow(per: DataFrame, mrow: DataFrame, name: String,
      intra: String = "intra_w", deg: String = "deg_w"): DataFrame =
    per.agg(
        sum(col(intra)).as("smc"),
        sum(expr(s"CAST($deg AS DECIMAL(19,0)) * CAST($deg AS DECIMAL(19,0))")).as("sd2"))
      .crossJoin(mrow)
      .select(expr(
        "CAST((CAST(10000 AS DECIMAL(38,0)) * " +
          "(CAST(4 AS DECIMAL(38,0)) * m * smc - sd2 + CAST(4 AS DECIMAL(38,0)) * m * m)) " +
          s"div (CAST(4 AS DECIMAL(38,0)) * m * m) - 10000 AS BIGINT)").as(name))

  /** The guarded synchronous move of every Louvain level. `scored` holds
    * one row per (node, candidate community lc) with kin (the node's edge
    * weight into lc), the node's degree `deg`, lc's Σtot `stot`, the
    * node's own community `own` and the one-row mass m. The INSERT-gain
    * numerator g = 2m·k_in − k_i·(Σtot − [lc = own]·k_i) is an exact
    * BIGINT (every operand a count or a sum of counts); each node takes
    * its argmax on (g desc, lc asc) and MOVES only under the Grappolo
    * guard — strict improvement (g(best) > g(own)) AND a lower target
    * label (lc < own). Returns (node, out), checkpointed. */
  private def guardedMove(scored: DataFrame, node: String, own: String, deg: String,
      out: String): DataFrame = {
    val gains = scored
      .withColumn("g", lit(2L) * col("m") * col("kin")
        - col(deg) * (col("stot") - when(col("lc") === col(own), col(deg)).otherwise(lit(0L))))
      .select((Seq(node, "lc", own).distinct :+ "g").map(col): _*)
      .localCheckpoint() // argmax window + own-gain lookup
    val wMove = Window.partitionBy(node).orderBy(col("g").desc, col("lc").asc)
    val best = gains.withColumn("rn", row_number().over(wMove)).filter(col("rn") === 1)
    val ownGain = gains.filter(col("lc") === col(own)).select(col(node), col("g").as("gown"))
    best.join(ownGain, Seq(node))
      .select(col(node),
        when(col("g") > col("gown") && col("lc") < col(own), col("lc"))
          .otherwise(col(own)).as(out))
      .localCheckpoint() // the caller's rollups and lookups
  }

  /** Shared phase-1 core: (deg, mrow, newlab) over the artifact chain's
    * (edges, labels) — the guarded synchronous sweep documented on
    * gr_louvain_move, from the LPA partition, consumed by the move
    * report, the coarsening and both multi-level keys. mrow is the
    * one-row edge mass m every level of the same graph shares
    * (contraction preserves it). */
  private def louvainMoveParts(edges: DataFrame, labels: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // §2.6 overlap: sym and mrow are independent reads of the
    // (checkpointed) edges — submit concurrently so the one-row edge
    // count rides sym's materialization instead of queueing behind it
    val (s, mrow) = Par.run2(
      () => sym(edges, "a", "b")
        .localCheckpoint(), // deg + k_in sides
      () => edges.agg(count(lit(1)).as("m"))
        .localCheckpoint()) // gain expr + Q rows
    val deg = s.groupBy(col("src").as("u")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // stot + gain join + after stats
    val stot = deg.join(labels, Seq("u"))
      .groupBy(col("lbl").as("lc")).agg(sum("d").as("stot"))
    val kiin = s.select(col("src").as("u"), col("dst").as("v"))
      .join(labels.select(col("u").as("v"), col("lbl").as("lc")), Seq("v"))
      .groupBy("u", "lc").agg(count(lit(1)).as("kin"))
    // the own community is always a candidate, even with zero intra edges
    val cand = kiin
      .unionByName(labels.select(col("u"), col("lbl").as("lc"), lit(0L).as("kin")))
      .groupBy("u", "lc").agg(max(col("kin")).as("kin"))
    val newlab = guardedMove(cand
        .join(deg, Seq("u"))
        .join(labels.select(col("u"), col("lbl").as("la")), Seq("u"))
        .join(stot, Seq("lc"))
        .crossJoin(broadcast(mrow)), "u", "la", "d", "nl")
    (deg, mrow, newlab)
  }

  /** LOUVAIN MOVE PHASE (gr_louvain_move) — one synchronous sweep of the
    * refinement gr_modularity's doc promises: every node evaluates, per
    * candidate community B (its neighbor communities plus its own), the
    * INSERT-gain numerator g(B) = 2m·k_in(B) − k_i·Σtot(B∖{i}) — the
    * remove-from-own term is constant across B, so argmax g decides the
    * move exactly as Blondel et al.'s phase-1 local move, every operand
    * an exact BIGINT (k_in, degrees, Σtot and m are counts; a Σtot(own)
    * correction of −k_i when B is the node's own community makes staying
    * commensurable). All nodes evaluate against the OLD partition
    * (synchronous — deterministic and oracle-replayable; sequential
    * Louvain is order-dependent), and a move APPLIES only under the
    * parallel-Louvain interference guard (Grappolo — Lu, Halappanavar &
    * Kalyanaraman 2015): strict improvement (g(best) > g(own)) AND the
    * minimum-label constraint (target community label < own), which
    * breaks the symmetric-swap oscillation an unguarded synchronous
    * sweep suffers — MEASURED here: unguarded q_after 46 < q_before 76
    * (x10000), guarded 4380. Output: the top post-move communities plus
    * Q before/after (the gr_modularity formula twice), the climb
    * visible.
    *
    * Scale: k_in is one co-partitioned (edges x labels) join +
    * map-side-combinable count; candidates per node are bounded by its
    * distinct neighbor-community count <= degree; the argmax window fans
    * in degree-bounded rows; m and both Q rows are one-row broadcasts.
    * g stays under 2^63 through ~sf100 on this graph (2m·k_in ~ e·d);
    * past that the gr_assort DECIMAL switch applies. */
  def louvainMove(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (edges, labels) = lpaChain(spark, dir)
    val (deg, mrow, newlab) = louvainMoveParts(edges, labels)
    val perAfter = communityStats(edges, deg, newlab.select(col("u"), col("nl").as("lbl")))
      .localCheckpoint() // Q sums + published top rows
    def q(per: DataFrame, name: String): DataFrame =
      broadcast(louvainQRow(per, mrow, name, "intra_edges", "degree_sum"))
    perAfter
      .crossJoin(q(communityStats(edges, deg, labels), "q_before_x10000"))
      .crossJoin(q(perAfter, "q_after_x10000"))
      .select(col("lbl").as("community"), col("n_members"), col("degree_sum"),
        col("intra_edges"), col("q_before_x10000"), col("q_after_x10000"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(12)
  }

  /** Level-1 contraction (Blondel et al. phase 2): fold the post-move
    * partition newlab (u, nl) over the (a, b) edges into a super-graph —
    * self-loop weights selfs (c, self_w), inter-community weights inter
    * (c1 < c2, w) and original-node mass (c, n_nodes). ea (every edge
    * with both endpoint communities) is checkpointed, since two rollups
    * read it; the three rollups come back lazy, for each caller to
    * checkpoint as its consumers need. */
  private def louvainContract(edges: DataFrame, newlab: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val ea = edges
      .join(newlab.select(col("u").as("a"), col("nl").as("ca")), Seq("a"))
      .join(newlab.select(col("u").as("b"), col("nl").as("cb")), Seq("b"))
      .localCheckpoint() // self-loop + inter branches
    (ea.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("self_w")),
      ea.filter(col("ca") =!= col("cb"))
        .select(least(col("ca"), col("cb")).as("c1"), greatest(col("ca"), col("cb")).as("c2"))
        .groupBy("c1", "c2").agg(count(lit(1)).as("w")),
      newlab.groupBy(col("nl").as("c")).agg(count(lit(1)).as("n_nodes")))
  }

  /** Per super-node degrees of a coarse graph (selfs, inter, mass):
    * (c, n_nodes, self_w, ext_w, deg_w), deg_w = 2·self_w + ext_w — the
    * super-graph's own degree (a self-loop counts at both ends). Every
    * super-node in mass has a row, an edge-less one reading 0. Under the
    * singleton partition these rows ARE the per-community (intra, degree)
    * stats, so their Q is the Q of the partition that was contracted.
    * Lazy. */
  private def coarseDegrees(selfs: DataFrame, inter: DataFrame, mass: DataFrame): DataFrame = {
    val ext = inter.select(col("c1").as("c"), col("w"))
      .unionByName(inter.select(col("c2").as("c"), col("w")))
      .groupBy("c").agg(sum(col("w")).as("ext_w"))
    mass
      .join(selfs, Seq("c"), "left_outer")
      .join(ext, Seq("c"), "left_outer")
      .select(col("c"), col("n_nodes"),
        coalesce(col("self_w"), lit(0L)).as("self_w"),
        coalesce(col("ext_w"), lit(0L)).as("ext_w"))
      .withColumn("deg_w", lit(2L) * col("self_w") + col("ext_w"))
  }

  /** LOUVAIN COARSENING (gr_louvain_coarsen) — phase 2 of Blondel et
    * al.: contract the post-move partition into a SUPER-GRAPH (one node
    * per community, edge weight = inter-community edge count,
    * self-loop = intra count), the graph the next Louvain level runs
    * on. Published per super-node: members, self-loops, external weight
    * and weighted degree, with the graph-level compression (super
    * nodes/edges) riding every row — plus the LEVEL INVARIANT that
    * makes coarsening auditable: Q computed from the COARSE quantities
    * (deg_w = 2·self + ext — the super-graph's own degree) must equal Q
    * computed at node grain (Σ node degrees per community), because
    * contraction preserves modularity exactly (the property the
    * multi-level algorithm rests on). Both are published; a mismatch
    * means edge mass was dropped or double-counted.
    *
    * Scale: two co-partitioned label lookups on the edge list (the
    * gr_modularity intra shape), one map-side-combinable rollup per
    * grain; super-graph frames are O(communities) — strictly smaller
    * than the input by construction. */
  def louvainCoarsen(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (edges, labels) = lpaChain(spark, dir)
    val (deg, mrow, newlab) = louvainMoveParts(edges, labels)
    val (selfs, interL, mass) = louvainContract(edges, newlab)
    val inter = interL
      .localCheckpoint() // n_super_edges + both per-side ext rollups
    val per = coarseDegrees(selfs, inter, mass)
      .localCheckpoint() // coarse-Q sums + published rows
    // node-grain twin: per-community degree as the sum of member degrees
    val nodeGrain = deg.join(newlab, Seq("u"))
      .groupBy(col("nl").as("c")).agg(sum(col("d")).as("deg_n"))
      .join(per.select("c", "self_w"), Seq("c"))
    val gRow = per.agg(count(lit(1)).as("n_super_nodes"))
      .crossJoin(inter.agg(count(lit(1)).as("n_super_edges")))
      .crossJoin(louvainQRow(per, mrow, "q_coarse_x10000", "self_w"))
      .crossJoin(louvainQRow(nodeGrain, mrow, "q_after_x10000", "self_w", "deg_n"))
    per.crossJoin(broadcast(gRow))
      .select(col("c").as("community"), col("n_nodes").as("n_members"),
        col("self_w").as("self_loops"), col("ext_w"),
        col("deg_w"), col("n_super_nodes"), col("n_super_edges"),
        col("q_after_x10000"), col("q_coarse_x10000"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(12)
  }

  /** One weighted Louvain level on a coarse graph, with its contraction:
    * the body of gr_louvain_level2 and of every gr_louvain_full level.
    * `kdeg`: the level's super-nodes (coarseDegrees; their Q is the
    * previous partition's); `per`: the post-move communities (l2,
    * n_super, n_nodes, intra_w, deg_w); `inter`/`selfs`/`mass`: the
    * contracted graph the next level runs on. */
  private case class WeightedLevel(kdeg: DataFrame, per: DataFrame, inter: DataFrame,
      selfs: DataFrame, mass: DataFrame)

  /** The weighted move phase on a coarse graph (inter: c1 < c2
    * inter-community weights, selfs: self-loop weights, mass:
    * original-node mass per super-node): super-nodes start as singleton
    * communities and run guardedMove with every count replaced by a
    * WEIGHT — k_in sums super-edge weights into B, k_i = Σw + 2·self (the
    * self-loop rides with the node, contributing to its degree but never
    * to another community's k_in), Σtot(B) = k(B). m is the GLOBAL edge
    * mass (contraction preserves total mass, so level 1's one-row m
    * serves every level). Then the contraction: new self weight = the
    * community's intra mass; inter weights re-key on the surviving
    * labels; node mass rolls up. Every frame here is
    * O(communities)/O(super-edges) — strictly shrinking by level.
    *
    * inter arrives CHECKPOINTED (the caller's level-1 rollup / the loop's
    * overlapped checkpoint); selfs, mass and sym(inter) are cheap
    * projections of checkpointed parents, so re-materializing them would
    * cost a blocking job per level for nothing — they stay lazy. */
  private def louvainWeightedLevel(inter: DataFrame, selfs: DataFrame, mass: DataFrame,
      mrow: DataFrame): WeightedLevel = {
    val kdeg = coarseDegrees(selfs, inter, mass)
      .localCheckpoint() // gain join + stot lookup + per rollup + singleton Q
    val kiin = sym(inter, "c1", "c2", "c", "lc", Seq("w"))
      .groupBy("c", "lc").agg(sum(col("w")).as("kin"))
    // singleton start: own community = the node itself
    val cand = kiin
      .unionByName(kdeg.select(col("c"), col("c").as("lc"), lit(0L).as("kin")))
      .groupBy("c", "lc").agg(max(col("kin")).as("kin"))
    val newlab = guardedMove(cand
        .join(kdeg, Seq("c"))
        .join(kdeg.select(col("c").as("lc"), col("deg_w").as("stot")), Seq("lc"))
        .crossJoin(broadcast(mrow)), "c", "c", "deg_w", "l2")
    // inter edges keyed by both endpoints' new communities: the internal
    // ones add to intra mass, the rest re-key the contracted graph
    val ia = inter
      .join(newlab.select(col("c").as("c1"), col("l2").as("la2")), Seq("c1"))
      .join(newlab.select(col("c").as("c2"), col("l2").as("lb2")), Seq("c2"))
    val iin = ia.filter(col("la2") === col("lb2"))
      .groupBy(col("la2").as("l2")).agg(sum(col("w")).as("iw2"))
    val per = newlab.join(kdeg, Seq("c"))
      .groupBy("l2").agg(count(lit(1)).as("n_super"), sum(col("n_nodes")).as("n_nodes"),
        sum(col("self_w")).as("sw2"), sum(col("deg_w")).as("deg_w"))
      .join(iin, Seq("l2"), "left_outer")
      .select(col("l2"), col("n_super"), col("n_nodes"),
        (col("sw2") + coalesce(col("iw2"), lit(0L))).as("intra_w"), col("deg_w"))
      .localCheckpoint() // stats + Q sums + published rows + next-level selfs/mass
    WeightedLevel(kdeg, per,
      inter = ia.filter(col("la2") =!= col("lb2"))
        .select(least(col("la2"), col("lb2")).as("c1"),
          greatest(col("la2"), col("lb2")).as("c2"), col("w"))
        .groupBy("c1", "c2").agg(sum(col("w")).as("w")),
      selfs = per.select(col("l2").as("c"), col("intra_w").as("self_w")),
      mass = per.select(col("l2").as("c"), col("n_nodes")))
  }

  /** LOUVAIN LEVEL 2 (gr_louvain_level2) — the weighted move phase on
    * the COARSENED graph, closing the multi-level loop (Blondel et al.:
    * move, contract, move again on the super-graph): one
    * louvainWeightedLevel — super-nodes start as singleton communities
    * and evaluate the SAME insert gain with every count replaced by a
    * weight, same synchronous sweep, same Grappolo guard, all BIGINT
    * (weights are counts of original edges). Output per level-2
    * community: merged super-nodes, ORIGINAL node mass, internal weight
    * and weighted degree, plus Q on the coarse graph under the singleton
    * partition (q1 — equal to level 1's q_after by the coarsening
    * invariant, and gr_louvain_full's level-1 row) and under the
    * post-move partition (q2 — gr_louvain_full's level-2 row) — the
    * multi-level climb, exact.
    *
    * Scale: every frame here is O(communities)/O(super-edges) —
    * strictly smaller than level 1's input by construction; the gain
    * join fans in a super-node's distinct neighbor-community count. */
  def louvainLevel2(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (edges, labels) = lpaChain(spark, dir)
    val (_, mrow, newlab) = louvainMoveParts(edges, labels)
    val (selfs, interL, massL) = louvainContract(edges, newlab)
    // §2.6 overlap: inter (reads ea) and mass (reads newlab) are
    // independent rollups of checkpointed parents — submit concurrently
    val (inter, mass) = Par.run2(
      () => interL.localCheckpoint(), // both sym directions + the level's lookups
      () => massL.localCheckpoint()) // the level's node set + mass rollup
    val lv = louvainWeightedLevel(inter, selfs, mass, mrow)
    lv.per
      .crossJoin(broadcast(louvainQRow(lv.kdeg, mrow, "q1_x10000", "self_w")))
      .crossJoin(broadcast(louvainQRow(lv.per, mrow, "q2_x10000")))
      .select(col("l2").as("community"), col("n_super"), col("n_nodes"),
        col("intra_w"), col("deg_w"), col("q1_x10000"), col("q2_x10000"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(12)
  }

  /** Level bound of gr_louvain_full — the bounded-rounds contract
    * (Blondel et al. converge in a handful of levels on real graphs;
    * a level that fails to improve Q stops the loop earlier). */
  val LouvainMaxLevels = 4

  /** FULL MULTI-LEVEL LOUVAIN (gr_louvain_full) — the composed loop the
    * three phase queries prove piecewise (Blondel, Guillaume, Lambiotte
    * & Lefebvre 2008): level 1 runs the guarded synchronous move from
    * the LPA partition (gr_louvain_move exactly) and contracts
    * (gr_louvain_coarsen exactly); each further level runs the weighted
    * singleton-start move on the super-graph (gr_louvain_level2 exactly)
    * and contracts again, until a level fails to improve Q or
    * LouvainMaxLevels is reached — the bounded-round contract with a
    * DATA-DEPENDENT early stop, driven driver-side off the one-row Q
    * aggregate (the hash-min convergence idiom; the oracle unrolls all
    * levels as MATERIALIZED CTEs and applies the same publish rule as
    * scalar comparisons). Published per executed level:
    * (level, n_super_nodes, q_x10000) — the multi-level climb, exact
    * BIGINT end-to-end, the first non-improving level included (the
    * visible plateau).
    *
    * Scale: level 1 is the gr_louvain_move/coarsen plan; every deeper
    * frame is O(communities) — strictly shrinking; per-level stats are
    * one-row collects (bounded by LouvainMaxLevels). */
  def louvainFull(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (edges, labels) = lpaChain(spark, dir)
    louvainFullOn(spark, edges, labels)
  }

  /** Same loop over any undirected (a, b) edge frame with initial
    * (u, lbl) labels — Round19Spec pins a hand-worked two-level graph. */
  private[graft] def louvainFullOn(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame, labels: DataFrame): DataFrame = {
    val (_, mrow, newlab) = louvainMoveParts(edges, labels)
    val (selfsL, interL, massL) = louvainContract(edges, newlab)
    // §2.6 overlap: the three level-1 rollups read only the checkpointed
    // ea/newlab — three independent small jobs, submitted concurrently
    val Seq(selfs, inter, mass) = Par.run(Seq[() => DataFrame](
      () => selfsL.localCheckpoint(), // level-2 degrees + self rollup
      () => interL.localCheckpoint(), // level-2 ext, k_in and re-key
      () => massL.localCheckpoint())) // level-2 node set + mass rollup
    // one row per level: (n_super_nodes, q_x10000) of a per-community frame
    def stats(per: DataFrame, intra: String): DataFrame =
      per.agg(count(lit(1)).as("n_super_nodes"))
        .crossJoin(louvainQRow(per, mrow, "q_x10000", intra))
    var lv = louvainWeightedLevel(inter, selfs, mass, mrow)
    // level 1 = the level-2 super-nodes under the singleton partition;
    // ONE row — the bounded driver-side convergence read
    val st1 = stats(lv.kdeg, "self_w").head()
    val levels = scala.collection.mutable.ListBuffer(
      (1L, st1.getLong(0), st1.getLong(1)))
    var prevQ = st1.getLong(1)
    var lvl = 2
    var stop = false
    while (lvl <= LouvainMaxLevels && !stop) {
      // §2.6 overlap: the level's one-row stats read and the NEXT level's
      // inter checkpoint both consume only this level's checkpointed
      // frames — submit concurrently. On the final (plateau) level the
      // speculative checkpoint is one wasted small job that rides the
      // stats job instead of adding wall time.
      val (st, interC) = Par.run2(
        () => stats(lv.per, "intra_w").head(), // one row per level, <= LouvainMaxLevels reads
        () => lv.inter.localCheckpoint())
      levels += ((lvl.toLong, st.getLong(0), st.getLong(1)))
      if (st.getLong(1) <= prevQ) stop = true // plateau published, loop ends
      prevQ = st.getLong(1)
      lvl += 1
      if (lvl <= LouvainMaxLevels && !stop)
        lv = louvainWeightedLevel(interC, lv.selfs, lv.mass, mrow)
    }
    import spark.implicits._
    levels.toSeq.toDF("level", "n_super_nodes", "q_x10000")
      .coalesce(1) // ≤ LouvainMaxLevels rows: sort in place, no range-partition sample + shuffle
      .orderBy("level")
  }

  /** DEGREE ASSORTATIVITY (gr_assort) — Newman's r on the co-activity
    * graph: do high-degree users co-occur with high-degree users
    * (r > 0, social-network-like) or with leaves (r < 0,
    * hub-and-spoke)? The one-row structural stat next to gr_triangles'
    * clustering coefficient. Pearson correlation over edge endpoint
    * degrees, every SUM exact: per undirected edge with endpoint
    * degrees (j, k) accumulate jk, j+k, j^2+k^2 in DECIMAL(38,0)
    * (degree products reach ~n^2 per edge — the zs_idw wrap class at
    * scale), then r = (S_jk/m - (S_jpk/2m)^2) / (S_j2k2/2m -
    * (S_jpk/2m)^2) as ONE shared-shape double expression + r4; the
    * degenerate regular-graph case (zero variance) reports 0 via a
    * guarded CASE, not NaN.
    *
    * Scale: two degree joins co-partitioned on the endpoint keys, one
    * map-side-combinable global aggregate — nothing beyond what the
    * triangle census already pays. */
  def assortativity(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    assortOn(coActivityEdges(spark, dir))

  /** Same stat over any undirected (a, b) edge frame (each edge once) —
    * Round12Spec pins the star (r = -1) and the regular-graph guard. */
  def assortOn(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn
      .localCheckpoint() // degree build + both endpoint joins
    val deg = edges.select(col("a").as("u"))
      .unionAll(edges.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("d"))
    edges
      .join(deg.select(col("u").as("a"), col("d").as("ja")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("jb")), Seq("b"))
      .agg(
        count(lit(1)).as("m"),
        // operands cast to DECIMAL(19,0) BEFORE the arithmetic: a BIGINT
        // product wraps silently in Spark (DuckDB raises) before an outer
        // CAST can save it — the exact cross-engine divergence SURVEY §4
        // warns about. 19+19 ≤ 38 keeps both engines' decimal multiply
        // exact for any pair of longs.
        sum(expr("CAST(ja AS DECIMAL(19,0)) * CAST(jb AS DECIMAL(19,0))")).as("s_jk"),
        sum(expr("CAST(ja AS DECIMAL(19,0)) + CAST(jb AS DECIMAL(19,0))")).as("s_jpk"),
        sum(expr("CAST(ja AS DECIMAL(19,0)) * CAST(ja AS DECIMAL(19,0)) " +
          "+ CAST(jb AS DECIMAL(19,0)) * CAST(jb AS DECIMAL(19,0))")).as("s_j2k2"))
      .withColumn("assort", expr(
        "CASE WHEN CAST(s_j2k2 AS DOUBLE) / (2.0 * m) " +
          "- (CAST(s_jpk AS DOUBLE) / (2.0 * m)) * (CAST(s_jpk AS DOUBLE) / (2.0 * m)) = 0.0 " +
          "THEN CAST(0.0 AS DOUBLE) ELSE " +
          "floor((CAST(s_jk AS DOUBLE) / m " +
          "- (CAST(s_jpk AS DOUBLE) / (2.0 * m)) * (CAST(s_jpk AS DOUBLE) / (2.0 * m))) " +
          "/ (CAST(s_j2k2 AS DOUBLE) / (2.0 * m) " +
          "- (CAST(s_jpk AS DOUBLE) / (2.0 * m)) * (CAST(s_jpk AS DOUBLE) / (2.0 * m))) " +
          "* 10000.0 + 0.5) / 10000.0 END"))
      .select(col("m").as("n_edges"), col("s_jk").cast("long").as("sum_jk"),
        col("assort"))
      .orderBy("n_edges")
  }

  /** The guarded synchronous move sweep as chained CTEs (lab → newlab),
    * shared by the gr_louvain_move and gr_louvain_coarsen oracles —
    * mirrors louvainMoveParts exactly. */
  private def louvainMoveCtes: String =
    s"""lab AS MATERIALIZED (SELECT u, lbl FROM l$LpaRounds),
       |deg AS MATERIALIZED (SELECT src AS u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
       |mrow AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
       |stot AS (
       |  SELECT lbl AS lc, CAST(SUM(d) AS BIGINT) AS stot
       |  FROM deg JOIN lab USING (u) GROUP BY 1
       |),
       |kiin AS (
       |  SELECT s.src AS u, p.lbl AS lc, CAST(COUNT(*) AS BIGINT) AS kin
       |  FROM sym s JOIN lab p ON s.dst = p.u GROUP BY 1, 2
       |),
       |cand AS (
       |  SELECT u, lc, MAX(kin) AS kin FROM (
       |    SELECT u, lc, kin FROM kiin
       |    UNION ALL SELECT u, lbl AS lc, CAST(0 AS BIGINT) AS kin FROM lab) z
       |  GROUP BY 1, 2
       |),
       |gains AS MATERIALIZED (
       |  SELECT c.u, c.lc, la.lbl AS la,
       |    2 * (SELECT m FROM mrow) * c.kin
       |      - deg.d * (stot.stot - CASE WHEN c.lc = la.lbl THEN deg.d ELSE 0 END) AS g
       |  FROM cand c JOIN deg ON c.u = deg.u
       |  JOIN lab la ON c.u = la.u JOIN stot ON c.lc = stot.lc
       |),
       |best AS (
       |  SELECT u, lc, la, g FROM (
       |    SELECT u, lc, la, g, ROW_NUMBER() OVER (PARTITION BY u ORDER BY g DESC, lc ASC) AS rn
       |    FROM gains) t WHERE rn = 1
       |),
       |own AS (SELECT u, g AS gown FROM gains WHERE lc = la),
       |newlab AS MATERIALIZED (
       |  SELECT b.u, CASE WHEN b.g > own.gown AND b.lc < b.la THEN b.lc ELSE b.la END AS lbl
       |  FROM best b JOIN own ON b.u = own.u
       |)""".stripMargin

  /** Level-k CTE block of the gr_louvain_full oracle (k >= 2): the
    * weighted singleton-start guarded move + contraction on the graph
    * (i{k-1}, s{k-1}, ms{k-1}) — mirrors louvainWeightedLevel exactly.
    * Multi-referenced CTEs are MATERIALIZED (DuckDB inlines by default —
    * exponential in chain depth, the BPE-sweep lesson). */
  private def louvainFullLevelCtes(k: Int): String = {
    val p = k - 1
    s"""symw$k AS MATERIALIZED (
       |  SELECT c1 AS c, c2 AS d, w FROM i$p UNION ALL SELECT c2, c1, w FROM i$p
       |),
       |kdeg$k AS MATERIALIZED (
       |  SELECT ms$p.c, COALESCE(ws.wsum, 0) + 2 * COALESCE(s.self_w, 0) AS k
       |  FROM ms$p
       |  LEFT JOIN (SELECT c, CAST(SUM(w) AS BIGINT) AS wsum FROM symw$k GROUP BY 1) ws
       |    ON ms$p.c = ws.c
       |  LEFT JOIN s$p s ON ms$p.c = s.c
       |),
       |kiin$k AS (
       |  SELECT c, d AS lc, CAST(SUM(w) AS BIGINT) AS kin FROM symw$k GROUP BY 1, 2
       |),
       |cand$k AS (
       |  SELECT c, lc, MAX(kin) AS kin FROM (
       |    SELECT c, lc, kin FROM kiin$k
       |    UNION ALL SELECT c, c AS lc, CAST(0 AS BIGINT) AS kin FROM kdeg$k) z
       |  GROUP BY 1, 2
       |),
       |gains$k AS MATERIALIZED (
       |  SELECT cd.c, cd.lc,
       |    2 * (SELECT m FROM mrow) * cd.kin
       |      - kn.k * (kt.k - CASE WHEN cd.lc = cd.c THEN kn.k ELSE 0 END) AS g
       |  FROM cand$k cd
       |  JOIN kdeg$k kn ON cd.c = kn.c
       |  JOIN kdeg$k kt ON cd.lc = kt.c
       |),
       |best$k AS (
       |  SELECT c, lc, g FROM (
       |    SELECT c, lc, g, ROW_NUMBER() OVER (PARTITION BY c ORDER BY g DESC, lc ASC) AS rn
       |    FROM gains$k) t WHERE rn = 1
       |),
       |own$k AS (SELECT c, g AS gown FROM gains$k WHERE lc = c),
       |nl$k AS MATERIALIZED (
       |  SELECT b.c, CASE WHEN b.g > o.gown AND b.lc < b.c THEN b.lc ELSE b.c END AS l2
       |  FROM best$k b JOIN own$k o ON b.c = o.c
       |),
       |sin$k AS (
       |  SELECT n.l2, CAST(COALESCE(SUM(s.self_w), 0) AS BIGINT) AS sw2
       |  FROM nl$k n LEFT JOIN s$p s ON n.c = s.c GROUP BY 1
       |),
       |iin$k AS (
       |  SELECT na.l2, CAST(SUM(i.w) AS BIGINT) AS iw2
       |  FROM i$p i JOIN nl$k na ON i.c1 = na.c JOIN nl$k nb ON i.c2 = nb.c
       |  WHERE na.l2 = nb.l2 GROUP BY 1
       |),
       |per$k AS MATERIALIZED (
       |  SELECT d.l2, s.sw2 + COALESCE(i.iw2, 0) AS intra_w, d.deg_w
       |  FROM (SELECT n.l2, CAST(SUM(kk.k) AS BIGINT) AS deg_w
       |        FROM nl$k n JOIN kdeg$k kk ON n.c = kk.c GROUP BY 1) d
       |  JOIN sin$k s ON d.l2 = s.l2
       |  LEFT JOIN iin$k i ON d.l2 = i.l2
       |),
       |lv$k AS MATERIALIZED (
       |  SELECT CAST($k AS BIGINT) AS level,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM per$k) AS n_super_nodes,
       |    (SELECT CAST((10000::HUGEINT
       |        * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
       |      // (4::HUGEINT * m * m) - 10000 AS BIGINT)
       |     FROM (SELECT CAST(SUM(intra_w) AS HUGEINT) AS smc,
       |             SUM(deg_w::HUGEINT * deg_w::HUGEINT) AS sd2 FROM per$k),
       |       mrow) AS q_x10000
       |),
       |s$k AS MATERIALIZED (SELECT l2 AS c, intra_w AS self_w FROM per$k),
       |i$k AS MATERIALIZED (
       |  SELECT LEAST(na.l2, nb.l2) AS c1, GREATEST(na.l2, nb.l2) AS c2,
       |    CAST(SUM(i.w) AS BIGINT) AS w
       |  FROM i$p i JOIN nl$k na ON i.c1 = na.c JOIN nl$k nb ON i.c2 = nb.c
       |  WHERE na.l2 <> nb.l2 GROUP BY 1, 2
       |),
       |ms$k AS MATERIALIZED (
       |  SELECT n.l2 AS c, CAST(SUM(ms$p.n_nodes) AS BIGINT) AS n_nodes
       |  FROM nl$k n JOIN ms$p ON n.c = ms$p.c GROUP BY 1
       |)""".stripMargin
  }

  // Shared LPA oracle CTE chain (inc → edges → sym → l0..lN) — used by
  // gr_lpa's rollup and gr_modularity's Q computation.
  // Every multi-referenced CTE is MATERIALIZED: DuckDB inlines plain CTEs,
  // so sym (referenced once per LPA round) would re-execute the whole
  // edge build per round, and l$LpaRounds (referenced 2-3x by the
  // modularity rollups) would replay the full chain per reference — the
  // BPE-sweep inlining lesson; this is the 10x step-up timeout fix.
  private def lpaCtes: String = {
    val round = (r: Int) =>
      s"""l$r AS MATERIALIZED (
         |  SELECT u, lbl FROM (
         |    SELECT s.dst AS u, p.lbl, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY s.dst
         |        ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
         |    FROM sym s JOIN l${r - 1} p ON s.src = p.u
         |    GROUP BY s.dst, p.lbl) t WHERE rn = 1
         |)""".stripMargin
    s"""inc0 AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |), okord AS (
       |  SELECT o FROM inc0 GROUP BY o HAVING COUNT(*) <= $LpaOrderCap
       |), inc AS MATERIALIZED (
       |  SELECT i.o, i.p FROM inc0 i JOIN okord USING (o)
       |), edges AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT x.p AS a, y.p AS b, COUNT(*) AS ns
       |    FROM inc x JOIN inc y ON x.o = y.o AND x.p < y.p
       |    GROUP BY 1, 2) t WHERE ns >= $LpaMinShared
       |), sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS u, src AS lbl FROM sym
       |), ${(1 to LpaRounds).map(round).mkString(",\n")}""".stripMargin
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "gr_modularity" -> (modularity _),
    "gr_louvain_move" -> (louvainMove _),
    "gr_louvain_coarsen" -> (louvainCoarsen _),
    "gr_louvain_level2" -> (louvainLevel2 _),
    "gr_louvain_full" -> (louvainFull _),
    "gr_assort" -> (assortativity _),
    "gr_hits" -> (hits _),
    "gr_lpa" -> (lpa _),
    "gr_copurchase" -> (copurchase _),
    "gr_kcore" -> (kcore _),
    "gr_sssp" -> (sssp _),
    "gr_khop" -> (khop _),
    "gr_betweenness" -> (betweenness _),
    "gr_common_neighbors" -> (commonNeighbors _),
    "gr_resource_alloc" -> (resourceAlloc _),
    "gr_linkpred_eval" -> (linkpredEval _),
    "gr_rich_club" -> (richClub _),
    "gr_components" -> (componentsQ _),
    "gr_pagerank" -> (pagerank _),
    "gr_ppr" -> (ppr _),
    "gr_ppr_converge" -> (pprConverge _),
    "gr_triangles" -> (triangleStats _),
    "gr_local_cc" -> (localClustering _),
    "gr_temporal_reach" -> (temporalReach _))

  /** Rounds for gr_temporal_reach (the bounded-rounds rule). */
  val TemporalReachRounds = 3

  /** TIME-RESPECTING REACHABILITY (gr_temporal_reach) — the temporal-
    * graph primitive static reachability gets WRONG (Holme & Saramäki's
    * time-respecting paths): u reaches w only through edges whose
    * timestamps are NON-DECREASING along the path — influence /
    * contagion can't travel backwards in time. Edges are the co-activity
    * pairs STAMPED with the hour that formed them; per seed (user_id
    * < 5), earliest-arrival iterates arr(v) = min over edges (u,v,hs)
    * with hs >= arr(u) — the temporal Bellman-Ford, R bounded rounds.
    * Output: the per-round reach trace (root, round, n_reached) — the
    * influence-spread curve, monotone by construction.
    *
    * Scale: per round ONE co-partitioned join of the O(seeds x reached)
    * arrival frame against the capped edge table + a map-side min;
    * rounds localCheckpointed. The hour filter rides IN the join — no
    * post-explosion. */
  def temporalReach(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    temporalReachOn(coActivityPairs(spark, dir)
      .select(col("a"), col("b"), expr("unix_timestamp(hr) div 3600").as("hs"))
      .distinct())

  /** Same operator over any undirected timestamped (a, b, hs) edge set —
    * Round16Spec plants a path whose edge times DECREASE and pins that
    * static reachability does not leak through it. */
  def temporalReachOn(e: DataFrame, seedBelow: Long = 5L): DataFrame = {
    val sym = GraphOps.sym(e, "a", "b", "u", "v", Seq("hs"))
      .localCheckpoint() // one join per round
    var arr = sym.select(col("u")).filter(col("u") < seedBelow).distinct()
      .select(col("u").as("root"), col("u").as("node"), lit(-1L).as("arr"))
      .localCheckpoint()
    val trace = Seq.newBuilder[DataFrame]
    trace += arr.groupBy("root").agg(count(lit(1)).as("n_reached"))
      .select(col("root"), lit(0L).as("round"), col("n_reached"))
    for (r <- 1 to TemporalReachRounds) {
      val cand = arr.select(col("root"), col("node").as("u"), col("arr"))
        .join(sym, Seq("u"))
        .filter(col("hs") >= col("arr"))
        .select(col("root"), col("v").as("node"), col("hs").as("arr"))
      arr = arr.unionByName(cand)
        .groupBy("root", "node").agg(min(col("arr")).as("arr"))
        .localCheckpoint() // next round + trace read
      trace += arr.groupBy("root").agg(count(lit(1)).as("n_reached"))
        .select(col("root"), lit(r.toLong).as("round"), col("n_reached"))
    }
    trace.result().reduce(_ unionByName _).orderBy("root", "round")
  }

  /** LOCAL CLUSTERING COEFFICIENT (gr_local_cc) — gr_triangles' global
    * gcc dropped to node granularity (Watts-Strogatz 1998): per node,
    * lcc = 2·t(v) / (d(v)·(d(v)−1)) — how close each ego-net is to a
    * clique, the per-node cohesion score community detection and bot
    * heuristics both read. Triangle enumeration is gr_triangles'
    * `triangles` (each triangle materializes ONCE, out-degrees bounded
    * by arboricity — no hub wedge blowup), then every triangle
    * credits its three corners via explode and a map-side-combinable
    * count. lcc stays exact as (20000·t) div (d·(d−1)) on nonnegatives;
    * d ≥ 2 filter keeps the denominator positive on both engines.
    * Output: top-20 by (lcc, node) with t and degree.
    *
    * Scale: identical join shape to gr_triangles (the bounded closure),
    * plus one O(#triangles) explode and a groupBy — nothing new
    * materializes beyond the triangle list. */
  def localClustering(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    localClusteringOn(coActivityEdges(spark, dir))

  /** Same operator over any undirected a<b edge set — Round16Spec pins a
    * planted clique + a bridge node. */
  def localClusteringOn(edgesIn: DataFrame): DataFrame = {
    val (_, deg, tri) = triangles(edgesIn)
    val triCorners = tri
      .select(explode(array(col("n0"), col("tv"), col("tw"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(triCorners, Seq("u"), "left_outer")
      .select(col("u").as("node"), coalesce(col("t"), lit(0L)).as("n_tri"),
        col("d").as("deg"))
      .withColumn("lcc_x10000", expr("(20000 * n_tri) div (deg * (deg - 1))"))
      .orderBy(col("lcc_x10000").desc, col("node")).limit(20)
      .select("node", "n_tri", "deg", "lcc_x10000")
      .orderBy(col("lcc_x10000").desc, col("node"))
  }

  private def componentsSql: String =
    """WITH RECURSIVE act AS MATERIALIZED (
      |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
      |), sizes AS MATERIALIZED (
      |  SELECT event_type, hr FROM (
      |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
      |), ok AS MATERIALIZED (
      |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
      |), edges AS MATERIALIZED (
      |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
      |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
      |    AND x.user_id < y.user_id
      |), e AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
      |), n AS MATERIALIZED (
      |  SELECT a AS id FROM edges UNION SELECT b FROM edges
      |), reach AS (
      |  SELECT id, id AS comp FROM n
      |  UNION
      |  SELECT e.dst AS id, reach.comp FROM reach JOIN e ON reach.id = e.src
      |), c AS (
      |  SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
      |), s AS (
      |  SELECT comp, COUNT(*) AS comp_size FROM c GROUP BY comp
      |)
      |SELECT CAST(comp_size AS BIGINT) AS comp_size, COUNT(*) AS n_components
      |FROM s GROUP BY comp_size ORDER BY comp_size""".stripMargin

  private def richClubSql: String = {
    val eSums = RichClubKs.map(k =>
      s"CAST(SUM(CASE WHEN m > $k THEN 1 ELSE 0 END) AS BIGINT) AS e$k").mkString(",\n       |    ")
    val nSums = RichClubKs.map(k =>
      s"CAST(SUM(CASE WHEN d > $k THEN 1 ELSE 0 END) AS BIGINT) AS n$k").mkString(",\n       |    ")
    val rows = RichClubKs.map(k =>
      s"""SELECT CAST($k AS BIGINT) AS k, n$k AS n_nodes, e$k AS n_edges,
         |    CAST(CASE WHEN n$k >= 2
         |      THEN (20000 * e$k) // (n$k * (n$k - 1)) ELSE 0 END AS BIGINT)
         |      AS phi_x10000
         |  FROM ea CROSS JOIN na""").mkString("\n       |  UNION ALL\n       |  ")
    s"""WITH act AS MATERIALIZED (
       |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
       |), sizes AS MATERIALIZED (
       |  SELECT event_type, hr FROM (
       |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
       |), ok AS MATERIALIZED (
       |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
       |), edges AS MATERIALIZED (
       |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
       |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
       |    AND x.user_id < y.user_id
       |), sym AS (
       |  SELECT a AS u FROM edges UNION ALL SELECT b FROM edges
       |), deg AS MATERIALIZED (
       |  SELECT u, COUNT(*) AS d FROM sym GROUP BY u
       |), mdeg AS (
       |  SELECT LEAST(da.d, db.d) AS m
       |  FROM edges e JOIN deg da ON da.u = e.a JOIN deg db ON db.u = e.b
       |), ea AS (
       |  SELECT $eSums
       |  FROM mdeg
       |), na AS (
       |  SELECT $nSums
       |  FROM deg
       |)
       |SELECT * FROM (
       |  $rows
       |) ORDER BY k""".stripMargin
  }

  private def linkpredEvalSql: String = {
    val hex4 = (1 to 4).map(k =>
        s"(strpos('0123456789abcdef', substr(mh, $k, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")
    s"""WITH act AS MATERIALIZED (
       |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
       |), sizes AS MATERIALIZED (
       |  SELECT event_type, hr FROM (
       |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
       |), ok AS MATERIALIZED (
       |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
       |), edges AS MATERIALIZED (
       |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
       |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
       |    AND x.user_id < y.user_id
       |), keyed AS MATERIALIZED (
       |  SELECT a, b, ($hex4) % $LinkpredHoldoutMod = 0 AS ho
       |  FROM (SELECT a, b,
       |    md5('lp:' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)) AS mh
       |    FROM edges)
       |), train AS MATERIALIZED (
       |  SELECT a, b FROM keyed WHERE NOT ho
       |), holdout AS MATERIALIZED (
       |  SELECT a, b FROM keyed WHERE ho
       |), sym AS (
       |  SELECT a AS u, b AS v FROM train UNION ALL SELECT b, a FROM train
       |), deg AS MATERIALIZED (
       |  SELECT u, COUNT(*) AS d FROM sym GROUP BY u
       |), okc AS (
       |  SELECT sym.u, sym.v, 1000000000 // deg.d AS w_ra,
       |    1000000000 // length(bin(deg.d)) AS w_aa
       |  FROM sym JOIN deg USING (u) WHERE deg.d <= $CnDegCap
       |), cand AS MATERIALIZED (
       |  SELECT c.a, c.b, c.cn, c.ra, c.aa FROM (
       |    SELECT x.v AS a, y.v AS b, COUNT(*) AS cn,
       |      SUM(x.w_ra) AS ra, SUM(x.w_aa) AS aa
       |    FROM okc x JOIN okc y ON x.u = y.u AND x.v < y.v
       |    GROUP BY 1, 2) c
       |  WHERE NOT EXISTS (SELECT 1 FROM train t WHERE t.a = c.a AND t.b = c.b)
       |), melted AS (
       |  SELECT a, b, 'aa' AS scorer, CAST(aa AS BIGINT) AS score FROM cand
       |  UNION ALL
       |  SELECT a, b, 'cn', CAST(cn AS BIGINT) * 1000000000 FROM cand
       |  UNION ALL
       |  SELECT a, b, 'ra', CAST(ra AS BIGINT) FROM cand
       |), top AS (
       |  SELECT * FROM (
       |    SELECT a, b, scorer,
       |      ROW_NUMBER() OVER (PARTITION BY scorer ORDER BY score DESC, a, b) AS rk
       |    FROM melted)
       |  WHERE rk <= $LinkpredK
       |), nho AS (SELECT COUNT(*) AS n_holdout FROM holdout)
       |SELECT t.scorer, COUNT(*) AS k_scored,
       |  CAST(SUM(CASE WHEN h.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  nho.n_holdout,
       |  CAST(SUM(CASE WHEN h.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    * 10000 // $LinkpredK AS precision_x10000
       |FROM top t
       |LEFT JOIN holdout h ON t.a = h.a AND t.b = h.b
       |CROSS JOIN nho
       |GROUP BY t.scorer, nho.n_holdout
       |ORDER BY t.scorer""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "gr_temporal_reach" -> {
      val round = (r: Int) =>
        s"""a$r AS MATERIALIZED (
           |  SELECT root, node, MIN(arr) AS arr FROM (
           |    SELECT root, node, arr FROM a${r - 1}
           |    UNION ALL
           |    SELECT p.root, s.v AS node, s.hs AS arr
           |    FROM a${r - 1} p JOIN sym s ON p.node = s.u
           |    WHERE s.hs >= p.arr
           |  ) z GROUP BY root, node
           |), t$r AS (
           |  SELECT root, CAST($r AS BIGINT) AS round,
           |    CAST(COUNT(*) AS BIGINT) AS n_reached
           |  FROM a$r GROUP BY root
           |)""".stripMargin
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, event_type,
         |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS hs
         |  FROM events
         |), sizes AS (
         |  SELECT event_type, hs FROM (
         |    SELECT event_type, hs, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
         |), ok AS (
         |  SELECT act.* FROM act JOIN sizes USING (event_type, hs)
         |), e AS (
         |  SELECT DISTINCT x.user_id AS a, y.user_id AS b, x.hs AS hs
         |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hs = y.hs
         |    AND x.user_id < y.user_id
         |), sym AS MATERIALIZED (
         |  SELECT a AS u, b AS v, hs FROM e UNION ALL SELECT b AS u, a AS v, hs FROM e
         |), a0 AS MATERIALIZED (
         |  SELECT DISTINCT u AS root, u AS node, CAST(-1 AS BIGINT) AS arr
         |  FROM sym WHERE u < 5
         |), t0 AS (
         |  SELECT root, CAST(0 AS BIGINT) AS round,
         |    CAST(COUNT(*) AS BIGINT) AS n_reached
         |  FROM a0 GROUP BY root
         |),
         |${(1 to TemporalReachRounds).map(round).mkString(",\n")}
         |SELECT root, round, n_reached FROM (
         |  ${(0 to TemporalReachRounds).map(r => s"SELECT * FROM t$r").mkString(" UNION ALL ")}
         |) u ORDER BY root, round""".stripMargin
    },
    "gr_local_cc" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
        |), sizes AS (
        |  SELECT event_type, hr FROM (
        |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
        |), ok AS (
        |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
        |), edges AS (
        |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
        |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
        |    AND x.user_id < y.user_id
        |), deg AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM (SELECT a AS u FROM edges UNION ALL SELECT b AS u FROM edges) GROUP BY u
        |), tri AS (
        |  SELECT e1.a AS n0, e1.b AS n1, e2.b AS n2
        |  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
        |  JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b
        |), tn AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS t FROM (
        |    SELECT UNNEST([n0, n1, n2]) AS u FROM tri) GROUP BY u
        |)
        |SELECT d.u AS node, COALESCE(tn.t, 0) AS n_tri, d.d AS deg,
        |  (20000 * COALESCE(tn.t, 0)) // (d.d * (d.d - 1)) AS lcc_x10000
        |FROM deg d LEFT JOIN tn ON d.u = tn.u
        |WHERE d.d >= 2
        |ORDER BY lcc_x10000 DESC, node LIMIT 20""".stripMargin,
    "gr_assort" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
        |), sizes AS (
        |  SELECT event_type, hr FROM (
        |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
        |), ok AS (
        |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
        |), edges AS (
        |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
        |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
        |    AND x.user_id < y.user_id
        |), deg AS (
        |  SELECT u, COUNT(*) AS d FROM (
        |    SELECT a AS u FROM edges UNION ALL SELECT b FROM edges) s GROUP BY u
        |), t AS (
        |  SELECT COUNT(*) AS m,
        |    SUM(CAST(da.d AS DECIMAL(19,0)) * CAST(db.d AS DECIMAL(19,0))) AS s_jk,
        |    SUM(CAST(da.d AS DECIMAL(19,0)) + CAST(db.d AS DECIMAL(19,0))) AS s_jpk,
        |    SUM(CAST(da.d AS DECIMAL(19,0)) * CAST(da.d AS DECIMAL(19,0))
        |      + CAST(db.d AS DECIMAL(19,0)) * CAST(db.d AS DECIMAL(19,0))) AS s_j2k2
        |  FROM edges JOIN deg da ON edges.a = da.u JOIN deg db ON edges.b = db.u
        |)
        |SELECT m AS n_edges, CAST(s_jk AS BIGINT) AS sum_jk,
        |  CASE WHEN CAST(s_j2k2 AS DOUBLE) / (2.0 * m)
        |    - (CAST(s_jpk AS DOUBLE) / (2.0 * m)) * (CAST(s_jpk AS DOUBLE) / (2.0 * m)) = 0.0
        |    THEN 0.0 ELSE
        |    floor((CAST(s_jk AS DOUBLE) / m
        |    - (CAST(s_jpk AS DOUBLE) / (2.0 * m)) * (CAST(s_jpk AS DOUBLE) / (2.0 * m)))
        |    / (CAST(s_j2k2 AS DOUBLE) / (2.0 * m)
        |    - (CAST(s_jpk AS DOUBLE) / (2.0 * m)) * (CAST(s_jpk AS DOUBLE) / (2.0 * m)))
        |    * 10000.0 + 0.5) / 10000.0 END AS assort
        |FROM t ORDER BY n_edges""".stripMargin,
    "gr_hits" ->
      s"""WITH inc0 AS (
         |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |), ok AS (
         |  SELECT cust FROM inc0 GROUP BY cust
         |  HAVING COUNT(*) <= $CopurchaseBasketCap
         |), inc AS (
         |  SELECT inc0.* FROM inc0 JOIN ok USING (cust)
         |), h1 AS (
         |  SELECT cust, COUNT(*) AS h FROM inc GROUP BY cust
         |), a1 AS (
         |  SELECT part, CAST(SUM(h) AS BIGINT) AS a
         |  FROM inc JOIN h1 USING (cust) GROUP BY part
         |), h2 AS (
         |  SELECT cust, CAST(SUM(a) AS BIGINT) AS h
         |  FROM inc JOIN a1 USING (part) GROUP BY cust
         |), a2 AS (
         |  SELECT part, CAST(SUM(h) AS BIGINT) AS a2, COUNT(*) AS n_buyers
         |  FROM inc JOIN h2 USING (cust) GROUP BY part
         |)
         |SELECT a2.part, a2.a2, a1.a AS a1, a2.n_buyers
         |FROM a2 JOIN a1 ON a2.part = a1.part
         |ORDER BY a2.a2 DESC, a2.part LIMIT 15""".stripMargin,
    "gr_lpa" ->
      s"""WITH $lpaCtes
         |SELECT lbl AS community, COUNT(*) AS n_members FROM l$LpaRounds
         |GROUP BY lbl ORDER BY n_members DESC, community LIMIT 25""".stripMargin,
    "gr_modularity" ->
      s"""WITH $lpaCtes,
         |lab AS MATERIALIZED (SELECT u, lbl FROM l$LpaRounds),
         |deg AS MATERIALIZED (SELECT src AS u, COUNT(*) AS d FROM sym GROUP BY 1),
         |ds AS (
         |  SELECT lbl, CAST(SUM(d) AS BIGINT) AS degree_sum, COUNT(*) AS n_members
         |  FROM deg JOIN lab USING (u) GROUP BY 1
         |),
         |ia AS (
         |  SELECT la.lbl AS lbl, COUNT(*) AS intra_edges
         |  FROM edges e JOIN lab la ON e.a = la.u JOIN lab lb ON e.b = lb.u
         |  WHERE la.lbl = lb.lbl GROUP BY 1
         |),
         |per AS MATERIALIZED (
         |  SELECT ds.lbl, n_members, degree_sum,
         |    COALESCE(intra_edges, 0) AS intra_edges
         |  FROM ds LEFT JOIN ia ON ds.lbl = ia.lbl
         |),
         |gsum AS (
         |  SELECT CAST(SUM(intra_edges) AS HUGEINT) AS smc,
         |    SUM(degree_sum::HUGEINT * degree_sum::HUGEINT) AS sd2
         |  FROM per
         |),
         |mrow AS (SELECT COUNT(*)::HUGEINT AS m FROM edges),
         |qrow AS (
         |  SELECT CAST((10000::HUGEINT
         |      * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |    // (4::HUGEINT * m * m) - 10000 AS BIGINT) AS q_x10000
         |  FROM gsum, mrow
         |)
         |SELECT lbl AS community, n_members, degree_sum, intra_edges, q_x10000
         |FROM per, qrow ORDER BY n_members DESC, community LIMIT 12""".stripMargin,
    "gr_louvain_move" ->
      s"""WITH $lpaCtes,
         |$louvainMoveCtes,
         |dsb AS (
         |  SELECT lbl, CAST(SUM(d) AS BIGINT) AS degree_sum FROM deg JOIN lab USING (u) GROUP BY 1
         |),
         |iab AS (
         |  SELECT la.lbl AS lbl, COUNT(*) AS intra_edges
         |  FROM edges e JOIN lab la ON e.a = la.u JOIN lab lb ON e.b = lb.u
         |  WHERE la.lbl = lb.lbl GROUP BY 1
         |),
         |perb AS (
         |  SELECT dsb.lbl, degree_sum, COALESCE(intra_edges, 0) AS intra_edges
         |  FROM dsb LEFT JOIN iab ON dsb.lbl = iab.lbl
         |),
         |dsa AS (
         |  SELECT lbl, CAST(SUM(d) AS BIGINT) AS degree_sum, COUNT(*) AS n_members
         |  FROM deg JOIN newlab USING (u) GROUP BY 1
         |),
         |iaa AS (
         |  SELECT la.lbl AS lbl, COUNT(*) AS intra_edges
         |  FROM edges e JOIN newlab la ON e.a = la.u JOIN newlab lb ON e.b = lb.u
         |  WHERE la.lbl = lb.lbl GROUP BY 1
         |),
         |pera AS MATERIALIZED (
         |  SELECT dsa.lbl, n_members, degree_sum, COALESCE(intra_edges, 0) AS intra_edges
         |  FROM dsa LEFT JOIN iaa ON dsa.lbl = iaa.lbl
         |),
         |qb AS (
         |  SELECT CAST((10000::HUGEINT
         |      * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |    // (4::HUGEINT * m * m) - 10000 AS BIGINT) AS q_before_x10000
         |  FROM (SELECT CAST(SUM(intra_edges) AS HUGEINT) AS smc,
         |          SUM(degree_sum::HUGEINT * degree_sum::HUGEINT) AS sd2 FROM perb), mrow
         |),
         |qa AS (
         |  SELECT CAST((10000::HUGEINT
         |      * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |    // (4::HUGEINT * m * m) - 10000 AS BIGINT) AS q_after_x10000
         |  FROM (SELECT CAST(SUM(intra_edges) AS HUGEINT) AS smc,
         |          SUM(degree_sum::HUGEINT * degree_sum::HUGEINT) AS sd2 FROM pera), mrow
         |)
         |SELECT lbl AS community, n_members, degree_sum, intra_edges,
         |  q_before_x10000, q_after_x10000
         |FROM pera, qb, qa ORDER BY n_members DESC, community LIMIT 12""".stripMargin,
    "gr_louvain_coarsen" ->
      s"""WITH $lpaCtes,
         |$louvainMoveCtes,
         |ea AS MATERIALIZED (
         |  SELECT la.lbl AS ca, lb.lbl AS cb
         |  FROM edges e JOIN newlab la ON e.a = la.u JOIN newlab lb ON e.b = lb.u
         |),
         |selfs AS (
         |  SELECT ca AS community, CAST(COUNT(*) AS BIGINT) AS self_loops
         |  FROM ea WHERE ca = cb GROUP BY 1
         |),
         |inter AS MATERIALIZED (
         |  SELECT LEAST(ca, cb) AS c1, GREATEST(ca, cb) AS c2,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM ea WHERE ca <> cb GROUP BY 1, 2
         |),
         |ext AS (
         |  SELECT community, CAST(SUM(w) AS BIGINT) AS ext_w FROM (
         |    SELECT c1 AS community, w FROM inter
         |    UNION ALL SELECT c2 AS community, w FROM inter) z
         |  GROUP BY 1
         |),
         |per AS MATERIALIZED (
         |  SELECT mm.community, mm.n_members,
         |    COALESCE(s.self_loops, 0) AS self_loops,
         |    COALESCE(x.ext_w, 0) AS ext_w,
         |    2 * COALESCE(s.self_loops, 0) + COALESCE(x.ext_w, 0) AS deg_w
         |  FROM (SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
         |        FROM newlab GROUP BY 1) mm
         |  LEFT JOIN selfs s ON mm.community = s.community
         |  LEFT JOIN ext x ON mm.community = x.community
         |),
         |ng AS (
         |  SELECT newlab.lbl AS community, CAST(SUM(deg.d) AS BIGINT) AS deg_n
         |  FROM deg JOIN newlab USING (u) GROUP BY 1
         |),
         |qc AS (
         |  SELECT CAST((10000::HUGEINT
         |      * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |    // (4::HUGEINT * m * m) - 10000 AS BIGINT) AS q_coarse_x10000
         |  FROM (SELECT CAST(SUM(self_loops) AS HUGEINT) AS smc,
         |          SUM(deg_w::HUGEINT * deg_w::HUGEINT) AS sd2 FROM per), mrow
         |),
         |qa AS (
         |  SELECT CAST((10000::HUGEINT
         |      * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |    // (4::HUGEINT * m * m) - 10000 AS BIGINT) AS q_after_x10000
         |  FROM (SELECT CAST(SUM(p.self_loops) AS HUGEINT) AS smc,
         |          SUM(ng.deg_n::HUGEINT * ng.deg_n::HUGEINT) AS sd2
         |        FROM ng JOIN per p ON ng.community = p.community), mrow
         |),
         |gs AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per) AS n_super_nodes,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM inter) AS n_super_edges
         |)
         |SELECT per.community, per.n_members, per.self_loops, per.ext_w, per.deg_w,
         |  gs.n_super_nodes, gs.n_super_edges, qa.q_after_x10000, qc.q_coarse_x10000
         |FROM per, gs, qa, qc
         |ORDER BY per.n_members DESC, per.community LIMIT 12""".stripMargin,
    "gr_louvain_level2" ->
      s"""WITH $lpaCtes,
         |$louvainMoveCtes,
         |ea AS MATERIALIZED (
         |  SELECT la.lbl AS ca, lb.lbl AS cb
         |  FROM edges e JOIN newlab la ON e.a = la.u JOIN newlab lb ON e.b = lb.u
         |),
         |selfs AS MATERIALIZED (
         |  SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS self_w
         |  FROM ea WHERE ca = cb GROUP BY 1
         |),
         |inter AS MATERIALIZED (
         |  SELECT LEAST(ca, cb) AS c1, GREATEST(ca, cb) AS c2,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM ea WHERE ca <> cb GROUP BY 1, 2
         |),
         |mass AS MATERIALIZED (
         |  SELECT lbl AS c, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |  FROM newlab GROUP BY 1
         |),
         |symw AS MATERIALIZED (
         |  SELECT c1 AS c, c2 AS d, w FROM inter
         |  UNION ALL SELECT c2 AS c, c1 AS d, w FROM inter
         |),
         |kdeg AS MATERIALIZED (
         |  SELECT mass.c,
         |    COALESCE(ws.wsum, 0) + 2 * COALESCE(s.self_w, 0) AS k
         |  FROM mass
         |  LEFT JOIN (SELECT c, CAST(SUM(w) AS BIGINT) AS wsum FROM symw GROUP BY 1) ws
         |    ON mass.c = ws.c
         |  LEFT JOIN selfs s ON mass.c = s.c
         |),
         |m2 AS (
         |  SELECT CAST((SELECT COALESCE(SUM(w), 0) FROM inter)
         |    + (SELECT COALESCE(SUM(self_w), 0) FROM selfs) AS BIGINT) AS m
         |),
         |kiin2 AS (
         |  SELECT c, d AS lc, CAST(SUM(w) AS BIGINT) AS kin FROM symw GROUP BY 1, 2
         |),
         |cand2 AS (
         |  SELECT c, lc, MAX(kin) AS kin FROM (
         |    SELECT c, lc, kin FROM kiin2
         |    UNION ALL SELECT c, c AS lc, CAST(0 AS BIGINT) AS kin FROM kdeg) z
         |  GROUP BY 1, 2
         |),
         |gains2 AS (
         |  SELECT cd.c, cd.lc,
         |    2 * (SELECT m FROM m2) * cd.kin
         |      - kn.k * (kt.k - CASE WHEN cd.lc = cd.c THEN kn.k ELSE 0 END) AS g
         |  FROM cand2 cd
         |  JOIN kdeg kn ON cd.c = kn.c
         |  JOIN kdeg kt ON cd.lc = kt.c
         |),
         |best2 AS (
         |  SELECT c, lc, g FROM (
         |    SELECT c, lc, g, ROW_NUMBER() OVER (PARTITION BY c ORDER BY g DESC, lc ASC) AS rn
         |    FROM gains2) t WHERE rn = 1
         |),
         |own2 AS (SELECT c, g AS gown FROM gains2 WHERE lc = c),
         |newlab2 AS MATERIALIZED (
         |  SELECT b.c, CASE WHEN b.g > o.gown AND b.lc < b.c THEN b.lc ELSE b.c END AS l2
         |  FROM best2 b JOIN own2 o ON b.c = o.c
         |),
         |per1 AS (
         |  SELECT COALESCE(s.self_w, 0) AS intra_w, kdeg.k AS deg_w
         |  FROM kdeg LEFT JOIN selfs s ON kdeg.c = s.c
         |),
         |self_in2 AS (
         |  SELECT n.l2, CAST(COALESCE(SUM(s.self_w), 0) AS BIGINT) AS sw2
         |  FROM newlab2 n LEFT JOIN selfs s ON n.c = s.c GROUP BY 1
         |),
         |inter_in2 AS (
         |  SELECT na.l2, CAST(SUM(i.w) AS BIGINT) AS iw2
         |  FROM inter i
         |  JOIN newlab2 na ON i.c1 = na.c
         |  JOIN newlab2 nb ON i.c2 = nb.c
         |  WHERE na.l2 = nb.l2 GROUP BY 1
         |),
         |per2 AS MATERIALIZED (
         |  SELECT d.l2, d.n_super, d.deg_w, s.sw2 + COALESCE(i.iw2, 0) AS intra_w
         |  FROM (SELECT n.l2, CAST(SUM(k.k) AS BIGINT) AS deg_w,
         |          CAST(COUNT(*) AS BIGINT) AS n_super
         |        FROM newlab2 n JOIN kdeg k ON n.c = k.c GROUP BY 1) d
         |  JOIN self_in2 s ON d.l2 = s.l2
         |  LEFT JOIN inter_in2 i ON d.l2 = i.l2
         |),
         |nmass AS (
         |  SELECT n.l2, CAST(SUM(mass.n_nodes) AS BIGINT) AS n_nodes
         |  FROM newlab2 n JOIN mass ON n.c = mass.c GROUP BY 1
         |),
         |q1 AS (
         |  SELECT CAST((10000::HUGEINT
         |      * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |    // (4::HUGEINT * m * m) - 10000 AS BIGINT) AS q1_x10000
         |  FROM (SELECT CAST(SUM(intra_w) AS HUGEINT) AS smc,
         |          SUM(deg_w::HUGEINT * deg_w::HUGEINT) AS sd2 FROM per1), m2
         |),
         |q2 AS (
         |  SELECT CAST((10000::HUGEINT
         |      * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |    // (4::HUGEINT * m * m) - 10000 AS BIGINT) AS q2_x10000
         |  FROM (SELECT CAST(SUM(intra_w) AS HUGEINT) AS smc,
         |          SUM(deg_w::HUGEINT * deg_w::HUGEINT) AS sd2 FROM per2), m2
         |)
         |SELECT per2.l2 AS community, per2.n_super, nmass.n_nodes,
         |  per2.intra_w, per2.deg_w, q1.q1_x10000, q2.q2_x10000
         |FROM per2 JOIN nmass ON per2.l2 = nmass.l2, q1, q2
         |ORDER BY nmass.n_nodes DESC, community LIMIT 12""".stripMargin,
    "gr_louvain_full" ->
      s"""WITH $lpaCtes,
         |$louvainMoveCtes,
         |ea AS MATERIALIZED (
         |  SELECT la.lbl AS ca, lb.lbl AS cb
         |  FROM edges e JOIN newlab la ON e.a = la.u JOIN newlab lb ON e.b = lb.u
         |),
         |s1 AS MATERIALIZED (
         |  SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS self_w
         |  FROM ea WHERE ca = cb GROUP BY 1
         |),
         |i1 AS MATERIALIZED (
         |  SELECT LEAST(ca, cb) AS c1, GREATEST(ca, cb) AS c2,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM ea WHERE ca <> cb GROUP BY 1, 2
         |),
         |ms1 AS MATERIALIZED (
         |  SELECT lbl AS c, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |  FROM newlab GROUP BY 1
         |),
         |ext1 AS (
         |  SELECT c, CAST(SUM(w) AS BIGINT) AS ext_w FROM (
         |    SELECT c1 AS c, w FROM i1 UNION ALL SELECT c2, w FROM i1) z
         |  GROUP BY 1
         |),
         |per1 AS MATERIALIZED (
         |  SELECT ms1.c, COALESCE(s.self_w, 0) AS intra_w,
         |    2 * COALESCE(s.self_w, 0) + COALESCE(x.ext_w, 0) AS deg_w
         |  FROM ms1 LEFT JOIN s1 s ON ms1.c = s.c LEFT JOIN ext1 x ON ms1.c = x.c
         |),
         |lv1 AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS level,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM per1) AS n_super_nodes,
         |    (SELECT CAST((10000::HUGEINT
         |        * (4::HUGEINT * m * smc - sd2 + 4::HUGEINT * m * m))
         |      // (4::HUGEINT * m * m) - 10000 AS BIGINT)
         |     FROM (SELECT CAST(SUM(intra_w) AS HUGEINT) AS smc,
         |             SUM(deg_w::HUGEINT * deg_w::HUGEINT) AS sd2 FROM per1),
         |       mrow) AS q_x10000
         |),
         |${(2 to LouvainMaxLevels).map(louvainFullLevelCtes).mkString(",\n")}
         |SELECT level, n_super_nodes, q_x10000 FROM (
         |  ${(1 to LouvainMaxLevels).map(k => s"SELECT * FROM lv$k").mkString(" UNION ALL ")}) z
         |WHERE level <= 2
         |  ${(3 to LouvainMaxLevels).map { k =>
             val improved = (2 until k)
               .map(j => s"(SELECT q_x10000 FROM lv$j) > (SELECT q_x10000 FROM lv${j - 1})")
               .mkString(" AND ")
             s"OR (level = $k AND $improved)"
           }.mkString("\n  ")}
         |ORDER BY level""".stripMargin,
    "gr_copurchase" ->
      s"""WITH cp0 AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), ok AS (
        |  SELECT cust FROM cp0 GROUP BY cust
        |  HAVING COUNT(*) <= $CopurchaseBasketCap
        |), cp AS (
        |  SELECT cp0.* FROM cp0 JOIN ok USING (cust)
        |)
        |SELECT a.part AS p1, b.part AS p2, COUNT(*) AS n_cust
        |FROM cp a JOIN cp b ON a.cust = b.cust AND a.part < b.part
        |GROUP BY 1, 2 ORDER BY n_cust DESC, p1, p2 LIMIT 30""".stripMargin,
    "gr_kcore" -> {
      // k$r / e$r are multi-referenced (each peel round reads the prior
      // edge set twice and the survivor set twice); MATERIALIZED stops
      // DuckDB's default inlining from replaying the whole peel chain
      // per reference — exponential in rounds, the 10x timeout cause
      val round = (r: Int) =>
        s"""k$r AS MATERIALIZED (
           |  SELECT src AS u FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= $KcoreK
           |), e$r AS MATERIALIZED (
           |  SELECT src, dst FROM e${r - 1}
           |  WHERE src IN (SELECT u FROM k$r) AND dst IN (SELECT u FROM k$r))""".stripMargin
      s"""WITH act AS MATERIALIZED (
         |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
         |), sizes AS (
         |  SELECT event_type, hr FROM (
         |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
         |), ok AS MATERIALIZED (
         |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
         |), edges AS MATERIALIZED (
         |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
         |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
         |    AND x.user_id < y.user_id
         |), e0 AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
         |), ${(1 to KcoreRounds).map(round).mkString(",\n")}
         |SELECT * FROM (
         |  ${(1 to KcoreRounds).map(r =>
              s"SELECT CAST($r AS BIGINT) AS round, COUNT(DISTINCT src) AS n_nodes, " +
                s"COUNT(*) AS n_sym_edges FROM e$r").mkString("\n  UNION ALL ")}
         |) ORDER BY round""".stripMargin
    },
    "gr_sssp" -> {
      // d$r references d${r-1} twice (relax + carry): without
      // MATERIALIZED, DuckDB inlining doubles the chain per round —
      // 2^rounds replays of the edge build, the 10x timeout cause
      val round = (r: Int) =>
        s"""d$r AS MATERIALIZED (
           |  SELECT u, CAST(MIN(d) AS BIGINT) AS d FROM (
           |    SELECT s.dst AS u, d${r - 1}.d + s.w AS d
           |    FROM sym s JOIN d${r - 1} ON s.src = d${r - 1}.u
           |    UNION ALL SELECT u, d FROM d${r - 1}) f
           |  GROUP BY u)""".stripMargin
      s"""WITH act AS MATERIALIZED (
         |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
         |), sizes AS (
         |  SELECT event_type, hr FROM (
         |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
         |), ok AS MATERIALIZED (
         |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
         |), we AS MATERIALIZED (
         |  SELECT a, b, CAST(GREATEST(1, 11 - n) AS BIGINT) AS w FROM (
         |    SELECT x.user_id AS a, y.user_id AS b, COUNT(*) AS n
         |    FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
         |      AND x.user_id < y.user_id
         |    GROUP BY 1, 2)
         |), sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, w FROM we UNION ALL SELECT b, a, w FROM we
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS u FROM sym
         |), d0 AS MATERIALIZED (
         |  SELECT u, CAST(0 AS BIGINT) AS d FROM nodes WHERE u % 100 = 0
         |), ${(1 to SsspRounds).map(round).mkString(",\n")}
         |SELECT CAST(COALESCE(dk.d, -1) AS BIGINT) AS d, COUNT(*) AS n_users
         |FROM nodes LEFT JOIN d$SsspRounds dk USING (u)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "gr_khop" -> {
      // same double-reference chain as gr_sssp — MATERIALIZED for the
      // same inlining reason (this one passed at 10x but in 294.8s)
      val round = (r: Int) =>
        s"""d$r AS MATERIALIZED (
           |  SELECT u, CAST(MIN(d) AS BIGINT) AS d FROM (
           |    SELECT s.dst AS u, d${r - 1}.d + 1 AS d
           |    FROM sym s JOIN d${r - 1} ON s.src = d${r - 1}.u
           |    UNION ALL SELECT u, d FROM d${r - 1}) f
           |  GROUP BY u)""".stripMargin
      s"""WITH act AS MATERIALIZED (
         |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
         |), sizes AS (
         |  SELECT event_type, hr FROM (
         |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
         |), ok AS MATERIALIZED (
         |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
         |), edges AS MATERIALIZED (
         |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
         |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
         |    AND x.user_id < y.user_id
         |), sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS u FROM sym
         |), d0 AS MATERIALIZED (
         |  SELECT u, CAST(0 AS BIGINT) AS d FROM nodes WHERE u % 100 = 0
         |), ${(1 to KhopRounds).map(round).mkString(",\n")}
         |SELECT CAST(COALESCE(dk.d, -1) AS BIGINT) AS d, COUNT(*) AS n_users
         |FROM nodes LEFT JOIN d$KhopRounds dk USING (u)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "gr_betweenness" -> {
      val fwd = (r: Int) =>
        s"""f$r AS MATERIALIZED (
           |  SELECT f.s, y.dst AS u, CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM f${r - 1} f JOIN sym y ON f.u = y.src
           |  LEFT JOIN v${r - 1} v ON v.s = f.s AND v.u = y.dst
           |  WHERE v.u IS NULL
           |  GROUP BY f.s, y.dst
           |), v$r AS MATERIALIZED (
           |  SELECT s, u FROM v${r - 1} UNION ALL SELECT s, u FROM f$r
           |)""".stripMargin
      val bwd = (d: Int) =>
        s"""p$d AS MATERIALIZED (
           |  SELECT f.s, f.u, CAST(COALESCE(c.p, 0) AS BIGINT) AS p, f.sigma
           |  FROM f$d f LEFT JOIN (
           |    SELECT f2.s, f2.u, SUM(1 + pn.p) AS p
           |    FROM f$d f2 JOIN sym y ON f2.u = y.src
           |    JOIN p${d + 1} pn ON pn.s = f2.s AND pn.u = y.dst
           |    GROUP BY f2.s, f2.u) c ON c.s = f.s AND c.u = f.u
           |)""".stripMargin
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
         |), sizes AS (
         |  SELECT event_type, hr FROM (
         |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
         |), ok AS (
         |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
         |), edges AS (
         |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
         |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
         |    AND x.user_id < y.user_id
         |), sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
         |), srcs AS (
         |  SELECT DISTINCT src AS s FROM sym ORDER BY s LIMIT $BrandesSources
         |), f0 AS MATERIALIZED (
         |  SELECT s, s AS u, CAST(1 AS BIGINT) AS sigma FROM srcs
         |), v0 AS MATERIALIZED (SELECT s, u FROM f0),
         |${(1 to BrandesDepth).map(fwd).mkString(",\n")},
         |p$BrandesDepth AS MATERIALIZED (
         |  SELECT s, u, CAST(0 AS BIGINT) AS p, sigma FROM f$BrandesDepth
         |),
         |${((BrandesDepth - 1) to 0 by -1).map(bwd).mkString(",\n")},
         |scored AS (
         |  SELECT s, u, CAST(0 AS BIGINT) AS stress FROM f$BrandesDepth
         |${(0 until BrandesDepth).map(d =>
             s"  UNION ALL SELECT s, u, CAST(sigma * p AS BIGINT) AS stress FROM p$d")
            .mkString("\n|")}
         |)
         |SELECT CAST(rank AS BIGINT) AS rank, u, stress, n_sources FROM (
         |  SELECT u, CAST(SUM(stress) AS BIGINT) AS stress,
         |    COUNT(*) AS n_sources,
         |    ROW_NUMBER() OVER (ORDER BY SUM(stress) DESC, u ASC) AS rank
         |  FROM scored WHERE u <> s GROUP BY u) t
         |WHERE rank <= $BrandesTopK ORDER BY rank""".stripMargin
    },
    "gr_common_neighbors" ->
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
         |), sizes AS (
         |  SELECT event_type, hr FROM (
         |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
         |), ok AS (
         |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
         |), edges AS (
         |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
         |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
         |    AND x.user_id < y.user_id
         |), sym AS (
         |  SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges
         |), deg AS (
         |  SELECT u, COUNT(*) AS d FROM sym GROUP BY u
         |), okc AS (
         |  SELECT sym.* FROM sym JOIN deg USING (u) WHERE deg.d <= $CnDegCap
         |), cand AS (
         |  SELECT x.v AS a, y.v AS b, COUNT(*) AS n_common
         |  FROM okc x JOIN okc y ON x.u = y.u AND x.v < y.v
         |  GROUP BY 1, 2
         |), pred AS (
         |  SELECT c.* FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = c.a AND e.b = c.b)
         |)
         |SELECT p.a, p.b, p.n_common,
         |  da.d AS deg_a, db.d AS deg_b,
         |  (10000 * p.n_common) // (da.d + db.d - p.n_common) AS jaccard_x10000
         |FROM pred p
         |JOIN deg da ON da.u = p.a
         |JOIN deg db ON db.u = p.b
         |ORDER BY p.n_common DESC, p.a, p.b LIMIT 20""".stripMargin,
    "gr_linkpred_eval" -> linkpredEvalSql,
    "gr_rich_club" -> richClubSql,
    "gr_components" -> componentsSql,
    "gr_resource_alloc" ->
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
         |), sizes AS (
         |  SELECT event_type, hr FROM (
         |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
         |), ok AS (
         |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
         |), edges AS (
         |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
         |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
         |    AND x.user_id < y.user_id
         |), sym AS (
         |  SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges
         |), deg AS (
         |  SELECT u, COUNT(*) AS d FROM sym GROUP BY u
         |), okc AS (
         |  SELECT sym.u, sym.v, 1000000000 // deg.d AS w_center
         |  FROM sym JOIN deg USING (u) WHERE deg.d <= $CnDegCap
         |), cand AS (
         |  SELECT x.v AS a, y.v AS b, COUNT(*) AS n_common,
         |    SUM(x.w_center) AS ra_x1e9
         |  FROM okc x JOIN okc y ON x.u = y.u AND x.v < y.v
         |  GROUP BY 1, 2
         |)
         |SELECT c.a, c.b, c.n_common, CAST(c.ra_x1e9 AS BIGINT) AS ra_x1e9
         |FROM cand c
         |WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = c.a AND e.b = c.b)
         |ORDER BY c.ra_x1e9 DESC, c.a, c.b LIMIT 20""".stripMargin,
    "gr_ppr_converge" ->
      """WITH act AS MATERIALIZED (
        |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
        |), sizes AS MATERIALIZED (
        |  SELECT event_type, hr FROM (
        |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
        |), ok AS MATERIALIZED (
        |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
        |), edges AS MATERIALIZED (
        |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
        |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
        |    AND x.user_id < y.user_id
        |), sym AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
        |), deg AS MATERIALIZED (
        |  SELECT src, COUNT(*) AS d FROM sym GROUP BY src
        |), seeds AS MATERIALIZED (
        |  SELECT src AS u FROM deg ORDER BY src LIMIT 5
        |), r0 AS MATERIALIZED (
        |  SELECT u, CAST(1000000000000 AS BIGINT) AS r FROM seeds
        |), m1 AS MATERIALIZED (
        |  SELECT s.dst AS u, CAST(SUM(r0.r // deg.d) AS BIGINT) AS msum
        |  FROM sym s JOIN r0 ON s.src = r0.u JOIN deg ON s.src = deg.src GROUP BY s.dst
        |), r1 AS MATERIALIZED (
        |  SELECT COALESCE(m.u, sd.u) AS u,
        |    COALESCE((m.msum * 85) // 100, 0)
        |      + CASE WHEN sd.u IS NOT NULL THEN 150000000000 ELSE 0 END AS r
        |  FROM m1 m FULL OUTER JOIN seeds sd ON m.u = sd.u
        |), m2 AS MATERIALIZED (
        |  SELECT s.dst AS u, CAST(SUM(r1.r // deg.d) AS BIGINT) AS msum
        |  FROM sym s JOIN r1 ON s.src = r1.u JOIN deg ON s.src = deg.src GROUP BY s.dst
        |), r2 AS MATERIALIZED (
        |  SELECT COALESCE(m.u, sd.u) AS u,
        |    COALESCE((m.msum * 85) // 100, 0)
        |      + CASE WHEN sd.u IS NOT NULL THEN 150000000000 ELSE 0 END AS r
        |  FROM m2 m FULL OUTER JOIN seeds sd ON m.u = sd.u
        |), m3 AS MATERIALIZED (
        |  SELECT s.dst AS u, CAST(SUM(r2.r // deg.d) AS BIGINT) AS msum
        |  FROM sym s JOIN r2 ON s.src = r2.u JOIN deg ON s.src = deg.src GROUP BY s.dst
        |), r3 AS MATERIALIZED (
        |  SELECT COALESCE(m.u, sd.u) AS u,
        |    COALESCE((m.msum * 85) // 100, 0)
        |      + CASE WHEN sd.u IS NOT NULL THEN 150000000000 ELSE 0 END AS r
        |  FROM m3 m FULL OUTER JOIN seeds sd ON m.u = sd.u
        |)
        |SELECT iter, l1_delta, n_reached FROM (
        |  SELECT CAST(1 AS BIGINT) AS iter,
        |    CAST(SUM(abs(COALESCE(b.r, 0) - COALESCE(a.r, 0))) AS BIGINT) AS l1_delta,
        |    CAST(SUM(CASE WHEN COALESCE(b.r, 0) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached
        |  FROM r0 a FULL OUTER JOIN r1 b ON a.u = b.u
        |  UNION ALL
        |  SELECT 2, CAST(SUM(abs(COALESCE(b.r, 0) - COALESCE(a.r, 0))) AS BIGINT),
        |    CAST(SUM(CASE WHEN COALESCE(b.r, 0) <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM r1 a FULL OUTER JOIN r2 b ON a.u = b.u
        |  UNION ALL
        |  SELECT 3, CAST(SUM(abs(COALESCE(b.r, 0) - COALESCE(a.r, 0))) AS BIGINT),
        |    CAST(SUM(CASE WHEN COALESCE(b.r, 0) <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM r2 a FULL OUTER JOIN r3 b ON a.u = b.u
        |) u ORDER BY iter""".stripMargin,
    "gr_ppr" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
        |), sizes AS (
        |  SELECT event_type, hr FROM (
        |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
        |), ok AS (
        |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
        |), edges AS (
        |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
        |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
        |    AND x.user_id < y.user_id
        |), sym AS (
        |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
        |), deg AS (
        |  SELECT src, COUNT(*) AS d FROM sym GROUP BY src
        |), seeds AS (
        |  SELECT src AS u FROM deg ORDER BY src LIMIT 5
        |), r0 AS (
        |  SELECT u, CAST(1000000000000 AS BIGINT) AS r FROM seeds
        |), m1 AS (
        |  SELECT s.dst AS u, CAST(SUM(r0.r // deg.d) AS BIGINT) AS msum
        |  FROM sym s JOIN r0 ON s.src = r0.u JOIN deg ON s.src = deg.src
        |  GROUP BY s.dst
        |), r1 AS (
        |  SELECT COALESCE(m.u, sd.u) AS u,
        |    COALESCE((m.msum * 85) // 100, 0)
        |      + CASE WHEN sd.u IS NOT NULL THEN 150000000000 ELSE 0 END AS r
        |  FROM m1 m FULL OUTER JOIN seeds sd ON m.u = sd.u
        |), m2 AS (
        |  SELECT s.dst AS u, CAST(SUM(r1.r // deg.d) AS BIGINT) AS msum
        |  FROM sym s JOIN r1 ON s.src = r1.u JOIN deg ON s.src = deg.src
        |  GROUP BY s.dst
        |), r2 AS (
        |  SELECT COALESCE(m.u, sd.u) AS u,
        |    COALESCE((m.msum * 85) // 100, 0)
        |      + CASE WHEN sd.u IS NOT NULL THEN 150000000000 ELSE 0 END AS r
        |  FROM m2 m FULL OUTER JOIN seeds sd ON m.u = sd.u
        |)
        |SELECT u AS user_id, CAST(r AS BIGINT) AS ppr_x1e12 FROM r2
        |ORDER BY r DESC, u LIMIT 15""".stripMargin,
    "gr_pagerank" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
        |), sizes AS (
        |  SELECT event_type, hr FROM (
        |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
        |), ok AS (
        |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
        |), edges AS (
        |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
        |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
        |    AND x.user_id < y.user_id
        |), sym AS (
        |  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges
        |), deg AS (
        |  SELECT src, COUNT(*) AS d FROM sym GROUP BY src
        |), r0 AS (
        |  SELECT src AS u, CAST(1000000000000 AS BIGINT) AS r FROM deg
        |), r1 AS (
        |  SELECT u, 150000000000 + (msum * 85) // 100 AS r FROM (
        |    SELECT s.dst AS u, CAST(SUM(r0.r // deg.d) AS BIGINT) AS msum
        |    FROM sym s JOIN r0 ON s.src = r0.u JOIN deg ON s.src = deg.src
        |    GROUP BY s.dst) m1
        |), r2 AS (
        |  SELECT u, 150000000000 + (msum * 85) // 100 AS r FROM (
        |    SELECT s.dst AS u, CAST(SUM(r1.r // deg.d) AS BIGINT) AS msum
        |    FROM sym s JOIN r1 ON s.src = r1.u JOIN deg ON s.src = deg.src
        |    GROUP BY s.dst) m2
        |)
        |SELECT u AS user_id, CAST(r AS BIGINT) AS rank_x1e12 FROM r2
        |ORDER BY r DESC, u LIMIT 15""".stripMargin,
    "gr_triangles" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
        |), sizes AS (
        |  SELECT event_type, hr FROM (
        |    SELECT event_type, hr, COUNT(*) AS n FROM act GROUP BY 1, 2) WHERE n <= 20
        |), ok AS (
        |  SELECT act.* FROM act JOIN sizes USING (event_type, hr)
        |), edges AS (
        |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
        |  FROM ok x JOIN ok y ON x.event_type = y.event_type AND x.hr = y.hr
        |    AND x.user_id < y.user_id
        |), deg AS (
        |  SELECT u, COUNT(*) AS d
        |  FROM (SELECT a AS u FROM edges UNION ALL SELECT b AS u FROM edges) GROUP BY u
        |), s AS (
        |  SELECT
        |    (SELECT COUNT(*) FROM deg) AS n_nodes,
        |    (SELECT COUNT(*) FROM edges) AS n_edges,
        |    (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        |    (SELECT COUNT(*) FROM edges e1
        |       JOIN edges e2 ON e1.b = e2.a
        |       JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b) AS n_triangles
        |)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CAST(CASE WHEN n_wedges = 0 THEN 0
        |       ELSE (n_triangles * 30000) // n_wedges END AS BIGINT) AS gcc_x10000
        |FROM s ORDER BY n_nodes""".stripMargin)
}
