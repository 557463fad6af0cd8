package graft

import graft.operators.{Dedup, Geo, Similarity}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The operators are a library, not a test harness: every core works on
  * arbitrary user DataFrames, proven here on synthetic frames built from
  * scratch (never the driver testdata). */
class GenericApiSpec extends SparkSpecBase {

  test("zonal stats runs on arbitrary point/zone frames (empty zones kept)") {
    import spark.implicits._
    val pts = Seq((1L, 5.0, 5.0, 10.0), (2L, 15.0, 5.0, 20.0), (3L, -5.0, 5.0, 30.0))
      .toDF("event_id", "lon", "lat", "value")
    val zs = Seq((100L, 0.0, 0.0, 10.0, 10.0), (200L, 10.0, 0.0, 30.0, 10.0),
      (300L, 40.0, 0.0, 50.0, 10.0)) // no points inside
      .toDF("zone_id", "xmin", "ymin", "xmax", "ymax")
    val out = Geo.zonalStatsOn(pts, zs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    // LEFT JOIN shape (stats.py:9-13): the point-free zone stays, stats NULL
    assert(out == Map(100L -> (1L, Some(10.0)), 200L -> (1L, Some(20.0)),
      300L -> (0L, None)))
  }

  test("dedup suite runs on an arbitrary corpus and finds the planted dup") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base + " lambda"), (3L, "totally different words here my friend ok then"),
      (4L, base)).toDF("id", "body")
    val sh = Dedup.shinglesOn(docs, "id", "body")
    val jac = Dedup.ngramJaccardOn(sh, 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.contains((1L, 2L)) && jac.contains((1L, 4L)) && jac.contains((2L, 4L)))
    assert(!jac.exists(p => p._1 == 3L || p._2 == 3L))
    val mh = Dedup.minhashOn(sh).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((1L, 4L)), mh.toString) // identical docs always collide
    val sim = Dedup.simhashOn(sh, 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.contains((1L, 4L)), sim.toString) // hamming 0
    val ex = Dedup.exactOn(docs, "id", "body").collect()
    assert(ex.length == 3 && ex.exists(r => r.getLong(1) == 1L && r.getLong(2) == 2L))
  }

  test("df-capped jaccard core drops hot shingles on an arbitrary corpus") {
    import spark.implicits._
    // 25 docs share one hot phrase; two docs are real near-dups
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = ((1 to 25).map(i => (i.toLong, s"hot phrase shared $i one two three four five six")) ++
      Seq((100L, base), (101L, base + " tail"))).toDF("id", "body")
    val sh = Dedup.shinglesOn(docs, "id", "body")
    val capped = Dedup.ngramJaccardOn(sh, 0.5, dfCap = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the real dup pair survives; no pair exists solely via the hot phrase
    assert(capped.contains((100L, 101L)), capped.toString)
    assert(!capped.exists(p => p._1 <= 25 && p._2 <= 25), capped.toString)
  }

  test("connected components core labels an arbitrary graph") {
    import spark.implicits._
    // two components {1,2,3} (path) and {10,11}; 20 is a singleton
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val half = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val edges = half.unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
    val comp = graft.operators.GraphOps.minLabelComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L), comp.toString)
  }

  test("tile assignment core runs on an arbitrary point frame") {
    import spark.implicits._
    val pts = Seq((0.0, 0.0, 1.0), (0.0, 0.1, 2.0), (-179.9, 0.0, 3.0))
      .toDF("lon", "lat", "value")
    val out = Geo.tileAssignOn(pts).collect()
    // zoom 10: lon 0 -> tx 512 (lat 0 and 0.1 straddle ty 512/511); lon -179.9 -> tx 0
    assert(out.count(r => r.getLong(0) == 512L) == 2, out.mkString(","))
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(3) == 1L), out.mkString(","))
  }

  test("vector enrich core runs on arbitrary point/zone frames (empty zones kept)") {
    import spark.implicits._
    val pts = Seq((5.0, 5.0, 10.0), (5.5, 5.5, 20.0), (15.0, 5.0, 30.0))
      .toDF("lon", "lat", "value")
    val zs = Seq((100L, 0.0, 0.0, 10.0, 10.0), (200L, 10.0, 0.0, 30.0, 10.0),
      (300L, -40.0, 0.0, -20.0, 10.0)) // empty zone
      .toDF("zone_id", "xmin", "ymin", "xmax", "ymax")
    val out = Geo.vectorEnrichOn(pts, zs).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), Option(r.get(4)))).toMap
    assert(out(100L) == (2L, Some(15.0)))
    assert(out(200L) == (1L, Some(30.0)))
    assert(out(300L) == (0L, None)) // LEFT JOIN keeps the empty zone, stats NULL
  }

  test("aligned zonal core equals the raw-point zonal stats on edge-case frames") {
    import spark.implicits._
    // zone 100 spans negative coordinates and overlaps zone 200 on
    // [0,2) x [0,3); zone 300 holds no point
    val zs = Seq((100L, -3.0, -2.0, 2.0, 3.0), (200L, 0.0, 0.0, 5.0, 4.0),
      (300L, 10.0, 10.0, 12.0, 12.0))
      .toDF("zone_id", "xmin", "ymin", "xmax", "ymax")
    val pts = Seq(
      (-3.0, 0.5, 1.25),    // on 100's xmin: in 100
      (2.0, 1.0, 2.5),      // on 100's xmax: out of 100, in 200
      (-0.01, -1.99, 3.75), // negative cell (-1, -2): in 100
      (1.5, 1.5, 4.1),      // in both overlapping zones
      (0.0, 0.0, 0.3),      // on 200's xmin and ymin: in 100 and 200
      (5.0, 2.0, 7.0),      // on 200's xmax: in no zone
      (-2.5, 3.0, 9.9),     // on 100's ymax: in no zone
      (4.99, 3.99, 0.01))   // in 200's last cell
      .toDF("lon", "lat", "value")
    val reference = Geo.zonalStatsOn(pts, zs).orderBy("zone_id").collect().toSeq
    assert(reference.map(r => r.getLong(0) -> r.getLong(1)) ==
      Seq(100L -> 4L, 200L -> 4L, 300L -> 0L), reference.mkString(","))
    val minMax = Geo.alignedZonal(pts, zs, minMax = true)
      .select("zone_id", "n_points", "mean_value", "min_value", "max_value")
      .orderBy("zone_id").collect().toSeq
    assert(minMax == reference, s"$minMax != $reference")
    val enrich = Geo.vectorEnrichOn(pts, zs)
      .select("zone_id", "n_points", "mean_value").orderBy("zone_id").collect().toSeq
    assert(enrich == reference.map(r => Row(r.get(0), r.get(1), r.get(2))),
      s"$enrich != $reference")
  }

  test("r4 deterministic rounding: exact 5-decimal midpoints round half-up in both engines") {
    import spark.implicits._
    // 17/32 = 0.53125 is a dyadic rational — exactly representable, so
    // native ROUND diverges across engines (Spark HALF_UP -> .5313,
    // DuckDB HALF_EVEN -> .5312). r4 is floor(x*1e4+0.5)/1e4 written
    // identically in r4Sql, pinning half-up on BOTH sides.
    val vals = Seq(17.0 / 32.0, -17.0 / 32.0, 0.12345, 1.0 / 3.0).toDF("x")
    val got = vals.select(graft.sources.Tables.r4(org.apache.spark.sql.functions.col("x")))
      .collect().map(_.getDouble(0))
    assert(got(0) == 0.5313, got.mkString(","))  // midpoint: half-up
    assert(got(1) == -0.5312, got.mkString(",")) // floor form: toward +inf
    assert(got(2) == 0.1235 && got(3) == 0.3333, got.mkString(","))
  }

  test("ANN cores run on an arbitrary embedding frame") {
    import spark.implicits._
    // 5 unit-ish vectors in 64 dims, v1 ~ v2, v3 orthogonal-ish
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 31 + i).toFloat))
    val df = Seq((1L, vec(1)), (2L, vec(1).map(x => x * 0.9f)), (3L, vec(7)), (4L, vec(9)))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", Similarity.norm("embedding"))
    val top = Similarity.bruteforceOn(df.filter(col("vec_id") === 1), df, 1).collect()
    assert(top.length == 1 && top(0).getLong(2) == 2L, top.mkString(","))
    val dd = Dedup.embedCosineOn(df, 0.99).collect()
    assert(dd.length == 1 && dd(0).getLong(0) == 1L && dd(0).getLong(1) == 2L)
  }

  test("pointer-doubling components match hash-min, and survive a deep path graph") {
    import spark.implicits._
    import graft.operators.GraphOps
    // random-ish sparse graph: parity between the two algorithms
    val n = 300L
    val nodes = spark.range(n).select(col("id"))
    val edges = spark.range(n).select(col("id").as("src"),
        ((col("id") * 17 + 5) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    val a = GraphOps.minLabelComponents(nodes, edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.minLabelComponentsDoubling(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    // a 200-node PATH: diameter 199 >> hash-min's 64-round cap — the
    // O(log d) contraction is the point of the doubling variant
    val pathNodes = spark.range(200L).select(col("id"))
    val pathEdges = spark.range(199L).select(col("id").as("src"), (col("id") + 1L).as("dst"))
    val labels = GraphOps.minLabelComponentsDoubling(pathNodes, pathEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.forall(_._2 == 0L), labels.filter(_._2 != 0L).take(5).mkString(","))
  }

  test("span-dedup and contamination cores run on an arbitrary corpus") {
    import spark.implicits._
    val run = (1 to 30).map(i => s"w$i").mkString(" ") // 30 words = 3 spans
    val docs = Seq(
      (0L, run),                                    // "benchmark" doc (id % 7 == 0)
      (1L, run),                                    // fully contaminated copy
      (2L, (31 to 60).map(i => s"w$i").mkString(" ")), // clean
      (3L, run + " " + (61 to 69).map(i => s"w$i").mkString(" "))) // 3 of 3 full spans dup
      .toDF("id", "body")
    val span = Dedup.spanDedupOn(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 0/1: all 3 spans duplicated (each occurs 3x corpus-wide); doc 2 clean
    assert(span(0L) == (3L, 3L) && span(1L) == (3L, 3L))
    assert(span(2L) == (3L, 0L))
    assert(span(3L) == (3L, 3L)) // its 3 full spans are the shared run
    val cont = Dedup.contaminationOn(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 3 share 8-grams with benchmark doc 0; doc 2 does not
    assert(cont.contains(1L) && cont.contains(3L) && !cont.contains(2L), cont.toString)
    // LSH calibration pieces compose on the same shingle set
    val sh = Dedup.shinglesOn(docs, "id", "body")
    val cand = Dedup.bandCandidates(Dedup.minhashSignatures(sh))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 1L)), cand.toString) // identical docs always collide
  }

  test("word-window rule: size gate, 0-based windows joined by one space, stride drops the tail") {
    import spark.implicits._
    import graft.operators.TextAnalysis.{windowArr, windowSlice, windowText, wordWindows, words}
    val docs = Seq(
      (1L, "a b"),       // shorter than n = 3: no rows
      (2L, "a b c d e"),
      (3L, "x  y z"))    // double space: an empty word is still a word
      .toDF("id", "body")
    def windows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSeq }
    val tri = windows(wordWindows(docs, Seq(col("id")), 3, windowText(3), "w", words("body")))
    assert(tri == Map(2L -> Seq("a b c", "b c d", "c d e"), 3L -> Seq("x  y", " y z")), tri)
    // stride 2 over 5 words: windows start at 0 and 2; the lone tail word is dropped
    val strided = windows(wordWindows(docs, Seq(col("id")), 2, windowText(2), "w", words("body"),
      stride = 2))
    assert(strided == Map(1L -> Seq("a b"), 2L -> Seq("a b", "c d"), 3L -> Seq("x ", "y z")),
      strided)
    // the span/winnow slice form joins the same words
    assert(windows(wordWindows(docs, Seq(col("id")), 2, windowSlice(2), "w", words("body"),
      stride = 2)) == strided)
    // distinct drops a doc's repeated windows
    val rep = Seq((9L, "u v u v u")).toDF("id", "body")
    assert(windows(wordWindows(rep, Seq(col("id")), 2, windowText(2), "w", words("body"),
      distinct = true)) == Map(9L -> Seq("u v", "v u")))
    // the row-wise array form is the same windows, unexploded
    val arr = docs.filter(col("id") === 2L).select(words("body").as("ws"))
      .select(windowArr(3, windowText(3))).collect()(0).getSeq[String](0)
    assert(arr == Seq("a b c", "b c d", "c d e"))
  }

  test("nb_train and hash_classify put the same bigram in the same bucket") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // one bigram per doc: nb_train's only bucket is that bigram's bucket,
    // and hash_classify's score is that bucket's weight
    for (bigram <- Seq("alpha beta", "the cat", "x y")) {
      val bucket = TextAnalysis.nbTrainOn(Seq((1L, bigram, bigram.length.toLong))
        .toDF("doc_id", "text", "n_chars")).collect().map(_.getLong(0)).toSeq
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hc:$bigram".getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(bucket == Seq(Integer.parseInt(hex.take(4), 16) % TextAnalysis.HcBuckets), bigram)
      val wt = spark.sql(s"SELECT ${graft.sources.Tables.md5Int(
        s"concat('wt:', CAST(${bucket.head} AS STRING))", 4)} % 2001").collect()(0).getLong(0)
      val score = TextAnalysis.hashClassifyOn(spark, Seq((1L, "s", bigram))
        .toDF("doc_id", "source", "text")).collect()(0).getLong(4)
      assert(score == wt, bigram)
    }
  }

  test("md5Int(e, 4) equals the oracle's hex4Sql twin, both evaluated in Spark") {
    import graft.operators.TextAnalysis
    import graft.sources.Tables
    // hex4Sql is DuckDB SQL; Spark lacks DuckDB's strpos (1-based position
    // of the first match, 0 when absent), so a private session defines it
    val duck = spark.newSession()
    duck.udf.register("strpos", (s: String, sub: String) => s.indexOf(sub) + 1)
    for (s <- Seq("", "a", "hc:alpha beta", "sp:0123abcd", "ünïcode")) {
      val e = s"'$s'"
      val row = duck.sql(s"SELECT ${Tables.md5Int(e, 4)}, " +
        s"CAST(${TextAnalysis.hex4Sql(s"md5($e)")} AS BIGINT)").collect()(0)
      assert(row.getLong(0) == row.getLong(1), s)
    }
  }
}
