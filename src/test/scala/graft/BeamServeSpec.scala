package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-side beam serve (`Similarity.beamServe` / `layeredServe`)
  * orders, trims and publishes exactly as a Spark `row_number` over
  * (cos desc, cid asc) does. The planted corpus makes every ordering rule
  * bite: identical vectors under distinct cids give exact cosine ties, a
  * NaN component gives a NaN cosine (Spark's greatest double), and every
  * query's own vector would outrank its neighbours if the serve let it
  * in. Hub nodes adjacent to every node let the first hop score the whole
  * corpus, so the served top-3 must equal the exact baseline's
  * (`bruteforceOn`, a Spark window over the same `dot / (qn * cn)`). */
class BeamServeSpec extends SparkSpecBase {

  /** 32 dim-4 vectors: queries 0..9; 10+q and 20+q are the SAME vector
    * (exact ties); 30 carries a NaN; 31 is a plain distractor. */
  private val planted: Seq[(Long, Array[Float])] =
    (0 until 10).map(q => q.toLong -> Array[Float](q + 1, 1, q % 3, 2)) ++
      (0 until 10).flatMap { q =>
        val v = Array[Float](q + 1, 1, q % 3 + 1, 2)
        Seq((10L + q) -> v, (20L + q) -> v.clone())
      } ++
      Seq(30L -> Array[Float](Float.NaN, 1, 0, 0), 31L -> Array[Float](-1, 2, 1, -3))

  private def corpusOf(vs: Seq[(Long, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(vs.map { case (id, v) => Row(id, v.toSeq) }: _*), schema)
      .select(col("vec_id"), col("embedding"), Similarity.norm("embedding").as("nrm"))
      .localCheckpoint()
  }

  /** Star edges from each hub to every corpus node. */
  private def stars(ids: Seq[Long], hubs: Seq[Long]): Seq[(Long, Long)] =
    for (h <- hubs; d <- ids if d != h) yield (h, d)

  private def edgeFrame(edges: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("layer", "src", "dst")
  }

  /** (qid, rank, cid, cos_sim bits): NaN-safe exact row identity. */
  private def rowsOf(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq

  test("beamServe and layeredServe publish the Spark (cos desc, cid asc) top-3; no beam holds its qid") {
    val c = corpusOf(planted)
    val ids = planted.map(_._1)
    val exactDf = Similarity.bruteforceOn(c.filter(col("vec_id") < 10), c, 3).orderBy("qid", "rank")
    val exact = rowsOf(exactDf)
    // the reference exercises the rules: NaN first for every query, and
    // at least one published pair of distinct cids with the exact same cos
    assert(exact.length == 30 && exact.filter(_._2 == 1).forall(_._3 == 30L))
    val scored = c.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("embedding").as("qv"), col("nrm").as("qn"))
      .crossJoin(c.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("nrm").as("cn")))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), (Similarity.dot("qv", "cv") / (col("qn") * col("cn"))).as("cos"))
    val exactCos = scored.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.groupBy(_._1).values.exists { g =>
      val top = g.sortBy(_._2).map(r => exactCos((r._1, r._3)))
      top(1) == top(2)
    }, "the planted corpus must put an exact tie inside some query's top-3")

    val flat = Similarity.beamServe(c,
      edgeFrame(stars(ids, Seq(0L, 1L)).map { case (s, d) => (0L, s, d) }).select("src", "dst"))
    // layer 0: stars from hubs 0, 1, 8; layer 1: a ring over hubs 0, 8, 16, 24
    val layered = Similarity.layeredServe(c, edgeFrame(
      stars(ids, Seq(0L, 1L, 8L)).map { case (s, d) => (0L, s, d) } ++
        Seq((0L, 8L), (8L, 16L), (16L, 24L), (24L, 0L)).map { case (s, d) => (1L, s, d) }))
    for ((name, served) <- Seq("beamServe" -> flat, "layeredServe" -> layered)) {
      assert(served.schema.map(f => f.name -> f.dataType) == Seq("qid" -> LongType,
        "rank" -> IntegerType, "cid" -> LongType, "cos_sim" -> DoubleType), name)
      val got = rowsOf(served)
      assert(got == exact, s"$name top-3 differs from the Spark window:\n$got\nvs\n$exact")
      assert(got.forall(r => r._1 != r._3), s"$name served a query its own id")
    }
  }

  test("a beam that reaches a zero vector fails like Spark's ANSI divide") {
    val c = corpusOf(planted.filter(_._1 != 30L) :+ (30L -> Array[Float](0, 0, 0, 0)))
    val g = edgeFrame(stars(planted.map(_._1), Seq(0L, 1L)).map { case (s, d) => (0L, s, d) })
    intercept[ArithmeticException](Similarity.beamServe(c, g.select("src", "dst")))
  }
}
