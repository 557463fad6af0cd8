package graft

import org.apache.spark.sql.functions._

class VectorDotSpec extends SparkSpecBase {

  test("vector_dot is bit-identical to the declarative zip_with fold") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
      .withColumn("native", expr("vector_dot(embedding, embedding)"))
      .withColumn("fold", expr(
        "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
    val diffs = e.filter(col("native") =!= col("fold")).count()
    assert(diffs == 0)
  }

  test("vector_dot participates in whole-stage codegen") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vector_dot(embedding, embedding) AS d")
    // formatted explain marks whole-stage-codegen stages with "codegen id"
    // on each member node (an interpreted fallback would lack it on Project)
    val projectLines = plan(df).linesIterator.filter(_.contains("Project")).mkString("\n")
    assert(projectLines.contains("codegen id"), plan(df))
    assert(df.agg(min("d")).collect()(0).getDouble(0) >= 0.0)
  }

  test("vector_dot over float x double arrays is bit-identical to the interpreted fold") {
    // the IVFPQ approx-pass shape: float query vector x double codebook
    // reconstruction (exact quotients) — the fold the native loop replaced
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
      .withColumn("rec", expr("transform(embedding, x -> CAST(x AS DOUBLE) * 0.5)"))
      .withColumn("native", expr("vector_dot(embedding, rec)"))
      .withColumn("fold", expr(
        "aggregate(sequence(0, size(embedding) - 1), CAST(0.0 AS DOUBLE), " +
          "(acc, k) -> acc + CAST(element_at(embedding, k + 1) AS DOUBLE) * element_at(rec, k + 1))"))
      .withColumn("dd", expr("vector_dot(rec, rec)"))
      .withColumn("ddFold", expr(
        "aggregate(zip_with(rec, rec, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
    assert(e.filter(col("native") =!= col("fold")).count() == 0)
    assert(e.filter(col("dd") =!= col("ddFold")).count() == 0)
    // and the mixed-type loop still runs inside whole-stage codegen
    val projectLines = plan(e.select("native", "dd")).linesIterator
      .filter(_.contains("Project")).mkString("\n")
    assert(projectLines.contains("codegen id"), plan(e.select("native", "dd")))
  }

  test("vector_dot is null-safe and rejects length mismatch") {
    val n = spark.sql(
      "SELECT vector_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS d")
      .collect()(0)
    assert(n.isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT vector_dot(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))").collect()
    }
    assert(err.getMessage.contains("length mismatch") ||
      Option(err.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("GraftSession installs native functions and strategies on every session") {
    // a derived session with no registration call: everything below comes
    // from spark.sql.extensions, set once in GraftSession.builder
    val s2 = spark.newSession()
    def one(sql: String) = s2.sql(s"SELECT $sql").collect()(0)
    assert(one("vector_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
      .getDouble(0) == 6.0)
    assert(one("morton_interleave(3L, 0L)").getLong(0) == 5L) // x on even bits
    assert(one("hamming_str('0110', '0011')").getInt(0) == 2)
    val strategies = s2.sessionState.planner.strategies
    assert(strategies.contains(graft.plans.AsofJoinStrategy), strategies)
    assert(strategies.contains(graft.plans.TopKPerKeyStrategy), strategies)
  }
}
