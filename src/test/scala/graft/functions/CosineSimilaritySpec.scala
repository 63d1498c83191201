package graft.functions

import graft.SparkSpec

/** The native codegen'd cosine expression must agree with the
  * interpreted HOF dot product and resolve from SQL. */
class CosineSimilaritySpec extends SparkSpec {

  test("native expression equals the HOF dot product on unit vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    CosineSimilarity.register(spark)
    val e = graft.sources.Tables.embeddings(spark, sfDirMid)
      .select($"vec_id", graft.operators.Similarity.normalized($"embedding").as("v"))
      .limit(50).cache()
    val joined = e.as("a").crossJoin(e.as("b"))
      .where($"a.vec_id" < $"b.vec_id")
      .select(
        graft.operators.Similarity.cos($"a.v", $"b.v").as("native"),
        graft.operators.Similarity.dot($"a.v", $"b.v").as("hof"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("resolves from SQL after registration") {
    CosineSimilarity.register(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c," +
        " cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS o").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(1)) < 1e-15)
  }

  test("interpreted (nullSafeEval) and codegen paths agree") {
    val expr = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.6, 0.8), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.8, 0.6), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    val interpreted = expr.eval(null).asInstanceOf[Double]
    assert(math.abs(interpreted - 0.96) < 1e-15)
    // zero-norm guard
    val zero = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.0, 0.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 0.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(zero.eval(null).asInstanceOf[Double] == 0.0)
  }
}
