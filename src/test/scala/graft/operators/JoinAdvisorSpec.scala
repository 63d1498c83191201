package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Join strategy advisor: every decision branch on planted frames,
  * integer exactness of the skew test, and the real-corpus run. */
class JoinAdvisorSpec extends SparkSpec {

  test("all three strategies surface on planted frames") {
    import spark.implicits._
    // skewed fact: one key owns 60 of 100 rows
    val skewed = ((1 to 60).map(_ => 7L) ++ (1 to 40).map(_.toLong + 100))
      .toDF("k")
    val bigDim = (1 to 9000).map(_.toLong).toDF("id")
    val smallDim = (1 to 10).map(_.toLong).toDF("id")
    val salt = JoinAdvisor.adviseJoin(skewed, $"k", "k", bigDim, "big", 5000, 5).head()
    assert(salt.getAs[Boolean]("skewed"))
    assert(salt.getAs[String]("strategy") == "salt_fact")
    assert(salt.getAs[Long]("max_key_rows") == 60)

    val bcast = JoinAdvisor.adviseJoin(skewed, $"k", "k", smallDim, "small", 5000, 5).head()
    assert(bcast.getAs[String]("strategy") == "broadcast_dim") // broadcast wins over salt

    val uniform = (1 to 100).map(_.toLong).toDF("k")
    val plain = JoinAdvisor.adviseJoin(uniform, $"k", "k", bigDim, "big", 5000, 5).head()
    assert(!plain.getAs[Boolean]("skewed"))
    assert(plain.getAs[String]("strategy") == "hash_shuffle")
  }

  test("skew test is exact at the boundary (cross-multiplied, no division)") {
    import spark.implicits._
    val dim = (1 to 9000).map(_.toLong).toDF("id")
    // max key = 5 of 100 rows = exactly 5%: 5*100 > 100*5 is FALSE
    val atBoundary = ((1 to 5).map(_ => 1L) ++ (2 to 96).map(_.toLong)).toDF("k")
    assert(!JoinAdvisor.adviseJoin(atBoundary, $"k", "k", dim, "d", 5000, 5)
      .head().getAs[Boolean]("skewed"))
    // 6 of 101 rows: 6*100 > 101*5 is TRUE
    val above = ((1 to 6).map(_ => 1L) ++ (2 to 96).map(_.toLong)).toDF("k")
    assert(JoinAdvisor.adviseJoin(above, $"k", "k", dim, "d", 5000, 5)
      .head().getAs[Boolean]("skewed"))
  }

  test("q146 on the real corpus: one row per axis, dims drive the picks") {
    val rows = JoinAdvisor.q146JoinAdvisor(spark, sfDirMid).collect()
    assert(rows.map(_.getAs[String]("join_key")).sorted.sameElements(
      Array("l_orderkey", "l_partkey", "l_suppkey")))
    rows.foreach { r =>
      assert(r.getAs[Long]("fact_rows") > 0)
      assert(r.getAs[Long]("max_key_rows") <= r.getAs[Long]("fact_rows"))
      // part and supplier fit the broadcast limit on this corpus
      if (r.getAs[String]("dim_table") != "orders")
        assert(r.getAs[String]("strategy") == "broadcast_dim")
    }
  }
}
