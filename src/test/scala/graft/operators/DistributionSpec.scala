package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Salting must preserve join semantics; bucketing must remove the
  * shuffle from the join plan. */
class DistributionSpec extends SparkSpec {

  test("salted join returns exactly the plain join result under heavy skew") {
    import spark.implicits._
    // 10k rows, 90% on one hot key.
    val large = spark.range(10000)
      .withColumn("k", when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 100))
      .withColumn("payload", $"id" * 2)
    val small = spark.range(100).select($"id".as("k"), ($"id" * 10).as("dim"))
    val plain = large.join(small, Seq("k"))
      .agg(count(lit(1)), sum($"payload" + $"dim")).head()
    val salted = Distribution.saltedJoin(large, small, "k", salt = 8)
      .agg(count(lit(1)), sum($"payload" + $"dim")).head()
    assert(plain == salted)
  }

  test("left_outer salted join preserves unmatched left rows") {
    import spark.implicits._
    val large = Seq((1L, 10L), (2L, 20L), (99L, 30L)).toDF("k", "lv")
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "rv")
    val out = Distribution.saltedJoin(large, small, "k", salt = 4,
        joinType = "left_outer")
      .collect().map(r => (r.getLong(0), Option(r.getAs[String]("rv")))).toSet
    assert(out == Set((1L, Some("x")), (2L, Some("y")), (99L, None)))
  }

  test("two-phase distinct count equals direct countDistinct under skew") {
    import spark.implicits._
    val df = spark.range(20000)
      .withColumn("k", when($"id" % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), $"id" % 50)))
      .withColumn("v", $"id" % 1000)
    val direct = df.groupBy($"k").agg(countDistinct($"v").as("n_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val twoPhase = Distribution.twoPhaseDistinctCount(df, "k", "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(twoPhase == direct)
  }

  test("bucketed join of co-partitioned tables plans without a shuffle") {
    import spark.implicits._
    val a = spark.range(1000).select($"id".as("k"), ($"id" * 3).as("va"))
    val b = spark.range(1000).select($"id".as("k"), ($"id" * 5).as("vb"))
    Distribution.writeBucketed(a, "bkt_a", "k", 4)
    Distribution.writeBucketed(b, "bkt_b", "k", 4)
    // Force SMJ (disable auto-broadcast) to expose the exchange question.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), Seq("k"))
      assert(!Distribution.hasShuffle(joined), "bucketed join should not shuffle")
      assert(joined.count() == 1000)
      // Same join on plain (unbucketed) frames does shuffle.
      val unbucketed = a.join(b, Seq("k"))
      assert(Distribution.hasShuffle(unbucketed))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("groupBy on the bucket key plans without a shuffle") {
    import spark.implicits._
    val a = spark.range(1000).select($"id".as("k"), ($"id" * 3).as("va"))
    Distribution.writeBucketed(a, "bkt_agg", "k", 4)
    try {
      val agg = spark.table("bkt_agg").groupBy($"k").agg(count(lit(1)).as("n"))
      assert(!Distribution.hasShuffle(agg), "bucketed groupBy should not shuffle")
      assert(agg.count() == 1000)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_agg")
  }
}
