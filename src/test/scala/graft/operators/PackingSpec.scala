package graft.operators

import graft.SparkSpec

/** Sequence-packing invariants: deterministic bins, order-respecting,
  * bins filled to the budget. */
class PackingSpec extends SparkSpec {

  test("bins fill in doc order and advance when the budget is crossed") {
    import spark.implicits._
    // 10 tokens each, budget 25: docs 1-3 start under 25 (before = 0,
    // 10, 20 → bin 0), doc 4 starts at 30 → bin 1, etc.
    val docs = (1L to 6L).map(i =>
      (i, (1 to 10).map(j => s"w$j").mkString(" "), "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val bins = Packing.packed(docs, budgetTokens = 25)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin")).toMap
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 2L))
  }

  test("writeShards lays out token-balanced partitions that round-trip all rows") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    val nShards = Packing.writeShards(docs, out, tokensPerShard = 500)
    assert(nShards > 1)
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.select($"doc_id").distinct().count() == docs.count())
    // each shard holds ≤ budget + its boundary-straddling last doc
    val maxDocTokens = docs
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")).cast("long").as("n"))
      .agg(org.apache.spark.sql.functions.max($"n")).collect().head.getLong(0)
    val shardTotals = back
      .withColumn("n_tok", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")).cast("long"))
      .groupBy($"lang", $"source", $"bin")
      .agg(org.apache.spark.sql.functions.sum($"n_tok").as("total"))
      .collect().map(_.getAs[Long]("total"))
    assert(shardTotals.forall(_ <= 500 + maxDocTokens))
  }

  test("writeShards on an all-filtered corpus reports 0 shards, no crash") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir).where($"doc_id" < 0)
    val out = java.nio.file.Files.createTempDirectory("shards-empty").toString
    assert(Packing.writeShards(docs, out, tokensPerShard = 500) == 0L)
  }

  test("packing is per-(lang, source) shard — bins restart across shards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "en", "s0"), (2L, "a b c", "en", "s1"),
      (3L, "a b c", "de", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val out = Packing.packed(docs, budgetTokens = 2).collect()
    // Every doc is first in its own shard → tok_before = 0 → bin 0.
    assert(out.forall(_.getAs[Long]("bin") == 0L))
  }

  test("real corpus: bins are contiguous per shard and totals conserve tokens") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDirMid)
    val p = Packing.packed(docs, 512)
    assert(p.count() == docs.count()) // every doc assigned exactly once
    val perShard = p.groupBy($"lang", $"source")
      .agg(org.apache.spark.sql.functions.collect_set($"bin").as("bins"))
      .collect()
    perShard.foreach { r =>
      val bins = r.getAs[scala.collection.Seq[Long]]("bins").sorted
      assert(bins == (0L until bins.size.toLong)) // 0..max, no gaps
    }
    val tokSum = p.agg(org.apache.spark.sql.functions.sum($"n_tok")).head().getLong(0)
    val direct = docs.selectExpr("sum(size(split(text, ' ')))").head().getLong(0)
    assert(tokSum == direct)
  }
}
