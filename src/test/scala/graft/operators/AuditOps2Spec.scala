package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.HllAggregator
import graft.sources.Tables

/** Round-9 second audit family: rate anomaly (q126), token-budget
  * apportionment (q127), label fragmentation (q128), reshard-movement
  * audit (q129), and the HLL vocabulary sketch (q130). The oracle gate
  * covers value equality; these pin the algebraic invariants.
  */
class AuditOps2Spec extends SparkSpec {

  // ---- q126: rate anomaly ----

  test("rate anomaly flags an injected 10x spike and nothing in steady state") {
    import spark.implicits._
    // 50 steady hours of 10 events, then one hour of 100.
    val base = (0 until 50).flatMap { h =>
      Seq.fill(10)((h.toLong, "click"))
    } ++ Seq.fill(100)((50L, "click"))
    val events = base.zipWithIndex.map { case ((h, t), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2025-01-${h / 24 + 1}%02d ${h % 24}%02d:30:00"), t)
    }.toDF("event_id", "ts", "event_type")
    val out = Anomaly.rateAnomalyOf(events).collect()
    val spikes = out.filter(_.getAs[Boolean]("is_spike"))
    assert(spikes.length == 1)
    assert(spikes.head.getAs[Long]("n_events") == 100)
    assert(spikes.head.getAs[Long]("med2") == 20) // trailing median 10
  }

  test("rate anomaly cold start: first minTrail buckets are never flagged") {
    import spark.implicits._
    // A spike in hour 3 — too early for the 12-bucket guard.
    val base = (0 until 3).flatMap(h => Seq.fill(5)(h.toLong)) ++ Seq.fill(500)(3L)
    val events = base.zipWithIndex.map { case (h, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2025-01-01 ${h}%02d:00:00"), "view")
    }.toDF("event_id", "ts", "event_type")
    assert(Anomaly.rateAnomalyOf(events).where($"is_spike").count() == 0)
  }

  // ---- q127: apportionment ----

  test("largest remainder: allocations sum exactly to the budget") {
    val items = Seq(("a", 3L), ("b", 1L), ("c", 1L), ("d", 2L))
    for (budget <- Seq(1L, 7L, 100L, 9999L)) {
      val got = Sampling.largestRemainder(items, budget)
      assert(got.values.sum == budget, s"budget=$budget got=$got")
      // proportionality: each within 1 of the exact share floor
      items.foreach { case (n, w) =>
        val floor = budget * w / items.map(_._2).sum
        assert(got(n) == floor || got(n) == floor + 1)
      }
    }
  }

  test("apportion caps at availability and redistributes the shortfall") {
    val avail = Seq(("a", 5L), ("b", 1000L), ("c", 1000L))
    val weights = Map("a" -> 1L, "b" -> 1L, "c" -> 1L)
    val out = Sampling.apportion(avail, weights, budget = 300L)
    val byName = out.map(r => r._1 -> r).toMap
    // a: target 100, capped to 5; the 95 shortfall splits over b and c.
    assert(byName("a")._5 == 5L && byName("a")._6)
    assert(!byName("b")._6 && !byName("c")._6)
    assert(out.map(_._5).sum == 300L)
    assert(out.forall(r => r._5 <= r._2))
  }

  test("apportion with headroom exhausted leaves residual unallocated") {
    val avail = Seq(("a", 10L), ("b", 10L))
    val out = Sampling.apportion(avail, Map("a" -> 1L, "b" -> 1L), budget = 100L)
    assert(out.map(_._5).sum == 20L) // everything available, nothing more
    assert(out.forall(_._6))
  }

  test("q127 allocates the full budget on the real corpus (no source caps at 60%)") {
    import spark.implicits._
    val rows = Sampling.q127TokenBudget(spark, sfDir).collect()
    val totalAvail = rows.map(_.getAs[Long]("available_tokens")).sum
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(alloc <= totalAvail * 3 / 5)
    assert(rows.forall(r => r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("available_tokens")))
  }

  // ---- q129: reshard audit ----

  test("HRW movers all land in the NEW shard (minimal-movement property)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id")
    val a = docs
      .withColumn("s8", Sampling.hrwShard($"doc_id", 8, "shard"))
      .withColumn("s9", Sampling.hrwShard($"doc_id", 9, "shard"))
    // HRW: adding shard 8 can only steal keys (argmax over a superset
    // changes only when the new candidate wins) — every mover goes to 8.
    assert(a.where($"s8" =!= $"s9" && $"s9" =!= 8).count() == 0)
  }

  test("q129: HRW moves ~1/9 of docs, mod moves the vast majority") {
    val rows = Sampling.q129ReshardAudit(spark, sfDirMid).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (n, hrwMoved) = rows("hrw")
    val (_, modMoved) = rows("mod")
    assert(hrwMoved.toDouble / n > 0.05 && hrwMoved.toDouble / n < 0.20,
      s"hrw moved $hrwMoved of $n")
    assert(modMoved.toDouble / n > 0.75, s"mod moved $modMoved of $n")
  }

  // ---- q130: HLL sketch ----

  test("HLL merge of disjoint halves equals the whole-corpus sketch, register for register") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).cache()
    val a = DistinctSketch.vocabSketch(docs.where($"doc_id" % 2 === 0))
    val b = DistinctSketch.vocabSketch(docs.where($"doc_id" % 2 === 1))
    val whole = DistinctSketch.vocabSketch(docs)
    val merged = new HllAggregator().merge(
      graft.functions.HllBuf(a.toArray), graft.functions.HllBuf(b.toArray)).regs
    assert(merged.toSeq == whole)
  }

  test("HLL estimate within 20% of the exact distinct token count") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val exact = docs.select(explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .where($"t" =!= "").select(countDistinct($"t")).head().getLong(0)
    val est = HllAggregator.estimate(DistinctSketch.vocabSketch(docs))
    assert(math.abs(est - exact) / exact < 0.20, s"est=$est exact=$exact")
  }

  test("rho matches the strpos/lpad/bin formula on boundary values") {
    assert(HllAggregator.rho(0L) == 53)
    assert(HllAggregator.rho(1L) == 52)
    assert(HllAggregator.rho(5L) == 50)          // bin=101 → first 1 at 50
    assert(HllAggregator.rho((1L << 51) | 1L) == 1)
    assert(HllAggregator.rho((1L << 52) - 1) == 1)
  }

  // ---- q140: cluster-aware splits ----

  test("cluster-aware splits: no verified near-dup pair straddles splits (q124 on it is empty)") {
    import spark.implicits._
    val assign = Sampling.q140ClusterSplits(spark, sfDirMid)
      .select($"doc_id", $"split").cache()
    val pairs = Dedup.minhashLsh(spark, sfDirMid, 0.6).select($"id_a", $"id_b")
    val straddling = pairs
      .join(assign.select($"doc_id".as("id_a"), $"split".as("sa")), "id_a")
      .join(assign.select($"doc_id".as("id_b"), $"split".as("sb")), "id_b")
      .where($"sa" =!= $"sb")
    assert(pairs.count() > 0, "expected near-dup pairs in the corpus")
    assert(straddling.count() == 0)
    // and the split is still usable: all three splits populated
    assert(assign.select($"split").distinct().count() == 3)
    assign.unpersist()
  }
}
