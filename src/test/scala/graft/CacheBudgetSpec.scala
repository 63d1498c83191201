package graft

/** The engine now holds 8+ bounded PlanCaches (shingle, LSH band, pair,
  * intersection, IVF probe, positional, frame-signature, doc
  * bigram/token, winnowing, …). Each is individually LRU-bounded; this
  * spec asserts the bounds COMPOSE — after running the heaviest
  * cache-consuming queries back to back, the REGISTRY-level totals stay
  * under the fixed budget, and the session's actual pinned storage
  * (persistent RDDs + their memory) is bounded too. An unbounded
  * composition would look exactly like this workload: every query
  * healthy in isolation, executor memory quietly filling across a
  * long-lived service session.
  */
class CacheBudgetSpec extends SparkSpec {

  // The bench's slowest-15 (BENCH_r11) plus one consumer of each
  // remaining derived-index family (LSH bands, winnowing, bigram table,
  // CC clusters, LM scoring) — together they touch every PlanCache.
  private val heavies = Seq(
    "q89_co_occurrence", "q120_sole_late_supplier", "q142_rewrite_advisory",
    "q104_familiarity", "q138_supplier_breadth", "q121_span_pairs",
    "q109_visual_clusters", "q133_dedup_yield", "q24_embedding_neardup",
    "q148_semantic_dedup", "q78_fuzzy_names", "q135_fingerprint_pairs",
    "q83_similar_topk", "q108_frame_neardup", "q116_containment",
    "q22_minhash_lsh", "q30_fingerprint", "q98_bigram_lift",
    "q40_dedup_clusters", "q47_dedup_clusters_lsh",
    "q149_lm_fluency", "q150_target_affinity",
  )

  test("derived-index caches compose under the registry budget across the heavy suite") {
    graft.util.PlanCache.clearAll()
    spark.sharedState.cacheManager.clearCache()
    heavies.foreach { name =>
      SparkEntry.queries(name)(spark, sfDirMid).collect()
      // the invariant must hold AT EVERY POINT, not just at the end —
      // a transiently unbounded cache is the same leak on a service.
      // (totalBudget is read live: caches register as their operator
      // singletons first load, so it grows monotonically to the full
      // registry over the run.)
      assert(graft.util.PlanCache.totalEntries <= graft.util.PlanCache.totalBudget,
        s"after $name: ${graft.util.PlanCache.totalEntries} cached plans " +
          s"exceed the registry budget ${graft.util.PlanCache.totalBudget}")
    }
    // Current registry: ~20 caches of 4-8 entries each (96 total as of
    // round 12; some hold Longs/models, not frames). The ceiling exists
    // to flag a NEW cache with a huge maxEntries, not to freeze the
    // exact sum — bump it deliberately when adding a cache family.
    // r17 bump (128 -> 136): three small derived frames joined the
    // registry — per-doc shingle counts (4), document segments (4),
    // file key zones (4) — each one-row-per-doc/segment/partition-file
    // sized, the cheapest frames in their families.
    // r18 bump (136 -> 140): audio frequency buckets (4) — the q110
    // WAV-decode fingerprint, two ints per audio asset, joining the
    // frame-signature family's materialize-once discipline.
    // Source-schema bump (140 -> 156): `Tables.schemaOf`'s memo (16)
    // holds StructTypes, no frames and no storage; 16 holds one
    // scale dir's ten source tables with room to spare.
    val budget = graft.util.PlanCache.totalBudget
    assert(budget > 0 && budget <= 156,
      s"registry budget $budget drifted — a new cache with a huge " +
        "maxEntries would quietly raise worst-case pinned storage")
    // Pinned storage follows the entry bound: every persistent RDD in
    // the session should belong to a live cache entry (plus Spark's own
    // broadcast-cleanup slack). A leak here with totalEntries in budget
    // would mean an evicted frame's unpersist didn't release blocks.
    val rdds = spark.sparkContext.getPersistentRDDs
    assert(rdds.size <= budget + 8,
      s"${rdds.size} persistent RDDs for at most $budget cache entries")
    val pinnedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    // sf0.01 derived indexes are a few MB each; 512 MB is ~50x headroom
    // while still failing fast on anything growing with query COUNT.
    assert(pinnedMb < 512.0, f"$pinnedMb%.1f MB pinned at sf0.01")
    println(f"CACHEBUDGET | ${heavies.size} queries | " +
      f"${graft.util.PlanCache.totalEntries}/${budget} cached plans | " +
      f"${rdds.size} persistent RDDs | $pinnedMb%.1f MB pinned")
  }
}
