package graft

import org.apache.spark.sql.execution.SimpleMode

/** Plan hygiene at the 10× probe scale. `tools/gen_scale_probe.py`
  * builds a key-space-dense 10× replica of sf0.1 (see the script's
  * docstring for the perturbation scheme); this spec compiles the
  * slowest-15 probe queries against it and asserts none of their plans
  * degrade to a nested-loop/cartesian shape at the larger SF — the
  * failure mode a size-estimate flip could cause (a broadcast side
  * outgrowing the threshold must fall back to a HASHED join, never a
  * BroadcastNestedLoopJoin). Gated: canceled unless the probe dir
  * exists (CI has no sf1 dir; the scale-probe procedure in SCALE.md
  * regenerates it in one command).
  *
  * Runtime ratios (the other half of the probe) are measured by the
  * bench in SPARK_GRAFT_ONLY mode and recorded in SCALE.md — a spec
  * asserting wall-clock ratios would be noise-flaky, but plan shape is
  * deterministic.
  */
class ScaleProbeSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  // Heap hygiene: this suite compiles and
  // (via derived-index construction) partially executes the slowest-15
  // queries at 10×, so session-lifetime caches built at the 10× SF are
  // an order of magnitude bigger than any other suite's. Drop every
  // cached frame on entry (stale test-SF frames from earlier suites)
  // and on exit (the 10× frames must not shadow later suites' heap).
  private def dropCaches(): Unit = {
    graft.util.PlanCache.clearAll()
    spark.sharedState.cacheManager.clearCache()
  }
  override def beforeAll(): Unit = { super.beforeAll(); dropCaches() }
  override def afterAll(): Unit = { dropCaches(); super.afterAll() }

  private val probeDir =
    sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")

  private val probeQueries = Seq(
    "q89_co_occurrence", "q120_sole_late_supplier", "q142_rewrite_advisory",
    "q104_familiarity", "q121_span_pairs", "q138_supplier_breadth",
    "q109_visual_clusters", "q108_frame_neardup", "q24_embedding_neardup",
    "q133_dedup_yield", "q78_fuzzy_names", "q83_similar_topk",
    "q21_ngram_jaccard", "q135_fingerprint_pairs", "q148_semantic_dedup",
    // the auto-rewrite family: these are naive BETWEEN / outer / anti
    // range joins whose ONLY defense against a nested-loop plan at 10x
    // is the planner rewrite — exactly what this guard exists to pin
    "q151_range_join_auto", "q152_overlap_auto", "q153_leftouter_auto",
    "q154_date_range_auto", "q155_anti_join_auto",
    // the standing-store paths: their lookups are hand-built (key, band)
    // / key equi-joins, so a nested-loop plan here would mean the store
    // scan stopped presenting its join keys
    "q156_standing_attribution", "q157_scd2_lookup_store",
    // round-13 additions: the skipping scan must stay a pruned
    // file-source scan + hash agg; the SCD2 merge/store paths are
    // window + broadcast-anti shapes that must never cross-join
    "q158_skipping_scan", "q159_scd2_merge", "q160_scd2_store",
    // z-ordered two-column prune and the MOR equality-delete anti-join
    // (its delete side must broadcast, never shuffle the table)
    "q161_zorder_scan", "q162_equality_deletes", "q163_delete_store",
    // round-13 second half: bloom point probe, transparent FileIndex
    // scan, SCD2 commit-travel + CDC (window/anti shapes), and the
    // composed table's pruned MOR read — none may cross-join
    "q164_bloom_scan", "q165_transparent_scan", "q166_scd2_time_travel",
    "q167_scd2_changes", "q168_composed_table", "q169_optimized_table",
    "q170_transparent_table", "q171_table_travel", "q172_table_changes",
    // round-16: the CDC consumers (mirror / aggregate view / min-max
    // view with per-group repair) and the metadata-only history — the
    // repair path's broadcast semi-join must stay broadcast at 10×,
    // never flip to a table-shuffling join
    "q173_table_mirror", "q174_table_evolution", "q175_table_history",
    "q176_agg_mirror", "q177_agg_minmax", "q178_filtered_mirror",
  )

  test("10x probe: no heavy query degrades to a nested-loop or cartesian plan") {
    // self-generating fixture (ScaleProbeGen): only an absent SOURCE
    // dir can cancel this now — a missing probe dir is built on the
    // spot, so clean-environment `sbt test` asserts instead of skipping
    assume(graft.util.ScaleProbeGen.ensure(spark, "/root/testdata/sf0.1",
      probeDir),
      s"source dir /root/testdata/sf0.1 absent — cannot build $probeDir")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // A BNLJ whose BUILD side is a scalar (ungrouped aggregate, one
    // row) is the legitimate broadcast-totals pattern (q104/q150 join
    // a 1-row grand-total frame) — only a data-sized build side is a
    // degradation.
    def scalarBuild(p: SparkPlan): Boolean = p.collectFirst {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a
    }.isDefined
    probeQueries.foreach { name =>
      graft.util.PlanCache.clearAll()
      spark.sharedState.cacheManager.clearCache()
      val qe = SparkEntry.queries(name)(spark, probeDir).queryExecution
      val offenders = qe.sparkPlan.collect {
        case j: CartesianProductExec => j.nodeName
        case j: BroadcastNestedLoopJoinExec if !scalarBuild(j.buildSide match {
          case BuildRight => j.right
          case BuildLeft => j.left
        }) => j.nodeName
      }
      assert(offenders.isEmpty,
        s"$name degraded at 10x ($offenders):\n" +
          qe.explainString(SimpleMode).take(2000))
    }
  }

  /** The round-11 scale fixes touched kernels SHARED by q40/q47 (CC
    * over exact pair kernels), q108/q109 (hamming block join), and
    * q148 (auto-k SemDeDup). The sf0.01 oracle re-verifies values; this
    * test verifies the kernels' REPLICATION invariants at the probe SF —
    * the regime the fixes exist for:
    *
    *  - replica 0 of the probe is bit-identical to sf0.1, and every
    *    pair kernel here is exact (brute cosine; LSH candidates with
    *    exact-Jaccard verify; pigeonhole-complete hamming blocking), so
    *    the 10× pair set restricted to replica-0 ids must EQUAL the
    *    sf0.1 pair set — a miss means blocking lost a pair it may only
    *    lose at the larger SF (the bug class the probes exist to catch);
    *  - the generator's perturbations are structure-preserving within a
    *    replica (vector roll = orthogonal permutation; per-replica word
    *    suffix = shingle-set translate), so EVERY replica's intra-
    *    replica pair set is the sf0.1 set translated by its key stride —
    *    pair sets are supersets under replication, exactly 10× or more.
    */
  test("10x probe: shared pair kernels keep their replication invariants") {
    assume(graft.util.ScaleProbeGen.ensure(spark, "/root/testdata/sf0.1",
      probeDir),
      s"source dir /root/testdata/sf0.1 absent — cannot build $probeDir")
    import graft.operators.Dedup
    val srcDir = "/root/testdata/sf0.1"
    val nVecs0 = spark.read.parquet(s"$srcDir/embeddings.parquet").count()
    val nDocs0 = spark.read.parquet(s"$srcDir/documents.parquet").count()

    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def replicaEquals(p10: Set[(Long, Long)], p0: Set[(Long, Long)],
        stride: Long, k: Int, what: String): Unit = {
      val lo = k * stride; val hi = lo + stride
      val restricted = p10.filter { case (a, b) =>
        a >= lo && a < hi && b >= lo && b < hi }
      val translated = p0.map { case (a, b) => (a + lo, b + lo) }
      assert(restricted == translated,
        s"$what replica $k: ${restricted.size} pairs vs expected " +
          s"${translated.size} (missing ${(translated -- restricted).take(5)}, " +
          s"extra ${(restricted -- translated).take(5)})")
    }

    // q40 kernel — exact all-pairs embedding cosine. The roll
    // perturbation is a coordinate permutation, so every replica's
    // intra-replica pair set is a translate of sf0.1's.
    val emb0 = pairs(Dedup.embeddingNearDup(spark, srcDir), "id_a", "id_b")
    val emb10 = pairs(Dedup.embeddingNearDup(spark, probeDir), "id_a", "id_b")
    (0 until 10).foreach(k => replicaEquals(emb10, emb0, nVecs0, k, "embedding"))
    assert(emb10.size >= 10 * emb0.size)

    // q47 kernel — MinHash-LSH candidates + exact-Jaccard verify. Word
    // suffixing translates shingle sets per replica; cross-replica docs
    // share no shingles, so no verified pair may span replicas.
    val docs0 = graft.sources.Tables.documents(spark, srcDir)
    val docs10 = graft.sources.Tables.documents(spark, probeDir)
    val lsh0 = pairs(Dedup.minhashLshOf(docs0, 0.6), "id_a", "id_b")
    val lsh10 = pairs(Dedup.minhashLshOf(docs10, 0.6), "id_a", "id_b")
    assert(lsh10.forall { case (a, b) => a / nDocs0 == b / nDocs0 },
      "verified Jaccard pair spans replicas — impossible with disjoint shingles")
    (0 until 10).foreach(k => replicaEquals(lsh10, lsh0, nDocs0, k, "lsh"))

    // q108 kernel — pigeonhole-complete hamming blocking over frame
    // keys (asset·100+frame). Replica-0 assets are bit-identical, so
    // the restricted pair set must equal sf0.1's exactly. (Replicas
    // k>0 have perturbed text → different pixels: no translate there.)
    def framePairs(d: String): Set[(Long, Long)] =
      graft.multimodal.Multimodal.frameNearDup(spark, d)
        .select(org.apache.spark.sql.functions.expr("asset_a * 100 + frame_a"),
          org.apache.spark.sql.functions.expr("asset_b * 100 + frame_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fr0 = framePairs(srcDir)
    val fr10 = framePairs(probeDir)
    val keyBound = nDocs0 * 100
    assert(fr10.filter { case (a, b) => a < keyBound && b < keyBound } == fr0,
      "hamming kernel lost or invented a replica-0 pair at 10x")
    val crossFrame = fr10.exists { case (a, b) => a / keyBound != b / keyBound }

    // q109 — clusters over the same hamming edges. If no edge spans
    // replicas (the common case; aHash collisions across perturbed
    // corpora are possible in principle), replica-0's cluster rows
    // survive verbatim: same edges → same components → same keepers.
    if (!crossFrame) {
      def clusterRows(d: String, bound: Long) =
        graft.multimodal.Multimodal.visualDupClusters(spark, d)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .filter(_._1 < bound).toSet
      assert(clusterRows(probeDir, keyBound) == clusterRows(srcDir, Long.MaxValue),
        "replica-0 visual clusters changed at 10x despite identical edges")
    } else println("SCALEPROBE: cross-replica hamming edges present; " +
      "q109 replica-0 cluster equality skipped (superset semantics only)")

    // q148 — data-dependent centroids (auto-k at this SF), so no pair
    // translate holds; assert the operator's structural contract at 10×:
    // total coverage, exactly one keeper per group, groups intra-cluster.
    val fates = graft.operators.Clustering.q148SemanticDedup(spark, probeDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(fates.length == spark.read.parquet(s"$probeDir/embeddings.parquet").count())
    fates.groupBy(_._3).foreach { case (g, ms) =>
      assert(ms.count(_._4 == 1) == 1, s"group $g keeper count at 10x")
      assert(ms.map(_._2).distinct.length == 1, s"group $g spans clusters at 10x")
    }
  }
}
