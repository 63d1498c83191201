package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one definition per query, so the builder map and
  * the oracle map cannot drift apart, and a name filter that rejects a
  * name it does not know instead of running a shorter suite. */
class RegistrySpec extends AnyFunSuite {

  // Oracles that replay a trained artifact: absent until their query
  // has run in this JVM (another spec in the forked JVM may have run it).
  private val trained = Set("q73_kmeans_clusters", "q123_cluster_sample",
    "q128_label_fragmentation", "q148_semantic_dedup", "q31_ann_ivf",
    "q55_ann_pq", "q99_quality_model", "q84_compression")

  test("queries holds 177 distinct names") {
    assert(SparkEntry.queries.size == 177)
  }

  test("every oracle names a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every query has an oracle, once its training has run") {
    assert(trained.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.keySet ++ trained == SparkEntry.queries.keySet)
  }

  test("select rejects an unregistered name and filters otherwise") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some(Set("q1_agg", "nope"))))
    assert(e.getMessage.contains("nope"))
    assert(SparkEntry.select(Some(Set("q1_agg"))).keySet == Set("q1_agg"))
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
  }
}
