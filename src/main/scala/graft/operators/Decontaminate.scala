package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Benchmark decontamination — drop training documents that overlap an
  * evaluation set's n-grams, the standard leakage guard a training-data
  * pipeline runs before shipping a corpus.
  *
  * overlap(doc) = |shingles(doc) ∩ shingles(eval set)| / |shingles(doc)|
  * over the same word 3-gram shingles as the dedup family
  * ([[Dedup.docShingles]], shared materialized index). The eval-set
  * shingle set is benchmark-sized (thousands of documents, not
  * billions) → broadcast to every executor; the corpus side is one
  * hash-aggregate per doc. Overlap is a ratio of two exact integers, so
  * the report is engine-reproducible and oracle-checkable.
  */
object Decontaminate {

  /** Shared report assembly: totals over ALL corpus shingles, hits =
    * `hitsInput` (the corpus shingles, possibly prefiltered) ⋈ eval
    * shingles, ratio + threshold. Both the exact and the bloom path
    * flow through here, so their semantics cannot diverge. */
  private def assembleReport(sh: DataFrame, hitsInput: DataFrame,
      evalSh: DataFrame, minOverlap: Double): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    // r17: the per-doc totals are the shared denominator index
    // (Dedup.docShingleCounts) — previously re-aggregated per invocation.
    val totals = Dedup.docShingleCounts(sh)
      .withColumnRenamed("n", "n_shingles")
    val hits = hitsInput.join(broadcast(evalSh), "sh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("doc_id"))
      .withColumn("overlap", $"n_hits".cast("double") / $"n_shingles")
      .where($"overlap" >= minOverlap)
      .select($"doc_id", $"n_shingles", $"n_hits", $"overlap")
      .orderBy($"doc_id")
  }

  /** Per-document contamination report for corpus docs at or above
    * `minOverlap`: (doc_id, n_shingles, n_hits, overlap). */
  def overlapReport(docs: DataFrame, evalDocs: DataFrame,
      minOverlap: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = Dedup.docShingles(docs)
    // r17: cache the distinct eval-shingle set on the exact path too —
    // the bloom path already did (evalShCache); the exact path re-ran
    // the select+distinct shuffle per invocation.
    val distinct = Dedup.docShingles(evalDocs).select($"sh").distinct()
    val evalSh = evalShCache.getOrElseUpdate(
      distinct.queryExecution.analyzed.canonicalized)(distinct.cache())
    assembleReport(sh, sh, evalSh, minOverlap)
  }

  /** The corpus minus contaminated documents. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame,
      minOverlap: Double): DataFrame = {
    val flagged = overlapReport(docs, evalDocs, minOverlap).select("doc_id")
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Distinct eval-shingle sets, materialized once: three consumers
    * (count, bloom build, verify join) would otherwise each re-run the
    * select+distinct shuffle over the shingle index. */
  private val evalShCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "evalShCache")

  /** Built bloom filters, keyed by (eval plan, fpp). Round-7 bench
    * showed the bloom path costing 1.6× the plain exact join at sf0.1:
    * the prefilter itself is cheap, but every invocation re-paid two
    * control-plane jobs (distinct-count + bloom aggregation) that the
    * steady-state consumer — streaming ingest probing a FIXED eval set
    * per micro-batch — pays exactly once. Cache the finished filter the
    * same way the eval-shingle frame is cached, so repeat invocations
    * go straight to the probe. */
  private val bloomCache =
    new graft.util.PlanCache[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Double),
        org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]](
      // unpersist, NOT destroy: an unexecuted DataFrame from an earlier
      // overlapReportBloom call still closes over the broadcast via the
      // mightContain UDF — destroy() would make its eventual execution
      // throw; unpersist() only drops executor copies (re-shipped from
      // the driver on next use, still usable).
      maxEntries = 4, onEvict = _.unpersist())

  /** [[overlapReport]] with a bloom prefilter on the corpus side — the
    * 100 TB shape. The exact path probes EVERY corpus shingle against
    * the broadcast eval-shingle hash relation; at corpus scale that is
    * billions of probes into a string hash map per executor. Here the
    * eval shingles are first folded into a bloom filter (~10 bits per
    * shingle at 1% fpp vs the full strings), every corpus shingle is
    * screened by the filter, and only the survivors — true hits plus
    * ~1% false positives — reach the exact join that removes the false
    * positives. Bloom filters have NO false negatives, so the report is
    * bit-identical to [[overlapReport]] (same oracle), only cheaper:
    * the join probe side shrinks from the corpus shingle count to
    * roughly the true hits.
    */
  def overlapReportBloom(docs: DataFrame, evalDocs: DataFrame,
      minOverlap: Double, fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = Dedup.docShingles(docs)
    val distinct = Dedup.docShingles(evalDocs).select($"sh").distinct()
    val evalKey = distinct.queryExecution.analyzed.canonicalized
    val evalSh = evalShCache.getOrElseUpdate(evalKey)(distinct.cache())
    val bloomB = bloomCache.getOrElseUpdate((evalKey, fpp)) {
      // Eval side is benchmark-sized by definition — one count + one
      // driver-built filter is control-plane work, like stat.bloomFilter.
      val nEval = math.max(1000L, evalSh.count())
      spark.sparkContext.broadcast(evalSh.stat.bloomFilter($"sh", nEval, fpp))
    }
    val mightContain = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    assembleReport(sh, sh.where(mightContain($"sh")), evalSh, minOverlap)
  }

  /** The crossover from SCALE.md, as code: the bloom prefilter only
    * beats the plain broadcast-hash probe once the eval shingle set is
    * large enough that its hash relation thrashes executor cache while
    * the ~40×-smaller bloom stays resident (≈10M distinct shingles) —
    * below that the screen is pure overhead (measured 1.05 s vs 0.83 s
    * at sf0.1). This wrapper makes the default path pick the right
    * side of that line from the eval set's actual distinct-shingle
    * count; callers with a standing eval set (streaming ingest) still
    * call [[overlapReportBloom]] directly and amortize the build. */
  def overlapReportAuto(docs: DataFrame, evalDocs: DataFrame,
      minOverlap: Double, bloomMinEvalShingles: Long = 10L * 1000 * 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val distinct = Dedup.docShingles(evalDocs).select($"sh").distinct()
    val evalKey = distinct.queryExecution.analyzed.canonicalized
    val nEval = evalShCache.getOrElseUpdate(evalKey)(distinct.cache()).count()
    if (nEval >= bloomMinEvalShingles) overlapReportBloom(docs, evalDocs, minOverlap)
    else overlapReport(docs, evalDocs, minOverlap)
  }

  /** q49: contamination report of the corpus (doc_id ≥ 50) against a
    * simulated eval set (doc_id < 50, which includes near-dup plant
    * sources so real leakage exists) at 50% shingle overlap. */
  def q49Decontaminate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val all = Tables.documents(spark, d)
    overlapReport(all.where($"doc_id" >= 50), all.where($"doc_id" < 50), 0.5)
  }

  /** Contamination ATTRIBUTION: which eval document leaked into which
    * corpus document, by shared-shingle count — the audit view behind
    * the drop decision ([[overlapReport]] says only THAT a doc is
    * contaminated; this says against WHAT, which is what a benchmark
    * owner reviews). Eval side is benchmark-sized → broadcast; one
    * groupBy on the (corpus, eval) pair. */
  def contaminationPairs(docs: DataFrame, evalDocs: DataFrame,
      minShared: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = Dedup.docShingles(docs)
    val evalSh = Dedup.docShingles(evalDocs)
      .select($"doc_id".as("eval_doc_id"), $"sh")
    sh.join(broadcast(evalSh), "sh")
      .groupBy($"doc_id", $"eval_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= minShared)
      .orderBy($"doc_id", $"eval_doc_id")
  }

  /** q94: attribution pairs for the q49 split at ≥ 20 shared shingles. */
  def q94ContaminationPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val all = Tables.documents(spark, d)
    contaminationPairs(all.where($"doc_id" >= 50), all.where($"doc_id" < 50), 20L)
  }

  val q94Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      |)
      |SELECT c.doc_id, e.doc_id AS eval_doc_id, count(*) AS n_shared
      |FROM sh c JOIN sh e ON c.sh = e.sh
      |WHERE c.doc_id >= 50 AND e.doc_id < 50
      |GROUP BY 1, 2 HAVING count(*) >= 20
      |ORDER BY c.doc_id, e.doc_id""".stripMargin

  /** q62: the same contamination report as q49 through the bloom
    * prefilter — must hash-match the exact path's oracle. */
  def q62DecontaminateBloom(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val all = Tables.documents(spark, d)
    overlapReportBloom(all.where($"doc_id" >= 50), all.where($"doc_id" < 50), 0.5)
  }

  val q49Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      |), eval_sh AS (
      |  SELECT DISTINCT sh FROM sh WHERE doc_id < 50
      |), totals AS (
      |  SELECT doc_id, count(*) AS n_shingles FROM sh WHERE doc_id >= 50 GROUP BY 1
      |), hits AS (
      |  SELECT s.doc_id, count(*) AS n_hits
      |  FROM sh s JOIN eval_sh e ON s.sh = e.sh
      |  WHERE s.doc_id >= 50 GROUP BY 1
      |)
      |SELECT t.doc_id, t.n_shingles, h.n_hits,
      |       CAST(h.n_hits AS DOUBLE) / t.n_shingles AS overlap
      |FROM totals t JOIN hits h ON t.doc_id = h.doc_id
      |WHERE CAST(h.n_hits AS DOUBLE) / t.n_shingles >= 0.5
      |ORDER BY t.doc_id""".stripMargin
}
