package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Sub-document duplication *measurement* and *within-document* cleanup —
  * the two passes document-level and corpus-segment-level dedup
  * ([[Dedup.exact]], [[Dedup.dedupSegments]]) don't cover:
  *
  *  - [[dupSpanCoverage]]: per-document share of tokens lying inside a
  *    token span that occurs elsewhere in the corpus (the exact-substring
  *    duplication signal of Lee et al., "Deduplicating Training Data
  *    Makes Language Models Better" — there computed with a suffix
  *    array; here as a distributed shingle count + interval union,
  *    which is the shape that scales on Spark).
  *  - [[dedupSegmentsIntraDoc]]: first-occurrence-wins removal of
  *    segments repeated *within* one document (loops, stutter, copy
  *    paste inside a page). Corpus-level q69 keys every segment through
  *    a corpus-wide shuffle; the intra-doc pass needs NO shuffle at all
  *    — `array_distinct` keeps first occurrences scan-side, so at
  *    100 TB it costs exactly one read of the corpus.
  */
object SpanDedup {

  // Positional shingle frame (doc_id, pos, sh) — the shared scan of the
  // span family: coverage (q102) and cross-doc attribution (q121) both
  // consume the identical frame for the same k, so it is materialized
  // once per (corpus plan, k), same bounded-LRU discipline as
  // [[Dedup.docShingles]]. At 100 TB this is the "write the position
  // index once, run every span analysis over it" pattern.
  private val positionCache =
    new graft.util.PlanCache[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int), DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "positionCache")

  /** (doc_id, pos, sh): every k-token shingle of every document with its
    * 0-based start position. Cached per (canonicalized plan, k).
    * (r18 note: pre-partitioning this cache by `sh` was tried and
    * measured SLOWER — an InMemoryRelation wrapping an
    * AdaptiveSparkPlan does not expose its hash partitioning to
    * consumers at planning time, so they re-exchange anyway and the
    * build pays an extra shuffle. Measurement in OPTIMIZATION_r18.md.) */
  def positionalShingles(docs: DataFrame, k: Int): DataFrame =
    positionCache.getOrElseUpdate(
      (docs.queryExecution.analyzed.canonicalized, k))(
      positionalShinglesUncached(docs, k).cache())

  private def positionalShinglesUncached(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.where($"text".isNotNull)
      .select($"doc_id", split(lower($"text"), " ").as("__toks"))
      .select(
        $"doc_id",
        posexplode(transform(
          sequence(lit(0), greatest(size($"__toks") - k, lit(0))),
          i => concat_ws(" ", slice($"__toks", i + 1, lit(k)))))
          .as(Seq("pos", "sh")))
      .where(size(split($"sh", " ")) === k)
  }

  /** Per-document duplicated-span coverage for `k`-token shingles that
    * occur at least `minCount` times corpus-wide (within-doc repeats
    * count — a span pasted twice into one page is still duplication).
    *
    * Output: (doc_id, n_tokens, covered_tokens) where covered_tokens is
    * the size of the union of all duplicated spans [pos, pos+k-1] —
    * overlapping spans are NOT double-counted (interval union via a
    * running-max window, not a naive sum).
    *
    * Scale shape: one scan exploding positions, one shuffle counting
    * shingles (partial agg), one equi-join back on the shingle, one
    * per-doc window + agg. Nothing is all-pairs and no driver state;
    * the join's build side (duplicated shingles) is bounded by
    * total_shingles / minCount, so AQE can still broadcast it when the
    * corpus is small. Integer-only arithmetic → exact DuckDB oracle.
    */
  def dupSpanCoverageOf(docs: DataFrame, k: Int, minCount: Int = 2): DataFrame = {
    require(k > 0, s"shingle size must be positive, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val spark = docs.sparkSession
    import spark.implicits._

    val base = docs.where($"text".isNotNull)
      .select($"doc_id", split(lower($"text"), " ").as("__toks"))
    val positions = positionalShingles(docs, k)

    val dups = positions.groupBy($"sh")
      .agg(count(lit(1)).as("__n"))
      .where($"__n" >= minCount)
      .select($"sh")

    // spans sorted by start within each doc; a span's fresh contribution
    // is the part past the running max end of everything before it.
    val prevW = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val start = $"pos".cast("long")
    val end = start + (k - 1)
    val covered = positions.join(dups, "sh")
      .withColumn("__prev_end", max(end).over(prevW))
      .select($"doc_id",
        greatest(lit(0L),
          end - greatest(start, coalesce($"__prev_end" + 1, start)) + 1)
          .as("__c"))
      .groupBy($"doc_id").agg(sum($"__c").as("covered_tokens"))

    base.select($"doc_id", size($"__toks").cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"covered_tokens", lit(0L)).as("covered_tokens"))
      .orderBy($"doc_id")
  }

  def dupSpanCoverage(spark: SparkSession, d: String, k: Int = 5,
      minCount: Int = 2): DataFrame =
    dupSpanCoverageOf(Tables.documents(spark, d), k, minCount)

  /** DuckDB oracle: identical interval-union algebra over the same
    * shingle positions (1-based slice, so pos = i - 1). */
  def dupSpanCoverageSql(k: Int, minCount: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |  WHERE text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+${k - 1}], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - ${k - 1})) AS g(i)
       |), dups AS (
       |  SELECT sh FROM sh GROUP BY sh HAVING count(*) >= $minCount
       |), spans AS (
       |  SELECT s.doc_id, s.pos, s.pos + ${k - 1} AS e
       |  FROM sh s JOIN dups USING (sh)
       |), uni AS (
       |  SELECT doc_id, pos, e,
       |         max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
       |  FROM spans
       |), cov AS (
       |  SELECT doc_id,
       |         CAST(sum(greatest(0, e - greatest(pos, coalesce(prev_e + 1, pos)) + 1))
       |              AS BIGINT) AS covered_tokens
       |  FROM uni GROUP BY 1
       |)
       |SELECT d.doc_id, len(string_split(lower(d.text), ' ')) AS n_tokens,
       |       coalesce(cov.covered_tokens, 0) AS covered_tokens
       |FROM documents d LEFT JOIN cov USING (doc_id)
       |WHERE d.text IS NOT NULL
       |ORDER BY doc_id""".stripMargin

  /** Within-document segment dedup: cut each document into consecutive
    * `segTokens`-token chunks (last one partial) and keep only the first
    * occurrence of each distinct chunk, preserving order. Unlike
    * corpus-level [[Dedup.dedupSegments]] this never leaves the row:
    * `array_distinct` is documented to keep first occurrences in input
    * order, so the whole pass is a scan-side projection — zero shuffles,
    * whole-stage codegen, embarrassingly parallel at any corpus size.
    *
    * Output: (doc_id, n_segments, n_kept, clean_text) for every
    * non-empty document.
    */
  def dedupSegmentsIntraDocOf(docs: DataFrame, segTokens: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.where($"text".isNotNull)
      .withColumn("__toks", split(lower($"text"), " "))
      .where(size($"__toks") > 0)
      .select($"doc_id", expr(
        s"""transform(sequence(0, cast(ceil(size(__toks) / ${segTokens}d) as int) - 1),
           |  i -> array_join(slice(__toks, i * $segTokens + 1, $segTokens), ' '))""".stripMargin)
        .as("__segs"))
      .select($"doc_id", size($"__segs").cast("long").as("n_segments"),
        array_distinct($"__segs").as("__kept"))
      .select($"doc_id", $"n_segments",
        size($"__kept").cast("long").as("n_kept"),
        array_join($"__kept", " ").as("clean_text"))
  }

  def dedupSegmentsIntraDoc(spark: SparkSession, d: String,
      segTokens: Int = 2): DataFrame = {
    import spark.implicits._
    dedupSegmentsIntraDocOf(Tables.documents(spark, d), segTokens)
      .orderBy($"doc_id")
  }

  /** DuckDB oracle: explicit first-occurrence-wins (min seg_idx per
    * (doc, seg), reassemble ordered by it) — the set-semantics spelling
    * of `array_distinct`. */
  def dedupSegmentsIntraDocSql(segTokens: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |  WHERE text IS NOT NULL AND len(string_split(lower(text), ' ')) > 0
       |), segs AS (
       |  SELECT doc_id, i AS seg_idx,
       |         array_to_string(t[(i*$segTokens+1):((i+1)*$segTokens)], ' ') AS seg
       |  FROM toks,
       |       unnest(generate_series(0, CAST(ceil(len(t) / $segTokens.0) AS BIGINT) - 1)) AS g(i)
       |), firsts AS (
       |  SELECT doc_id, seg, min(seg_idx) AS k FROM segs GROUP BY 1, 2
       |), tot AS (
       |  SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY 1
       |)
       |SELECT f.doc_id, t.n_segments, count(*) AS n_kept,
       |       string_agg(f.seg, ' ' ORDER BY f.k) AS clean_text
       |FROM firsts f JOIN tot t USING (doc_id)
       |GROUP BY 1, 2
       |ORDER BY doc_id""".stripMargin

  /** Cross-document span ATTRIBUTION — the complement of
    * [[dupSpanCoverage]] (which says only HOW MUCH of a doc is
    * duplicated): the maximal shared token runs between document
    * pairs, with positions in both documents. This is what a dedup
    * reviewer reads to decide whether a shared span is boilerplate, a
    * quote, or a wholesale copy.
    *
    * Algorithm: shingle-position matches between two documents lie on
    * anti-diagonals (pos_a − pos_b constant); a maximal shared run of
    * r shingles is r CONSECUTIVE pos_a values on one diagonal, found
    * with the classic islands trick (pos_a − row_number is constant
    * within a run) — no suffix array, no per-pair alignment. A run of
    * r shingles spans r + k − 1 tokens.
    *
    * Scale: matches come from the shingle equi-join, bounded by
    * pruning shingles with corpus df > `maxDf` (boilerplate handled by
    * [[Dedup.removeBoilerplate]]; same predicate in the oracle, so
    * results stay exact). The run detection is one window per
    * (pair, diagonal) — partitions are tiny by construction. */
  def spanPairsOf(docs: DataFrame, k: Int, minRunTokens: Int,
      maxDf: Int = 50, topK: Int = 50): DataFrame = {
    require(k > 0 && minRunTokens >= k,
      s"need k > 0 and minRunTokens >= k, got $k/$minRunTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val positions = positionalShingles(docs, k)
    // r18 REWRITE of the match generation (guide §2.4 / §3). The old
    // shape computed the df prune as a separate count/countDistinct
    // aggregate (Expand-doubled), joined it back into positions, and
    // SELF-JOINED that frame — Catalyst planned the two self-join
    // sides as two full copies of the positions⋈shared lineage (no
    // exchange reuse across the alias asymmetry; StageProfile showed
    // the duplicated 1-task scan+shuffle stage pair). Since EVERY step
    // keys on `sh` and the cached positions frame is now partitioned
    // by `sh`, the whole thing collapses into one zero-exchange pass:
    //  - df count and the ≥2-distinct-docs test as WINDOWS over sh
    //    (nd >= 2 ⟺ min(doc_id) ≠ max(doc_id) — exact, no Expand);
    //  - the cross-doc matches from a per-shingle collect_list +
    //    typed flatMap emitting each unordered cross-doc pair once
    //    (doc_a < doc_b) — row-local, bounded by the same maxDf ≤ 50
    //    prune that bounded the join (≤ C(50,2) pairs per shingle, so
    //    no skew exposure), identical pair multiset by construction.
    val shW = Window.partitionBy($"sh")
    val pruned = positions
      .withColumn("__n", count(lit(1)).over(shW))
      .withColumn("__mn", min($"doc_id").over(shW))
      .withColumn("__mx", max($"doc_id").over(shW))
      .where($"__n" <= maxDf && $"__mn" =!= $"__mx")
    val matches = pruned.groupBy($"sh")
      .agg(collect_list(struct($"doc_id", $"pos")).as("es"))
      .select($"es").as[Array[(Long, Int)]]
      .flatMap { es =>
        val n = es.length
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Int)]
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val (da, pa) = es(i); val (db, pb) = es(j)
            if (da < db) out += ((da, pa, db, pb))
            else if (db < da) out += ((db, pb, da, pa))
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("doc_a", "pos_a", "doc_b", "pos_b")
    val diag = ($"pos_a" - $"pos_b").as("__diag")
    val w = Window.partitionBy($"doc_a", $"doc_b", $"__diag").orderBy($"pos_a")
    matches.withColumn("__diag", diag)
      .withColumn("__isl", $"pos_a" - row_number().over(w))
      .groupBy($"doc_a", $"doc_b", $"__diag", $"__isl")
      .agg(count(lit(1)).as("__r"),
        min($"pos_a").as("start_a"), min($"pos_b").as("start_b"))
      .withColumn("n_tokens", $"__r" + (k - 1))
      .where($"n_tokens" >= minRunTokens)
      .select($"doc_a", $"doc_b", $"start_a", $"start_b", $"n_tokens")
      .orderBy($"n_tokens".desc, $"doc_a".asc, $"doc_b".asc,
        $"start_a".asc, $"start_b".asc)
      .limit(topK)
  }

  def q121SpanPairs(spark: SparkSession, d: String): DataFrame =
    spanPairsOf(Tables.documents(spark, d), k = 5, minRunTokens = 8)

  val q121Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL
      |), sh AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS sh
      |  FROM toks, unnest(generate_series(1, len(t) - 4)) AS g(i)
      |), shared AS (
      |  SELECT sh FROM sh GROUP BY sh
      |  HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= 50
      |), m AS (
      |  SELECT a.doc_id AS doc_a, a.pos AS pos_a,
      |         b.doc_id AS doc_b, b.pos AS pos_b
      |  FROM (SELECT s.* FROM sh s JOIN shared USING (sh)) a
      |  JOIN (SELECT s.* FROM sh s JOIN shared USING (sh)) b
      |    ON a.sh = b.sh AND a.doc_id < b.doc_id
      |), runs AS (
      |  SELECT doc_a, doc_b, pos_a - pos_b AS diag,
      |         pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
      |                                    ORDER BY pos_a) AS isl,
      |         pos_a, pos_b
      |  FROM m
      |)
      |SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
      |       count(*) + 4 AS n_tokens
      |FROM runs GROUP BY doc_a, doc_b, diag, isl
      |HAVING count(*) + 4 >= 8
      |ORDER BY n_tokens DESC, doc_a ASC, doc_b ASC, start_a ASC, start_b ASC
      |LIMIT 50""".stripMargin
}
