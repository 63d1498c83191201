package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-statistics language-model scoring — the CCNet/DSIR-shaped
  * quality signals of a pretraining curation pipeline, re-expressed in
  * the repo's exact-integer oracle discipline (every aggregate is a
  * BIGINT; doubles appear only in ONE final IEEE division per row, so
  * Spark and DuckDB hash bit-identically — the BM25/bigram-lift rule;
  * `ln`-based perplexity is deliberately avoided: libm `ln` is not
  * correctly rounded and differs across engines).
  *
  * Reference scope: the reference (justtrackio/lakehouse-admin) has no
  * LM scoring — these extend the engine for LLM-training curation, per
  * the build brief.
  */
object LmScore {

  // ---------------------------------------------------------------- q149

  /** q149: LM FLUENCY — a Stupid-Backoff-flavored fluency score from
    * leave-one-out corpus n-gram statistics. For every adjacent token
    * pair (w1,w2) of a document:
    *
    *   - 5 points if the bigram "w1 w2" occurs in some OTHER document
    *     (corpus count minus this document's own count > 0 — the
    *     leave-one-out guard, so a phrase repeated only inside one
    *     spammy page doesn't certify itself), else
    *   - 2 points if the continuation token w2 occurs in another
    *     document (unigram backoff), else
    *   - 0 (out-of-distribution continuation).
    *
    * fluency = score_sum / (5 · n_bigrams) ∈ [0,1]; NULL for docs with
    * fewer than two tokens (0/0 — the cross-engine NaN rule). This is
    * the rank signal a CCNet-style perplexity filter produces (low =
    * unnatural/garbled vs the corpus LM), with integer-exact scoring in
    * place of a log-prob sum: points are integers, so the per-doc
    * aggregation is exact regardless of Spark's partial-agg order,
    * where a Σlog(p) would be order-sensitive in the last ulps.
    *
    * Scale shape: one tokenize pass → per-doc bigram/unigram count
    * tables (map-side partial aggs); corpus tables are groupBys OF the
    * per-doc counts (vocabulary-bounded, ≪ corpus); the two joins are
    * vocabulary-keyed equi-joins AQE broadcasts at real scale. Nothing
    * is all-pairs; nothing collects. At 100 TB the corpus count tables
    * are exactly a tokenizer-training side artifact — build once,
    * reuse across scoring runs.
    */
  def q149LmFluency(spark: SparkSession, d: String): DataFrame =
    fluencyOf(Tables.documents(spark, d))

  // The per-doc n-gram count tables are the LM-scoring family's derived
  // index: q149 (fluency) and q150 (target affinity) both consume the
  // SAME bigram counts, and each query's corpus tables are aggregates
  // OF them — without materialization every consumer re-runs the
  // tokenize flatMap over the corpus (a plan audit found q149 scanning
  // documents 5x, q150 6x; tokenization is the dominant 100 TB cost).
  // Bounded LRU with unpersist-on-evict, same discipline as the
  // shingle/bigram-lift indexes; PlanCache.clearAll covers teardown.
  private val docBgCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "docBgCache")
  private val docTokCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "docTokCache")

  /** Materialized (doc_id, bigram, w2, c_doc) — one tokenize pass per
    * corpus per session. (bigram determines w2, so q150's
    * (doc_id, bigram) grouping reads this same table.) */
  def docBigrams(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docBgCache.getOrElseUpdate(docs.queryExecution.analyzed.canonicalized) {
      // Typed flatMap over primitive string ops — the
      // topBigrams/docShingles trade: ~5x over the interpreted
      // higher-order expression path.
      val df = docs.select($"doc_id", $"text").where($"text".isNotNull)
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.functions.TextFunctions.jvmTokens(t).sliding(2).withFilter(_.length == 2)
            .map(g => (id, g.mkString(" "), g(1)))
        }
        .toDF("doc_id", "bigram", "w2")
        .groupBy($"doc_id", $"bigram", $"w2").agg(count(lit(1)).as("c_doc"))
        .cache()
      df.count()
      df
    }
  }

  /** Materialized per-doc unigram counts (q149's backoff guard). */
  def docTokens(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docTokCache.getOrElseUpdate(docs.queryExecution.analyzed.canonicalized) {
      val df = docs.select($"doc_id", $"text").where($"text".isNotNull)
        .as[(Long, String)]
        .flatMap { case (id, t) => graft.functions.TextFunctions.jvmTokens(t).iterator.map((id, _)) }
        .toDF("doc_id", "tok")
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("u_doc"))
        .cache()
      df.count()
      df
    }
  }

  def fluencyOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select($"doc_id", $"text")
    val docBg = docBigrams(docs)
    val docTok = docTokens(docs)
    // Corpus tables: aggregates OF the per-doc counts — vocabulary-
    // bounded, so the joins below broadcast under AQE at scale.
    val corpBg = docBg.groupBy($"bigram").agg(sum($"c_doc").as("c_corp"))
    val corpTok = docTok.groupBy($"tok").agg(sum($"u_doc").as("u_corp"))
    val scored = docBg
      .join(corpBg, "bigram")
      .join(docTok.withColumnRenamed("tok", "w2"), Seq("doc_id", "w2"))
      .join(corpTok.withColumnRenamed("tok", "w2"), Seq("w2"))
      .select($"doc_id", $"c_doc",
        (when($"c_corp" - $"c_doc" > 0, lit(5L))
          .when($"u_corp" - $"u_doc" > 0, lit(2L))
          .otherwise(lit(0L)) * $"c_doc").as("pts"))
      .groupBy($"doc_id")
      .agg(sum($"c_doc").as("n_bigrams"), sum($"pts").as("score_sum"))
    withFluencyTail(base.select($"doc_id"), scored)
  }

  /** Shared finish: LEFT JOIN from the document set (zero/one-token
    * docs must appear with n_bigrams=0 and NULL fluency, not silently
    * vanish — the oracle gotcha the word-unnest SQL path shares), then
    * the one IEEE division. */
  private def withFluencyTail(spine: DataFrame, scored: DataFrame): DataFrame = {
    val spark = spine.sparkSession
    import spark.implicits._
    spine.join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"score_sum", lit(0L)).as("score_sum"))
      .withColumn("fluency",
        when($"n_bigrams" === 0, lit(null).cast("double"))
          .otherwise($"score_sum".cast("double") / ($"n_bigrams" * 5L).cast("double")))
      .orderBy($"doc_id")
  }

  /** Fluency of (possibly brand-new) documents against the STANDING
    * corpus statistics in a [[CorpusStatsStore]] — the production shape
    * of q149: a micro-batch scores against a 100 TB corpus's LM by
    * reading one vocabulary-sized count table; the corpus itself is
    * never re-scanned. Differences from the in-session [[fluencyOf]],
    * both deliberate:
    *
    *   - No leave-one-out subtraction: the scored docs are NOT part of
    *     the standing corpus, so there is nothing to leave out (and a
    *     doc already ingested simply sees its own counts as corpus
    *     evidence, the standing-state contract).
    *   - The unigram backoff uses the CONTINUATION count derived from
    *     the same bigram table (Σ counts of bigrams ending in w2 — the
    *     Kneser-Ney continuation idea): the store keeps ONE table, and
    *     "seen as a continuation" is the right backoff evidence for
    *     fluency anyway.
    *
    * Incremental contract: scoring against `build(A)` then `update(B)`
    * equals scoring against `build(A ∪ B)` — pinned in LmScoreSpec,
    * same discipline as CorpusStatsStoreSpec's incremental==rebuild. */
  def fluencyAgainst(docs: DataFrame, storeDir: String): DataFrame =
    fluencyAgainstCounts(docs,
      CorpusStatsStore.counts(docs.sparkSession, storeDir), docBigrams(docs))

  private def fluencyAgainstCounts(docs: DataFrame, corp: DataFrame,
      docBg: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cont = corp
      .select(substring_index($"bigram", " ", -1).as("w2"), $"n")
      .groupBy($"w2").agg(sum($"n").as("n_cont"))
    val scored = docBg
      .join(corp.withColumnRenamed("n", "c_corp"), Seq("bigram"), "left")
      .join(cont, Seq("w2"), "left")
      .select($"doc_id", $"c_doc",
        (when($"c_corp" > 0, lit(5L))        // null > 0 is null → falls through
          .when($"n_cont" > 0, lit(2L))
          .otherwise(lit(0L)) * $"c_doc").as("pts"))
      .groupBy($"doc_id")
      .agg(sum($"c_doc").as("n_bigrams"), sum($"pts").as("score_sum"))
    withFluencyTail(docs.select($"doc_id"), scored)
  }

  /** q149's oracle: the identical leave-one-out scoring as chained
    * CTEs. Every aggregate is CAST BIGINT (HUGEINT-promotion rule);
    * the single division mirrors the engine's. */
  val q149Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL
      |), doc_bg AS (
      |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram,
      |         t[i+1] AS w2, CAST(count(*) AS BIGINT) AS c_doc
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      |  GROUP BY 1, 2, 3
      |), doc_tok AS (
      |  SELECT doc_id, x.tok, CAST(count(*) AS BIGINT) AS u_doc
      |  FROM toks, unnest(t) AS x(tok) GROUP BY 1, 2
      |), corp_bg AS (
      |  SELECT bigram, CAST(sum(c_doc) AS BIGINT) AS c_corp
      |  FROM doc_bg GROUP BY 1
      |), corp_tok AS (
      |  SELECT tok, CAST(sum(u_doc) AS BIGINT) AS u_corp
      |  FROM doc_tok GROUP BY 1
      |), scored AS (
      |  SELECT b.doc_id,
      |         CAST(sum(b.c_doc) AS BIGINT) AS n_bigrams,
      |         CAST(sum(CASE WHEN cb.c_corp - b.c_doc > 0 THEN 5
      |                       WHEN ct.u_corp - dt.u_doc > 0 THEN 2
      |                       ELSE 0 END * b.c_doc) AS BIGINT) AS score_sum
      |  FROM doc_bg b
      |  JOIN corp_bg cb USING (bigram)
      |  JOIN doc_tok dt ON dt.doc_id = b.doc_id AND dt.tok = b.w2
      |  JOIN corp_tok ct ON ct.tok = b.w2
      |  GROUP BY 1
      |)
      |SELECT d.doc_id,
      |       coalesce(s.n_bigrams, 0) AS n_bigrams,
      |       coalesce(s.score_sum, 0) AS score_sum,
      |       CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN NULL
      |            ELSE CAST(s.score_sum AS DOUBLE) / CAST(s.n_bigrams * 5 AS DOUBLE)
      |       END AS fluency
      |FROM documents d LEFT JOIN scored s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q150

  /** q150: TARGET AFFINITY — DSIR-shaped importance weighting (Xie et
    * al. 2023: importance resampling with hashed n-gram features).
    * A designated high-quality TARGET slice (here `source = 'src0'`,
    * standing in for "wiki+books") and the remaining RAW slice each
    * induce add-one-smoothed bigram distributions; every document is
    * scored by how much more its bigrams look target-like than
    * raw-like:
    *
    *   affinity(doc) = [Σ_f c_f·(t_f+1)] · (R+B)  /  [Σ_f c_f·(r_f+1)] · (T+B)
    *
    * with c_f the doc's occurrence count of bigram f, t_f/r_f the
    * slice totals, T/R the slice occurrence grand totals and B the
    * distinct-bigram vocabulary (the smoothing mass). This is DSIR's
    * p_target(f)/p_raw(f) ratio applied to the doc's expected feature
    * probability — linearized instead of log-sum-exp so the score is a
    * ratio of exact BIGINT sums folded into ONE IEEE division
    * (bit-parity across engines; DSIR's Πf ratios^c_f needs log-space
    * and libm `ln` is not cross-engine stable). Ranking semantics
    * match: target-typical docs score > 1, off-distribution docs < 1.
    *
    * Features are raw bigrams here (vocabulary² is test-SF small); at
    * 100 TB DSIR hashes features into 2^20 buckets — one pmod(hash())
    * on the feature key, which only SHRINKS the count tables; the join
    * shape below is unchanged.
    *
    * Scale shape: per-doc bigram counts (map-side partial agg), slice
    * count tables are vocabulary-bounded aggregates joined
    * vocabulary-keyed (AQE-broadcastable), grand totals are one
    * broadcast 1-row frame. Docs with no bigrams surface with NULL
    * affinity (0/0 rule) via the LEFT JOIN from the document set.
    */
  def q150TargetAffinity(spark: SparkSession, d: String): DataFrame =
    targetAffinityOf(Tables.documents(spark, d), col("source") === "src0")

  def targetAffinityOf(docs: DataFrame, isTarget: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Coalesce the predicate to false BEFORE slicing: under three-valued
    // logic a NULL `source` makes both when($"is_target",…) and
    // when(!$"is_target",…) fall to their otherwise-branch, so NULL-source
    // docs' bigrams would count in NEITHER slice — while the oracle's
    // CASE … ELSE c_f counts them in the raw slice. NULL-target ≡ raw.
    val base = docs.select($"doc_id", $"source",
      coalesce(isTarget, lit(false)).as("is_target"))
    // Shared materialized bigram counts (bigram determines w2, so the
    // (doc_id, bigram, w2) grain IS the (doc_id, bigram) grain).
    val docBg = docBigrams(docs)
      .select($"doc_id", $"bigram", $"c_doc".as("c_f"))
    // Slice count tables: aggregates of the per-doc counts, keyed by
    // the bigram vocabulary.
    val sliced = docBg.join(base.select($"doc_id", $"is_target"), "doc_id")
    val feat = sliced.groupBy($"bigram").agg(
      sum(when($"is_target", $"c_f").otherwise(0L)).as("t_f"),
      sum(when(!$"is_target", $"c_f").otherwise(0L)).as("r_f"))
    val totals = feat.agg(
      sum($"t_f").as("t_total"), sum($"r_f").as("r_total"),
      count(lit(1)).as("n_vocab"))
    val perDoc = docBg
      .join(feat, "bigram")
      .groupBy($"doc_id")
      .agg(sum($"c_f").as("n_bigrams"),
        sum($"c_f" * ($"t_f" + 1L)).as("num"),
        sum($"c_f" * ($"r_f" + 1L)).as("den"))
    base.select($"doc_id", $"source").join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(totals))
      .select($"doc_id", $"source",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"num", lit(0L)).as("num"),
        coalesce($"den", lit(0L)).as("den"),
        when(coalesce($"den", lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(($"num" * ($"r_total" + $"n_vocab")).cast("double") /
            (($"den" * ($"t_total" + $"n_vocab")).cast("double"))).as("affinity"))
      .orderBy($"doc_id")
  }

  /** Target affinity of (possibly brand-new) documents against STANDING
    * slice statistics — two [[CorpusStatsStore]]s, one built over the
    * target slice (wiki+books-like) and one over the raw slice. The
    * production DSIR shape: the reference distributions are side
    * artifacts maintained by `build`/`update`, and scoring a batch
    * reads two vocabulary-sized tables — never the corpora. Math is
    * identical to [[targetAffinityOf]] (union vocabulary via a
    * full-outer join of the two count tables, add-one smoothing, one
    * IEEE division); scoring the original corpus against stores built
    * from its own slices is spec-pinned EQUAL to the in-session q150.
    */
  def affinityAgainst(docs: DataFrame, targetStoreDir: String,
      rawStoreDir: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feat = CorpusStatsStore.counts(spark, targetStoreDir)
      .withColumnRenamed("n", "t_raw")
      .join(CorpusStatsStore.counts(spark, rawStoreDir)
        .withColumnRenamed("n", "r_raw"), Seq("bigram"), "full_outer")
      .select($"bigram", coalesce($"t_raw", lit(0L)).as("t_f"),
        coalesce($"r_raw", lit(0L)).as("r_f"))
    val totals = feat.agg(
      sum($"t_f").as("t_total"), sum($"r_f").as("r_total"),
      count(lit(1)).as("n_vocab"))
    val perDoc = docBigrams(docs)
      .select($"doc_id", $"bigram", $"c_doc".as("c_f"))
      .join(feat, "bigram") // out-of-vocabulary bigrams drop, as in-session
      .groupBy($"doc_id")
      .agg(sum($"c_f").as("n_bigrams"),
        sum($"c_f" * ($"t_f" + 1L)).as("num"),
        sum($"c_f" * ($"r_f" + 1L)).as("den"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(totals))
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"num", lit(0L)).as("num"),
        coalesce($"den", lit(0L)).as("den"),
        when(coalesce($"den", lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(($"num" * ($"r_total" + $"n_vocab")).cast("double") /
            (($"den" * ($"t_total" + $"n_vocab")).cast("double"))).as("affinity"))
      .orderBy($"doc_id")
  }

  /** q150's oracle: identical slice counting and the same single
    * division; every integer CAST BIGINT before it leaves a CTE. */
  val q150Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL
      |), doc_bg AS (
      |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram,
      |         CAST(count(*) AS BIGINT) AS c_f
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      |  GROUP BY 1, 2
      |), feat AS (
      |  SELECT bigram,
      |         CAST(sum(CASE WHEN d.source = 'src0' THEN b.c_f ELSE 0 END) AS BIGINT) AS t_f,
      |         CAST(sum(CASE WHEN d.source = 'src0' THEN 0 ELSE b.c_f END) AS BIGINT) AS r_f
      |  FROM doc_bg b JOIN documents d USING (doc_id)
      |  GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(t_f) AS BIGINT) AS t_total,
      |         CAST(sum(r_f) AS BIGINT) AS r_total,
      |         CAST(count(*) AS BIGINT) AS n_vocab
      |  FROM feat
      |), per_doc AS (
      |  SELECT doc_id,
      |         CAST(sum(c_f) AS BIGINT) AS n_bigrams,
      |         CAST(sum(c_f * (t_f + 1)) AS BIGINT) AS num,
      |         CAST(sum(c_f * (r_f + 1)) AS BIGINT) AS den
      |  FROM doc_bg JOIN feat USING (bigram)
      |  GROUP BY 1
      |)
      |SELECT d.doc_id, d.source,
      |       coalesce(p.n_bigrams, 0) AS n_bigrams,
      |       coalesce(p.num, 0) AS num,
      |       coalesce(p.den, 0) AS den,
      |       CASE WHEN coalesce(p.den, 0) = 0 THEN NULL
      |            ELSE CAST(p.num * (t.r_total + t.n_vocab) AS DOUBLE) /
      |                 CAST(p.den * (t.t_total + t.n_vocab) AS DOUBLE)
      |       END AS affinity
      |FROM documents d LEFT JOIN per_doc p USING (doc_id) CROSS JOIN tot t
      |ORDER BY d.doc_id""".stripMargin
}
