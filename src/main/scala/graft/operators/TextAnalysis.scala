package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis operators: token statistics, quality scoring,
  * language-ID heuristic, document fingerprinting. All single-pass
  * column expressions / one hash-aggregate — the 100 TB plan is scan →
  * project → (optional) agg with no shuffle beyond the final groupBy.
  */
object TextAnalysis {

  /** Per-language corpus statistics: doc counts, token counts (whitespace
    * + BPE-ish estimate), char stats. */
  def tokenStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("n_tokens", size(tokens($"text")))
      .withColumn("n_bpe", approxBpeTokenCount($"text"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"n_bpe").as("total_bpe_tokens"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"lang")
  }

  val tokenStatsSql: String =
    """WITH t AS (
      |  SELECT lang, n_chars, string_split(lower(text), ' ') AS toks FROM documents
      |), s AS (
      |  SELECT lang, n_chars, len(toks) AS n_tokens,
      |         (SELECT sum(CAST(ceil(len(x.t) / 4.0) AS INT)) FROM unnest(toks) AS x(t)) AS n_bpe
      |  FROM t
      |)
      |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens, min(n_tokens) AS min_tokens,
      |       max(n_tokens) AS max_tokens, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** q51: intra-document repetition metrics (the Gopher-rule family —
    * repetitious documents are low-quality training data): duplicate
    * word-3-gram share and the most-frequent-token share, per document.
    * One pass: shingle counts reuse the materialized dedup index
    * ([[Dedup.docShingles]] is DISTINCT pairs, so dup share falls out of
    * total − distinct); the top-token share is one explode + two
    * aggregates. All ratios are int/int double divisions — bit-identical
    * across engines, so fully oracle-checkable. */
  def repetitionMetrics(spark: SparkSession, d: String): DataFrame =
    repetitionMetricsOf(Tables.documents(spark, d))

  def repetitionMetricsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .withColumn("n_tokens", size(tokens($"text")).cast("long"))
      .select($"doc_id", $"n_tokens")
    val distinct3 = Dedup.docShingles(docs)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_distinct_3gram"))
    val topTok = docs
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_tok_count"))
    base
      // left join + 0 default: docs under 3 tokens have no shingles and
      // would vanish from the report through an inner join — they must
      // appear with dup_3gram_share = 0, not be silently dropped.
      .join(distinct3, Seq("doc_id"), "left")
      .withColumn("n_distinct_3gram", coalesce($"n_distinct_3gram", lit(0L)))
      .join(topTok, Seq("doc_id"))
      .withColumn("n_3gram", greatest($"n_tokens" - 2, lit(0L)))
      .withColumn("dup_3gram_share",
        when($"n_3gram" > 0,
          ($"n_3gram" - $"n_distinct_3gram").cast("double") / $"n_3gram")
          .otherwise(lit(0.0)))
      .withColumn("top_tok_share", $"top_tok_count".cast("double") / $"n_tokens")
      .select($"doc_id", $"n_tokens", $"n_3gram", $"n_distinct_3gram",
        $"dup_3gram_share", $"top_tok_count", $"top_tok_share")
      .orderBy($"doc_id")
  }

  val repetitionMetricsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), base AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      |), d3 AS (
      |  SELECT doc_id, count(*) AS n_distinct_3gram FROM sh GROUP BY 1
      |), tt AS (
      |  SELECT doc_id, max(c) AS top_tok_count FROM (
      |    SELECT doc_id, x.tok, count(*) AS c
      |    FROM toks, unnest(t) AS x(tok) GROUP BY doc_id, x.tok)
      |  GROUP BY 1
      |)
      |SELECT b.doc_id, b.n_tokens,
      |       greatest(b.n_tokens - 2, 0) AS n_3gram,
      |       coalesce(d3.n_distinct_3gram, 0) AS n_distinct_3gram,
      |       CASE WHEN b.n_tokens > 2 THEN
      |         CAST(greatest(b.n_tokens - 2, 0) - coalesce(d3.n_distinct_3gram, 0) AS DOUBLE)
      |           / greatest(b.n_tokens - 2, 0)
      |       ELSE 0.0 END AS dup_3gram_share,
      |       tt.top_tok_count,
      |       CAST(tt.top_tok_count AS DOUBLE) / b.n_tokens AS top_tok_share
      |FROM base b LEFT JOIN d3 ON b.doc_id = d3.doc_id JOIN tt ON b.doc_id = tt.doc_id
      |ORDER BY b.doc_id""".stripMargin

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Per-document quality scoring: length bounds, stopword ratio,
    * mean word length — flag documents a training pipeline would keep.
    * Ratios are int/int double divisions (bit-identical across engines). */
  def qualityScore(spark: SparkSession, d: String): DataFrame =
    qualityScoreOf(Tables.documents(spark, d))

  def qualityScoreOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = tokens($"text")
    docs
      .withColumn("n_tokens", size(toks))
      .withColumn("stop_count", tokenMatchCount(toks, stopwords))
      .withColumn("stop_ratio", $"stop_count".cast("double") / $"n_tokens")
      .withColumn("mean_word_len",
        ($"n_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens")
      .withColumn("keep",
        $"n_tokens".between(20, 1000) && $"stop_ratio" < 0.3 && $"mean_word_len" < 12.0)
      .select($"doc_id", $"lang", $"n_tokens", $"stop_count", $"stop_ratio",
        $"mean_word_len", $"keep")
      .orderBy($"doc_id")
  }

  val qualityScoreSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, n_chars, string_split(lower(text), ' ') AS toks
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, lang, len(toks) AS n_tokens,
       |         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS stop_count,
       |         n_chars
       |  FROM t
       |)
       |SELECT doc_id, lang, n_tokens, stop_count,
       |       CAST(stop_count AS DOUBLE) / n_tokens AS stop_ratio,
       |       CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_word_len,
       |       (n_tokens BETWEEN 20 AND 1000
       |        AND CAST(stop_count AS DOUBLE) / n_tokens < 0.3
       |        AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens < 12.0) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  /** Marker lexicons for the n-gram/stopword language-ID heuristic. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "la", "los", "y"))

  /** Language-ID: score each language by marker-token hits; predict the
    * argmax (ties → lexicographically first), 'und' when nothing hits.
    * Evaluated against the stored lang label per language. */
  def langId(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val scored = Tables.documents(spark, d)
      .withColumn("s_en", tokenMatchCount(toks, langMarkers(0)._2))
      .withColumn("s_de", tokenMatchCount(toks, langMarkers(1)._2))
      .withColumn("s_fr", tokenMatchCount(toks, langMarkers(2)._2))
      .withColumn("s_es", tokenMatchCount(toks, langMarkers(3)._2))
    val best = greatest($"s_en", $"s_de", $"s_fr", $"s_es")
    scored
      .withColumn("predicted",
        when(best === 0, "und")
          .when($"s_de" === best, "de")
          .when($"s_en" === best, "en")
          .when($"s_es" === best, "es")
          .otherwise("fr"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted")
  }

  val langIdSql: String =
    """WITH t AS (
      |  SELECT lang, string_split(lower(text), ' ') AS toks FROM documents
      |), s AS (
      |  SELECT lang,
      |         len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
      |         len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS s_de,
      |         len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS s_fr,
      |         len(list_filter(toks, x -> x IN ('el','la','los','y'))) AS s_es
      |  FROM t
      |), p AS (
      |  SELECT lang,
      |         CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
      |              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
      |              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
      |              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
      |              ELSE 'fr' END AS predicted
      |  FROM s
      |)
      |SELECT lang, predicted, count(*) AS n_docs
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q125: CODE-SWITCH / mixed-language detection — run the marker
    * language-ID per fixed-size token segment instead of per document,
    * and count segments whose prediction disagrees with the document's
    * stored language ('und' segments don't count: no markers is absence
    * of evidence, not evidence of another language). Mixed-language
    * documents poison monolingual training mixtures, and a doc-level
    * language ID can't see them — per-segment voting is the standard
    * cheap detector.
    *
    * Entirely row-local (nested higher-order functions over the token
    * array — segment slicing, marker counting, argmax all inside one
    * projection): zero shuffles, the 100 TB cost is exactly one corpus
    * scan. Integer counts only → exact DuckDB oracle. */
  def q125CodeSwitch(spark: SparkSession, d: String,
      segTokens: Int = 20): DataFrame =
    codeSwitchOf(Tables.documents(spark, d), segTokens)

  def codeSwitchOf(docs: DataFrame, segTokens: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = tokens($"text")
    val nSeg = ceil(size(toks) / lit(segTokens.toDouble)).cast("int")
    def pred(seg: Column): Column = {
      val sEn = tokenMatchCount(seg, langMarkers(0)._2)
      val sDe = tokenMatchCount(seg, langMarkers(1)._2)
      val sFr = tokenMatchCount(seg, langMarkers(2)._2)
      val sEs = tokenMatchCount(seg, langMarkers(3)._2)
      val best = greatest(sEn, sDe, sFr, sEs)
      when(best === 0, "und")
        .when(sDe === best, "de")
        .when(sEn === best, "en")
        .when(sEs === best, "es")
        .otherwise("fr")
    }
    val preds = transform(
      sequence(lit(0), greatest(nSeg - 1, lit(0))),
      i => pred(slice(toks, i * segTokens + 1, lit(segTokens))))
    docs
      .where($"text".isNotNull)
      .withColumn("n_segments", nSeg.cast("long"))
      .withColumn("n_foreign",
        size(filter(preds, p => p =!= $"lang" && p =!= "und")).cast("long"))
      .select($"doc_id", $"lang", $"n_segments", $"n_foreign",
        ($"n_foreign" > 0).as("code_switched"))
      .orderBy($"doc_id")
  }

  def q125Sql(segTokens: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
       |  FROM documents WHERE text IS NOT NULL
       |), segs AS (
       |  SELECT doc_id, lang,
       |         greatest(CAST(ceil(len(t) / $segTokens.0) AS BIGINT), 1) AS n_segments,
       |         t[(i*$segTokens+1):((i+1)*$segTokens)] AS seg
       |  FROM toks, unnest(generate_series(0,
       |         greatest(CAST(ceil(len(t) / $segTokens.0) AS BIGINT), 1) - 1)) AS g(i)
       |), p AS (
       |  SELECT doc_id, lang, n_segments,
       |         CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       |              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       |              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
       |              ELSE 'fr' END AS pred
       |  FROM (
       |    SELECT doc_id, lang, n_segments,
       |           len(list_filter(seg, x -> x IN ('the','a','of','and'))) AS s_en,
       |           len(list_filter(seg, x -> x IN ('der','die','das','und'))) AS s_de,
       |           len(list_filter(seg, x -> x IN ('le','la','les','et'))) AS s_fr,
       |           len(list_filter(seg, x -> x IN ('el','la','los','y'))) AS s_es
       |    FROM segs)
       |)
       |SELECT doc_id, lang, n_segments,
       |       CAST(sum(CASE WHEN pred <> lang AND pred <> 'und' THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_foreign,
       |       sum(CASE WHEN pred <> lang AND pred <> 'und' THEN 1 ELSE 0 END) > 0
       |         AS code_switched
       |FROM p GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  /** Corpus vocabulary: the k most frequent tokens overall (count desc,
    * token asc — deterministic at the boundary). Partial-aggregated
    * count + TakeOrdered: the token-count shuffle is bounded by
    * |vocab|, and the top-k never leaves the driver-side limit. */
  def topVocabulary(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok".asc)
      .limit(k)
  }

  /** q53: per-document vocabulary-coverage quality score — the share of
    * a document's tokens that fall in the corpus's top-k vocabulary, a
    * unigram-LM-style fluency proxy whose score is an exact int/int
    * ratio (engine-reproducible, unlike a log-prob sum). The vocabulary
    * is k rows → broadcast join against the exploded corpus. */
  def vocabCoverage(spark: SparkSession, d: String, k: Int = 20): DataFrame =
    vocabCoverageOf(Tables.documents(spark, d), k)

  def vocabCoverageOf(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = topVocabulary(docs, k).select($"tok")
    // null text yields no exploded tokens, so keep totals consistent
    // (the doc is absent from the report, matching the SQL oracle).
    val nonNull = docs.where($"text".isNotNull)
    val toks = nonNull.select($"doc_id", explode(tokens($"text")).as("tok"))
    val totals = nonNull
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
    val hits = toks.join(broadcast(vocab), "tok")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_in_vocab"))
    totals
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_in_vocab", coalesce($"n_in_vocab", lit(0L)))
      .withColumn("coverage", $"n_in_vocab".cast("double") / $"n_tokens")
      .select($"doc_id", $"n_tokens", $"n_in_vocab", $"coverage")
      .orderBy($"doc_id")
  }

  def vocabCoverageSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
       |), vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS c FROM toks GROUP BY 1
       |    ORDER BY c DESC, tok ASC LIMIT $k)
       |), tot AS (
       |  SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1
       |), hits AS (
       |  SELECT doc_id, count(*) AS n_in_vocab
       |  FROM toks JOIN vocab USING (tok) GROUP BY 1
       |)
       |SELECT t.doc_id, t.n_tokens, coalesce(h.n_in_vocab, 0) AS n_in_vocab,
       |       CAST(coalesce(h.n_in_vocab, 0) AS DOUBLE) / t.n_tokens AS coverage
       |FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** q54: top-k tokens per language — corpus token distribution for
    * mixture/quality dashboards. The heavy shuffle is the (lang, tok)
    * count (partial-aggregated); the rank window then runs over
    * |langs| × |vocab| rows only. */
  def topTokensPerLang(spark: SparkSession, d: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n".desc, $"tok".asc)
    Tables.documents(spark, d)
      .select($"lang", explode(tokens($"text")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= k)
      .orderBy($"lang", $"rn")
  }

  def topTokensPerLangSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents
       |), c AS (
       |  SELECT lang, tok, count(*) AS n FROM toks GROUP BY 1, 2
       |), r AS (
       |  SELECT lang, tok, n,
       |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rn
       |  FROM c
       |)
       |SELECT lang, tok, n, rn FROM r WHERE rn <= $k
       |ORDER BY lang, rn""".stripMargin

  /** q60: corpus-wide token bigram counts (top n) — the co-occurrence
    * statistics a tokenizer-training / collocation pass reads.
    * Duplicate bigrams count (occurrence frequency, not document
    * frequency); the heavy shuffle is the (bigram) count with partial
    * aggregation, the top-n is a TakeOrdered. */
  def topBigrams(spark: SparkSession, d: String, n: Int = 20): DataFrame = {
    import spark.implicits._
    // typed flatMap over primitive string ops — the interpreted
    // higher-order shingles() expression is ~5x slower on this path
    // (same trade as Dedup.docShingles).
    Tables.documents(spark, d)
      .where($"text".isNotNull)
      .select($"text").as[String]
      .flatMap(t => jvmTokens(t).sliding(2)
        .withFilter(_.length == 2).map(_.mkString(" ")))
      .toDF("bigram")
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram".asc)
      .limit(n)
  }

  def topBigramsSql(n: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), bg AS (
       |  SELECT array_to_string(t[i:i+1], ' ') AS bigram
       |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
       |)
       |SELECT bigram, count(*) AS n FROM bg
       |GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT $n""".stripMargin

  /** Bigram association by lift — q60 ranks bigrams by raw frequency,
    * which surfaces pairs of individually-frequent words; lift ranks by
    * how much MORE often the pair co-occurs than its parts predict:
    * lift = P(ab) / (P(a·)·P(·b)) over adjacent-pair events, i.e.
    * (c_ab · N) / (c_first(a) · c_second(b)) with N = total bigrams,
    * c_first/c_second = marginal counts of the token in first/second
    * position. All four factors are exact BIGINTs folded into ONE IEEE
    * division, so the double hashes identically in Spark and DuckDB
    * (the BM25 parity discipline); position marginals keep the
    * products ≪ 2^53 where a token-total formulation would overflow
    * exact-double range by sf0.1. At petabyte scale the counts
    * themselves stay BIGINT-exact (N ~ 1e12; products ~1e20 exceed
    * int64 — compute lift in log-space doubles there; the exact
    * integer form is the oracle-parity choice at test SF).
    *
    * Scale shape: one token scan → bigram groupBy; marginals are
    * groupBys OF THE BIGRAM COUNTS (vocabulary-sized, broadcast by
    * AQE); one bounded top-n sort.
    */
  def bigramLift(spark: SparkSession, d: String, n: Int = 20, minCount: Int = 5): DataFrame =
    bigramLiftOf(Tables.documents(spark, d), n, minCount)

  // The bigram count table is read four ways by [[bigramLiftOf]] (the
  // counts themselves, both position marginals, the total); without
  // materialization each read is its own corpus scan + tokenize +
  // bigram shuffle — 4× the I/O of the right plan. The count table is
  // vocabulary-pair-bounded, orders of magnitude below the corpus, so
  // cache it — same bounded-LRU discipline as the dedup shingle index.
  private val bigramCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "bigramCache")

  /** The materialized corpus bigram count table (bigram, tok_a, tok_b,
    * n_ab), shared by [[bigramLiftOf]] and [[bigramFamiliarityOf]]. */
  private def bigramCountsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bigramCache.getOrElseUpdate(docs.queryExecution.analyzed.canonicalized)(
      docs
        .where($"text".isNotNull)
        .select($"text").as[String]
        .flatMap(t => jvmTokens(t).sliding(2)
          .withFilter(_.length == 2).map(g => (g.mkString(" "), g(0), g(1))))
        .toDF("bigram", "tok_a", "tok_b")
        .groupBy($"bigram", $"tok_a", $"tok_b")
        .agg(count(lit(1)).as("n_ab"))
        .cache())
  }

  def bigramLiftOf(docs: DataFrame, n: Int, minCount: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bg = bigramCountsOf(docs)
    val first  = bg.groupBy($"tok_a").agg(sum($"n_ab").as("c_first"))
    val second = bg.groupBy($"tok_b").agg(sum($"n_ab").as("c_second"))
    val total  = bg.agg(sum($"n_ab").as("n_bg"))
    bg.join(first, "tok_a").join(second, "tok_b").crossJoin(broadcast(total))
      .where($"n_ab" >= minCount)
      .select($"bigram", $"n_ab",
        (($"n_ab" * $"n_bg").cast("double") /
          ($"c_first" * $"c_second").cast("double")).as("lift"))
      .orderBy($"lift".desc, $"bigram".asc)
      .limit(n)
  }

  def bigramLiftSql(n: Int, minCount: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |  WHERE text IS NOT NULL
       |), bg AS (
       |  SELECT t[i] AS tok_a, t[i+1] AS tok_b,
       |         array_to_string(t[i:i+1], ' ') AS bigram
       |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
       |), c AS (
       |  SELECT bigram, tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM bg GROUP BY 1, 2, 3
       |), fst AS (
       |  SELECT tok_a, CAST(sum(n_ab) AS BIGINT) AS c_first FROM c GROUP BY 1
       |), snd AS (
       |  SELECT tok_b, CAST(sum(n_ab) AS BIGINT) AS c_second FROM c GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(n_ab) AS BIGINT) AS n_bg FROM c
       |)
       |SELECT bigram, n_ab,
       |       CAST(n_ab * n_bg AS DOUBLE) / CAST(c_first * c_second AS DOUBLE) AS lift
       |FROM c JOIN fst USING (tok_a) JOIN snd USING (tok_b) CROSS JOIN tot
       |WHERE n_ab >= $minCount
       |ORDER BY lift DESC, bigram ASC LIMIT $n""".stripMargin

  /** CCNet-style language-model familiarity score, without the float
    * hazards of a real perplexity: per document, the share of its
    * adjacent-token bigrams that are "familiar" — corpus count at or
    * above the corpus MEAN bigram count. The threshold is corpus-
    * relative (familiar ⇔ n · n_distinct ≥ n_total, evaluated by
    * integer cross-multiplication, no division), so the operator is
    * scale-invariant: growing the corpus 10× doesn't reclassify
    * everything the way a fixed absolute count would. The only float
    * is ONE final int/int division per doc (IEEE division is correctly
    * rounded → bit-identical across engines), and the head/middle/tail
    * bucket cut is on that exact quotient. CCNet buckets by KenLM
    * perplexity; `ln` parity across libm builds is unattainable, so the
    * monotone integer surrogate is the engine-portable formulation
    * (same discipline as BM25's odds-ratio idf in [[Relevance]]).
    *
    * Scale shape: one token scan → bigram counts (one shuffle, partial
    * agg); the familiar set is at most n_total / mean = n_distinct
    * entries but in practice total/threshold-bounded, joined back on
    * the bigram (AQE broadcasts it when small); one per-doc agg.
    * Documents with fewer than two tokens have no bigrams and are
    * excluded (score undefined).
    */
  def bigramFamiliarityOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // corpus counts come from the SAME materialized bigram table as
    // bigramLift — one corpus tokenize+shuffle serves both operators.
    familiarityScore(docs, bigramCountsOf(docs).select($"bigram", $"n_ab".as("n")))
  }

  /** The familiarity scoring kernel: `docs` against an arbitrary bigram
    * count table (recomputed here, or the standing
    * [[CorpusStatsStore]] state — the online path). */
  def familiarityScore(docs: DataFrame, counts: DataFrame): DataFrame =
    familiarityScoreKeyed(docs, counts, identity)

  /** The 100 TB production dial for [[bigramFamiliarityOf]]: FEATURE-
    * HASHED familiarity. The exact form's count table grows with the
    * corpus vocabulary (Heaps' law — the one super-linear component the
    * 10× probe surfaced on q104); hashing every bigram into a fixed
    * `buckets`-slot space (default 2^20) caps the count table, the
    * familiar-set broadcast, and the per-corpus state at a CONSTANT
    * independent of corpus size, at the price of hash collisions
    * slightly inflating some counts. Expected collision fraction is
    * ~vocab/(2·buckets) (birthday bound), so at 2^20 buckets a
    * million-bigram vocabulary mis-merges ≲ a few percent of keys —
    * FamiliarityHashedSpec pins the observed collision rate under
    * vocab/buckets and rank-agreement with the exact scores at test SF.
    * The exact form stays the oracle surface (q104); this is the knob a
    * deployment turns when the vocabulary no longer fits.
    *
    * Shares [[bigramCountsOf]]'s materialized count table (one corpus
    * tokenize+shuffle serves lift, exact familiarity, and this), then
    * re-keys it by bucket — a groupBy over the already-aggregated
    * (bigram, n) table, far cheaper than re-scanning text. xxhash64 is
    * codegen'd, seed-stable, and collision-quality enough for counting. */
  def familiarityHashed(docs: DataFrame, buckets: Int = 1 << 20): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val bucketed = bigramCountsOf(docs)
      .groupBy(pmod(xxhash64($"bigram"), lit(buckets.toLong)).as("bigram"))
      .agg(sum($"n_ab").as("n"))
    // the probe-side key replays pmod(xxhash64(s)) in the JVM:
    // XxHash64Function IS the interpreted body of the xxhash64 column
    // function (same seed 42), so the bucket ids agree bit-for-bit —
    // FamiliarityHashedSpec's rank-agreement assertions would collapse
    // to ~zero familiar hits on any drift
    val b = buckets.toLong
    familiarityScoreKeyed(docs, bucketed, { s: String =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType, 42L)
      java.lang.Long.valueOf(((h % b) + b) % b)
    }, dfKey = c => pmod(xxhash64(c), lit(b)))
  }

  /** Shared scoring kernel: per-document bigrams probe the FAMILIAR SET
    * (corpus count at/above the mean) through `key` — identity for the
    * exact form, a feature-hash bucket for [[familiarityHashed]]. The
    * count table must already be keyed by the same map.
    *
    * PLAN SHAPE: `doc_id` is unique per input row, so the old
    * explode → broadcast-join → re-aggregate-on-doc_id spelling paid a
    * corpus-token-sized Generate, a join probe per token, and a shuffle
    * to reassemble rows that were never apart. This is the map-only
    * form: the familiar set — the exact rows the old plan's broadcast
    * build side already shipped to every executor, vocabulary-bounded
    * at ≤ n_total/mean = n_distinct entries — is collected once and
    * broadcast as a hash set, and each document scores in one pass over
    * its own tokens. No Generate, no join, no aggregation exchange;
    * the only shuffle left is the output sort. (r13→r14: 2.07 s →
    * map-only at sf0.1; the 10× probe scales with the token scan.) */
  /** Driver-memory bound for the map-only spelling's familiar-set
    * collect (≈ tens of MB of strings at the cap). The hashed form is
    * bucket-capped (2^20 < this) and never trips it; the exact form's
    * set is vocabulary-bounded but grows with the corpus (Heaps' law),
    * so past the cap scoring FAILS OVER to the join spelling below —
    * graceful shuffle-join degradation instead of a driver OOM. */
  private[operators] val ExactFamiliarCap = 1 << 21

  private[operators] def familiarityScoreKeyed(docs: DataFrame,
      counts: DataFrame, key: String => Any,
      dfKey: Column => Column = identity,
      cap: Int = ExactFamiliarCap): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = counts.agg(sum($"n").as("n_total"), count(lit(1)).as("n_distinct"))
    val famFrame = counts.crossJoin(broadcast(stats))
      .where($"n" * $"n_distinct" >= $"n_total")
      .select($"bigram")
    // the plan-shape decision is driver-side, so constructing this
    // frame EAGERLY runs the corpus count aggregation (building q104
    // without acting on it already pays one pass) — the price of
    // picking map-only vs join by the measured set size, not a guess
    val famRows = famFrame.limit(cap + 1).collect()
    val scored = if (famRows.length > cap) {
      // JOIN SPELLING (the over-cap fallback): explode per-doc bigrams,
      // probe the familiar frame through a join AQE sizes (broadcast
      // while it fits, shuffle join beyond — no driver collect), and
      // re-aggregate per doc_id. Strictly worse than map-only (Generate
      // + join + exchange) but degrades instead of OOMing.
      val docBigrams = docs.where($"text".isNotNull)
        .select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, t) =>
          jvmTokens(t).sliding(2).withFilter(_.length == 2)
            .map(g => (id, g.mkString(" ")))
        }
        .toDF("doc_id", "bigram")
      // DISTINCT for set parity with the map-only spelling: a caller-
      // supplied count table with duplicate bigram keys (e.g. unioned
      // per-shard counts) would otherwise fan out the join and double-
      // count both n_bigrams and n_familiar
      val marked = famFrame.select($"bigram".as("__fam_key")).distinct()
        .withColumn("__fam", lit(1L))
      docBigrams
        .join(marked, dfKey(docBigrams("bigram")) === marked("__fam_key"),
          "left_outer")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(coalesce($"__fam", lit(0L))).as("n_familiar"))
    } else {
      val fam = spark.sparkContext.broadcast(
        famRows.map(_.get(0)).toSet: Set[Any])
      docs.where($"text".isNotNull)
        .select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions { it =>
          val set = fam.value
          it.flatMap { case (id, t) =>
            // same tokenize as the counts side (bigramCountsOf):
            // jvmTokens — trailing empties kept, Locale.ROOT lowercase —
            // bigram = "tokA tokB"
            val toks = jvmTokens(t)
            var nb = 0; var nf = 0; var i = 0
            while (i + 1 < toks.length) {
              nb += 1
              if (set.contains(key(toks(i) + " " + toks(i + 1)))) nf += 1
              i += 1
            }
            // <2 tokens → no bigrams → score undefined, doc excluded
            if (nb == 0) Iterator.empty
            else Iterator.single((id, nb.toLong, nf.toLong))
          }
        }
        .toDF("doc_id", "n_bigrams", "n_familiar")
    }
    val quotient =
      $"n_familiar".cast("double") / $"n_bigrams".cast("double")
    scored.select($"doc_id", $"n_bigrams", $"n_familiar",
        quotient.as("familiarity"),
        when(quotient >= 0.9, "head")
          .when(quotient >= 0.5, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  def bigramFamiliarity(spark: SparkSession, d: String): DataFrame =
    bigramFamiliarityOf(Tables.documents(spark, d))

  /** DuckDB oracle: same integer cross-multiplied threshold and the
    * same single int/int division (HUGEINT/BIGINT mixing is confined
    * to comparisons, never emitted). */
  val bigramFamiliaritySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL
      |), bg AS (
      |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      |), counts AS (
      |  SELECT bigram, count(*) AS n FROM bg GROUP BY 1
      |), stats AS (
      |  SELECT sum(n) AS n_total, count(*) AS n_distinct FROM counts
      |), fam AS (
      |  SELECT bigram FROM counts CROSS JOIN stats
      |  WHERE n * n_distinct >= n_total
      |)
      |SELECT b.doc_id, count(*) AS n_bigrams, count(f.bigram) AS n_familiar,
      |       CAST(count(f.bigram) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS familiarity,
      |       CASE WHEN CAST(count(f.bigram) AS DOUBLE) / CAST(count(*) AS DOUBLE) >= 0.9 THEN 'head'
      |            WHEN CAST(count(f.bigram) AS DOUBLE) / CAST(count(*) AS DOUBLE) >= 0.5 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM bg b LEFT JOIN fam f ON f.bigram = b.bigram
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  /** Text cleanup chain: Unicode NFC (the custom codegen expression —
    * composed vs decomposed accents otherwise split exact-dedup hashes
    * and shingle joins) → strip zero-width characters → control
    * characters to spaces → collapse space runs → trim. The regexes
    * stay in the Java ∩ RE2 portable subset (the PII-chain discipline)
    * so the DuckDB oracle runs the same chain verbatim. Entirely
    * scan-side: no shuffle, no UDF boundary.
    * Callers must `NormalizeNfc.register(spark)` first. */
  def cleanText(c: Column): Column = {
    val nfc = call_function(graft.functions.NormalizeNfc.name, c)
    val noZw = regexp_replace(nfc, "[\\u200B-\\u200D\\uFEFF]", "")
    val noCtl = regexp_replace(noZw, "[\\x00-\\x1F\\x7F]", " ")
    trim(regexp_replace(noCtl, " +", " "))
  }

  /** q101: per-document cleanup report — cleaned text + changed flag.
    * On an already-clean corpus this is an identity map, which is
    * exactly what the hash oracle asserts: the chain never mangles
    * clean text; the mangled-input cases live in TextAnalysisSpec. */
  def q101CleanText(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.functions.NormalizeNfc.register(spark)
    Tables.documents(spark, d)
      .where($"text".isNotNull)
      .select($"doc_id", cleanText($"text").as("clean_text"),
        (cleanText($"text") =!= $"text").as("changed"))
      .orderBy($"doc_id")
  }

  val q101Sql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(nfc_normalize(text), '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
      |      '[\x{00}-\x{1F}\x{7F}]', ' ', 'g'),
      |    ' +', ' ', 'g')) AS clean_text,
      |  trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(nfc_normalize(text), '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
      |      '[\x{00}-\x{1F}\x{7F}]', ' ', 'g'),
      |    ' +', ' ', 'g')) <> text AS changed
      |FROM documents WHERE text IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** Engine-portable k-gram hash for winnowing: a code-point polynomial
    * mod a 30-bit prime — DuckDB replays it exactly with
    * `list_reduce` over `unicode(substr(...))`, which is what upgrades
    * the fingerprint query from rows-only to a full hash-match oracle
    * (xxhash64, the previous key, exists in no other engine). All
    * intermediates stay far below 2^63, so Java wrap-around semantics
    * never diverge from DuckDB's checked BIGINT arithmetic. */
  private[operators] def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 131 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Winnowing document fingerprint: k-gram hashes, sliding-window
    * minimum (window w) → distinct fingerprint set per doc
    * (Schleimer et al., "Winnowing: Local Algorithms for Document
    * Fingerprinting"). Keyed by [[polyHash]] → exact DuckDB oracle. */
  def fingerprint(spark: SparkSession, d: String, k: Int = 4, w: Int = 5): DataFrame =
    fingerprintOf(Tables.documents(spark, d), k, w)

  // The fingerprint set is the SAMPLED INDEX — q135 alone reads it four
  // ways (doc sizes, df prune, both pair-join sides), and without
  // materialization each read re-runs the shingle flatMap + winnowing
  // window from the parquet scan (measured: 6 FileScans / 14 exchanges
  // in q135's plan). Same bounded-LRU discipline as the bigram count
  // table above; the index is (2/(w+1))·shingles — far below the corpus.
  private val fpSetCache =
    new graft.util.PlanCache[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int),
      DataFrame](maxEntries = 4, onEvict = _.unpersist(), name = "fpSetCache")

  /** The distinct winnowed fingerprint SET per document — the sampled
    * index itself ((2/(w+1))·shingles expected density), shared by the
    * q30 summary and the q135 pair search, materialized once per
    * (corpus, k, w). */
  def fingerprintSetOf(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fpSetCache.getOrElseUpdate(
      (docs.queryExecution.analyzed.canonicalized, k, w)) {
      val kgrams = docs.where($"text".isNotNull)
        .select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          jvmTokens(text).sliding(k)
            .withFilter(_.length == k).zipWithIndex
            .map { case (g, i) => (id, i, polyHash(g.mkString(" "))) }
        }
        .toDF("doc_id", "i", "h")
      // winnowing: fingerprint = min hash over each sliding window of w
      // consecutive k-gram hashes → one O(n)-per-doc window pass (not a
      // range self-join), distinct mins per doc.
      val winSpec = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"i").rowsBetween(0, w - 1)
      kgrams
        .withColumn("fp", min($"h").over(winSpec))
        .select($"doc_id", $"fp").distinct()
        .cache()
    }
  }

  def fingerprintOf(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fingerprintSetOf(docs, k, w)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fingerprints"), min($"fp").as("min_fp"))
      .orderBy($"doc_id")
  }

  /** DuckDB oracle for [[fingerprintOf]]: the same polynomial hash via
    * list_reduce, the same trailing-partial winnowing window. */
  def fingerprintSql(k: Int, w: Int): String =
    s"""${fingerprintCtes(k, w)}
       |SELECT doc_id, count(DISTINCT fp) AS n_fingerprints, min(fp) AS min_fp
       |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared CTE prefix: toks → k-grams → polyHash → winnowed fp. */
  private def fingerprintCtes(k: Int, w: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |  WHERE text IS NOT NULL
       |), kg AS (
       |  SELECT doc_id, i - 1 AS i, array_to_string(t[i:i+${k - 1}], ' ') AS kg
       |  FROM toks, unnest(generate_series(1, len(t) - ${k - 1})) AS g(i)
       |), h AS (
       |  SELECT doc_id, i,
       |         list_reduce(list_prepend(0, list_transform(
       |             range(1, length(kg) + 1),
       |             j -> CAST(unicode(substr(kg, CAST(j AS INT), 1)) AS BIGINT))),
       |           (h, c) -> (h * 131 + c) % 1000000007) AS h
       |  FROM kg
       |), fp AS (
       |  SELECT doc_id,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp
       |  FROM h
       |)""".stripMargin

  /** q135: near-dup candidate pairs from the SAMPLED winnowing index —
    * docs sharing ≥ `minShared` distinct fingerprints, with both set
    * sizes for containment/resemblance math downstream. Winnowing
    * guarantees any shared run of ≥ w+k−1 tokens contributes at least
    * one common fingerprint (the Schleimer et al. coverage bound), so
    * the candidate set catches every substantial overlap while the
    * inverted index is only ~2/(w+1) the size of the full shingle
    * index — the storage/recall dial versus q21's exact Jaccard.
    * Hot fingerprints are df-pruned on BOTH engines (df ≤ `maxDf`,
    * the q121 discipline) so one boilerplate k-gram can't explode the
    * join. Pure integers → exact oracle via the portable polyHash. */
  def q135FingerprintPairs(spark: SparkSession, d: String, minShared: Int = 3,
      maxDf: Int = 50, k: Int = 4, w: Int = 5): DataFrame = {
    import spark.implicits._
    val fps = fingerprintSetOf(
      graft.sources.Tables.documents(spark, d), k, w)
    val sizes = fps.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // r18 (§2.4, the q89/q121 idiom): the pair search was a df-filter
    // aggregate plus a fp self-join back onto the same frame — three
    // shuffles of the index and an alias-asymmetric join Spark can't
    // reuse exchanges across. The fp groups are df-bounded (2..maxDf),
    // so ONE groupBy(fp) collects each group's sorted doc list and a
    // typed flatMap emits its C(n,2) ordered pairs row-locally — the
    // df prune becomes the array-size filter, the self-join disappears,
    // and the pair count keeps its partial aggregation.
    val pairs = fps.groupBy($"fp")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .where(size($"ds") >= 2 && size($"ds") <= maxDf)
      .select($"ds").as[Array[Long]]
      .flatMap { ds =>
        val n = ds.length
        new Iterator[(Long, Long)] {
          private var i = 0
          private var j = 1
          def hasNext: Boolean = i < n - 1
          def next(): (Long, Long) = {
            val p = (ds(i), ds(j))
            j += 1
            if (j == n) { i += 1; j = i + 1 }
            p
          }
        }
      }
      .toDF("id_a", "id_b")
    pairs
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= minShared)
      .join(sizes.select($"doc_id".as("id_a"), $"n".as("n_a")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"n".as("n_b")), "id_b")
      .select($"id_a", $"id_b", $"n_shared", $"n_a", $"n_b")
      .orderBy($"id_a", $"id_b")
  }

  def q135Sql(minShared: Int = 3, maxDf: Int = 50, k: Int = 4,
      w: Int = 5): String =
    s"""${fingerprintCtes(k, w)},
       |fset AS (
       |  SELECT DISTINCT doc_id, fp FROM fp
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM fset GROUP BY 1
       |), keepfp AS (
       |  SELECT fp FROM fset GROUP BY fp
       |  HAVING count(*) >= 2 AND count(*) <= $maxDf
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |  FROM fset a JOIN keepfp USING (fp)
       |  JOIN fset b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared
       |)
       |SELECT p.id_a, p.id_b, p.n_shared, sa.n AS n_a, sb.n AS n_b
       |FROM pairs p
       |JOIN sizes sa ON sa.doc_id = p.id_a
       |JOIN sizes sb ON sb.doc_id = p.id_b
       |ORDER BY id_a, id_b""".stripMargin

  /** q84: compression-ratio quality signal (the compressibility filter
    * of Gopher/RefinedWeb: templated or degenerate-repetitive text
    * deflates far below natural prose, and near-random glyph soup
    * barely deflates at all — both tails get dropped). DEFLATE level 6
    * over UTF-8 bytes via `java.util.zip.Deflater`, one reused
    * per-partition instance, zero allocation churn; purely
    * embarrassingly parallel scan work.
    *
    * DEFLATE output bytes depend on the JVM's zlib, so `c_bytes` is
    * deterministic within an engine but NOT a cross-engine constant.
    * The oracle is therefore DYNAMIC (the q31/q55/q99 literal-replay
    * pattern): [[q84OracleSql]] takes ONLY the per-doc deflated byte
    * counts as literals and has DuckDB independently recompute
    * `n_bytes` (strlen = UTF-8 bytes, matching getBytes(UTF_8)), the
    * ratio division, and the both-tails keep DECISION — so the quality
    * filter's actual output is hash-checked, and only the opaque codec
    * byte count is trusted. TextAnalysisSpec still pins the codec
    * invariants (determinism, repetitive << prose < random).
    */
  def compressionRatio(spark: SparkSession, d: String): DataFrame = {
    val out = compressionRatioOf(Tables.documents(spark, d))
    recorded = Some(out)
    out
  }

  /** Last q84 frame in this JVM; collected lazily by [[q84OracleSql]]
    * at oracle-dump time (Verify runs queries first, and Bench never
    * reads oracles, so the extra execution costs the bench nothing). */
  @volatile private var recorded: Option[DataFrame] = None

  def q84OracleSql: Option[String] = recorded.map { df =>
    // Literal-list guard: the dump runs at small SF (500 rows at
    // sf0.01); refuse to build a multi-megabyte VALUES list.
    val rows = df.select("doc_id", "c_bytes").limit(100001).collect()
    require(rows.length <= 100000, "q84 oracle literal replay capped at 100k docs")
    // `VALUES` with zero tuples is a syntax error — an all-null-text
    // corpus (zero recorded rows) gets a typed one-row sentinel that
    // the join can never match, so the oracle returns empty like the
    // engine instead of failing to parse.
    val values =
      if (rows.isEmpty) "(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))"
      else rows.map(r => s"(${r.getLong(0)}, ${r.getLong(1)})").mkString(",\n       ")
    s"""WITH cb(doc_id, c_bytes) AS (
       |  VALUES $values
       |)
       |SELECT d.doc_id,
       |       CAST(strlen(d.text) AS BIGINT) AS n_bytes,
       |       CAST(cb.c_bytes AS BIGINT) AS c_bytes,
       |       CASE WHEN strlen(d.text) > 0
       |            THEN cb.c_bytes / CAST(strlen(d.text) AS DOUBLE) END AS ratio,
       |       coalesce(cb.c_bytes / CAST(strlen(d.text) AS DOUBLE)
       |                  BETWEEN 0.3 AND 0.9, false) AS keep
       |FROM documents d JOIN cb USING (doc_id)
       |WHERE d.text IS NOT NULL
       |ORDER BY d.doc_id""".stripMargin
  }

  def compressionRatioOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.where($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](64 * 1024)
        val mapped = it.map { case (id, text) =>
          val in = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          (id, in.length.toLong, out)
        }
        // release the native zlib stream when the partition is drained
        new Iterator[(Long, Long, Long)] {
          private var closed = false
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h && !closed) { deflater.end(); closed = true }
            h
          }
          def next(): (Long, Long, Long) = mapped.next()
        }
      }
      .toDF("doc_id", "n_bytes", "c_bytes")
      .withColumn("ratio",
        when($"n_bytes" > 0, $"c_bytes".cast("double") / $"n_bytes"))
      .withColumn("keep", coalesce($"ratio".between(0.3, 0.9), lit(false)))
      .orderBy($"doc_id")
  }
}
