package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale posture (100 TB): exact dedup is one shuffle on the content
  * hash; pairwise Jaccard is only ever computed on *candidate* pairs
  * produced by LSH banding (the all-pairs variant exists as the oracle
  * ground truth at test SF); every intermediate is a DataFrame —
  * nothing collects to the driver.
  */
object Dedup {

  val ShingleN = 3

  // The shingle index is a derived index a real pipeline materializes
  // once and reuses across the dedup family — cached per logical plan,
  // bounded LRU so a long-lived service doesn't pin every corpus it has
  // ever deduped ([[graft.util.PlanCache]] unpersists on evict).
  private val shingleCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 8, onEvict = _.unpersist(), name = "shingleCache")

  // The banded-LSH key frame is the second materialized index of the
  // dedup family: batch dedup, incremental dedup, and LSH clustering all
  // join on it, and recomputing it means re-running the minhash
  // signature pass (a full groupByKey over the corpus). Same bounded
  // LRU discipline as the shingle index.
  private val bandCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 8, onEvict = _.unpersist(), name = "bandCache")

  // Verified near-dup pair frames are a materialized *edge list*: pair
  // detection (q24) and cluster/keeper selection (q40) both consume the
  // same edges, exactly like a production pipeline that writes the pair
  // table once and runs clustering over it.
  private val pairCache =
    new graft.util.PlanCache[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Double), DataFrame](
      maxEntries = 8, onEvict = _.unpersist(), name = "pairCache")

  // The unordered shingle-intersection counts (id_a < id_b, |Sa ∩ Sb|)
  // are the shared kernel of Jaccard (q21) and containment (q116): both
  // divide the SAME count by different denominators. The self-join +
  // pair aggregate is the expensive leg of either query, so it
  // materializes once like the indexes above.
  private val interCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 8, onEvict = _.unpersist(), name = "interCache")

  // Per-doc shingle-set sizes: every similarity denominator in the
  // family (Jaccard, containment, the yield sweep, top-k search, LSH
  // verify) divides by |S_doc| — five call sites previously re-ran a
  // full aggregate over the 1M+-row shingle index (and re-broadcast the
  // result) per consumer per invocation. One row per document — the
  // cheapest frame in the family to pin. (Optimization r17, guide §2.4.)
  private val shingleCountCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "shingleCountCache")

  /** Per-doc distinct-shingle counts (doc_id, n) over a shingle frame —
    * the shared denominator index of the Jaccard family. */
  def docShingleCounts(sh: DataFrame): DataFrame =
    shingleCountCache.getOrElseUpdate(sh.queryExecution.analyzed.canonicalized) {
      val spark = sh.sparkSession
      import spark.implicits._
      sh.groupBy($"doc_id").agg(count(lit(1)).as("n")).cache()
    }

  /** Materialized pairwise shingle-intersection counts:
    * (id_a, id_b, inter) for every unordered doc pair sharing ≥ 1
    * shingle — exact support for any similarity > 0. */
  def docPairIntersections(docs: DataFrame): DataFrame =
    interCache.getOrElseUpdate(docs.queryExecution.analyzed.canonicalized) {
      val spark = docs.sparkSession
      import spark.implicits._
      val sh = docShingles(docs)
      sh.as("a").join(sh.as("b"),
          $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
        .agg(count(lit(1)).as("inter"))
        .cache()
    }

  /** Distinct (doc_id, shingle) pairs — the shared input of the Jaccard
    * family. Typed flatMap (primitive string ops beat a chain of
    * interpreted higher-order array functions ~5×) + one distinct
    * shuffle on (doc_id, shingle); cached as a materialized index. */
  def docShingles(docs: DataFrame): DataFrame =
    // Canonicalized plan as key: repeated reads of the same corpus differ
    // only in expression ids, which canonicalization normalizes away —
    // raw-plan keys would miss (and re-shingle) on every query.
    shingleCache.getOrElseUpdate(docs.queryExecution.analyzed.canonicalized)(
      docShinglesUncached(docs).cache())

  private def docShinglesUncached(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // null text = no shingles (the typed flatMap would NPE), matching
    // the SQL semantics where every string function yields null.
    docs.where($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.functions.TextFunctions.jvmTokens(text).sliding(ShingleN)
          .withFilter(_.length == ShingleN)
          .map(w => (id, w.mkString(" ")))
      }
      .toDF("doc_id", "sh").distinct()
  }

  /** Full-text exact dedup (the production form): key = md5 of the
    * whole normalized text; emit keeper (min doc_id) per duplicate
    * group. One shuffle on the hash key. */
  def exactFullText(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("key", md5(concat_ws(" ", tokens($"text"))))
      .groupBy($"key")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper"),
        max($"doc_id").as("last_dup"))
      .where($"n_docs" > 1)
      .orderBy($"key")
  }

  /** Exact dedup: normalize → md5 content key → groups with >1 doc keep
    * min(doc_id). Keyed on a 5-token prefix so the synthetic corpus
    * (all full texts unique) still exercises group formation; a real
    * pipeline keys on md5 of the full normalized text
    * ([[exactFullText]]). */
  def exact(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("key", md5(concat_ws(" ", slice(tokens($"text"), 1, 5))))
      .groupBy($"key")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper"),
        max($"doc_id").as("last_dup"))
      .where($"n_docs" > 1)
      .orderBy($"key")
  }

  val exactSql: String =
    """SELECT md5(array_to_string((string_split(lower(text), ' '))[1:5], ' ')) AS key,
      |       count(*) AS n_docs, min(doc_id) AS keeper, max(doc_id) AS last_dup
      |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY key""".stripMargin

  /** Exact dedup with SOURCE-PRIORITY keeper selection — the curation
    * rule real pipelines use when duplicates cross sources: keep the
    * copy from the most-trusted source, not the lowest id. Priority
    * here is the source's numeric rank (src0 outranks src3 — a
    * deployment swaps in its curated-source lookup); keeper =
    * argmin (priority, doc_id) per duplicate group, expressed as a
    * `min(struct(...))` so the whole selection stays one map-side-
    * combining aggregate — no window, no second shuffle. */
  def exactPriority(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("key", md5(concat_ws(" ", slice(tokens($"text"), 1, 5))))
      .withColumn("prio", regexp_extract($"source", "([0-9]+)", 1).cast("long"))
      .groupBy($"key")
      .agg(count(lit(1)).as("n_docs"),
        min(struct($"prio", $"doc_id")).as("m"),
        countDistinct($"source").as("n_sources"))
      .where($"n_docs" > 1)
      .select($"key", $"n_docs", $"m.doc_id".as("keeper"), $"n_sources")
      .orderBy($"key")
  }

  /** Oracle: the same argmin via a scalar (priority, id) combiner —
    * priority scaled past any doc_id so the composite orders
    * lexicographically like the struct. */
  val exactPrioritySql: String =
    """WITH keyed AS (
      |  SELECT md5(array_to_string((string_split(lower(text), ' '))[1:5], ' ')) AS key,
      |         doc_id,
      |         CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS prio,
      |         source
      |  FROM documents
      |)
      |SELECT key, count(*) AS n_docs,
      |       CAST(arg_min(doc_id, prio * 1000000000 + doc_id) AS BIGINT) AS keeper,
      |       count(DISTINCT source) AS n_sources
      |FROM keyed GROUP BY 1 HAVING count(*) > 1 ORDER BY key""".stripMargin

  /** All-pairs n-gram Jaccard ≥ threshold. Exact but quadratic in the
    * shingle-join — the ground-truth/oracle path; production scale goes
    * through [[minhashLsh]] which verifies the same Jaccard on LSH
    * candidates only. */
  def ngramJaccard(spark: SparkSession, d: String, threshold: Double = 0.6): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val sh = docShingles(docs)
    val counts = docShingleCounts(sh)
    jaccardOf(docPairIntersections(docs), counts, threshold)
  }

  private def jaccardOf(inter: DataFrame, counts: DataFrame, threshold: Double): DataFrame = {
    val spark = inter.sparkSession
    import spark.implicits._
    inter
      .join(counts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(counts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .withColumn("jaccard", $"inter" / ($"na" + $"nb" - $"inter"))
      .where($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }

  /** DuckDB oracle for the Jaccard family: identical all-pairs math. */
  def ngramJaccardSql(threshold: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
       |), counts AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
       |), inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |       CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
       |FROM inter
       |JOIN counts ca ON ca.doc_id = id_a
       |JOIN counts cb ON cb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Directional shingle CONTAINMENT (Broder): |Sa ∩ Sb| / |Sa| — the
    * near-dup signal Jaccard misses when one document swallows another
    * (quote inside an article, page inside a concatenated dump):
    * a 100-shingle doc fully inside a 10k-shingle doc has Jaccard
    * ≈ 0.01 but containment 1.0. Emits one row per ordered pair at or
    * above `threshold` (contained doc → its container).
    *
    * Same inverted-index shape as [[ngramJaccard]]: candidates share
    * ≥ 1 shingle (exact for containment > 0), the pair aggregate rides
    * the shingle equi-join, and both orientations reuse ONE unordered
    * intersection count. Containment is a single long/long IEEE
    * division — engine-portable, oracle-exact. */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docShingles(docs)
    val counts = docShingleCounts(sh)
    val inter = docPairIntersections(docs)
    val both = inter.select($"id_a".as("doc_id"), $"id_b".as("container_id"), $"inter")
      .unionByName(
        inter.select($"id_b".as("doc_id"), $"id_a".as("container_id"), $"inter"))
    both.join(counts, Seq("doc_id"))
      .withColumn("containment", $"inter" / $"n")
      .where($"containment" >= threshold)
      .select($"doc_id", $"container_id", $"inter".as("n_shared"),
        $"n".as("n_shingles"), $"containment")
      .orderBy($"doc_id", $"container_id")
  }

  def q116Containment(spark: SparkSession, d: String): DataFrame =
    containmentPairs(Tables.documents(spark, d), threshold = 0.5)

  def containmentSql(threshold: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
       |), counts AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
       |), inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), dirs AS (
       |  SELECT id_a AS doc_id, id_b AS container_id, inter FROM inter
       |  UNION ALL
       |  SELECT id_b, id_a, inter FROM inter
       |)
       |SELECT b.doc_id, b.container_id, b.inter AS n_shared,
       |       c.n AS n_shingles, CAST(b.inter AS DOUBLE) / c.n AS containment
       |FROM dirs b JOIN counts c ON c.doc_id = b.doc_id
       |WHERE CAST(b.inter AS DOUBLE) / c.n >= $threshold
       |ORDER BY b.doc_id, b.container_id""".stripMargin

  val q116Sql: String = containmentSql(0.5)

  /** Top-k most-similar documents per query doc, by n-gram Jaccard —
    * the text-side similarity SEARCH (q25's embedding top-k, for
    * shingles). Candidates come from the inverted shingle index: a doc
    * pairs with a query iff they share ≥1 shingle, which is EXACT for
    * Jaccard > 0 — so unlike the LSH paths this search equals brute
    * force by construction, while still never forming the n² cross
    * join. The intersection counts fall out of the same index join;
    * one extra shuffle ranks (query_id, jaccard desc) with a bounded
    * row_number.
    *
    * Scale note: the candidate volume is Σ_shingle df(shingle)·|hits|,
    * which a frequent shingle can blow up; production corpora prune
    * stop-shingles by document frequency (drop the predicate from BOTH
    * engines to keep oracle parity) or go through [[minhashLsh]]. On
    * the synthetic corpus the max df is small, so q83 keeps the
    * unpruned exact form.
    */
  /** q133: DEDUP YIELD CURVE — how aggressive is a Jaccard threshold?
    * For each candidate threshold (0.5 … 0.9), the number of near-dup
    * pairs at or above it and the number of distinct documents those
    * pairs touch (the review/removal volume). This is the planning
    * query run BEFORE committing a dedup pass: thresholds trade recall
    * against false merges, and the curve shows where the corpus's own
    * pair mass falls.
    *
    * Scale: rides the SAME materialized intersection-count frame as
    * q21/q116 (third consumer — no new shingle work); the sweep is a
    * 5-way explode of an already-tiny pair frame. Jaccard is one
    * int/int IEEE division, identical in both engines, and the
    * threshold grid is coarse (0.1 steps) — the q64 float-grid
    * argument. */
  def q133DedupYield(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val sh = docShingles(docs)
    val counts = docShingleCounts(sh)
    val jac = docPairIntersections(docs)
      .join(counts.select($"doc_id".as("id_a"), $"n".as("na")), "id_a")
      .join(counts.select($"doc_id".as("id_b"), $"n".as("nb")), "id_b")
      .withColumn("jaccard", $"inter" / ($"na" + $"nb" - $"inter"))
    jac.withColumn("t10", explode(array((5 to 9).map(lit): _*)))
      .where($"jaccard" >= $"t10" / 10.0)
      .select($"t10", $"id_a", $"id_b")
      .withColumn("doc", explode(array($"id_a", $"id_b")))
      .groupBy($"t10")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct($"doc").as("n_docs"))
      .orderBy($"t10")
  }

  val q133Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      |), counts AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), jac AS (
      |  SELECT id_a, id_b,
      |         CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
      |  FROM inter
      |  JOIN counts ca ON ca.doc_id = id_a
      |  JOIN counts cb ON cb.doc_id = id_b
      |), swept AS (
      |  SELECT g.t10, j.id_a, j.id_b FROM jac j
      |  CROSS JOIN generate_series(5, 9) g(t10)
      |  WHERE j.jaccard >= g.t10 / 10.0
      |)
      |SELECT CAST(t10 AS INT) AS t10,
      |       CAST(count(*) / 2 AS BIGINT) AS n_pairs,
      |       CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
      |FROM swept, unnest([id_a, id_b]) AS u(doc)
      |GROUP BY 1 ORDER BY t10""".stripMargin

  def similarTopK(spark: SparkSession, d: String, k: Int = 3,
      nQueries: Int = 20): DataFrame = {
    import spark.implicits._
    val sh = docShingles(Tables.documents(spark, d))
    val counts = docShingleCounts(sh)
    val qsh = sh.where($"doc_id" < nQueries)
      .select($"doc_id".as("query_id"), $"sh")
    val inter = qsh.join(sh.where($"doc_id" >= nQueries)
        .select($"doc_id".as("cand_id"), $"sh"), Seq("sh"))
      .groupBy($"query_id", $"cand_id")
      .agg(count(lit(1)).as("inter"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"jaccard".desc, $"cand_id".asc)
    inter
      .join(counts.select($"doc_id".as("query_id"), $"n".as("nq")), Seq("query_id"))
      .join(counts.select($"doc_id".as("cand_id"), $"n".as("nc")), Seq("cand_id"))
      .withColumn("jaccard", $"inter".cast("double") / ($"nq" + $"nc" - $"inter"))
      .withColumn("rnk", row_number().over(w))
      .where($"rnk" <= k)
      .select($"query_id", $"rnk", $"cand_id", $"jaccard")
      .orderBy($"query_id", $"rnk")
  }

  def similarTopKSql(k: Int, nQueries: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
       |), counts AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
       |), inter AS (
       |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id, count(*) AS inter
       |  FROM sh q JOIN sh c ON q.sh = c.sh
       |  WHERE q.doc_id < $nQueries AND c.doc_id >= $nQueries
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT query_id, cand_id,
       |         CAST(inter AS DOUBLE) / (cq.n + cc.n - inter) AS jaccard
       |  FROM inter
       |  JOIN counts cq ON cq.doc_id = query_id
       |  JOIN counts cc ON cc.doc_id = cand_id
       |), ranked AS (
       |  SELECT query_id, cand_id, jaccard,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY jaccard DESC, cand_id ASC) AS rnk
       |  FROM scored
       |)
       |SELECT query_id, rnk, cand_id, jaccard FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  val MinhashPerms = 64
  val LshBands = 32 // r = 2 rows/band: P(catch | j=0.8) = 1-(1-.64)^32 ≈ 1-1e-14

  /** MinHash signatures: per doc, min over shingles of the i-th seeded
    * hash, all 64 "permutations" in one per-group primitive loop
    * (single shuffle on doc_id; ~70 shingles × 64 mixes per doc —
    * orders of magnitude cheaper than 64 separate min-aggregate
    * columns). Returns (doc_id, sig[64]). */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    import graft.functions.Hashing
    sh.as[(Long, String)].groupByKey(_._1)
      .mapGroups { (id, it) =>
        val mins = Array.fill(MinhashPerms)(Long.MaxValue)
        it.foreach { case (_, s) =>
          val base = Hashing.hashString(s)
          var i = 0
          while (i < MinhashPerms) {
            val h = Hashing.seeded(base, i)
            if (h < mins(i)) mins(i) = h
            i += 1
          }
        }
        (id, mins)
      }
      .toDF("doc_id", "sig")
  }

  /** MinHash + LSH near-dup detection: band signatures into buckets,
    * self-join buckets for candidate pairs, then verify candidates with
    * the exact Jaccard — so the output equals the brute-force result
    * (whp), at a fraction of the join cost. This is the 100 TB path. */
  def minhashLsh(spark: SparkSession, d: String, threshold: Double = 0.8): DataFrame =
    minhashLshOf(Tables.documents(spark, d), threshold)

  /** Banded LSH keys of a shingle frame: (doc_id, band, bh) — the
    * join key of every LSH candidate generation (self-join for batch
    * dedup, cross-join against a stored index for incremental dedup). */
  def bandedSignatures(sh: DataFrame): DataFrame =
    bandCache.getOrElseUpdate(sh.queryExecution.analyzed.canonicalized)(
      bandedSignaturesUncached(sh).cache())

  private def bandedSignaturesUncached(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    import graft.functions.Hashing
    val r = MinhashPerms / LshBands
    minhashSignatures(sh).as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until LshBands).iterator.map { b =>
          var bh = sig(b * r)
          var j = 1
          while (j < r) { bh = Hashing.combine(bh, sig(b * r + j), b); j += 1 }
          (id, b, bh)
        }
      }
      .toDF("doc_id", "band", "bh")
  }

  /** Verify candidate (id_a, id_b) pairs with the exact Jaccard over a
    * shingle frame covering both sides; emits pairs ≥ threshold. */
  def verifyCandidates(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val counts = docShingleCounts(sh)
    val inter = cand
      .join(sh.as("sa"), $"sa.doc_id" === $"id_a")
      .join(sh.as("sb"), $"sb.doc_id" === $"id_b" && $"sb.sh" === $"sa.sh")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("inter"))
    jaccardOf(inter, counts, threshold)
  }

  /** Verified LSH near-dup pairs, cached per (corpus, threshold) like
    * the embedding edge list — pair detection and clustering share the
    * same materialized edges. */
  def minhashLshOf(docs: DataFrame, threshold: Double): DataFrame =
    pairCache.getOrElseUpdate(
      (docs.queryExecution.analyzed.canonicalized, threshold))(
      minhashLshUncached(docs, threshold).cache())

  private def minhashLshUncached(docs: DataFrame, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docShingles(docs)
    val bands = bandedSignatures(sh)
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .distinct()
    verifyCandidates(cand, sh, threshold)
  }

  /** SimHash: 64-bit signature — bit j is the sign of the sum over
    * distinct shingle features of ±1 depending on bit j of
    * xxhash64(shingle). Features are word 3-grams, not unigrams: on a
    * small shared vocabulary unigram sets are near-identical across
    * documents and carry no signal, while shingle sets match the Jaccard
    * ground truth. Hash-seeded → no SQL oracle; invariants in DedupSpec. */
  def simhash(spark: SparkSession, d: String): DataFrame =
    simhashOf(Tables.documents(spark, d))

  // SimHash signature frames — a derived index like the banded keys,
  // own cache so docs-plan keys can't collide with shingle-plan keys.
  private val simhashCache =
    new graft.util.PlanCache[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      maxEntries = 8, onEvict = _.unpersist(), name = "simhashCache")

  def simhashOf(docs: DataFrame): DataFrame =
    simhashCache.getOrElseUpdate(docs.queryExecution.analyzed.canonicalized)(
      simhashUncached(docs).cache())

  /** Signature votes run over the 60-bit PORTABLE shingle hash
    * ([[graft.functions.Hashing.portable60]]) rather than a seeded
    * 64-bit mix: the signature (and therefore the q23 pair set) becomes
    * exactly recomputable by the DuckDB oracle, upgrading SimHash from
    * rows-only to hash-match checked. Bits 60–63 are structurally zero;
    * the 8×8-bit chunk blocking stays lossless (an always-equal chunk
    * can only ADD candidates, which the dist filter removes). */
  private def simhashUncached(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.Hashing
    docShingles(docs).as[(Long, String)].groupByKey(_._1)
      .mapGroups { (id, it) =>
        val sums = new Array[Int](60)
        it.foreach { case (_, s) =>
          val h = Hashing.portable60(s)
          var j = 0
          while (j < 60) {
            sums(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
            j += 1
          }
        }
        var sig = 0L
        var j = 0
        while (j < 60) { if (sums(j) > 0) sig |= (1L << j); j += 1 }
        (id, sig)
      }
      .toDF("doc_id", "simhash")
      .orderBy($"doc_id")
  }

  /** DuckDB oracle for [[simhashPairs]]: replay the portable hash per
    * distinct shingle, vote per bit, compare 60-char bit strings. */
  def simhashPairsSql(maxHamming: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |  WHERE text IS NOT NULL
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
       |), h AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(0, list_transform(
       |             range(1, length(sh) + 1),
       |             j -> CAST(unicode(substr(sh, CAST(j AS INT), 1)) AS BIGINT))),
       |           (h, c) -> (h * 131 + c) % 1000000007) * 1073741824
       |         + list_reduce(list_prepend(0, list_transform(
       |             range(1, length(sh) + 1),
       |             j -> CAST(unicode(substr(sh, CAST(j AS INT), 1)) AS BIGINT))),
       |           (h, c) -> (h * 137 + c) % 1000000007) AS h
       |  FROM sh
       |), votes AS (
       |  SELECT doc_id, CAST(b.i AS INT) AS bit,
       |         SUM(CASE WHEN (h >> CAST(b.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN generate_series(0, 59) AS b(i)
       |  GROUP BY 1, 2
       |), sigs AS (
       |  SELECT doc_id,
       |         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS sig
       |  FROM votes GROUP BY doc_id
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST((SELECT count(*) FROM generate_series(1, 60) g(i)
       |             WHERE substr(a.sig, CAST(i AS INT), 1) <> substr(b.sig, CAST(i AS INT), 1))
       |            AS INT) AS dist
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE (SELECT count(*) FROM generate_series(1, 60) g(i)
       |       WHERE substr(a.sig, CAST(i AS INT), 1) <> substr(b.sig, CAST(i AS INT), 1)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Generic hamming-ball self-join over 64-bit signatures, blocked by
    * 8×8-bit signature chunks (pigeonhole: ≤7 differing bits → at least
    * one 8-bit chunk identical, so the block join is LOSSLESS up to
    * maxHamming = 7). `sig` must have a long id column and a long
    * signature column; output (id_a, id_b, dist), id_a < id_b. Shared
    * by text SimHash and perceptual image-hash dedup. */
  def hammingBlockedPairs(sig: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"chunk blocking is lossless only up to hamming 7, got $maxHamming")
    val spark = sig.sparkSession
    import spark.implicits._
    val chunks = sig.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .select($"__id", $"__sig", explode(array(
        (0 until 8).map(c => struct(lit(c).as("c"),
          shiftright($"__sig", c * 8).bitwiseAND(0xFFL).as("ck"))): _*)).as("b"))
      .select($"__id", $"__sig", $"b.c".as("c"), $"b.ck".as("ck"))
    // A qualifying pair shares up to 8 chunks and would surface once per
    // shared chunk. Instead of a distinct() over the full candidate
    // stream (at 10x the test SF that is a 100M+-row exchange — the
    // scale probe caught it), emit each pair ONLY at its first equal
    // chunk: a pure codegen'd bit-filter on the joined row, so dedup
    // costs zero shuffle. firstEq(diff) = lowest c with byte c of
    // a XOR b all-zero; the join's c must equal it.
    val diff = $"a.__sig".bitwiseXOR($"b.__sig")
    val firstEq = (1 until 8).foldLeft(
      when(shiftright(diff, 0).bitwiseAND(0xFFL) === 0L, lit(0))) {
      case (acc, c) =>
        acc.when(shiftright(diff, c * 8).bitwiseAND(0xFFL) === 0L, lit(c))
    }
    chunks.as("a").join(chunks.as("b"),
        $"a.c" === $"b.c" && $"a.ck" === $"b.ck" && $"a.__id" < $"b.__id")
      .where(hamming($"a.__sig", $"b.__sig") <= maxHamming &&
        $"a.c" === firstEq)
      .select($"a.__id".as("id_a"), $"b.__id".as("id_b"),
        hamming($"a.__sig", $"b.__sig").as("dist"))
  }

  /** Hamming near-dup pairs with IDENTICAL-signature collapse: the
    * block join runs over DISTINCT signatures only, then sig-level
    * pairs expand back to id pairs (plus the dist-0 pairs inside each
    * identical-signature group). Output is exactly
    * [[hammingBlockedPairs]]'s — (id_a, id_b, dist), id_a < id_b — but
    * the quadratic join never sees a duplicated signature. The scale
    * probe's 10x corpus has ~2.8 frames per distinct aHash; collapsing
    * cut generated candidates 7x (869M -> 120M) on top of the
    * first-equal-chunk dedup. This is the production entry point for
    * skew-heavy perceptual-hash corpora; callers that already pass
    * distinct signatures (q109) use the kernel directly. */
  def hammingNearDupPairs(sig: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val ids = sig.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    val groups = ids.groupBy($"__sig").agg(count(lit(1)).as("__n"))
    // dist-0 pairs inside an identical-signature group
    val identical = ids.as("a").join(ids.as("b"),
        $"a.__sig" === $"b.__sig" && $"a.__id" < $"b.__id")
      .select($"a.__id".as("id_a"), $"b.__id".as("id_b"), lit(0).as("dist"))
    val sigPairs = hammingBlockedPairs(
      groups.select($"__sig".as("id"), $"__sig".as("sig")), "id", "sig",
      maxHamming)
    val cross = sigPairs
      .join(ids.select($"__sig".as("id_a"), $"__id".as("fa")), "id_a")
      .join(ids.select($"__sig".as("id_b"), $"__id".as("fb")), "id_b")
      .select(least($"fa", $"fb").as("id_a"),
        greatest($"fa", $"fb").as("id_b"), $"dist")
    identical.unionByName(cross)
  }

  /** SimHash near-dup pairs: signatures within `maxHamming` bits via
    * the lossless chunk-blocked self-join. */
  def simhashPairs(spark: SparkSession, d: String, maxHamming: Int = 7): DataFrame = {
    import spark.implicits._
    hammingBlockedPairs(simhash(spark, d), "doc_id", "simhash", maxHamming)
      .orderBy($"id_a", $"id_b")
  }

  /** Embedding-cosine near-dup: pairs with cosine ≥ threshold, ids
    * only — float values never enter the compared output.
    *
    * Execution: the normalized corpus is broadcast and each partition
    * scans its rows against it with a primitive-array kernel — O(n²d)
    * flops with zero per-pair allocation, ~20× faster than a pairwise
    * zip_with join. Dot products sum left-to-right in doubles, exactly
    * like DuckDB's list_cosine_similarity on DOUBLE[], so threshold
    * decisions are bit-identical to the oracle. The broadcast is valid
    * while the corpus fits executor memory (n·d·8 bytes — ~5 GB at
    * 10M×64); beyond that the LSH/IVF candidate paths bound the pair
    * set instead. */
  def embeddingNearDup(spark: SparkSession, d: String, threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, d)
      .select($"vec_id", Similarity.normalized($"embedding").as("v"))
    val pairs = pairCache.getOrElseUpdate(
      (e.queryExecution.analyzed.canonicalized, threshold))(
      embeddingPairsUncached(e, threshold).cache())
    pairs.orderBy($"id_a", $"id_b")
  }

  /** The broadcast all-pairs cosine kernel behind [[embeddingNearDup]]. */
  private def embeddingPairsUncached(norm: DataFrame, threshold: Double): DataFrame = {
    val spark = norm.sparkSession
    import spark.implicits._
    val e = norm.as[(Long, Array[Double])]
    val corpus = e.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(corpus)
    e.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (idA, a) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 0
        while (i < all.length) {
          val (idB, b) = all(i)
          if (idB > idA) {
            var s = 0.0
            var j = 0
            while (j < a.length) { s += a(j) * b(j); j += 1 }
            if (s >= threshold) out += ((idA, idB))
          }
          i += 1
        }
        out
      }
    }.toDF("id_a", "id_b")
  }

  def embeddingNearDupSql(threshold: Double): String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                             CAST(b.embedding AS DOUBLE[])) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  final case class IncrementalStats(
      input: Long, afterExact: Long, kept: Long)

  /** Incremental dedup — the operational form at corpus scale: when a
    * new batch lands you dedup the *delta* against the standing corpus,
    * never the whole corpus against itself.
    *
    *  1. exact: a new doc whose full-text hash already exists in the
    *     corpus (or in a lower-id new doc) is dropped — two anti-join /
    *     keeper shuffles over the batch, corpus side touched only
    *     through its hash projection;
    *  2. near-dup: banded LSH keys of the batch join the corpus' banded
    *     index on (band, hash) — cost ∝ batch × collision rate, not
    *     corpus² — plus an intra-batch self-join; candidates are
    *     verified with exact Jaccard, corpus matches drop the new doc,
    *     intra-batch matches resolve by connected components keeping
    *     min id.
    *
    * A batch doc whose duplicate component touches the corpus drops
    * regardless of id ordering (no corpus-ids-are-lower convention);
    * pure-batch components keep their min id — equivalent to batch-
    * cleaning (corpus ∪ batch) and keeping the batch's survivors. At a
    * real deployment the corpus' shingle/band index is a materialized
    * table updated as batches commit ([[DedupIndex]]). */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8): (DataFrame, IncrementalStats) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    incrementalDedupFrames(newDocs,
      contentKeys(corpus).select($"key").distinct(),
      docShingles(corpus),
      bandedSignatures(docShingles(corpus)),
      threshold)
  }

  /** Full-text content key of each document (the exact-dedup key). */
  def contentKeys(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.withColumn("key",
      md5(concat_ws(" ", graft.functions.TextFunctions.tokens($"text"))))
  }

  /** The frame-level core of [[incrementalDedup]] — corpus state comes
    * in as the three derived frames a deployment materializes as tables
    * ([[DedupIndex]]): distinct content keys, the shingle index, and
    * the banded-LSH keys. The corpus documents themselves are never
    * read. */
  def incrementalDedupFrames(newDocs: DataFrame, corpusKeys: DataFrame,
      shCorpus: DataFrame, bandsCorpus: DataFrame,
      threshold: Double): (DataFrame, IncrementalStats) = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val input = newDocs.count()

    // 1. exact stage
    val newKeyed = contentKeys(newDocs).cache()
    val intraKeepers = newKeyed.groupBy($"key").agg(min($"doc_id").as("doc_id"))
    val afterExact = newKeyed
      .join(intraKeepers.select($"doc_id"), Seq("doc_id"))
      .join(corpusKeys, Seq("key"), "left_anti")
      .drop("key")
      .cache()
    val nExact = afterExact.count()

    // 2. near-dup stage against the corpus index + within the batch.
    // The batch-side frames live in the bounded derived-index LRUs; the
    // corpus-side frames arrive as parameters (session caches or stored
    // tables).
    val shNew = docShingles(afterExact)
    val bandsNew = bandedSignatures(shNew)
    val candCross = bandsNew.as("a").join(bandsCorpus.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh")
      .select($"b.doc_id".as("id_a"), $"a.doc_id".as("id_b")) // corpus first
      .distinct()
    val candIntra = bandsNew.as("a").join(bandsNew.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .distinct()
    // One CC over the combined (cross ∪ intra) verified edges gives
    // exactly the batch-union clustering. Two independent drop passes
    // would miss transitive corpus links (B−A ≥ t, B−corpus ≥ t,
    // A−corpus < t must still drop A). Drop rule is by component
    // MEMBERSHIP, not label arithmetic: every batch doc in a component
    // containing ANY corpus doc drops (the corpus already covers it —
    // no assumption that corpus ids are lower than batch ids), and
    // pure-batch components keep their min id.
    val shAll = shNew.union(shCorpus)
    val edges = verifyCandidates(candCross, shAll, threshold)
      .unionByName(verifyCandidates(candIntra, shNew, threshold))
      .select($"id_a", $"id_b")
    val comps = connectedComponents(edges)
    val corpusIds = shCorpus.select($"doc_id".as("id")).distinct()
    val contaminated = comps.join(corpusIds, Seq("id"))
      .select($"label").distinct()
    val dropNew = comps
      .join(contaminated.withColumn("__corpus", lit(true)), Seq("label"), "left")
      .where(coalesce($"__corpus", lit(false)) || $"id" =!= $"label")
      .select($"id".as("doc_id"))
    // Materialize the kept rows (localCheckpoint: no upstream plan, and
    // the blocks are reference-tracked — the ContextCleaner frees them
    // when the caller drops the frame) so BOTH working caches can be
    // released here instead of leaking batch-sized cached frames that
    // no caller could ever reach to unpersist. Tradeoff: localCheckpoint
    // blocks have NO lineage, so an executor lost between here and the
    // caller's index-append write fails the batch (rerun it — the
    // commit-on-accept protocol makes a rerun safe). On a cluster with
    // dynamic allocation / expected executor churn, write `kept` to a
    // durable temp table before committing appends instead.
    val kept = afterExact.join(dropNew, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val nKept = kept.count()
    newKeyed.unpersist()
    afterExact.unpersist()
    (kept, IncrementalStats(input, nExact, nKept))
  }

  /** Embedding near-dup via IVF blocking — the 100 TB path for vector
    * dedup, replacing the broadcast all-pairs kernel of
    * [[embeddingNearDup]]: every vector is assigned to its `nAssign`
    * nearest k-means centroids (multi-assignment recovers pairs that
    * straddle a centroid boundary), candidate pairs are vectors sharing
    * a centroid bucket, and candidates are verified with the exact
    * codegen'd cosine — so precision is exact and only recall is
    * approximate (bounded in DedupSpec; the quantizer is deterministic,
    * so recall is reproducible). Candidate count ∝ bucket sizes, never
    * n².
    *
    * Blocking parameters default to AUTO ([[Similarity.ivfAutoSizing]]:
    * nLists = max(16, ⌈√n⌉), probes from a recall target) so the
    * sublinear-candidate posture is enforced by code at any corpus
    * size; the one extra `count()` is index-build-time, amortized by
    * the probe-table cache. Pass explicit values to override — the
    * registered q24 pins 16 lists × 8 probes, the empirically
    * exhaustive config its all-pairs oracle requires at test SF
    * (TrainingData.scala). */
  def embeddingNearDupIvf(spark: SparkSession, d: String, threshold: Double = 0.4,
      nCentroids: Int = -1, nAssign: Int = -1, kmeansIters: Int = 4): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, d)
      .select($"vec_id", Similarity.normalized($"embedding").as("v"))
    val (autoLists, autoAssign) =
      if (nCentroids > 0 && nAssign > 0) (nCentroids, nAssign)
      else {
        val (l, a) = Similarity.ivfAutoSizing(e.count())
        (if (nCentroids > 0) nCentroids else l, if (nAssign > 0) nAssign else a)
      }
    // The bucket self-join is candidate GENERATION — keep it narrow
    // (ids + bucket only, no vector payload) and dedup the pair set
    // BEFORE scoring: a pair sharing k probe buckets would otherwise
    // ship two embedding arrays through the shuffle k times and pay the
    // cosine kernel k times. Vectors join back once per distinct pair.
    // The probe table itself is a cached index artifact (ivfProbes) —
    // steady state pays the pair join + verify only, not the
    // corpus × centroids assignment window per call (and per join side).
    val multi = Similarity.ivfProbes(e, autoLists, kmeansIters, autoAssign)
    blockedPairsOf(e, multi, threshold)
  }

  /** The IVF-blocked pair kernel of [[embeddingNearDupIvf]]: candidate
    * pairs share a probe bucket (`probes` = (vec_id, cent_id), one row
    * per probe), dedup BEFORE scoring, then exact-cosine verify against
    * `e` = (vec_id, v).
    *
    * (Measured alternative: dedup-by-minimal-shared-bucket via probe
    * lists on each row was ~3× slower — the arrays outweigh the saved
    * distinct. The narrow distinct wins.) */
  private[operators] def blockedPairsOf(e: DataFrame, probes: DataFrame,
      threshold: Double): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cand = probes.as("a").join(probes.as("b"),
        $"a.cent_id" === $"b.cent_id" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"))
      .distinct()
    cand
      .join(e.select($"vec_id".as("id_a"), $"v".as("va")), "id_a")
      .join(e.select($"vec_id".as("id_b"), $"v".as("vb")), "id_b")
      .where(Similarity.cos($"va", $"vb") >= threshold)
      .select($"id_a", $"id_b")
      .orderBy($"id_a", $"id_b")
  }

  /** Max CC rounds. With pointer-doubling each round at least doubles
    * the propagation horizon, so 25 rounds covers diameters up to ~2^25;
    * hitting the cap without a fixpoint is an error, never silent. */
  val CcMaxRounds = 25

  /** Dedup keeper selection: connected components over the near-dup
    * pair graph — every member of a transitive duplicate cluster maps
    * to the cluster's minimum id (the keeper). Each round combines
    * min-label propagation (one hop via neighbors) with pointer doubling
    * (relabel through the label's own label), giving O(log diameter)
    * rounds; each round is one shuffle on the vertex id — the standard
    * large-graph CC loop. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // localCheckpoint each round: without cutting lineage, round N
    // re-executes every previous round (and the pair generation) — the
    // loop goes quadratic-in-rounds over the full upstream plan.
    // LAZY checkpoint (r18): the edgeCount action right below
    // materializes the blocks AND counts them in one job; the previous
    // eager checkpoint ran the pair-generation job and then a second
    // whole-graph scan job just to count — one fixed job per CC
    // consumer (q40/q47/q109/q110/q128/q135/q148), pure scheduling
    // overhead on small graphs (guide §1.2: per-task work after the
    // algorithm, and the algorithm here was paying a dead pass).
    // Both edge orientations come from ONE evaluation of `pairs` via a
    // row-local explode (r18): the previous union(pairs, reversed) was
    // two full copies of the caller's pair-generation lineage — for
    // q148 that lineage is a blocked self-join whose own two sides
    // already duplicate the normalized-embedding scan, so the union
    // quadrupled it (four identical 32-task scan stages in the
    // profile; Catalyst's exchange reuse does not fire across these
    // subtree copies).
    val edges0 = pairs
      .select(explode(array(
        struct($"id_a".as("src"), $"id_b".as("dst")),
        struct($"id_b".as("src"), $"id_a".as("dst")))).as("__e"))
      .select($"__e.src".as("src"), $"__e.dst".as("dst"))
      .localCheckpoint(false)
    // Size the loop's parallelism to the graph, not the session default:
    // a dedup pair graph is usually tiny relative to the corpus (only
    // near-dups appear), and an O(log n)-round loop over a small frame
    // spread across 32+ partitions pays task-scheduling overhead per
    // round that dwarfs the work. ~500k edges per partition keeps the
    // loop wide at real scale and single-task when the graph is small.
    val edgeCount = edges0.count()
    val targetParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, edgeCount / 500000L + 1L)).toInt
    // Single-partition fast path: when the pair graph fits one task
    // (<500k edges) the label-propagation loop would pay a full
    // join+aggregate job per round just in scheduling, so run a
    // union-find over the one partition instead — still executor-side
    // (no driver collect), one job total, identical labels (union by
    // min root = min-id component labels). The round loop below is the
    // path a billion-edge graph takes.
    if (targetParts == 1) {
      val labels = edges0.coalesce(1).as[(Long, Long)].mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val verts = scala.collection.mutable.SortedSet.empty[Long]
        it.foreach { case (s, d) =>
          verts += s; verts += d
          val rs = find(s); val rd = find(d)
          if (rs != rd) { if (rs < rd) parent(rd) = rs else parent(rs) = rd }
        }
        verts.iterator.map(v => (v, find(v)))
      }.toDF("id", "label")
      // r17: no trailing sort — every consumer aggregates or joins the
      // labels; a global orderBy here was a wasted exchange per use.
      return labels
    }
    val edges =
      if (targetParts < edges0.rdd.getNumPartitions)
        edges0.coalesce(targetParts).localCheckpoint(true)
      else edges0
    var labels = edges.select($"src".as("id")).distinct()
      .withColumn("label", $"id")
      .localCheckpoint(true)
    if (labels.isEmpty) return labels // no edges → no clustered vertices
    // Convergence check via the label sum: labels only ever decrease,
    // so an unchanged sum means a fixpoint — one cheap aggregate per
    // round instead of a join against the previous labels. Summed in
    // DECIMAL(38,0): ids can be raw 64-bit hash values (q109 clusters
    // BY aHash), and a Long sum of 30k+ near-2^63 labels overflows —
    // ANSI mode aborts the job (the 10x scale probe hit exactly this;
    // non-ANSI would silently wrap, risking a false fixpoint).
    // (Option-read: sum over an empty frame is a null cell, not 0.)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val row = df.agg(sum($"label".cast("decimal(38,0)"))).head()
      if (row.isNullAt(0)) java.math.BigDecimal.ZERO else row.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < CcMaxRounds) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "nlabel"), Seq("dst"))
        .groupBy($"src".as("id"))
        .agg(min($"nlabel").as("minNeighbor"))
      val stepped = labels.join(viaNeighbors, Seq("id"), "left")
        .select($"id", least($"label", coalesce($"minNeighbor", $"label")).as("label"))
      // Pointer doubling: labels are always vertex ids, so follow
      // label → that vertex's label to jump the whole path walked so far.
      // Lazy checkpoint: the labelSum action right below materializes it,
      // so each round runs ONE job (materialize+aggregate) instead of an
      // eager-checkpoint job followed by an aggregate job — halves the
      // per-round scheduling overhead that dominates on small graphs.
      val next = stepped.as("l")
        .join(stepped.select($"id".as("lid"), $"label".as("llabel")).as("p"),
          $"l.label" === $"p.lid", "left")
        .select($"l.id".as("id"),
          least($"l.label", coalesce($"p.llabel", $"l.label")).as("label"))
        .localCheckpoint(false)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $CcMaxRounds rounds")
    // r17: same as the fast path — consumers never need the sort.
    labels
  }

  /** Cluster summary over any near-dup pair frame — component keeper,
    * member count, id span. */
  def clustersOf(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    connectedComponents(pairs.select($"id_a", $"id_b"))
      .groupBy($"label".as("keeper"))
      .agg(count(lit(1)).as("n_members"), max($"id").as("last_member"))
      .orderBy($"keeper")
  }

  /** q40: cluster summary over the *all-pairs* embedding kernel — the
    * oracle variant (exactly DuckDB's recursive-CTE closure). Production
    * clustering is [[nearDupClustersLsh]]. */
  def nearDupClusters(spark: SparkSession, d: String, threshold: Double = 0.4): DataFrame =
    clustersOf(embeddingNearDup(spark, d, threshold))

  /** The production near-dup clustering entry point: connected
    * components over MinHash-LSH candidate pairs (verified with exact
    * Jaccard) — every stage is bucketed, nothing is all-pairs, so the
    * whole path survives a 100 TB corpus. Equal to brute-force
    * clustering whp (banding misses a j≥0.6 pair with P ≈ 6e-7);
    * [[nearDupClusters]]/q21 remain the exact oracles. */
  def nearDupClustersLsh(spark: SparkSession, d: String, threshold: Double = 0.6): DataFrame =
    clustersOf(minhashLshOf(Tables.documents(spark, d), threshold))

  /** DuckDB oracle for [[nearDupClustersLsh]]: all-pairs n-gram Jaccard
    * pairs + recursive closure — brute-force ground truth for the LSH
    * path. */
  def nearDupClustersLshSql(threshold: Double): String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
       |), counts AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
       |), inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN counts ca ON ca.doc_id = id_a
       |  JOIN counts cb ON cb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $threshold
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), labels AS (
       |  SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src
       |)
       |SELECT label AS keeper, count(*) AS n_members, max(id) AS last_member
       |FROM labels GROUP BY label ORDER BY keeper""".stripMargin

  /** Segment-level (line-level) dedup — the sub-document pass of
    * C4/CCNet-style pipelines: document-level dedup misses a boilerplate
    * paragraph pasted into thousands of otherwise-unique pages. Text is
    * cut into consecutive `segTokens`-token segments (last one partial);
    * across the WHOLE corpus each distinct segment survives only at its
    * first occurrence (lexicographic min of (doc_id, seg_idx)); documents
    * are reassembled from their surviving segments, dropping any doc left
    * empty.
    *
    * Scale shape: explode → one shuffle on the segment text (the dedup
    * itself) → one shuffle on doc_id (reassembly). Both are inherent to
    * the semantics; neither is all-pairs.
    */
  def dedupSegments(docs: DataFrame, segTokens: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val segs = segmentsOf(docs, segTokens)
    val perDoc = Window.partitionBy($"doc_id")
    val perSeg = Window.partitionBy($"seg")
    val kept = segs
      .withColumn("n_segments", count(lit(1)).over(perDoc))
      .withColumn("__first", min(struct($"doc_id", $"seg_idx")).over(perSeg))
      .where($"__first.doc_id" === $"doc_id" && $"__first.seg_idx" === $"seg_idx")
    kept.groupBy($"doc_id")
      .agg(first($"n_segments").as("n_segments"),
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct($"seg_idx", $"seg"))),
          x => x("seg")), " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  // Segment frames are the fourth shared cut of the corpus (after
  // shingles, bands, positions): q69 first-occurrence dedup, q96
  // boilerplate removal, q111 template share, and CleanCorpus's strip
  // stage all consume the identical (doc_id, seg_idx, seg) frame — and
  // several of them reference it on BOTH sides of a join, so an
  // uncached frame re-ran the tokenize+slice explode per side per
  // invocation. (Optimization r17, same discipline as shingleCache.)
  private val segCache =
    new graft.util.PlanCache[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int), DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "segCache")

  /** Consecutive `segTokens`-token segments of each document:
    * (doc_id, seg_idx, seg) — the shared cut of the sub-document passes
    * ([[dedupSegments]], [[removeBoilerplate]]). */
  private def segmentsOf(docs: DataFrame, segTokens: Int): DataFrame =
    segCache.getOrElseUpdate(
      (docs.queryExecution.analyzed.canonicalized, segTokens))(
      segmentsOfUncached(docs, segTokens).cache())

  private def segmentsOfUncached(docs: DataFrame, segTokens: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .where($"text".isNotNull)
      .withColumn("__toks", split(lower($"text"), " "))
      .where(size($"__toks") > 0)
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(__toks) / ${segTokens}d) as int) - 1),
           |  i -> array_join(slice(__toks, i * $segTokens + 1, $segTokens), ' '))""".stripMargin))
        .as(Seq("seg_idx", "seg")))
  }

  /** Boilerplate removal by corpus document frequency — the OTHER
    * sub-document pass of C4-style pipelines (ref: the dedup stage
    * family surveyed for q69): a segment occurring in `minDf`-or-more
    * DISTINCT documents is boilerplate (nav chrome, license headers,
    * cookie banners) and is dropped from EVERY document, unlike
    * [[dedupSegments]]'s first-occurrence-wins which keeps one copy.
    * A document repeating its own segment is repetition, not
    * boilerplate — frequency counts distinct docs. Documents left with
    * no segments drop out of the report, like q69.
    *
    * Scale shape: explode → groupBy(seg) for the df table → join back
    * on seg (AQE broadcasts it when the boilerplate vocabulary is
    * small) → one doc_id shuffle shared by the count window and the
    * reassembly groupBy. No all-pairs anywhere.
    */
  def removeBoilerplate(docs: DataFrame, segTokens: Int, minDf: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    require(minDf > 1, s"minDf must be > 1, got $minDf")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val segs = segmentsOf(docs, segTokens)
    val df = segs.groupBy($"seg").agg(countDistinct($"doc_id").as("df"))
    segs.join(df, "seg")
      .withColumn("n_segments", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .where($"df" < minDf)
      .groupBy($"doc_id")
      .agg(first($"n_segments").as("n_segments"),
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct($"seg_idx", $"seg"))),
          x => x("seg")), " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  /** Pipeline form of [[removeBoilerplate]]: returns `docs` with `text`
    * rewritten to the boilerplate-stripped form (lowercased,
    * single-space token join — the segmentation normalization), all
    * other columns preserved. Documents whose every segment is
    * boilerplate are dropped. Run BEFORE dedup: two near-dups that
    * differ only in nav chrome become exact dups once stripped.
    */
  def stripBoilerplate(docs: DataFrame, segTokens: Int, minDf: Int): DataFrame = {
    require(minDf > 1, s"minDf must be > 1, got $minDf")
    val spark = docs.sparkSession
    import spark.implicits._
    val segs = segmentsOf(docs, segTokens)
    val df = segs.groupBy($"seg").agg(countDistinct($"doc_id").as("df"))
    val clean = segs.join(df, "seg")
      .where($"df" < minDf)
      .groupBy($"doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct($"seg_idx", $"seg"))),
        x => x("seg")), " ").as("__clean_text"))
    docs.join(clean, "doc_id")
      .withColumn("text", $"__clean_text")
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** q96: boilerplate report (16-token segments, df ≥ 3 = boilerplate). */
  def q96Boilerplate(spark: SparkSession, d: String): DataFrame =
    removeBoilerplate(Tables.documents(spark, d), segTokens = 16, minDf = 3)

  val q96Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(lower(text), ' ')) > 0
      |), segs AS (
      |  SELECT doc_id, i AS seg_idx,
      |         array_to_string(t[(i*16+1):(i*16+16)], ' ') AS seg
      |  FROM toks,
      |       unnest(generate_series(0, CAST(ceil(len(t) / 16.0) AS BIGINT) - 1)) AS g(i)
      |), df AS (
      |  SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1
      |), flagged AS (
      |  SELECT s.doc_id, s.seg_idx, s.seg, d.df,
      |         count(*) OVER (PARTITION BY s.doc_id) AS n_segments
      |  FROM segs s JOIN df d USING (seg)
      |)
      |SELECT doc_id, n_segments, count(*) AS n_kept,
      |       string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
      |FROM flagged WHERE df < 3
      |GROUP BY doc_id, n_segments
      |ORDER BY doc_id""".stripMargin

  /** Per-document TEMPLATE SHARE — the quality-filter-facing view of
    * the boilerplate machinery: the fraction of a document's segments
    * that are corpus boilerplate (segment present in `minDf`-or-more
    * DISTINCT documents). q96 rewrites documents; this SCORES them, so
    * a pipeline can threshold or sample by templated-ness without
    * mutating text. Same two shuffles as q96 (seg-df + per-doc agg);
    * counts are exact longs and the share is one int/int division —
    * oracle-exact. */
  def templateShareOf(docs: DataFrame, segTokens: Int, minDf: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    require(minDf > 1, s"minDf must be > 1, got $minDf")
    val spark = docs.sparkSession
    import spark.implicits._
    val segs = segmentsOf(docs, segTokens)
    val df = segs.groupBy($"seg").agg(countDistinct($"doc_id").as("df"))
    segs.join(df, "seg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segments"),
        count(when($"df" >= minDf, lit(1))).as("n_template"))
      .select($"doc_id", $"n_segments", $"n_template",
        ($"n_template".cast("double") / $"n_segments".cast("double"))
          .as("template_share"))
      .orderBy($"doc_id")
  }

  /** q111: template share at the q96 parameters (16-token segments,
    * df ≥ 3 = boilerplate). */
  def q111TemplateShare(spark: SparkSession, d: String): DataFrame =
    templateShareOf(Tables.documents(spark, d), segTokens = 16, minDf = 3)

  val q111Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(lower(text), ' ')) > 0
      |), segs AS (
      |  SELECT doc_id, i AS seg_idx,
      |         array_to_string(t[(i*16+1):(i*16+16)], ' ') AS seg
      |  FROM toks,
      |       unnest(generate_series(0, CAST(ceil(len(t) / 16.0) AS BIGINT) - 1)) AS g(i)
      |), df AS (
      |  SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1
      |)
      |SELECT s.doc_id, count(*) AS n_segments,
      |       count(CASE WHEN d.df >= 3 THEN 1 END) AS n_template,
      |       CAST(count(CASE WHEN d.df >= 3 THEN 1 END) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS template_share
      |FROM segs s JOIN df d USING (seg)
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  /** Cross-source duplication matrix — corpus governance: which source
    * pairs feed near-identical content (a crawl that mirrors another, a
    * dataset re-released under a new name). Pairs come from the SAME
    * verified MinHash-LSH edge list the dedup family shares (equal to
    * brute-force Jaccard whp, so the all-pairs SQL is a valid oracle),
    * then roll up to unordered (source, source) cells. The per-pair
    * source lookup joins the two small id→source projections; the pair
    * side is the near-dup edge list — orders of magnitude below the
    * corpus, AQE broadcasts it.
    */
  def sourceOverlap(docs: DataFrame, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = minhashLshOf(docs, threshold)
    val src = docs.select($"doc_id", $"source")
    pairs
      .join(src.toDF("id_a", "source_a"), "id_a")
      .join(src.toDF("id_b", "source_b"), "id_b")
      .select(least($"source_a", $"source_b").as("src_a"),
        greatest($"source_a", $"source_b").as("src_b"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"src_a", $"src_b")
  }

  /** q97: near-dup source matrix at the q47 threshold. */
  def q97SourceOverlap(spark: SparkSession, d: String): DataFrame =
    sourceOverlap(Tables.documents(spark, d), threshold = 0.6)

  def sourceOverlapSql(threshold: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
       |), counts AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
       |), inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN counts ca ON ca.doc_id = id_a
       |  JOIN counts cb ON cb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= $threshold
       |)
       |SELECT least(da.source, db.source) AS src_a,
       |       greatest(da.source, db.source) AS src_b,
       |       count(*) AS n_pairs
       |FROM pairs
       |JOIN documents da ON da.doc_id = id_a
       |JOIN documents db ON db.doc_id = id_b
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** q69: corpus-wide segment dedup report (16-token segments). */
  def q69SegmentDedup(spark: SparkSession, d: String): DataFrame =
    dedupSegments(graft.sources.Tables.documents(spark, d), segTokens = 16)

  val q69Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(lower(text), ' ')) > 0
      |), segs AS (
      |  SELECT doc_id, i AS seg_idx,
      |         array_to_string(t[(i*16+1):(i*16+16)], ' ') AS seg
      |  FROM toks,
      |       unnest(generate_series(0, CAST(ceil(len(t) / 16.0) AS BIGINT) - 1)) AS g(i)
      |), ranked AS (
      |  SELECT doc_id, seg_idx, seg,
      |         count(*) OVER (PARTITION BY doc_id) AS n_segments,
      |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      |  FROM segs
      |)
      |SELECT doc_id, n_segments, count(*) AS n_kept,
      |       string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
      |FROM ranked WHERE rn = 1
      |GROUP BY doc_id, n_segments
      |ORDER BY doc_id""".stripMargin

  def nearDupClustersSql(threshold: Double): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                               CAST(b.embedding AS DOUBLE[])) >= $threshold
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), labels AS (
       |  SELECT src AS id, least(src, min(dst)) AS label FROM reach GROUP BY src
       |)
       |SELECT label AS keeper, count(*) AS n_members, max(id) AS last_member
       |FROM labels GROUP BY label ORDER BY keeper""".stripMargin
}
