package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Product quantization (PQ) for embedding search — the
  * memory-compression half of the standard billion-vector layout
  * (IVF for pruning, PQ for compression; Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * The vector space is split into `m` subspaces; each subspace gets its
  * own `ksub`-codeword codebook (deterministic Lloyd iterations — no
  * RNG, reproducible across runs); every vector is encoded as `m`
  * one-byte codes. A 64-dim double vector (512 B) becomes 8 B — at
  * 100 TB of raw embeddings the code table is ~1.6 TB and fits a
  * modest cluster's memory, which is the entire point: the scan reads
  * codes, never raw vectors.
  *
  * Queries score candidates with ADC (asymmetric distance computation):
  * per query, an m × ksub lookup table of subspace dot products is
  * precomputed; a candidate's approximate cosine is m table lookups —
  * no floating-point multiply touches the corpus scan. The top
  * `rerankFactor`·k by ADC score are re-ranked with the exact cosine
  * (fetching just those raw vectors), so the final ordering is exact
  * over the candidate set and only recall is approximate (bounded in
  * SimilaritySpec).
  */
object ProductQuantization {

  /** Train per-subspace codebooks with deterministic init (the first
    * `ksub` vectors by id) and `iters` Lloyd rounds. One distributed
    * pass per round accumulates sums/counts for ALL m subspaces
    * (per-partition combine → (m·ksub)-row reduce — the corpus is never
    * shuffled). Returns books(mi)(code) = codeword of length dim/m. */
  def trainCodebooks(e: Dataset[(Long, Array[Double])], m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val spark = e.sparkSession
    import spark.implicits._
    val init = e.orderBy(col(e.columns(0))).limit(ksub).collect().sortBy(_._1)
    require(init.nonEmpty, "empty corpus: no codebooks")
    val dim = init(0)._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => init.map(_._2.slice(mi * sub, (mi + 1) * sub))
        .padTo(ksub, init.last._2.slice(mi * sub, (mi + 1) * sub)))
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(books)
      val partials = e.mapPartitions { it =>
        val bs = bc.value
        val sums = Array.fill(m, ksub)(new Array[Double](sub))
        val counts = Array.fill(m, ksub)(0L)
        it.foreach { case (_, v) =>
          var mi = 0
          while (mi < m) {
            val book = bs(mi)
            val off = mi * sub
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < ksub) {
              val cw = book(c)
              var dist = 0.0
              var j = 0
              while (j < sub) { val t = v(off + j) - cw(j); dist += t * t; j += 1 }
              if (dist < bestD) { bestD = dist; best = c }
              c += 1
            }
            val sv = sums(mi)(best)
            var j = 0
            while (j < sub) { sv(j) += v(off + j); j += 1 }
            counts(mi)(best) += 1
            mi += 1
          }
        }
        (for { mi <- (0 until m).iterator; c <- (0 until ksub).iterator }
          yield (mi, c, sums(mi)(c), counts(mi)(c))).filter(_._4 > 0)
      }.collect()
      val sums = Array.fill(m, ksub)(new Array[Double](sub))
      val counts = Array.fill(m, ksub)(0L)
      partials.foreach { case (mi, c, s, n) =>
        val acc = sums(mi)(c)
        var j = 0
        while (j < sub) { acc(j) += s(j); j += 1 }
        counts(mi)(c) += n
      }
      books = Array.tabulate(m, ksub) { (mi, c) =>
        if (counts(mi)(c) == 0) books(mi)(c)
        else sums(mi)(c).map(_ / counts(mi)(c))
      }
      bc.unpersist()
    }
    books
  }

  /** Encode every vector as m one-byte codes (nearest codeword per
    * subspace, L2). One map pass, no shuffle. */
  def encode(e: Dataset[(Long, Array[Double])],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val m = books.length
    val ksub = books(0).length
    val sub = books(0)(0).length
    val bc = spark.sparkContext.broadcast(books)
    e.mapPartitions { it =>
      val bs = bc.value
      it.map { case (id, v) =>
        val codes = new Array[Byte](m)
        var mi = 0
        while (mi < m) {
          val book = bs(mi)
          val off = mi * sub
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            val cw = book(c)
            var dist = 0.0
            var j = 0
            while (j < sub) { val t = v(off + j) - cw(j); dist += t * t; j += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          codes(mi) = best.toByte
          mi += 1
        }
        (id, codes)
      }
    }.toDF("vec_id", "codes")
  }

  // The PQ index (codebooks + encoded corpus) is a built-once artifact,
  // cached like the IVF index: bounded LRU, unpersist on evict.
  private val pqIndexCache = new graft.util.PlanCache[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int, Int),
    (Array[Array[Array[Double]]], DataFrame)](
    maxEntries = 4, onEvict = { case (_, codes) => codes.unpersist() }, name = "pqIndexCache")

  def pqIndex(e: DataFrame, m: Int, ksub: Int, iters: Int)
      : (Array[Array[Array[Double]]], DataFrame) =
    pqIndexCache.getOrElseUpdate(
      (e.queryExecution.analyzed.canonicalized, m, ksub, iters)) {
      val spark = e.sparkSession
      import spark.implicits._
      // Cache the build input: every Lloyd round plus the final encode
      // is a full pass — uncached, each one re-runs the read+normalize
      // lineage (the ivfIndex argument; released after materialization).
      val ec = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val ds = ec.as[(Long, Array[Double])]
        val books = trainCodebooks(ds, m, ksub, iters)
        val codes = encode(ds, books).cache()
        codes.count() // materialize before releasing the build input
        (books, codes)
      } finally ec.unpersist()
    }

  /** PQ-ADC ANN: approximate top-(rerankFactor·k) per query from the
    * code scan, then exact-cosine re-rank of just those candidates.
    * Lloyd codebook training isn't SQL-expressible, but search against
    * the TRAINED codebooks is — [[annPqOracleSql]] replays encoding,
    * the ADC scan, the candidate cut, and the exact re-rank in DuckDB
    * against the recorded codebook literals. */
  def annPq(spark: SparkSession, d: String, k: Int = 5, nQueries: Int = 10,
      m: Int = 8, ksub: Int = 16, iters: Int = 4, rerankFactor: Int = 10): DataFrame = {
    import spark.implicits._
    graft.functions.CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, d)
      .select($"vec_id", Similarity.normalized($"embedding").as("v"))
    val (books, codes) = pqIndex(e, m, ksub, iters)
    pqRecorded = Some((books, k, nQueries, rerankFactor))
    val sub = books(0)(0).length
    val queries = e.where($"vec_id" < nQueries)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    // ADC tables: tables(q)(mi)(code) = dot(query subvector, codeword).
    val tables = queries.map { case (qid, qv) =>
      (qid, Array.tabulate(m, ksub) { (mi, c) =>
        val cw = books(mi)(c)
        var s = 0.0
        var j = 0
        while (j < sub) { s += qv(mi * sub + j) * cw(j); j += 1 }
        s
      })
    }
    val bc = spark.sparkContext.broadcast(tables)
    val approx = codes.as[(Long, Array[Byte])].mapPartitions { it =>
      val ts = bc.value
      it.flatMap { case (id, cs) =>
        ts.iterator.filter(_._1 != id).map { case (qid, table) =>
          var s = 0.0
          var mi = 0
          while (mi < m) { s += table(mi)(cs(mi) & 0xFF); mi += 1 }
          (qid, id, s)
        }
      }
    }.toDF("query_id", "neighbor_id", "adc")
    // bounded top-(rerankFactor·k) per query by ADC score, then exact
    // re-rank on just those candidates' raw vectors.
    val topApprox = udaf(new graft.functions.TopKAggregator(rerankFactor * k))
    val cands = approx
      .groupBy($"query_id")
      .agg(topApprox($"adc", $"neighbor_id").as("ids"))
      .select($"query_id", explode($"ids").as("neighbor_id"))
    val qdf = spark.createDataset(queries.toSeq).toDF("query_id", "qv")
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    cands
      .join(e.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qdf), Seq("query_id"))
      .withColumn("cos", Similarity.cos($"qv", $"v"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= k)
      .select($"query_id", $"neighbor_id")
      .orderBy($"query_id", $"neighbor_id")
  }

  /** Codebooks recorded by the last [[annPq]] run in this JVM plus the
    * (k, nQueries, rerankFactor) it ran with — the Verify flow runs
    * every query before dumping oracle SQL, so the literals line up
    * with the dumped parquet. */
  @volatile private var pqRecorded:
    Option[(Array[Array[Array[Double]]], Int, Int, Int)] = None

  /** q55's dynamic oracle: DuckDB replays PQ *search* against the
    * trained-codebook literals —
    *   1. normalize (the same x/‖v‖ arithmetic as the engine),
    *   2. encode: per (vector, subspace), the first code minimizing the
    *      squared L2 to the codeword (`list_position(d, list_min(d))`
    *      returns the FIRST minimum ≡ the engine's strict-< argmin),
    *   3. ADC: per (query, candidate), sum the per-subspace query·codeword
    *      dots in subspace order (the engine's accumulation order),
    *   4. candidate cut at rerankFactor·k by (adc DESC, id ASC), exact
    *      cosine re-rank, top-k.
    * Output is id pairs — no floats are hashed; every float decision
    * (argmin, candidate cut, final rank) rides margins far above the
    * ulp-level differences between the two engines' sums. */
  def annPqOracleSql: Option[String] = pqRecorded.map { case (books, k, nQueries, rr) =>
    val m = books.length
    val ksub = books(0).length
    val sub = books(0)(0).length
    val bkLit = books.map(book => book.map(cw =>
      s"[${cw.map(_.toString).mkString(", ")}]").mkString("[", ", ", "]"))
      .mkString("[", ",\n        ", "]")
    val nCand = rr * k
    s"""WITH bk(b) AS (
       |  VALUES ($bkLit::DOUBLE[][][])
       |), norm AS (
       |  SELECT vec_id, embedding,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS v
       |  FROM (SELECT vec_id, embedding,
       |               sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |                 x -> x * x))) AS nrm
       |        FROM embeddings)
       |), subdists AS (
       |  SELECT n.vec_id, mi.mi,
       |         list_transform(range(0, $ksub), c ->
       |           list_sum(list_transform(range(1, ${sub + 1}), j ->
       |             (v[CAST(mi.mi * $sub + j AS INT)] - b[CAST(mi.mi + 1 AS INT)][CAST(c + 1 AS INT)][CAST(j AS INT)])
       |             * (v[CAST(mi.mi * $sub + j AS INT)] - b[CAST(mi.mi + 1 AS INT)][CAST(c + 1 AS INT)][CAST(j AS INT)])))) AS dists
       |  FROM norm n CROSS JOIN bk, range(0, $m) AS mi(mi)
       |), codelist AS (
       |  SELECT vec_id,
       |         list(CAST(list_position(dists, list_min(dists)) - 1 AS INT)
       |              ORDER BY mi) AS cs
       |  FROM subdists GROUP BY vec_id
       |), adc AS (
       |  SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id,
       |         list_sum(list_transform(range(0, $m), mi ->
       |           list_sum(list_transform(range(1, ${sub + 1}), j ->
       |             q.v[CAST(mi * $sub + j AS INT)]
       |             * b[CAST(mi + 1 AS INT)][cc.cs[CAST(mi + 1 AS INT)] + 1][CAST(j AS INT)])))) AS s
       |  FROM norm q
       |  CROSS JOIN bk
       |  JOIN codelist cc ON cc.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries
       |), cands AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, neighbor_id ASC) AS rn FROM adc) WHERE rn <= $nCand
       |), rer AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                CAST(ne.embedding AS DOUBLE[])) AS cos
       |  FROM cands c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
       |)
       |SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS rn FROM rer) WHERE rn <= $k
       |ORDER BY query_id, neighbor_id""".stripMargin
  }
}
