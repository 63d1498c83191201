package graft.operators

import graft.SparkSpec

/** Stored vector indexes answer queries identically to the session
  * caches they persist. */
class VectorIndexStoreSpec extends SparkSpec {

  private def norm(d: String) = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.embeddings(spark, d)
      .select(col("vec_id"), Similarity.normalized(col("embedding")).as("v"))
  }

  test("stored IVF index answers queries like the session index") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-store").toString
    val e = norm(sfDirMid)
    VectorIndexStore.buildIvf(e, dir)
    import org.apache.spark.sql.functions._
    val stored = VectorIndexStore.queryIvf(spark, dir,
        e.where(col("vec_id") < 10), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val session = Similarity.annIvf(spark, sfDirMid, 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == session)
    assert(stored.nonEmpty)
  }

  test("stored-index near-dup pairs equal the in-session IVF-blocked dedup") {
    // The cross-session posture: after a restart, dedup runs entirely
    // off the persisted inverted lists (corpus + quantizer), through
    // the SAME pair kernel as the session operator — identical pairs.
    val dir = java.nio.file.Files.createTempDirectory("ivf-neardup").toString
    VectorIndexStore.buildIvf(norm(sfDirMid), dir)
    val stored = VectorIndexStore.nearDupPairs(spark, dir, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val session = Dedup.embeddingNearDupIvf(spark, sfDirMid, threshold = 0.4,
        nCentroids = 16, nAssign = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stored == session)
    assert(stored.nonEmpty)
  }

  test("incremental IVF append: stored-quantizer assignment, idempotent replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    val e = norm(sfDirMid)
    val base = e.where(col("vec_id") < 400)
    val delta = e.where(col("vec_id") >= 400)
    VectorIndexStore.buildIvf(base, dir)
    VectorIndexStore.appendIvf(delta, dir, "b1")
    val assigned = spark.read.parquet(VectorIndexStore.assignedPath(dir))
    // every vector indexed exactly once, base and delta side by side
    assert(assigned.count() == e.count())
    assert(assigned.select("vec_id").distinct().count() == e.count())
    // delta rows carry the argmax assignment against the STORED centroids
    val cents = spark.read.parquet(VectorIndexStore.centroidsPath(dir))
      .as[(Long, Array[Double])].collect()
    val deltaAssigned = assigned.where(col("ingest_batch") === "b1")
      .select($"vec_id", $"v", $"cent_id".cast("long"))
      .as[(Long, Array[Double], Long)].collect()
    assert(deltaAssigned.length == delta.count())
    deltaAssigned.foreach { case (id, v, cid) =>
      val best = cents.map { case (c, cv) =>
        (c, v.zip(cv).map { case (a, b) => a * b }.sum)
      }.maxBy { case (c, s) => (s, -c) }._1
      assert(cid == best, s"vec $id assigned $cid, expected $best")
    }
    // replaying the same batch replaces, never duplicates
    VectorIndexStore.appendIvf(delta, dir, "b1")
    assert(spark.read.parquet(VectorIndexStore.assignedPath(dir)).count() == e.count())
    // queries reach appended vectors through the probed lists
    val res = VectorIndexStore.queryIvf(spark, dir, e.where(col("vec_id") < 10), k = 5)
    assert(res.count() > 0)
  }

  test("stored PQ codebooks round-trip exactly") {
    val dir = java.nio.file.Files.createTempDirectory("pq-store").toString
    val e = norm(sfDirMid)
    VectorIndexStore.buildPq(e, dir)
    import spark.implicits._
    val (books, codes) = ProductQuantization.pqIndex(e, 8, 16, 4)
    val loaded = VectorIndexStore.loadCodebooks(spark, dir)
    assert(loaded.length == books.length)
    assert(loaded.zip(books).forall { case (la, ba) =>
      la.zip(ba).forall { case (lc, bc) => lc.sameElements(bc) } })
    val storedCodes = spark.read.parquet(VectorIndexStore.codesPath(dir))
      .select($"vec_id", $"codes")
      .as[(Long, Array[Byte])].collect().toMap
    val sessionCodes = codes.as[(Long, Array[Byte])].collect().toMap
    assert(storedCodes.keySet == sessionCodes.keySet)
    assert(storedCodes.forall { case (id, cs) => cs.sameElements(sessionCodes(id)) })
  }

  test("incremental PQ append encodes with stored codebooks; staleness audit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pq-append").toString
    val e = norm(sfDirMid)
    val base = e.where(col("vec_id") < 400)
    val delta = e.where(col("vec_id") >= 400)
    VectorIndexStore.buildPq(base, dir)
    VectorIndexStore.appendPq(delta, dir, "b1")
    // appended codes equal a direct encode against the stored books
    val books = VectorIndexStore.loadCodebooks(spark, dir)
    val expected = ProductQuantization.encode(delta.as[(Long, Array[Double])], books)
      .as[(Long, Array[Byte])].collect().toMap
    val got = spark.read.parquet(VectorIndexStore.codesPath(dir))
      .where(col("ingest_batch") === "b1")
      .select($"vec_id", $"codes").as[(Long, Array[Byte])].collect().toMap
    assert(got.keySet == expected.keySet)
    assert(got.forall { case (id, cs) => cs.sameElements(expected(id)) })
    // replay replaces
    VectorIndexStore.appendPq(delta, dir, "b1")
    assert(spark.read.parquet(VectorIndexStore.codesPath(dir)).count() == e.count())

    // staleness: a fresh IVF index over base+delta, then perturb both ways
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf-stale").toString
    VectorIndexStore.buildIvf(base, ivfDir)
    VectorIndexStore.appendIvf(delta, ivfDir, "b1")
    val fresh = VectorIndexStore.ivfStaleness(e, ivfDir).head()
    assert(fresh.getAs[Boolean]("fresh"))
    assert(fresh.getAs[Long]("n_missing") == 0 && fresh.getAs[Long]("n_orphaned") == 0)
    // corpus grew: vectors the index has never seen
    val grown = VectorIndexStore.ivfStaleness(
      norm(sfDirMid).withColumn("vec_id", col("vec_id") + 1), ivfDir).head()
    assert(!grown.getAs[Boolean]("fresh"))
    assert(grown.getAs[Long]("n_missing") == 1 && grown.getAs[Long]("n_orphaned") == 1)
  }

  test("refreshIvf indexes exactly the missing delta, then reports fresh") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ivf-refresh").toString
    val e = norm(sfDirMid)
    VectorIndexStore.buildIvf(e.where(col("vec_id") < 350), dir)
    val n1 = VectorIndexStore.refreshIvf(e, dir, "r1")
    assert(n1 == e.count() - 350)
    assert(VectorIndexStore.ivfStaleness(e, dir).head().getAs[Boolean]("fresh"))
    // nothing missing -> a second refresh is a no-op (and writes no batch)
    val n2 = VectorIndexStore.refreshIvf(e, dir, "r2")
    assert(n2 == 0)
    assert(spark.read.parquet(VectorIndexStore.assignedPath(dir)).count() == e.count())
  }
}
