package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Every corpus operator must degrade to an empty result on an empty
  * (or all-null-text) input — never throw. The advisor's recurring
  * finding class (FuzzyJoin empty-string crash, q91 empty-events NPE)
  * as a standing battery for the newer operators. */
class EmptyInputSpec extends SparkSpec {

  private def emptyDocs: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

  private def nullTextDocs: DataFrame = {
    import spark.implicits._
    Seq((1L, null: String, "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("span coverage: empty and null-text inputs yield empty frames") {
    assert(SpanDedup.dupSpanCoverageOf(emptyDocs, k = 5).count() == 0)
    assert(SpanDedup.dupSpanCoverageOf(nullTextDocs, k = 5).count() == 0)
  }

  test("intra-doc dedup: empty and null-text inputs yield empty frames") {
    assert(SpanDedup.dedupSegmentsIntraDocOf(emptyDocs, 2).count() == 0)
    assert(SpanDedup.dedupSegmentsIntraDocOf(nullTextDocs, 2).count() == 0)
  }

  test("bigram familiarity: empty, null-text, and no-bigram inputs yield empty frames") {
    import spark.implicits._
    assert(TextAnalysis.bigramFamiliarityOf(emptyDocs).count() == 0)
    assert(TextAnalysis.bigramFamiliarityOf(nullTextDocs).count() == 0)
    val oneTok = Seq((1L, "solo", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextAnalysis.bigramFamiliarityOf(oneTok).count() == 0)
  }

  test("hashed familiarity: empty, null-text, and no-bigram inputs yield empty frames") {
    import spark.implicits._
    assert(TextAnalysis.familiarityHashed(emptyDocs).count() == 0)
    assert(TextAnalysis.familiarityHashed(nullTextDocs).count() == 0)
    val oneTok = Seq((1L, "solo", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextAnalysis.familiarityHashed(oneTok).count() == 0)
    intercept[IllegalArgumentException](TextAnalysis.familiarityHashed(oneTok, 0))
  }

  test("source cap and curriculum: empty inputs yield empty frames") {
    assert(Sampling.sourceCapOf(emptyDocs, cap = 3).count() == 0)
    assert(Sampling.curriculumOf(emptyDocs, phases = 4).count() == 0)
  }

  test("shuffle shards, length batches, scale curriculum: empty inputs yield empty frames") {
    assert(Sampling.shuffleShardsOf(emptyDocs, "s", 8).count() == 0)
    assert(Sampling.lengthBatchesOf(emptyDocs, 256, 16).count() == 0)
    assert(Sampling.curriculumAtScale(emptyDocs, phases = 4).count() == 0)
  }

  test("containment: empty and null-text inputs yield empty frames") {
    assert(Dedup.containmentPairs(emptyDocs, 0.5).count() == 0)
    assert(Dedup.containmentPairs(nullTextDocs, 0.5).count() == 0)
  }

  test("modality checks: empty sides produce a zero report, not a throw") {
    import spark.implicits._
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
    val r = QualityChecks.modalityChecks(emptyDocs, emptyVecs).collect().head
    assert(r.getAs[Long]("n_docs") == 0L && r.getAs[Long]("n_vecs") == 0L)
    val oneSided = QualityChecks.modalityChecks(nullTextDocs, emptyVecs).collect().head
    assert(oneSided.getAs[Long]("n_docs") == 1L)
    assert(oneSided.getAs[Long]("n_missing_vec") == 1L)
  }

  test("BPE training: empty corpus learns zero merges; encode of empty stats is empty") {
    val merges = BpeTrain.learnMerges(emptyDocs, nMerges = 5)
    assert(merges.isEmpty)
    assert(BpeTrain.encodeStats(emptyDocs, merges).count() == 0)
    // distributed loop too
    assert(BpeTrain.learnMerges(emptyDocs, nMerges = 5, localVocabMax = 0).isEmpty)
  }

  test("rate anomaly: empty events yield an empty frame") {
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("event_type", StringType))))
    assert(Anomaly.rateAnomalyOf(emptyEvents).count() == 0)
  }

  private def emptyVecFrame: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))

  test("embedding drift: empty releases on either or both sides") {
    import spark.implicits._
    val one = Seq((1L, Array(1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    assert(EmbeddingDrift.drift(emptyVecFrame, emptyVecFrame, 0.99).count() == 0)
    val allAdded = EmbeddingDrift.drift(emptyVecFrame, one, 0.99).collect()
    assert(allAdded.length == 1 && allAdded.head.getAs[Long]("n_added") == 1)
    val allRemoved = EmbeddingDrift.drift(one, emptyVecFrame, 0.99).collect()
    assert(allRemoved.length == 1 && allRemoved.head.getAs[Long]("n_removed") == 1)
  }

  test("join advisor: empty fact and empty dim degrade to a row, not a throw") {
    import spark.implicits._
    val emptyK = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", LongType))))
    val dim = (1 to 3).map(_.toLong).toDF("id")
    val r = JoinAdvisor.adviseJoin(emptyK, org.apache.spark.sql.functions.col("k"),
      "k", dim, "d", 5000, 5).head()
    // empty fact: null stats must not crash the gates; dim still counts
    assert(r.getAs[Long]("dim_rows") == 3)
    assert(r.getAs[String]("strategy") == "broadcast_dim")
    val r2 = JoinAdvisor.adviseJoin(dim.withColumnRenamed("id", "k"),
      org.apache.spark.sql.functions.col("k"), "k", emptyK, "d", 5000, 5).head()
    assert(r2.getAs[Long]("dim_rows") == 0)
    assert(r2.getAs[String]("strategy") == "broadcast_dim")
  }

  test("apportion/reshard/k-anon/HLL: empty and null-text inputs degrade cleanly") {
    assert(Sampling.apportion(Seq.empty, Map.empty, 100L).isEmpty)
    assert(Sampling.largestRemainder(Seq.empty, 100L).isEmpty)
    assert(Redact.kAnonymityAudit(emptyDocs).count() == 0)
    // an empty corpus sketches to all-zero registers, estimate 0-ish
    val regs = DistinctSketch.vocabSketch(emptyDocs)
    assert(regs.forall(_ == 0))
    assert(DistinctSketch.vocabSketch(nullTextDocs).forall(_ == 0))
    assert(graft.functions.HllAggregator.estimate(regs) == 0.0)
  }

  test("missing-files audit: empty manifest (unknown snapshot) yields an empty frame") {
    val store = new graft.meta.MetaStore(spark,
      java.nio.file.Files.createTempDirectory("empty-missing").toString)
    store.write("files",
      spark.emptyDataset[graft.meta.Model.FileMeta](graft.meta.MetaStore.fileMetaEnc))
    val report = Maintenance.missingFiles(spark, store, "db", "t", 1L)
    assert(report.missing.isEmpty && report.total == 0L && !report.truncated)
  }

  test("IVF training on an empty corpus fails LOUDLY with the documented contract error") {
    // k-means on nothing is undefined — index TRAINING is the one place
    // the battery accepts a throw, but it must be the explicit contract
    // message, never an NPE out of the Lloyd loop.
    import spark.implicits._
    graft.functions.CosineSimilarity.register(spark)
    val e = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
      .select($"vec_id", Similarity.normalized($"embedding").as("v"))
    val err = intercept[IllegalArgumentException](Similarity.ivfProbes(e, 4, 2, 2))
    assert(err.getMessage.contains("empty corpus"), err.getMessage)
  }
}
