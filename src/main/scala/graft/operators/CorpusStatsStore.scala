package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent corpus-level language statistics with INCREMENTAL
  * maintenance — the standing-state sibling of [[graft.operators.DedupIndex]]
  * (content keys), holding the bigram count table that [[TextAnalysis.bigramFamiliarityOf]] and
  * bigram lift read.
  *
  * Counts are re-aggregable partials (sum merges with sum — the
  * [[IncrementalAgg]] discipline), so when 1 TB lands on a 100 TB
  * corpus the update costs one partial-agg pass over the DELTA plus a
  * merge shuffle of two vocabulary-sized frames; the standing corpus
  * is never re-read. State is written as immutable versions
  * (`v=N` directories, highest wins) because Spark cannot overwrite a
  * table it is reading; versions make update crash-safe — a torn write
  * leaves the previous version intact and a re-run simply writes the
  * next N.
  *
  * The online use: score INCOMING documents against the standing
  * statistics ([[familiarityAgainst]]) — an incoming batch can
  * quality-bucket its documents without touching the corpus at all.
  */
object CorpusStatsStore {

  private def countsRoot(dir: String) = s"$dir/bigram_counts"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val root = new Path(countsRoot(dir))
    val f = fs(spark, dir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toInt }
      .sorted
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Int] =
    versions(spark, dir).lastOption

  /** Delta partials: the bigram count table of just these docs. */
  private def deltaCounts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.where($"text".isNotNull)
      .select($"text").as[String]
      .flatMap(t => graft.functions.TextFunctions.jvmTokens(t).sliding(2)
        .withFilter(_.length == 2).map(_.mkString(" ")))
      .toDF("bigram")
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
  }

  private def hllRoot(dir: String) = s"$dir/vocab_hll"

  /** Write the vocabulary HLL registers for a version — 256 ints, the
    * store's cheapest artifact. */
  private def writeSketch(spark: SparkSession, dir: String, v: Int,
      regs: Seq[Int]): Unit = {
    import spark.implicits._
    Seq(regs).toDF("regs").coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"${hllRoot(dir)}/v=$v")
  }

  /** Initialize the store from a corpus. Returns the version written. */
  def build(docs: DataFrame, dir: String): Int = {
    val spark = docs.sparkSession
    deltaCounts(docs).write.mode(SaveMode.Overwrite)
      .parquet(s"${countsRoot(dir)}/v=1")
    writeSketch(spark, dir, 1, DistinctSketch.vocabSketch(docs))
    1
  }

  /** Merge a DELTA of newly-arrived documents into the standing counts.
    * One partial pass over the delta + one vocabulary-sized merge; the
    * corpus behind the standing state is not touched. */
  def update(deltaDocs: DataFrame, dir: String): Int = {
    val spark = deltaDocs.sparkSession
    import spark.implicits._
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no corpus stats at $dir — build first"))
    val merged = counts(spark, dir)
      .unionByName(deltaCounts(deltaDocs))
      .groupBy($"bigram").agg(sum($"n").as("n"))
    merged.write.mode(SaveMode.Overwrite)
      .parquet(s"${countsRoot(dir)}/v=${v + 1}")
    // Vocabulary sketch: registers merge by elementwise max — the delta
    // is sketched alone and folded into the standing 256 ints, the same
    // never-re-read-history contract as the counts. Read the sketch at
    // the PRIOR version explicitly: the counts for v+1 are already on
    // disk, so "latest" would point past the last written sketch.
    val mergedRegs = new graft.functions.HllAggregator().merge(
      graft.functions.HllBuf(readSketch(spark, dir, v).toArray),
      graft.functions.HllBuf(DistinctSketch.vocabSketch(deltaDocs).toArray)).regs
    writeSketch(spark, dir, v + 1,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(mergedRegs))
    v + 1
  }

  /** The standing bigram count table (latest version). */
  def counts(spark: SparkSession, dir: String): DataFrame = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no corpus stats at $dir — build first"))
    spark.read.parquet(s"${countsRoot(dir)}/v=$v")
  }

  /** Familiarity scoring of (possibly brand-new) documents against the
    * STANDING statistics — identical math to
    * [[TextAnalysis.bigramFamiliarityOf]] (mean-thresholded familiar
    * set, one exact int/int division, head/middle/tail buckets), with
    * the counts read from the store instead of recomputed. A micro-batch
    * scores against a 100 TB corpus's statistics by reading a
    * vocabulary-sized table. */
  def familiarityAgainst(docs: DataFrame, dir: String): DataFrame = {
    val spark = docs.sparkSession
    TextAnalysis.familiarityScore(docs, counts(spark, dir))
  }

  private def readSketch(spark: SparkSession, dir: String, v: Int): Seq[Int] =
    spark.read.parquet(s"${hllRoot(dir)}/v=$v").head().getSeq[Int](0)

  /** The standing vocabulary HLL registers (latest version). */
  def vocabRegisters(spark: SparkSession, dir: String): Seq[Int] = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no corpus stats at $dir — build first"))
    readSketch(spark, dir, v)
  }

  /** Distinct-unigram estimate of the whole corpus the store has seen —
    * read from 256 ints, never from data. ±6.5% standard error at
    * m = 256. */
  def vocabEstimate(spark: SparkSession, dir: String): Double =
    graft.functions.HllAggregator.estimate(vocabRegisters(spark, dir))
}
