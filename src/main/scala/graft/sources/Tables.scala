package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TESTDATA parquet tables.
  *
  * All queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read the
  * single-file parquet tables inside. Each read is
  * `spark.read.schema(s).parquet(path)` with `s` from [[schemaOf]], so
  * Catalyst's parquet source still handles column pruning + filter
  * pushdown and every load is a fresh relation with fresh attribute
  * ids, but Spark's schema inference (a one-task footer-reading job)
  * runs once per table instead of once per load — the way a catalog
  * serves a table's schema from metadata. At 100 TB these would be
  * partitioned/bucketed external tables, but the query code is
  * identical — only the path/catalog binding changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  // Only the inferred StructType is memoized (16 entries, LRU), never a
  // DataFrame: a shared frame would share attribute ids, and self-joins
  // plus the plan-keyed caches need a fresh relation per load.
  private val schemas =
    new graft.util.PlanCache[(SparkSession, String, Seq[(String, Long, Long)],
      Seq[(String, String)]), StructType](
      maxEntries = 16, onEvict = _ => (), name = "sourceSchemas")

  /** The schema `spark.read.parquet(path)` infers, memoized on (session,
    * path, the sorted (file, length, mtime) of its leaf files, the
    * session's parquet confs). A rewritten or regrown table therefore
    * re-infers, and so does a read under a different parquet conf
    * (`Tables.events` depends on `spark.sql.legacy.parquet.nanosAsLong`
    * to resolve a nanos `ts` as long). Not detected: a rewrite that
    * keeps every file's length within one mtime tick of the
    * filesystem. A missing path is not memoized — the inference fails
    * as before. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val stamps =
      try leafFiles(spark, path)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sortBy(_._1)
      catch { case _: java.io.FileNotFoundException => Nil }
    val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
    schemas.getOrElseUpdate((spark, path, stamps, confs))(
      spark.read.parquet(path).schema)
  }

  /** Every file under `path` (the path itself if it is a file). */
  private def leafFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(root)
    if (st.isFile) Seq(st)
    else {
      val it = fs.listFiles(root, true)
      val out = Seq.newBuilder[FileStatus]
      while (it.hasNext) out += it.next()
      out.result()
    }
  }

  /** A table's row count from its parquet FOOTERS — driver-side, no
    * Spark job. For config decisions that only need n (e.g. q24's IVF
    * sizing), a full `count()` pre-pass is an extra table scan per
    * invocation; the footers already carry the answer (file-count-
    * bounded metadata reads — the same budget a catalog's row-count
    * stat would cost). Handles both a single parquet file and a
    * directory of part files. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    leafFiles(spark, s"$sfDir/$name.parquet")
      .filter(f => f.getPath.getName.endsWith(".parquet") ||
        f.getPath.getName.startsWith("part-"))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  /** `events.ts` has shipped under two physical schemas across data
    * regenerations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read nanos as long via the legacy flag, then
    * convert) and plain TIMESTAMP(MICROS)/NTZ (read natively). Branch on
    * the resolved schema so either generation of TESTDATA loads, and
    * normalize NTZ → session-local TimestampType so downstream
    * `unix_micros`/window arithmetic and the DuckDB oracle agree. */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, d, "events"))
  }

  /** Normalize whichever physical `ts` representation was read into a
    * session-local TimestampType column. Works on batch and streaming
    * DataFrames alike (pure schema inspection + projection). */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` is integral long division: `floor(ts / 1000)` would route
        // through a double, whose 53-bit mantissa can't hold an epoch-ns
        // value (~1.7e18) — timestamps came out up to ~256 ns off, visible
        // the moment a query emits raw microsecond values.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Reinterpret the wall-clock value as UTC-instant micros so
        // unix_micros() yields the same integers DuckDB computes from the
        // parquet µs values (sessions run in UTC; conversion is exact).
        raw.withColumn("ts", to_timestamp(col("ts")))
      case _ => raw // already TimestampType
    }
  /** The pipeline tables get the same regeneration insurance as
    * `events` (round-7 postmortem: a silent physical-type flip in
    * driver-regenerated TESTDATA redded 18 queries): pin the columns
    * the operators rely on to their expected types. On already-correct
    * data every cast is an identity and Catalyst erases it — zero plan
    * cost; on a regenerated int32/double variant the queries keep
    * running instead of failing analysis. */
  def documents(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "documents")
    raw
      .withColumn("doc_id", col("doc_id").cast("long"))
      .withColumn("n_chars", col("n_chars").cast("long"))
  }
  def embeddings(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "embeddings")
    raw
      .withColumn("vec_id", col("vec_id").cast("long"))
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("label", col("label").cast("int"))
  }
}
