package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull,
  IsNull, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.operators.SkippingIndex
import graft.operators.SkippingIndex.{ColumnEquals, ColumnNullness, ColumnRange}

/** The skipping index made TRANSPARENT: a DataFrame whose scan node
  * consults the index itself. `prunedRead` asks the caller to restate
  * their predicate as [[ColumnRange]]/[[ColumnEquals]]; here the
  * predicate the user already wrote (`.where($"k" === 42)`) arrives at
  * the scan as Catalyst's pushed-down data filters, and a custom
  * [[FileIndex]] — the same seam Delta's file index and Iceberg's
  * Spark scan plug into — translates the supported conjuncts and lists
  * only the files the index cannot rule out.
  *
  * Correctness contract (inherited from the index's pruner-never-
  * filter posture): the scan's OWN filters are untouched — Spark still
  * re-applies every predicate, including the ones the translation
  * ignored, to every surviving row. An unsupported filter shape, an
  * unindexed column, a file the index hasn't seen: each degrades to
  * reading more files, never to wrong rows. Parquet footer/row-group
  * pruning still applies after the file-level prune — `PushedFilters`
  * reach the parquet reader unchanged.
  *
  * 100 TB: `listFiles` costs one metadata-sized stats-table pass per
  * scan planning (same as `qualify`); the data plan is identical to an
  * explicit-path-list read of the qualifying files.
  */
object SkippingScan extends PredicateHelper {

  /** The indexed table as a DataFrame; filters on indexed columns
    * prune files inside the scan. `indexDir` must have been
    * [[SkippingIndex.build]]t. */
  def table(spark: SparkSession, indexDir: String): DataFrame = {
    val m = SkippingIndex.meta(spark, indexDir)
    tableWith(spark, indexDir, Tables.schemaOf(spark, m.table),
      candidates = None)
  }

  /** The relation with an explicit data schema and candidate file set
    * — the manifest-committed-table entry point (GraftTable): the
    * caller's live listing replaces the raw directory listing, and the
    * schema excludes layout-only partition columns its data files
    * don't carry. */
  private[graft] def tableWith(spark: SparkSession, indexDir: String,
      dataSchema: StructType,
      candidates: Option[() => Seq[org.apache.hadoop.fs.FileStatus]])
      : DataFrame = {
    val m = SkippingIndex.meta(spark, indexDir)
    val idx = new SkippingFileIndex(spark, indexDir, m.table, m.cols,
      m.bloomCols, candidates)
    val rel = HadoopFsRelation(idx, partitionSchema = StructType(Nil),
      dataSchema = dataSchema, bucketSpec = None, new ParquetFileFormat,
      options = Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(rel)
  }

  /** Translate the pushed data filters into the index's constraint
    * language. Only shapes the index can answer are kept: comparisons
    * and equalities between a BARE indexed column and a non-NULL
    * literal (a cast around the column means Spark decided the types
    * don't match — hashing/zoning the literal would be unsound).
    * Strict bounds widen to inclusive ones (a superset read; the
    * scan's own filter keeps strictness); IS [NOT] NULL on a
    * zone-indexed column prunes from the value counts. Everything
    * else — disjunctions, expressions over columns — is simply not
    * pruned on. */
  private[sources] def translate(filters: Seq[Expression],
      zoneCols: Set[String], bloomCols: Set[String])
      : (Seq[ColumnRange], Seq[ColumnEquals], Seq[ColumnNullness]) = {
    val conjuncts = filters.flatMap(splitConjunctivePredicates)
    def ext(l: Literal): Option[Any] =
      Option(l.value).map(CatalystTypeConverters.convertToScala(_, l.dataType))
    def zone(a: AttributeReference): Boolean = zoneCols.contains(a.name)
    def point(a: AttributeReference): Boolean =
      zone(a) || bloomCols.contains(a.name)
    val ranges = Seq.newBuilder[ColumnRange]
    val equals = Seq.newBuilder[ColumnEquals]
    val nulls = Seq.newBuilder[ColumnNullness]
    conjuncts.foreach {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, Some(v), None))
      case GreaterThan(a: AttributeReference, l: Literal) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, Some(v), None))
      case LessThanOrEqual(a: AttributeReference, l: Literal) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, None, Some(v)))
      case LessThan(a: AttributeReference, l: Literal) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, None, Some(v)))
      // literal-first spellings mirror: 10 <= a  ≡  a >= 10
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: AttributeReference) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, None, Some(v)))
      case LessThanOrEqual(l: Literal, a: AttributeReference) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, Some(v), None))
      case LessThan(l: Literal, a: AttributeReference) if zone(a) =>
        ext(l).foreach(v => ranges += ColumnRange(a.name, Some(v), None))
      case EqualTo(a: AttributeReference, l: Literal) if point(a) =>
        ext(l).foreach(v => equals += ColumnEquals(a.name, Seq(v)))
      case EqualTo(l: Literal, a: AttributeReference) if point(a) =>
        ext(l).foreach(v => equals += ColumnEquals(a.name, Seq(v)))
      case In(a: AttributeReference, vs) if point(a) &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val lits = vs.map(_.asInstanceOf[Literal]).flatMap(ext)
        // a NULL in the list contributes no match; the non-NULL rest
        // is still the complete set of matchable values
        if (lits.nonEmpty) equals += ColumnEquals(a.name, lits)
      case InSet(a: AttributeReference, vs) if point(a) =>
        val ext2 = vs.toSeq.filter(_ != null)
          .map(CatalystTypeConverters.convertToScala(_, a.dataType))
        if (ext2.nonEmpty) equals += ColumnEquals(a.name, ext2)
      case IsNull(a: AttributeReference) if zone(a) =>
        nulls += ColumnNullness(a.name, isNull = true)
      case IsNotNull(a: AttributeReference) if zone(a) =>
        nulls += ColumnNullness(a.name, isNull = false)
      case _ => // unsupported shape: no prune, the scan filter handles it
    }
    (ranges.result(), equals.result(), nulls.result())
  }

  // ---- q165: the transparent scan, hash-checked ----------------------

  private val builtFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q165: q158's selective-band rollup, but with the predicate written
    * as a PLAIN `.where` on the transparent table — no ColumnRange
    * restatement — so the prune happens inside the scan node via the
    * pushed data filters. Hash-checked against the same query on the
    * original table: the custom [[FileIndex]] must be semantically
    * invisible. */
  def q165TransparentScan(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = builtFor.computeIfAbsent(d, { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-tscan-").toString
      graft.sources.Tables.lineitem(spark, d)
        .repartitionByRange(8, org.apache.spark.sql.functions.col("l_partkey"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/table")
      SkippingIndex.build(spark, s"$root/table", s"$root/index",
        cols = Seq("l_partkey"), bloomCols = Seq("l_orderkey"))
      root
    })
    table(spark, s"$dir/index")
      .where(col("l_partkey").between(60L, 159L))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("orders"))
      .orderBy(col("l_returnflag"))
  }

  val q165Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       count(DISTINCT l_orderkey) AS orders
      |FROM lineitem
      |WHERE l_partkey BETWEEN 60 AND 159
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Same teardown contract as the sibling stores. */
  def clearSessionState(): Unit = {
    graft.operators.StoreIO.deleteLocalDirs(builtFor.values)
    builtFor.clear()
  }
}

/** [[FileIndex]] over a [[SkippingIndex]]-indexed parquet directory:
  * `listFiles` keeps only files whose zones/blooms can match the
  * pushed data filters, plus every live file the index has no row for
  * (conservative under ingest — the [[SkippingIndex.refresh]]
  * contract). Non-partitioned: the table's layout IS the prune
  * dimension here; hidden-partition pruning is the F1-family's job.
  *
  * `candidates` overrides the candidate file set (default: a fresh
  * recursive listing of the table directory). A manifest-committed
  * caller (GraftTable) passes its LIVE file listing, so the
  * read-committed guarantee composes with the prune: an uncommitted
  * orphan never reaches the scan even though the raw listing — and
  * the "unknown files are read conservatively" rule — would admit it. */
class SkippingFileIndex(spark: SparkSession, indexDir: String,
    tablePath: String, zoneCols: Seq[String], bloomCols: Seq[String],
    candidates: Option[() => Seq[FileStatus]] = None)
    extends FileIndex {

  override val rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def partitionSchema: StructType = StructType(Nil)

  private def norm(s: String): String = new Path(s).toUri.toString

  /** Fresh candidate set per call: the live directory (or the
    * caller's manifest), not the index, names the candidate set
    * (vanished files drop out, new files appear and are read
    * conservatively until refreshed). */
  private def allFiles(): Seq[FileStatus] = candidates match {
    case Some(f) => f()
    case None =>
      val root = new Path(tablePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) return Seq.empty
      val it = fs.listFiles(root, true)
      val out = Seq.newBuilder[FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") ||
            f.getPath.getName.startsWith("part-"))
          out += f
      }
      out.result()
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (ranges, equalities, nullness) = SkippingScan.translate(dataFilters,
      zoneCols.toSet, bloomCols.toSet)
    val files = allFiles()
    val selected =
      if (ranges.isEmpty && equalities.isEmpty && nullness.isEmpty) files
      else {
        val (qualifying, unknown) =
          SkippingIndex.qualify(spark, indexDir, ranges, equalities, nullness)
        val keep = (qualifying ++ unknown).toSet
        files.filter(f => keep.contains(norm(f.getPath.toString)))
      }
    Seq(PartitionDirectory(InternalRow.empty, selected.toArray))
  }

  override def inputFiles: Array[String] =
    allFiles().map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = allFiles().map(_.getLen).sum
}
