package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** A FILE-GRAIN zone-map index: per-file min/max/value-count stats for
  * chosen columns, persisted once and consulted at read time to scan
  * only the files a range predicate can possibly match. Columns named
  * in `bloomCols` additionally get a per-file Bloom filter
  * ([[graft.functions.BloomAggregator]]) so POINT probes (`col = v`,
  * `col IN (...)`) prune on layouts where zones cannot — a
  * hash-scattered high-cardinality key leaves every zone full-width,
  * but its per-file membership bits still answer "might v be here".
  *
  * This is the READ-side payoff of the data-layout family: q136 audits
  * whether file key-zones overlap, `functions/ZOrder` is the rewrite
  * that un-overlaps them, and the reference's `$files`-table queries
  * (handler equivalents in queries/Metadata.scala) expose exactly these
  * per-file stats — Iceberg/Delta keep them in manifests and prune
  * scans with them. Plain parquet directories get no such pruning from
  * Spark (row-group stats only kick in AFTER every footer is opened);
  * at 100 TB the footer-open pass alone is ~800k object reads. The
  * standing index replaces it with one metadata-sized scan.
  *
  * Correctness posture — the index is a PRUNER, never a filter:
  *  - the predicate is re-applied to the surviving rows, so a stale or
  *    coarse zone can only cost I/O, not rows;
  *  - files present in the directory but NOT in the index (appended
  *    since the last [[refresh]]) are always read — conservative under
  *    ingest;
  *  - indexed files no longer present (compacted/expired away) are
  *    ignored — the live listing, not the index, names the scan set;
  *  - a file whose zone is NULL (every row NULL in that column) is
  *    skipped for a range predicate: a range never matches NULL — the
  *    same contract as the interval family's NULL-bound drop.
  *
  * 100 TB: the stats table is file-count-sized (~800k rows for 128 MB
  * files — kilobytes per TB); [[build]] is one partial agg over the
  * table keyed by `_metadata.file_path`; [[refresh]] re-stats only the
  * DELTA of unindexed files. Qualifying paths are collected on the
  * driver (a string list over the matched subset); `maxListedFiles`
  * caps that list — past the cap the scan falls back to the full
  * directory read with the same predicate, because a prune that keeps
  * most files wasn't going to win anyway.
  */
object SkippingIndex {

  private def statsPath(dir: String) = s"$dir/stats"
  private def metaPath(dir: String) = s"$dir/_meta.json"

  /** An inclusive range predicate on one indexed column; `None` bounds
    * are open. Values must be of (or comparable by Spark's `lit` to)
    * the column's type: numbers, strings, java.sql.Date / Timestamp. */
  final case class ColumnRange(column: String, lo: Option[Any],
      hi: Option[Any]) {
    require(lo.nonEmpty || hi.nonEmpty,
      s"range on '$column' must bound at least one side")
  }

  /** A point/IN predicate (`column = v1 OR column = v2 ...`) on one
    * indexed column. Zones answer it where the layout clusters the
    * column; a Bloom-indexed column answers it on ANY layout — the
    * case zones structurally cannot prune. NULL values are rejected:
    * equality never matches NULL (use the `nn_` stats for IS NULL). */
  final case class ColumnEquals(column: String, values: Seq[Any]) {
    require(values.nonEmpty, s"equality on '$column' needs >= 1 value")
    require(values.forall(_ != null),
      s"equality on '$column' cannot probe NULL (col = NULL matches nothing)")
  }

  /** An IS [NOT] NULL predicate on one zone-indexed column, answered
    * from the `nn_` value counts: a file with no NULLs in the column
    * cannot match IS NULL; a file that is all-NULL (or empty) cannot
    * match IS NOT NULL. Spark pushes IsNotNull alongside almost every
    * comparison, so the transparent scan gets this prune for free. */
  final case class ColumnNullness(column: String, isNull: Boolean)

  // Shared store plumbing: Hadoop-FS metadata I/O and the F8
  // column-name allowlist.
  import StoreIO.{readString, requireColName, writeString}

  /** Per-file stats for `cols` over the parquet table at `tablePath`,
    * as one partial aggregation keyed by the hidden `_metadata`
    * column — no listing job, no per-file read amplification. */
  private def statsOf(spark: SparkSession, tablePath: String,
      cols: Seq[String], bloomCols: Seq[String], bloomBits: Int,
      only: Option[Seq[String]]): DataFrame = {
    // `only` (the refresh delta) is read as an EXPLICIT path list — the
    // stat job touches just the new files, not the standing table
    val table = only.fold(spark.read.parquet(tablePath))(paths =>
      spark.read.option("basePath", tablePath).parquet(paths: _*))
    (cols ++ bloomCols).foreach { c =>
      require(table.columns.contains(c), s"column '$c' not in $tablePath")
    }
    // the bloom ingests xxhash64(col): hash of a NULL row is the bare
    // seed — a harmless extra key (equality never probes NULL, and a
    // spurious bit costs at most a false positive, i.e. I/O)
    val bloomAgg =
      if (bloomCols.isEmpty) None
      else Some(udaf(new graft.functions.BloomAggregator(bloomBits)))
    table.groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("row_count"),
        cols.flatMap(c => Seq(
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"),
          count(col(c)).as(s"nn_$c"))) ++
        bloomCols.map(c =>
          bloomAgg.get(xxhash64(col(c))).as(s"bloom_$c")): _*)
  }

  /** Bits for an AUTO-sized bloom: the next power of two ≥ 10× the
    * largest observed rows-per-file among the files being statted
    * (~10 bits/key at K=7 ≈ 1% FP), clamped to [2^17, 2^27] (16 KB –
    * 16 MB per file — the upper end is parquet's own per-file bloom
    * budget). Derived from the parquet FOOTERS of exactly the delta
    * being indexed: driver-side and delta-bounded, and the caller just
    * wrote these files (the StoreIO.dirRowCount argument — READ
    * planning stays footer-free; index maintenance may price its own
    * delta). The r16 motivation: a fixed 2^17 was 4× saturated at
    * 545k-row files and false-positived its prune away until
    * hand-tuned (SCALE.md) — sizing from observed rows removes the
    * hand-tuning. */
  private def autoBloomBits(spark: SparkSession, paths: Seq[String]): Int = {
    var maxRows = 0L
    paths.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
            spark.sparkContext.hadoopConfiguration))
        try maxRows = math.max(maxRows, r.getRecordCount)
        finally r.close()
      } catch { case _: Exception => () } // vanished/unreadable: skip
    }
    val want = 10L * math.max(1L, maxRows)
    val pow2 = java.lang.Long.highestOneBit(math.max(1L, want - 1)) * 2
    math.min(1L << 27, math.max(1L << 17, pow2)).toInt
  }

  /** The per-call bloom width: an explicit power of two is used as-is;
    * 0 (AUTO, the default policy) derives from the statted files. */
  private def resolveBits(spark: SparkSession, bloomCols: Seq[String],
      bloomBits: Int, paths: => Seq[String]): Int =
    if (bloomCols.isEmpty || bloomBits > 0) bloomBits
    else autoBloomBits(spark, paths)

  /** Build (or rebuild) the index over the parquet table at
    * `tablePath`. `cols` are the skippable columns — in production the
    * ones the layout is clustered by (q136/ZOrder), because zones of a
    * randomly-laid-out column all overlap and prune nothing (still
    * correct, measured in the spec). `bloomBits = 0` (the default)
    * AUTO-sizes each build/refresh's blooms from the observed
    * rows-per-file ([[autoBloomBits]]); an explicit power of two pins
    * the width. Mixed widths across refreshes are fine — probes derive
    * the mask from each stored array's own length. */
  def build(spark: SparkSession, tablePath: String, dir: String,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBits: Int = 0,
      only: Option[Seq[String]] = None): Unit = {
    require(cols.nonEmpty || bloomCols.nonEmpty, "at least one indexed column")
    (cols ++ bloomCols).foreach(requireColName)
    if (bloomCols.nonEmpty)
      require(bloomBits == 0 ||
        (bloomBits >= 64 && (bloomBits & (bloomBits - 1)) == 0),
        s"bloomBits must be 0 (auto) or a power of two >= 64 (got $bloomBits)")
    // `only` restricts the stat job to an explicit file list — a
    // manifest-committed caller passes its LIVE set so superseded or
    // orphaned files still on disk aren't statted as dead weight
    val bits = resolveBits(spark, bloomCols, bloomBits,
      only.getOrElse(listDataFiles(spark, tablePath).toSeq))
    statsOf(spark, tablePath, cols, bloomCols, bits, only)
      .write.mode(SaveMode.Overwrite).parquet(statsPath(dir))
    writeString(spark, metaPath(dir),
      StoreIO.renderJson { o =>
        o.put("table", tablePath)
        StoreIO.putArr(o, "cols", cols)
        StoreIO.putArr(o, "bloomCols", bloomCols)
        // the POLICY is persisted (0 = auto), not a resolved width:
        // every refresh re-derives for its own delta
        o.put("bloomBits", bloomBits); ()
      }, atomic = false)
  }

  /** Re-stat ONLY files the index does not know yet (delta-sized, the
    * incremental-ingest path) and append them. Vanished files need no
    * action — reads ignore them. `candidates` restricts the discovery
    * set (a manifest-committed caller passes its LIVE files, so
    * superseded or orphaned directories still on disk are never
    * statted — without it, a refresh after an only=live build would
    * re-ingest the dead files as a table-sized stat job). Returns the
    * number of files added. */
  def refresh(spark: SparkSession, dir: String,
      candidates: Option[Set[String]] = None): Int = {
    val m = meta(spark, dir)
    val have = spark.read.parquet(statsPath(dir))
      .select("file").collect().map(r => normPath(r.getString(0))).toSet
    val unknown = candidates.map(_.map(normPath))
      .getOrElse(listDataFiles(spark, m.table))
      .filterNot(have).toSeq
    if (unknown.nonEmpty) {
      // auto policy (bloomBits=0): width derived from THIS refresh's
      // delta files, so growing files get growing blooms with no
      // hand-tuned knob
      val bits = resolveBits(spark, m.bloomCols, m.bloomBits, unknown)
      // checkpoint: the delta stats are consumed twice (the statted-set
      // collect below and the append write) — the stat job over the
      // new files must run once, or "delta-sized" is a half-truth
      val delta = statsOf(spark, m.table, m.cols, m.bloomCols, bits,
        only = Some(unknown))
        .localCheckpoint()
      // a ZERO-ROW file produces no aggregation row, but must still be
      // recorded or every later refresh re-discovers it; its NULL zones
      // are correct — no range can match a file with no rows, so
      // qualify() skips it like an all-NULL zone
      val statted = delta.select("file").collect()
        .map(r => normPath(r.getString(0))).toSet
      val empties = unknown.filterNot(statted)
      val complete = if (empties.isEmpty) delta else {
        val emptyRows = empties.map { f =>
          org.apache.spark.sql.Row.fromSeq(
            f +: 0L +: (m.cols.flatMap(_ => Seq(null, null, 0L)) ++
              // an empty file's bloom is all-zero: every probe misses,
              // so the file is skipped — correct, it has no rows
              m.bloomCols.map(_ => new Array[Byte](bits / 8))))
        }
        delta.unionByName(spark.createDataFrame(
          new java.util.ArrayList(
            scala.jdk.CollectionConverters.SeqHasAsJava(emptyRows).asJava),
          delta.schema))
      }
      complete.write.mode(SaveMode.Append).parquet(statsPath(dir))
    }
    unknown.size
  }

  /** The files a conjunction of ranges may match, per the index: zones
    * intersecting every range, plus every live file the index has no
    * row for. NULL zones (all-NULL column in that file) drop out of the
    * comparison — a range predicate cannot match NULL. `schema` is the
    * table's schema when the caller holds one (a GraftTable commit's
    * pin); without it a bloom probe looks its column's type up through
    * [[graft.sources.Tables.schemaOf]]. */
  private[graft] def qualify(spark: SparkSession, dir: String,
      ranges: Seq[ColumnRange], equalities: Seq[ColumnEquals] = Nil,
      nullness: Seq[ColumnNullness] = Nil, schema: Option[StructType] = None)
      : (Seq[String], Seq[String]) = {
    val m = meta(spark, dir)
    ranges.foreach(r => require(m.cols.contains(r.column),
      s"column '${r.column}' is not indexed (have: ${m.cols.mkString(",")})"))
    equalities.foreach(e => require(
      m.cols.contains(e.column) || m.bloomCols.contains(e.column),
      s"column '${e.column}' is not indexed (zones: ${m.cols.mkString(",")};" +
        s" blooms: ${m.bloomCols.mkString(",")})"))
    nullness.foreach(n => require(m.cols.contains(n.column),
      s"column '${n.column}' has no value-count stats " +
        s"(zone-indexed: ${m.cols.mkString(",")})"))
    val rangeHits = ranges.map { r =>
      val lo = r.lo.map(v => col(s"max_${r.column}") >= lit(v))
      val hi = r.hi.map(v => col(s"min_${r.column}") <= lit(v))
      (lo ++ hi).reduce(_ && _)
    }
    // Equality verdicts: the zone test (value inside [min,max]) where
    // the column has zones, AND the Bloom membership test where it has
    // a bloom — on a scattered layout the zone test is always true and
    // the bloom is the only thing that prunes. Literal hashes are
    // computed ONCE on the driver through the same xxhash64, cast to
    // the table's column type so build-time and probe-time bits agree.
    val eqHits = equalities.map { e =>
      val zone =
        if (!m.cols.contains(e.column)) None
        else Some(e.values.map(v =>
          col(s"min_${e.column}") <= lit(v) &&
            col(s"max_${e.column}") >= lit(v)).reduce(_ || _))
      val bloom =
        if (!m.bloomCols.contains(e.column)) None
        else literalHashes(spark, columnType(spark, m.table, e.column, schema),
            e.values).map { hashes =>
          // None = an uncastable probe value: no bloom verdict (the
          // zone test, if any, still prunes; the exact predicate is
          // re-applied either way)
          val hit = udf((b: Array[Byte]) => b == null ||
            hashes.exists(graft.functions.BloomAggregator.mightContain(b, _)))
          hit(col(s"bloom_${e.column}"))
        }
      // both verdicts unavailable (bloom-only column, uncastable
      // probe): no file-level opinion — every file qualifies
      (zone ++ bloom).reduceOption(_ && _).getOrElse(lit(true))
    }
    // nullness verdicts from the value counts; an empty file (0 rows)
    // matches neither IS NULL nor IS NOT NULL
    val nullHits = nullness.map { n =>
      if (n.isNull) col("row_count") > col(s"nn_${n.column}")
      else col(s"nn_${n.column}") > 0L
    }
    val zoneHit = (rangeHits ++ eqHits ++ nullHits).reduce(_ && _)
    // one control-plane pass over the file-count-sized stats table:
    // every indexed file with its zone verdict
    val verdicts = spark.read.parquet(statsPath(dir))
      .select(col("file"), coalesce(zoneHit, lit(false)).as("hit"))
      .collect().map(r => normPath(r.getString(0)) -> r.getBoolean(1)).toMap
    val live = listDataFiles(spark, m.table)
    val unknown = live.filterNot(verdicts.contains)
    val qualifying = live.filter(f => verdicts.getOrElse(f, false))
    (qualifying.toSeq, unknown.toSeq)
  }

  /** `_metadata.file_path` strings and Hadoop listing paths must compare
    * equal whatever slash convention each renders (`file:/x` vs
    * `file:///x`); route both through one URI normalization. */
  private def normPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.toString

  private def columnType(spark: SparkSession, tablePath: String, column: String,
      schema: Option[StructType]): DataType =
    schema.getOrElse(graft.sources.Tables.schemaOf(spark, tablePath))
      .find(_.name == column)
      .getOrElse(throw new IllegalArgumentException(
        s"column '$column' not in $tablePath")).dataType

  /** xxhash64 of each probe literal, cast to the table column's type
    * `dt` — an Int literal probing a BIGINT column must hash the LONG,
    * or no build-time bit would ever match. The `Cast` (session time
    * zone and ANSI mode, as in a query) and the `XxHash64` (the seed
    * `functions.xxhash64` uses) are evaluated on the driver: no job,
    * no table data touched. Under ANSI an uncastable value throws.
    *
    * Returns None when ANY non-null probe value's cast NULLs out
    * (e.g. "abc" probing an INT column, non-ANSI): xxhash64(NULL) is
    * the bare seed, and a seed-bit miss would silently prune files the
    * re-applied, engine-coerced predicate could still match — the
    * caller must fall back to the zone-only verdict. NULL probe
    * values themselves are dropped: equality never matches NULL, so
    * they cannot widen the file set. */
  private[operators] def literalHashes(spark: SparkSession, dt: DataType,
      values: Seq[Any]): Option[Seq[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal, XxHash64}
    val conf = spark.sessionState.conf
    val cast = values.filter(_ != null).map { v =>
      val c = Cast(Literal(v), dt, Some(conf.sessionLocalTimeZone),
        EvalMode.fromSQLConf(conf))
      require(c.checkInputDataTypes().isSuccess,
        s"cannot cast probe value $v (${c.child.dataType.simpleString}) to ${dt.simpleString}")
      c.eval()
    }
    if (cast.contains(null)) None
    else Some(cast.map(v => XxHash64(Seq(Literal(v, dt)), 42L).eval().asInstanceOf[Long]))
  }

  /** The table filtered by `ranges`, reading only files the index
    * cannot rule out. Semantically identical to
    * `spark.read.parquet(table).where(ranges)` — the predicate is
    * re-applied after the prune (spec- and oracle-pinned). */
  def prunedRead(spark: SparkSession, dir: String,
      ranges: Seq[ColumnRange], maxListedFiles: Int): DataFrame =
    prunedRead(spark, dir, ranges, Nil, Nil, maxListedFiles)

  /** The EXACT row filter a constraint set denotes — what every pruned
    * read re-applies after the file-level prune. */
  private[graft] def predicateOf(ranges: Seq[ColumnRange],
      equalities: Seq[ColumnEquals],
      nullness: Seq[ColumnNullness]): org.apache.spark.sql.Column =
    (ranges.map { r =>
      val lo = r.lo.map(v => col(r.column) >= lit(v))
      val hi = r.hi.map(v => col(r.column) <= lit(v))
      (lo ++ hi).reduce(_ && _)
    } ++ equalities.map(e => col(e.column).isin(e.values: _*))
      ++ nullness.map(n =>
        if (n.isNull) col(n.column).isNull else col(n.column).isNotNull))
      .reduce(_ && _)

  def prunedRead(spark: SparkSession, dir: String, ranges: Seq[ColumnRange],
      equalities: Seq[ColumnEquals] = Nil,
      nullness: Seq[ColumnNullness] = Nil,
      maxListedFiles: Int = 100000): DataFrame = {
    require(ranges.nonEmpty || equalities.nonEmpty || nullness.nonEmpty,
      "at least one constraint (use a plain read otherwise)")
    val m = meta(spark, dir)
    val pred = predicateOf(ranges, equalities, nullness)
    val (qualifying, unknown) =
      qualify(spark, dir, ranges, equalities, nullness)
    val paths = qualifying ++ unknown
    if (paths.isEmpty) {
      // nothing can match; keep the schema without touching data files
      spark.read.parquet(m.table).where(lit(false)).where(pred)
    } else if (paths.size > maxListedFiles) {
      // a prune keeping this many files wasn't going to win; don't ship
      // a huge explicit list through the driver
      spark.read.parquet(m.table).where(pred)
    } else {
      spark.read.option("basePath", m.table).parquet(paths: _*).where(pred)
    }
  }

  /** Index health for dashboards: indexed/live file counts, row
    * totals, and per-column NULL counts (the `nn_` value-count stats —
    * the same per-column shape the Analyze store serves, and the
    * signal for whether an IS NULL predicate would even be worth a
    * skipping rule). */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    val m = meta(spark, dir)
    val live = listDataFiles(spark, m.table).size
    val aggs = Seq(count(lit(1)).as("indexed_files"),
      lit(live).cast("long").as("live_files"),
      sum(col("row_count")).as("indexed_rows")) ++
      m.cols.map(c =>
        sum(col("row_count") - col(s"nn_$c")).as(s"nulls_$c"))
    spark.read.parquet(statsPath(dir)).agg(aggs.head, aggs.tail: _*)
  }

  // ---- plumbing (Hadoop FileSystem, same portability contract as
  // IntervalIndexStore: the table and the index may live anywhere
  // Spark can read parquet from) --------------------------------------

  private def listDataFiles(spark: SparkSession, tablePath: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Set.empty
    val it = fs.listFiles(p, true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") || f.getName.startsWith("part-"))
        out += normPath(f.toString)
    }
    out.result()
  }

  private[graft] case class Meta(table: String, cols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int)

  private[graft] def meta(spark: SparkSession, dir: String): Meta = {
    val n = StoreIO.parseJson(readString(spark, metaPath(dir)))
    Meta(
      StoreIO.jStr(n, "table").getOrElse(
        sys.error(s"SkippingIndex meta at $dir has no 'table'")),
      StoreIO.jArr(n, "cols").getOrElse(Nil),
      StoreIO.jArr(n, "bloomCols").getOrElse(Nil),
      StoreIO.jLong(n, "bloomBits").getOrElse(0L).toInt)
  }

  // ---- q158: the skipping scan, hash-checked against a full scan ----

  private val builtFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q158: a selective partkey-band revenue rollup served through the
    * index over a RANGE-CLUSTERED copy of lineitem (8 files keyed by
    * `l_partkey` — the layout ZOrder/q142 produce). The DuckDB oracle
    * states the same query on the original table, so a green hash
    * proves the prune path is semantically invisible; the SPEC pins
    * that it actually pruned (scan reads ≤ 2 of the 8 files). */
  def q158SkippingScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = builtFor.computeIfAbsent(d, { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-skip-").toString
      graft.sources.Tables.lineitem(spark, d)
        .repartitionByRange(8, $"l_partkey")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
      build(spark, s"$root/table", s"$root/index", Seq("l_partkey"))
      root
    })
    prunedRead(spark, s"$dir/index",
      Seq(ColumnRange("l_partkey", Some(100L), Some(299L))))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy($"l_returnflag")
  }

  val q158Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 299
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q161: a TWO-column conjunction through the index over a Z-ORDERED
    * copy of lineitem (`functions/ZOrder` interleaves l_partkey and
    * l_suppkey, so BOTH columns' per-file zones are narrow — the whole
    * point of rewrite-with-sort-order). Hash-checked against the same
    * query on the original table; the SPEC contrasts layouts: a
    * single-column sort prunes only its own column, the z-order prunes
    * on either. */
  def q161ZOrderScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = builtFor.computeIfAbsent("z:" + d, { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-skipz-").toString
      val li = graft.sources.Tables.lineitem(spark, d)
      val z = graft.functions.ZOrder.zvalueOf(li, Seq("l_partkey", "l_suppkey"))
      li.withColumn("__z", z)
        .repartitionByRange(8, $"__z").drop("__z")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
      build(spark, s"$root/table", s"$root/index",
        Seq("l_partkey", "l_suppkey"))
      root
    })
    prunedRead(spark, s"$dir/index",
      Seq(ColumnRange("l_partkey", Some(20L), Some(59L)),
        ColumnRange("l_suppkey", Some(2L), Some(5L))))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q161Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 20 AND 59 AND l_suppkey BETWEEN 2 AND 5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q164: a point probe (`l_orderkey IN (...)`) through the BLOOM side
    * of the index over a HASH-SCATTERED copy of lineitem — the layout
    * where every file's min/max zone spans the whole key range and the
    * zone map structurally prunes nothing. The Bloom bits don't care
    * about layout: an order's ~4 line items land in at most 4 of the
    * 32 files, and only files that might contain one of the probed
    * keys are read — at ANY scale factor, because rows-per-order is a
    * TPC-H constant while the file count grows with the table. The
    * DuckDB oracle states the same query on the original table (a
    * green hash proves false positives cost I/O only, never rows);
    * the SPEC pins that it actually pruned. */
  def q164BloomScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = builtFor.computeIfAbsent("b:" + d, { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-skipb-").toString
      graft.sources.Tables.lineitem(spark, d)
        .repartition(32, $"l_partkey") // scatters l_orderkey across files
        .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
      build(spark, s"$root/table", s"$root/index",
        cols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      root
    })
    prunedRead(spark, s"$dir/index", ranges = Nil,
      equalities = Seq(ColumnEquals("l_orderkey", Seq(42L, 1337L))))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q164Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE l_orderkey IN (42, 1337)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Same teardown contract as [[IntervalIndexStore.clearSessionState]]. */
  def clearSessionState(): Unit = {
    StoreIO.deleteLocalDirs(builtFor.values)
    builtFor.clear()
  }
}
