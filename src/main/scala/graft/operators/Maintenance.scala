package graft.operators

import java.sql.Timestamp

import scala.collection.immutable.ArraySeq

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{MetaStore, Model}

/** Spark-native maintenance procedures — the reference runs these as
  * Trino `ALTER TABLE … EXECUTE` / Spark `CALL system.*` in external
  * engines (SURVEY.md §2.9); here they are plain Spark jobs in the same
  * JVM.
  *
  *  - M1 compact: binpack-style small-file rewrite of a partition range
  *    (reference maintenance.py:153-179, defaults 512 MB target,
  *    service_tasks.go:206)
  *  - M2 expireSnapshots: drop snapshots older than a cutoff, always
  *    keeping the current snapshot's ancestor chain
  *    (service_maintenance_executor_trino.go:138-158; 7-day clamp
  *    service_tasks.go:92-95)
  *  - M3 removeOrphanFiles: distributed FS listing anti-joined against
  *    the manifest, delete files older than the cutoff
  *    (service_maintenance_executor_trino.go:160-193)
  *  - M4 rollbackToSnapshot: move the current pointer and rebuild
  *    partition stats from that snapshot's manifest
  *    (service_iceberg_mutations.go:37-48)
  */
object Maintenance {

  final case class CompactResult(
      partitionsRewritten: Long, filesBefore: Long, filesAfter: Long,
      bytesRewritten: Long)

  /** M1: compact a day-range of a date-partitioned parquet table
    * (dirs `.../date=YYYY-MM-DD/`). Rewrites only the selected
    * partitions via dynamic partition overwrite; file count per
    * partition is ceil(bytes/targetFileBytes) (binpack). The rewrite is
    * one distributed job: rows are bucketed to their target file by
    * (partition, hash % nFiles) so no executor needs a whole partition
    * in memory.
    */
  def compact(spark: SparkSession, tablePath: String, from: String, until: String,
      targetFileBytes: Long, minInputFiles: Int = 2,
      sortCols: Seq[String] = Seq.empty,
      zorderCols: Seq[String] = Seq.empty): CompactResult = {
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "choose either sort clustering or z-order clustering, not both")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the partition dirs, from a one-level listing
    val days = fs.listStatus(new Path(tablePath)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .map(s => (s.getPath.getName.stripPrefix("date="), s.getPath))
    rewriteDays(spark, fs, tablePath, days, from, until, targetFileBytes,
      minInputFiles, spark.read.parquet(tablePath), "date", Seq("date"),
      sortCols, zorderCols)
  }

  /** Exact one-shuffle-partition-per-target-file distribution for the
    * binpack rewrite: each (partition dir, bucket) pair maps to its own
    * shuffle partition through an identity partitioner on a precomputed
    * global ordinal. Hash repartitioning into N partitions for N
    * distinct buckets collides some pairs into shared tasks (birthday
    * bound), merging target files into double-size outputs and leaving
    * other tasks empty; a bare `repartition(cols)` additionally lets
    * AQE coalesce below the target count. The explicit RDD partitioner
    * is the one place the DataFrame API can't express the physical
    * requirement. */
  private def partitionByOrdinal(df: DataFrame, dateCol: String,
      targets: Map[String, Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var running = 0L
    val offsets = targets.toSeq.sortBy(_._1).map { case (d, n) =>
      val o = running; running += n; (d, o)
    }
    val total = math.max(1L, running).toInt
    val offsetsDf = offsets.toDF(dateCol, "__off")
    val keyed = df.join(broadcast(offsetsDf), dateCol)
      .withColumn("__ord", col("__off") + col("__bucket"))
      .drop("n_files", "__bucket", "__off")
    val schema = keyed.schema
    val rows = keyed.rdd.map(r => (r.getAs[Long]("__ord"), r))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = total
        override def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
      }).values
    spark.createDataFrame(rows, schema).drop("__ord")
  }

  /** Layout-dispatching compaction: flat `date=` partition dirs go
    * through [[compact]], the nested `year=/month=/day=` hidden-day
    * layout through [[compactNested]]. The worker calls this — a task
    * for a layout the flat matcher can't see must not complete as a
    * silent success with zero rewrites. */
  def compactAuto(spark: SparkSession, tablePath: String, from: String,
      until: String, targetFileBytes: Long, minInputFiles: Int = 2): CompactResult = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
    if (top.exists(_.startsWith("year=")) && !top.exists(_.startsWith("date=")))
      compactNested(spark, tablePath, from, until, targetFileBytes, minInputFiles)
    else
      compact(spark, tablePath, from, until, targetFileBytes, minInputFiles)
  }

  /** M1 variant for the reference's hidden day-transform layout: a
    * table partitioned as `year=YYYY/month=MM/day=DD` (the expanded
    * day(col) transform, iceberg_client.go:476-496). Same binpack
    * semantics as [[compact]]; partition dirs are discovered by walking
    * the three levels and filtering to the [from, until) day range —
    * the walk touches only directory metadata, never data files. */
  def compactNested(spark: SparkSession, tablePath: String, from: String,
      until: String, targetFileBytes: Long, minInputFiles: Int = 2): CompactResult = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subdirs(p: Path, prefix: String): Seq[Path] =
      fs.listStatus(p).toSeq.filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(_.getPath)
    val days = for {
      y <- subdirs(new Path(tablePath), "year=")
      m <- subdirs(y, "month=")
      d <- subdirs(m, "day=")
    } yield (Seq(y, m, d).map(_.getName.split("=", 2)(1)).mkString("-"), d)
    // Partition-type inference reads day=05 back as int 5; normalize to
    // zero-padded strings so the dynamic overwrite targets the SAME
    // directories it read (else day=5 dirs appear beside day=05).
    def read = spark.read.parquet(tablePath)
      .withColumn("year", lpad(col("year").cast("string"), 4, "0"))
      .withColumn("month", lpad(col("month").cast("string"), 2, "0"))
      .withColumn("day", lpad(col("day").cast("string"), 2, "0"))
      .withColumn("__date", concat(col("year"), lit("-"), col("month"), lit("-"), col("day")))
    rewriteDays(spark, fs, tablePath, days, from, until, targetFileBytes,
      minInputFiles, read, "__date", Seq("year", "month", "day"))
  }

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"

  /** The binpack rewrite both layouts share. `days` pairs each day
    * partition dir with its `YYYY-MM-DD` key; `read` (by-name: a range
    * with nothing to rewrite reads nothing) is the table carrying that
    * key as `dateCol`, which the write keeps only as one of
    * `partitionCols`. Rows hash on their stored columns into their
    * target file. */
  private def rewriteDays(spark: SparkSession, fs: FileSystem, tablePath: String,
      days: Seq[(String, Path)], from: String, until: String,
      targetFileBytes: Long, minInputFiles: Int, read: => DataFrame,
      dateCol: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Seq.empty,
      zorderCols: Seq[String] = Seq.empty): CompactResult = {
    import spark.implicits._
    def dataFiles(p: Path) =
      fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val inRange = days.filter { case (d, _) => d >= from && d < until }
    // Per-partition (bytes, fileCount) — the partition dirs of the range only.
    val stats = inRange.map { case (d, p) =>
      val files = dataFiles(p)
      (d, files.length.toLong, files.map(_.getLen).sum)
    }
    val toRewrite = stats.filter(_._2 >= minInputFiles)
    if (toRewrite.isEmpty) return CompactResult(0, stats.map(_._2).sum, stats.map(_._2).sum, 0)

    val targets = toRewrite.map { case (d, _, bytes) =>
      d -> math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    }.toMap
    val targetsDf = targets.toSeq.toDF(dateCol, "n_files")

    val slice = read.where(col(dateCol).isin(toRewrite.map(_._1): _*))
    val rowCols = ArraySeq.unsafeWrapArray(slice.columns)
      .filter(c => c != dateCol || partitionCols.contains(c))
    val bucketed = slice
      .join(broadcast(targetsDf), dateCol)
      .withColumn("__bucket", pmod(xxhash64(struct(rowCols.map(col): _*)), col("n_files")))
    val prev = spark.conf.getOption(OverwriteMode)
    spark.conf.set(OverwriteMode, "dynamic")
    try {
      // Optional clustering: sort rows within each output file so
      // parquet column min/max stats become selective (data clustering
      // for scan pruning — the sort-order half of a rewrite_data_files
      // sort strategy). The sort must come AFTER the drop and reference
      // only output columns: otherwise the writer can't see the
      // ordering and inserts its own non-stable partition-column sort,
      // destroying the clustering.
      val totalTargets = math.max(1L, targets.values.sum).toInt
      // Clustered rewrites must RANGE-partition on the cluster key so
      // each output file owns a contiguous key range — file-level
      // min/max stats only prune when the file *assignment* follows
      // the key; sorting rows inside random hash buckets would leave
      // every file spanning the full key range. Cluster keys are bare
      // expressions (never projected-away columns — the writer must
      // still see an ordering satisfying its partition-column
      // requirement).
      val clusterExprs: Seq[Column] =
        if (zorderCols.nonEmpty)
          Seq(graft.functions.ZOrder.zvalueOf(slice, zorderCols))
        else sortCols.map(col)
      val laidOut =
        if (clusterExprs.isEmpty) partitionByOrdinal(bucketed, dateCol, targets)
        else bucketed.drop("n_files", "__bucket")
          .repartitionByRange(totalTargets, (col(dateCol) +: clusterExprs): _*)
          .sortWithinPartitions((col(dateCol) +: clusterExprs): _*)
      (if (partitionCols.contains(dateCol)) laidOut else laidOut.drop(dateCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(tablePath)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(OverwriteMode, v)
        case None => spark.conf.unset(OverwriteMode)
      }
    }
    val after = inRange.filter { case (d, _) => targets.contains(d) }
      .map { case (_, p) => dataFiles(p).length.toLong }.sum
    CompactResult(
      partitionsRewritten = toRewrite.size.toLong,
      filesBefore = stats.map(_._2).sum,
      filesAfter = after + stats.filterNot(s => targets.contains(s._1)).map(_._2).sum,
      bytesRewritten = toRewrite.map(_._3).sum)
  }

  /** M1 commit: register the post-rewrite data files of `tablePath` as a
    * new `replace` snapshot in the MetaStore — the manifest-side half of
    * Iceberg's atomic `rewrite_data_files` commit. Without this the
    * compacted files are absent from the files manifest (eligible for
    * [[removeOrphanFiles]] sweep once past the retention cutoff) and the
    * current-snapshot manifest still points at the overwritten
    * pre-compaction paths. Returns the new snapshot id.
    *
    * Prior snapshots' manifest rows are kept (expire cleans them); note
    * the physical in-place overwrite means time travel into a rewritten
    * partition's history is gone — unlike Iceberg, which retains old
    * files until expiry. The file inventory is a driver-side dir walk +
    * one distributed count per file; a production writer would take both
    * from the write job's commit statistics. */
  def commitCompaction(store: MetaStore, database: String, table: String,
      tablePath: String, cfg: graft.meta.SmallFiles.Config,
      now: java.time.Instant): Long = {
    val spark = store.spark
    import spark.implicits._
    import MetaStore._

    val root = new Path(tablePath)
    // File inventory via the distributed lister (first-level dirs fan out
    // to executors) — never materialized on the driver.
    val inventory = listFilesDistributed(spark, tablePath)
      .select($"path", $"size")
    // Per-file record counts in one distributed scan; input_file_name
    // returns file:///… URIs → normalize to URI paths to match the
    // lister's key.
    val counts = spark.read.parquet(tablePath)
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("fp"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)]
      .map { case (p, n) => (new Path(p).toUri.getPath, n) }
      .toDF("path", "n")

    // Snapshot lineage is control-plane metadata (one row per commit) —
    // the id/parent lookups stay driver-side by design.
    val mine = store.rows[Model.SnapshotMeta]("snapshots")
      .filter(s => s.database == database && s.table == table).map(_.snapshotId)
    // Never below the clock's epoch-millis: max(live)+1 alone can
    // REUSE the id of an expired snapshot (expire drops rows, the max
    // shrinks) and corrupt anything still referencing the old id —
    // table formats never reuse snapshot ids.
    val newId = math.max((mine :+ 0L).max + 1, now.toEpochMilli)
    val parent = store.rows[Model.TableMeta]("tables")
      .find(t => t.database == database && t.name == table)
      .flatMap(_.currentSnapshotId)

    // partition values parsed from the path's k=v segments, all inside
    // codegen (split/filter/transform/map_from_entries).
    val rootPath = root.toUri.getPath.stripSuffix("/")
    val relSegs = split(
      regexp_replace($"path", "^" + java.util.regex.Pattern.quote(rootPath) + "/", ""), "/")
    val partCol = map_from_entries(
      transform(
        filter(relSegs, s => s.contains("=")),
        s => struct(
          element_at(split(s, "=", 2), 1).as("key"),
          element_at(split(s, "=", 2), 2).as("value"))))

    val newRows = inventory
      .join(counts, Seq("path"), "left")
      .na.fill(0L, Seq("n"))
      .select(
        lit(database).as("database"), lit(table).as("table"),
        lit(newId).as("snapshotId"), lit(0).as("content"),
        $"path".as("filePath"), lit("PARQUET").as("fileFormat"),
        lit(0).as("specId"), partCol.as("partition"),
        $"n".as("recordCount"), $"size".as("fileSizeInBytes"))
      .as[Model.FileMeta]

    // "added" = files NOT in the parent snapshot's manifest — the whole
    // inventory lands in the new manifest, but untouched partitions'
    // files are carried over, not added (Iceberg's rewrite summary
    // counts the same way).
    val parentPaths = store.files
      .filter(f => f.database == database && f.table == table &&
        parent.contains(f.snapshotId))
      .toDF().select($"filePath".as("path"))
    val totalCount = newRows.count()
    val addedCount = newRows.toDF().select($"filePath".as("path"))
      .join(parentPaths, Seq("path"), "left_anti").count()
    val newSnap = Model.SnapshotMeta(database, table,
      committedAt = Timestamp.from(now), snapshotId = newId, parentId = parent,
      operation = "replace", manifestList = tablePath,
      summary = Map("operation" -> "rewrite_data_files",
        "added-data-files" -> addedCount.toString,
        "total-data-files" -> totalCount.toString))

    // `snapshots` is control-plane (one row per commit): a driver put
    // of the slice plus the new row, which also seeds the store's copy.
    // `files` is per-file in scale and stays a distributed Append.
    store.put("snapshots", store.rows[Model.SnapshotMeta]("snapshots") :+ newSnap)
    store.write("files", newRows, SaveMode.Append)
    // Move the current pointer + rebuild partition stats from the new
    // manifest (same path as M4).
    rollbackToSnapshot(store, database, table, newId, cfg, now)
    newId
  }

  /** Distributed recursive file listing under `root`: first-level
    * directories fan out to executors, each lists its own subtree (the
    * shape of Iceberg's remove_orphan_files listing action). Returns
    * (path: URI path, size, mtime); hidden files/dirs (`_`, `.`) are
    * skipped. Top-level loose files are listed driver-side (there are at
    * most a handful beside the partition dirs). */
  def listFilesDistributed(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dirs, loose) = fs.listStatus(rootPath).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .partition(_.isDirectory)
    val looseRows = loose.map(f =>
      (f.getPath.toUri.getPath, f.getLen, f.getModificationTime))
    val dirPaths = dirs.map(_.getPath.toString)
    val confProps = hadoopConfProps(spark)
    val listed = spark.sparkContext
      .parallelize(dirPaths, math.max(1, dirPaths.size))
      .flatMap { dir =>
        val p = new Path(dir)
        val dfs = p.getFileSystem(hadoopConfFrom(confProps))
        val it = dfs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          val nm = f.getPath.getName
          if (!nm.startsWith("_") && !nm.startsWith("."))
            buf += ((f.getPath.toUri.getPath, f.getLen, f.getModificationTime))
        }
        buf
      }
    spark.createDataset(listed).toDF("path", "size", "mtime")
      .unionByName(looseRows.toDF("path", "size", "mtime"))
  }

  /** Missing-files integrity audit (service_file_integrity.go:44-92) —
    * expected = the snapshot's manifest rows, missing = expected minus
    * what the backing store actually holds. Fully distributed, unlike a
    * naive driver sweep: the expected set stays a Dataset end to end,
    * its distinct parent directories (bounded by partition-directory
    * count) fan out to executors for the listing — one list call per
    * directory, the reference's single ListObjectsV2 sweep shape — and
    * the comparison is a left_anti join. At 100 TB a snapshot manifests
    * millions of files; only the MISSING set (the payload-bounded API
    * response, `reportMax`-capped) ever reaches the driver. Join keys
    * are the fully-QUALIFIED URIs on both sides (scheme + authority
    * resolved through each path's own filesystem), so equal paths in
    * different buckets/filesystems can never mask each other; the
    * report keeps the manifest's raw form. */
  def missingFilesFrame(spark: SparkSession, store: MetaStore,
      database: String, table: String, snapshotId: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val confProps = hadoopConfProps(spark)
    // localCheckpoint: the frame is read twice (dirs collect + anti-join
    // probe side); without it each read re-runs the files scan + filter
    // + per-row Path/URI normalization. Blocks are reference-tracked and
    // freed when the caller drops the result.
    val expected = store.files
      .filter(col("database") === database && col("table") === table &&
        col("snapshotId") === snapshotId && col("content") === 0)
      .select(col("filePath")).as[String]
      .mapPartitions { it =>
        val conf = hadoopConfFrom(confProps)
        it.map { p =>
          val path = new Path(p)
          (p, path.getFileSystem(conf).makeQualified(path).toUri.toString)
        }
      }
      .toDF("raw", "key")
      .localCheckpoint(true)
    // Parent directories come from the RAW manifest path, scheme and
    // authority intact, so each listing resolves against that path's
    // OWN filesystem (an s3a:// manifest must list s3a, not whatever
    // fs.defaultFS happens to be). A root-level manifest path has a
    // null parent — skip it rather than listing the literal "null".
    val dirs = expected.select($"raw").as[String]
      .flatMap(r => Option(new Path(r).getParent).map(_.toString))
      .distinct().collect() // control-plane: one row per partition dir
    val listed = spark.sparkContext
      .parallelize(dirs.toSeq, math.max(1, dirs.length))
      .flatMap { dir =>
        val p = new Path(dir)
        val fs = p.getFileSystem(hadoopConfFrom(confProps))
        if (fs.exists(p))
          fs.listStatus(p).toSeq.map(st => fs.makeQualified(st.getPath).toUri.toString)
        else Seq.empty[String]
      }
    expected.join(spark.createDataset(listed).toDF("key"), Seq("key"), "left_anti")
  }

  /** The missing-files report: the sorted missing list (capped at
    * `reportMax` so a catastrophic loss can't flood the driver) plus
    * the UNCAPPED total, so truncation is visible instead of silently
    * under-reporting (the reference's ListMissingFiles returns the
    * complete list; at engine scale the count + capped list carries
    * the same information). */
  final case class MissingFilesReport(missing: Seq[String], total: Long) {
    def truncated: Boolean = total > missing.size
  }

  def missingFiles(spark: SparkSession, store: MetaStore, database: String,
      table: String, snapshotId: Long, reportMax: Int = 100000): MissingFilesReport = {
    import spark.implicits._
    // localCheckpoint: count + capped collect both read the anti-join;
    // without it the executor-side listing would run twice.
    val frame = missingFilesFrame(spark, store, database, table, snapshotId)
      .localCheckpoint(true)
    MissingFilesReport(
      frame.orderBy("raw").limit(reportMax).select("raw").as[String].collect().toSeq,
      frame.count())
  }

  final case class ExpireResult(expiredSnapshots: Seq[Long], keptSnapshots: Seq[Long])

  /** M2: expire snapshots older than `olderThan`, preserving the whole
    * ancestor chain of `currentId` (keep-chain semantics, SURVEY.md
    * §7.4 #2). Snapshot lineage is control-plane metadata (small) — the
    * chain walk and the slice rewrite run on the driver from one read
    * of the store's copy; the manifest row deletes stay in Spark. */
  def expireSnapshots(store: MetaStore, database: String, table: String,
      currentId: Long, olderThan: Timestamp): ExpireResult = {
    import MetaStore._

    val (mine, others) = store.rows[Model.SnapshotMeta]("snapshots")
      .partition(s => s.database == database && s.table == table)
    val lineage = mine.map(s => (s.snapshotId, s.parentId)).toMap
    val keepChain = Iterator.iterate(Option(currentId)) {
      case Some(id) => lineage.get(id).flatten
      case None => None
    }.takeWhile(_.isDefined).map(_.get).toSet
    val (kept, expired) = mine.partition(s =>
      keepChain.contains(s.snapshotId) || !s.committedAt.before(olderThan))

    store.put("snapshots", others ++ kept)

    // Drop manifest rows of expired snapshots (data files referenced
    // only by expired snapshots become orphans for M3). The expired-id
    // set is small (snapshot count), the files slice is not → codegen'd
    // isin filter + distributed rewrite, no driver materialization.
    val expiredIds = expired.map(_.snapshotId)
    if (store.exists("files") && expiredIds.nonEmpty) {
      import org.apache.spark.sql.functions.col
      store.rewrite("files", store.files.filter(
        !(col("database") === database && col("table") === table &&
          col("snapshotId").isin(expiredIds: _*))))
    }
    ExpireResult(expired.map(_.snapshotId).sorted, kept.map(_.snapshotId).sorted)
  }

  final case class OrphanResult(orphans: Seq[String], deleted: Long)

  /** M3: remove files under `tableRoot` that no manifest row references
    * and that are older than `olderThan`. Listing AND deletion are both
    * distributed: first-level dirs fan out to executors for the listing
    * ([[listFilesDistributed]]), the anti-join against the manifest runs
    * as a normal join, and the deletes execute in `foreachPartition` on
    * the executors (the shape of Iceberg's DeleteOrphanFiles action) —
    * an orphan sweep after a bad job can be millions of files, so neither
    * the inventory nor the delete loop may live on the driver. The
    * returned path list is for reporting and is capped. */
  def removeOrphanFiles(spark: SparkSession, store: MetaStore, tableRoot: String,
      database: String, table: String, olderThan: Timestamp,
      dryRun: Boolean = false, reportMax: Int = 100000): OrphanResult = {
    import spark.implicits._
    import MetaStore._

    val listed = listFilesDistributed(spark, tableRoot)
    val manifest = store.files
      .filter(f => f.database == database && f.table == table)
      .select($"filePath".as("path"))
    val orphans = listed.join(manifest, Seq("path"), "left_anti")
      .where($"mtime" < lit(olderThan.getTime))
      .select($"path")

    // Materialize the orphan set once: the report collect and the
    // delete pass would otherwise each run the full distributed listing
    // + manifest anti-join (double the LIST cost on object stores).
    // Also: the delete invalidates the listing the plan would
    // re-execute.
    val materialized = orphans.cache()
    val paths = materialized.limit(reportMax).as[String].collect().toSeq.sorted
    var deleted = 0L
    if (!dryRun) {
      val confProps = hadoopConfProps(spark)
      val acc = spark.sparkContext.longAccumulator("orphansDeleted")
      // delete() returns false for an already-absent file, so a retried
      // task does not double-count files its first attempt removed.
      materialized.as[String].foreachPartition { (it: Iterator[String]) =>
        val conf = hadoopConfFrom(confProps)
        it.foreach { p =>
          val hp = new Path(p)
          if (hp.getFileSystem(conf).delete(hp, false)) acc.add(1L)
        }
      }
      deleted = acc.value
    }
    materialized.unpersist()
    OrphanResult(paths, deleted)
  }

  /** The session's Hadoop configuration as plain key/value pairs for
    * shipping to executors — a bare `new Configuration()` there would
    * drop every spark.hadoop.* setting (object-store credentials,
    * endpoints, fs implementations). */
  private def hadoopConfProps(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toArray
  }

  private def hadoopConfFrom(props: Array[(String, String)])
      : org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    props.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** M4: rollback the current-snapshot pointer and rebuild partition
    * stats from that snapshot's manifest rows (one groupBy — reference
    * S6 shape). */
  def rollbackToSnapshot(store: MetaStore, database: String, table: String,
      snapshotId: Long, cfg: graft.meta.SmallFiles.Config,
      now: java.time.Instant): Unit = {
    import store.spark.implicits._
    import MetaStore._

    val snapExists = store.rows[Model.SnapshotMeta]("snapshots")
      .exists(s => s.database == database && s.table == table && s.snapshotId == snapshotId)
    require(snapExists, s"unknown snapshot $snapshotId for $database.$table")

    // Move the pointer.
    store.put("tables", store.rows[Model.TableMeta]("tables").map { t =>
      if (t.database == database && t.name == table)
        t.copy(currentSnapshotId = Some(snapshotId),
          updatedAt = Timestamp.from(now))
      else t
    })

    // Rebuild partition stats from the snapshot's file manifest.
    val manifest = store.files.filter(f =>
      f.database == database && f.table == table && f.snapshotId == snapshotId)
    val stats = manifest.toDF()
      .where($"content" === 0)
      .groupBy($"partition")
      .agg(
        sum($"recordCount").as("recordCount"),
        count(lit(1)).as("fileCount"),
        sum($"fileSizeInBytes").as("totalDataFileSizeInBytes"),
        graft.meta.SmallFiles.smallCountAgg($"fileSizeInBytes", cfg).as("small_count"),
        max($"specId").as("specId"))
    val cutoff = java.sql.Date.valueOf(graft.meta.SmallFiles.cutoffDay(now, cfg.delayHours))
    val scored = stats
      // part_date understands BOTH partition layouts this engine
      // produces: date=YYYY-MM-DD (compact's layout — commitCompaction
      // manifests carry a "date" key) and the expanded year/month/day
      // hidden transform. Without the date-key branch, compacted
      // partitions scored with a null date and the delayHours freshness
      // guard never suppressed them.
      .withColumn("part_date", coalesce(
        try_to_date($"partition".getItem("date")),
        when($"partition".getItem("year").isNotNull,
          try_to_date(concat_ws("-",
            $"partition".getItem("year"),
            lpad(coalesce($"partition".getItem("month"), lit("01")), 2, "0"),
            lpad(coalesce($"partition".getItem("day"), lit("01")), 2, "0"))))))
      .withColumn("needsOptimize",
        $"small_count" >= cfg.minCount &&
          $"small_count" * 100 >= $"fileCount" * cfg.minSharePercent &&
          !($"part_date".isNotNull && $"part_date" > lit(cutoff)))
      .withColumn("database", lit(database))
      .withColumn("table", lit(table))
      .withColumn("lastUpdatedAt", lit(Timestamp.from(now)))
      .withColumn("lastUpdatedSnapshotId", lit(snapshotId))
      .select($"database", $"table", $"partition", $"specId".cast("int").as("specId"),
        $"recordCount", $"fileCount", $"totalDataFileSizeInBytes",
        $"lastUpdatedAt", $"lastUpdatedSnapshotId", $"needsOptimize")
      .as[Model.PartitionStat]

    replaceTablePartitions(store, database, table, scored)
  }

  /** Replace one table's rows of the `partitions` slice with `fresh`:
    * the untouched tables' rows filtered distributed, unioned with the
    * new rows and swapped in through [[MetaStore.rewrite]] — partition
    * stats are one row per partition, which at 100 TB is itself a big
    * table, so nothing is collected to the driver. A missing slice
    * reads as empty. Readers may see an empty slice during the two
    * renames of the swap. */
  private[operators] def replaceTablePartitions(store: MetaStore, database: String,
      table: String, fresh: Dataset[Model.PartitionStat]): Unit = {
    import MetaStore._
    val others = store.partitions.filter(
      !(col("database") === database && col("table") === table))
    store.rewrite("partitions",
      others.toDF().unionByName(fresh.toDF()).as[Model.PartitionStat])
  }
}
