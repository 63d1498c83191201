package graft.operators

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.meta.{MetaStore, Model, SmallFiles}

/** M5: the catalog → MetaStore refresh ETL (reference
  * service_refresh.go): per table, rebuild the `tables` row and the
  * `partitions`/`snapshots` slices; tables present in the store but
  * absent from the live catalog are cascade-deleted (J1 stale diff,
  * service_refresh.go:82-88, 297-316).
  *
  * The "live catalog" here is a directory of parquet tables (TESTDATA
  * layout); with a real Iceberg catalog the describe/scan calls swap to
  * `spark.catalog` + `.files`/`.snapshots` metadata tables behind the
  * same interface.
  */
object Refresh {

  /** Describe one live parquet table into a `tables` row. The snapshot
    * pointer of an existing row is PRESERVED — refresh rebuilds the
    * description, it does not abandon manifest lineage (resetting it
    * broke the next expire/commit on manifest-tracked tables). The
    * schema comes from the memoized footer inference
    * ([[graft.sources.Tables.schemaOf]]): a live table whose files are
    * unchanged is described without a Spark job. */
  private def describeRow(store: MetaStore, database: String, name: String,
      dataPath: String, now: Instant,
      existing: Seq[Model.TableMeta]): Model.TableMeta = {
    val schema = graft.sources.Tables.schemaOf(store.spark, dataPath)
    val columns = schema.fields.toSeq.map(f =>
      Model.TableColumn(f.name, f.dataType.simpleString))
    val prior = existing.find(t => t.database == database && t.name == name)
    Model.TableMeta(database, name, columns,
      partitions = prior.map(_.partitions).getOrElse(Seq.empty),
      currentSnapshotId = prior.flatMap(_.currentSnapshotId),
      updatedAt = Timestamp.from(now))
  }

  /** Describe + refresh one live parquet table into the store. */
  def refreshTable(store: MetaStore, database: String, name: String,
      dataPath: String, now: Instant): Unit = {
    import MetaStore._
    val existing = store.rows[Model.TableMeta]("tables")
    val row = describeRow(store, database, name, dataPath, now, existing)
    store.put("tables",
      existing.filterNot(t => t.database == database && t.name == name) :+ row)
  }

  /** Full refresh: refresh every live table, then cascade-delete stale
    * store entries (tables/partitions/snapshots/files for (db, name)
    * pairs no longer live). */
  def fullRefresh(store: MetaStore, database: String,
      liveTables: Map[String, String], now: Instant): Seq[(String, String)] = {
    val spark = store.spark
    import spark.implicits._
    import MetaStore._

    // one read + one write for the whole batch, not a read/overwrite
    // cycle per table
    val existing = store.rows[Model.TableMeta]("tables")
    val refreshed = liveTables.toSeq.sortBy(_._1).map { case (name, path) =>
      describeRow(store, database, name, path, now, existing)
    }
    // J1 stale diff: stored minus live → cascade delete. The `tables`
    // slice is control-plane-small (one row per table), so the stale
    // list is computed on the driver and leaves with the same write;
    // the dependent slices — `files` especially, which is
    // millions–billions of rows at 100 TB — are deleted as a broadcast
    // anti-join + distributed rewrite.
    val (mine, others) = existing.partition(_.database == database)
    val stale = mine.filterNot(t => liveTables.contains(t.name))
      .map(t => (t.database, t.name))
    store.put("tables", others ++ refreshed)
    if (stale.nonEmpty) {
      import org.apache.spark.sql.functions.broadcast
      val staleDf = spark.createDataset(stale).toDF("database", "table")
      if (store.exists("partitions"))
        store.rewrite("partitions", store.partitions.toDF()
          .join(broadcast(staleDf), Seq("database", "table"), "left_anti")
          .as[Model.PartitionStat])
      if (store.exists("snapshots"))
        store.rewrite("snapshots", store.snapshots.toDF()
          .join(broadcast(staleDf), Seq("database", "table"), "left_anti")
          .as[Model.SnapshotMeta])
      if (store.exists("files"))
        store.rewrite("files", store.files.toDF()
          .join(broadcast(staleDf), Seq("database", "table"), "left_anti")
          .as[Model.FileMeta])
    }
    stale
  }

  /** Refresh granularity: rebuild one table's `partitions` slice from
    * the live data path and return the fresh rows (the reference's
    * delete-then-reinsert RefreshPartitions, service_refresh.go:121-161).
    * The parquet-dir catalog binding reports one unpartitioned partition
    * whose stats come from the file footprint; needs_optimize scores
    * with the settings-resolved thresholds like every other scoring
    * site. A real Iceberg catalog swaps the listing for the
    * `.partitions` metadata table behind the same signature. */
  def refreshPartitionsLive(store: MetaStore, database: String, table: String,
      dataPath: String, now: Instant,
      cfg: SmallFiles.Config = SmallFiles.Config()): Seq[Model.PartitionStat] = {
    val spark = store.spark
    import spark.implicits._
    import MetaStore._
    val (fileSizes, recordCount) = liveFootprint(spark, dataPath)
    val effective = SmallFiles.fromSettings(store, cfg)
    val snapshotId = store.rows[Model.TableMeta]("tables")
      .find(t => t.database == database && t.name == table)
      .flatMap(_.currentSnapshotId).getOrElse(0L)
    val fresh = Seq(Model.PartitionStat(database, table, Map.empty, 0,
      recordCount, fileSizes.size.toLong, fileSizes.sum,
      Timestamp.from(now), snapshotId,
      SmallFiles.needsOptimize(fileSizes, Map.empty, effective, now)))
    Maintenance.replaceTablePartitions(store, database, table, spark.createDataset(fresh))
    fresh
  }

  /** Refresh granularity: rebuild one table's `snapshots` slice from the
    * live catalog and return the fresh rows (delete-then-reinsert,
    * service_refresh.go:163-200). The parquet-dir binding has no commit
    * lineage, so it reports a single current append snapshot — id
    * preserved from the stored pointer so manifest-tracked lineage is
    * not abandoned; committedAt is the data's modification time. */
  def refreshSnapshotsLive(store: MetaStore, database: String, table: String,
      dataPath: String, now: Instant): Seq[Model.SnapshotMeta] = {
    val spark = store.spark
    import MetaStore._
    val snapshotId = store.rows[Model.TableMeta]("tables")
      .find(t => t.database == database && t.name == table)
      .flatMap(_.currentSnapshotId).getOrElse(1L)
    val mtime = {
      val p = new org.apache.hadoop.fs.Path(dataPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Instant.ofEpochMilli(fs.getFileStatus(p).getModificationTime)
      else now
    }
    val fresh = Seq(Model.SnapshotMeta(database, table, Timestamp.from(mtime),
      snapshotId, None, "append", dataPath, Map.empty))
    store.put("snapshots", store.rows[Model.SnapshotMeta]("snapshots")
      .filterNot(s => s.database == database && s.table == table) ++ fresh)
    fresh
  }

  /** Refresh granularity: table row + partitions + snapshots, the
    * reference's RefreshTableFull (service_refresh.go:253-271). */
  def refreshTableFull(store: MetaStore, database: String, table: String,
      dataPath: String, now: Instant): Unit = {
    refreshTable(store, database, table, dataPath, now)
    refreshPartitionsLive(store, database, table, dataPath, now)
    refreshSnapshotsLive(store, database, table, dataPath, now)
    ()
  }

  /** File sizes + row count of a live parquet table: the file itself,
    * or every data file Spark's reader reads below the directory
    * (recursively, `k=v` partition directories included, hidden names
    * skipped by the reader's own rule). The listing is
    * control-plane-small (one table's data files) and the row count
    * sums their parquet footers, so neither starts a Spark job. */
  private def liveFootprint(spark: SparkSession, dataPath: String): (Seq[Long], Long) = {
    val (fs, p) = StoreIO.hadoopFs(spark, dataPath)
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def dataFiles(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) dataFiles(s.getPath) else Seq(s))
    val status = fs.getFileStatus(p)
    val files = if (status.isDirectory) dataFiles(p) else Seq(status)
    (files.map(_.getLen), files.map(StoreIO.footerRowCount(spark, _)).sum)
  }
}
