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
    * broke the next expire/commit on manifest-tracked tables). */
  private def describeRow(store: MetaStore, database: String, name: String,
      dataPath: String, now: Instant,
      existing: Seq[Model.TableMeta]): Model.TableMeta = {
    val df = store.spark.read.parquet(dataPath)
    val columns = df.schema.fields.toSeq.map(f =>
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
    val spark = store.spark
    import spark.implicits._
    import MetaStore._
    val existing = store.tables.collect().toSeq
    val row = describeRow(store, database, name, dataPath, now, existing)
    store.write("tables", spark.createDataset(
      existing.filterNot(t => t.database == database && t.name == name) :+ row))
  }

  /** Full refresh: refresh every live table, then cascade-delete stale
    * store entries (tables/partitions/snapshots/files for (db, name)
    * pairs no longer live). */
  def fullRefresh(store: MetaStore, database: String,
      liveTables: Map[String, String], now: Instant): Seq[(String, String)] = {
    val spark = store.spark
    import spark.implicits._
    import MetaStore._

    // one read + one write for the whole batch, not a collect/overwrite
    // cycle per table
    val existing = store.tables.collect().toSeq
    val refreshed = liveTables.toSeq.sortBy(_._1).map { case (name, path) =>
      describeRow(store, database, name, path, now, existing)
    }
    val untouched = existing.filterNot(t =>
      t.database == database && liveTables.contains(t.name))
    store.write("tables", spark.createDataset(untouched ++ refreshed))

    // J1 stale diff: stored minus live → cascade delete. The `tables`
    // slice is control-plane-small (one row per table) so the stale list
    // itself may collect; the dependent slices — `files` especially, which
    // is millions–billions of rows at 100 TB — are deleted as a
    // broadcast anti-join + distributed rewrite, never on the driver.
    val live = liveTables.keySet
    val stale = store.tables.collect().toSeq
      .filter(t => t.database == database && !live.contains(t.name))
      .map(t => (t.database, t.name))
    if (stale.nonEmpty) {
      import org.apache.spark.sql.functions.broadcast
      val staleSet = stale.toSet
      val staleDf = spark.createDataset(stale).toDF("database", "table")
      store.write("tables", spark.createDataset(
        store.tables.collect().toSeq.filterNot(t => staleSet((t.database, t.name)))))
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
    val (fileSizes, recordCount) = liveFootprint(store, dataPath)
    val effective = SmallFiles.fromSettings(store, cfg)
    val snapshotId = store.tables.collect()
      .find(t => t.database == database && t.name == table)
      .flatMap(_.currentSnapshotId).getOrElse(0L)
    val fresh = Seq(Model.PartitionStat(database, table, Map.empty, 0,
      recordCount, fileSizes.size.toLong, fileSizes.sum,
      Timestamp.from(now), snapshotId,
      SmallFiles.needsOptimize(fileSizes, Map.empty, effective, now)))
    val keep =
      if (store.exists("partitions"))
        store.partitions.collect().toSeq
          .filterNot(p => p.database == database && p.table == table)
      else Seq.empty
    store.write("partitions", spark.createDataset(keep ++ fresh))
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
    import spark.implicits._
    import MetaStore._
    val snapshotId = store.tables.collect()
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
    val keep =
      if (store.exists("snapshots"))
        store.snapshots.collect().toSeq
          .filterNot(s => s.database == database && s.table == table)
      else Seq.empty
    store.write("snapshots", spark.createDataset(keep ++ fresh))
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

  /** File sizes + row count of a live parquet table (file or directory
    * of part files). The listing is control-plane-small (one table's
    * data files); the row count is a distributed parquet count. */
  private def liveFootprint(store: MetaStore, dataPath: String): (Seq[Long], Long) = {
    val spark = store.spark
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p)
    val sizes =
      if (status.isDirectory)
        fs.listStatus(p).toSeq.filter(s => s.isFile &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          .map(_.getLen)
      else Seq(status.getLen)
    (sizes, spark.read.parquet(dataPath).count())
  }

  /** Rebuild the `partitions` slice of one table from a `files`-shaped
    * manifest already in the store (the reference's ListPartitions +
    * needs_optimize scoring, service_iceberg.go:117-170). */
  def refreshPartitions(store: MetaStore, database: String, table: String,
      snapshotId: Long, cfg: SmallFiles.Config, now: Instant): Unit =
    Maintenance.rollbackToSnapshot(store, database, table, snapshotId, cfg, now)
}
