package graft.sources

import org.apache.spark.sql.DataFrame

import graft.meta.MetaStore

/** Snapshot-pinned data reads — `VERSION AS OF` over the engine's
  * snapshot model (SURVEY.md §7.4 #2: model Iceberg's lineage with
  * MetaStore rows + per-snapshot file manifests when no table-format
  * runtime is present).
  *
  * File planning happens on the driver from the (small) manifest rows —
  * exactly how table formats plan scans — and the data read itself is a
  * plain distributed parquet scan of the planned files.
  */
object SnapshotReads {

  /** Read the table as of `snapshotId`: plan the snapshot's data files
    * from the manifest, scan them. */
  def readAt(store: MetaStore, database: String, table: String, snapshotId: Long): DataFrame = {
    val paths = store.files
      .filter(f => f.database == database && f.table == table &&
        f.snapshotId == snapshotId && f.content == 0)
      .collect().map(_.filePath).sorted
    require(paths.nonEmpty, s"no data files manifested for $database.$table@$snapshotId")
    store.spark.read.parquet(paths.toIndexedSeq: _*)
  }

  /** Incremental append scan (Iceberg's incremental read): rows from
    * data files ADDED strictly after `fromSnapshotId`, up to and
    * including `toSnapshotId`. `from` must be an ancestor of `to` on
    * the parent chain — reading "changes" across a rollback boundary
    * has no append-only meaning, so it errors (matching the table
    * formats). File planning is a manifest diff on the driver; the data
    * read scans only the added files. */
  def readIncremental(store: MetaStore, database: String, table: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val snaps = store.snapshots
      .filter(s => s.database == database && s.table == table)
      .collect().map(s => s.snapshotId -> s).toMap
    require(snaps.contains(fromSnapshotId), s"unknown snapshot $fromSnapshotId")
    require(snaps.contains(toSnapshotId), s"unknown snapshot $toSnapshotId")
    // walk to → parents → from; every snapshot AFTER `from` on the path
    // must be an append — a replace/overwrite in between rewrites
    // existing rows, so "files added" would re-surface old data as new
    // (Iceberg's incremental scan refuses the same way).
    var cursor: Option[Long] = Some(toSnapshotId)
    var onChain = false
    val visited = scala.collection.mutable.Set.empty[Long]
    while (cursor.isDefined && !onChain) {
      val id = cursor.get
      if (id == fromSnapshotId) onChain = true
      else {
        // a parent expired out of the store, or a corrupt cyclic chain,
        // must fail with the lineage error — not a map crash or an
        // infinite walk
        require(visited.add(id), s"cyclic snapshot lineage at $id")
        val s = snaps.getOrElse(id, throw new IllegalArgumentException(
          s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId " +
            s"(chain breaks at missing snapshot $id)"))
        require(s.operation == "append",
          s"snapshot ${s.snapshotId} on the incremental path is a " +
            s"'${s.operation}', not an append — incremental read is " +
            "only defined over append-only history")
        cursor = s.parentId
      }
    }
    require(onChain,
      s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId")
    def pathsAt(id: Long): Set[String] = store.files
      .filter(f => f.database == database && f.table == table &&
        f.snapshotId == id && f.content == 0)
      .collect().map(_.filePath).toSet
    val added = (pathsAt(toSnapshotId) -- pathsAt(fromSnapshotId)).toSeq.sorted
    if (added.isEmpty)
      readAt(store, database, table, toSnapshotId).limit(0)
    else store.spark.read.parquet(added: _*)
  }
}
