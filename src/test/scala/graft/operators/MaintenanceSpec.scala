package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meta.{MetaStore, Model, SmallFiles}

/** End-to-end maintenance cycle: M1 compaction must reduce file counts
  * while preserving query results; M2 expire must keep the current
  * ancestor chain; M3 orphan removal must delete exactly the planted
  * orphans; M4 rollback must move the pointer and rebuild stats. */
class MaintenanceSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("M1 compact: file count drops, row count and aggregates unchanged") {
    import spark.implicits._
    val dir = tmpDir("compact")
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .withColumn("date", date_format($"l_shipdate", "yyyy-MM-dd"))
      .where($"date" >= "1996-01-01" && $"date" < "1996-02-01")
    // Plant many small files: 8 files per day partition.
    li.repartition(8, $"date", pmod($"l_orderkey", lit(8)))
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(dir)

    val before = spark.read.parquet(dir)
    val rowsBefore = before.count()
    val sumBefore = before.agg(sum($"l_quantity".cast("decimal(18,2)"))).head().getDecimal(0)

    val res = Maintenance.compact(spark, dir, "1996-01-01", "1996-02-01",
      targetFileBytes = 1024L * 1024 * 1024)
    assert(res.partitionsRewritten > 0)
    assert(res.filesAfter < res.filesBefore,
      s"files ${res.filesBefore} -> ${res.filesAfter}")

    val after = spark.read.parquet(dir)
    assert(after.count() == rowsBefore)
    assert(after.agg(sum($"l_quantity".cast("decimal(18,2)"))).head().getDecimal(0) == sumBefore)
    // With a 1 GiB target every partition should compact to one file.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).foreach { d =>
        val n = fs.listStatus(d.getPath).count(f => f.isFile && !f.getPath.getName.startsWith("_"))
        assert(n == 1, s"${d.getPath.getName} has $n files")
      }
  }

  test("M1 nested layout: year=/month=/day= partitions compact in a day range only") {
    import spark.implicits._
    val dir = tmpDir("compact-nested")
    val li = graft.sources.Tables.lineitem(spark, sfDirMid)
      .withColumn("year", date_format($"l_shipdate", "yyyy"))
      .withColumn("month", date_format($"l_shipdate", "MM"))
      .withColumn("day", date_format($"l_shipdate", "dd"))
      .where($"year" === "1996" && $"month" === "01")
    li.repartition(6, $"day", pmod($"l_orderkey", lit(6)))
      .write.mode(SaveMode.Overwrite).partitionBy("year", "month", "day").parquet(dir)

    val before = spark.read.parquet(dir)
    val rowsBefore = before.count()
    val sumBefore = before.agg(sum($"l_quantity".cast("decimal(18,2)"))).head().getDecimal(0)

    val res = Maintenance.compactNested(spark, dir, "1996-01-01", "1996-01-16",
      targetFileBytes = 1024L * 1024 * 1024)
    assert(res.partitionsRewritten > 0)
    assert(res.filesAfter < res.filesBefore)

    val after = spark.read.parquet(dir)
    assert(after.count() == rowsBefore)
    assert(after.agg(sum($"l_quantity".cast("decimal(18,2)"))).head().getDecimal(0) == sumBefore)
    // In-range days have 1 file; out-of-range days keep their many files.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(day: String): Int = {
      val p = new org.apache.hadoop.fs.Path(dir, s"year=1996/month=01/day=$day")
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    }
    assert(filesIn("05") == 1)
    assert(filesIn("20") > 1)
  }

  private def snap(db: String, tbl: String, id: Long, parent: Option[Long],
      at: String): Model.SnapshotMeta =
    Model.SnapshotMeta(db, tbl, ts(at), id, parent, "append", s"manifest-$id", Map.empty)

  test("M2 expire: old snapshots dropped except the current ancestor chain") {
    import MetaStore._
    val store = new MetaStore(spark, tmpDir("expire"))
    // Lineage: 1 <- 2 <- 4(current); 3 is an abandoned branch off 1.
    store.write("snapshots", spark.createDataset(Seq(
      snap("db", "t", 1, None, "2026-01-01 00:00:00"),
      snap("db", "t", 2, Some(1), "2026-01-10 00:00:00"),
      snap("db", "t", 3, Some(1), "2026-01-11 00:00:00"),
      snap("db", "t", 4, Some(2), "2026-02-01 00:00:00"),
      snap("db", "other", 9, None, "2025-01-01 00:00:00"))))
    store.write("files", spark.createDataset(Seq(
      Model.FileMeta("db", "t", 3, 0, "/f3", "PARQUET", 0, Map("year" -> "2026"), 10, 100),
      Model.FileMeta("db", "t", 4, 0, "/f4", "PARQUET", 0, Map("year" -> "2026"), 10, 100))))

    val res = Maintenance.expireSnapshots(store, "db", "t",
      currentId = 4, olderThan = ts("2026-01-20 00:00:00"))

    // 3 is older than the cutoff and not an ancestor of 4 → expired;
    // 1 and 2 are older but on the current chain → kept.
    assert(res.expiredSnapshots == Seq(3L))
    assert(res.keptSnapshots == Seq(1L, 2L, 4L))
    assert(store.snapshots.filter(_.table == "other").count() == 1)
    // Manifest rows of snapshot 3 are gone.
    assert(store.files.collect().map(_.snapshotId).toSet == Set(4L))
  }

  test("M3 orphans: unreferenced old files deleted, referenced and fresh files kept") {
    import MetaStore._
    val store = new MetaStore(spark, tmpDir("orphan-meta"))
    val dataDir = tmpDir("orphan-data")
    val sub = new java.io.File(dataDir, "part=a"); sub.mkdirs()
    def touch(name: String, mtime: Long): String = {
      val f = new java.io.File(sub, name)
      Files.write(f.toPath, Array[Byte](1, 2, 3))
      f.setLastModified(mtime)
      f.getAbsolutePath
    }
    val old = System.currentTimeMillis() - 100L * 24 * 3600 * 1000
    val referenced = touch("keep.parquet", old)
    val orphanOld = touch("orphan.parquet", old)
    touch("orphan-fresh.parquet", System.currentTimeMillis())

    store.write("files", spark.createDataset(Seq(
      Model.FileMeta("db", "t", 1, 0, referenced, "PARQUET", 0, Map.empty, 1, 3))))

    val cutoff = new Timestamp(System.currentTimeMillis() - 7L * 24 * 3600 * 1000)
    val res = Maintenance.removeOrphanFiles(spark, store, dataDir, "db", "t", cutoff)

    assert(res.orphans == Seq(orphanOld))
    assert(res.deleted == 1)
    assert(new java.io.File(referenced).exists())
    assert(!new java.io.File(orphanOld).exists())
    assert(new java.io.File(sub, "orphan-fresh.parquet").exists())
  }

  test("missing-files audit: distributed anti-join finds exactly the absent manifest rows") {
    import MetaStore._
    val store = new MetaStore(spark, tmpDir("missing-meta"))
    val dataDir = tmpDir("missing-data")
    val sub = new java.io.File(dataDir, "part=a"); sub.mkdirs()
    val present = new java.io.File(sub, "here.parquet")
    Files.write(present.toPath, Array[Byte](1))
    store.write("files", spark.createDataset(Seq(
      Model.FileMeta("db", "t", 5, 0, present.getAbsolutePath, "PARQUET", 0, Map.empty, 1, 3),
      Model.FileMeta("db", "t", 5, 0, s"$dataDir/part=a/gone.parquet", "PARQUET", 0, Map.empty, 1, 3),
      // delete files (content=1), other snapshots, other tables: excluded
      Model.FileMeta("db", "t", 5, 1, s"$dataDir/part=a/del.parquet", "PARQUET", 0, Map.empty, 1, 3),
      Model.FileMeta("db", "t", 4, 0, s"$dataDir/part=a/old-snap.parquet", "PARQUET", 0, Map.empty, 1, 3),
      Model.FileMeta("db", "u", 5, 0, s"$dataDir/part=a/other-table.parquet", "PARQUET", 0, Map.empty, 1, 3))))
    val report = Maintenance.missingFiles(spark, store, "db", "t", 5L)
    assert(report.missing == Seq(s"$dataDir/part=a/gone.parquet"))
    assert(report.total == 1L && !report.truncated)
    // the reportMax cap truncates the list but never the total
    val capped = Maintenance.missingFiles(spark, store, "db", "t", 5L, reportMax = 0)
    assert(capped.missing.isEmpty && capped.total == 1L && capped.truncated)
  }

  test("M4 rollback: pointer moves and partition stats rebuild from the snapshot manifest") {
    import MetaStore._
    val store = new MetaStore(spark, tmpDir("rollback"))
    store.write("tables", spark.createDataset(Seq(
      Model.TableMeta("db", "t", Seq(Model.TableColumn("c", "int")),
        Seq.empty, Some(2L), ts("2026-01-01 00:00:00")))))
    store.write("snapshots", spark.createDataset(Seq(
      snap("db", "t", 1, None, "2026-01-01 00:00:00"),
      snap("db", "t", 2, Some(1), "2026-01-02 00:00:00"))))
    val p = Map("year" -> "2025", "month" -> "01", "day" -> "01")
    store.write("files", spark.createDataset(Seq(
      Model.FileMeta("db", "t", 1, 0, "/a", "PARQUET", 0, p, 10, 100),
      Model.FileMeta("db", "t", 1, 0, "/b", "PARQUET", 0, p, 20, 100),
      Model.FileMeta("db", "t", 2, 0, "/c", "PARQUET", 0, p, 99, 999999))))

    val cfg = SmallFiles.Config(thresholdBytes = 256, minCount = 2, minSharePercent = 25)
    Maintenance.rollbackToSnapshot(store, "db", "t", 1L, cfg,
      java.time.Instant.parse("2026-03-01T00:00:00Z"))

    val t = store.tables.collect().head
    assert(t.currentSnapshotId.contains(1L))
    val stats = store.partitions.collect()
    assert(stats.length == 1)
    val s = stats.head
    assert(s.recordCount == 30 && s.fileCount == 2 && s.totalDataFileSizeInBytes == 200)
    // Two small files (<256), share 100% ≥ 25%, old partition → flagged.
    assert(s.needsOptimize)
    assert(s.lastUpdatedSnapshotId == 1L)
  }

  test("commitCompaction's snapshot row goes through the store's copy: the next read starts no Spark job") {
    import MetaStore._
    import spark.implicits._
    val dir = tmpDir("commit-compaction")
    (1 to 3).foreach { i =>
      Seq((i, s"v$i")).toDF("id", "v").withColumn("date", lit("2026-01-01"))
        .write.mode(SaveMode.Append).partitionBy("date").parquet(dir)
    }
    val store = new MetaStore(spark, tmpDir("commit-compaction-store"))
    store.put("tables", Seq(Model.TableMeta("db", "t", Seq(Model.TableColumn("id", "int")),
      Seq.empty, Some(1L), ts("2026-01-01 00:00:00"))))
    store.put("snapshots", Seq(snap("db", "t", 1, None, "2026-01-01 00:00:00")))
    val now = java.time.Instant.parse("2026-03-01T00:00:00Z")
    val id = Maintenance.commitCompaction(store, "db", "t", dir,
      SmallFiles.Config(thresholdBytes = 1L << 20, minCount = 2, minSharePercent = 25), now)
    var snaps = Seq.empty[Model.SnapshotMeta]
    assert(jobsDuring { snaps = store.rows[Model.SnapshotMeta]("snapshots") } == 0)
    assert(snaps.map(_.snapshotId) == Seq(1L, id))
    val added = snaps.last
    assert(added.parentId.contains(1L) && added.operation == "replace" &&
      added.committedAt == Timestamp.from(now))
    assert(added.summary("total-data-files") == "3")
    assert(new MetaStore(spark, store.root).rows[Model.SnapshotMeta]("snapshots") == snaps)
    assert(store.rows[Model.TableMeta]("tables").head.currentSnapshotId.contains(id))
  }
}
