package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.meta.{MetaStore, Model, SmallFiles}
import graft.operators.Maintenance

/** Time travel across the snapshot model: pinned reads, current-pointer
  * reads, and rollback switching what "current" reads. */
class SnapshotReadsSpec extends SparkSpec {

  test("readAt pins a generation; rollback moves what readCurrent sees") {
    import spark.implicits._
    import MetaStore._
    val store = new MetaStore(spark, Files.createTempDirectory("tt-meta").toString)
    val dataDir = Files.createTempDirectory("tt-data").toString

    // Generation 1: values 1..10; generation 2: values 1..15.
    val f1 = s"$dataDir/gen1.parquet"
    val f2 = s"$dataDir/gen2.parquet"
    spark.range(1, 11).toDF("v").coalesce(1).write.parquet(f1)
    spark.range(1, 16).toDF("v").coalesce(1).write.parquet(f2)

    def ts(s: String) = Timestamp.valueOf(s)
    store.write("tables", spark.createDataset(Seq(
      Model.TableMeta("db", "t", Seq(Model.TableColumn("v", "bigint")),
        Seq.empty, Some(2L), ts("2026-01-02 00:00:00")))))
    store.write("snapshots", spark.createDataset(Seq(
      Model.SnapshotMeta("db", "t", ts("2026-01-01 00:00:00"), 1L, None, "append", "m1", Map.empty),
      Model.SnapshotMeta("db", "t", ts("2026-01-02 00:00:00"), 2L, Some(1L), "overwrite", "m2", Map.empty))))
    store.write("files", spark.createDataset(Seq(
      Model.FileMeta("db", "t", 1L, 0, f1, "PARQUET", 0, Map.empty, 10, 100),
      Model.FileMeta("db", "t", 2L, 0, f2, "PARQUET", 0, Map.empty, 15, 150))))

    // The current read: the tables pointer's snapshot, pinned.
    def readCurrent() = SnapshotReads.readAt(store, "db", "t",
      store.tables.filter(t => t.database == "db" && t.name == "t")
        .collect().head.currentSnapshotId.get)
    assert(SnapshotReads.readAt(store, "db", "t", 1L).count() == 10)
    assert(readCurrent().count() == 15)

    // Rollback to snapshot 1 → current read now sees generation 1.
    Maintenance.rollbackToSnapshot(store, "db", "t", 1L,
      SmallFiles.Config(), java.time.Instant.parse("2026-01-03T00:00:00Z"))
    assert(readCurrent().count() == 10)

    // Unknown snapshot errors.
    intercept[IllegalArgumentException] {
      SnapshotReads.readAt(store, "db", "t", 99L)
    }
  }

  test("readIncremental returns only files added between two snapshots") {
    import spark.implicits._
    import MetaStore._
    val store = new MetaStore(spark, Files.createTempDirectory("inc-meta").toString)
    val dataDir = Files.createTempDirectory("inc-data").toString
    val f1 = s"$dataDir/a.parquet"
    val f2 = s"$dataDir/b.parquet"
    spark.range(1, 11).toDF("v").coalesce(1).write.parquet(f1)
    spark.range(100, 106).toDF("v").coalesce(1).write.parquet(f2)
    def ts(s: String) = Timestamp.valueOf(s)
    store.write("snapshots", spark.createDataset(Seq(
      Model.SnapshotMeta("db", "t", ts("2026-01-01 00:00:00"), 1L, None, "append", "m1", Map.empty),
      Model.SnapshotMeta("db", "t", ts("2026-01-02 00:00:00"), 2L, Some(1L), "append", "m2", Map.empty),
      // 3 is a sibling of 2 (rolled-back branch), not its descendant
      Model.SnapshotMeta("db", "t", ts("2026-01-03 00:00:00"), 3L, Some(1L), "append", "m3", Map.empty))))
    store.write("files", spark.createDataset(Seq(
      Model.FileMeta("db", "t", 1L, 0, f1, "PARQUET", 0, Map.empty, 10, 100),
      Model.FileMeta("db", "t", 2L, 0, f1, "PARQUET", 0, Map.empty, 10, 100),
      Model.FileMeta("db", "t", 2L, 0, f2, "PARQUET", 0, Map.empty, 6, 60),
      Model.FileMeta("db", "t", 3L, 0, f1, "PARQUET", 0, Map.empty, 10, 100))))

    // 1 → 2 added exactly f2's rows
    val inc = SnapshotReads.readIncremental(store, "db", "t", 1L, 2L)
    assert(inc.select($"v").as[Long].collect().sorted.toSeq == (100L until 106L))
    // same snapshot → empty, schema preserved
    val none = SnapshotReads.readIncremental(store, "db", "t", 2L, 2L)
    assert(none.isEmpty && none.columns.sameElements(Array("v")))
    // across a rollback branch → error (2 is not an ancestor of 3)
    intercept[IllegalArgumentException] {
      SnapshotReads.readIncremental(store, "db", "t", 2L, 3L)
    }
  }

  test("readIncremental refuses a replace/compaction snapshot on the path") {
    import spark.implicits._
    import MetaStore._
    val store = new MetaStore(spark, Files.createTempDirectory("inc2-meta").toString)
    def ts(s: String) = Timestamp.valueOf(s)
    store.write("snapshots", spark.createDataset(Seq(
      Model.SnapshotMeta("db", "t", ts("2026-01-01 00:00:00"), 1L, None, "append", "m1", Map.empty),
      // a compaction rewrote the files between 1 and 3
      Model.SnapshotMeta("db", "t", ts("2026-01-02 00:00:00"), 2L, Some(1L), "replace", "m2", Map.empty),
      Model.SnapshotMeta("db", "t", ts("2026-01-03 00:00:00"), 3L, Some(2L), "append", "m3", Map.empty))))
    store.write("files", spark.emptyDataset[Model.FileMeta])
    val e = intercept[IllegalArgumentException] {
      SnapshotReads.readIncremental(store, "db", "t", 1L, 3L)
    }
    assert(e.getMessage.contains("replace"))
  }
}
