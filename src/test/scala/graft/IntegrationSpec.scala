package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.meta.{MetaStore, Model}

/** Whole-engine integration: derive file metadata from real data, load
  * it into the MetaStore as manifest rows, rebuild scored partition
  * stats through the refresh path, and run the schedule cycle — the
  * reference's refresh → score → enqueue pipeline end-to-end on
  * data-derived (not synthetic) metadata. */
class IntegrationSpec extends SparkSpec {

  test("derived metadata drives refresh scoring and the maintenance cycle") {
    import spark.implicits._
    import MetaStore._
    val store = new MetaStore(spark, Files.createTempDirectory("integ").toString)
    val now = Instant.parse("2001-06-05T00:00:00Z") // MetaDerive.fixedNow

    // files-shaped frame from lineitem → FileMeta manifest rows (snapshot 1).
    val files = graft.meta.MetaDerive.files(spark, sfDirMid)
      .select(
        lit("main").as("database"), lit("lineitem").as("table"),
        lit(1L).as("snapshotId"), $"content",
        $"file_path".as("filePath"), $"file_format".as("fileFormat"),
        lit(0).as("specId"),
        map(lit("year"), $"year", lit("month"), $"month", lit("day"), $"day").as("partition"),
        $"record_count".as("recordCount"),
        $"file_size".cast("long").as("fileSizeInBytes"))
      .as[Model.FileMeta]
    store.write("files", files)
    store.write("snapshots", spark.createDataset(Seq(
      Model.SnapshotMeta("main", "lineitem", Timestamp.from(now), 1L, None,
        "append", "m1", Map.empty))))
    store.write("tables", spark.createDataset(Seq(
      Model.TableMeta("main", "lineitem", Seq.empty, Seq.empty, Some(1L),
        Timestamp.from(now)))))

    // Refresh partition stats from the manifest (scored like the oracle).
    graft.operators.Maintenance.rollbackToSnapshot(store, "main", "lineitem", 1L,
      graft.meta.MetaDerive.cfg, now)

    val stats = store.partitions.collect()
    assert(stats.length == 2499) // one per shipdate day at sf0.01
    val flagged = stats.count(_.needsOptimize)
    // Matches the oracle-checked q11 semantics: some but not all flagged.
    assert(flagged > 0 && flagged < stats.length)

    // Schedule cycle over the (clamped) optimize window: enqueues
    // expire + orphans for the table, optimize per flagged chunk in range.
    val engine = new Engine(store, () => now, graft.meta.MetaDerive.cfg)
    val cycle = engine.runCycle(now, lookbackDays = 365 * 5, chunkBy = "month")
    assert(cycle.tableCount == 1)
    assert(cycle.optimizeTasks > 0)
    val counts = engine.queue.counts()
    assert(counts(Model.TaskStatus.Queued) ==
      (cycle.optimizeTasks + cycle.expireTasks + cycle.orphanTasks).toLong)

    // Drill-down over the same stats (browse path) agrees on totals.
    val spec = Seq("year", "month", "day").map(n => Model.PartitionField(
      n, "ship_day", isHidden = true, Some(Model.HiddenTransform("l_shipdate", "day"))))
    val level0 = graft.operators.Browse.drillDown(store.partitions, spec, Map.empty)
      .toOption.get.collect()
    val totalRows = graft.sources.Tables.lineitem(spark, sfDirMid).count()
    assert(level0.map(_.getAs[Long]("record_count")).sum == totalRows)
  }
}
