package graft.meta

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SaveMode

import graft.SparkSpec
import graft.meta.Model.{Setting, SnapshotMeta, TaskRow}

/** The control-plane slices' driver copy: served without a Spark job
  * while the slice's listing is unchanged, re-read after any other
  * writer, seeded by the store's own writes with what a read returns. */
class MetaStoreSpec extends SparkSpec {
  import MetaStore._

  private def root(): String = Files.createTempDirectory("metastore").toString

  private def task(id: Long, status: String = Model.TaskStatus.Queued): TaskRow =
    TaskRow(id, "db", "t", Model.TaskKind.Optimize, "spark",
      startedAt = Timestamp.from(Instant.parse("2026-01-02T03:04:05.123456789Z")),
      pickedUpAt = None, finishedAt = Some(Timestamp.from(Instant.parse("2026-01-03T00:00:00Z"))),
      status = status, retried = false, errorMessage = Some("e"),
      input = Map("from" -> "2026-01-01", "to" -> "2026-01-02"), result = Map.empty)

  private def drop(store: MetaStore, name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(store.path(name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  test("a repeat rows/setting on an unchanged slice starts no Spark job") {
    val store = new MetaStore(spark, root())
    // written around the copy: the first read pays, the repeat does not
    store.write("tasks", spark.createDataset(Seq(task(1), task(2))))
    assert(jobsDuring(assert(store.rows[TaskRow]("tasks").map(_.id).toSet == Set(1L, 2L))) > 0)
    assert(jobsDuring(assert(store.rows[TaskRow]("tasks").size == 2)) == 0)
    // written through the store: the write seeds the copy
    store.setSetting("task_concurrency", "3")
    assert(jobsDuring {
      assert(store.intSetting("task_concurrency", 1) == 3)
      assert(store.setting("absent", "d") == "d")
    } == 0)
  }

  test("a put, an Append and a distributed rewrite through a second store are all seen") {
    val r = root()
    val a = new MetaStore(spark, r)
    val b = new MetaStore(spark, r)
    a.put("tasks", Seq(task(1)))
    assert(a.rows[TaskRow]("tasks").map(_.id) == Seq(1L))

    b.put("tasks", Seq(task(1), task(2)))
    assert(a.rows[TaskRow]("tasks").map(_.id).toSet == Set(1L, 2L))

    b.write("tasks", spark.createDataset(Seq(task(3))), SaveMode.Append)
    assert(a.rows[TaskRow]("tasks").map(_.id).toSet == Set(1L, 2L, 3L))

    b.rewrite("tasks", b.read[TaskRow]("tasks").filter(_.id != 2L))
    assert(a.rows[TaskRow]("tasks").map(_.id).toSet == Set(1L, 3L))

    a.setSetting("k", "1")
    b.setSetting("k", "2")
    assert(a.setting("k", "0") == "2")
    // and a's own write after b's is what b reads next
    a.put("tasks", Seq(task(9)))
    assert(b.rows[TaskRow]("tasks").map(_.id) == Seq(9L))
  }

  test("seeded rows equal a fresh store's read: Timestamp nanos, Map and Option fields") {
    val r = root()
    val store = new MetaStore(spark, r)
    val tasks = Seq(task(1), task(2, Model.TaskStatus.Running).copy(
      pickedUpAt = Some(Timestamp.from(Instant.parse("2026-01-02T04:00:00.000000999Z"))),
      errorMessage = None, result = Map("files" -> "3")))
    val snaps = Seq(SnapshotMeta("db", "t", Timestamp.from(Instant.parse("2026-01-01T00:00:00.5Z")),
      7L, Some(6L), "append", "m7", Map("added-data-files" -> "2")),
      SnapshotMeta("db", "t", Timestamp.from(Instant.parse("2026-01-01T00:00:00Z")),
        6L, None, "append", "m6", Map.empty))
    store.put("tasks", tasks)
    store.put("snapshots", snaps)
    val (seededTasks, seededSnaps) = (store.rows[TaskRow]("tasks"), store.rows[SnapshotMeta]("snapshots"))
    val fresh = new MetaStore(spark, r)
    assert(seededTasks == fresh.rows[TaskRow]("tasks"))
    assert(seededSnaps == fresh.rows[SnapshotMeta]("snapshots"))
    // the seed went through the encoder: microseconds, as a read returns
    assert(seededTasks.head.startedAt.getNanos == 123456000)
    assert(seededTasks(1).pickedUpAt.get.getNanos == 0)
    assert(seededTasks.head != tasks.head)
    assert(seededTasks.head == tasks.head.copy(
      startedAt = Timestamp.from(Instant.parse("2026-01-02T03:04:05.123456Z"))))
  }

  test("a deleted slice reads as empty or as the default") {
    val store = new MetaStore(spark, root())
    assert(store.rows[TaskRow]("tasks").isEmpty)
    assert(store.setting("task_concurrency", "1") == "1")
    store.put("tasks", Seq(task(1)))
    store.setSetting("task_concurrency", "4")
    assert(store.rows[TaskRow]("tasks").nonEmpty)
    assert(store.rows[Setting]("settings").map(_.key) == Seq("task_concurrency"))
    drop(store, "tasks")
    drop(store, "settings")
    assert(store.rows[TaskRow]("tasks").isEmpty)
    assert(store.setting("task_concurrency", "1") == "1")
  }
}
