package graft.meta

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode

import graft.SparkSpec
import graft.meta.Model.{Setting, SnapshotMeta, TableMeta, TaskRow}

/** The control-plane slices' driver copy: served without a Spark job
  * while the slice's listing is unchanged, re-read after any other
  * writer, seeded by the store's own writes with what a read returns.
  * And the driver writer behind `put`: no Spark job, the layout and
  * footer a one-task Spark write leaves. */
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

  private def tables(): Seq[TableMeta] = Seq(
    TableMeta("db", "t", Seq(Model.TableColumn("a", "int"), Model.TableColumn("b", "string")),
      Seq(Model.PartitionField("day", "ts", isHidden = true,
        Some(Model.HiddenTransform("ts", "day")))),
      Some(7L), Timestamp.from(Instant.parse("2026-01-02T03:04:05.987654321Z"))),
    TableMeta("db", "u", Seq.empty, Seq.empty, None,
      Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))))

  private def entries(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).toSeq.sorted
  }

  private def footer(dir: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val part = entries(dir).filter(_.startsWith("part-")) match {
      case Seq(one) => one
      case other => fail(s"expected one part file in $dir, got $other")
    }
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir, part), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  test("a warm put starts no Spark job") {
    val store = new MetaStore(spark, root())
    store.put("tasks", Seq(task(1)))
    assert(jobsDuring(store.put("tasks", Seq(task(1), task(2)))) == 0)
    assert(jobsDuring(store.setSetting("k", "v")) == 0)
    assert(jobsDuring(assert(store.rows[TaskRow]("tasks").map(_.id) == Seq(1L, 2L))) == 0)
  }

  test("a plain Spark read of a put slice returns exactly the seeded copy: Timestamp nanos, Map, Option and Seq fields") {
    val store = new MetaStore(spark, root())
    val tasks = Seq(task(1), task(2, Model.TaskStatus.Running).copy(
      pickedUpAt = Some(Timestamp.from(Instant.parse("2026-01-02T04:00:00.000000999Z"))),
      errorMessage = None, result = Map("files" -> "3")))
    store.put("tasks", tasks)
    store.put("tables", tables())
    val plainTasks = spark.read.schema(taskRowEnc.schema).parquet(store.path("tasks"))
      .as[TaskRow].collect().toSeq
    val plainTables = spark.read.schema(tableMetaEnc.schema).parquet(store.path("tables"))
      .as[TableMeta].collect().toSeq
    assert(plainTasks == store.rows[TaskRow]("tasks"))
    assert(plainTables == store.rows[TableMeta]("tables"))
    assert(plainTasks.map(_.startedAt.getNanos) == Seq(123456000, 123456000))
    assert(plainTables.head.updatedAt.getNanos == 987654000)
    assert(plainTables.head.partitions.head.hidden.contains(Model.HiddenTransform("ts", "day")))
    assert(plainTables(1).columns.isEmpty && plainTables(1).currentSnapshotId.isEmpty)
  }

  test("a put of no rows leaves a readable empty slice with the encoder's schema") {
    val store = new MetaStore(spark, root())
    store.put("tasks", Seq(task(1)))
    store.put("tasks", Seq.empty[TaskRow])
    val df = spark.read.parquet(store.path("tasks"))
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) ==
      taskRowEnc.schema.map(f => f.name -> f.dataType.simpleString))
    assert(df.count() == 0L)
    assert(store.rows[TaskRow]("tasks").isEmpty)
    assert(new MetaStore(spark, store.root).rows[TaskRow]("tasks").isEmpty)
  }

  test("a put's footer follows the session conf as a Spark write's does: codec, timestamp type, metadata") {
    val conf = Seq(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.parquet.compression.codec" -> "gzip")
    val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val store = new MetaStore(spark, root())
      store.put("tasks", Seq(task(1), task(2)))
      store.write("spark_tasks", spark.createDataset(Seq(task(1), task(2))).coalesce(1))
      val (put, written) = (footer(store.path("tasks")), footer(store.path("spark_tasks")))
      assert(put.getFileMetaData.getSchema == written.getFileMetaData.getSchema)
      assert(put.getFileMetaData.getKeyValueMetaData == written.getFileMetaData.getKeyValueMetaData)
      def codecs(f: org.apache.parquet.hadoop.metadata.ParquetMetadata): Set[String] =
        f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      assert(codecs(put) == Set("GZIP") && codecs(written) == Set("GZIP"))
      val schema = put.getFileMetaData.getSchema
      val startedAt = schema.getType(schema.getFieldIndex("startedAt")).asPrimitiveType
      assert(startedAt.getPrimitiveTypeName.name == "INT64")
      assert(startedAt.getLogicalTypeAnnotation.toString == "TIMESTAMP(MICROS,true)")
      assert(entries(store.path("tasks")).filter(_.startsWith("part-")).forall(_.endsWith(".gz.parquet")))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a put leaves one part file and _SUCCESS, and no _temporary or swap dir") {
    val r = root()
    val store = new MetaStore(spark, r)
    store.put("tasks", Seq(task(1)))
    store.put("tasks", Seq(task(1), task(2)))
    val visible = entries(store.path("tasks")).filterNot(_.startsWith("."))
    assert(visible.size == 2 && visible.head == "_SUCCESS", visible)
    assert(visible.last.matches("part-00000-[0-9a-f-]{36}-c000\\..*parquet"), visible)
    assert(!entries(store.path("tasks")).exists(_.contains("_temporary")))
    assert(entries(r) == Seq("tasks"))
  }
}
