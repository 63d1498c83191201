package graft.meta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}

/** Parquet-backed metadata store — the Spark-native replacement for the
  * reference's MySQL cache (SURVEY.md §7.1 MetaStore; DDL under
  * backend/build/migrations/). One directory per metadata table
  * (`tables`, `partitions`, `snapshots`, `files`, `tasks`, `settings`).
  *
  * Scale posture: the metadata tables would be partitioned by
  * (database, table) on a real deployment so per-table refresh/queries
  * prune; at test scale they are small single-directory tables. All
  * mutations are whole-slice overwrites (the reference's
  * DELETE+INSERT refresh pattern, service_refresh.go:111-199) —
  * format-level atomic per table, single-writer by design (the
  * reference is also a single process).
  *
  * Control-plane slices (one row per task, setting, table or commit:
  * `tasks`, `settings`, `tables`, `snapshots`) are read and written
  * whole from the driver through [[rows]] and [[put]], which keep one
  * driver copy per slice. [[put]] writes its one Parquet file on the
  * driver, with Spark's own Parquet writer and no Spark job. A copy is
  * valid while the slice directory's listing — the sorted (name,
  * length, mtime) of its entries — is the one it was read (or written)
  * under. Every Spark write, the driver write of [[put]] included,
  * creates part files named with a fresh per-write UUID, so a listing
  * never recurs: any other writer (a second MetaStore, the other JVM of
  * `serve` / `work`, an Append, a distributed [[rewrite]]) changes it,
  * and the next [[rows]] re-reads. `partitions` and `files` stay
  * distributed Datasets — they are per-partition and per-file in scale,
  * so [[write]] and [[rewrite]] stay Spark jobs.
  */
final class MetaStore(val spark: SparkSession, val root: String) {

  def path(name: String): String = s"$root/$name"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val copies =
    new java.util.concurrent.ConcurrentHashMap[String, MetaStore.Copy]()

  def write[T](name: String, ds: Dataset[T], mode: SaveMode = SaveMode.Overwrite): Unit =
    ds.write.mode(mode).parquet(path(name))

  /** Read-modify-write overwrite for a slice that is *derived from the
    * slice being replaced* (anti-join/union mutations): parquet overwrite
    * of a path that feeds the plan would truncate its own input, and
    * collecting to the driver doesn't scale past control-plane tables —
    * so write the new content to a temp dir fully distributed, then swap
    * directories. Single-writer by design (like the reference's single
    * process), so the non-transactional swap window is fine. */
  def rewrite[T](name: String, ds: Dataset[T]): Unit = {
    promote(name)(tmp => ds.write.mode(SaveMode.Overwrite).parquet(tmp.toString)); ()
  }

  /** The swap body of [[rewrite]] and [[put]]: `writeTo` fills a fresh
    * temp dir, which then replaces the slice. Returns the listing of
    * the promoted content, taken in the temp dir before the swap (a
    * rename keeps entry names, lengths and mtimes, so it equals the
    * slice's listing afterwards unless another writer got in between). */
  private def promote(name: String)(writeTo: Path => Unit): Option[MetaStore.Stamp] = {
    val fs = this.fs
    val target = new Path(path(name))
    val tmp = new Path(path(name) + "__tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    writeTo(tmp)
    val stamp = listing(tmp)
    // Crash-durable promotion: move the old slice ASIDE (rename, not
    // delete) before promoting tmp — a kill between the two renames
    // leaves both the old and new content on disk for manual recovery,
    // where delete-then-rename would lose the slice entirely.
    val old = new Path(path(name) + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"could not move $target aside to $old")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"could not swap $tmp into $target " +
        s"(previous content preserved at $old)")
    fs.delete(old, true)
    stamp
  }

  /** A directory's validity stamp: the sorted (name, length, mtime) of
    * its entries; None when it does not exist. */
  private def listing(dir: Path): Option[MetaStore.Stamp] =
    try Some(fs.listStatus(dir).toSeq
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sorted)
    catch { case _: java.io.FileNotFoundException => None }

  /** A control-plane slice's rows: the driver copy while the slice's
    * listing is unchanged, else one read (taken after the listing, so a
    * write racing the read only costs the next call a re-read). A
    * missing slice reads as empty. Safe under concurrent callers. */
  def rows[T: Encoder](name: String): Seq[T] = {
    val enc = implicitly[Encoder[T]]
    listing(new Path(path(name))) match {
      case None => Seq.empty
      case Some(stamp) =>
        val copy = copies.get(name)
        if (copy != null && copy.stamp == stamp && copy.cls == enc.clsTag.runtimeClass)
          copy.rows.asInstanceOf[Seq[T]]
        else {
          val fresh = scala.collection.immutable.ArraySeq.unsafeWrapArray(
            spark.read.schema(enc.schema).parquet(path(name)).as[T].collect())
          copies.put(name, MetaStore.Copy(stamp, enc.clsTag.runtimeClass, fresh))
          fresh
        }
    }
  }

  /** One encoder codec per slice class: the serializer and the
    * resolved, bound deserializer are built once, not per [[put]]. The
    * serializer reuses its output row, so only [[put]] (synchronized)
    * calls it. */
  private val codecs =
    new java.util.concurrent.ConcurrentHashMap[Class[_], MetaStore.Codec[_]]()

  private def codec[T](enc: Encoder[T]): MetaStore.Codec[T] =
    codecs.computeIfAbsent(enc.clsTag.runtimeClass,
      _ => MetaStore.Codec(encoderFor(enc))).asInstanceOf[MetaStore.Codec[T]]

  /** Replace a control-plane slice with `rows` and seed its driver
    * copy. The rows are written on the driver as one
    * `part-00000-<uuid>-c000<ext>` file plus `_SUCCESS`, through the
    * rename swap of [[rewrite]]; no Spark job runs. The writer is the
    * one a Spark write task uses, set up by the same `prepareWrite`,
    * so codec, timestamp type, rebase modes and footer metadata follow
    * the session conf exactly as a Spark write does. The seeded rows
    * pass through the encoder's serializer and deserializer, so they
    * equal what a fresh read returns (timestamps truncated to
    * microseconds). Serialized per store: the swap's temp dir is
    * shared by every writer of a slice, and the codec's serializer is
    * stateful. */
  def put[T: Encoder](name: String, rows: Seq[T]): Unit = synchronized {
    val c = codec(implicitly[Encoder[T]])
    promote(name)(writeParquet(_, rows, c)) match {
      case None => copies.remove(name)
      case Some(stamp) =>
        copies.put(name, MetaStore.Copy(stamp, c.cls, rows.map(r => c.de(c.ser(r))).toVector))
    }
    ()
  }

  /** [[put]]'s driver write: one Parquet part file and `_SUCCESS` in
    * `dir`, laid out as a one-task Spark write leaves them. */
  private def writeParquet[T](dir: Path, rows: Seq[T], c: MetaStore.Codec[T]): Unit = {
    val conf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(conf, job, c.schema,
      new ParquetOptions(Map.empty[String, String], conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val out = factory.newInstance(file.toString, c.schema, ctx)
    try rows.foreach(r => out.write(c.ser(r))) finally out.close()
    fs.create(new Path(dir, "_SUCCESS"), false).close()
  }

  def exists(name: String): Boolean = {
    // Hadoop FS, not java.io.File: a non-local root (s3a://, hdfs://)
    // would otherwise read every slice as silently empty.
    fs.exists(new Path(path(name)))
  }

  /** Read a metadata table; empty typed Dataset when absent. */
  def read[T: Encoder](name: String): Dataset[T] = {
    val enc = implicitly[Encoder[T]]
    if (exists(name))
      spark.read.schema(enc.schema).parquet(path(name)).as[T]
    else
      spark.emptyDataset[T]
  }

  def readDf(name: String): DataFrame =
    spark.read.parquet(path(name))

  def tables: Dataset[Model.TableMeta] = read[Model.TableMeta]("tables")(MetaStore.tableMetaEnc)
  def partitions: Dataset[Model.PartitionStat] = read[Model.PartitionStat]("partitions")(MetaStore.partitionStatEnc)
  def snapshots: Dataset[Model.SnapshotMeta] = read[Model.SnapshotMeta]("snapshots")(MetaStore.snapshotMetaEnc)
  def files: Dataset[Model.FileMeta] = read[Model.FileMeta]("files")(MetaStore.fileMetaEnc)
  def columnStats: Dataset[Model.ColumnStat] = read[Model.ColumnStat]("column_stats")(MetaStore.columnStatEnc)

  /** Setting lookup with reference defaults (service_settings.go:15-23,
    * GetSetting go:50-61). Settings are read *at use time* — the
    * reference re-queries the settings table on every claim/scoring
    * call so operators pick up changes without a restart. The lookup
    * is a listing check against the slice's driver copy ([[rows]]): a
    * changed settings row, from any writer, is re-read; an unchanged
    * slice costs no Spark job. */
  def setting(key: String, default: String): String =
    rows[Model.Setting]("settings")(MetaStore.settingEnc)
      .find(_.key == key).map(_.value).getOrElse(default)

  /** GetIntSetting (service_settings.go:79-96): absent → default,
    * unparsable → error. */
  def intSetting(key: String, default: Int): Int = {
    val raw = setting(key, default.toString)
    raw.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"could not parse setting $key as int: $raw"))
  }

  /** GetInt64Setting (service_settings.go:98-115). */
  def longSetting(key: String, default: Long): Long = {
    val raw = setting(key, default.toString)
    raw.toLongOption.getOrElse(
      throw new IllegalArgumentException(s"could not parse setting $key as int64: $raw"))
  }

  /** SetSetting upsert (service_settings.go:63-77): one write of the
    * handful-row slice. */
  def setSetting(key: String, value: String,
      now: java.time.Instant = java.time.Instant.now()): Unit = synchronized {
    import MetaStore.settingEnc
    put("settings", rows[Model.Setting]("settings").filterNot(_.key == key) :+
      Model.Setting(key, value, java.sql.Timestamp.from(now)))
  }
}

object MetaStore {
  /** A slice directory's sorted (name, length, mtime) entries. */
  type Stamp = Seq[(String, Long, Long)]

  /** One slice's driver copy and the listing it is valid under. */
  private final case class Copy(stamp: Stamp, cls: Class[_], rows: Seq[Any])

  /** A slice class's encoder, serializer and bound deserializer. */
  private final case class Codec[T](enc: ExpressionEncoder[T]) {
    val cls: Class[_] = enc.clsTag.runtimeClass
    val schema: org.apache.spark.sql.types.StructType = enc.schema
    val ser: ExpressionEncoder.Serializer[T] = enc.createSerializer()
    val de: ExpressionEncoder.Deserializer[T] = enc.resolveAndBind().createDeserializer()
  }

  implicit val tableMetaEnc: Encoder[Model.TableMeta] = Encoders.product[Model.TableMeta]
  implicit val partitionStatEnc: Encoder[Model.PartitionStat] = Encoders.product[Model.PartitionStat]
  implicit val snapshotMetaEnc: Encoder[Model.SnapshotMeta] = Encoders.product[Model.SnapshotMeta]
  implicit val fileMetaEnc: Encoder[Model.FileMeta] = Encoders.product[Model.FileMeta]
  implicit val taskRowEnc: Encoder[Model.TaskRow] = Encoders.product[Model.TaskRow]
  implicit val settingEnc: Encoder[Model.Setting] = Encoders.product[Model.Setting]
  implicit val columnStatEnc: Encoder[Model.ColumnStat] = Encoders.product[Model.ColumnStat]
}
