package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.meta.{Model, PartitionModel}

/** The partition drill-down entry point (reference §3.1,
  * handler_browse.go:137-178): given a table's expanded partition spec
  * and the already-selected level filters, aggregate the next level.
  *
  * Validation mirrors the reference: every provided key must name a
  * spec field, selections must cover exactly the first `depth` spec
  * fields (drilling is prefix-ordered), and a fully-selected spec has
  * no next level.
  */
object Browse {

  def drillDown(
      partitions: Dataset[Model.PartitionStat],
      spec: Seq[Model.PartitionField],
      filters: Map[String, String]): Either[String, DataFrame] = {
    val spark = partitions.sparkSession
    import spark.implicits._

    val names = spec.map(_.name)
    val unknown = filters.keySet -- names.toSet
    if (unknown.nonEmpty)
      return Left(s"unknown partition key(s): ${unknown.toSeq.sorted.mkString(",")}")
    val depth = filters.size
    val expectedPrefix = names.take(depth).toSet
    if (filters.keySet != expectedPrefix)
      return Left(s"selection must cover the first $depth partition level(s): " +
        names.take(depth).mkString(","))
    if (depth >= names.size)
      return Left("partition spec fully selected; no further level")

    val levelKey = names(depth)
    val filtered = filters.foldLeft(partitions.toDF()) { case (df, (k, v)) =>
      df.where(col("partition").getItem(k) === v)
    }
    Right(
      filtered
        .groupBy(col("partition").getItem(levelKey).as("value"))
        .agg(
          sum($"fileCount").as("file_count"),
          sum($"recordCount").as("record_count"),
          sum($"totalDataFileSizeInBytes").as("total_bytes"),
          coalesce(max($"needsOptimize"), lit(false)).as("needs_optimize"),
          sum($"needsOptimize".cast("int")).as("needs_optimize_count"))
        .orderBy($"value"))
  }

  /** S8 over HTTP: the data-file listing behind
    * `POST /api/browse/:db/:table/files` (reference main.go:86,
    * service_browse_files.go:46-76,193-215): a COMPLETE partition
    * selection resolves — hidden transforms to raw literals — then the
    * `$files`-shaped slice is filtered to content=0 data files whose
    * partition values match every selection, ordered file_size DESC,
    * file_path ASC. Returns the selection's raw field names (the F9
    * render order) alongside the frame; the partition map stays a map —
    * the HTTP layer renders it per row with
    * [[PartitionModel.renderOrdered]]. A complete selection pins one
    * partition, so the result is file-count-of-one-partition small
    * regardless of table size. */
  def listFiles(
      files: Dataset[Model.FileMeta],
      spec: Seq[Model.PartitionField],
      filters: Map[String, String]): Either[String, (Seq[String], DataFrame)] =
    PartitionModel.resolveCompleteSelections(spec, filters).map { selections =>
      val matched = selections.foldLeft(
        files.toDF().where(col("content") === 0)) { case (df, (raw, v)) =>
        df.where(col("partition").getItem(raw) === v)
      }
      (selections.map(_._1),
        matched.select(col("content"), col("filePath"), col("fileFormat"),
            col("specId"), col("partition"), col("recordCount"),
            col("fileSizeInBytes"))
          .orderBy(col("fileSizeInBytes").desc, col("filePath").asc))
    }
}
