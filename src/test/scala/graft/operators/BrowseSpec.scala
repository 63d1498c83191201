package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import graft.meta.{MetaStore, Model}

/** The assembled drill-down entry point (reference §3.1): level-by-level
  * navigation with the reference's validation errors. */
class BrowseSpec extends SparkSpec {

  // A hidden day transform on `at`: three logical fields sharing the
  // raw partition field `at_day`.
  private val spec = Seq("year", "month", "day").map(n => Model.PartitionField(
    n, "at_day", isHidden = true, Some(Model.HiddenTransform("at", "day"))))

  private def stat(y: String, m: String, d: String, files: Long,
      needs: Boolean): Model.PartitionStat =
    Model.PartitionStat("db", "t", Map("year" -> y, "month" -> m, "day" -> d),
      0, files * 10, files, files * 100,
      Timestamp.valueOf("2026-01-01 00:00:00"), 1L, needs)

  private lazy val partitions = {
    import MetaStore._
    spark.createDataset(Seq(
      stat("2025", "01", "01", 4, needs = true),
      stat("2025", "01", "02", 2, needs = false),
      stat("2025", "02", "01", 8, needs = true),
      stat("2024", "12", "31", 1, needs = false)))
  }

  test("level 0 groups by year with needs_optimize rollup") {
    val rows = Browse.drillDown(partitions, spec, Map.empty).toOption.get.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("2024", "2025"))
    val y2025 = rows(1)
    assert(y2025.getAs[Long]("file_count") == 14)
    assert(y2025.getAs[Boolean]("needs_optimize"))
    assert(y2025.getAs[Long]("needs_optimize_count") == 2)
  }

  test("level 1 filters the selected year and groups by month") {
    val rows = Browse.drillDown(partitions, spec, Map("year" -> "2025"))
      .toOption.get.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("01", "02"))
    assert(rows(0).getAs[Long]("record_count") == 60)
  }

  test("validation: unknown keys, non-prefix selection, exhausted spec") {
    assert(Browse.drillDown(partitions, spec, Map("bogus" -> "1")).isLeft)
    assert(Browse.drillDown(partitions, spec, Map("month" -> "01")).isLeft)
    assert(Browse.drillDown(partitions, spec,
      Map("year" -> "2025", "month" -> "01", "day" -> "01")).isLeft)
  }
}
