package graft.operators

import java.nio.file.Files
import java.time.Instant

import graft.SparkSpec
import graft.meta.MetaStore

/** M5 refresh: describe→store round trip and the J1 stale-table cascade
  * delete. */
class RefreshSpec extends SparkSpec {

  test("fullRefresh describes live tables and cascade-deletes stale ones") {
    import MetaStore._
    val store = new MetaStore(spark, Files.createTempDirectory("refresh").toString)
    val now = Instant.parse("2026-01-01T00:00:00Z")

    Refresh.fullRefresh(store, "main", Map(
      "nation" -> s"$sfDir/nation.parquet",
      "region" -> s"$sfDir/region.parquet"), now)
    assert(store.tables.collect().map(_.name).toSet == Set("nation", "region"))
    val nation = store.tables.filter(_.name == "nation").collect().head
    assert(nation.columns.map(_.name).contains("n_nationkey"))
    assert(nation.columns.forall(_.`type`.nonEmpty))

    // Second refresh without region → stale cascade.
    val stale = Refresh.fullRefresh(store, "main",
      Map("nation" -> s"$sfDir/nation.parquet"), now)
    assert(stale == Seq(("main", "region")))
    assert(store.tables.collect().map(_.name).toSet == Set("nation"))
  }

  test("a repeat refreshTable of an unchanged live table starts no Spark job") {
    val store = new MetaStore(spark, Files.createTempDirectory("refresh-jobs").toString)
    val now = Instant.parse("2026-01-01T00:00:00Z")
    Refresh.refreshTable(store, "main", "nation", s"$sfDir/nation.parquet", now)
    assert(jobsDuring(
      Refresh.refreshTable(store, "main", "nation", s"$sfDir/nation.parquet", now)) == 0)
    import MetaStore._
    assert(store.tables.collect().map(_.name).toSeq == Seq("nation"))
  }
}
