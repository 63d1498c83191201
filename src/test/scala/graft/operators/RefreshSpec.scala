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

  test("the live footprint counts what Spark reads: a file, a flat dir, a k=v partitioned dir") {
    val root = Files.createTempDirectory("refresh-footprint").toString
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    li.repartition(3).write.parquet(s"$root/flat")
    li.write.partitionBy("l_returnflag").parquet(s"$root/parted")
    val store = new MetaStore(spark, Files.createTempDirectory("refresh-fp-meta").toString)
    val now = Instant.parse("2026-01-01T00:00:00Z")
    for ((name, path) <- Seq("single" -> s"$sfDir/lineitem.parquet",
        "flat" -> s"$root/flat", "parted" -> s"$root/parted")) {
      val Seq(p) = Refresh.refreshPartitionsLive(store, "main", name, path, now)
      val read = spark.read.parquet(path)
      assert(p.recordCount == read.count(), s"$name: footer rows != Spark's count")
      assert(p.fileCount == read.inputFiles.length.toLong, s"$name: listed files != Spark's")
    }
  }

  test("refreshPartitionsLive replaces only its table's rows, in one Spark job") {
    import MetaStore._
    val store = new MetaStore(spark, Files.createTempDirectory("refresh-part").toString)
    val now = Instant.parse("2026-01-01T00:00:00Z")
    val path = s"$sfDir/nation.parquet"
    Refresh.fullRefresh(store, "main", Map("nation" -> path,
      "region" -> s"$sfDir/region.parquet"), now)
    Refresh.refreshPartitionsLive(store, "main", "region", s"$sfDir/region.parquet", now)
    Refresh.refreshPartitionsLive(store, "main", "nation", path, now) // warm
    def others = store.partitions.collect().filter(_.table != "nation")
      .map(_.toString).sorted.toSeq
    val before = others
    assert(before.nonEmpty)
    val later = now.plusSeconds(60)
    var fresh = Seq.empty[graft.meta.Model.PartitionStat]
    // the footprint reads footers and the other tables' rows are
    // filtered in the swap's own write: the write is the only job
    assert(jobsDuring {
      fresh = Refresh.refreshPartitionsLive(store, "main", "nation", path, later)
    } == 1)
    assert(others == before, "a refresh changed another table's partitions rows")
    assert(store.partitions.collect().filter(_.table == "nation").toSeq == fresh)
  }
}
