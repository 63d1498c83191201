package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The standing delete store must be semantically invisible (morRead ==
  * the direct anti-join over everything committed), converge under
  * replayed and crash-replayed appends, keep its replay ledger across
  * compaction, dedup repeated keys when compacting, and come back
  * empty — but still replay-proof — after a materialize+reset. */
class DeleteStoreSpec extends SparkSpec {

  import DeleteStore._

  private def fOrders: DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir).where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey"), $"o_orderdate")
  }

  private def expectAnti: DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .join(fOrders.select($"l_orderkey").distinct(), Seq("l_orderkey"), "left_anti")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def freshStore(split: Boolean = true): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("delstore").toString
    init(spark, dir, Seq("l_orderkey"))
    if (split) {
      val cut = lit("1997-01-01").cast("timestamp")
      append(fOrders.where($"o_orderdate" < cut), dir, "b1")
      append(fOrders.where($"o_orderdate" >= cut), dir, "b2")
    }
    dir
  }

  test("morRead after two committed batches equals the direct anti-join") {
    val dir = freshStore()
    val got = morRead(Tables.lineitem(spark, sfDir), dir)
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(expectAnti))
  }

  test("an empty store reads the table verbatim; empty appends commit nothing") {
    import spark.implicits._
    val dir = freshStore(split = false)
    val li = Tables.lineitem(spark, sfDir)
    assert(morRead(li, dir).count() == li.count())
    append(fOrders.where(lit(false)), dir, "empty-1")
    assert(manifest(spark, dir).applied.isEmpty,
      "an empty batch must not commit a fileless label")
  }

  test("replayed and crash-replayed appends converge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("delstore-crash").toString
    init(spark, dir, Seq("l_orderkey"))
    val b = fOrders.select($"l_orderkey")
    // crash between the data write and the manifest commit: invisible
    intercept[RuntimeException] {
      append(b, dir, "b1", beforeCommit = () => throw new RuntimeException("crash"))
    }
    val li = Tables.lineitem(spark, sfDir)
    assert(morRead(li, dir).count() == li.count(),
      "an uncommitted delete batch leaked into reads")
    append(b, dir, "b1") // replay commits
    assert(sortedRows(morRead(li, dir)) == sortedRows(expectAnti))
    append(b, dir, "b1") // committed = immutable = no-op
    assert(manifest(spark, dir).applied == Seq("b1"))
  }

  test("compact folds to one DISTINCT file, preserves the ledger and reads") {
    import spark.implicits._
    val dir = freshStore()
    // overlapping third batch: repeated keys across batches
    append(fOrders.limit(50), dir, "b3")
    val before = sortedRows(morRead(Tables.lineitem(spark, sfDir), dir))
    val rowsBefore = liveDeletes(spark, dir).count()
    compact(spark, dir, "m1")
    assert(liveDeletes(spark, dir).count() < rowsBefore,
      "compaction must dedup repeated delete keys")
    assert(liveDeletes(spark, dir).count() ==
      fOrders.select($"l_orderkey").distinct().count())
    assert(sortedRows(morRead(Tables.lineitem(spark, sfDir), dir)) == before)
    // ledger intact: replaying a folded batch is still a no-op
    append(fOrders.limit(50), dir, "b3")
    assert(manifest(spark, dir).live == Seq("m1"))
    assert(vacuum(spark, dir) == 3, "b1+b2+b3 dirs should be swept")
    assert(sortedRows(morRead(Tables.lineitem(spark, sfDir), dir)) == before)
  }

  test("materialize + reset: deletes move into the data, reads stay clean") {
    import spark.implicits._
    val dir = freshStore()
    val root = java.nio.file.Files.createTempDirectory("delstore-mat").toString
    val li = Tables.lineitem(spark, sfDir)
    val mor = morRead(li, dir)
    val (written, deleted) = RowDeletes.materialize(mor, li, s"$root/clean")
    assert(written == mor.count() && deleted > 0)
    reset(spark, dir)
    val clean = spark.read.parquet(s"$root/clean")
    // the rewritten table through the reset store: nothing re-deleted
    assert(morRead(clean, dir).count() == written)
    // ledger survives reset: a replayed epoch stays a no-op
    append(fOrders, dir, "b1")
    assert(morRead(clean, dir).count() == written)
  }

  test("streaming erasure feed drains to the batch store; labels replay-proof") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("delstore-stream").toString
    val src = java.nio.file.Files.createTempDirectory("delstore-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("delstore-ckpt").toString
    init(spark, dir, Seq("l_orderkey"))
    val b = fOrders.select($"l_orderkey")
    b.coalesce(1).write.parquet(s"$src/f1")
    val q = ingestStream(
      spark.readStream.schema(b.schema).parquet(s"$src/f1"),
      dir, ckpt + "/c1")
    q.awaitTermination()
    append(spark.read.parquet(s"$src/f1"), dir, "epoch-0") // replay: no-op
    val li = Tables.lineitem(spark, sfDir)
    assert(sortedRows(morRead(li, dir)) == sortedRows(expectAnti))
    assert(manifest(spark, dir).applied == Seq("epoch-0"))
  }

  test("an empty batch commits nothing and leaves no batch dir or sidecar") {
    val dir = freshStore()
    val before = manifest(spark, dir)
    append(fOrders.where(lit(false)), dir, "empty-2")
    assert(manifest(spark, dir) == before)
    assert(!new java.io.File(s"$dir/deletes/batch=empty-2").exists(),
      "an empty batch left its directory")
    assert(!StoreIO.pendingExists(spark, dir, "append", "empty-2"),
      "an empty batch left its sidecar")
    assert(sortedRows(morRead(Tables.lineitem(spark, sfDir), dir)) == sortedRows(expectAnti))
  }
}
