package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SkippingIndex.{ColumnEquals, ColumnRange}
import graft.sources.Tables

/** The composed table must behave like ONE table format: committed
  * appends and deletes are exactly visible, uncommitted ones exactly
  * invisible (including through the pruned read path), maintenance
  * (optimize/vacuum) never changes query results, and the pruning is
  * measured, not asserted. */
class GraftTableSpec extends SparkSpec {

  import GraftTable._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("gt-").toString

  private def li: DataFrame = Tables.lineitem(spark, sfDir)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** create + two appends split by orderkey + one erasure batch. */
  private def build(dir: String): Long = {
    import spark.implicits._
    create(spark, dir, zoneCols = Seq("l_partkey"),
      bloomCols = Seq("l_orderkey"), deleteKeys = Seq("l_orderkey"))
    val mid = li.agg(max($"l_orderkey")).head().getLong(0) / 2
    append(li.where($"l_orderkey" <= mid), dir, "b1")
    append(li.where($"l_orderkey" > mid), dir, "b2")
    delete(Tables.orders(spark, sfDir).where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey")), dir, "erase-1")
    mid
  }

  /** What the table should hold: lineitem minus F-order lines. */
  private def expected: DataFrame = {
    import spark.implicits._
    li.join(Tables.orders(spark, sfDir).where($"o_orderstatus" === "F")
        .select($"o_orderkey".as("l_orderkey")),
      Seq("l_orderkey"), "left_anti")
  }

  test("append + delete lifecycle: read() is the raw data minus the erasure") {
    val dir = tmp()
    build(dir)
    assert(sortedRows(read(spark, dir)) == sortedRows(expected))
  }

  test("readWhere == read().where(...) and actually prunes live files") {
    import spark.implicits._
    val dir = tmp()
    val mid = build(dir)
    val band = Seq(ColumnRange("l_partkey", Some(40L), Some(79L)))
    val got = readWhere(spark, dir, ranges = band)
    val expect = expected.where($"l_partkey".between(40L, 79L))
    assert(sortedRows(got) == sortedRows(expect))
    // the bloom side prunes point probes on the scattered orderkey
    val key = mid - 1L
    val point = readWhere(spark, dir,
      equalities = Seq(ColumnEquals("l_orderkey", Seq(key))))
    assert(sortedRows(point) ==
      sortedRows(expected.where($"l_orderkey" === key)))
    val allFiles = read(spark, dir).inputFiles.length
    assert(point.inputFiles.length < allFiles,
      s"point probe read ${point.inputFiles.length} of $allFiles live files")
    // the same probes over a LEGACY (pre-schema) manifest: the pruned
    // scan footer-merges the surviving files and conforms them to the
    // full live set's schema — same rows, still pruned
    val p = java.nio.file.Paths.get(s"$dir/_live.json")
    val raw = java.nio.file.Files.readString(p)
    val i = raw.indexOf(""""schema":""")
    assert(i > 0, "manifest carried no schema to strip")
    java.nio.file.Files.writeString(p, raw.substring(0, i - 1) + "}")
    assert(manifest(spark, dir).schemaJson.isEmpty)
    assert(sortedRows(readWhere(spark, dir, ranges = band)) ==
      sortedRows(expect))
    val legacyPoint = readWhere(spark, dir,
      equalities = Seq(ColumnEquals("l_orderkey", Seq(key))))
    assert(sortedRows(legacyPoint) ==
      sortedRows(expected.where($"l_orderkey" === key)))
    val legacyAll = read(spark, dir).inputFiles.length
    assert(legacyPoint.inputFiles.length < legacyAll,
      s"legacy point probe read ${legacyPoint.inputFiles.length} of " +
        s"$legacyAll live files")
  }

  test("a crashed append is invisible — through read() AND the pruned path — then converges") {
    import spark.implicits._
    val dir = tmp()
    build(dir)
    val before = sortedRows(read(spark, dir))
    val band = Seq(ColumnRange("l_partkey", Some(0L), Some(999999L)))
    val bandBefore = sortedRows(readWhere(spark, dir, ranges = band))
    val extra = li.limit(100)
    intercept[RuntimeException] {
      append(extra, dir, "b3",
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    // the orphan directory exists on disk but no read may see it —
    // the pruned path must intersect with the LIVE set, not trust the
    // raw listing's conservative "unknown files are read" rule
    assert(new java.io.File(s"$dir/data/batch=b3").exists())
    assert(sortedRows(read(spark, dir)) == before)
    assert(sortedRows(readWhere(spark, dir, ranges = band)) == bandBefore)
    // replay commits; a second replay is a no-op
    append(extra, dir, "b3")
    val after = sortedRows(read(spark, dir))
    assert(after != before)
    append(extra, dir, "b3")
    assert(sortedRows(read(spark, dir)) == after)
  }

  test("optimize folds batches, materializes deletes, z-orders; results unchanged") {
    import spark.implicits._
    val dir = tmp()
    build(dir)
    val before = sortedRows(read(spark, dir))
    val band = Seq(ColumnRange("l_partkey", Some(40L), Some(79L)))
    val bandBefore = sortedRows(readWhere(spark, dir, ranges = band))
    optimize(spark, dir, "opt-1", nFiles = 8)
    assert(sortedRows(read(spark, dir)) == before)
    assert(sortedRows(readWhere(spark, dir, ranges = band)) == bandBefore)
    // one live batch; the delete store's live set is empty (the
    // deletes are IN the data) but its ledger survives
    assert(manifest(spark, dir).live == Seq("opt-1"))
    val audit0 = DeleteStore.audit(spark, s"$dir/del").collect().head
    assert(audit0.getLong(0) == 0L, "live deletes must reset after optimize")
    // a replayed erasure epoch stays absorbed by the ledger
    delete(Tables.orders(spark, sfDir).where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey")), dir, "erase-1")
    assert(sortedRows(read(spark, dir)) == before,
      "a replayed delete label re-deleted after optimize")
    // replaying optimize is a no-op too
    optimize(spark, dir, "opt-1")
    assert(sortedRows(read(spark, dir)) == before)
    // and the rewrite paid off: the zone band now prunes the scan
    val pruned = readWhere(spark, dir, ranges = band)
    assert(pruned.inputFiles.length <= 3,
      s"band read ${pruned.inputFiles.length} of 8 optimized files")
  }

  test("vacuum honors retained snapshots; after expiry it sweeps the folded dirs") {
    val dir = tmp()
    build(dir)
    val before = sortedRows(read(spark, dir))
    optimize(spark, dir, "opt-1")
    // every directory is still named by a retained commit snapshot:
    // vacuum sweeps nothing and time travel still resolves
    assert(vacuum(spark, dir) == ((0, 0)),
      "vacuum swept a directory a retained snapshot references")
    assert(sortedRows(tableAt(spark, dir, 4L)) == before)
    // expiry is the retention decision (commits 1-4 dropped, 5 kept)
    assert(expireCommits(spark, dir, keepLast = 1) == 4)
    val (dataSwept, delSwept) = vacuum(spark, dir)
    assert(dataSwept == 2, s"expected b1+b2 swept, got $dataSwept")
    assert(delSwept == 1, s"expected erase-1 swept, got $delSwept")
    assert(sortedRows(read(spark, dir)) == before)
    assert(!new java.io.File(s"$dir/data/batch=b1").exists())
  }

  test("time travel reconstructs pre-append, pre-delete, and post-optimize states") {
    import spark.implicits._
    val dir = tmp()
    val mid = build(dir) // commits: create=1, b1=2, b2=3, erase-1=4
    intercept[IllegalArgumentException](tableAt(spark, dir, 1L)) // no data yet
    assert(sortedRows(tableAt(spark, dir, 2L)) ==
      sortedRows(li.where($"l_orderkey" <= mid)))
    assert(sortedRows(tableAt(spark, dir, 3L)) == sortedRows(li))
    assert(sortedRows(tableAt(spark, dir, 4L)) == sortedRows(expected))
    assert(sortedRows(tableAt(spark, dir, 4L)) == sortedRows(read(spark, dir)))
    optimize(spark, dir, "opt-1") // commit 5: deletes baked in, delLive []
    assert(sortedRows(tableAt(spark, dir, 5L)) == sortedRows(expected))
    // earlier snapshots stay exact after maintenance
    assert(sortedRows(tableAt(spark, dir, 3L)) == sortedRows(li))
  }

  test("changesBetween emits inserts and delete preimages; optimize windows refuse") {
    import spark.implicits._
    val dir = tmp()
    val mid = build(dir)
    def strs(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    // (2, 3]: pure insert window — batch b2's rows verbatim
    val w23 = changesBetween(spark, dir, 2L, 3L)
    assert(w23.select($"_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
    assert(strs(w23.drop("_change_type")) ==
      strs(li.where($"l_orderkey" > mid)))
    // (3, 4]: pure delete window — preimages of the erased rows
    val w34 = changesBetween(spark, dir, 3L, 4L)
    assert(w34.select($"_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    val erased = li.join(Tables.orders(spark, sfDir)
        .where($"o_orderstatus" === "F")
        .select($"o_orderkey".as("l_orderkey")),
      Seq("l_orderkey"), "left_semi")
    assert(strs(w34.drop("_change_type")) == strs(erased))
    // (2, 4]: mixed window — a row appended in b2 AND erased emits BOTH
    val w24 = changesBetween(spark, dir, 2L, 4L)
    val both = w24.groupBy($"l_orderkey", $"l_linenumber").count()
      .where($"count" === 2)
    assert(both.count() > 0, "insert-then-delete rows must emit both events")
    // re-deleting keys already dead at `from` is not a visible change
    delete(Tables.orders(spark, sfDir).where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey")), dir, "erase-2") // commit 5
    assert(changesBetween(spark, dir, 4L, 5L).count() == 0)
    optimize(spark, dir, "opt-1") // commit 6
    val ex = intercept[IllegalArgumentException](
      changesBetween(spark, dir, 3L, 6L))
    assert(ex.getMessage.contains("optimize"))
    // windows that END before the optimize still serve
    assert(strs(changesBetween(spark, dir, 3L, 4L).drop("_change_type")) ==
      strs(erased))
  }

  test("expired table commits refuse travel, naming the live commit") {
    val dir = tmp()
    build(dir) // commits 1-4
    assert(expireCommits(spark, dir, keepLast = 1) == 3)
    assert(sortedRows(tableAt(spark, dir, 4L)) == sortedRows(expected))
    val ex = intercept[IllegalArgumentException](tableAt(spark, dir, 2L))
    assert(ex.getMessage.contains("not retained") &&
      ex.getMessage.contains("live commit is 4"))
  }

  test("table(): plain .where prunes inside the scan, live-set-committed, deletes applied") {
    import spark.implicits._
    val dir = tmp()
    build(dir)
    optimize(spark, dir, "opt-1") // clustered layout so the band prunes
    val t = table(spark, dir).where($"l_partkey".between(40L, 79L))
    // measured on FIRST execution (driver numFiles resets on re-run)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    t.collect()
    val dataScanFiles = scans(t.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).max // the delete probe scan is tiny
    assert(dataScanFiles <= 3,
      s"transparent band read $dataScanFiles of 8 optimized files")
    assert(sortedRows(table(spark, dir).where($"l_partkey".between(40L, 79L)))
      == sortedRows(expected.where($"l_partkey".between(40L, 79L))))
    // a crashed append's orphan is invisible through the transparent
    // path too — the live set, not the listing, names the candidates
    val before = sortedRows(table(spark, dir))
    intercept[RuntimeException] {
      append(li.limit(50), dir, "b9",
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    assert(new java.io.File(s"$dir/data/batch=b9").exists())
    assert(sortedRows(table(spark, dir)) == before)
  }

  test("streaming ingest commits per-epoch labels; a replayed epoch is absorbed") {
    import spark.implicits._
    val dir = tmp()
    val src = java.nio.file.Files.createTempDirectory("gt-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gt-ckpt").toString
    create(spark, dir, zoneCols = Seq("l_partkey"))
    val mid = li.agg(max($"l_orderkey")).head().getLong(0) / 2
    li.where($"l_orderkey" <= mid).coalesce(1).write.parquet(s"$src/f1")
    li.where($"l_orderkey" > mid).coalesce(1).write.parquet(s"$src/f2")
    val q1 = ingestStream(
      spark.readStream.schema(li.schema).parquet(s"$src/f1"),
      dir, s"$ckpt/c1", labelPrefix = "e1")
    q1.awaitTermination()
    val q2 = ingestStream(
      spark.readStream.schema(li.schema).parquet(s"$src/f2"),
      dir, s"$ckpt/c2", labelPrefix = "e2")
    q2.awaitTermination()
    // a deliberate epoch replay: the label ledger absorbs it
    append(spark.read.parquet(s"$src/f2"), dir, "e2-0")
    assert(sortedRows(read(spark, dir)) == sortedRows(li))
    assert(manifest(spark, dir).applied.sorted == Seq("e1-0", "e2-0"))
  }

  test("appends may evolve the schema; reads union with NULL gaps, prunes intact") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.select($"l_partkey", $"l_orderkey", $"l_quantity"), dir, "b1")
    // b2 brings a column b1 never had
    append(li.select($"l_partkey", $"l_orderkey", $"l_quantity")
      .limit(100).withColumn("source_tag", lit("v2")), dir, "b2")
    val t = read(spark, dir)
    assert(t.columns.contains("source_tag"))
    assert(t.where(col("source_tag").isNull).count() == li.count(),
      "pre-evolution rows must read the new column as NULL")
    assert(t.where(col("source_tag") === "v2").count() == 100)
    // the pruned read and the transparent read see the union schema too
    val pruned = readWhere(spark, dir,
      ranges = Seq(SkippingIndex.ColumnRange("l_partkey", Some(0L), None)))
    assert(pruned.columns.contains("source_tag"))
    assert(pruned.count() == t.count())
    assert(table(spark, dir).columns.contains("source_tag"))
  }

  test("syncMirror maintains a downstream mirror: baseline, delta, re-baseline") {
    import spark.implicits._
    val dir = tmp()
    val mirror = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    val mid = li.agg(max($"l_orderkey")).head().getLong(0) / 2
    append(li.where($"l_orderkey" <= mid), dir, "b1")
    // first sync: full baseline
    val (f1, t1) = syncMirror(spark, dir, mirror)
    assert(f1 == 0L && t1 == 2L)
    assert(sortedRows(mirrorRead(spark, mirror)) ==
      sortedRows(read(spark, dir)))
    // append + delete → one DELTA sync covering both commits
    append(li.where($"l_orderkey" > mid), dir, "b2")
    delete(Tables.orders(spark, sfDir).where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey")), dir, "erase-1")
    val (f2, t2) = syncMirror(spark, dir, mirror)
    assert(f2 == 2L && t2 == 4L)
    assert(sortedRows(mirrorRead(spark, mirror)) == sortedRows(expected))
    // nothing new → no-op
    assert(syncMirror(spark, dir, mirror) == ((4L, 4L)))
    // an optimize lands before the next sync: re-baseline, same rows
    optimize(spark, dir, "opt-1")
    val (f3, t3) = syncMirror(spark, dir, mirror)
    assert(f3 == 4L && t3 == 5L)
    assert(sortedRows(mirrorRead(spark, mirror)) ==
      sortedRows(read(spark, dir)))
  }

  test("a replayed optimize retires ONLY the deletes its rewrite materialized") {
    import spark.implicits._
    val dir = tmp()
    build(dir)
    optimize(spark, dir, "opt-1") // materializes erase-1
    // a LATER erasure commits live deletes the replay must not wipe
    val late = li.select($"l_orderkey").distinct().limit(5)
    delete(late, dir, "erase-late")
    val withLate = sortedRows(read(spark, dir))
    assert(withLate != sortedRows(expected), "vacuous: late erasure erased nothing")
    // at-least-once orchestrator replays the committed optimize
    optimize(spark, dir, "opt-1")
    assert(sortedRows(read(spark, dir)) == withLate,
      "replayed optimize resurrected rows a later delete batch erased")
    assert(DeleteStore.manifest(spark, s"$dir/del").live == Seq("erase-late"))
  }

  test("changesBetween conforms window batches to the union schema") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.select($"l_partkey", $"l_orderkey")
      .limit(100).withColumn("extra", lit("v1")), dir, "b1") // commit 2
    append(li.select($"l_partkey", $"l_orderkey").limit(50), dir, "b2") // 3
    val w = changesBetween(spark, dir, 2L, 3L)
    assert(w.columns.contains("extra"))
    assert(w.count() == 50)
    assert(w.where(col("extra").isNull).count() == 50,
      "the narrow batch's rows must carry typed NULL gaps")
    // and the mirror path survives the same window
    val mirror = tmp()
    val dir2 = dir // mirror of the evolving table
    syncMirror(spark, dir2, mirror)
    assert(sortedRows(mirrorRead(spark, mirror)) ==
      sortedRows(read(spark, dir2)))
  }

  test("syncMirror re-baselines when its last-synced commit has been expired") {
    import spark.implicits._
    val dir = tmp()
    val mirror = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    append(li.limit(1000), dir, "b1") // commit 2
    syncMirror(spark, dir, mirror)
    append(li.limit(2000), dir, "b2") // commit 3 (overlap is fine)
    assert(expireCommits(spark, dir, keepLast = 1) == 2) // commit 2 gone
    val (f, t) = syncMirror(spark, dir, mirror)
    assert(f == 2L && t == 3L)
    assert(sortedRows(mirrorRead(spark, mirror)) ==
      sortedRows(read(spark, dir)))
  }

  test("NULL-key deletes erase NULL rows in the table, the CDC feed, and the mirror") {
    import spark.implicits._
    val dir = tmp()
    val mirror = tmp()
    create(spark, dir, zoneCols = Seq("v"), deleteKeys = Seq("k"))
    val data = Seq((Some(1L), 10L), (Option.empty[Long], 20L),
      (Some(3L), 30L)).toDF("k", "v")
    append(data, dir, "b1") // commit 2
    syncMirror(spark, dir, mirror)
    delete(Seq(Option.empty[Long]).toDF("k"), dir, "e1") // commit 3
    // the table: the NULL-key row is gone (<=> semantics)
    assert(read(spark, dir).select($"v").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(10L, 30L))
    // the CDC feed emits its preimage
    val del = changesBetween(spark, dir, 2L, 3L)
    assert(del.where($"_change_type" === "delete").select($"v").collect()
      .map(_.getLong(0)).toSeq == Seq(20L))
    // and the mirror converges to the table
    syncMirror(spark, dir, mirror)
    assert(sortedRows(mirrorRead(spark, mirror)) ==
      sortedRows(read(spark, dir)))
  }

  test("table() degrades to an unpruned read when the index is missing") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.limit(500), dir, "b1")
    // simulate a crash between the first append's commit and its
    // index build: drop the index wholesale
    val idx = new java.io.File(s"$dir/index")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(idx)
    assert(table(spark, dir).count() == 500)
    assert(readWhere(spark, dir, ranges = Seq(
      SkippingIndex.ColumnRange("l_partkey", Some(0L), None))).count() == 500)
  }

  test("rows appended under a standing pre-window delete never reach the CDC feed or the mirror") {
    import spark.implicits._
    val dir = tmp()
    val mirror = tmp()
    create(spark, dir, zoneCols = Seq("v"), deleteKeys = Seq("k"))
    append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), dir, "b1") // commit 2
    delete(Seq(1L).toDF("k"), dir, "e1")                        // commit 3
    syncMirror(spark, dir, mirror)
    // k=1 is still a LIVE standing delete; re-appending it is invisible
    append(Seq((1L, 11L), (3L, 30L)).toDF("k", "v"), dir, "b2") // commit 4
    val w = changesBetween(spark, dir, 3L, 4L)
    assert(w.select($"k").collect().map(_.getLong(0)).toSeq == Seq(3L),
      "an insert under a live pre-window delete leaked into the feed")
    syncMirror(spark, dir, mirror)
    assert(sortedRows(mirrorRead(spark, mirror)) ==
      sortedRows(read(spark, dir)))
    // keys deleted IN a window still emit both events (the b2+erase
    // case): pin that the pre-window filter did not break it
    append(Seq((4L, 40L)).toDF("k", "v"), dir, "b3")            // commit 5
    delete(Seq(4L).toDF("k"), dir, "e2")                        // commit 6
    val w2 = changesBetween(spark, dir, 4L, 6L)
    assert(w2.where($"k" === 4L).count() == 2)
  }

  test("readWhere keeps the union schema when the prune drops the evolved batch") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.select($"l_partkey", $"l_orderkey")
      .where($"l_partkey" < 100L), dir, "b1")
    append(li.select($"l_partkey", $"l_orderkey")
      .where($"l_partkey" >= 100L)
      .withColumn("source_tag", lit("v2")), dir, "b2")
    // the band prunes to b1 only — but the frame must still carry b2's
    // evolved column (as NULLs), or downstream selects break
    val got = readWhere(spark, dir, ranges = Seq(
      SkippingIndex.ColumnRange("l_partkey", Some(0L), Some(50L))))
    assert(got.columns.contains("source_tag"))
    assert(got.where(col("source_tag").isNull).count() == got.count())
    assert(got.count() ==
      li.where($"l_partkey".between(0L, 50L)).count())
  }

  test("an append after optimize refreshes only the live delta, not the superseded dirs") {
    import spark.implicits._
    val dir = tmp()
    build(dir)
    optimize(spark, dir, "opt-1", nFiles = 4)
    // superseded b1/b2 still on disk (no vacuum yet); the next append
    // must index ONLY its own file — superseded files must not re-enter
    append(li.limit(100), dir, "b3")
    val indexed = SkippingIndex.audit(spark, s"$dir/index")
      .collect().head.getAs[Long]("indexed_files")
    val liveCount = read(spark, dir).inputFiles.length
    assert(indexed == liveCount,
      s"index holds $indexed files but only $liveCount are live — superseded dirs re-statted")
  }

  test("a crash between the optimize commit and its epilogue survives commit expiry") {
    import spark.implicits._
    val dir = tmp()
    build(dir)
    // crash AFTER the rewrite committed, BEFORE the retire+rebuild
    intercept[RuntimeException] {
      optimize(spark, dir, "opt-1",
        beforeEpilogue = () => throw new RuntimeException("crash"))
    }
    assert(DeleteStore.manifest(spark, s"$dir/del").live == Seq("erase-1"),
      "vacuous: the crash must land before the retire")
    // the commit log is expired before the replay — the pending
    // sidecar, not the snapshot, must carry the retire set
    expireCommits(spark, dir, keepLast = 1)
    optimize(spark, dir, "opt-1")
    assert(DeleteStore.manifest(spark, s"$dir/del").live.isEmpty,
      "replay after expiry failed to retire the materialized deletes")
    assert(sortedRows(read(spark, dir)) == sortedRows(expected))
  }

  test("syncMirror before any data is a no-op; keepLast bounds unreferenced versions") {
    import spark.implicits._
    val dir = tmp()
    val mirror = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    assert(syncMirror(spark, dir, mirror) == ((0L, 0L)))
    append(li.limit(200), dir, "b1")
    syncMirror(spark, dir, mirror)
    append(li.limit(400), dir, "b2")
    // a frame held across the next sync: keepLast=1 (default) must
    // keep every version dir the superseded pointer referenced
    val held = mirrorRead(spark, mirror)
    val heldRows = held.count()
    syncMirror(spark, dir, mirror)
    def vdirs = new java.io.File(mirror).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
      .sorted.toSeq
    val st = readViewState(spark, s"$mirror/_sync.json").get
    // the live bucket map's versions are all on disk, and the
    // superseded pointer's refs (prevRefs) survive for the held reader
    val liveRefs = st.buckets.values.flatten.toSet.map((v: Long) => s"v$v")
    assert(liveRefs.subsetOf(vdirs.toSet),
      s"live-referenced versions missing: $liveRefs vs ${vdirs.mkString(",")}")
    assert(st.prevRefs.flatten.toSet.map((v: Long) => s"v$v")
      .subsetOf(vdirs.toSet),
      "keepLast=1 swept a version the superseded pointer referenced")
    assert(held.count() == heldRows,
      "held frame broke across a sync (keepLast retention)")
    // keepLast=0 restores sweep-immediately: after the sync, the only
    // version dirs on disk are the ones the LIVE bucket map references
    append(li.limit(800), dir, "b4")
    syncMirror(spark, dir, mirror, keepLast = 0)
    val st0 = readViewState(spark, s"$mirror/_sync.json").get
    assert(st0.prevRefs.isEmpty, "keepLast=0 recorded reader refs")
    val expect = st0.buckets.values.flatten.toSet.map((v: Long) => s"v$v")
    assert(vdirs.toSet == expect,
      s"keepLast=0 should keep exactly the live-referenced versions: " +
        s"have ${vdirs.mkString(",")}, want ${expect.mkString(",")}")
    assert(mirrorRead(spark, mirror).count() == read(spark, dir).count())
  }

  test("CDC delete preimages stay exact when the probe is index-pruned (bloom-indexed delete key)") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"),
      bloomCols = Seq("l_orderkey"), deleteKeys = Seq("l_orderkey"),
      bloomBits = 1 << 18)
    // the sizing knob persists and reaches the index build
    assert(meta(spark, dir).bloomBits == (1 << 18))
    val mid = li.agg(max($"l_orderkey")).head().getLong(0) / 2
    append(li.where($"l_orderkey" <= mid), dir, "b1") // commit 2
    append(li.where($"l_orderkey" > mid), dir, "b2") // commit 3
    // a small erasure (≤ the IN-list cap, bloom-indexed key): the
    // preimage probe takes the PRUNED path; the preimages must still
    // be exactly the deleted keys' rows
    val victims = li.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(7)
    delete(victims, dir, "e1") // commit 4
    assert(SkippingIndex.meta(spark, s"$dir/index").bloomBits == (1 << 18),
      "create's bloomBits did not reach the skipping-index build")
    val d = changesBetween(spark, dir, 3L, 4L)
    val preimages = d.where($"_change_type" === "delete")
      .drop("_change_type")
    val expect = li.join(victims, Seq("l_orderkey"), "left_semi")
    assert(sortedRows(preimages) == sortedRows(
      expect.select(preimages.columns.toIndexedSeq.map(col): _*)),
      "index-pruned preimages diverged from the deleted rows")
    // and the full-frame invariant: read() == b1+b2 minus the victims
    assert(sortedRows(read(spark, dir)) == sortedRows(
      li.join(victims, Seq("l_orderkey"), "left_anti")
        .select(read(spark, dir).columns.toIndexedSeq.map(col): _*)))
  }

  test("syncMirrorWhere: delta windows maintain the filtered projection; drift and lost keys fail loudly") {
    import spark.implicits._
    val dir = tmp()
    val mirror = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    val pred = "l_partkey BETWEEN 100 AND 299"
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    def shape = read(spark, dir)
      .where(expr(pred)).select(cols.map(col): _*)
    val mid = li.agg(max($"l_orderkey")).head().getLong(0) / 2
    append(li.where($"l_orderkey" <= mid), dir, "b1")
    syncMirrorWhere(spark, dir, mirror, pred, cols) // baseline
    assert(sortedRows(mirrorRead(spark, mirror)) == sortedRows(shape))
    // a window with inserts AND deletes maintains through the delta
    // path (filter+project the inserts, anti-join the preimage keys)
    append(li.where($"l_orderkey" > mid), dir, "b2")
    delete(li.where($"l_partkey".between(100, 299))
      .select($"l_orderkey").distinct().orderBy($"l_orderkey").limit(5),
      dir, "e1")
    syncMirrorWhere(spark, dir, mirror, pred, cols)
    assert(sortedRows(mirrorRead(spark, mirror)) == sortedRows(shape),
      "filtered mirror diverged from the filtered table after a delta sync")
    // a DIFFERENT definition must refuse, even on a no-op sync
    val drift = intercept[IllegalArgumentException] {
      syncMirrorWhere(spark, dir, mirror, "l_partkey < 50", cols)
    }
    assert(drift.getMessage.contains("delete the mirror"))
    // a projection that drops the delete key cannot apply deletes
    val lost = intercept[IllegalArgumentException] {
      syncMirrorWhere(spark, dir, tmp(), pred,
        Seq("l_partkey", "l_quantity"))
    }
    assert(lost.getMessage.contains("l_orderkey"))
  }

  test("audit reports batches, deletes, and index coverage") {
    val dir = tmp()
    build(dir)
    val row = audit(spark, dir).collect().head
    assert(row.getAs[Long]("live_batches") == 2L)
    assert(row.getAs[Long]("applied_labels") == 2L)
    assert(row.getAs[Long]("live_delete_rows") > 0L)
    assert(row.getAs[Long]("indexed_files") > 0L)
  }

  test("optimize after a FULL erasure leaves a readable empty table") {
    import spark.implicits._
    // the GDPR shape: every key deleted, then the rewrite folds the
    // deletes in — the folded batch is empty but must stay readable
    // (Spark writes a schema-bearing empty parquet file), through
    // read(), the pruned read, and fresh appends afterwards
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("part"), deleteKeys = Seq("id"))
    append((0 until 10).map(i => (i.toLong, i.toLong % 3, 1L))
      .toDF("id", "part", "qty"), dir, "b1")
    delete((0 until 10).map(_.toLong).toDF("id"), dir, "e1")
    assert(read(spark, dir).count() == 0)
    optimize(spark, dir, "opt1", nFiles = 2)
    assert(manifest(spark, dir).live == Seq("opt1"))
    assert(read(spark, dir).count() == 0)
    assert(readWhere(spark, dir,
      ranges = Seq(ColumnRange("part", Some(0L), Some(9L)))).count() == 0)
    // life goes on: a fresh append (re-inserting erased keys) is
    // visible — the optimize retired the delete batch with its data
    append(Seq((3L, 1L, 7L)).toDF("id", "part", "qty"), dir, "b2")
    assert(read(spark, dir).select($"id").as[Long].collect().toSeq == Seq(3L))
  }

  test("tables without deleteKeys skip the delete machinery; delete() is rejected") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.limit(500), dir, "b1")
    assert(read(spark, dir).count() == 500)
    val ex = intercept[IllegalArgumentException] {
      delete(li.select($"l_orderkey").limit(1), dir, "e1")
    }
    assert(ex.getMessage.contains("deleteKeys"))
  }

  test("appends missing an indexed column, or carrying 'batch', are rejected") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    val exCol = intercept[IllegalArgumentException] {
      append(li.drop("l_partkey"), dir, "b1")
    }
    assert(exCol.getMessage.contains("l_partkey"))
    val exBatch = intercept[IllegalArgumentException] {
      append(li.withColumn("batch", lit("x")), dir, "b1")
    }
    assert(exBatch.getMessage.contains("batch"))
    // empty appends commit nothing
    append(li.where(lit(false)), dir, "b0")
    assert(manifest(spark, dir).applied.isEmpty)
  }

  test("a second non-empty append's Spark jobs: the write and the index refresh, no emptiness job") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.where($"l_orderkey" % 2 === 0), dir, "b1")
    val b2 = li.where($"l_orderkey" % 2 === 1)
    // emptiness is read from the written footers: no isEmpty job runs
    // ahead of the write
    assert(jobsDuring(append(b2, dir, "b2")) == 8)
    assert(manifest(spark, dir).live == Seq("b1", "b2"))
    assert(read(spark, dir).count() == li.count())
  }
}
