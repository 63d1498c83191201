package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Reader/writer interleaving for the OTHER standing stores — the q172
  * class of bug, generalized past GraftTable (which has its own spec):
  * every read surface evaluated (a) MID-COMMIT, through the writers'
  * crash-injection seams — must see exactly the pre-commit state — and
  * (b) as a frame HELD ACROSS maintenance — must stay bit-equal where
  * the store's retention machinery pins the files the frame resolved.
  *
  * Retention contract, asserted here and documented at the operators:
  *  - ScdStore has a commit log; vacuum keeps every directory a
  *    retained snapshot names, so held frames survive compact+vacuum
  *    until `expireCommits` retires their snapshot — the Iceberg rule
  *    (retention ≥ max reader duration), with expiry as the knob.
  *  - DeleteStore / IntervalIndexStore have a manifest but no snapshot
  *    log: compaction alone leaves superseded dirs on disk (held
  *    frames keep working); VACUUM is the retention decision, so a
  *    frame held across compact+vacuum is undefined there and only
  *    FRESH reads are asserted invariant. The composed GraftTable is
  *    what gives delete batches snapshot-pinned lifetimes.
  */
class StoreConcurrencySpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  // ---- ScdStore -------------------------------------------------------

  private def scdLog: DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .where($"event_type" === "signup" || $"event_type" === "purchase")
      .select($"user_id", $"event_id", $"event_type", $"ts")
  }

  test("ScdStore: reads mid-applyBatch see exactly the pre-batch commit") {
    import spark.implicits._
    val dir = tmp("scd-mid-")
    val cut = lit("2024-01-16").cast("timestamp")
    ScdStore.init(scdLog.where($"ts" < cut), dir, "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    val beforeTable = rows(ScdStore.table(spark, dir))
    val beforeCur = rows(ScdStore.current(spark, dir))
    var midTable: Seq[String] = null
    var midCur: Seq[String] = null
    // the seam runs AFTER both data writes (history delta + next
    // current version are on disk), BEFORE the manifest swap — the
    // widest window in which a torn read could exist
    ScdStore.applyBatch(scdLog.where($"ts" >= cut), dir, "b1",
      beforeCommit = () => {
        midTable = rows(ScdStore.table(spark, dir))
        midCur = rows(ScdStore.current(spark, dir))
      })
    assert(midTable == beforeTable,
      "table() mid-commit saw uncommitted batch data")
    assert(midCur == beforeCur,
      "current() mid-commit saw the unswapped next version")
    // and the commit then became visible
    assert(rows(ScdStore.table(spark, dir)) != beforeTable)
  }

  test("ScdStore: frames held across compactHistory+vacuum stay bit-equal") {
    import spark.implicits._
    val dir = tmp("scd-held-")
    val cut = lit("2024-01-16").cast("timestamp")
    ScdStore.init(scdLog.where($"ts" < cut), dir, "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    ScdStore.applyBatch(scdLog.where($"ts" >= cut), dir, "b1") // commit 2
    // one held frame per read surface, all created pre-maintenance
    val t = ScdStore.table(spark, dir)
    val cur = ScdStore.current(spark, dir)
    val trav = ScdStore.tableAt(spark, dir, 1L)
    val cdc = ScdStore.changesBetween(spark, dir, 1L, 2L)
    val (tB, curB, travB, cdcB) = (rows(t), rows(cur), rows(trav), rows(cdc))
    ScdStore.compactHistory(spark, dir, "fold-1")
    ScdStore.vacuum(spark, dir)
    // the commit log retains snapshots naming the pre-compact label
    // dirs and current version; vacuum must keep them all
    assert(rows(t) == tB, "table() frame changed across compact+vacuum")
    assert(rows(cur) == curB, "current() frame changed across compact+vacuum")
    assert(rows(trav) == travB, "tableAt frame changed across compact+vacuum")
    assert(rows(cdc) == cdcB, "changesBetween frame changed across compact+vacuum")
    // fresh reads agree with the held frames (maintenance invariance)
    assert(rows(ScdStore.table(spark, dir)) == tB)
    assert(rows(ScdStore.current(spark, dir)) == curB)
  }

  test("ScdStore: expireCommits is the retention decision that breaks held travel") {
    import spark.implicits._
    val dir = tmp("scd-exp-")
    val cut = lit("2024-01-16").cast("timestamp")
    ScdStore.init(scdLog.where($"ts" < cut), dir, "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    ScdStore.applyBatch(scdLog.where($"ts" >= cut), dir, "b1")
    ScdStore.compactHistory(spark, dir, "fold-1")
    val live = rows(ScdStore.table(spark, dir))
    // expire everything but the newest snapshot, THEN vacuum: the
    // pre-compact dirs lose their last reference and are swept
    ScdStore.expireCommits(spark, dir, keepLast = 1)
    val (h, c) = ScdStore.vacuum(spark, dir)
    assert(h + c > 0, "expiry freed nothing — retention knob inert")
    // live reads are untouched; travel to an expired commit fails
    // LOUDLY (never a silently different answer)
    assert(rows(ScdStore.table(spark, dir)) == live)
    intercept[Exception] { ScdStore.tableAt(spark, dir, 1L).collect() }
  }

  test("ScdStore: racing applyBatches write DISTINCT current dirs; the loser corrupts nothing") {
    import spark.implicits._
    val dir = tmp("scd-race-")
    val cut = lit("2024-01-16").cast("timestamp")
    ScdStore.init(scdLog.where($"ts" < cut), dir, "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    // KEY-disjoint racing batches (time-sliced ones could not legally
    // retry: the loser's earlier-in-time changes would trip the
    // out-of-order guard for keys the winner already advanced)
    val sliceA = scdLog.where($"ts" >= cut && $"user_id" % 2 === 0)
    val sliceB = scdLog.where($"ts" >= cut && $"user_id" % 2 === 1)
    // B fully commits inside A's commit window: both merged against v1,
    // both wrote their next-current — under a SHARED v2 name the loser's
    // Overwrite would silently replace the winner's committed current
    // partition; unique names make the two writes disjoint directories
    val ex = intercept[IllegalArgumentException] {
      ScdStore.applyBatch(sliceA, dir, "bA",
        beforeCommit = () => ScdStore.applyBatch(sliceB, dir, "bB"))
    }
    assert(ex.getMessage.contains("concurrent"))
    assert(new java.io.File(s"$dir/current/v2-bB").exists(),
      "winner's current dir missing")
    assert(new java.io.File(s"$dir/current/v2-bA").exists(),
      "loser's (announced, uncommitted) current dir missing")
    // the WINNER's committed state is exactly init+B — bit-untouched by
    // the loser's racing write
    assert(rows(ScdStore.table(spark, dir)) ==
      rows(ScdMerge.compress(
        scdLog.where($"ts" < cut || $"user_id" % 2 === 1),
        "user_id", "ts", Seq("event_type"), Seq("event_id"))),
      "loser's racing write corrupted the winner's committed current")
    // the loser re-merges against the new state and converges
    ScdStore.applyBatch(sliceA, dir, "bA")
    assert(rows(ScdStore.table(spark, dir)) ==
      rows(ScdMerge.compress(scdLog, "user_id", "ts",
        Seq("event_type"), Seq("event_id"))),
      "retry after the detected race diverged from the one-pass model")
    // the orphaned race dir is vacuum's: its stale announcement is
    // cleared (version prefix <= pointer), then the dir is swept
    ScdStore.vacuum(spark, dir)
    ScdStore.vacuum(spark, dir)
    assert(!new java.io.File(s"$dir/current/v2-bA").exists(),
      "orphaned race current dir never became sweepable")
  }

  // ---- DeleteStore ----------------------------------------------------

  private def liTable: DataFrame = Tables.lineitem(spark, sfDir)

  test("DeleteStore: morRead mid-append applies only committed batches") {
    import spark.implicits._
    val dir = tmp("del-mid-")
    DeleteStore.init(spark, dir, Seq("l_orderkey"))
    val keys1 = liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(5)
    DeleteStore.append(keys1, dir, "d1")
    val before = rows(DeleteStore.morRead(liTable, dir))
    val keys2 = liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey".desc).limit(5)
    var mid: Seq[String] = null
    DeleteStore.append(keys2, dir, "d2",
      beforeCommit = () => mid = rows(DeleteStore.morRead(liTable, dir)))
    assert(mid == before, "morRead mid-commit applied the uncommitted batch")
    assert(rows(DeleteStore.morRead(liTable, dir)) != before)
  }

  test("DeleteStore: frames held across compact stay bit-equal; vacuum needs no held readers") {
    import spark.implicits._
    val dir = tmp("del-held-")
    DeleteStore.init(spark, dir, Seq("l_orderkey"))
    DeleteStore.append(liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(5), dir, "d1")
    DeleteStore.append(liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey".desc).limit(5), dir, "d2")
    val held = DeleteStore.morRead(liTable, dir)
    val heldB = rows(held)
    DeleteStore.compact(spark, dir, "fold-1")
    // superseded label dirs are still on disk until vacuum: the held
    // frame (pinned to d1/d2) and a fresh frame (on fold-1) agree
    assert(rows(held) == heldB, "held morRead changed across compact")
    assert(rows(DeleteStore.morRead(liTable, dir)) == heldB,
      "compact changed what a fresh morRead returns")
    // vacuum then sweeps the superseded dirs; FRESH reads are still
    // bit-equal (held frames across vacuum are the documented
    // retention boundary for log-less stores — not asserted)
    assert(DeleteStore.vacuum(spark, dir) == 2)
    assert(rows(DeleteStore.morRead(liTable, dir)) == heldB,
      "vacuum changed what a fresh morRead returns")
  }

  // ---- IntervalIndexStore ----------------------------------------------

  private def views: DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir).where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("w_start"),
        ($"ts" + expr("INTERVAL 3 DAY")).as("w_end"))
  }
  private def purchases: DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir).where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
  }

  test("IntervalIndexStore: lookup frames held across compact stay bit-equal") {
    import spark.implicits._
    val dir = tmp("ivl-held-")
    IntervalIndexStore.build(views.where($"view_id" % 2 === 0), dir,
      "user_id", "w_start", "w_end", bandSeconds = 86400)
    IntervalIndexStore.append(views.where($"view_id" % 2 === 1), dir, "b1")
    val held = IntervalIndexStore.lookup(spark, dir, purchases, "ts")
    val heldB = rows(held)
    IntervalIndexStore.compact(spark, dir, "fold-1")
    assert(rows(held) == heldB, "held lookup changed across compact")
    assert(rows(IntervalIndexStore.lookup(spark, dir, purchases, "ts"))
      == heldB, "compact changed what a fresh lookup returns")
    val (orphans, _) = IntervalIndexStore.vacuum(spark, dir)
    assert(orphans == 2, "base + b1 should be swept after compact")
    assert(rows(IntervalIndexStore.lookup(spark, dir, purchases, "ts"))
      == heldB, "vacuum changed what a fresh lookup returns")
  }

  test("ScdStore: vacuum during an in-flight applyBatch must not sweep the announced dirs") {
    import spark.implicits._
    val dir = tmp("scd-vac-")
    val cut = lit("2024-01-16").cast("timestamp")
    ScdStore.init(scdLog.where($"ts" < cut), dir, "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    // vacuum fires in the widest window: history delta + next current
    // version fully written, manifest not yet swapped — without the
    // announcement both dirs are sweepable orphans and the commit
    // below would point at deleted data
    ScdStore.applyBatch(scdLog.where($"ts" >= cut), dir, "b1",
      beforeCommit = () => {
        ScdStore.vacuum(spark, dir)
        assert(new java.io.File(s"$dir/history/batch=b1").exists(),
          "vacuum swept the in-flight history delta")
        assert(new java.io.File(s"$dir/current/v2-b1").exists(),
          "vacuum swept the in-flight current version")
      })
    // the batch committed and serves the full compression
    val full = ScdMerge.compress(scdLog, "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    assert(rows(ScdStore.table(spark, dir)) == rows(full),
      "applyBatch+concurrent vacuum lost data")
  }

  test("DeleteStore: vacuum during an in-flight append must not sweep the announced dir") {
    import spark.implicits._
    val dir = tmp("del-vac-")
    DeleteStore.init(spark, dir, Seq("l_orderkey"))
    DeleteStore.append(liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(3), dir, "d1")
    val keys2 = liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey".desc).limit(3)
    DeleteStore.append(keys2, dir, "d2", beforeCommit = () => {
      DeleteStore.vacuum(spark, dir)
      assert(new java.io.File(s"$dir/deletes/batch=d2").exists(),
        "vacuum swept the in-flight delete batch")
    })
    assert(DeleteStore.manifest(spark, dir).live == Seq("d1", "d2"))
    assert(DeleteStore.liveDeletes(spark, dir).count() == 6)
  }

  test("IntervalIndexStore: an announced uncommitted dir survives vacuum; un-announced it is swept") {
    import spark.implicits._
    val dir = tmp("ivl-vac-")
    IntervalIndexStore.build(views.where($"view_id" % 2 === 0), dir,
      "user_id", "w_start", "w_end", bandSeconds = 86400)
    // simulate the in-flight window append() occupies: sidecar written,
    // data dir on disk, manifest not yet swapped
    StoreIO.writePending(spark, dir, "append", "torn")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/intervals/ingest_batch=base")
    val dst = new org.apache.hadoop.fs.Path(s"$dir/intervals/ingest_batch=torn")
    org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
      dst.getFileSystem(conf), dst, false, conf)
    val (orphans1, _) = IntervalIndexStore.vacuum(spark, dir)
    assert(orphans1 == 0, "vacuum swept an announced in-flight dir")
    assert(dst.getFileSystem(conf).exists(dst))
    // writer crashed for good and the label was never replayed: once
    // the announcement is cleared the dir is a true orphan again
    StoreIO.clearPending(spark, dir, "append", "torn")
    val (orphans2, _) = IntervalIndexStore.vacuum(spark, dir)
    assert(orphans2 == 1)
  }

  test("IntervalIndexStore: a written-but-uncommitted label dir is invisible to lookups") {
    import spark.implicits._
    val dir = tmp("ivl-torn-")
    IntervalIndexStore.build(views.where($"view_id" % 2 === 0), dir,
      "user_id", "w_start", "w_end", bandSeconds = 86400)
    val before = rows(IntervalIndexStore.lookup(spark, dir, purchases, "ts"))
    // simulate the mid-append window (data written, manifest not yet
    // swapped) by cloning the base batch dir under an uncommitted name
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/intervals/ingest_batch=base")
    val dst = new org.apache.hadoop.fs.Path(s"$dir/intervals/ingest_batch=torn")
    org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
      dst.getFileSystem(conf), dst, false, conf)
    assert(rows(IntervalIndexStore.lookup(spark, dir, purchases, "ts"))
      == before, "uncommitted label dir leaked into lookups")
    // vacuum sweeps it as an orphan
    val (orphans, _) = IntervalIndexStore.vacuum(spark, dir)
    assert(orphans == 1)
  }

  test("DeleteStore: the swap-slot CAS — in-flight occupant aborts; dead orphan overwritten; threads converge") {
    import spark.implicits._
    val dir = tmp("del-cas-")
    DeleteStore.init(spark, dir, Seq("l_orderkey"))
    val k1 = liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(4)
    DeleteStore.append(k1, dir, "d1") // version 2
    // occupy the NEXT swap slot with an in-flight foreign writer
    // (claim written, pointer not swapped, announcement standing) —
    // the window where last-swap-wins would erase a committed label
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_swap"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_swap/s3.json"),
      """{"kind":"append","label":"zz"}""")
    StoreIO.writePending(spark, dir, "append", "zz")
    val k2 = liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey".desc).limit(4)
    val ex = intercept[java.util.ConcurrentModificationException] {
      DeleteStore.append(k2, dir, "d2")
    }
    assert(ex.getMessage.contains("zz"))
    assert(!new java.io.File(s"$dir/deletes/batch=d2").exists(),
      "CAS loser left its batch directory behind")
    assert(DeleteStore.manifest(spark, dir).applied == Seq("d1"))
    // the occupant dies un-replayed: once its announcement is gone the
    // claim is a dead orphan — the next swap overwrites it
    StoreIO.clearPending(spark, dir, "append", "zz")
    DeleteStore.append(k2, dir, "d2")
    assert(DeleteStore.manifest(spark, dir).applied == Seq("d1", "d2"))
    // and real threads converge with retry-on-abort
    val k3 = liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(12)
    val a = k3.where($"l_orderkey" % 2 === 0)
    val b = k3.where($"l_orderkey" % 2 === 1)
    def withRetry(df: DataFrame, label: String): Unit = {
      var done = false; var tries = 0
      while (!done) {
        try { DeleteStore.append(df, dir, label); done = true }
        catch {
          case _: java.util.ConcurrentModificationException =>
            tries += 1; assert(tries <= 5, s"$label livelocked")
        }
      }
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(withRetry(a, "rA")); val fb = Future(withRetry(b, "rB"))
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    val man = DeleteStore.manifest(spark, dir)
    assert(man.applied.count(_ == "rA") == 1, "racing append lost rA")
    assert(man.applied.count(_ == "rB") == 1, "racing append lost rB")
    val expectGone = (rows(k1) ++ rows(k2) ++ rows(a) ++ rows(b)).toSet
    val got = rows(DeleteStore.liveDeletes(spark, dir)).toSet
    assert(got == expectGone, "converged live delete set diverged")
  }

  test("IntervalIndexStore: the swap-slot CAS — in-flight occupant aborts the append") {
    import spark.implicits._
    val dir = tmp("ivl-cas-")
    IntervalIndexStore.build(views.where($"view_id" % 2 === 0), dir,
      "user_id", "w_start", "w_end", bandSeconds = 86400)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_swap"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_swap/s2.json"),
      """{"kind":"append","label":"zz"}""")
    StoreIO.writePending(spark, dir, "append", "zz")
    val before = rows(IntervalIndexStore.lookup(spark, dir, purchases, "ts"))
    val ex = intercept[java.util.ConcurrentModificationException] {
      IntervalIndexStore.append(views.where($"view_id" % 2 =!= 0), dir, "d1")
    }
    assert(ex.getMessage.contains("zz"))
    assert(!new java.io.File(s"$dir/intervals/ingest_batch=d1").exists(),
      "CAS loser left its batch directory behind")
    assert(rows(IntervalIndexStore.lookup(spark, dir, purchases, "ts"))
      == before, "aborted append changed lookups")
    // dead orphan: un-announced occupant is overwritten by the retry
    StoreIO.clearPending(spark, dir, "append", "zz")
    IntervalIndexStore.append(views.where($"view_id" % 2 =!= 0), dir, "d1")
    assert(rows(IntervalIndexStore.lookup(spark, dir, purchases, "ts"))
      .size >= before.size)
  }

  test("ScdStore: a crashed writer's commit slot is resolved by a DIFFERENT-label writer") {
    import spark.implicits._
    val dir = tmp("scd-orphan-")
    val cut = lit("2024-01-16").cast("timestamp")
    ScdStore.init(scdLog.where($"ts" < cut), dir, "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    // a foreign writer claimed commit slot c2 and died pre-swap; its
    // announcement still stands → a different-label writer must ABORT
    // (the occupant may be alive mid-swap, or awaits replay)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_commits"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_commits/c2.json"),
      """{"version":2,"commit":2,"curDir":"v2-zz","applied":["base","zz"],""" +
        """"histLive":["base","zz"],"kind":"batch","label":"zz"}""")
    StoreIO.writePending(spark, dir, "batch", "zz")
    val ex = intercept[java.util.ConcurrentModificationException] {
      ScdStore.applyBatch(scdLog.where($"ts" >= cut), dir, "b1")
    }
    assert(ex.getMessage.contains("zz"))
    assert(ScdStore.manifest(spark, dir).commit == 1L,
      "aborted claim advanced the pointer")
    // the occupant dies for good (announcement cleared, never replayed):
    // the same different-label writer now resolves the slot as a DEAD
    // ORPHAN, overwrites it, and commits — the GraftTable dead-orphan
    // path, mirrored for ScdStore
    StoreIO.clearPending(spark, dir, "batch", "zz")
    ScdStore.applyBatch(scdLog.where($"ts" >= cut), dir, "b1")
    val man = ScdStore.manifest(spark, dir)
    assert(man.commit == 2L && man.applied == Seq("base", "b1"),
      "dead-orphan slot was not reclaimed by the different-label writer")
    assert(ScdStore.commitAt(spark, dir, 2L).label == "b1",
      "the orphan snapshot body survived under the new commit")
    // and the committed table equals the one-pass model
    assert(rows(ScdStore.table(spark, dir)) ==
      rows(ScdMerge.compress(scdLog, "user_id", "ts",
        Seq("event_type"), Seq("event_id"))))
  }

  test("swap-slot CAS: unlabeled ops are nonce-announced — a live occupant aborts, a dead one is an orphan, no clocks") {
    import spark.implicits._
    val dir = tmp("del-nonce-")
    DeleteStore.init(spark, dir, Seq("l_orderkey"))
    DeleteStore.append(liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(4), dir, "d1") // version 2
    // an unlabeled op (retire/reset) announces a per-invocation NONCE
    // sidecar before claiming; the sidecar standing is the liveness
    // signal — the same announce rule labeled ops use, with no mtime
    // grace window (r16's clock-skew hole: a paused driver or skewed
    // store clock could make BOTH concurrent retires classify the
    // other as dead, both swap, and one live-set filter be silently
    // lost). Simulate the live concurrent retire: slot + standing
    // nonce announcement.
    val slot = java.nio.file.Paths.get(s"$dir/_swap/s3.json")
    java.nio.file.Files.createDirectories(slot.getParent)
    java.nio.file.Files.writeString(slot,
      """{"kind":"retire","label":"","nonce":"nonce-zz"}""")
    StoreIO.writePending(spark, dir, "retire", "nonce-zz")
    val ex = intercept[java.util.ConcurrentModificationException] {
      DeleteStore.retire(spark, dir, Seq("d1"))
    }
    assert(ex.getMessage.contains("unlabeled") &&
      ex.getMessage.contains("nonce-zz"),
      s"wrong abort: ${ex.getMessage}")
    assert(DeleteStore.manifest(spark, dir).live == Seq("d1"),
      "aborted retire changed the live set")
    // the loser's OWN nonce announcement was cleaned up on abort —
    // nothing accumulates under the store root
    assert(StoreIO.pendingLabels(spark, dir).getOrElse("retire", Set.empty)
      == Set("nonce-zz"),
      "the aborted claimant leaked its own nonce sidecar")
    // the occupant's writer dies for good: the documented recovery is
    // clearing its announcement (exactly the labeled-op recovery in
    // the specs above) — the next retire resolves the slot as a dead
    // orphan and proceeds. No clock is consulted anywhere.
    StoreIO.clearPending(spark, dir, "retire", "nonce-zz")
    DeleteStore.retire(spark, dir, Seq("d1"))
    assert(DeleteStore.manifest(spark, dir).live.isEmpty,
      "orphaned unlabeled occupant blocked the retire forever")
    // a PRE-NONCE (legacy/handcrafted) unlabeled slot has no
    // announcement to check: dead orphan, overwritten
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_swap/s4.json"),
      """{"kind":"reset","label":""}""")
    DeleteStore.reset(spark, dir)
    assert(DeleteStore.manifest(spark, dir).version == 4L,
      "legacy unlabeled slot blocked the swap")
    // and a completed op leaves NO standing nonce sidecars behind
    assert(StoreIO.pendingLabels(spark, dir).getOrElse("retire", Set.empty)
      .isEmpty, "completed retire left its nonce announcement standing")
  }

  test("ScdStore: a crashed init (slot c1 written, no pointer) converges on replay") {
    val dir = tmp("scd-init-crash-")
    // the crash window between init's slot write and its pointer swap:
    // the snapshot is on disk, `_live.json` never was
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_commits"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_commits/c1.json"),
      """{"version":1,"commit":1,"curDir":"v1","applied":["base"],""" +
        """"histLive":["base"],"kind":"init","label":"base"}""")
    assert(!new java.io.File(s"$dir/_live.json").exists())
    ScdStore.init(scdLog, dir, "user_id", "ts", Seq("event_type"),
      Seq("event_id"))
    assert(ScdStore.manifest(spark, dir).commit == 1L,
      "replayed init did not swap the pointer to commit 1")
    assert(rows(ScdStore.table(spark, dir)) ==
      rows(ScdMerge.compress(scdLog, "user_id", "ts",
        Seq("event_type"), Seq("event_id"))),
      "replayed init diverged from the one-pass model")
  }

  /** The crash window of a swap-slot store's first commit, as a
    * nonce-announcing first commit left it: slot s1 claimed with a
    * nonce, the nonce sidecar standing, `_live.json` never written. */
  private def crashedFirstSwap(dir: String, kind: String): Unit = {
    val slot = java.nio.file.Paths.get(s"$dir/_swap/s1.json")
    java.nio.file.Files.createDirectories(slot.getParent)
    java.nio.file.Files.writeString(slot,
      s"""{"kind":"$kind","label":"","nonce":"nonce-dead"}""")
    StoreIO.writePending(spark, dir, kind, "nonce-dead")
    assert(!new java.io.File(s"$dir/_live.json").exists())
  }

  test("DeleteStore: a crashed init (nonce slot s1 standing, no pointer) converges on replay") {
    import spark.implicits._
    val del = tmp("del-init-crash-")
    crashedFirstSwap(del, "init")
    DeleteStore.init(spark, del, Seq("l_orderkey"))
    assert(DeleteStore.manifest(spark, del).version == 1L,
      "replayed DeleteStore.init did not swap the pointer to version 1")
    DeleteStore.append(liTable.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(3), del, "d1")
    assert(DeleteStore.manifest(spark, del).live == Seq("d1"))
  }

  test("IntervalIndexStore: a crashed build (nonce slot s1 standing, no pointer) converges on replay") {
    val ivx = tmp("ivx-build-crash-")
    crashedFirstSwap(ivx, "swap")
    IntervalIndexStore.build(views, ivx, "user_id", "w_start", "w_end",
      bandSeconds = 3L * 86400L)
    assert(IntervalIndexStore.manifest(spark, ivx).version == 1L,
      "replayed IntervalIndexStore.build did not swap the pointer to 1")
    assert(IntervalIndexStore.lookup(spark, ivx, purchases, "ts")
      .count() > 0L, "the replayed build's index answers nothing")
  }

  test("GraftTable.create with deleteKeys converges over a crashed DeleteStore.init") {
    import spark.implicits._
    val dir = tmp("gt-create-crash-")
    crashedFirstSwap(s"$dir/del", "init")
    GraftTable.create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    assert(GraftTable.manifest(spark, dir).commit == 1L,
      "replayed create did not swap the table pointer to commit 1")
    assert(DeleteStore.manifest(spark, s"$dir/del").version == 1L)
    val li = liTable.where($"l_orderkey" <= 200L)
    GraftTable.append(li, dir, "b1")
    val victims = li.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(3)
    GraftTable.delete(victims, dir, "e1")
    assert(rows(GraftTable.read(spark, dir)) ==
      rows(li.join(victims, Seq("l_orderkey"), "left_anti")
        .select(GraftTable.read(spark, dir).columns.map(col): _*)),
      "the converged table diverged from append minus deletes")
  }

  test("an occupant of unknown kind aborts both log-backed stores; the pointer stays") {
    import spark.implicits._
    def bogus(dir: String, c: Long, body: String): Unit = {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/_commits"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/_commits/c$c.json"),
        body.dropRight(1) + ""","kind":"bogus","label":"zz"}""")
    }
    val gt = tmp("gt-bogus-")
    val li = Tables.lineitem(spark, sfDir)
    GraftTable.create(spark, gt, zoneCols = Seq("l_partkey"))
    GraftTable.append(li.where($"l_orderkey" % 2 === 0), gt, "b1") // c2
    bogus(gt, 3L, """{"commit":3,"applied":["b1"],"live":["b1"]}""")
    val exGt = intercept[java.util.ConcurrentModificationException] {
      GraftTable.append(li.where($"l_orderkey" % 2 === 1), gt, "b2")
    }
    assert(exGt.getMessage.contains("bogus"), exGt.getMessage)
    assert(GraftTable.manifest(spark, gt).commit == 2L,
      "GraftTable swapped past an unknown-kind occupant")

    val scd = tmp("scd-bogus-")
    val cut = lit("2024-01-16").cast("timestamp")
    ScdStore.init(scdLog.where($"ts" < cut), scd, "user_id", "ts",
      Seq("event_type"), Seq("event_id")) // c1
    bogus(scd, 2L, """{"version":2,"commit":2,"curDir":"v2-zz",""" +
      """"applied":["base"],"histLive":["base"]}""")
    val exScd = intercept[java.util.ConcurrentModificationException] {
      ScdStore.applyBatch(scdLog.where($"ts" >= cut), scd, "b1")
    }
    assert(exScd.getMessage.contains("bogus"), exScd.getMessage)
    assert(ScdStore.manifest(spark, scd).commit == 1L,
      "ScdStore overwrote an unknown-kind occupant as a dead orphan")
  }

  // ---- GraftTable: racing appends -------------------------------------

  test("GraftTable: an append racing another append's commit aborts loudly, loses nothing") {
    import spark.implicits._
    import GraftTable._
    val dir = tmp("gt-race-")
    val li = Tables.lineitem(spark, sfDir)
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.where($"l_orderkey" % 2 === 0), dir, "b1")
    val a = li.orderBy($"l_orderkey", $"l_linenumber").limit(60)
      .withColumn("l_orderkey", $"l_orderkey" + 3000000L)
    val b = li.orderBy($"l_orderkey", $"l_linenumber").limit(40)
      .withColumn("l_orderkey", $"l_orderkey" + 4000000L)
    val before = rows(read(spark, dir))
    // writer B commits in A's write window (the two-appends-race, the
    // exact interleaving where last-swap-wins would silently drop A's
    // label from the ledger: both read commit=2, both write c3)
    val ex = intercept[java.util.ConcurrentModificationException] {
      append(a, dir, "rA", beforeCommit = () => append(b, dir, "rB"))
    }
    assert(ex.getMessage.contains("rA"))
    // B's commit survives in full; A committed nothing and ABANDONED
    // its dir + sidecar (never an existing-but-unannounced directory)
    val man = manifest(spark, dir)
    assert(man.live == Seq("b1", "rB"))
    assert(!man.applied.contains("rA"))
    assert(!new java.io.File(s"$dir/data/batch=rA").exists(),
      "aborted append left its batch directory behind")
    assert(!new java.io.File(s"$dir/_pending_append_rA.json").exists(),
      "aborted append left its announcement standing")
    assert(rows(read(spark, dir)) == (before ++ rows(b)).sorted)
    // the retry against the new state succeeds and nothing is lost
    append(a, dir, "rA")
    assert(manifest(spark, dir).live == Seq("b1", "rB", "rA"))
    assert(rows(read(spark, dir)) == (before ++ rows(b) ++ rows(a)).sorted)
  }
}
