package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The STANDING SCD2 dimension: [[ScdMerge]] made operational, with the
  * write layout its `mergeParts` split exists for.
  *
  *  - `history/batch=<label>/` — APPEND-ONLY: each committed batch adds
  *    the rows it closed and never touches earlier directories. At
  *    100 TB the history partition is the ~whole dimension and this is
  *    the property that makes nightly merges affordable: the write is
  *    batch-sized, never history-sized.
  *  - `current/v<N>/` — the only REWRITE, and it is current-partition-
  *    sized (≈ one row per key). Version directories are immutable;
  *    the live one is named by the manifest.
  *  - `_live.json` — the commit pointer: `{version, applied:[labels]}`.
  *    A batch label becomes visible only when it lands in `applied`,
  *    and readers resolve BOTH the history label set and the current
  *    version through the manifest — a crash between data writes and
  *    the manifest swap leaves orphan directories no reader sees, and
  *    the replayed batch overwrites them and commits (the
  *    [[IntervalIndexStore]] manifest discipline; Iceberg's
  *    metadata-pointer-is-the-commit, reference maintenance.py drives
  *    the same machinery).
  *
  * Exactly-once ingest falls out: a replayed label is already in
  * `applied` → no-op. [[ingestStream]] labels each epoch
  * `<prefix>-<batchId>`, so at-least-once micro-batch delivery
  * converges without read-side dedup (spec-pinned, crash injection
  * included).
  */
object ScdStore {

  private def historyPath(dir: String) = s"$dir/history"
  // current dirs are named `v<version>-<label>` (v1 for init) — the
  // never-reuse-a-filename rule real formats follow: two writers
  // racing the same version write DIFFERENT directories, so a loser
  // can never clobber the winner's committed current partition (with
  // a shared `v<N+1>` name, the loser's Overwrite silently corrupted
  // the winner's data even though its own commit aborted loudly). The
  // manifest names the live dir (`curDir`); `version` stays the
  // monotone counter that detects drift.
  private def currentPath(dir: String, name: String) = s"$dir/current/$name"
  private def metaPath(dir: String) = s"$dir/_meta.json"

  // Shared store plumbing: Hadoop-FS metadata I/O, atomic pointer
  // swap, and the F8 label/column allowlists.
  import StoreIO.{readString, requireColName, requireLabel, writeString}

  /** Initialize the store from a raw change log: compress → history
    * rows under `batch=base`, current rows as `current/v1`. */
  def init(log: DataFrame, dir: String, key: String, ts: String,
      values: Seq[String], carry: Seq[String] = Nil): Unit = {
    (key +: ts +: values ++: carry).foreach(requireColName)
    val spark = log.sparkSession
    val scd = ScdMerge.compress(log, key, ts, values, carry)
    scd.where(col("valid_to").isNotNull)
      .write.mode(SaveMode.Overwrite).parquet(s"${historyPath(dir)}/batch=base")
    scd.where(col("valid_to").isNull)
      .write.mode(SaveMode.Overwrite).parquet(currentPath(dir, "v1"))
    writeString(spark, metaPath(dir),
      StoreIO.renderJson { o =>
        o.put("key", key); o.put("ts", ts)
        StoreIO.putArr(o, "values", values)
        StoreIO.putArr(o, "carry", carry)
      }, atomic = false)
    commitLog.commit(spark, dir,
      Manifest(1L, Seq("base"), Seq("base"), 1L, "v1"), "init", "base")
  }

  /** Apply one change batch under `label`. Committed labels are
    * immutable — a replay is a no-op, so at-least-once delivery
    * converges. `beforeCommit` is the crash-injection seam for the
    * spec (runs after both data writes, before the manifest swap). */
  def applyBatch(changes: DataFrame, dir: String, label: String,
      beforeCommit: () => Unit = () => ()): Unit = {
    val spark = changes.sparkSession
    requireLabel(label)
    require(label != "base", "label 'base' is reserved")
    val man = manifest(spark, dir)
    if (man.applied.contains(label)) {
      // replay of a committed label: clear sidecars a crash between
      // the commit and the un-announce may have leaked — the batch's
      // own, and any "current" announcement whose version prefix is at
      // or below the pointer (committed current dirs are protected by
      // manifest+snapshots; only a prefix ABOVE the pointer can still
      // be in-flight)
      StoreIO.clearPending(spark, dir, "batch", label)
      StoreIO.pendingLabels(spark, dir).getOrElse("current", Set.empty)
        .foreach { v =>
          if (curVersionOf(v).exists(_ <= man.version))
            StoreIO.clearPending(spark, dir, "current", v)
        }
      return // committed = immutable
    }
    val m = meta(spark, dir)
    val newCur = s"v${man.version + 1}-$label"
    // announce BOTH directories this batch writes (StoreIO's shared
    // protocol) so a concurrent [[vacuum]] can tell them from crashed
    // orphans — without it, a vacuum racing the writes sweeps the
    // fully-written history/current dirs and the commit below points
    // at deleted data
    StoreIO.writePending(spark, dir, "batch", label)
    StoreIO.writePending(spark, dir, "current", newCur)
    // `materialize = localCheckpoint` pins the windowed merge to ONE
    // execution shared by both writes (and detaches them from a
    // current version the commit below is about to supersede)
    val (closedDelta, newCurrent) = ScdMerge.mergeParts(
      current(spark, dir), changes, m.key, m.ts, m.values, m.carry,
      materialize = _.localCheckpoint())
    closedDelta.write.mode(SaveMode.Overwrite)
      .parquet(s"${historyPath(dir)}/batch=$label")
    newCurrent.write.mode(SaveMode.Overwrite)
      .parquet(currentPath(dir, newCur))
    beforeCommit()
    // fresh pointer read before the swap, but the committed version
    // must follow the one THIS batch merged against — a drifted
    // counter means the single-writer contract was violated and this
    // merge's output is stale (it did not see the winner's changes).
    // Fail loudly instead; the retry re-merges against the new state.
    val fresh = manifest(spark, dir)
    if (!fresh.applied.contains(label)) {
      require(fresh.version == man.version,
        s"concurrent ScdStore commit detected (version ${man.version} -> " +
          s"${fresh.version} during applyBatch '$label'); single writer is " +
          "the contract — replay the batch")
      commitLog.commit(spark, dir,
        Manifest(man.version + 1, fresh.applied :+ label,
          fresh.histLive :+ label, fresh.commit + 1, newCur),
        "batch", label)
    }
    // success path only: a crash leaves the announcements standing so
    // vacuum keeps shielding the orphans until the label is replayed
    StoreIO.clearPending(spark, dir, "batch", label)
    StoreIO.clearPending(spark, dir, "current", newCur)
  }

  /** The version prefix of a current-dir name (`v<N>` or
    * `v<N>-<label>`); None for foreign names. */
  private def curVersionOf(name: String): Option[Long] =
    """^v(\d+)(?:-.*)?$""".r.findFirstMatchIn(name).map(_.group(1).toLong)

  /** The live current partition (≈ one row per key, `valid_to` NULL). */
  def current(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(currentPath(dir, manifest(spark, dir).curDir))

  /** The full SCD2 table: live history label dirs ∪ live current.
    * (`histLive` names the DATA directories; `applied` is the replay
    * ledger and keeps labels compaction has folded away.) */
  def table(spark: SparkSession, dir: String): DataFrame =
    tableOf(spark, dir, manifest(spark, dir))

  private def histOf(spark: SparkSession, dir: String,
      labels: Seq[String]): DataFrame =
    spark.read
      .option("basePath", historyPath(dir))
      .parquet(labels.map(l => s"${historyPath(dir)}/batch=$l"): _*)
      .drop("batch")

  private def tableOf(spark: SparkSession, dir: String,
      man: Manifest): DataFrame =
    histOf(spark, dir, man.histLive)
      .unionByName(spark.read.parquet(currentPath(dir, man.curDir)))

  /** TIME TRAVEL: the full SCD2 table exactly as commit `c` saw it —
    * the snapshot's history label set ∪ the snapshot's current version
    * (both immutable directories; [[vacuum]] keeps every directory a
    * retained snapshot names, so a travel read never races
    * maintenance — [[expireCommits]] is what retires them). */
  def tableAt(spark: SparkSession, dir: String, c: Long): DataFrame =
    tableOf(spark, dir, commitAt(spark, dir, c).manifest)

  /** CDC READ: what changed between commit `from` (exclusive) and
    * commit `to` (inclusive), as SCD2 rows tagged `_change_type`:
    *
    *  - `close` — a validity row ended (the key changed or was
    *    superseded): the OLD row, `valid_to` now set;
    *  - `open` — a validity row began and is still current at `to`:
    *    the NEW row (covers both brand-new keys and changed keys).
    *
    * Cost posture: `open` is a current-partition-sized anti-join of
    * the two snapshots' current versions; `close` reads ONLY the
    * batch directories committed in the window — batch-sized, the
    * append-only layout's whole point. If a COMPACT commit falls in
    * the window the per-batch dirs are folded, and the read falls
    * back to the exact history diff (history-sized; schedule CDC
    * consumers ahead of compaction to stay on the cheap path). */
  def changesBetween(spark: SparkSession, dir: String, from: Long,
      to: Long): DataFrame = {
    require(from < to, s"need from < to (got $from >= $to)")
    val m = meta(spark, dir)
    val cf = commitAt(spark, dir, from).manifest
    val ct = commitAt(spark, dir, to).manifest
    val window = ((from + 1) to to).map(commitAt(spark, dir, _))
    val curF = spark.read.parquet(currentPath(dir, cf.curDir))
    val curT = spark.read.parquet(currentPath(dir, ct.curDir))
    // identity of a validity row: (key, valid_from, tie-break ts column
    // carries inside valid_from already; event identity disambiguates
    // same-instant changes)
    val rowKey = Seq(m.key, "valid_from")
    // a using-columns anti-join fronts its keys; pin one column order
    // so both code paths (and both change kinds) emit the same schema
    val cols = curT.columns.toSeq.map(col)
    val closes =
      if (window.exists(_.kind == "compact"))
        histOf(spark, dir, ct.histLive)
          .join(histOf(spark, dir, cf.histLive), rowKey, "left_anti")
      else {
        val labels = window.filter(_.kind == "batch").map(_.label)
        if (labels.isEmpty) curT.where(lit(false))
        else histOf(spark, dir, labels)
      }
    val opens = curT.join(curF, rowKey, "left_anti")
    closes.select(cols: _*).withColumn("_change_type", lit("close"))
      .unionByName(opens.select(cols: _*)
        .withColumn("_change_type", lit("open")))
  }

  /** M2 for the snapshot log: drop all but the newest `keepLast`
    * commit snapshots (the live pointer is untouched — liveness never
    * depends on a snapshot). Directories only a dropped snapshot
    * referenced become [[vacuum]]'s to sweep. Returns commits
    * expired. */
  def expireCommits(spark: SparkSession, dir: String, keepLast: Int): Int =
    commitLog.expire(spark, dir, keepLast)

  /** State-at-time read: the ≤1 row per key valid at `ts` (half-open
    * `[valid_from, valid_to)` — a change instant belongs to the NEW
    * row, so keys are never double-counted at boundaries). */
  def asOf(spark: SparkSession, dir: String,
      at: java.sql.Timestamp): DataFrame =
    table(spark, dir).where(col("valid_from") <= lit(at) &&
      (col("valid_to").isNull || col("valid_to") > lit(at)))

  /** Continuous maintenance: each micro-batch of change events is one
    * [[applyBatch]] under the deterministic label `<prefix>-<batchId>`;
    * replays no-op (exactly-once, crash specs). */
  def ingestStream(changes: DataFrame, dir: String,
      checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow(),
      labelPrefix: String = "epoch",
      afterApply: Long => Unit = _ => ()): StreamingQuery = {
    requireLabel(labelPrefix)
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (delta: DataFrame, batchId: Long) =>
        if (!delta.isEmpty) applyBatch(delta, dir, s"$labelPrefix-$batchId")
        afterApply(batchId)
      }
      .trigger(trigger)
      .start()
  }

  /** M1 for the history side: merge every live history label into one.
    * Continuous ingest otherwise accretes a directory per epoch and
    * every table() read lists them all. The swap is one manifest
    * write; old label dirs become orphans for [[vacuum]]. The APPLIED
    * ledger is preserved (plus `intoLabel`): folding a batch's data
    * into the merged dir must not un-commit its label, or a streaming
    * replay after compaction would re-merge an already-applied epoch
    * (and trip the out-of-order guard). */
  def compactHistory(spark: SparkSession, dir: String,
      intoLabel: String): Unit = {
    val man = manifest(spark, dir)
    requireLabel(intoLabel)
    require(!man.applied.contains(intoLabel),
      s"compact label '$intoLabel' must be new (applied: ${man.applied.mkString(",")})")
    StoreIO.writePending(spark, dir, "batch", intoLabel) // announce
    spark.read
      .option("basePath", historyPath(dir))
      .parquet(man.histLive.map(l => s"${historyPath(dir)}/batch=$l"): _*)
      .drop("batch")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${historyPath(dir)}/batch=$intoLabel")
    // `version` NAMES the live current directory — compaction touches
    // only the history label set, so it must not advance it
    commitLog.commit(spark, dir,
      Manifest(man.version, man.applied :+ intoLabel, Seq(intoLabel),
        man.commit + 1, man.curDir), "compact", intoLabel)
    StoreIO.clearPending(spark, dir, "batch", intoLabel)
  }

  /** M3: delete history labels and current versions neither the live
    * manifest nor any RETAINED commit snapshot names — crashed
    * batches, and directories whose last referencing snapshot was
    * [[expireCommits]]'d. Time travel to a retained commit therefore
    * always resolves; expiry, not vacuum, is the retention decision.
    * Returns (history dirs, current dirs) deleted. */
  def vacuum(spark: SparkSession, dir: String): (Int, Int) =
    commitLog.vacuum(spark, dir, Seq(historyPath(dir), s"$dir/current")) { v =>
      val Seq(hist, cur) = v.listed
      val man = v.pointer
      val retained = v.retained.map(_.manifest)
      val keepHist = (man.histLive ++ retained.flatMap(_.histLive)).toSet ++
        v.announced("batch")
      val keepVers = (retained.map(_.curDir) :+ man.curDir).toSet ++
        v.announced("current")
      val swept = (
        CommitLog.sweep(spark, hist)(n => keepHist(n.stripPrefix("batch="))),
        CommitLog.sweep(spark, cur)(keepVers))
      // a committed label's sidecar, or a "current" one at or below the
      // pointer's version, is provably stale
      (swept, {
        case ("batch", l) => man.applied.contains(l)
        case ("current", c) => curVersionOf(c).exists(_ <= man.version)
        case _ => false
      })
    }

  /** Store health: key count, open rows, history rows/batches, version. */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(spark, dir)
    val cur = current(spark, dir)
    val m = meta(spark, dir)
    val hist = spark.read
      .option("basePath", historyPath(dir))
      .parquet(man.histLive.map(l => s"${historyPath(dir)}/batch=$l"): _*)
    cur.agg(count(lit(1)).as("current_rows"),
        countDistinct(col(m.key)).as("current_keys"))
      .crossJoin(hist.agg(count(lit(1)).as("history_rows"),
        countDistinct(col("batch")).as("history_batches")))
      .withColumn("version", lit(man.version))
      .withColumn("commit", lit(man.commit))
      .withColumn("retained_commits",
        lit(commitLog.list(spark, dir).size.toLong))
  }

  private[operators] case class Meta(key: String, ts: String,
      values: Seq[String], carry: Seq[String])

  private[operators] def meta(spark: SparkSession, dir: String): Meta = {
    val n = StoreIO.parseJson(readString(spark, metaPath(dir)))
    def s(field: String) = StoreIO.jStr(n, field).getOrElse(
      sys.error(s"ScdStore meta at $dir has no '$field'"))
    Meta(s("key"), s("ts"),
      StoreIO.jArr(n, "values").getOrElse(Nil),
      StoreIO.jArr(n, "carry").getOrElse(Nil))
  }

  /** `applied` is the REPLAY LEDGER (every label ever committed —
    * compaction never removes one); `histLive` names the history
    * directories reads list (compaction collapses them); `commit` is
    * the monotone COMMIT NUMBER — every pointer swap gets one, and an
    * immutable snapshot of the manifest it swapped in lives under
    * `_commits/c<N>.json` (Iceberg's snapshot log: the pointer is the
    * present, the snapshots are the past). */
  /** `curDir` NAMES the live current directory (`v<N>-<label>`, `v1`
    * for init; legacy manifests without the field fall back to
    * `v<version>`). */
  private[operators] case class Manifest(version: Long,
      applied: Seq[String], histLive: Seq[String], commit: Long,
      curDir: String)

  // Jackson parse/render through StoreIO's shared helpers (the one
  // manifest parser rule — see StoreIO's JSON section).
  private def parseManifest(n: com.fasterxml.jackson.databind.JsonNode)
      : Manifest = {
    val v = StoreIO.jLong(n, "version").getOrElse(
      sys.error("ScdStore manifest has no 'version'"))
    val applied = StoreIO.jArr(n, "applied").getOrElse(
      sys.error("ScdStore manifest has no 'applied'"))
    Manifest(v, applied,
      StoreIO.jArr(n, "histLive").getOrElse(applied),
      StoreIO.jLong(n, "commit").getOrElse(1L), // pre-snapshot stores
      StoreIO.jStr(n, "curDir").getOrElse(s"v$v")) // pre-curDir stores
  }

  private def putManifest(o: com.fasterxml.jackson.databind.node.ObjectNode,
      m: Manifest): Unit = {
    o.put("version", m.version); o.put("commit", m.commit)
    o.put("curDir", m.curDir)
    StoreIO.putArr(o, "applied", m.applied)
    StoreIO.putArr(o, "histLive", m.histLive)
  }

  /** Commits claim `_commits/c<commit>.json`, the retained snapshot log.
    * `init` is the first commit; `batch` and `compact` announce their
    * label under the `batch` sidecar. */
  private val commitLog = new CommitLog[Manifest](CommitLog.Retained,
    Map("init" -> CommitLog.Never, "batch" -> CommitLog.Sidecar("batch"),
      "compact" -> CommitLog.Sidecar("batch")),
    parseManifest, _.commit, putManifest)

  private[operators] def manifest(spark: SparkSession, dir: String): Manifest =
    commitLog.pointer(spark, dir)

  /** A committed snapshot: the manifest as of that commit, plus what
    * the commit did (`init` / `batch` / `compact`) and its label. */
  private[operators] type Commit = CommitLog.Snapshot[Manifest]

  private[operators] def commitAt(spark: SparkSession, dir: String,
      c: Long): Commit = commitLog.snapshot(spark, dir, c)

  // ---- q160: the standing store, hash-checked against one-pass SQL --

  private val builtFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q160: the full SCD2 table SERVED FROM THE STORE after an init plus
    * two committed change batches — hash-checked against the same
    * one-pass full-compress oracle as q159, so init → apply → apply →
    * read is semantically invisible end-to-end (the q156/q157 bar). */
  /** One store shared by q160/q166/q167: init on events before
    * 2024-01-11 (commit 1), batch b1 [01-11, 01-21) (commit 2), batch
    * b2 [01-21, ∞) (commit 3). */
  private def q160Dir(spark: SparkSession, d: String): String = {
    import spark.implicits._
    builtFor.computeIfAbsent(d, { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-scd-").toString
      val f = graft.sources.Tables.events(spark, d)
        .where($"event_type" === "signup" || $"event_type" === "purchase")
        .select($"user_id", $"event_id", $"event_type", $"ts")
      val (c1, c2) = (lit("2024-01-11").cast("timestamp"),
        lit("2024-01-21").cast("timestamp"))
      init(f.where($"ts" < c1), dir, key = "user_id", ts = "ts",
        values = Seq("event_type"), carry = Seq("event_id"))
      applyBatch(f.where($"ts" >= c1 && $"ts" < c2), dir, "b1")
      applyBatch(f.where($"ts" >= c2), dir, "b2")
      dir
    })
  }

  def q160Scd2Store(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    table(spark, q160Dir(spark, d))
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** Same shape as q159's oracle: the store must reproduce the one-pass
    * compression of the whole log. */
  val q160Sql: String = ScdMerge.q159Sql

  /** q166: TIME TRAVEL to commit 2 (init + b1, before b2 landed). The
    * oracle recomputes the one-pass compression over ONLY the events
    * both those batches saw — a green hash proves the snapshot read
    * reconstructs exactly the state the pointer named then, from
    * directories later commits never touched. */
  def q166TimeTravel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    tableAt(spark, q160Dir(spark, d), 2L)
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  val q166Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type IN ('signup', 'purchase')
      |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-21'
      |), c AS (
      |  SELECT user_id, event_id, event_type, ts,
      |         row_number() OVER w AS rn,
      |         lag(event_type) OVER w AS prev
      |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |), p AS (
      |  SELECT user_id, event_id, event_type, ts FROM c
      |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
      |)
      |SELECT user_id, event_type, event_id,
      |       ts AS valid_from,
      |       lead(ts, 1) OVER w AS valid_to,
      |       (lead(ts, 1) OVER w IS NULL) AS is_current
      |FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** q167: the CDC read between commits 2 and 3 — what batch b2 did,
    * as close/open SCD2 rows. The oracle derives the same delta from
    * the one-pass compression of the WHOLE log: a row was closed by b2
    * iff its `valid_to` is a b2-window event instant (>= 01-21), and a
    * current row was (re)opened by b2 iff its `valid_from` is. A green
    * hash proves the batch-dir read + current-version anti-join emit
    * exactly the semantic delta, nothing else. */
  def q167ChangesFeed(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    changesBetween(spark, q160Dir(spark, d), from = 2L, to = 3L)
      .orderBy($"user_id", $"valid_from", $"_change_type")
  }

  val q167Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type IN ('signup', 'purchase')
      |), c AS (
      |  SELECT user_id, event_id, event_type, ts,
      |         row_number() OVER w AS rn,
      |         lag(event_type) OVER w AS prev
      |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |), p AS (
      |  SELECT user_id, event_id, event_type, ts FROM c
      |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
      |), scd AS (
      |  SELECT user_id, event_type, event_id,
      |         ts AS valid_from,
      |         lead(ts, 1) OVER w AS valid_to,
      |         (lead(ts, 1) OVER w IS NULL) AS is_current
      |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |)
      |SELECT *, 'close' AS _change_type FROM scd
      |WHERE valid_to >= TIMESTAMP '2024-01-21'
      |UNION ALL
      |SELECT *, 'open' AS _change_type FROM scd
      |WHERE valid_to IS NULL AND valid_from >= TIMESTAMP '2024-01-21'
      |ORDER BY user_id, valid_from, _change_type""".stripMargin

  /** Same teardown contract as [[IntervalIndexStore.clearSessionState]]. */
  def clearSessionState(): Unit = {
    StoreIO.deleteLocalDirs(builtFor.values)
    builtFor.clear()
  }
}
