package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The STANDING equality-delete store: [[RowDeletes]] made operational
  * — the delete-file side of a merge-on-read table, with the same
  * manifest discipline as the other standing stores.
  *
  *  - `deletes/batch=<label>/` — one immutable directory per committed
  *    delete batch (a CDC erasure feed, a GDPR request batch);
  *  - `_live.json` — `{applied:[...], live:[...]}`: `applied` is the
  *    replay LEDGER (every label ever committed — compaction preserves
  *    it, so a replayed ingest epoch is a no-op forever), `live` names
  *    the directories reads list (compaction collapses them to one);
  *  - [[morRead]] — the table with all live deletes applied: one
  *    broadcast anti-join probe per read ([[RowDeletes]] semantics,
  *    NULL-safe keys);
  *  - [[compact]] — delete files accrete one directory per batch and
  *    repeat keys across batches; the fold is also a DISTINCT, so the
  *    merged delete file is the key set, not the delivery history;
  *  - [[RowDeletes.materialize]] retires the probe entirely — after a
  *    rewrite, [[reset]] empties the store (the deletes are IN the
  *    data now; keeping them live would re-delete re-inserted keys).
  *
  * 100 TB: the store is delete-key-sized; every read pays one
  * broadcast build of it, which is why compact (bounds listing + size)
  * and materialize-then-reset (bounds probe cost) both exist.
  */
object DeleteStore {

  import StoreIO.{readString, requireColName, requireLabel, writeString}

  private def deletesPath(dir: String) = s"$dir/deletes"
  private def metaPath(dir: String) = s"$dir/_meta.json"

  /** Initialize an EMPTY store for the given equality-key columns. */
  def init(spark: SparkSession, dir: String, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "at least one equality-delete key column")
    keys.foreach(requireColName)
    writeString(spark, metaPath(dir),
      StoreIO.renderJson(StoreIO.putArr(_, "keys", keys)),
      atomic = false)
    commitLog.commit(spark, dir, Manifest(Nil, Nil, 1L), "init", "")
  }

  /** Commit one delete batch under `label`. Committed labels are
    * immutable (replay = no-op); a batch with no rows commits nothing;
    * a crash between the write and the commit leaves an invisible
    * orphan the replay overwrites. `beforeCommit` is the spec's
    * crash-injection seam. */
  def append(deletes: DataFrame, dir: String, label: String,
      beforeCommit: () => Unit = () => ()): Unit = {
    val spark = deletes.sparkSession
    requireLabel(label)
    val m = meta(spark, dir)
    if (manifest(spark, dir).applied.contains(label)) {
      // replay of a committed label: clear a crash-leaked sidecar so
      // the superseded dir stays sweepable (see StoreIO's protocol)
      StoreIO.clearPending(spark, dir, "append", label)
      return
    }
    val batchDir = s"${deletesPath(dir)}/batch=$label"
    // announce before writing (StoreIO's shared protocol) so a
    // concurrent [[vacuum]] never sweeps the in-flight directory
    StoreIO.writePending(spark, dir, "append", label)
    deletes.select(m.keys.map(col): _*).write.mode(SaveMode.Overwrite)
      .parquet(batchDir)
    // rows, not files: Spark writes one EMPTY parquet file for an empty
    // frame, and a no-op label would grow the live list — and the
    // per-read listing — forever. Abandon: dir + sidecar together (dir
    // first), never an existing-but-unannounced directory (see
    // StoreIO.abandonPending)
    if (StoreIO.dirRowCount(spark, batchDir) == 0L) {
      StoreIO.abandonPending(spark, dir, "append", label, batchDir)
      return
    }
    beforeCommit()
    val fresh = manifest(spark, dir)
    if (!fresh.applied.contains(label))
      try commitLog.commit(spark, dir,
        Manifest(fresh.applied :+ label, fresh.live :+ label,
          fresh.version + 1), "append", label)
      catch {
        case e: java.util.ConcurrentModificationException =>
          // swap CAS lost: abandon (dir WITH sidecar) and let the
          // caller retry against the new state — nothing committed
          StoreIO.abandonPending(spark, dir, "append", label, batchDir)
          throw e
      }
    StoreIO.clearPending(spark, dir, "append", label) // success path only
  }

  /** Every live delete key (the frame [[morRead]] anti-joins). */
  def liveDeletes(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(spark, dir)
    val m = meta(spark, dir)
    if (man.live.isEmpty)
      // empty store: an empty frame with the right schema, no read
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(m.keys.map(k =>
          org.apache.spark.sql.types.StructField(k,
            org.apache.spark.sql.types.NullType))))
    deletesOf(spark, dir, man.live)
  }

  /** The delete keys of specific committed batch labels — the
    * snapshot-pinned read a table-level commit log resolves through
    * (labels must be non-empty and still on disk, i.e. retained). */
  def deletesOf(spark: SparkSession, dir: String,
      labels: Seq[String]): DataFrame = {
    require(labels.nonEmpty, "no delete labels to read")
    spark.read
      .option("basePath", deletesPath(dir))
      .parquet(labels.map(l => s"${deletesPath(dir)}/batch=$l"): _*)
      .drop("batch")
  }

  /** The table with all live deletes applied ([[RowDeletes]]
    * semantics: NULL-safe equality, broadcast-probe plan). */
  def morRead(table: DataFrame, dir: String): DataFrame = {
    val spark = table.sparkSession
    val man = manifest(spark, dir)
    if (man.live.isEmpty) return table // nothing to probe
    RowDeletes.applyEqualityDeletes(table, liveDeletes(spark, dir),
      meta(spark, dir).keys)
  }

  /** Continuous erasure feed: one [[append]] per micro-batch under
    * `<prefix>-<batchId>` — exactly-once by label replay. */
  def ingestStream(deletes: DataFrame, dir: String,
      checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow(),
      labelPrefix: String = "epoch",
      afterAppend: Long => Unit = _ => ()): StreamingQuery = {
    requireLabel(labelPrefix)
    deletes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (delta: DataFrame, batchId: Long) =>
        if (!delta.isEmpty) append(delta, dir, s"$labelPrefix-$batchId")
        afterAppend(batchId)
      }
      .trigger(trigger)
      .start()
  }

  /** Fold every live label into one DISTINCT delete file. The applied
    * ledger is preserved (plus `intoLabel`): folding a batch's keys
    * must not un-commit its label. Old dirs become [[vacuum]] orphans. */
  def compact(spark: SparkSession, dir: String, intoLabel: String): Unit = {
    val man = manifest(spark, dir)
    requireLabel(intoLabel)
    require(!man.applied.contains(intoLabel),
      s"compact label '$intoLabel' must be new (applied: ${man.applied.mkString(",")})")
    require(man.live.nonEmpty, "nothing to compact: the store is empty")
    StoreIO.writePending(spark, dir, "compact", intoLabel) // announce
    liveDeletes(spark, dir).distinct()
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${deletesPath(dir)}/batch=$intoLabel")
    try commitLog.commit(spark, dir,
      Manifest(man.applied :+ intoLabel, Seq(intoLabel), man.version + 1),
      "compact", intoLabel)
    catch {
      case e: java.util.ConcurrentModificationException =>
        StoreIO.abandonPending(spark, dir, "compact", intoLabel,
          s"${deletesPath(dir)}/batch=$intoLabel")
        throw e
    }
    StoreIO.clearPending(spark, dir, "compact", intoLabel)
  }

  /** After [[RowDeletes.materialize]] rewrote the data, the applied
    * deletes are IN the table: empty the live set (keeping the ledger,
    * so replayed ingest epochs stay no-ops) or re-inserted keys would
    * be deleted again on the next read. */
  def reset(spark: SparkSession, dir: String): Unit = {
    val man = manifest(spark, dir)
    commitLog.commit(spark, dir, Manifest(man.applied, Nil, man.version + 1),
      "reset", "")
  }

  /** [[reset]] for a NAMED label set: drop exactly the labels a
    * specific rewrite materialized, keeping labels committed since.
    * The idempotent replay form — a rewrite replayed after LATER
    * delete batches landed must not wipe them (they are NOT in its
    * data). Ledger preserved, as always. */
  def retire(spark: SparkSession, dir: String, labels: Seq[String]): Unit = {
    val man = manifest(spark, dir)
    commitLog.commit(spark, dir,
      Manifest(man.applied, man.live.filterNot(labels.contains),
        man.version + 1), "retire", "")
  }

  /** Delete non-live label directories (crashed appends, compacted or
    * reset-away batches). Returns the count swept. */
  def vacuum(spark: SparkSession, dir: String): Int =
    commitLog.vacuum(spark, dir, Seq(deletesPath(dir))) { v =>
      val keep = v.pointer.live.toSet ++ v.announced("append", "compact")
      (CommitLog.sweep(spark,
        v.listed.head.filter(_.getName.startsWith("batch=")))(n =>
          keep(n.stripPrefix("batch="))),
        (_, l) => v.pointer.applied.contains(l))
    }

  /** Store health: live delete keys, batches, ledger size. */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(spark, dir)
    liveDeletes(spark, dir).agg(
      count(lit(1)).as("live_delete_rows"),
      lit(man.live.size).cast("long").as("live_batches"),
      lit(man.applied.size).cast("long").as("applied_labels"))
  }

  /** `version` is the monotone SWAP counter (the [[CommitLog]] slot
    * number; 0 on legacy manifests without the field). */
  private[operators] case class Manifest(applied: Seq[String],
      live: Seq[String], version: Long = 0L)

  /** Swaps claim `_swap/s<version>.json`, swept at vacuum. Labeled ops
    * announce under their own kind; `reset` and `retire` carry no label
    * and announce a nonce. `init` is the first commit and announces
    * nothing, so a crashed init's slot is an orphan its replay reclaims
    * (as for GraftTable's `create` and ScdStore's `init`). */
  private[operators] val commitLog = new CommitLog[Manifest](CommitLog.Swept,
    Map("init" -> CommitLog.Never, "append" -> CommitLog.Sidecar("append"),
      "compact" -> CommitLog.Sidecar("compact"),
      "reset" -> CommitLog.Nonce, "retire" -> CommitLog.Nonce),
    n => Manifest(StoreIO.jArr(n, "applied").getOrElse(Nil),
      StoreIO.jArr(n, "live").getOrElse(Nil),
      StoreIO.jLong(n, "v").getOrElse(0L)),
    _.version,
    (o, m) => {
      o.put("v", m.version)
      StoreIO.putArr(o, "applied", m.applied)
      StoreIO.putArr(o, "live", m.live)
    })

  private[operators] def manifest(spark: SparkSession, dir: String): Manifest =
    commitLog.pointer(spark, dir)

  private[operators] case class Meta(keys: Seq[String])

  private[operators] def meta(spark: SparkSession, dir: String): Meta =
    Meta(StoreIO.jsonArr(readString(spark, metaPath(dir)), "keys"))

  // ---- q163: the standing delete store, hash-checked -----------------

  private val builtFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q163: q162's erasure served from the STANDING store after two
    * committed delete batches (the F-orders split by date) — the store
    * path must reproduce the same NOT EXISTS oracle, so init → append
    * → append → morRead is semantically invisible (the q156/q160 bar). */
  def q163DeleteStore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = builtFor.computeIfAbsent(d, { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delstore-").toString
      val f = graft.sources.Tables.orders(spark, d)
        .where($"o_orderstatus" === "F")
        .select($"o_orderkey".as("l_orderkey"), $"o_orderdate")
      init(spark, dir, keys = Seq("l_orderkey"))
      val cut = lit("1997-01-01").cast("timestamp")
      append(f.where($"o_orderdate" < cut), dir, "b1")
      append(f.where($"o_orderdate" >= cut), dir, "b2")
      dir
    })
    morRead(graft.sources.Tables.lineitem(spark, d), dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  /** Same oracle as q162: the store must not change the semantics. */
  val q163Sql: String = RowDeletes.q162Sql

  /** Same teardown contract as the sibling stores. */
  def clearSessionState(): Unit = {
    StoreIO.deleteLocalDirs(builtFor.values)
    builtFor.clear()
  }
}
