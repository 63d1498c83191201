package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import SkippingIndex.{ColumnEquals, ColumnNullness, ColumnRange}

/** The standing pieces composed into ONE table format — what a user of
  * the reference's Iceberg tables actually holds, rebuilt from this
  * repo's own parts:
  *
  *  - `data/batch=<label>/` — immutable committed data batches behind
  *    `_live.json` (applied ledger + live list: the
  *    [[DeleteStore]]/[[ScdStore]] manifest discipline, so appends are
  *    crash-safe and replay-idempotent, and READERS NEVER SEE an
  *    uncommitted directory — including through the pruned path);
  *  - `index/` — a [[SkippingIndex]] over the data directory,
  *    refreshed per append (zones + blooms + value counts);
  *  - `del/` — a [[DeleteStore]]: merge-on-read equality deletes, one
  *    broadcast probe per read;
  *  - [[optimize]] — the `rewrite_data_files` step (reference
  *    maintenance.py:153-175 drives exactly this): fold every live
  *    batch + apply standing deletes + lay out by the zone columns
  *    (z-order for ≥2) + rebuild the index + reset the delete store,
  *    all behind one manifest swap;
  *  - [[vacuum]] — M3: sweep non-live batch dirs and delete-store
  *    orphans.
  *
  * 100 TB: every read is scan + broadcast probe (never a table
  * shuffle); [[readWhere]] scans only live files the index cannot rule
  * out; appends and deletes are batch-sized; optimize is the only
  * table-sized write and bounds both the per-read probe cost and the
  * per-append listing growth.
  */
object GraftTable {

  import StoreIO.{readString, requireColName, requireLabel, writeString}
  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

  private def dataPath(dir: String) = s"$dir/data"
  private def indexPath(dir: String) = s"$dir/index"
  private def delPath(dir: String) = s"$dir/del"
  private def metaPath(dir: String) = s"$dir/_meta.json"

  // PENDING sidecars ([[StoreIO]]'s shared announce protocol), three
  // kinds here: `append` (data dir being written), `delete` (two-store
  // commit bridge), `retire` (optimize rewrite + its epilogue's retire
  // set). Written BEFORE the data they protect, removed after the
  // commit/epilogue, honored by [[vacuum]].
  import StoreIO.{abandonPending, clearPending, pendingExists, pendingPath,
    writePending}

  /** Initialize an empty table. `zoneCols` get min/max/value-count
    * stats (and drive [[optimize]]'s layout), `bloomCols` get per-file
    * Bloom filters, `deleteKeys` are the equality-delete address.
    * `bloomBits = 0` (the default) AUTO-sizes each index refresh's
    * blooms from the observed rows-per-file — an undersized bloom
    * false-positives its prune away (r16's 2^17 default was 4×
    * saturated at 545k-row files, SCALE.md), and auto-sizing removes
    * the hand-tuned knob; an explicit power of two pins the width. */
  def create(spark: SparkSession, dir: String, zoneCols: Seq[String],
      bloomCols: Seq[String] = Nil,
      deleteKeys: Seq[String] = Nil,
      bloomBits: Int = 0): Unit = {
    require(zoneCols.nonEmpty, "at least one zone column (it drives layout)")
    (zoneCols ++ bloomCols ++ deleteKeys).foreach(requireColName)
    if (bloomCols.nonEmpty)
      require(bloomBits == 0 ||
        (bloomBits >= 64 && (bloomBits & (bloomBits - 1)) == 0),
        s"bloomBits must be 0 (auto) or a power of two >= 64 (got $bloomBits)")
    writeString(spark, metaPath(dir),
      StoreIO.renderJson { o =>
        StoreIO.putArr(o, "zoneCols", zoneCols)
        StoreIO.putArr(o, "bloomCols", bloomCols)
        StoreIO.putArr(o, "delKeys", deleteKeys)
        o.put("bloomBits", bloomBits); ()
      },
      atomic = false)
    if (deleteKeys.nonEmpty) DeleteStore.init(spark, delPath(dir), deleteKeys)
    commit(spark, dir, Manifest(Nil, Nil, 1L), "create", "", Nil)
  }

  /** Commit one data batch under `label` (immutable; replay = no-op;
    * a crash before the manifest swap leaves an orphan no reader
    * sees), then bring the skipping index up to date — build on first
    * data, refresh the delta after. `beforeCommit` is the spec's
    * crash-injection seam. The write is ANNOUNCED by a pending sidecar
    * so a concurrent [[vacuum]] can tell the in-flight directory from
    * a crashed orphan. */
  def append(df: DataFrame, dir: String, label: String,
      beforeCommit: () => Unit = () => ()): Unit = {
    val spark = df.sparkSession
    requireLabel(label)
    val m = meta(spark, dir)
    val man0 = manifest(spark, dir)
    if (man0.applied.contains(label)) {
      // replay of a committed label: clear a sidecar a crash between
      // the commit and the un-announce may have left, or the (live,
      // later superseded) directory is shielded from vacuum forever
      clearPending(spark, dir, "append", label)
      return
    }
    (m.zoneCols ++ m.bloomCols).foreach(c => require(df.columns.contains(c),
      s"append is missing indexed column '$c'"))
    require(!df.columns.contains("batch"),
      "'batch' is the table's partition label column")
    // evolve the PINNED union schema before any data byte is written:
    // a type conflict fails here, at the writer, never at read time
    // inside a footer merge (the merge is driver-side metadata work)
    val dfs = toNullable(org.apache.spark.sql.types.StructType(
      df.schema.fields)).asInstanceOf[StructType]
    val pinnedUnion = pinnedSchema(man0.schemaJson).map(mergeSchemas(_, dfs))
    val batchDir = s"${dataPath(dir)}/batch=$label"
    writePending(spark, dir, "append", label)
    df.write.mode(SaveMode.Overwrite).parquet(batchDir)
    // emptiness from the written footers, not a separate job: Spark
    // writes one empty file for an empty frame, and an empty committed
    // dir would grow reads forever. Abandon, not just un-announce: the
    // dir must go WITH the sidecar, or an existing-but-unannounced
    // directory survives
    val rows = StoreIO.dirRowCount(spark, batchDir)
    if (rows == 0L) {
      abandonPending(spark, dir, "append", label, batchDir)
      return
    }
    // A legacy (pre-schema) manifest self-heals through one last footer
    // merge — only for a batch with rows: an empty batch on exactly the
    // many-file legacy table the pin rescues must not pay a table-sized
    // footer job for a commit that will never happen. Every commit
    // after carries the pin. A conflict abandons the written batch.
    val unionSchema = pinnedUnion.getOrElse(
      if (man0.live.isEmpty) dfs
      else try mergeSchemas(scan(spark, dir, man0).schema, dfs)
      catch {
        case scala.util.control.NonFatal(e) =>
          abandonPending(spark, dir, "append", label, batchDir)
          throw e
      })
    beforeCommit()
    val fresh = manifest(spark, dir)
    if (!fresh.applied.contains(label)) {
      // OPTIMISTIC CONCURRENCY (the ScdStore.applyBatch discipline,
      // verbatim for appends): a commit that advanced the pointer
      // between this append's first manifest read and this one means
      // another writer raced the single-writer contract. Two appends
      // racing the same swap would each write c<N+1> (the second
      // overwriting the first's snapshot) and the loser's label would
      // silently vanish from the applied ledger — its batch an orphan
      // nobody replays. Abort loudly and ABANDON the written dir
      // (announce-protocol rule: never an unannounced directory).
      if (fresh.commit != man0.commit) {
        abandonPending(spark, dir, "append", label, batchDir)
        throw new java.util.ConcurrentModificationException(
          s"concurrent GraftTable commit detected (commit ${man0.commit}" +
            s" -> ${fresh.commit} during append '$label'); single writer" +
            " is the contract — retry the append (nothing was committed;" +
            " the batch directory has been removed)")
      }
      try commit(spark, dir,
        Manifest(fresh.applied :+ label, fresh.live :+ label,
          fresh.commit + 1, Some(unionSchema.json)),
        "append", label, delLive(spark, dir), rows = rows)
      catch {
        case e: java.util.ConcurrentModificationException =>
          // the slot CAS lost to an in-flight writer: same abandon as
          // the version-check abort above — nothing was committed
          abandonPending(spark, dir, "append", label, batchDir)
          throw e
      }
    }
    // cleared only on the success path: a crash (or injected throw)
    // leaves the announcement standing, so vacuum keeps shielding the
    // orphan until the label is replayed (which re-announces, commits,
    // and clears) — abandoned labels are bounded garbage by contract
    clearPending(spark, dir, "append", label)
    refreshIndex(spark, dir, m)
  }

  /** The delete store's live label set right now (empty for tables
    * created without deleteKeys) — recorded on every table commit so
    * a snapshot pins BOTH sides of the merge-on-read state. */
  private def delLive(spark: SparkSession, dir: String): Seq[String] =
    if (meta(spark, dir).delKeys.isEmpty) Nil
    else DeleteStore.manifest(spark, delPath(dir)).live

  // INDEX-MAINTENANCE serialization: the index's stats dir is ONE
  // parquet dataset shared by every append's delta refresh, and two
  // concurrent Spark Append jobs into the same directory share a
  // _temporary staging dir — the first committing job deletes it under
  // the other's still-running tasks (FileNotFoundException in
  // commitJob). The index is DERIVED state (qualify() reads unknown
  // files conservatively, so a missed refresh is staleness, never a
  // wrong answer), but racing refreshes would fail jobs spuriously.
  // Same-process writers — the retry path the commit-slot CAS makes
  // legal — serialize here; cross-process index maintenance stays
  // under the single-writer contract, and optimize's full rebuild
  // repairs any staleness.
  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def indexLock(dir: String): Object =
    indexLocks.computeIfAbsent(dir, _ => new Object)

  private def refreshIndex(spark: SparkSession, dir: String,
      m: Meta): Unit = indexLock(dir).synchronized {
    val (fs, p) = StoreIO.hadoopFs(spark, s"${indexPath(dir)}/_meta.json")
    val live = liveFileStatuses(spark, dir, manifest(spark, dir).live)
      .map(_.getPath.toString)
    if (fs.exists(p))
      SkippingIndex.refresh(spark, indexPath(dir),
        candidates = Some(live.toSet))
    else SkippingIndex.build(spark, dataPath(dir), indexPath(dir),
      m.zoneCols, m.bloomCols, bloomBits = m.bloomBits, only = Some(live))
    ()
  }

  /** Every committed row, standing deletes applied (merge-on-read:
    * one scan of the live batch dirs + one broadcast anti-probe). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(spark, dir)
    require(man.live.nonEmpty, s"table at $dir has no committed data")
    minusDeletes(spark, dir, scan(spark, dir, man), delLive(spark, dir))
  }

  /** The one scan every read plans through: the live batch dirs of
    * `man` (the current manifest, or a commit snapshot's), or — for
    * the pruned reads — the explicit data-file subset `files` of them,
    * conformed to the same schema. Batches may EVOLVE the schema (new
    * nullable columns — appends enforce only the indexed columns'
    * presence); the union schema nulls the gaps, parquet-standard. The
    * union comes from the COMMIT METADATA (`schemaJson`, pinned at
    * append time): supplying it as the user schema makes Spark skip
    * footer inference entirely — planning a read opens ZERO parquet
    * files, at any live-file count. Only a pre-schema manifest (legacy
    * table, handcrafted snapshot) pays the mergeSchema footer-merge
    * job, as a repair path; the next append/optimize pins the schema.
    * The result schema never varies with `files`: a subset that drops
    * every file carrying an evolved column would otherwise narrow the
    * frame (and could un-resolve the delete key) — the pin conforms the
    * subset for free, the legacy path conforms its footer merge to the
    * full live set's explicitly, and an empty subset reads as the full
    * schema with no rows. */
  private def scan(spark: SparkSession, dir: String, man: Manifest,
      files: Option[Seq[String]] = None): DataFrame = {
    if (files.exists(_.isEmpty)) return scan(spark, dir, man).where(lit(false))
    val paths = files.getOrElse(man.live.map(l => s"${dataPath(dir)}/batch=$l"))
    val reader = spark.read.option("basePath", dataPath(dir))
    // the user schema names the DATA columns; the `batch` partition
    // column is discovered from the paths and appended, then shed
    pinnedSchema(man.schemaJson) match {
      case Some(st) => reader.schema(st).parquet(paths: _*).drop("batch")
      case None =>
        val merged = reader.option("mergeSchema", "true")
          .parquet(paths: _*).drop("batch")
        if (files.isEmpty) merged
        else conformTo(scan(spark, dir, man).schema, merged)
    }
  }

  /** The index-pruned [[scan]] of `man`: ONLY the live files the
    * skipping index cannot rule out for the constraints —
    * [[SkippingIndex.prunedRead]]'s prune intersected with `man`'s
    * read-committed guarantee (a crashed append's orphan directory stays
    * invisible even though the raw listing, and possibly the index,
    * knows its files). `man` may be a commit snapshot: the min/max
    * repair rescan prunes against the snapshot the sync pins (a commit
    * landing mid-sync cannot leak into the repaired extrema), the CDC
    * delete-preimage probe against the window's `to` snapshot (it
    * otherwise pays a table-sized scan to emit a delete-batch-sized
    * preimage set). Coverage stays conservative at any index staleness:
    * qualify() returns on-disk files the index has NO row for as
    * `unknown`, so a crash-window-unindexed batch or a
    * superseded-but-snapshot-live dir is still read. No index yet
    * degrades to the full scan — correct, just unpruned. Callers apply
    * their deletes and re-apply the exact predicate on top. */
  private def pruned(spark: SparkSession, dir: String, man: Manifest,
      ranges: Seq[ColumnRange] = Nil,
      equalities: Seq[ColumnEquals] = Nil,
      nullness: Seq[ColumnNullness] = Nil): DataFrame = {
    val (fs, metaP) = StoreIO.hadoopFs(spark, s"${indexPath(dir)}/_meta.json")
    if (!fs.exists(metaP)) return scan(spark, dir, man)
    val (qualifying, unknown) =
      SkippingIndex.qualify(spark, indexPath(dir), ranges, equalities, nullness,
        pinnedSchema(man.schemaJson))
    // distinct: duplicate stat rows (e.g. a file statted twice by
    // overlapping refreshes) must never read a file's data twice —
    // the transparent scan is already set-based (SkippingScan)
    scan(spark, dir, man, Some((qualifying ++ unknown).distinct
      .filter(liveFiles(spark, dir, man.live))))
  }

  /** `df` minus the rows the delete batches `labels` address
    * ([[RowDeletes]] semantics: NULL-safe equality, broadcast-probe
    * plan) — a no-op for no labels or a table without delete keys. */
  private def minusDeletes(spark: SparkSession, dir: String, df: DataFrame,
      labels: Seq[String]): DataFrame =
    if (labels.isEmpty) df
    else {
      val keys = meta(spark, dir).delKeys
      if (keys.isEmpty) df
      else RowDeletes.applyEqualityDeletes(df,
        DeleteStore.deletesOf(spark, delPath(dir), labels), keys)
    }

  /** The filtered read: [[pruned]] against the current manifest, the
    * exact predicate re-applied after the prune, deletes on top. */
  def readWhere(spark: SparkSession, dir: String,
      ranges: Seq[ColumnRange] = Nil,
      equalities: Seq[ColumnEquals] = Nil,
      nullness: Seq[ColumnNullness] = Nil): DataFrame = {
    require(ranges.nonEmpty || equalities.nonEmpty || nullness.nonEmpty,
      "at least one constraint (use read() otherwise)")
    val man = manifest(spark, dir)
    require(man.live.nonEmpty, s"table at $dir has no committed data")
    val pred = SkippingIndex.predicateOf(ranges, equalities, nullness)
    minusDeletes(spark, dir,
      pruned(spark, dir, man, ranges, equalities, nullness).where(pred),
      delLive(spark, dir))
  }

  /** Project `df` to exactly `schema`'s columns, typed NULLs for its
    * gaps — the schema-evolution conformance every multi-batch read
    * path shares. */
  private def conformTo(schema: org.apache.spark.sql.types.StructType,
      df: DataFrame): DataFrame =
    df.select(schema.map(f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)

  /** FileStatuses of the data files under the LIVE batch dirs only. */
  private def liveFileStatuses(spark: SparkSession, dir: String,
      live: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    live.foreach { l =>
      val (fs, p) = StoreIO.hadoopFs(spark, s"${dataPath(dir)}/batch=$l")
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet") ||
              f.getPath.getName.startsWith("part-"))
            out += f
        }
      }
    }
    out.result()
  }

  /** Normalized data-file paths under the LIVE batch dirs only. */
  private def liveFiles(spark: SparkSession, dir: String,
      live: Seq[String]): Set[String] =
    liveFileStatuses(spark, dir, live).map(f =>
      new org.apache.hadoop.fs.Path(f.getPath.toString).toUri.toString).toSet

  /** The TRANSPARENT read: a DataFrame whose scan node consults the
    * index with the plan's own pushed filters ([[graft.sources.
    * SkippingScan]]) AND lists only manifest-live files — plain
    * `.where` code gets the [[readWhere]] prune plus the
    * read-committed guarantee, with the merge-on-read delete probe on
    * top.
    *
    * SNAPSHOT ISOLATION: the frame pins BOTH the live batch set and
    * the delete-store state at creation (the Iceberg/Delta read
    * contract). Earlier the data side re-resolved per scan planning
    * while the delete probe pinned — a frame held across an optimize
    * applied retired delete keys to the rewritten data, a state no
    * commit ever was. Re-call table() to see later commits. */
  def table(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(spark, dir)
    require(man.live.nonEmpty, s"table at $dir has no committed data")
    // no index yet (a crash between the first append's commit and its
    // refreshIndex): degrade to the unpruned live read, like readWhere
    val (fs, metaP) = StoreIO.hadoopFs(spark, s"${indexPath(dir)}/_meta.json")
    val base =
      if (!fs.exists(metaP)) scan(spark, dir, man)
      else {
        // data cols only; pinned = zero footer opens to resolve it
        val schema = pinnedSchema(man.schemaJson)
          .getOrElse(scan(spark, dir, man).schema)
        val pinned = liveFileStatuses(spark, dir, man.live)
        graft.sources.SkippingScan.tableWith(spark, indexPath(dir),
          schema, Some(() => pinned))
      }
    minusDeletes(spark, dir, base, delLive(spark, dir))
  }

  /** Continuous ingest: one committed [[append]] per micro-batch under
    * `<prefix>-<batchId>` — exactly-once by label replay, the
    * [[DeleteStore.ingestStream]] contract for the data side. */
  def ingestStream(df: DataFrame, dir: String, checkpointLocation: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      labelPrefix: String = "epoch",
      afterAppend: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireLabel(labelPrefix)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (delta: DataFrame, batchId: Long) =>
        append(delta, dir, s"$labelPrefix-$batchId")
        afterAppend(batchId)
      }
      .trigger(trigger)
      .start()
  }

  /** Commit one equality-delete batch (merge-on-read; see
    * [[DeleteStore.append]] for the replay/crash contract). A delete
    * that actually changed state also advances the TABLE commit (kind
    * `delete`), so the snapshot log sees every read-visible change; a
    * replayed label changes nothing and commits nothing.
    *
    * The two-store commit is bridged by a PENDING sidecar (the shared
    * announce protocol): a crash between the delete store's manifest
    * swap and the table-level commit would otherwise lose the table
    * commit forever — the replay sees the label applied and writes
    * nothing, yet read() applies the delete, so changesBetween never
    * emits it in any window and a mirror silently diverges. The
    * sidecar survives the crash; the replay writes the missing commit
    * (unless a VISIBLE kind=delete commit with this label already
    * exists — crash AFTER the commit), then removes it. */
  def delete(deletes: DataFrame, dir: String, label: String,
      beforeCommit: () => Unit = () => ()): Unit = {
    val spark = deletes.sparkSession
    requireLabel(label) // before it names a sidecar file
    require(meta(spark, dir).delKeys.nonEmpty,
      "table was created without deleteKeys")
    val before = DeleteStore.manifest(spark, delPath(dir)).applied
    if (!before.contains(label)) writePending(spark, dir, "delete", label)
    DeleteStore.append(deletes, delPath(dir), label)
    beforeCommit() // the spec's crash-injection seam
    val man = manifest(spark, dir)
    if (DeleteStore.manifest(spark, delPath(dir)).applied.contains(label)) {
      val needCommit =
        if (!before.contains(label)) true
        else pendingExists(spark, dir, "delete", label) &&
          // only VISIBLE commits count (≤ the manifest pointer): a
          // snapshot file above the pointer is a crash orphan from a
          // commit that died between its slot write and its pointer
          // swap — the next commit overwrites it, so treating it as
          // done would lose the delete commit after all
          !commitLog.list(spark, dir).view.filter(_ <= man.commit)
            .map(commitAt(spark, dir, _))
            .exists(c => c.kind == "delete" && c.label == label)
      if (needCommit) {
        val fresh = manifest(spark, dir)
        commit(spark, dir,
          Manifest(fresh.applied, fresh.live, fresh.commit + 1,
            fresh.schemaJson),
          "delete", label, delLive(spark, dir))
      }
    }
    clearPending(spark, dir, "delete", label)
  }

  /** The `rewrite_data_files` step: fold every live batch, APPLY the
    * standing deletes, lay the result out by the zone columns (z-order
    * when there are ≥2, range otherwise) into `nFiles` files, and
    * commit as the single live batch `intoLabel`. The delete store is
    * then reset (the deletes are IN the data now) and the index
    * rebuilt for the new layout. Replay-idempotent: a committed
    * `intoLabel` short-circuits to the reset+rebuild epilogue, so a
    * crash between the swap and the epilogue converges on replay. */
  def optimize(spark: SparkSession, dir: String, intoLabel: String,
      nFiles: Int = 8, beforeEpilogue: () => Unit = () => (),
      beforeCommit: () => Unit = () => ()): Unit = {
    requireLabel(intoLabel)
    val m = meta(spark, dir)
    val man = manifest(spark, dir)
    require(man.live.nonEmpty, "nothing to optimize: no committed data")
    // the delete labels THIS rewrite materializes — the epilogue must
    // retire exactly these and nothing more: a replayed optimize after
    // LATER delete batches landed must not wipe them (their keys are
    // NOT in its data). Written to a PENDING sidecar before the
    // rewrite itself (removed after the retire), so a crash between
    // the commit and the epilogue survives commit-log EXPIRY — the
    // replay reads the sidecar, not the possibly-expired snapshot —
    // and a concurrent vacuum sees the rewrite directory announced.
    val materialized: Seq[String] =
      if (!man.applied.contains(intoLabel)) {
        // ONE delete-manifest read pins both the rewrite input and the
        // retire set — read() would re-resolve the manifest and a
        // delete committing in between would be folded but not retired
        val dels = delLive(spark, dir)
        // announce BEFORE the rewrite write: the sidecar both names the
        // retire set for the crash-replay epilogue AND shields the
        // in-flight `batch=intoLabel` directory from a concurrent
        // vacuum (which would otherwise sweep it as an orphan and
        // leave the commit below pointing at deleted data)
        writePending(spark, dir, "retire", intoLabel,
          StoreIO.renderJson(StoreIO.putArr(_, "retired", dels)))
        val base = scan(spark, dir, man)
        val snapshot = minusDeletes(spark, dir, base, dels)
        val laidOut =
          if (m.zoneCols.size >= 2) {
            val z = graft.functions.ZOrder.zvalueOf(snapshot, m.zoneCols)
            snapshot.withColumn("__graft_z", z)
              .repartitionByRange(nFiles, col("__graft_z")).drop("__graft_z")
          } else snapshot.repartitionByRange(nFiles, col(m.zoneCols.head))
        laidOut.write.mode(SaveMode.Overwrite)
          .parquet(s"${dataPath(dir)}/batch=$intoLabel")
        beforeCommit() // spec seam: a commit landing during the rewrite
        val fresh = manifest(spark, dir)
        // OPTIMISTIC CONCURRENCY (the ScdStore.applyBatch discipline):
        // a data batch committed DURING the rewrite is in fresh.live
        // but NOT in the rewritten data — committing live=[intoLabel]
        // would silently drop it forever (its replay is a label
        // no-op), and folding its label in is subtly wrong too (a row
        // it appended under a key this rewrite just materialized and
        // retired would flip from hidden to visible). Abort before the
        // swap: nothing committed, the orphan rewrite dir is vacuum's,
        // the caller retries against the new state. Concurrent DELETE
        // batches are fine — they stay live (the epilogue retires
        // exactly `dels`), apply to the folded data through the
        // merge-on-read probe, and the snapshot records them so travel
        // to this commit re-applies them. `dels` themselves are IN the
        // data — travel must NOT re-apply them; `retired` names what
        // the epilogue drops.
        val unseen = fresh.live.filterNot(man.live.contains)
        if (unseen.nonEmpty) {
          // ABANDON: delete the rewrite dir together with its sidecar
          // (dir first). Un-announcing alone would leave an existing-
          // but-unannounced directory: a retried optimize re-announces
          // and Overwrites it, but a vacuum that read sidecars before
          // the re-announce could sweep it mid-rewrite.
          abandonPending(spark, dir, "retire", intoLabel,
            s"${dataPath(dir)}/batch=$intoLabel")
          throw new java.util.ConcurrentModificationException(
            s"optimize($intoLabel) aborted: batches [${unseen.mkString(",")}]" +
              " committed during the rewrite and are not in its data —" +
              " rerun optimize against the new state (no commit was" +
              " written; the rewrite directory has been removed)")
        }
        try commit(spark, dir,
          Manifest(fresh.applied :+ intoLabel, Seq(intoLabel),
            fresh.commit + 1,
            // carry the pinned union; a LEGACY table gets pinned here
            // (the rewrite's input schema IS the union, footer-merged
            // one final time by the scan above)
            fresh.schemaJson.orElse(Some(toNullable(
              org.apache.spark.sql.types.StructType(base.schema.fields))
              .asInstanceOf[StructType].json))),
          "optimize", intoLabel,
          delLive(spark, dir).filterNot(dels.contains), retired = dels,
          rows = StoreIO.dirRowCount(spark, s"${dataPath(dir)}/batch=$intoLabel"))
        catch {
          case e: java.util.ConcurrentModificationException =>
            // slot CAS lost to an in-flight writer: same abandon as the
            // unseen-batch abort above — nothing was committed, and an
            // aborted label may never be retried, so nothing may shield
            // the orphan rewrite
            abandonPending(spark, dir, "retire", intoLabel,
              s"${dataPath(dir)}/batch=$intoLabel")
            throw e
        }
        dels
      } else {
        // replay: the pending sidecar (crash before the epilogue), or
        // the retained snapshot, or nothing (epilogue long done)
        if (pendingExists(spark, dir, "retire", intoLabel))
          StoreIO.jsonArr(readString(spark,
            pendingPath(dir, "retire", intoLabel)), "retired")
        else
          commitLog.list(spark, dir).view.map(commitAt(spark, dir, _))
            .find(c => c.kind == "optimize" && c.label == intoLabel)
            .map(_.retired).getOrElse(Nil)
      }
    beforeEpilogue() // the spec's crash-injection seam
    // epilogue (also the replay path): the materialized deletes are in
    // the data — keep the ledger, drop exactly them from the live set
    // — and the index must describe the new layout (built over ONLY
    // the live files: superseded dirs linger until vacuum and their
    // stats would be dead weight every qualify() pays to discard)
    if (m.delKeys.nonEmpty && materialized.nonEmpty)
      DeleteStore.retire(spark, delPath(dir), materialized)
    clearPending(spark, dir, "retire", intoLabel)
    indexLock(dir).synchronized {
      SkippingIndex.build(spark, dataPath(dir), indexPath(dir),
        m.zoneCols, m.bloomCols, bloomBits = m.bloomBits,
        only = Some(liveFileStatuses(spark, dir,
          manifest(spark, dir).live).map(_.getPath.toString)))
    }
  }

  /** M3: sweep data batch dirs and delete batch dirs that neither the
    * live manifests, any RETAINED commit snapshot, nor any PENDING
    * announcement names — crashed-and-replayed leftovers, and
    * directories whose last referencing snapshot was
    * [[expireCommits]]'d. Time travel to a retained commit always
    * resolves; expiry, not vacuum, is the retention decision. Safe
    * against in-flight writers by [[CommitLog.vacuum]]'s read order.
    * Returns (data dirs, delete dirs) swept. */
  def vacuum(spark: SparkSession, dir: String): (Int, Int) = {
    val hasDel = meta(spark, dir).delKeys.nonEmpty
    val roots = dataPath(dir) +:
      (if (hasDel) Seq(s"${delPath(dir)}/deletes") else Nil)
    commitLog.vacuum(spark, dir, roots) { v =>
      def batches(root: Int) = v.listed.lift(root).getOrElse(Nil)
        .filter(_.getName.startsWith("batch="))
      val retained = v.retained.map(commitOf)
      val keepData =
        (v.pointer.live ++ retained.flatMap(_.manifest.live)).toSet ++
          v.announced("append", "retire")
      val dataSwept = CommitLog.sweep(spark, batches(0))(n =>
        keepData(n.stripPrefix("batch=")))
      val delSwept =
        if (!hasDel) 0
        else {
          // the delete store's own vacuum keeps only ITS live set; here
          // retained table snapshots and in-flight announcements (the
          // table-level delete() bridge AND the delete store's own
          // append/compact sidecars) pin delete labels too. Its
          // directories were listed with the table's, above.
          val (delPending, delMan) =
            DeleteStore.commitLog.liveness(spark, delPath(dir))
          val keepDel = (delMan.live ++ retained.flatMap(_.delLive)).toSet ++
            v.announced("delete") ++
            delPending.getOrElse("append", Set.empty) ++
            delPending.getOrElse("compact", Set.empty)
          val swept = CommitLog.sweep(spark, batches(1))(n =>
            keepDel(n.stripPrefix("batch=")))
          // nothing in the table lifecycle runs DeleteStore.vacuum, so
          // the delete store's provably stale sidecars are cleared here
          StoreIO.clearCommittedPending(spark, delPath(dir), delPending,
            (kind, l) => (kind == "append" || kind == "compact") &&
              delMan.applied.contains(l))
          swept
        }
      // "retire" is NOT clearable (it carries the retire set until
      // optimize's epilogue runs), nor is "delete" (it bridges the
      // two-store commit until the table-level commit is repaired)
      ((dataSwept, delSwept),
        (kind, l) => kind == "append" && v.pointer.applied.contains(l))
    }
  }

  /** Table health: live/applied batches, live delete keys, index
    * coverage — the A1-shaped summary for this format. */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(spark, dir)
    val m = meta(spark, dir)
    val base = spark.range(1).select(
      lit(man.live.size.toLong).as("live_batches"),
      lit(man.applied.size.toLong).as("applied_labels"),
      lit(man.commit).as("commit"),
      lit(commitLog.list(spark, dir).size.toLong).as("retained_commits"))
    val withDel =
      if (m.delKeys.isEmpty) base.withColumn("live_delete_rows", lit(0L))
      else base.crossJoin(DeleteStore.audit(spark, delPath(dir))
        .select(col("live_delete_rows")))
    val (fs, p) = StoreIO.hadoopFs(spark, s"${indexPath(dir)}/_meta.json")
    if (!fs.exists(p)) withDel.withColumn("indexed_files", lit(0L))
    else withDel.crossJoin(SkippingIndex.audit(spark, indexPath(dir))
      .select(col("indexed_files")))
  }

  // ---- manifest + commit-snapshot plumbing (the ScdStore shape) -------

  /** `schemaJson` is the PINNED UNION SCHEMA of the live data (the
    * data columns only, all nullable, serialized `StructType.json`) —
    * written by every commit since the first append, evolved by
    * [[mergeSchemas]] at append time. Read paths resolve the schema
    * from HERE (one manifest/snapshot read), never by merging parquet
    * footers over the live files — the Iceberg rule (schema lives in
    * table metadata, data files are never opened to plan a read; the
    * reference administers exactly that design through its catalog's
    * schema endpoints, backend/internal/iceberg_client.go:352-384).
    * At 100 TB the difference is ~49 µs × O(live files) of footer GETs
    * per uncached read (SCALE.md) vs one metadata read. `None` only on
    * pre-schema manifests (legacy tables, the handcrafted-snapshot
    * repair spec): those reads fall back to the footer merge, and the
    * next append or optimize pins the schema. */
  private[operators] case class Manifest(applied: Seq[String],
      live: Seq[String], commit: Long, schemaJson: Option[String] = None)

  /** Max dirty-group keys routed through the index-pruned repair read
    * (an IN-list the zone/bloom qualify evaluates per file); beyond it
    * the repair falls back to the broadcast semi-join, which handles
    * any cardinality. */
  private val RepairPruneCap = 1024

  private def pinnedSchema(j: Option[String]): Option[StructType] =
    j.map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Parquet reads surface every column nullable; the pinned schema
    * must agree or conformTo/evolution gaps would flip nullability. */
  private def toNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = toNullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      a.copy(elementType = toNullable(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(valueType = toNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The union-evolution merge, parquet-mergeSchema semantics re-stated
    * over committed metadata: `a`'s columns in order, then `b`'s new
    * columns appended; a column present in only one side is nullable
    * (the other side's batches surface typed NULLs); same-name columns
    * must agree on type (structs/arrays/maps recurse). Conflicts fail
    * HERE — at append time, before any data byte — not at read time
    * deep in a footer merge. */
  private[operators] def mergeSchemas(a: StructType,
      b: StructType): StructType = {
    // evolution NEVER adds a name differing only in case: Spark's
    // default case-insensitive resolution would reject the resulting
    // union as a duplicate column at READ time (SchemaUtils) — exactly
    // the read-time failure this writer-side merge exists to prevent
    val aLower = a.fieldNames.map(n => n.toLowerCase -> n).toMap
    b.fieldNames.foreach { n =>
      aLower.get(n.toLowerCase).foreach(prior => require(prior == n,
        s"schema evolution conflict: appended column '$n' collides " +
          s"case-insensitively with committed column '$prior'"))
    }
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { fa =>
      bByName.get(fa.name) match {
        case None => fa.copy(nullable = true)
        case Some(fb) => fa.copy(
          dataType = mergeTypes(fa.name, fa.dataType, fb.dataType),
          nullable = fa.nullable || fb.nullable)
      }
    }
    val aNames = a.fieldNames.toSet
    StructType(merged ++
      b.fields.filterNot(f => aNames.contains(f.name))
        .map(_.copy(nullable = true)))
  }

  private def mergeTypes(path: String, x: DataType, y: DataType): DataType =
    (x, y) match {
      case (sx: StructType, sy: StructType) => mergeSchemas(sx, sy)
      case (ax: ArrayType, ay: ArrayType) => ArrayType(
        mergeTypes(s"$path.element", ax.elementType, ay.elementType),
        ax.containsNull || ay.containsNull)
      case (mx: MapType, my: MapType) => MapType(
        mergeTypes(s"$path.key", mx.keyType, my.keyType),
        mergeTypes(s"$path.value", mx.valueType, my.valueType),
        mx.valueContainsNull || my.valueContainsNull)
      case _ if x == y => x
      case _ => throw new IllegalArgumentException(
        s"schema evolution conflict on column '$path': committed type " +
          s"${x.simpleString} vs appended ${y.simpleString} — evolution " +
          "may add columns, never change a column's type")
    }

  // Manifests and snapshots parse through StoreIO's shared Jackson
  // helpers (one parser for all four stores): field order is free,
  // escaping is the parser's problem, and the old "schema must be
  // serialized LAST" contract no longer exists.
  private def parseManifest(n: com.fasterxml.jackson.databind.JsonNode)
      : Manifest =
    Manifest(
      StoreIO.jArr(n, "applied").getOrElse(Nil),
      StoreIO.jArr(n, "live").getOrElse(Nil),
      StoreIO.jLong(n, "commit").getOrElse(1L),
      StoreIO.jObjJson(n, "schema"))

  private[operators] def manifest(spark: SparkSession,
      dir: String): Manifest =
    commitLog.pointer(spark, dir)

  private def putManifest(o: com.fasterxml.jackson.databind.node.ObjectNode,
      m: Manifest): Unit = {
    o.put("commit", m.commit)
    StoreIO.putArr(o, "applied", m.applied)
    StoreIO.putArr(o, "live", m.live)
    m.schemaJson.foreach(StoreIO.putRawObj(o, "schema", _))
  }

  /** Commits claim `_commits/c<commit>.json`, the retained snapshot
    * log. `create` is the first commit; the others announce their label
    * under the sidecar kind their writer uses. */
  private val commitLog = new CommitLog[Manifest](CommitLog.Retained,
    Map("create" -> CommitLog.Never,
      "append" -> CommitLog.Sidecar("append"),
      "delete" -> CommitLog.Sidecar("delete"),
      "optimize" -> CommitLog.Sidecar("retire")),
    parseManifest, _.commit, putManifest)

  /** One commit = one immutable snapshot (manifest + what the commit
    * did + the delete store's live labels at that instant + the pinned
    * union schema) + the pointer swap, in that order ([[CommitLog]]). */
  private def commit(spark: SparkSession, dir: String, m: Manifest,
      kind: String, label: String, delLabels: Seq[String],
      retired: Seq[String] = Nil, rows: Long = 0L): Unit =
    commitLog.commit(spark, dir, m, kind, label, { o =>
      o.put("rows", rows)
      StoreIO.putArr(o, "delLive", delLabels)
      StoreIO.putArr(o, "retired", retired)
    })

  /** A committed snapshot: live data batches, the delete store's live
    * labels at the commit, what the commit did
    * (create/append/delete/optimize), which delete labels an optimize
    * materialized, and the DATA ROWS the commit wrote (`rows` — the
    * Iceberg snapshot-summary idea: per-commit stats recorded at
    * commit time, so history audits never scan data; 0 on legacy
    * snapshots and non-writing kinds). */
  private[operators] case class Commit(manifest: Manifest, kind: String,
      label: String, delLive: Seq[String], retired: Seq[String],
      rows: Long)

  private def commitOf(s: CommitLog.Snapshot[Manifest]): Commit =
    Commit(s.manifest, s.kind, s.label,
      StoreIO.jArr(s.node, "delLive").getOrElse(Nil),
      StoreIO.jArr(s.node, "retired").getOrElse(Nil),
      StoreIO.jLong(s.node, "rows").getOrElse(0L))

  private[operators] def commitAt(spark: SparkSession, dir: String,
      c: Long): Commit = commitOf(commitLog.snapshot(spark, dir, c))

  /** TIME TRAVEL: the table exactly as commit `c` saw it — the
    * snapshot's live batch dirs with the snapshot's delete labels
    * applied (both immutable; [[vacuum]] keeps everything a retained
    * snapshot names, [[expireCommits]] retires them). */
  def tableAt(spark: SparkSession, dir: String, c: Long): DataFrame = {
    val snap = commitAt(spark, dir, c)
    require(snap.manifest.live.nonEmpty,
      s"commit $c has no committed data (kind ${snap.kind})")
    // the SNAPSHOT's pinned schema and delete labels: travel reads
    // plan footer-free too
    minusDeletes(spark, dir, scan(spark, dir, snap.manifest), snap.delLive)
  }

  /** CDC READ: the visible delta between commit `from` (exclusive)
    * and `to` (inclusive), as full rows tagged `_change_type`:
    * `insert` rows straight from the window's append-batch dirs
    * (batch-sized), `delete` rows as PREIMAGES — the data rows the
    * window's delete batches erased (rows both live at `to` and
    * matched by a window delete key, minus rows already deleted at
    * `from`). A row appended AND deleted inside the window emits both
    * — the per-event contract a downstream sync replays. OPTIMIZE in
    * the window folds the batch dirs and bakes the deletes in, so the
    * read refuses with a pointed error: run CDC consumers ahead of
    * maintenance (the ScdStore compact rule, stated loudly here
    * because there is no exact fallback for a general table). */
  def changesBetween(spark: SparkSession, dir: String, from: Long,
      to: Long): DataFrame = {
    require(from < to, s"need from < to (got $from >= $to)")
    val m = meta(spark, dir)
    val cf = commitAt(spark, dir, from)
    val ct = commitAt(spark, dir, to)
    val window = ((from + 1) to to).map(commitAt(spark, dir, _))
    require(!window.exists(_.kind == "optimize"),
      s"commits ($from, $to] contain an optimize — its rewrite folds " +
        "the per-batch dirs this read is priced on; consume CDC before " +
        "running maintenance")
    // ONE full-live frame under the `to`-snapshot's pinned schema: it
    // conforms every branch, and the window reads reuse the same pin —
    // CDC planning opens zero footers like every other read
    val full = scan(spark, dir, ct.manifest)
    val inserts0 = {
      val labels = window.filter(_.kind == "append").map(_.label)
      if (labels.isEmpty) full.where(lit(false))
      else scan(spark, dir, ct.manifest.copy(live = labels))
    }
    // rows appended in the window under a key a PRE-WINDOW delete
    // still holds live at `to` were never visible — emitting them as
    // inserts (with no compensating delete event, since their label is
    // not a window commit) would make a mirror keep rows read() hides.
    // Keys deleted IN the window stay: those emit insert AND delete.
    val inserts = minusDeletes(spark, dir, inserts0,
      cf.delLive.intersect(ct.delLive))
    val delLabels = window.filter(_.kind == "delete").map(_.label)
    val deletes =
      if (delLabels.isEmpty) full.where(lit(false))
      else {
        // NULL-SAFE key match, like the reads themselves (morRead's
        // <=>): a delete row with a NULL key addresses data NULLs —
        // a name-join would silently drop those preimages and the
        // mirror would diverge from read()
        val keys = DeleteStore.deletesOf(spark, delPath(dir), delLabels)
          .select(m.delKeys.map(k => col(k).as(s"__d_$k")): _*).distinct()
        val probe = preimageBase(spark, dir, m, ct.manifest, full,
          keys.select(col(s"__d_${m.delKeys.head}"))
            .limit(RepairPruneCap + 1).collect().map(_.get(0)))
        val hit = probe.join(keys,
          m.delKeys.map(k => probe(k) <=> keys(s"__d_$k")).reduce(_ && _),
          "left_semi")
        minusDeletes(spark, dir, hit, cf.delLive)
      }
    conformTo(full.schema, inserts).withColumn("_change_type", lit("insert"))
      .unionByName(conformTo(full.schema, deletes)
        .withColumn("_change_type", lit("delete")))
  }

  /** The frame the delete-preimage semi-join PROBES: [[pruned]] to the
    * files that can hold ANY of the window's delete keys when the
    * single delete key is a zone/bloom-indexed column and its distinct
    * values fit a driver IN-list, else `full`, the whole live read. NULL
    * keys (they address data NULLs — no index opinion) and oversized key
    * sets take `full`; the exact null-safe predicate is re-applied by
    * the semi-join either way. `keyVals` is by-name: the driver collect
    * only runs once the cheap gates pass. */
  private def preimageBase(spark: SparkSession, dir: String, m: Meta,
      man: Manifest, full: DataFrame, keyVals: => Array[Any]): DataFrame = {
    val (fs, metaP) = StoreIO.hadoopFs(spark, s"${indexPath(dir)}/_meta.json")
    if (m.delKeys.size != 1 || !fs.exists(metaP)) return full
    val im = SkippingIndex.meta(spark, indexPath(dir))
    val k = m.delKeys.head
    if (!im.cols.contains(k) && !im.bloomCols.contains(k)) return full
    val vals = keyVals
    if (vals.isEmpty || vals.length > RepairPruneCap || vals.contains(null))
      full
    else pruned(spark, dir, man, equalities = Seq(ColumnEquals(k, vals.toSeq)))
  }

  // ---- downstream views: the bucketed versioned layout -----------------
  //
  // All four CDC consumers (row mirror, filtered+projected mirror,
  // dim-enriched join mirror, grouped aggregate) share one storage
  // layout: the view is hash-bucketed by its ADDRESSING key (the
  // table's delete keys for row-shaped views, the group keys for the
  // aggregate) into `nBuckets` buckets, and each sync writes ONLY the
  // buckets the window touched into the next `v<ver>/gbkt=<k>/`
  // dirs, carrying every untouched bucket forward BY REFERENCE — the
  // `_sync.json` pointer maps each bucket to the version dir holding
  // its current rows. Steady-state sync WRITE volume is therefore
  // dirty-bucket-sized, never view-sized (r16's one structural
  // residual: the maintenance COMPUTE was delta-sized, the write was
  // not — a 50-key erasure against a per-user mirror paid a
  // table-scale rewrite for a 50-row change). The pointer also pins
  // the view's SCHEMA, so multi-version reads plan footer-free and a
  // bucket written before a schema evolution surfaces typed NULLs.
  //
  // Retention: versions referenced by the live bucket map are pinned;
  // the version SETS referenced by the last `keepLast` superseded
  // pointers stay readable too (`prevRefs`) — the same
  // concurrent-reader allowance the old linear layout gave (a frame
  // resolved against the just-superseded pointer finishes its scan),
  // restated for a non-linear version set. keepLast=0 sweeps every
  // unreferenced version immediately.
  //
  // Families: every `_sync.json` names the family that wrote it
  // (`mirror`, `where`, `join`, `agg`) and that family's definition
  // (where: pred + cols; join: pred = the join, cols = dimCols; mirror
  // and agg define none). A sync maintains a pointer only if it carries
  // the sync's own family and definition; a pre-bucketed `legacy`
  // pointer is adopted under the same definition test by every family
  // but join, which never had a legacy layout. Anything else refuses
  // loudly, even on a no-op sync: pointing one sync at another's view
  // must never silently maintain the wrong view.

  /** One parsed `_sync.json`: the consumer FAMILY, the bucket map,
    * reader-retention refs, the pinned view schema, and the
    * family-specific definition fields (where: pred+cols; join:
    * pred=joinOn, cols=dimCols, dimCommit). `family=="legacy"` marks a
    * pre-bucketed pointer (flat `v<commit>/` dir): readable as-is, and
    * the next sync re-baselines it into the bucketed layout.
    *
    * `buckets` maps each bucket to its SEGMENT LIST, oldest first: a
    * bucket's rows are the union of `v<version>/gbkt=<k>/` across its
    * list. Insert-only windows APPEND a segment (delta-sized write);
    * only buckets a delete reached — or whose list hit
    * [[MaxViewSegments]] — are FOLDED into one segment. The LSM split
    * is what makes sync writes delta-proportional in BOTH dimensions:
    * without it a broad append (keys scatter across every bucket, the
    * normal case) re-wrote the whole view to add delta rows.
    *
    * `ver` is the view's OWN monotone version counter (the number in
    * `v<ver>/` dir names), decoupled from the source commit: a sync
    * can run without a source commit (the join family's dim-moved
    * re-baseline), and writing such a version under `v<commit>` would
    * OVERWRITE the live version in place — mutating exactly the dirs
    * held readers and `prevRefs` reference. Absent (legacy) → commit. */
  private[operators] case class ViewState(commit: Long, family: String,
      nBuckets: Int, buckets: Map[Int, Seq[Long]],
      prevRefs: Seq[Seq[Long]],
      schemaJson: Option[String], pred: Option[String],
      cols: Option[Seq[String]], dimCommit: Option[Long],
      ver: Long, bucketCols: Seq[String])

  /** Per-bucket segment-list bound: an insert-only sync that would push
    * a bucket past this folds it instead — read amplification stays
    * ≤ MaxViewSegments small files per bucket, and fold cost amortizes
    * to O(bucket) per MaxViewSegments appends (the LSM compaction
    * argument). */
  private val MaxViewSegments = 8

  /** The bucket partition column (becomes `gbkt=<k>/` dir names — NOT
    * underscore-prefixed, which Spark's listing would hide). */
  private val BucketCol = "gbkt"

  private[operators] def readViewState(spark: SparkSession,
      syncPath: String): Option[ViewState] = {
    val (fs, sp) = StoreIO.hadoopFs(spark, syncPath)
    if (!fs.exists(sp)) return None
    val n = StoreIO.parseJson(readString(spark, syncPath))
    val buckets: Map[Int, Seq[Long]] = Option(n.get("buckets"))
      .filter(_.isObject).map { b =>
        val it = b.properties().iterator()
        val out = Map.newBuilder[Int, Seq[Long]]
        while (it.hasNext) {
          val e = it.next()
          val v = e.getValue
          out += (e.getKey.toInt ->
            (if (v.isArray) (0 until v.size).map(i => v.get(i).asLong).toSeq
             else Seq(v.asLong))) // a pre-segment scalar entry
        }
        out.result()
      }.getOrElse(Map.empty)
    val prevRefs: Seq[Seq[Long]] = Option(n.get("prevRefs"))
      .filter(_.isArray).map { a =>
        (0 until a.size).map { i =>
          val inner = a.get(i)
          (0 until inner.size).map(j => inner.get(j).asLong).toSeq
        }.toSeq
      }.getOrElse(Nil)
    val commit = StoreIO.jLong(n, "commit").getOrElse(
      sys.error(s"$syncPath has no 'commit' pointer"))
    Some(ViewState(commit,
      StoreIO.jStr(n, "family").getOrElse("legacy"),
      StoreIO.jLong(n, "nBuckets").getOrElse(0L).toInt,
      buckets, prevRefs,
      StoreIO.jObjJson(n, "schema"),
      StoreIO.jStr(n, "pred"),
      StoreIO.jArr(n, "cols"),
      StoreIO.jLong(n, "dimCommit"),
      StoreIO.jLong(n, "ver").getOrElse(commit),
      StoreIO.jArr(n, "bucketCols").getOrElse(Nil)))
  }

  private def writeViewState(spark: SparkSession, syncPath: String,
      st: ViewState): Unit =
    writeString(spark, syncPath, StoreIO.renderJson { o =>
      o.put("commit", st.commit)
      o.put("ver", st.ver)
      o.put("family", st.family)
      o.put("nBuckets", st.nBuckets)
      val b = o.putObject("buckets")
      st.buckets.toSeq.sortBy(_._1).foreach { case (k, vs) =>
        val a = b.putArray(k.toString); vs.foreach(a.add); ()
      }
      val pr = o.putArray("prevRefs")
      st.prevRefs.foreach { refs =>
        val inner = pr.addArray(); refs.sorted.foreach(inner.add); ()
      }
      st.schemaJson.foreach(StoreIO.putRawObj(o, "schema", _))
      st.pred.foreach { p => o.put("pred", p); () }
      st.cols.foreach(cs => StoreIO.putArr(o, "cols", cs))
      st.dimCommit.foreach { dc => o.put("dimCommit", dc); () }
      StoreIO.putArr(o, "bucketCols", st.bucketCols)
    }, atomic = true)

  /** Deterministic bucket of a row: Murmur3 over the addressing
    * columns, mod `n`. An empty column set (a delete-key-less table
    * whose schema is all map-typed — `hash` rejects maps) degrades to
    * one bucket: still correct, just unpruned. */
  private def bucketExprOf(bucketCols: Seq[String],
      n: Int): org.apache.spark.sql.Column =
    if (bucketCols.isEmpty) lit(0)
    else pmod(hash(bucketCols.map(col): _*), lit(n))

  /** Columns `hash()` accepts (maps are rejected by Spark) — the
    * bucket-address fallback for tables without delete keys, where
    * placement is never probed again (no deletes can exist). */
  private def hashableCols(schema: StructType): Seq[String] = {
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    schema.fields.filterNot(f => hasMap(f.dataType)).map(_.name).toSeq
  }

  /** The distinct buckets any row of `frames` addresses — the window's
    * DIRTY set. Driver-bounded by nBuckets (the collect is over a
    * delta-sized distinct of at most n integers). */
  private def dirtyBucketsOf(frames: Seq[(DataFrame, Seq[String])],
      n: Int): Set[Int] =
    frames.flatMap { case (df, bc) =>
      df.select(bucketExprOf(bc, n).as("b")).distinct()
        .collect().map(_.getInt(0))
    }.toSet

  /** Current content of the view's `only` buckets, read through the
    * pointer's PINNED schema (multi-version bucket dirs may straddle a
    * schema evolution; the pin nulls the gaps and plans footer-free). */
  private def readViewBuckets(spark: SparkSession, rootDir: String,
      st: ViewState, only: Set[Int]): DataFrame = {
    val paths = st.buckets.toSeq.filter(kv => only.contains(kv._1))
      .sortBy(_._1)
      .flatMap { case (k, vs) =>
        vs.map(v => s"$rootDir/v$v/$BucketCol=$k")
      }
    val schema = pinnedSchema(st.schemaJson)
    if (paths.isEmpty)
      schema.map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
        .getOrElse(sys.error(
          s"view at $rootDir has no schema and no buckets"))
    else schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** One view commit: write `df` — the FOLDED content of `fold`
    * buckets plus the NEW rows of `append` buckets, and nothing else,
    * by construction — partitioned by bucket into `v<live>/`; fold
    * buckets' segment lists collapse to this version, append buckets
    * gain it as one more segment, every untouched bucket carries
    * forward by reference; swap the pointer; sweep versions no
    * retained pointer references past the `keepLast` reader
    * allowance. */
  private def commitViewVersion(spark: SparkSession, rootDir: String,
      prior: Option[ViewState], live: Long, v: ViewDef,
      nBuckets: Int, df: DataFrame, bucketCols: Seq[String],
      fold: Set[Int], append: Set[Int], keepLast: Int): Unit = {
    require((fold & append).isEmpty,
      s"fold/append overlap: ${(fold & append).mkString(",")}")
    val schema = toNullable(StructType(df.schema.fields))
      .asInstanceOf[StructType]
    require(!df.columns.contains(BucketCol),
      s"'$BucketCol' is the view layout's bucket column")
    // the view's own next version number — strictly above every dir
    // the prior state could reference (incl. a legacy flat v<commit>),
    // so a sync NEVER writes into a dir a reader may hold
    val ver = prior.map(p => math.max(p.ver, p.commit) + 1).getOrElse(live)
    if (fold.nonEmpty || append.nonEmpty)
      // repartition BY the bucket column before the partitioned write:
      // without it every input task writes a file into every bucket it
      // holds rows for (tasks × dirty-buckets small files at scale);
      // with it a bucket's rows land in ~one task → ~one file, and the
      // shuffle is dirty-data-sized, which the write already was
      df.withColumn(BucketCol, bucketExprOf(bucketCols, nBuckets))
        .repartition(math.max(1, fold.size + append.size), col(BucketCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(BucketCol).parquet(s"$rootDir/v$ver")
    // buckets that materialized rows; a fold bucket whose rows all
    // deleted produces no dir and leaves the map, an append bucket
    // with no surviving rows keeps its old segments unchanged
    val present: Set[Int] = {
      val (fs, p) = StoreIO.hadoopFs(spark, s"$rootDir/v$ver")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith(s"$BucketCol="))
        .map(_.stripPrefix(s"$BucketCol=").toInt).toSet
    }
    val oldMap = prior.map(_.buckets).getOrElse(Map.empty)
    val newMap = (oldMap -- fold) ++
      fold.intersect(present).map(_ -> Seq(ver)) ++
      append.intersect(present).map(k =>
        k -> (oldMap.getOrElse(k, Nil) :+ ver))
    // reader retention: the version set the superseded pointer
    // referenced (a legacy pointer referenced its flat v<commit> dir)
    val oldRefs: Seq[Long] = prior.map { p =>
      if (p.nBuckets == 0) Seq(p.commit)
      else p.buckets.values.flatten.toSeq.distinct
    }.getOrElse(Nil)
    val prevRefs = (oldRefs +: prior.map(_.prevRefs).getOrElse(Nil))
      .filter(_.nonEmpty).take(keepLast)
    writeViewState(spark, s"$rootDir/_sync.json",
      ViewState(live, v.family, nBuckets, newMap, prevRefs,
        Some(schema.json), v.pred, v.cols, v.dimCommit, ver, bucketCols))
    val keep = newMap.values.flatten.toSet ++ prevRefs.flatten.toSet + ver
    val (mfs, mroot) = StoreIO.hadoopFs(spark, rootDir)
    mfs.listStatus(mroot).filter(_.isDirectory).map(_.getPath)
      .flatMap(p => """^v(\d+)$""".r.findFirstMatchIn(p.getName)
        .map(m0 => (m0.group(1).toLong, p)))
      .filterNot(v => keep.contains(v._1))
      .foreach { case (_, p) => mfs.delete(p, true) }
  }

  /** The fold/append split for a row-shaped view delta: buckets a
    * delete key reached must FOLD (their standing rows are rewritten
    * minus the keys); buckets receiving only inserts APPEND a
    * delta-sized segment — unless their segment list is at
    * [[MaxViewSegments]], which promotes them to fold (compaction). */
  private def splitDelta(cur: ViewState, insertBuckets: Set[Int],
      deleteBuckets: Set[Int]): (Set[Int], Set[Int]) = {
    val compact = (insertBuckets -- deleteBuckets)
      .filter(k => cur.buckets.getOrElse(k, Nil).size >= MaxViewSegments)
    val fold = deleteBuckets ++ compact
    (fold, insertBuckets -- fold)
  }

  /** What a sync maintains: its family tag and that family's
    * definition fields, as `_sync.json` records them. */
  private case class ViewDef(family: String, pred: Option[String] = None,
      cols: Option[Seq[String]] = None, dimCommit: Option[Long] = None)

  /** An opened sync: the prior pointer, the window (last, live], the
    * bucket count, and the window's delta — `None` re-baselines. */
  private case class SyncWindow(st: Option[ViewState], last: Long,
      live: Long, nB: Int, delta: Option[DataFrame])

  /** The prelude every sync shares: the argument bounds, the
    * family/definition refusal (the rule on the layout section above —
    * checked even on a no-op sync), then `Left` with the return value
    * when there is nothing to do: the pointer is at `live` and not
    * `stale`, or nothing is committed yet (a sync scheduled ahead of the
    * first append reports no progress). Otherwise the window: a prior
    * bucketed view keeps its bucket count, and the window re-baselines
    * when there is no prior bucketed state to delta against (first
    * sync, a legacy flat pointer), the prior is `stale` (join: the dim
    * moved), or the log cannot price the window (an optimize inside it,
    * the last-synced commit expired). */
  private def openSync(spark: SparkSession, dir: String, viewDir: String,
      v: ViewDef, keepLast: Int, buckets: Int,
      stale: ViewState => Boolean = _ => false)
      : Either[(Long, Long), SyncWindow] = {
    require(keepLast >= 0, "keepLast must be >= 0")
    require(buckets >= 1, "buckets must be >= 1")
    val srcMan = manifest(spark, dir)
    val live = srcMan.commit
    val st = readViewState(spark, s"$viewDir/_sync.json")
    st.foreach { s =>
      def defOf(p: Option[String], c: Option[Seq[String]]) =
        p.map(x => s" defined as $x / ${c.getOrElse(Nil).mkString(",")}")
          .getOrElse("")
      require((s.family == v.family ||
        (s.family == "legacy" && v.family != "join")) &&
        s.pred == v.pred && s.cols == v.cols,
        s"view at $viewDir is a '${s.family}' view${defOf(s.pred, s.cols)}" +
          s", not a '${v.family}' view${defOf(v.pred, v.cols)} — delete" +
          " the mirror to redefine it")
    }
    val last = st.map(_.commit).getOrElse(0L)
    val rebase = st.exists(stale)
    if (last == live && !rebase) return Left((last, live))
    if (srcMan.live.isEmpty) return Left((last, last))
    val nB = st.filter(_.nBuckets > 0).map(_.nBuckets).getOrElse(buckets)
    val delta =
      if (rebase || last == 0 || st.exists(_.nBuckets == 0)) None
      else
        try Some(changesBetween(spark, dir, last, live))
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("optimize") ||
                e.getMessage.contains("not retained") => None
        }
    Right(SyncWindow(st, last, live, nB, delta))
  }

  /** The one sync body of the row-shaped views (mirror, where, join).
    * A re-baseline writes `shape(table at live)` into every bucket,
    * PINNED at `live` (a commit landing mid-sync must not leak rows the
    * pointer's commit predates). A delta window shapes its inserts,
    * narrows its delete preimages with `preimages` before taking their
    * keys, folds the buckets a delete reached and appends to the rest
    * ([[splitDelta]]). Buckets address by the table's delete keys, else
    * by the hashable columns of the shaped rows (`hash` rejects maps;
    * without keys, placement is never probed again). */
  private def syncRowView(spark: SparkSession, dir: String,
      viewDir: String, v: ViewDef, keepLast: Int, buckets: Int,
      stale: ViewState => Boolean = _ => false,
      preimages: DataFrame => DataFrame = identity)(
      shape: DataFrame => DataFrame): (Long, Long) = {
    val SyncWindow(st, last, live, nB, delta) =
      openSync(spark, dir, viewDir, v, keepLast, buckets, stale) match {
        case Left(noop) => return noop
        case Right(w) => w
      }
    val delKeys = meta(spark, dir).delKeys
    def bcOf(df: DataFrame): Seq[String] =
      if (delKeys.nonEmpty) delKeys else hashableCols(df.schema)
    // the delta feeds the dirty-set probes AND the rewrite: pin it
    // once so the preimage semi-join never runs twice
    val pinned = delta.map(_.persist())
    try {
      val (next, bc, fold, append) = pinned match {
        case None =>
          val base = shape(tableAt(spark, dir, live))
          (base, bcOf(base), (0 until nB).toSet, Set.empty[Int])
        case Some(d) =>
          val cur = st.get
          val inserts = shape(
            d.where(col("_change_type") === "insert").drop("_change_type"))
          val bc = bcOf(inserts)
          val delKeyRows =
            if (delKeys.isEmpty) None // delete commits cannot exist
            else Some(preimages(d.where(col("_change_type") === "delete"))
              .select(delKeys.map(col): _*))
          val (fold, append) = splitDelta(cur,
            dirtyBucketsOf(Seq((inserts, bc)), nB),
            delKeyRows.map(k => dirtyBucketsOf(Seq((k, delKeys)), nB))
              .getOrElse(Set.empty))
          // fold buckets are read and rewritten; append buckets
          // contribute ONLY their new rows (an insert can never match
          // a window delete key outside the fold set — bucketing is BY
          // the delete keys, so equal keys share a bucket)
          val upserted = readViewBuckets(spark, viewDir, cur, fold)
            .unionByName(inserts, allowMissingColumns = true)
          // null-safe, like the table's own reads (<=>): a NULL-key
          // delete must erase mirror NULLs too
          (delKeyRows.fold(upserted)(k =>
            RowDeletes.applyEqualityDeletes(upserted, k, delKeys)),
            bc, fold, append)
      }
      commitViewVersion(spark, viewDir, st, live, v, nB, next, bc, fold,
        append, keepLast)
    } finally pinned.foreach(_.unpersist())
    (last, live)
  }

  /** The CDC feed's consumer contract, shipped as code: incrementally
    * maintain a downstream MIRROR of the table at `mirrorDir` from the
    * commit log. Each call applies `changesBetween(lastSynced, live)`
    * to the mirror — inserts unioned in, delete-preimage keys
    * anti-joined out (insert-then-delete nets to absent because the
    * deletes apply after) — and writes the window's dirty buckets as
    * the next immutable version behind a `_sync.json` pointer swap. A
    * first sync, or a window an OPTIMIZE landed in (changesBetween
    * refuses — no exact delta across a rewrite), re-baselines with a
    * full copy. Returns (fromCommit, toCommit); equal means no-op.
    *
    * 100 TB: steady-state sync COMPUTE is delta-sized (the window's
    * batch dirs + the dirty-bucket merge) and the WRITE is
    * dirty-bucket-sized (the bucketed layout above — a 50-key erasure
    * against a table-scale per-user mirror rewrites ~50 buckets, not
    * the view); only the re-baseline is table-sized — which is why
    * consumers schedule syncs ahead of maintenance. */
  def syncMirror(spark: SparkSession, dir: String,
      mirrorDir: String, keepLast: Int = 1,
      buckets: Int = 16): (Long, Long) =
    syncRowView(spark, dir, mirrorDir, ViewDef("mirror"), keepLast,
      buckets)(identity)

  /** FILTERED + PROJECTED mirror: maintain a downstream copy of
    * `SELECT columns FROM table WHERE predicateSql` from the commit
    * log — the selective-materialized-view consumer (a training-data
    * pipeline's "mirror just this slice" shape). Maintenance is
    * delta-sized: the predicate and projection apply to the WINDOW's
    * inserts, and delete preimages anti-join out by key. Rows in this
    * table format are immutable (no updates — a change is
    * delete+insert), so a row's predicate verdict never changes: the
    * filtered delta IS the delta of the filtered table, with no
    * transition-in/transition-out cases to repair.
    *
    * `columns` must include the table's delete keys (the mirror can't
    * apply a delete it cannot address — checked loudly). The view
    * DEFINITION (predicate + columns) is fingerprinted in
    * `_sync.json`; a sync with a different definition fails loudly
    * rather than silently maintaining a different view. Re-baseline
    * triggers are syncMirror's (first sync, optimize window, expired
    * log). Returns (fromCommit, toCommit); equal means no-op. */
  def syncMirrorWhere(spark: SparkSession, dir: String, mirrorDir: String,
      predicateSql: String, columns: Seq[String],
      keepLast: Int = 1, buckets: Int = 16): (Long, Long) = {
    require(columns.nonEmpty, "at least one projected column")
    columns.foreach(requireColName)
    require(predicateSql.trim.nonEmpty, "an empty predicate is read()'s job")
    val missingKeys = meta(spark, dir).delKeys.filterNot(columns.contains)
    require(missingKeys.isEmpty,
      s"projection must keep the delete key(s) ${missingKeys.mkString(",")}" +
        " — the mirror cannot apply a delete it cannot address")
    val pred = expr(predicateSql)
    // preimages are filtered by the SAME predicate: a deleted row that
    // never satisfied it was never in the mirror (immutable rows — its
    // verdict cannot have changed), so the filter only shrinks the
    // probe, never the result
    syncRowView(spark, dir, mirrorDir,
      ViewDef("where", Some(predicateSql), Some(columns)), keepLast, buckets,
      preimages = _.where(pred))(_.where(pred).select(columns.map(col): _*))
  }

  /** DIM-ENRICHED mirror — the JOIN tier of the IVM family (row mirror
    * → filtered/projected → grouped agg → this): maintain
    * `fact LEFT JOIN dim ON factKey = dimKey SELECT fact.*, dimCols`
    * from the fact table's commit log, with the dim side BROADCAST
    * (the training-pipeline shape: documents enriched with
    * source/license metadata). Insert deltas join the dim; delete
    * preimages anti-join out by the fact's delete keys (fact columns
    * are all kept, so the mirror can always address them).
    *
    * THE DIM BOUNDARY (documented the way q176's optimize-window
    * boundary is): the delta path is exact only while the dim is the
    * one the mirror was built against — a dim COMMIT re-baselines,
    * because a changed dim row invalidates enriched rows no fact-side
    * delta names (the same reason an optimize window re-baselines: no
    * exact delta exists). Steady-state (fact-only windows) is
    * delta-sized compute + dirty-bucket-sized writes, no fact scan.
    *
    * Both tables are GraftTables; reads pin their respective commits
    * (`live` for the fact, `dimCommit` for the dim), and the join
    * definition is fingerprinted in the pointer — drift fails loudly.
    * Returns (fromCommit, toCommit); equal means no work was needed
    * (same fact commit AND same dim commit). */
  def syncJoinMirror(spark: SparkSession, factDir: String, dimDir: String,
      mirrorDir: String, factKey: String, dimKey: String,
      dimCols: Seq[String], keepLast: Int = 1,
      buckets: Int = 16): (Long, Long) = {
    requireColName(factKey); requireColName(dimKey)
    require(dimCols.nonEmpty, "at least one dim payload column")
    dimCols.foreach(requireColName)
    val dimMan = manifest(spark, dimDir)
    // lazy: only a sync with work to do reads the dim (and requires it)
    lazy val dim = {
      require(dimMan.live.nonEmpty,
        s"dim table at $dimDir has no committed data")
      tableAt(spark, dimDir, dimMan.commit)
        .select((dimKey +: dimCols.filterNot(_ == dimKey)).map(col): _*)
    }
    syncRowView(spark, factDir, mirrorDir, ViewDef("join",
      Some(s"$factKey=$dimKey"), Some(dimCols), Some(dimMan.commit)),
      keepLast, buckets, stale = _.dimCommit.exists(_ != dimMan.commit)) {
      df =>
        val overlap = dimCols.filter(df.columns.contains)
        require(overlap.isEmpty,
          s"dim column(s) ${overlap.mkString(",")} collide with fact columns")
        df.join(broadcast(dim), df(factKey) === dim(dimKey), "left")
          .drop(dim(dimKey))
    }
  }

  /** INCREMENTAL VIEW MAINTENANCE over the CDC feed: maintain a
    * downstream GROUPED AGGREGATE of the table (count per key + sums
    * of `sumCols` + optional min/max of `minCols`/`maxCols`) at
    * `aggDir` from the commit log — the materialized-view consumer
    * contract, one tier up from [[syncMirror]]'s row mirror. Each sync
    * reads `changesBetween(last, live)` as SIGNED deltas (+1 insert,
    * −1 delete preimage — an insert-then-delete inside the window nets
    * to zero), aggregates them per group key, and folds them into the
    * stored aggregate with ONE null-safe full outer join; groups whose
    * count reaches zero are dropped, never emitted as zero rows.
    * Steady-state cost = delta-sized CDC read + AGGREGATE-sized merge
    * — never a table scan; only the first sync or an optimize window
    * (no exact delta; same recovery as syncMirror) re-baselines from
    * the table. Each sync FOLDS the buckets its delta groups address
    * (bucketed by the group keys) into the next version of the
    * bucketed layout; [[commitViewVersion]] swaps the `_sync.json`
    * pointer and applies the `keepLast` retention.
    *
    * count and sum are self-maintainable under deletes. min/max are
    * not (a deleted extremum cannot be repaired from the delta alone)
    * — but a full re-baseline is stronger than necessary: only the
    * GROUPS whose stored extremum a window delete reached are dirty,
    * so the sync RESCANS EXACTLY THOSE (delta-group keys ⋈ table, a
    * broadcast semi-join) and recomputes their min/max; every other
    * group folds inserts with least/greatest, and an INSERT-ONLY
    * window triggers no rescan at all (decided eagerly on the
    * agg-sized merge, so the plan that executes really is scan-free).
    * `repairSeam` receives the rescan frame — the spec's seam for
    * counting repair-scan rows. Sums are maintained as DECIMAL(28,2)
    * so version schemas cannot drift through Spark's sum-precision
    * widening, and float sums stay engine-portable (the oracle-parity
    * rule). Returns (fromCommit, toCommit); equal means no-op. */
  def syncAggMirror(spark: SparkSession, dir: String, aggDir: String,
      keys: Seq[String], sumCols: Seq[String],
      minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
      keepLast: Int = 1, buckets: Int = 16,
      repairSeam: DataFrame => Unit = _ => ()): (Long, Long) = {
    (keys ++ sumCols ++ minCols ++ maxCols).foreach(requireColName)
    require(keys.nonEmpty, "at least one group key")
    val SyncWindow(st, last, live, nB, delta) =
      openSync(spark, dir, aggDir, ViewDef("agg"), keepLast, buckets) match {
        case Left(noop) => return noop
        case Right(w) => w
      }
    val dec = "decimal(28,2)"
    val extremaCols = minCols.map(c => s"min_$c") ++
      maxCols.map(c => s"max_$c")
    def aggOf(df: DataFrame): DataFrame = {
      val exprs = count(lit(1)).as("n") +:
        (sumCols.map(c => sum(col(c).cast(dec)).cast(dec).as(s"sum_$c")) ++
          minCols.map(c => min(col(c)).as(s"min_$c")) ++
          maxCols.map(c => max(col(c)).as(s"max_$c")))
      df.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
    }
    // every sync below pins its reads at `live` (the snapshot the
    // pointer will record): a commit landing mid-sync must not leak
    // post-`live` rows into the baseline or the min/max repair —
    // _sync.json says commit=live, so the contents must BE live's
    // the AGG view always FOLDS its dirty buckets (a delta group
    // mutates its standing row — count/sum fold, min/max repair — so
    // there is no insert-only append segment to take); untouched
    // buckets carry forward, same as the row families
    var dirtyB: Set[Int] = (0 until nB).toSet
    def commitAgg(df: DataFrame): Unit =
      commitViewVersion(spark, aggDir, st, live, ViewDef("agg"), nB, df,
        keys, dirtyB, Set.empty, keepLast)
    delta match {
      case None => commitAgg(aggOf(tableAt(spark, dir, live)))
      case Some(d) =>
        val sign = when(col("_change_type") === "insert", 1L)
          .otherwise(-1L)
        val isIns = col("_change_type") === "insert"
        val dExprs = sum(sign).as("n") +:
          (sumCols.map(c =>
            sum(sign * col(c).cast(dec)).cast(dec).as(s"sum_$c")) ++
            minCols.flatMap(c => Seq(
              min(when(isIns, col(c))).as(s"ins_min_$c"),
              min(when(!isIns, col(c))).as(s"del_min_$c"))) ++
            maxCols.flatMap(c => Seq(
              max(when(isIns, col(c))).as(s"ins_max_$c"),
              max(when(!isIns, col(c))).as(s"del_max_$c"))))
        // agg-sized, consumed by the dirty-bucket probe AND the merge:
        // pin it so the delta (whose delete-preimage side is a join)
        // executes exactly once
        val dAgg = d.groupBy(keys.map(col): _*)
          .agg(dExprs.head, dExprs.tail: _*).persist()
        try {
          dirtyB = dirtyBucketsOf(
            Seq((dAgg.select(keys.map(col): _*), keys)), nB)
          val cur = readViewBuckets(spark, aggDir, st.get, dirtyB)
          extremaCols.foreach(c => require(cur.columns.contains(c),
            s"stored aggregate at $aggDir has no '$c' — the view was " +
              "synced with different min/max columns; re-baseline " +
              "(delete the mirror) or pass the original column set"))
          // null-safe key match: a NULL group is a real group
          val cond = keys.map(k => cur(k) <=> dAgg(k)).reduce(_ && _)
          val joined = cur.join(dAgg, cond, "full_outer")
          val outKeys = keys.map(k => coalesce(cur(k), dAgg(k)).as(k))
          val outCore =
            (coalesce(cur("n"), lit(0L)) + coalesce(dAgg("n"), lit(0L)))
              .as("n") +:
              sumCols.map(c =>
                (coalesce(cur(s"sum_$c"), lit(0).cast(dec)) +
                  coalesce(dAgg(s"sum_$c"), lit(0).cast(dec)))
                  .cast(dec).as(s"sum_$c"))
          if (minCols.isEmpty && maxCols.isEmpty) {
            // the sum/count-only plan, unchanged (and digest-stable)
            commitAgg(joined.select((outKeys ++ outCore): _*)
              .where(col("n") > 0))
          } else {
            // a group is DIRTY iff a window delete reached its stored
            // extremum (or the group is new and window deletes touched
            // it); clean groups fold inserts with null-skipping
            // least/greatest
            val dirty = (minCols.map(c => dAgg(s"del_min_$c").isNotNull &&
              (cur(s"min_$c").isNull ||
                dAgg(s"del_min_$c") <= cur(s"min_$c"))) ++
              maxCols.map(c => dAgg(s"del_max_$c").isNotNull &&
                (cur(s"max_$c").isNull ||
                  dAgg(s"del_max_$c") >= cur(s"max_$c"))))
              .reduce(_ || _)
            val folded = minCols.map(c =>
              least(cur(s"min_$c"), dAgg(s"ins_min_$c")).as(s"min_$c")) ++
              maxCols.map(c =>
                greatest(cur(s"max_$c"), dAgg(s"ins_max_$c")).as(s"max_$c"))
            val merged = joined.select((outKeys ++ outCore ++ folded :+
              coalesce(dirty, lit(false)).as("__repair")): _*)
              .where(col("n") > 0)
              .cache()
            try {
              // PRUNED repair: the dirty keys are bounded by the window's
              // delta groups, so when the view groups by one
              // zone/bloom-indexed column they become an IN-list the
              // skipping index can prune on — the rescan then READS only
              // the files that can hold a dirty group. The semi-join
              // spelling is exact too, but its probe side scans every
              // live file to emit a handful of rows (measured at 30×:
              // 317-row repair output, table-sized read). NULL dirty
              // keys or an oversized list fall back to the semi-join.
              // Both rescans are PINNED at the `live` snapshot (ADVICE
              // r16): a commit landing mid-sync must not leak its rows
              // into the repaired extrema while _sync.json records
              // commit=live.
              val snap = commitAt(spark, dir, live)
              val mm = meta(spark, dir)
              val indexedSingle = keys.size == 1 &&
                (mm.zoneCols.contains(keys.head) ||
                  mm.bloomCols.contains(keys.head))
              val dirtyProbe: Option[Array[Any]] =
                if (!indexedSingle) None
                else Some(merged.where(col("__repair"))
                  .select(col(keys.head)).limit(RepairPruneCap + 1)
                  .collect().map(_.get(0)))
              // EAGER dirty check on the agg-sized merge: an insert-only
              // window must not even plan a table scan
              val anyDirty = dirtyProbe.map(_.nonEmpty).getOrElse(
                merged.where(col("__repair")).limit(1).count() > 0)
              val next =
                if (!anyDirty) merged.drop("__repair")
                else {
                  val rescan = dirtyProbe match {
                    case Some(vals) if vals.length <= RepairPruneCap &&
                        !vals.contains(null) =>
                      val eq = Seq(ColumnEquals(keys.head, vals.toSeq))
                      val pred = SkippingIndex.predicateOf(Nil, eq, Nil)
                      minusDeletes(spark, dir, pruned(spark, dir,
                        snap.manifest, equalities = eq), snap.delLive).where(pred)
                    case _ =>
                      val rKeys = merged.where(col("__repair"))
                        .select(keys.map(col): _*)
                      val base = tableAt(spark, dir, live)
                      base.join(broadcast(rKeys),
                        keys.map(k => base(k) <=> rKeys(k)).reduce(_ && _),
                        "left_semi")
                  }
                  repairSeam(rescan)
                  val rExprs =
                    minCols.map(c => min(col(c)).as(s"min_$c")) ++
                      maxCols.map(c => max(col(c)).as(s"max_$c"))
                  val rAgg = rescan.groupBy(keys.map(col): _*)
                    .agg(rExprs.head, rExprs.tail: _*)
                  val rCond = keys.map(k => merged(k) <=> rAgg(k))
                    .reduce(_ && _)
                  val patched = merged.join(rAgg, rCond, "left_outer")
                  patched.select((keys.map(k => merged(k).as(k)) ++
                    (merged("n").as("n") +:
                      sumCols.map(c => merged(s"sum_$c").as(s"sum_$c"))) ++
                    minCols.map(c => when(merged("__repair"),
                      rAgg(s"min_$c")).otherwise(merged(s"min_$c"))
                      .as(s"min_$c")) ++
                    maxCols.map(c => when(merged("__repair"),
                      rAgg(s"max_$c")).otherwise(merged(s"max_$c"))
                      .as(s"max_$c"))): _*)
                }
              commitAgg(next)
            } finally { merged.unpersist(); () }
          }
        } finally { dAgg.unpersist(); () }
    }
    (last, live)
  }

  /** The aggregate mirror's current contents (whatever
    * [[syncAggMirror]] last committed). */
  def aggMirrorRead(spark: SparkSession, aggDir: String): DataFrame =
    mirrorRead(spark, aggDir) // same pointer/version layout

  /** The mirror's current contents (whatever [[syncMirror]] /
    * [[syncMirrorWhere]] / [[syncJoinMirror]] / [[syncAggMirror]] last
    * committed): the pointer's bucket map resolved once — snapshot
    * isolation, version dirs are immutable — through the pinned view
    * schema. A pre-bucketed (legacy) pointer reads its flat version
    * dir unchanged. */
  def mirrorRead(spark: SparkSession, mirrorDir: String): DataFrame = {
    val st = readViewState(spark, s"$mirrorDir/_sync.json").getOrElse(
      throw new IllegalArgumentException(
        s"mirror at $mirrorDir has never been synced"))
    require(st.commit > 0, s"mirror at $mirrorDir has never been synced")
    if (st.nBuckets == 0) spark.read.parquet(s"$mirrorDir/v${st.commit}")
    else readViewBuckets(spark, mirrorDir, st, st.buckets.keySet)
  }

  /** The SNAPSHOT LOG as a queryable frame — one row per RETAINED
    * commit: what it did, the live-batch and live-delete-label counts
    * it left, and the data rows it wrote (recorded at commit time —
    * the Iceberg snapshot-summary design, reference-administered via
    * its catalog's snapshot endpoints). ZERO data scans: the frame is
    * built from the commit log alone, so the table-history audit costs
    * O(retained commits) metadata reads at any data size. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    commitLog.list(spark, dir).map { i =>
      val c = commitAt(spark, dir, i)
      (i, c.kind, c.label, c.manifest.live.size.toLong,
        c.delLive.size.toLong, c.rows)
    }.toDF("commit_id", "kind", "label", "n_live", "n_del_live",
      "rows_added")
  }

  /** M2 for the snapshot log: keep the newest `keepLast` commit
    * snapshots; directories only dropped snapshots referenced become
    * [[vacuum]]'s to sweep. Returns commits expired. */
  def expireCommits(spark: SparkSession, dir: String, keepLast: Int): Int =
    commitLog.expire(spark, dir, keepLast)

  private[operators] case class Meta(zoneCols: Seq[String],
      bloomCols: Seq[String], delKeys: Seq[String],
      bloomBits: Int = 1 << 17)

  private[operators] def meta(spark: SparkSession, dir: String): Meta = {
    val n = StoreIO.parseJson(readString(spark, metaPath(dir)))
    Meta(StoreIO.jArr(n, "zoneCols").getOrElse(Nil),
      StoreIO.jArr(n, "bloomCols").getOrElse(Nil),
      StoreIO.jArr(n, "delKeys").getOrElse(Nil),
      // pre-knob tables carry no field: the old fixed default
      StoreIO.jLong(n, "bloomBits").getOrElse(1L << 17).toInt)
  }

  // ---- q168/q169: the composed table, hash-checked --------------------

  private val builtFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One table lifecycle into a fresh temp dir: create → two committed
    * appends (lineitem split by orderkey) → one committed erasure
    * batch (the F-orders CDC shape). */
  private def buildLifecycle(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-table-").toString
    create(spark, dir, zoneCols = Seq("l_partkey"),
      bloomCols = Seq("l_orderkey"), deleteKeys = Seq("l_orderkey"))
    val li = graft.sources.Tables.lineitem(spark, d)
    val mid = li.agg(max($"l_orderkey")).head().getLong(0) / 2
    append(li.where($"l_orderkey" <= mid), dir, "b1")
    append(li.where($"l_orderkey" > mid), dir, "b2")
    delete(graft.sources.Tables.orders(spark, d)
      .where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey")), dir, "erase-1")
    dir
  }

  /** The lifecycle dir q168/q170/q171/q172 read. NO maintenance ever
    * runs here: q171 (time travel) and q172 (CDC preimages) price
    * their reads on the per-batch dirs, so q169's optimize/vacuum gets
    * its OWN dir ([[q169Dir]]) — queries share nothing mutable and are
    * order/interleaving-independent under any harness. */
  private def q168Dir(spark: SparkSession, d: String): String =
    builtFor.computeIfAbsent(d, _ => buildLifecycle(spark, d))

  /** A second, identical lifecycle that q169 optimizes and vacuums —
    * isolated so the maintenance-invariance check cannot perturb the
    * snapshot/CDC reads (and vice versa). */
  private def q169Dir(spark: SparkSession, d: String): String =
    builtFor.computeIfAbsent("opt:" + d, { _ =>
      val dir = buildLifecycle(spark, d)
      optimize(spark, dir, "opt-1")
      vacuum(spark, dir)
      dir
    })

  /** q168: a zone-band rollup through [[readWhere]] on the composed
    * table — pruned scan + merge-on-read deletes in one plan. The
    * DuckDB oracle states the same band + NOT EXISTS on the raw
    * tables: the whole lifecycle (create → append → append → delete →
    * pruned read) must be semantically invisible. */
  def q168ComposedTable(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    readWhere(spark, q168Dir(spark, d),
      ranges = Seq(ColumnRange("l_partkey", Some(100L), Some(299L))))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q168Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem l
      |WHERE l.l_partkey BETWEEN 100 AND 299
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey
      |                    AND o.o_orderstatus = 'F')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q169: the SAME query after [[optimize]] folded the batches,
    * applied the deletes into the data, z-ordered the layout, and
    * rebuilt the index — hash-checked against the SAME oracle, because
    * maintenance must never change what a query returns (the M1
    * contract, now for the whole composed table). Runs on its OWN
    * lifecycle dir ([[q169Dir]]) so the maintenance never touches the
    * dir the snapshot/CDC queries read. */
  def q169OptimizedTable(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    readWhere(spark, q169Dir(spark, d),
      ranges = Seq(ColumnRange("l_partkey", Some(100L), Some(299L))))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q169Sql: String = q168Sql

  /** q170: the SAME semantics through the TRANSPARENT read — the band
    * predicate written as a plain `.where`, pruned inside the scan
    * node via the pushed filters, live-set-committed, deletes applied.
    * Same oracle as q168: three spellings of one table, one answer. */
  def q170TransparentTable(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    table(spark, q168Dir(spark, d))
      .where($"l_partkey".between(100L, 299L))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q170Sql: String = q168Sql

  /** q171: TIME TRAVEL to commit 3 — after both appends, BEFORE the
    * erasure commit — so the oracle is the same band rollup with NO
    * delete clause: the snapshot pins the delete store's live set (here
    * empty) alongside the data batches. */
  def q171TableTravel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    tableAt(spark, q168Dir(spark, d), 3L)
      .where($"l_partkey".between(100L, 299L))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q171Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 299
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q172: the CDC window (3, 4] — exactly the erasure commit — so the
    * delta is pure delete PREIMAGES: every line of an F-order, tagged.
    * The oracle restates the erased row set with EXISTS. Aggregated to
    * a per-flag count + key checksum so the hash pins the full preimage
    * row set without shipping half of lineitem through the compare.
    * The oracle CASTs key_sum to BIGINT: DuckDB's sum(BIGINT) widens
    * to HUGEINT, which pandas-style fetch paths render as float
    * ("3.0" vs "3") — identical values, drifted hash (the r13 red). */
  def q172TableChanges(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    changesBetween(spark, q168Dir(spark, d), from = 3L, to = 4L)
      .groupBy($"_change_type", $"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_orderkey").as("key_sum"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"_change_type", $"l_returnflag")
  }

  val q172Sql: String =
    """SELECT 'delete' AS _change_type, l_returnflag, count(*) AS n,
      |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem l
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_orderkey = l.l_orderkey
      |                AND o.o_orderstatus = 'F')
      |GROUP BY 2 ORDER BY 1, 2""".stripMargin

  /** q175: the SNAPSHOT LOG of the composed lifecycle — commit kinds,
    * live-batch counts, and per-commit rows written, served entirely
    * from commit metadata (zero data scans; the rows were recorded at
    * commit time from the written batch's own footers). The oracle
    * restates each commit's row count from the raw tables: a history
    * that scanned, re-counted wrong, or lost a commit all hash
    * differently. */
  def q175TableHistory(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    history(spark, q168Dir(spark, d))
      .select($"commit_id", $"kind", $"n_live", $"rows_added")
      .orderBy($"commit_id")
  }

  val q175Sql: String =
    """WITH mid AS (SELECT CAST(max(l_orderkey) AS BIGINT) // 2 AS m
      |             FROM lineitem)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS commit_id, 'create' AS kind,
      |         CAST(0 AS BIGINT) AS n_live, CAST(0 AS BIGINT) AS rows_added
      |  UNION ALL
      |  SELECT 2, 'append', 1,
      |         (SELECT count(*) FROM lineitem, mid WHERE l_orderkey <= m)
      |  UNION ALL
      |  SELECT 3, 'append', 2,
      |         (SELECT count(*) FROM lineitem, mid WHERE l_orderkey > m)
      |  UNION ALL
      |  SELECT 4, 'delete', 2, 0
      |) ORDER BY commit_id""".stripMargin

  /** One CDC-consumer lifecycle under a fresh temp root, built once per
    * (view, sf dir): create → b1 (commit 2) → `sync` (the baseline) →
    * b2 (commit 3) + the F-order erasure (commit 4) → `sync` again,
    * whose window (2, 4] carries both inserts and delete preimages —
    * the steady-state delta path, never the re-baseline. `sync` gets
    * the root: the table is `root/table`, the view `root/view`, and
    * `setup` prepares anything else the sync reads (q179's dim).
    * Returns the view dir, so q173/q176–q179 hash-check that the
    * consumer-side replay converged to table state. */
  private def viewLifecycle(spark: SparkSession, d: String, view: String,
      setup: String => Unit = _ => ())(sync: String => Unit): String =
    builtFor.computeIfAbsent(s"$view:$d", { _ =>
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-$view-").toString
      val dir = s"$root/table"
      create(spark, dir, zoneCols = Seq("l_partkey"),
        bloomCols = Nil, deleteKeys = Seq("l_orderkey"))
      setup(root)
      val li = graft.sources.Tables.lineitem(spark, d)
      val mid = li.agg(max($"l_orderkey")).head().getLong(0) / 2
      append(li.where($"l_orderkey" <= mid), dir, "b1")
      sync(root)
      append(li.where($"l_orderkey" > mid), dir, "b2")
      delete(graft.sources.Tables.orders(spark, d)
        .where($"o_orderstatus" === "F")
        .select($"o_orderkey".as("l_orderkey")), dir, "erase-1")
      sync(root)
      s"$root/view"
    })

  /** q173: the DOWNSTREAM MIRROR after an incremental CDC sync — the
    * consumer contract hash-checked end to end. The window carried b2's
    * inserts AND the erasure's preimages, so the oracle is the full
    * table minus the F-order lines: a mirror that re-baselined, missed
    * the delete, or double-applied the inserts all hash differently. */
  def q173TableMirror(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    mirrorRead(spark, viewLifecycle(spark, d, "mirror")(r =>
      syncMirror(spark, s"$r/table", s"$r/view")))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_orderkey").as("key_sum"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q173Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey
      |                    AND o.o_orderstatus = 'F')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q176: the MAINTAINED AGGREGATE VIEW after an incremental CDC
    * sync — materialized-view maintenance hash-checked end to end.
    * The window carried b2's inserts AND the erasure's preimages as
    * signed deltas into the signed-merge path, so the oracle is the
    * full-table aggregate minus the F-order lines: a view that
    * re-baselined, missed the delete side, or double-applied the
    * inserts all hash differently (and a group-by re-scan of the table
    * would not be delta-sized — the merge is one agg-sized outer join). */
  def q176AggMirror(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    aggMirrorRead(spark, viewLifecycle(spark, d, "aggmirror")(r =>
      syncAggMirror(spark, s"$r/table", s"$r/view", Seq("l_returnflag"),
        Seq("l_orderkey", "l_quantity"))))
      .select($"l_returnflag", $"n",
        $"sum_l_orderkey".cast("bigint").as("key_sum"),
        $"sum_l_quantity".cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  /** Same restatement as q173: two consumer contracts, one answer. */
  val q176Sql: String = q173Sql

  /** q177: the maintained MIN/MAX VIEW after an incremental sync whose
    * window deleted extremum rows — the erasure removes group extrema
    * of `l_extendedprice`, so the delta sync takes the PER-GROUP REPAIR
    * path (deleted-extremum groups rescanned), never a full
    * re-baseline. A view that kept a deleted extremum (no repair),
    * repaired the wrong groups, or re-baselined instead of
    * delta-merging all hash differently against the same
    * full-table-minus-F-lines oracle. */
  def q177AggMinMax(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val mm = Seq("l_extendedprice")
    aggMirrorRead(spark, viewLifecycle(spark, d, "minmax")(r =>
      syncAggMirror(spark, s"$r/table", s"$r/view", Seq("l_returnflag"),
        Seq("l_quantity"), mm, mm)))
      .select($"l_returnflag", $"n",
        $"min_l_extendedprice".cast("double").as("min_price"),
        $"max_l_extendedprice".cast("double").as("max_price"),
        $"sum_l_quantity".cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q177Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
      |       CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey
      |                    AND o.o_orderstatus = 'F')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q178: the FILTERED+PROJECTED mirror (`WHERE l_partkey BETWEEN 100
    * AND 299`, four columns) after an incremental sync that
    * filtered/projected b2's inserts and anti-joined the erasure's
    * preimage keys — the selective-MV consumer hash-checked end to
    * end. The oracle is the band slice of the table minus the F-order
    * lines: a mirror that filtered the wrong side, dropped the band on
    * the delta, or missed the preimage keys all hash differently. */
  def q178FilteredMirror(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    mirrorRead(spark, viewLifecycle(spark, d, "wmirror")(r =>
      syncMirrorWhere(spark, s"$r/table", s"$r/view",
        "l_partkey BETWEEN 100 AND 299",
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"))))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_orderkey").as("key_sum"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q178Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem l
      |WHERE l.l_partkey BETWEEN 100 AND 299
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey
      |                    AND o.o_orderstatus = 'F')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q179: the DIM-ENRICHED mirror (lineitem ⋈ a slim orders dim on
    * the order key, keeping `o_orderpriority`) after an incremental
    * sync that joined b2's inserts against the broadcast dim and
    * anti-joined the erasure's preimage keys — the join-view IVM
    * consumer hash-checked end to end (the dim never moves here; the
    * dim-moved boundary is spec-pinned separately). The oracle is the
    * lineitem⋈orders join minus the F-order lines: a mirror that
    * re-baselined instead of delta-joining, enriched with the wrong
    * dim rows, or missed the preimage keys all hash differently. */
  def q179JoinMirror(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val view = viewLifecycle(spark, d, "jmirror", setup = { r =>
      create(spark, s"$r/dim", zoneCols = Seq("o_orderkey"))
      append(graft.sources.Tables.orders(spark, d)
        .select($"o_orderkey", $"o_orderpriority"), s"$r/dim", "dim1")
    })(r => syncJoinMirror(spark, s"$r/table", s"$r/dim", s"$r/view",
      "l_orderkey", "o_orderkey", Seq("o_orderpriority")))
    mirrorRead(spark, view)
      .groupBy($"l_returnflag", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"l_orderkey").as("key_sum"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag", $"o_orderpriority")
  }

  val q179Sql: String =
    """SELECT l_returnflag, o_orderpriority, count(*) AS n,
      |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_orderkey = l.l_orderkey
      |                    AND o2.o_orderstatus = 'F')
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A lifecycle whose second batch EVOLVES the schema: b1 carries the
    * four base columns, b2 adds `l_note` (l_linestatus renamed). The
    * split is `l_orderkey % 2` so the oracle can restate which rows
    * carry the evolved column without data-dependent literals. */
  private def buildEvolutionLifecycle(spark: SparkSession,
      d: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-evo-").toString
    create(spark, dir, zoneCols = Seq("l_partkey"))
    val li = graft.sources.Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_returnflag",
        $"l_linestatus")
    append(li.where($"l_orderkey" % 2 === 0).drop("l_linestatus"), dir, "b1")
    append(li.where($"l_orderkey" % 2 === 1)
      .withColumnRenamed("l_linestatus", "l_note"), dir, "b2")
    dir
  }

  private def q174Dir(spark: SparkSession, d: String): String =
    builtFor.computeIfAbsent("evo:" + d,
      _ => buildEvolutionLifecycle(spark, d))

  /** q174: SCHEMA EVOLUTION under the union read — the old batch's
    * rows surface typed NULLs for the evolved column (parquet-standard
    * mergeSchema semantics; at 100 TB the union schema comes from a
    * catalog — SCALE.md prices the per-read footer-merge fallback).
    * `count(l_note)` counts only rows from the evolved batch, so a
    * read that dropped the old batch, defaulted the gap to a value, or
    * mis-merged the schema all hash differently. */
  def q174TableEvolution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    read(spark, q174Dir(spark, d))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        count($"l_note").as("n_note"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }

  val q174Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       count(CASE WHEN l_orderkey % 2 = 1 THEN l_linestatus END) AS n_note,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Same teardown contract as the sibling stores (each map value is
    * its own temp dir now that q169 is isolated; the mirror lifecycle
    * keeps table + mirror under one root). */
  def clearSessionState(): Unit = {
    StoreIO.deleteLocalDirs(builtFor.values)
    builtFor.clear()
  }
}
