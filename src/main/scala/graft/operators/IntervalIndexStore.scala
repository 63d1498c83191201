package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A STANDING banded-interval index: the serving-side complement of the
  * range-join family.
  *
  * [[IntervalJoin.pointInInterval]] (and the planner rewrite) explode
  * the interval side onto covering time bands per QUERY — the right
  * trade when intervals flow through once. When the same validity /
  * attribution-window table is probed by many point batches (the
  * lakehouse-admin serving pattern: a dimension of window rows, a
  * stream of fact lookups — reference service_refresh.go's standing
  * join tables), the explode should be paid ONCE and persisted:
  *
  *  - the store holds the intervals ALREADY exploded, as parquet
  *    PARTITIONED BY the band column (plus an ingest-batch level for
  *    idempotent appends — same layout discipline as
  *    [[VectorIndexStore]]'s cent_id lists);
  *  - a lookup computes each point's single band and equi-joins on
  *    (key, band): because `band` is a PARTITION column, Spark's
  *    dynamic partition pruning reduces the store scan to exactly the
  *    time slices present in the point batch — a day of points against
  *    a year of intervals reads ~`window/band + 1` partitions, not the
  *    year (IntervalIndexStoreSpec pins the `dynamicpruning` filter in
  *    the scan);
  *  - appends are REPLAY-IDEMPOTENT and MANIFEST-COMMITTED: each batch
  *    overwrites its own `ingest_batch=<label>` directory, and the
  *    label only becomes visible when it lands in `_live.json` — a
  *    single-file swap, the same metadata-pointer-is-the-commit design
  *    Iceberg uses (reference maintenance.py drives exactly that
  *    machinery). A crash between the parquet write and the manifest
  *    commit leaves an orphan directory lookups never see; replaying
  *    the append overwrites it and commits. At-least-once ingest
  *    therefore converges with no read-side dedup.
  *
  * Maintenance mirrors the engine's M1–M3 family, applied to the store:
  *  - [[compact]] (M1 rewrite_data_files): merge all live labels into
  *    one — continuous ingest otherwise accretes one directory tree per
  *    batch, and every lookup lists them all; the swap to the merged
  *    label is one manifest write.
  *  - [[expire]] (M2 retention): a LOGICAL band cutoff recorded in the
  *    manifest; lookups prune `band >= minBand` for free (partition
  *    column), so old time slices stop matching instantly without
  *    touching data.
  *  - [[vacuum]] (M3 remove_orphan_files): physically deletes
  *    non-live label directories (crashed appends, compacted-away
  *    batches) and expired band partitions inside live labels.
  *
  * Band width is fixed at build time and recorded in `_meta.json`;
  * lookups read it from the store, so a caller can never probe with a
  * mismatched band. Degenerate (`start > end`) and NULL-bounded rows
  * are dropped at build — they can never match (same contract as the
  * library join).
  *
  * 100 TB: the store scales as Σ interval-length/band (≈2 rows per
  * interval at a sane band), partition count as timespan/band; lookups
  * shuffle only the point batch. A hot key splits across its bands
  * exactly like the in-flight join. Single writer assumed (the
  * reference's task queue serializes maintenance the same way); the
  * manifest swap is `ATOMIC_MOVE` locally and a single PUT on an
  * object store.
  */
object IntervalIndexStore {

  // Shared store plumbing (see the metadata-I/O note further down).
  import StoreIO.{hadoopFs, hasDataFiles, readString, requireColName,
    requireLabel, writeString}

  private def intervalsPath(dir: String) = s"$dir/intervals"
  private def metaPath(dir: String) = s"$dir/_meta.json"

  /** NULL-end rows in an `openEnded` store land here instead of
    * exploding: an open interval (SCD2 current row, `valid_to` NULL)
    * has no finite band cover — banding it is the 100 TB OOM the
    * rewrite's width proof exists to prevent. In SCD2 data there is
    * ~one open row per key, so the open partition joins by plain key
    * equality. Long.MinValue is unreachable by any real `div`. */
  private[operators] val OpenBand = Long.MinValue

  /** Build (or rebuild) the store from an interval frame. Columns
    * `key`, `start`, `end` plus payload; everything is kept.
    *
    * `openEnded`: treat NULL `end` as "still in effect" (the SCD2
    * current-row convention) — such rows go to the [[OpenBand]]
    * partition and match every point at or after their start; with the
    * default `false` they are dropped (they could never match, the
    * in-flight join's contract). `maxBandsPerInterval` caps the explode
    * per CLOSED interval — a `9999-12-31` sentinel written as a closed
    * bound would otherwise band onto ~a million rows; the write fails
    * fast with a pointed message (use openEnded, or clamp). */
  def build(intervals: DataFrame, dir: String, key: String, start: String,
      end: String, bandSeconds: Long, openEnded: Boolean = false,
      maxBandsPerInterval: Long = 4096L): Unit = {
    require(bandSeconds > 0, "bandSeconds must be positive")
    require(maxBandsPerInterval > 0, "maxBandsPerInterval must be positive")
    Seq(key, start, end).foreach(requireColName)
    val spark = intervals.sparkSession
    writeBatch(intervals, dir, key, start, end, bandSeconds, openEnded,
      maxBandsPerInterval, "base")
    // an all-empty base would make every later live read fail on schema
    // inference with a message that points nowhere near the cause —
    // reject it here, by listing (no data read), with one that does
    require(hasDataFiles(spark, s"${intervalsPath(dir)}/ingest_batch=base"),
      "no valid intervals to index: every row was NULL-bounded or start > end")
    writeString(spark, metaPath(dir),
      StoreIO.renderJson { o =>
        o.put("key", key); o.put("start", start); o.put("end", end)
        o.put("bandSeconds", bandSeconds); o.put("openEnded", openEnded)
        o.put("maxBands", maxBandsPerInterval); ()
      }, atomic = false)
    commitLog.commit(spark, dir, Manifest(1L, Seq("base"), None), "swap", "")
  }

  // ---- metadata I/O: [[StoreIO]] — Hadoop FileSystem so the store dir
  // may live on any filesystem Spark can write the parquet to (the
  // scaladoc's object-store claim has to hold for the COMMIT POINTER
  // too, not just the data); atomic single-file swap for the pointer;
  // the F8 allowlists for labels and column names.

  /** Append an interval batch under its own `ingest_batch=<label>`
    * directory. A label's data is IMMUTABLE once committed: replaying a
    * live label is a no-op (never an in-place rewrite — deleting and
    * rewriting a live directory would expose torn state to concurrent
    * lookups, exactly what the manifest exists to prevent), so
    * at-least-once delivery converges. An UNcommitted label (crash
    * between the parquet write and the manifest commit) is invisible to
    * lookups, swept by [[vacuum]], and safely overwritten by the
    * replay. A batch with no valid interval rows commits nothing. */
  def append(delta: DataFrame, dir: String, label: String): Unit = {
    val spark = delta.sparkSession
    val m = meta(spark, dir)
    requireLabel(label)
    require(label != "base", "label 'base' is reserved")
    if (manifest(spark, dir).live.contains(label)) {
      // replay of a committed label: clear a crash-leaked sidecar so
      // the superseded dir stays sweepable (see StoreIO's protocol)
      StoreIO.clearPending(spark, dir, "append", label)
      return // committed = immutable; replay no-op
    }
    // announce before writing (StoreIO's shared protocol) so a
    // concurrent [[vacuum]] never sweeps the in-flight directory
    StoreIO.writePending(spark, dir, "append", label)
    writeBatch(delta, dir, m.key, m.start, m.end, m.bandSeconds, m.openEnded,
      m.maxBands, label)
    val labelDir = s"${intervalsPath(dir)}/ingest_batch=$label"
    if (!hasDataFiles(spark, labelDir)) {
      // every row was NULL-bounded/degenerate: committing a fileless
      // label would poison the live read once it is the last one left
      val (fs, p) = hadoopFs(spark, labelDir)
      fs.delete(p, true)
      StoreIO.clearPending(spark, dir, "append", label)
      return
    }
    // the parquet write can take minutes: commit against a FRESH read of
    // the pointer, not the pre-write snapshot, so a concurrent expire/
    // compact commit is not silently reverted (single WRITER is still
    // the contract; this bounds the damage of violating it to the same
    // tiny window the pre-snapshot design had)
    val man = manifest(spark, dir)
    if (!man.live.contains(label))
      try commitLog.commit(spark, dir, man.copy(version = man.version + 1,
        live = man.live :+ label), "append", label)
      catch {
        case e: java.util.ConcurrentModificationException =>
          // the swap CAS lost to another writer: abandon (dir WITH its
          // sidecar — never an existing-but-unannounced directory) and
          // let the caller retry against the new state
          StoreIO.abandonPending(spark, dir, "append", label, labelDir)
          throw e
      }
    StoreIO.clearPending(spark, dir, "append", label) // success path only
  }

  private def writeBatch(intervals: DataFrame, dir: String, key: String,
      start: String, end: String, bandSeconds: Long, openEnded: Boolean,
      maxBands: Long, label: String): Unit = {
    val band = bandSeconds * 1000000L
    val sDiv = s"(unix_micros($start) div ${band}L)"
    val eDiv = s"(unix_micros($end) div ${band}L)"
    // the cap rides INSIDE the band computation (a dropped check column
    // would be pruned away); raise_error fails the write with a message
    // that names the fix, instead of exploding a sentinel onto ~1M rows
    val cappedEnd =
      s"""CASE WHEN $eDiv - $sDiv >= ${maxBands}L THEN CAST(raise_error(
         |CONCAT('interval wider than maxBandsPerInterval=$maxBands bands (',
         |CAST($eDiv - $sDiv + 1 AS STRING),
         |'): clamp the end, widen bandSeconds, or use openEnded=true for current-row sentinels'))
         |AS BIGINT) ELSE $eDiv END""".stripMargin
    val closed = intervals
      .where(col(key).isNotNull && col(start).isNotNull &&
        col(end).isNotNull && col(start) <= col(end))
      .withColumn("band", explode(sequence(expr(sDiv), expr(cappedEnd))))
    val banded =
      if (!openEnded) closed
      else closed.unionByName(intervals
        .where(col(key).isNotNull && col(start).isNotNull && col(end).isNull)
        .withColumn("band", lit(OpenBand)))
    banded
      .write.mode(SaveMode.Overwrite).partitionBy("band")
      .parquet(s"${intervalsPath(dir)}/ingest_batch=$label")
  }

  private[operators] case class Meta(key: String, start: String, end: String,
      bandSeconds: Long, openEnded: Boolean, maxBands: Long)

  private[operators] def meta(spark: SparkSession, dir: String): Meta = {
    val n = StoreIO.parseJson(readString(spark, metaPath(dir)))
    def s(field: String) = StoreIO.jStr(n, field).getOrElse(
      sys.error(s"IntervalIndexStore meta at $dir has no '$field'"))
    Meta(s("key"), s("start"), s("end"),
      StoreIO.jLong(n, "bandSeconds").getOrElse(
        sys.error(s"IntervalIndexStore meta at $dir has no 'bandSeconds'")),
      StoreIO.jBool(n, "openEnded").getOrElse(false),
      // a store whose meta predates the cap had none: default to
      // unlimited rather than retroactively wedging its ingest
      StoreIO.jLong(n, "maxBands").getOrElse(Long.MaxValue))
  }

  /** The commit pointer: which `ingest_batch` labels are live, plus the
    * logical retention floor. Everything not in here is an orphan. */
  private[operators] case class Manifest(version: Long, live: Seq[String],
      minBand: Option[Long])

  /** Swaps claim `_swap/s<version>.json`, swept at vacuum. `append`
    * and `compact` announce their label; `expire` carries none and
    * announces a nonce. `build` (kind `swap`, its name on disk) is the
    * first commit and announces nothing, so a crashed build's slot is
    * an orphan its replay reclaims. */
  private val commitLog = new CommitLog[Manifest](CommitLog.Swept,
    Map("swap" -> CommitLog.Never, "append" -> CommitLog.Sidecar("append"),
      "compact" -> CommitLog.Sidecar("compact"),
      "expire" -> CommitLog.Nonce),
    n => Manifest(
      StoreIO.jLong(n, "version").getOrElse(
        sys.error("IntervalIndexStore manifest has no 'version'")),
      StoreIO.jArr(n, "live").getOrElse(Nil),
      StoreIO.jLong(n, "minBand")),
    _.version,
    (o, m) => {
      o.put("version", m.version)
      StoreIO.putArr(o, "live", m.live)
      m.minBand.foreach { b => o.put("minBand", b); () }
    })

  private[operators] def manifest(spark: SparkSession, dir: String): Manifest =
    commitLog.pointer(spark, dir)

  /** The store as lookups see it: live labels only (explicit paths under
    * `basePath`, so `band`/`ingest_batch` stay partition columns) with
    * the expiry floor pruned — `band` is a partition column, so the
    * filter never reads a dropped slice. */
  private def liveStore(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(spark, dir)
    val base = intervalsPath(dir)
    val df = spark.read.option("basePath", base)
      .parquet(man.live.map(l => s"$base/ingest_batch=$l"): _*)
    // open rows never expire: "current" has no age, whatever its start
    man.minBand.fold(df)(b =>
      df.where(col("band") >= b || col("band") === OpenBand))
  }

  /** Point lookup against the standing store: one equi-join on
    * (key, band) with the exact BETWEEN as post-filter — identical
    * semantics to [[IntervalJoin.pointInInterval]] on the CURRENT store
    * contents (spec-pinned). Interval payload columns come back
    * prefixed with `intervalPrefix`. The band equality is on the
    * store's PARTITION column, so dynamic partition pruning restricts
    * the scan to the point batch's bands. */
  def lookup(spark: SparkSession, dir: String, points: DataFrame, ts: String,
      intervalPrefix: String = "i_"): DataFrame = {
    requireColName(ts) // spliced into the banding expr, like meta's columns
    val m = meta(spark, dir)
    val band = m.bandSeconds * 1000000L
    val store = liveStore(spark, dir)
    val iPayload = store.columns
      .filterNot(c => c == m.key || c == "band" || c == "ingest_batch").toSeq
    val p = points
      .where(col(m.key).isNotNull && col(ts).isNotNull)
      .withColumn("__pband", expr(s"unix_micros($ts) div ${band}L"))
    def out(joined: DataFrame, pay: String) =
      joined.select(points.columns.map(col).toSeq ++
        iPayload.map(c => col(s"$pay.$c").as(s"$intervalPrefix$c")): _*)
    val i = store.select(col(m.key).as("__ikey"), col("band").as("__iband"),
      struct(iPayload.map(col): _*).as("__ipay"))
    val closed = out(
      p.join(i, p(m.key) === i("__ikey") && p("__pband") === i("__iband"))
        .where(col(ts).between(col(s"__ipay.${m.start}"), col(s"__ipay.${m.end}"))),
      "__ipay")
    if (!m.openEnded) closed
    else {
      // current rows: a plain key equi-join against the statically
      // pruned OpenBand partition (≈1 open row per key in SCD2 data)
      val o = store.where(col("band") === OpenBand)
        .select(col(m.key).as("__okey"), struct(iPayload.map(col): _*).as("__opay"))
      val open = out(
        p.join(o, p(m.key) === o("__okey"))
          .where(col(ts) >= col(s"__opay.${m.start}")),
        "__opay")
      closed.unionByName(open)
    }
  }

  /** Store audit: banded row count, interval count, batches, partitions
    * — the cheap staleness/shape check an operator dashboard reads.
    * Reads the LIVE view (uncommitted/expired data is invisible here
    * too, so the audit agrees with what lookups will join). */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    liveStore(spark, dir).agg(
      count(lit(1)).as("banded_rows"),
      countDistinct(col("ingest_batch")).as("ingest_batches"),
      countDistinct(col("band")).as("bands"),
      count(when(col("band") === OpenBand, 1)).as("open_rows"))
  }

  /** Continuous ingest: append each micro-batch of intervals under the
    * deterministic label `<labelPrefix>-<batchId>`. Exactly-once falls
    * out of the append contract — a replayed epoch (crash after the
    * append but before the offset commit: the `afterAppend` seam in the
    * spec) carries the same batchId, so its already-committed label
    * makes the replay a no-op; a crash INSIDE the append leaves an
    * uncommitted orphan the replay overwrites (batch spec). The
    * `isEmpty` check is only a fast path — append itself refuses to
    * commit a label with no surviving rows. The store must be
    * [[build]]t first (band width and columns come from `_meta.json`). */
  def ingestStream(intervals: DataFrame, dir: String,
      checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow(),
      labelPrefix: String = "epoch",
      afterAppend: Long => Unit = _ => ()): StreamingQuery = {
    requireLabel(labelPrefix)
    intervals.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (delta: DataFrame, batchId: Long) =>
        if (!delta.isEmpty) append(delta, dir, s"$labelPrefix-$batchId")
        afterAppend(batchId)
      }
      .trigger(trigger)
      .start()
  }

  // ---- maintenance (the M1–M3 family, applied to the store) ----------

  /** M1 for the store: merge every live label (expiry floor applied, so
    * expired slices drop physically here) into ONE new label, then swap
    * the manifest to it. The old labels become orphans for [[vacuum]];
    * a crash before the swap leaves them live and the merged label an
    * orphan — either way the store stays consistent. Refuses to compact
    * a fully-expired (empty) store: rebuild instead. */
  def compact(spark: SparkSession, dir: String, intoLabel: String): Unit = {
    val man = manifest(spark, dir)
    requireLabel(intoLabel)
    require(!man.live.contains(intoLabel),
      s"compact label '$intoLabel' must be new (live: ${man.live.mkString(",")})")
    val merged = liveStore(spark, dir).drop("ingest_batch")
    require(!merged.isEmpty,
      "store is empty after the expiry floor; rebuild instead of compacting")
    StoreIO.writePending(spark, dir, "compact", intoLabel) // announce
    merged.write.mode(SaveMode.Overwrite).partitionBy("band")
      .parquet(s"${intervalsPath(dir)}/ingest_batch=$intoLabel")
    try commitLog.commit(spark, dir,
      man.copy(version = man.version + 1, live = Seq(intoLabel)),
      "compact", intoLabel)
    catch {
      case e: java.util.ConcurrentModificationException =>
        StoreIO.abandonPending(spark, dir, "compact", intoLabel,
          s"${intervalsPath(dir)}/ingest_batch=$intoLabel")
        throw e
    }
    StoreIO.clearPending(spark, dir, "compact", intoLabel)
    // a PRIOR compact's crash-leaked sidecar names a label this commit
    // just superseded (single writer: no other compact is in flight) —
    // clear it here, since the live-only manifest gives vacuum no
    // ledger to prove it stale by
    StoreIO.pendingLabels(spark, dir).getOrElse("compact", Set.empty)
      .filterNot(_ == intoLabel)
      .foreach(l => StoreIO.clearPending(spark, dir, "compact", l))
  }

  /** M2 for the store: LOGICAL retention — time slices strictly older
    * than `cutoff` stop matching immediately (lookups prune
    * `band >= floor(cutoff/band)`; partition column, so no data is
    * read, let alone rewritten). An interval straddling the cutoff
    * keeps its newer slices: points after the cutoff still match it.
    * Physical reclaim is [[vacuum]] (or the next [[compact]]). */
  def expire(spark: SparkSession, dir: String,
      cutoff: java.sql.Timestamp): Unit = {
    val m = meta(spark, dir)
    // plain / (truncating), NOT floorDiv: band assignment uses Spark's
    // `div`, which truncates toward zero — for pre-1970 cutoffs a
    // floored floor is one band too low and keeps slices that end
    // strictly before the cutoff (spec-pinned with 1969 data)
    val cutBand = (cutoff.getTime * 1000L) / (m.bandSeconds * 1000000L)
    val man = manifest(spark, dir)
    commitLog.commit(spark, dir, man.copy(version = man.version + 1,
      minBand = Some(man.minBand.fold(cutBand)(math.max(_, cutBand)))),
      "expire", "")
  }

  /** M3 for the store: delete (1) label directories not in the manifest
    * — crashed appends and compacted-away batches — and (2) band
    * partitions under the expiry floor inside live labels. Hadoop
    * FileSystem, not java.io: the same client works on an object store
    * (the [[Maintenance]] orphan sweep's discipline). Returns
    * (orphan label dirs deleted, expired band dirs deleted). */
  def vacuum(spark: SparkSession, dir: String): (Int, Int) =
    commitLog.vacuum(spark, dir, Seq(intervalsPath(dir))) { v =>
      val man = v.pointer
      val keep = man.live.toSet ++ v.announced("append", "compact")
      val labelDirs = v.listed.head
        .filter(_.getName.startsWith("ingest_batch="))
      val (live, orphan) = labelDirs.partition(p =>
        keep.contains(p.getName.stripPrefix("ingest_batch=")))
      // the expired-band sweep runs only over COMMITTED labels: an
      // announced-but-uncommitted append is protected wholesale (its
      // writer is still laying band dirs down)
      val committed = live.filter(p =>
        man.live.contains(p.getName.stripPrefix("ingest_batch=")))
      val (fs, _) = hadoopFs(spark, intervalsPath(dir))
      val none = Seq.empty[org.apache.hadoop.fs.Path]
      val (expired, kept) = man.minBand.fold((none, none)) { floor =>
        committed.flatMap(l => fs.listStatus(l).filter(_.isDirectory)
          .map(_.getPath).filter(_.getName.startsWith("band=")))
          .partition { p =>
            val b = p.getName.stripPrefix("band=").toLong
            b != OpenBand && b < floor // open rows never expire
          }
      }
      // the same guard as compact, and BEFORE any deletion, so a refused
      // vacuum is side-effect-free: deleting EVERY band dir of every live
      // label would leave a store whose next read dies on schema
      // inference — a fully-expired store must be rebuilt, not vacuumed
      require(man.minBand.isEmpty || kept.nonEmpty,
        "expiry floor covers the entire store; rebuild instead of vacuuming")
      orphan.foreach(fs.delete(_, true))
      expired.foreach(fs.delete(_, true))
      // crash-leaked sidecars of LIVE labels are stale (the commit they
      // announced exists) — cleared so the dirs stay sweepable once a
      // later compact supersedes them; superseded-label sidecars are
      // cleared by compact itself (this manifest has no applied ledger)
      ((orphan.length, expired.length), (_, l) => man.live.contains(l))
    }

  // ---- q156: standing-store attribution ------------------------------

  private val builtFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q156: q63's attribution aggregate, served from the STANDING
    * interval index instead of an in-flight explode — the store is
    * built once per session per dataset (the serving pattern), then the
    * purchase batch probes it. Result is hash-checked against the SAME
    * static DuckDB oracle as q63: the store path must be semantically
    * invisible. */
  def q156StandingAttribution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = builtFor.computeIfAbsent(d, { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivx-").toString
      val views = graft.sources.Tables.events(spark, d)
        .where($"event_type" === "view")
        .select($"user_id", $"event_id".as("view_id"), $"ts".as("w_start"),
          ($"ts" + expr("INTERVAL 3 DAY")).as("w_end"))
      build(views, dir, key = "user_id", start = "w_start", end = "w_end",
        bandSeconds = 3L * 86400L)
      dir
    })
    val purchases = graft.sources.Tables.events(spark, d)
      .where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    lookup(spark, dir, purchases, ts = "ts")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"i_view_id").as("n_views"),
        countDistinct($"event_id").as("n_purchases"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("attributed_value"))
      .orderBy($"user_id")
  }

  /** q157: SCD2 state-at-event-time, served from an OPEN-ENDED store —
    * the single most common validity shape: q90's per-user state
    * history (successive signup/purchase events, `valid_to` NULL on the
    * current row) indexed once, then every view event asks "which state
    * row was in effect when this view happened". Closed history rows
    * ride the banded path; current rows sit in the [[OpenBand]]
    * partition and join by plain key equality — the sentinel shape that
    * must never band (reference service_refresh.go's validity-window
    * queries; q90Scd2 is the history builder, Relational4.scala:376).
    * Hash-checked against a DuckDB oracle that states the same
    * predicate directly on the raw tables. */
  def q157Scd2LookupStore(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val dir = builtFor.computeIfAbsent("scd2:" + d, { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivx-scd2-").toString
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      val hist = graft.sources.Tables.events(spark, d)
        .where($"event_type" === "signup" || $"event_type" === "purchase")
        .select($"user_id", $"event_id", $"event_type", $"ts")
        .withColumn("valid_from", $"ts")
        .withColumn("valid_to", lead($"ts", 1).over(w))
        .select($"user_id", $"event_type", $"valid_from", $"valid_to")
      build(hist, dir, key = "user_id", start = "valid_from",
        end = "valid_to", bandSeconds = 7L * 86400L, openEnded = true)
      dir
    })
    val views = graft.sources.Tables.events(spark, d)
      .where($"event_type" === "view")
      .select($"event_id", $"user_id", $"ts")
    lookup(spark, dir, views, ts = "ts")
      .groupBy($"i_event_type".as("state_type"))
      .agg(count(lit(1)).as("n_views"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"state_type")
  }

  /** q157's DuckDB oracle: the same inclusive point-in-validity
    * predicate, NULL `valid_to` = still current, stated directly. */
  val q157Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events
      |), hist AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |         lead(ts, 1) OVER (PARTITION BY user_id
      |                           ORDER BY ts ASC, event_id ASC) AS valid_to
      |  FROM e WHERE event_type IN ('signup', 'purchase')
      |), v AS (
      |  SELECT event_id, user_id, ts FROM e WHERE event_type = 'view'
      |)
      |SELECT h.event_type AS state_type, count(*) AS n_views,
      |       count(DISTINCT v.user_id) AS n_users
      |FROM v JOIN hist h ON v.user_id = h.user_id
      |  AND v.ts >= h.valid_from
      |  AND (h.valid_to IS NULL OR v.ts <= h.valid_to)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Session-teardown/data-regeneration reset (mirrors the other
    * derived-store caches' contract) — and unlike the in-memory caches
    * this one owns on-disk temp stores, so it deletes them too
    * ([[StoreIO.deleteLocalDirs]]: java.nio, safe after spark.stop()). */
  def clearSessionState(): Unit = {
    StoreIO.deleteLocalDirs(builtFor.values)
    builtFor.clear()
  }
}
