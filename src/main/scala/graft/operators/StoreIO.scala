package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared metadata plumbing for the four standing stores
  * ([[GraftTable]], [[ScdStore]], [[DeleteStore]],
  * [[IntervalIndexStore]], which commit through [[CommitLog]]) and the
  * [[SkippingIndex]]: Hadoop FileSystem I/O so store dirs may live on
  * any filesystem Spark can write parquet to, an atomic single-file
  * swap for commit pointers (local: temp + ATOMIC_MOVE; object store:
  * one PUT — atomic there), the exclusive create a commit slot is
  * claimed by, the pending-sidecar announce protocol, and the
  * label/column-name allowlists (F8 discipline — these strings become
  * directory names, JSON values, and spliced SQL).
  *
  * One copy on purpose: the portability and atomicity fixes these
  * lines have absorbed must not have to be re-applied per store. */
private[graft] object StoreIO {

  // The CALLER's session supplies the Hadoop configuration — resolving
  // SparkSession.active here would silently use whichever session is
  // bound to the thread (wrong credentials in a multi-session setup)
  // and crash entirely when none is.
  def hadoopFs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def readString(spark: SparkSession, path: String): String = {
    val (fs, p) = hadoopFs(spark, path)
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  def writeString(spark: SparkSession, path: String, body: String,
      atomic: Boolean): Unit = {
    val (fs, p) = hadoopFs(spark, path)
    if (atomic && fs.getScheme == "file") {
      val dst = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(dst.getFileName.toString + ".tmp")
      java.nio.file.Files.writeString(tmp, body)
      java.nio.file.Files.move(tmp, dst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(p, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** EXCLUSIVE create: returns false (writing nothing) if `path`
    * already exists — the filesystem CAS a commit-slot mutex needs.
    * Local FS: write a private tmp, then PUBLISH via hard link —
    * link(2) is atomic, fails with EEXIST on an existing target, and
    * the published file is complete by construction (a plain rename
    * would silently replace on POSIX; a CREATE_NEW stream could
    * expose partial content to a concurrent reader). Hadoop FS:
    * write a private tmp, then PUBLISH via rename — HDFS rename
    * refuses (returns false) when the destination exists, so the swap
    * is both exclusive AND content-atomic: a visible slot file is
    * complete by construction, never a half-written body a racing
    * claimant could misread as a dead orphan. On object stores
    * without atomic rename this degrades to best-effort — the same
    * caveat every manifest-pointer table format documents.
    *
    * Tmp names carry pid + a UUID, never just a thread id: thread ids
    * are unique per JVM only, and two PROCESSES racing the same slot
    * (both drivers' main threads are commonly id 1) would share one
    * tmp path — writer B's write could replace writer A's body
    * between A's write and A's publish, so A would publish B's (or a
    * torn) snapshot under the slot and still report success. */
  def writeStringExclusive(spark: SparkSession, path: String,
      body: String): Boolean = {
    val (fs, p) = hadoopFs(spark, path)
    val tmpName = p.getName +
      s".tmp-${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID()}"
    if (fs.getScheme == "file") {
      val dst = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(tmpName)
      java.nio.file.Files.writeString(tmp, body)
      try { java.nio.file.Files.createLink(dst, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally { java.nio.file.Files.deleteIfExists(tmp); () }
    } else {
      if (fs.exists(p)) return false
      val tmp = new org.apache.hadoop.fs.Path(p.getParent, tmpName)
      val out = fs.create(tmp, false)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val won =
        try fs.rename(tmp, p)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      if (!won) { fs.delete(tmp, false); () }
      won
    }
  }

  def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = hadoopFs(spark, path)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Row count of ONE written dir from its parquet footers (driver-side,
    * dir-bounded, no Spark job) — the writers' emptiness test (Spark
    * writes one empty file for an empty frame, so a file listing cannot
    * see emptiness) and [[GraftTable]]'s per-commit row stat, so
    * `history` never scans data. Footer reads here are fine: the writer
    * just wrote these files; it is READ planning that must stay
    * footer-free. A missing dir counts 0. */
  def dirRowCount(spark: SparkSession, path: String): Long = {
    val (fs, p) = hadoopFs(spark, path)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") ||
          f.getPath.getName.startsWith("part-"))
        n += footerRowCount(spark, f)
    }
    n
  }

  /** Row count of one parquet file from its footer (driver-side). */
  def footerRowCount(spark: SparkSession, f: org.apache.hadoop.fs.FileStatus): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f,
        spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  // ---- manifest/snapshot JSON (one parser, one renderer) --------------
  // Jackson (already on Spark's classpath — zero new deps) replaces the
  // regex field-plucking this layer used through round 15. Two of that
  // round's review fixes (trailing-newline tolerance, case-collision
  // rejection) were patches to string discipline a real parser never
  // needs; with readTree there is no field-ordering contract (the old
  // "schema must be serialized LAST" rule is gone) and no
  // escape-sensitivity. Every store's manifest, commit snapshot, meta,
  // and sync pointer reads/writes through THESE helpers — one copy, the
  // same rule as the rest of this object. ObjectMapper is thread-safe
  // for readTree/writeValueAsString after construction.

  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import com.fasterxml.jackson.databind.node.ObjectNode

  private val jsonMapper = new ObjectMapper()

  /** Parse one JSON document (trailing whitespace/newlines from a
    * hand-edit or a jq round-trip are fine — readTree consumes the
    * first value). Throws on malformed input: a manifest that does not
    * parse is a defect to surface, never to limp past. */
  def parseJson(raw: String): JsonNode = jsonMapper.readTree(raw)

  /** Render one JSON object (insertion-ordered, correctly escaped). */
  def renderJson(build: ObjectNode => Unit): String = {
    val o = jsonMapper.createObjectNode(); build(o)
    jsonMapper.writeValueAsString(o)
  }

  def putArr(o: ObjectNode, field: String, vals: Seq[String]): Unit = {
    val a = o.putArray(field); vals.foreach(a.add); ()
  }

  /** Embed a pre-serialized JSON document (e.g. `StructType.json`) as
    * a structured field — parsed, so it nests correctly and re-reads
    * through [[jObjJson]]. */
  def putRawObj(o: ObjectNode, field: String, json: String): Unit = {
    o.set[JsonNode](field, jsonMapper.readTree(json)); ()
  }

  def jStr(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filter(_.isTextual).map(_.asText)
  def jLong(n: JsonNode, field: String): Option[Long] =
    Option(n.get(field)).filter(_.isNumber).map(_.asLong)
  def jBool(n: JsonNode, field: String): Option[Boolean] =
    Option(n.get(field)).filter(_.isBoolean).map(_.asBoolean)
  def jArr(n: JsonNode, field: String): Option[Seq[String]] =
    Option(n.get(field)).filter(_.isArray).map(a =>
      (0 until a.size).map(i => a.get(i).asText).toSeq)
  /** A nested object/array field re-serialized as its own document. */
  def jObjJson(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.toString)

  /** Parse a `"field":["a","b"]` string array out of store metadata
    * JSON (absent field → Nil). One copy for every store's manifest
    * and meta reader — the same rule as the rest of this object. */
  def jsonArr(raw: String, field: String): Seq[String] =
    jArr(parseJson(raw), field).getOrElse(Nil)

  // Labels become directory names AND manifest JSON string values.
  val LabelRx = "[A-Za-z0-9][A-Za-z0-9._-]*".r
  def requireLabel(label: String): Unit =
    require(LabelRx.matches(label),
      s"label '$label' must match ${LabelRx.regex} (it names a directory and a JSON value)")

  // Column names are interpolated into `_meta.json` (and, in the
  // interval store, into a banding `expr(...)`).
  val ColRx = "[A-Za-z_][A-Za-z0-9_]*".r
  def requireColName(c: String): Unit =
    require(ColRx.matches(c),
      s"column name '$c' must match ${ColRx.regex} (it is stored in _meta.json and spliced into SQL)")

  // ---- PENDING announce protocol (shared by every store that vacuums) --
  // A writer ANNOUNCES its label with a sidecar written before its
  // first data byte and un-announces only after its commit (or
  // epilogue); vacuum lists candidate directories FIRST and resolves
  // liveness AFTER, keeping announced labels — so any directory a
  // listing saw is either announced, committed (the post-listing
  // manifest/snapshot read names it), or a true orphan.
  //
  // The read order that makes this safe (list, then sidecars, then
  // the pointer) is [[CommitLog.vacuum]]'s. Replay paths must clear
  // the label's sidecar even on the committed-already early return, or
  // a crash between commit and un-announce shields the directory from
  // vacuum forever once it is superseded. A sidecar whose writer
  // crashed keeps its orphan alive until the label is replayed (which
  // re-announces, commits, and clears) — bounded garbage, never a
  // swept-out-from-under writer.

  def writePending(spark: SparkSession, dir: String, kind: String,
      label: String, body: String = ""): Unit =
    writeString(spark, pendingPath(dir, kind, label),
      if (body.nonEmpty) body
      else renderJson { o => o.put("label", label); () }, atomic = true)

  def pendingPath(dir: String, kind: String, label: String): String =
    s"$dir/_pending_${kind}_$label.json"

  def pendingExists(spark: SparkSession, dir: String, kind: String,
      label: String): Boolean = {
    val (fs, p) = hadoopFs(spark, pendingPath(dir, kind, label))
    fs.exists(p)
  }

  def clearPending(spark: SparkSession, dir: String, kind: String,
      label: String): Unit = {
    val (fs, p) = hadoopFs(spark, pendingPath(dir, kind, label))
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** ABANDON an announced label that will never commit (an empty
    * write, an aborted rewrite, a detected concurrent-commit race):
    * delete its data directory FIRST, then the sidecar. The reverse
    * order would leave an existing-but-unannounced directory — a
    * violation of "announce before the first data byte": a retry of
    * the same label re-announces and Overwrites the directory, but a
    * vacuum that listed candidates and read sidecars before the
    * re-announce could sweep it mid-rewrite, leaving the retry's
    * commit pointing at deleted data. Crash paths never call this —
    * there the sidecar must KEEP standing to shield the orphan until
    * the label is replayed. */
  def abandonPending(spark: SparkSession, dir: String, kind: String,
      label: String, dataDir: String): Unit = {
    val (fs, p) = hadoopFs(spark, dataDir)
    if (fs.exists(p)) { fs.delete(p, true); () }
    clearPending(spark, dir, kind, label)
  }

  /** Clear standing sidecars the caller can PROVE stale: `committed`
    * decides from a ledger read taken AFTER the pending read whether a
    * (kind, label) already committed and carries no further protocol
    * role (e.g. not an epilogue-carrying retire). Without this, a
    * crash between a writer's commit and its un-announce would shield
    * the — eventually superseded — directory from vacuum forever.
    * Returns the number cleared. */
  def clearCommittedPending(spark: SparkSession, dir: String,
      pending: Map[String, Set[String]],
      committed: (String, String) => Boolean): Int = {
    var n = 0
    pending.foreach { case (kind, labels) =>
      labels.foreach { l =>
        if (committed(kind, l)) { clearPending(spark, dir, kind, l); n += 1 }
      }
    }
    n
  }

  /** Labels with ANY standing pending sidecar under `dir`, by kind. */
  def pendingLabels(spark: SparkSession,
      dir: String): Map[String, Set[String]] = {
    val (fs, root) = hadoopFs(spark, dir)
    if (!fs.exists(root)) return Map.empty
    val re = """_pending_([a-z]+)_(.+)\.json""".r
    fs.listStatus(root).iterator.filterNot(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case re(kind, label) => (kind, label) }
      .toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  }

  /** Session-teardown deletion of a store's local temp dirs. java.nio
    * on purpose (not the Hadoop idiom above): teardown may run after
    * `spark.stop()`, and the caches only ever hold local temp dirs the
    * stores created themselves. */
  def deleteLocalDirs(dirs: java.util.Collection[String]): Unit = {
    dirs.forEach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
    }
  }
}
