package graft.queue

import java.sql.Timestamp
import java.time.Instant

import graft.meta.{MetaStore, Model}
import graft.meta.Model.{TaskRow, TaskStatus}

/** Maintenance task queue over the MetaStore `tasks` slice —
  * re-expression of the reference's MySQL queue
  * (service_task_queue.go):
  *
  *  - enqueue: insert queued row (go:52-69)
  *  - claim: running-count gate < concurrency, oldest-queued first,
  *    queued→running CAS (go:222-313; serializable tx → here a
  *    driver-side lock, faithful to the reference's single process,
  *    SURVEY.md §7.4 #1)
  *  - complete: shallow last-wins result merge, success/error (go:315-359)
  *  - retry: error && !retried → mark retried, insert clone (go:166-202)
  *  - flush: delete terminal rows (go:537-555)
  *  - counts: GROUP BY status over {queued, running} (go:411-443)
  *
  * State lives in the parquet `tasks` table; mutual exclusion lives in
  * this object (in-JVM lock) plus an advisory file lock across JVMs.
  * Mutations rewrite the whole table — tasks are control-plane metadata
  * (thousands of rows, not data-plane scale). Reads come from the
  * store's driver copy ([[MetaStore.rows]]), checked against the
  * slice's file listing on every call: a write by another queue,
  * store or process changes the listing and is re-read; this queue's
  * own writes seed the copy ([[MetaStore.put]]), so an unchanged queue
  * is read without a Spark job and an enqueue is one write.
  *
  * Ids are never reused. A new id is one above both the live maximum
  * and the `task_id_seq` setting, the high-water mark. The mark is
  * written only by [[flush]], before its rewrite, when it removes the
  * highest live id — the one moment the live maximum would fall.
  */
final class TaskQueue(store: MetaStore, clock: () => Instant = () => Instant.now()) {

  import MetaStore.taskRowEnc

  private val lock = new Object
  private def now(): Timestamp = Timestamp.from(clock())

  private def all(): Seq[TaskRow] = store.rows[TaskRow]("tasks")

  // rename-swap write (MetaStore.put): a plain Overwrite deletes the
  // part files before rewriting them, so any concurrent reader sees an
  // empty or partial queue mid-save.
  private def save(rows: Seq[TaskRow]): Unit = store.put("tasks", rows)

  // Cross-process mutual exclusion for the shipped CLI surface: `serve`
  // and `work` run as separate JVMs against the same store, where the
  // in-JVM monitor alone would let one process's read-modify-write
  // clobber the other's enqueue/claim. An advisory file lock next to
  // the tasks table covers file:// roots; a remote root (s3a/hdfs)
  // needs an external coordinator, like the reference's MySQL.
  // One long-lived channel per TaskQueue instance: FileChannel.lock is
  // JVM-wide, so per-call channels would throw
  // OverlappingFileLockException (not block) the moment two TaskQueue
  // instances over the same store coexist in one JVM. With a shared
  // channel, a second instance's lock() sees the overlap, and the retry
  // loop below converts it into the blocking semantics callers expect.
  // FileChannel is interruptible — a thread interrupt during lock()
  // closes it for good — so the channel is reopened on interruption/
  // closure instead of leaving every later call broken.
  private var lockChannel: Option[java.nio.channels.FileChannel] = openLockChannel()

  private def openLockChannel(): Option[java.nio.channels.FileChannel] =
    try {
      val f = new java.io.File(store.path("tasks.lock"))
      Option(f.getParentFile).foreach(_.mkdirs())
      f.createNewFile()
      Some(java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE))
    } catch { case _: Exception => None }

  /** Release the lock-file channel (one FD per instance otherwise). */
  def close(): Unit = lock.synchronized {
    lockChannel.foreach(ch => try ch.close() catch { case _: Exception => () })
    lockChannel = None
  }

  // Callers hold the in-JVM monitor, so lockChannel mutation is safe.
  private def withProcessLock[T](body: => T): T = {
    var ch = lockChannel.orNull
    var l: java.nio.channels.FileLock = null
    while (l == null && ch != null) {
      // lock() blocks on OTHER processes; an overlap from another
      // instance in THIS JVM throws instead — sleep and retry.
      try l = ch.lock()
      catch {
        case _: java.nio.channels.OverlappingFileLockException =>
          Thread.sleep(5)
        case e: java.nio.channels.FileLockInterruptionException =>
          // interrupt closed the channel: reopen for future callers,
          // propagate the cancellation (no state was mutated yet)
          lockChannel = openLockChannel()
          throw e
        case _: java.nio.channels.ClosedChannelException =>
          lockChannel = openLockChannel()
          ch = lockChannel.orNull
      }
    }
    if (l == null) body // no lock file available: in-JVM monitor only
    else try body finally {
      try l.release() catch { case _: java.nio.channels.ClosedChannelException => () }
    }
  }

  /** Next task id: one above BOTH the live max and the persisted
    * high-water mark — ids are never reused after flush() deletes
    * terminal rows (the reference's auto-increment never reuses either;
    * a recycled id would let a stale status poll or late procedure
    * callback hit an unrelated task). Allocation writes nothing: the
    * live max covers every id until [[flush]] removes it. */
  private def nextId(rows: Seq[TaskRow]): Long =
    math.max(rows.map(_.id).maxOption.getOrElse(0L), highWater()) + 1

  private def highWater(): Long = store.longSetting("task_id_seq", 0L)

  def enqueue(database: String, table: String, kind: String, engine: String,
      input: Map[String, String]): Long = lock.synchronized { withProcessLock {
    require(Model.TaskKind.all.contains(kind), s"unknown task kind: $kind")
    val rows = all()
    val id = nextId(rows)
    save(rows :+ TaskRow(id, database, table, kind, engine,
      startedAt = now(), pickedUpAt = None, finishedAt = None,
      status = TaskStatus.Queued, retried = false, errorMessage = None,
      input = input, result = Map.empty))
    id
  } }

  /** Claim the oldest queued task iff running < concurrency. The gate is
    * resolved from the `task_concurrency` settings row at claim time with
    * the caller's value as the default, clamped to ≥1 — exactly the
    * reference's claim path (service_task_queue.go:223-236: GetIntSetting
    * per claim, `if taskConcurrency < 1 { taskConcurrency = 1 }`). */
  def claim(concurrency: Int): Option[TaskRow] = lock.synchronized { withProcessLock {
    val effective =
      math.max(1, store.intSetting("task_concurrency", concurrency))
    val rows = all()
    if (rows.count(_.status == TaskStatus.Running) >= effective) None
    else rows.filter(_.status == TaskStatus.Queued)
      .sortBy(t => (t.startedAt.getTime, t.id)).headOption.map { t =>
        val claimed = t.copy(status = TaskStatus.Running, pickedUpAt = Some(now()))
        save(rows.map(r => if (r.id == t.id) claimed else r))
        claimed
      }
  } }

  /** Complete a running task: merge result (shallow, last wins —
    * reference F13, service_task_queue.go:397-409), set terminal status. */
  def complete(id: Long, result: Map[String, String], error: Option[String]): Boolean =
    lock.synchronized { withProcessLock {
      val rows = all()
      rows.find(t => t.id == id && t.status == TaskStatus.Running) match {
        case None => false
        case Some(t) =>
          val done = t.copy(
            status = if (error.isDefined) TaskStatus.Error else TaskStatus.Success,
            errorMessage = error,
            finishedAt = Some(now()),
            result = t.result ++ result)
          save(rows.map(r => if (r.id == id) done else r))
          true
      }
    } }

  /** Merge a partial result into a RUNNING task without changing its
    * status (the mid-flight callback path,
    * service_task_queue.go:361-378; shallow last-wins merge F13). */
  def updateResult(id: Long, update: Map[String, String]): Boolean = lock.synchronized { withProcessLock {
    val rows = all()
    rows.find(t => t.id == id && t.status == TaskStatus.Running) match {
      case None => false
      case Some(t) =>
        save(rows.map(r => if (r.id == id) t.copy(result = t.result ++ update) else r))
        true
    }
  } }

  /** Nested result update: store a JSON-encoded payload under one key
    * (the reference's `procedure` callback slot,
    * service_task_queue.go:384-395). */
  def updateResultNested(id: Long, key: String, payload: Map[String, String]): Boolean = {
    val k = key.trim
    require(k.nonEmpty, "result key is required")
    val json = payload.toSeq.sortBy(_._1)
      .map { case (a, b) => s""""${escape(a)}":"${escape(b)}"""" }
      .mkString("{", ",", "}")
    updateResult(id, Map(k -> json))
  }

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Retry an errored, not-yet-retried task: flag the original and
    * enqueue a fresh clone with the same input. Returns the clone id. */
  def retry(id: Long): Option[Long] = lock.synchronized { withProcessLock {
    val rows = all()
    rows.find(t => t.id == id && t.status == TaskStatus.Error && !t.retried).map { t =>
      val cloneId = nextId(rows)
      val clone = TaskRow(cloneId, t.database, t.table, t.kind, t.engine,
        startedAt = now(), pickedUpAt = None, finishedAt = None,
        status = TaskStatus.Queued, retried = false, errorMessage = None,
        input = t.input, result = Map.empty)
      save(rows.map(r => if (r.id == id) r.copy(retried = true) else r) :+ clone)
      cloneId
    }
  } }

  /** Worker-loop automatic retry (the reference's retried-flag semantics,
    * service_task_queue.go:166-202, driven from the worker instead of the
    * manual endpoint): same CAS as [[retry]] — only an errored,
    * not-yet-retried task qualifies, the original is flagged — but the
    * clone is born with `retried = true`, marking it as the terminal
    * attempt: when the clone errors too, neither the auto path nor this
    * method will retry it again, so a permanent failure ends as exactly
    * one error row with retried=true (plus its flagged ancestor). */
  def retryAuto(id: Long): Option[Long] = lock.synchronized { withProcessLock {
    val rows = all()
    rows.find(t => t.id == id && t.status == TaskStatus.Error && !t.retried).map { t =>
      val cloneId = nextId(rows)
      val clone = TaskRow(cloneId, t.database, t.table, t.kind, t.engine,
        startedAt = now(), pickedUpAt = None, finishedAt = None,
        status = TaskStatus.Queued, retried = true, errorMessage = None,
        input = t.input, result = Map.empty)
      save(rows.map(r => if (r.id == id) r.copy(retried = true) else r) :+ clone)
      cloneId
    }
  } }

  /** Retry every errored, not-yet-retried task — oldest first, like the
    * reference's retry-all loop (service_task_queue.go:109-147: status =
    * error AND retried = false, ORDER BY started_at ASC, each through
    * the same clone path as the manual retry). `database = None` is the
    * global form (`POST /api/tasks/retry-all`); `Some(db)` the per-db
    * one. Returns the number of clones enqueued. */
  def retryAll(database: Option[String]): Long = lock.synchronized { withProcessLock {
    val rows = all()
    val retryable = rows
      .filter(t => t.status == TaskStatus.Error && !t.retried &&
        database.forall(_ == t.database))
      .sortBy(t => (t.startedAt.getTime, t.id))
    if (retryable.isEmpty) 0L
    else {
      var nid = nextId(rows)
      val retriedIds = retryable.map(_.id).toSet
      val clones = retryable.map { t =>
        val c = TaskRow(nid, t.database, t.table, t.kind, t.engine,
          startedAt = now(), pickedUpAt = None, finishedAt = None,
          status = TaskStatus.Queued, retried = false, errorMessage = None,
          input = t.input, result = Map.empty)
        nid += 1
        c
      }
      save(rows.map(r => if (retriedIds(r.id)) r.copy(retried = true) else r)
        ++ clones)
      clones.size.toLong
    }
  } }

  /** Delete terminal tasks; returns how many were removed. */
  def flush(): Long = flush(None)

  /** Per-database flush (`DELETE /api/tasks/:database`). The reference
    * deletes every row in scope (service_task_queue.go:537-555); here
    * only terminal rows go — deleting a RUNNING row under a live worker
    * would orphan its completion write, a hazard the reference's SQL
    * row-versioning absorbs but a whole-table rewrite does not. */
  def flush(database: Option[String]): Long = lock.synchronized { withProcessLock {
    val rows = all()
    val (gone, keep) = rows.partition(t =>
      (t.status == TaskStatus.Success || t.status == TaskStatus.Error) &&
        database.forall(_ == t.database))
    // the highest id leaves the table: persist it first, so a crash
    // between the two writes can only leave the mark too high
    val top = rows.map(_.id).maxOption.getOrElse(0L)
    if (gone.exists(_.id == top) && top > highWater())
      store.setSetting("task_id_seq", top.toString, clock())
    if (gone.nonEmpty) save(keep)
    gone.size.toLong
  } }

  /** status → count for the live statuses (A4). Reads take the process
    * lock too: save()'s rename-swap has a window where the tasks path is
    * absent, so an unlocked concurrent reader could transiently see an
    * empty queue or a FileNotFound. */
  def counts(): Map[String, Long] = counts(None)

  /** Per-database (or global, `database = None`) live-status counts —
    * the reference adds `WHERE database = ?` to the same GROUP BY
    * (service_task_queue.go:411-443). */
  def counts(database: Option[String]): Map[String, Long] = lock.synchronized { withProcessLock {
    all().filter(t => database.forall(_ == t.database) &&
        (t.status == TaskStatus.Queued || t.status == TaskStatus.Running))
      .groupBy(_.status).map { case (s, ts) => s -> ts.size.toLong }
  } }

  /** Paginated list + total (A5, service_task_queue.go:469-507). */
  def list(statuses: Seq[String], limit: Int, offset: Int): (Seq[TaskRow], Long) =
    list(None, None, Seq.empty, statuses, limit, offset)

  /** The reference's full filter surface (service_task_queue.go:445-535):
    * optional database/table equality, kind/status IN-lists, started_at
    * DESC, limit defaulting to 20 when non-positive, offset clamped to
    * ≥0 (offset + limit saturates at Int.MaxValue). Total counts the
    * filtered set before pagination. */
  def list(database: Option[String], table: Option[String], kinds: Seq[String],
      statuses: Seq[String], limit: Int, offset: Int): (Seq[TaskRow], Long) =
    lock.synchronized { withProcessLock {
      val effLimit = if (limit <= 0) 20 else limit
      val effOffset = math.max(0, offset)
      val filtered = all()
        .filter(t => database.forall(_ == t.database) &&
          table.forall(_ == t.table) &&
          (kinds.isEmpty || kinds.contains(t.kind)) &&
          (statuses.isEmpty || statuses.contains(t.status)))
        .sortBy(t => (-t.startedAt.getTime, -t.id))
      val end = math.min(effOffset.toLong + effLimit, Int.MaxValue.toLong).toInt
      (filtered.slice(effOffset, end), filtered.size.toLong)
    } }
}
