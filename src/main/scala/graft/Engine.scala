package graft

import java.time.{Instant, LocalDate}

import graft.meta.{MetaStore, Model, PartitionModel, Planner, SmallFiles}
import graft.meta.MetaStore.tableMetaEnc
import graft.queue.{TaskEngines, TaskQueue}

/** The engine façade — ties MetaStore, TaskQueue, Planner and the
  * maintenance operators into the reference's service surface
  * (SURVEY.md §7.2 steps 5-7): enqueue endpoints with the reference's
  * validation/clamping, the daily schedule cycle, and the worker that
  * claims and executes tasks in the same JVM.
  */
final class Engine(
    val store: MetaStore,
    clock: () => Instant = () => Instant.now(),
    cfg: SmallFiles.Config = SmallFiles.Config(),
    engines: TaskEngines = TaskEngines.default) {
  import Engine._

  val queue = new TaskQueue(store, clock)

  /** Small-file scoring thresholds, overlaid from the settings table at
    * use time (service_iceberg.go:129-141) — a changed settings row takes
    * effect on the next task without a restart. */
  private def effectiveCfg: SmallFiles.Config = SmallFiles.fromSettings(store, cfg)

  /** EnqueueOptimize (service_tasks.go:190-296): default target 512 MB,
    * clamp the range by the freshness delay, query needs_optimize
    * partitions from the store, bucket into chunks, one task per chunk. */
  def enqueueOptimize(database: String, table: String, targetFileSizeMb: Int,
      from: LocalDate, to: LocalDate, chunkBy: String): Either[String, Seq[Long]] = {
    for {
      chunk <- Planner.normalizeChunkBy(chunkBy)
      _ <- if (from.isAfter(to)) Left("from date must be before or equal to the to date") else Right(())
    } yield {
      val target = if (targetFileSizeMb < 1) Model.Defaults.TargetFileSizeMb else targetFileSizeMb
      Planner.rangeWithinDelay(from, to, clock(), cfg.delayHours) match {
        case None => Seq.empty
        case Some(effective) =>
          val partitionDates = store.partitions
            .filter(p => p.database == database && p.table == table && p.needsOptimize)
            .collect().toSeq
            .flatMap(p => PartitionModel.partitionDate(p.partition))
            .filter(d => !d.isBefore(effective.from) && !d.isAfter(effective.to))
            // no implicit Ordering[LocalDate] in the 2.13 stdlib
            .sorted(Ordering.by((d: LocalDate) => d.toEpochDay))
          Planner.planChunks(partitionDates, effective, chunk).map { c =>
            queue.enqueue(database, table, Model.TaskKind.Optimize,
              engines.resolveOrThrow(Model.TaskKind.Optimize), Map(
              "target_file_size_mb" -> target.toString,
              "from" -> c.from.toString,
              "to" -> c.to.toString))
          }
      }
    }
  }

  /** EnqueueExpireSnapshots with the 7-day minimum clamp
    * (service_tasks.go:91-113). */
  def enqueueExpireSnapshots(database: String, table: String, retentionDays: Int): Long = {
    val days = math.max(retentionDays, Model.Defaults.MinRetentionDays)
    queue.enqueue(database, table, Model.TaskKind.ExpireSnapshots,
      engines.resolveOrThrow(Model.TaskKind.ExpireSnapshots),
      Map("retention_days" -> days.toString))
  }

  /** EnqueueRemoveOrphanFiles with the same clamp
    * (service_tasks.go:115-137). */
  def enqueueRemoveOrphanFiles(database: String, table: String, retentionDays: Int): Long = {
    val days = math.max(retentionDays, Model.Defaults.MinRetentionDays)
    queue.enqueue(database, table, Model.TaskKind.RemoveOrphanFiles,
      engines.resolveOrThrow(Model.TaskKind.RemoveOrphanFiles),
      Map("retention_days" -> days.toString))
  }

  /** Trim, drop blanks, first-occurrence dedupe — the reference's
    * normalizeBatchTables (service_tasks.go:479-497). */
  private def normalizeTables(tables: Seq[String]): Seq[String] =
    tables.map(_.trim).filter(_.nonEmpty).distinct

  /** Per-table enqueue loop with the reference's partial-failure
    * semantics (service_tasks.go:298-326): a failed table lands in
    * failedTables and the rest still enqueue. */
  private def enqueueBatch(tables: Seq[String])(
      one: String => Seq[Long]): Either[String, BatchResult] = {
    val normalized = normalizeTables(tables)
    if (normalized.isEmpty) Left("at least one table must be provided")
    else Right(normalized.foldLeft(BatchResult(Seq.empty, 0L, Seq.empty)) {
      (acc, table) =>
        try {
          val ids = one(table)
          acc.copy(taskIds = acc.taskIds ++ ids,
            enqueuedCount = acc.enqueuedCount + ids.size)
        } catch {
          case e: Exception => acc.copy(failedTables = acc.failedTables :+
            BatchFailure(table, Option(e.getMessage).getOrElse(e.toString)))
        }
    })
  }

  /** Database-wide enqueue group (`POST /api/maintenance/:database/...`,
    * main.go:41-45; service_tasks.go:138-148). */
  def enqueueExpireSnapshotsBatch(database: String, tables: Seq[String],
      retentionDays: Int): Either[String, BatchResult] =
    enqueueBatch(tables)(t => Seq(enqueueExpireSnapshots(database, t, retentionDays)))

  def enqueueRemoveOrphanFilesBatch(database: String, tables: Seq[String],
      retentionDays: Int): Either[String, BatchResult] =
    enqueueBatch(tables)(t => Seq(enqueueRemoveOrphanFiles(database, t, retentionDays)))

  /** Batch optimize: date validation FIRST, then the per-table loop —
    * a bad chunk_by fails only its own table; every chunk id of a table
    * is appended and counted (service_tasks.go:150-187). A table whose
    * range holds no needs-optimize partitions contributes zero ids and
    * is not a failure. The per-table chunk_by defaults to "day". */
  def enqueueOptimizeBatch(database: String, tables: Seq[(String, String)],
      targetFileSizeMb: Int, from: LocalDate, to: LocalDate): Either[String, BatchResult] = {
    if (from.isAfter(to)) Left("from date must be before or equal to the to date")
    else {
      // first occurrence wins on duplicate table names, like the
      // reference's normalizeBatchOptimizeTables (service_tasks.go:500)
      val chunkByOf = tables.foldLeft(Map.empty[String, String]) {
        case (acc, (t, c)) =>
          val key = t.trim
          if (acc.contains(key)) acc
          else acc + (key -> (if (c == null || c.trim.isEmpty) "day" else c.trim))
      }
      enqueueBatch(tables.map(_._1)) { table =>
        enqueueOptimize(database, table, targetFileSizeMb, from, to,
          chunkByOf(table)) match {
          case Left(err) => throw new IllegalArgumentException(err)
          case Right(ids) => ids
        }
      }
    }
  }

  /** Procedure-callback handler (service_tasks.go:346-375): spark-engine
    * tasks only, running status only; the payload lands JSON-encoded
    * under result["procedure"]. */
  def updateProcedureResult(taskId: Long, query: String, rows: Long,
      receivedAt: Instant, meta: Map[String, String] = Map.empty): Either[String, Unit] = {
    val task = queue.list(Seq.empty, Int.MaxValue, 0)._1.find(_.id == taskId)
    task match {
      case None => Left(s"task $taskId not found")
      case Some(t) if t.engine != "spark" =>
        Left(s"task $taskId does not use spark engine")
      case Some(t) if t.status != Model.TaskStatus.Running =>
        Left(s"task $taskId cannot accept procedure callback in status ${t.status}")
      case Some(_) =>
        // meta keys ride the same flat payload namespaced `meta.<k>`,
        // present only when non-empty (service_tasks.go:365-369)
        val metaKv = meta.map { case (k, v) => s"meta.$k" -> v }
        if (queue.updateResultNested(taskId, "procedure", Map(
          "query" -> query, "rows" -> rows.toString,
          "received_at" -> receivedAt.toString) ++ metaKv)) Right(())
        else Left(s"task $taskId no longer running")
    }
  }

  /** The daily maintenance cycle
    * (service_maintenance_schedule.go:55-110): for every stored table,
    * enqueue optimize over a lookback window ending today
    * ([today-(lookback-1), today]), plus expire + orphan removal. */
  def runCycle(now: Instant, lookbackDays: Int = 30, targetFileSizeMb: Int = 512,
      chunkBy: String = "day", retentionDays: Int = 7): CycleResult = {
    val tables = store.rows[Model.TableMeta]("tables")
    val today = now.atZone(java.time.ZoneOffset.UTC).toLocalDate
    val from = today.minusDays((lookbackDays - 1).toLong)
    var opt = 0
    tables.foreach { t =>
      enqueueOptimize(t.database, t.name, targetFileSizeMb, from, today, chunkBy)
        .foreach(ids => opt += ids.size)
    }
    tables.foreach(t => enqueueExpireSnapshots(t.database, t.name, retentionDays))
    tables.foreach(t => enqueueRemoveOrphanFiles(t.database, t.name, retentionDays))
    CycleResult(tables.size, opt, tables.size, tables.size)
  }

  /** Worker tick (module_tasks.go:102-125 + executor dispatch): claim
    * one task under the concurrency gate and execute it in this JVM.
    * `tablePaths` maps (database, table) → data directory for the
    * compaction path. Returns the completed task id. */
  /** Live-runtime forwarding for the worker (the [[graft.meta.IcebergRuntime]]
    * seam, other half in [[operators.IcebergCalls]]): when an Iceberg
    * Spark runtime jar is on the classpath, maintenance tasks run the
    * REAL `CALL <catalog>.system.*` stored procedure the reference
    * submits (maintenance.py:153-219) instead of the native operators.
    * None — the only outcome in this jar-less sandbox — keeps the
    * native, spec-tested path as the default. The CALL's result rows
    * (e.g. rewritten_data_files_count) become the task result map. */
  private def forwardCall(callSql: => String): Option[Either[String, Map[String, String]]] =
    if (!graft.meta.IcebergRuntime.available) None
    else Some(
      operators.IcebergCalls.run(store.spark, callSql).map { df =>
        df.collect().headOption.map { row =>
          row.schema.fieldNames.map(n => n -> String.valueOf(row.getAs[Any](n))).toMap
        }.getOrElse(Map.empty)
      })

  /** rewrite_data_files needs the hidden day-partition column the
    * reference resolves from the table description
    * (service_maintenance_executor_spark.go:236-244); a table without
    * one fails the task with the reference's error, matching its
    * "no suitable day-partition column" contract. */
  private def forwardRewrite(task: Model.TaskRow, until: String,
      targetBytes: Long): Option[Either[String, Map[String, String]]] =
    if (!graft.meta.IcebergRuntime.available) None
    else Some {
      store.rows[Model.TableMeta]("tables")
        .find(t => t.database == task.database && t.name == task.table)
        .flatMap(_.partitions.collectFirst {
          case f if f.isHidden && f.hidden.exists(_.`type` == "day") =>
            f.hidden.get.column
        }) match {
        case None => Left("no suitable day-partition column found for optimization")
        case Some(dayCol) =>
          forwardCall(operators.IcebergCalls.rewriteDataFiles(
            table = task.table, whereColumn = dayCol,
            whereFrom = task.input("from"), whereUntil = until,
            database = task.database, targetFileSizeBytes = targetBytes)).get
      }
    }

  def processNext(concurrency: Int, tablePaths: Map[(String, String), String]): Option[Long] = {
    queue.claim(concurrency).map { task =>
      val result: Either[String, Map[String, String]] =
        try {
          task.kind match {
            case Model.TaskKind.Optimize =>
              tablePaths.get((task.database, task.table)) match {
                case None => Left(s"no data path for ${task.database}.${task.table}")
                case Some(path) =>
                  val target = task.input.get("target_file_size_mb")
                    .flatMap(_.toLongOption)
                    .getOrElse(Model.Defaults.TargetFileSizeMb.toLong) * 1024L * 1024L
                  val until = LocalDate.parse(task.input("to")).plusDays(1).toString
                  forwardRewrite(task, until, target) match {
                    case Some(res) => res
                    case None =>
                  val r = operators.Maintenance.compactAuto(store.spark, path,
                    task.input("from"), until, target)
                  // Manifest-tracked tables get a new `replace` snapshot
                  // so the rewritten files enter the manifest before any
                  // remove_orphan_files task can sweep them.
                  val committed =
                    if (r.partitionsRewritten > 0 && store.exists("files") &&
                        store.files.filter(f => f.database == task.database &&
                          f.table == task.table).take(1).nonEmpty)
                      Map("committed_snapshot_id" -> operators.Maintenance
                        .commitCompaction(store, task.database, task.table,
                          path, effectiveCfg, clock()).toString)
                    else Map.empty[String, String]
                  Right(Map(
                    "partitions_rewritten" -> r.partitionsRewritten.toString,
                    "files_before" -> r.filesBefore.toString,
                    "files_after" -> r.filesAfter.toString) ++ committed)
                  }
              }
            case Model.TaskKind.ExpireSnapshots =>
              val days = task.input.get("retention_days").flatMap(_.toIntOption).getOrElse(7)
              val cutoff = java.sql.Timestamp.from(clock().minusSeconds(days.toLong * 86400))
              val current = store.rows[Model.TableMeta]("tables")
                .find(t => t.database == task.database && t.name == task.table)
                .flatMap(_.currentSnapshotId)
              forwardCall(operators.IcebergCalls.expireSnapshots(
                  task.table, cutoff.toInstant.toString, database = task.database))
                .getOrElse {
                  current match {
                    case None => Left("table has no current snapshot")
                    case Some(cur) =>
                      val r = operators.Maintenance.expireSnapshots(store, task.database,
                        task.table, cur, cutoff)
                      Right(Map("expired" -> r.expiredSnapshots.size.toString,
                        "kept" -> r.keptSnapshots.size.toString))
                  }
                }
            case Model.TaskKind.RemoveOrphanFiles =>
              tablePaths.get((task.database, task.table)) match {
                case None => Left(s"no data path for ${task.database}.${task.table}")
                case Some(path) =>
                  val days = task.input.get("retention_days").flatMap(_.toIntOption).getOrElse(7)
                  val cutoff = java.sql.Timestamp.from(clock().minusSeconds(days.toLong * 86400))
                  forwardCall(operators.IcebergCalls.removeOrphanFiles(
                      task.table, cutoff.toInstant.toString, database = task.database))
                    .getOrElse {
                      val r = operators.Maintenance.removeOrphanFiles(store.spark, store,
                        path, task.database, task.table, cutoff)
                      Right(Map("orphans" -> r.orphans.size.toString,
                        "deleted" -> r.deleted.toString))
                    }
              }
            case other => Left(s"unknown task kind $other")
          }
        } catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.toString)) }
      result match {
        case Right(res) => queue.complete(task.id, res, None)
        case Left(err) =>
          queue.complete(task.id, Map.empty, Some(err))
          // Automatic one-shot retry: a first-attempt failure re-enqueues
          // a clone (original flagged retried); the clone itself is the
          // terminal attempt — a second failure stays an error
          // (retried-flag semantics, service_task_queue.go:166-202).
          queue.retryAuto(task.id)
      }
      task.id
    }
  }
}

object Engine {
  /** One table's outcome inside a batch enqueue
    * (service_tasks.go:46-55). */
  final case class BatchFailure(table: String, error: String)
  final case class BatchResult(taskIds: Seq[Long], enqueuedCount: Long,
      failedTables: Seq[BatchFailure])

  final case class CycleResult(tableCount: Int, optimizeTasks: Int,
      expireTasks: Int, orphanTasks: Int)
}
