package graft.http

import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.functions.{coalesce, col, count, explode, lit, map_keys, max, sum}

import graft.Engine
import graft.meta.{MetaStore, Model, PartitionModel}

/** The REST façade — the reference's HTTP surface (main.go:37-101 route
  * map) over the same engine objects the CLI uses, served by the JDK's
  * built-in HttpServer so no dependency is added:
  *
  *  - /api/iceberg: databases, tables, describe (handler_iceberg.go)
  *  - /api/metadata: partitions, snapshots (handler_metadata.go)
  *  - /api/browse: tables, table summary, partition drill-down
  *    (handler_browse.go)
  *  - /api/tasks: list, counts, flush, retry, enqueue optimize /
  *    expire-snapshots / remove-orphan-files (handler_tasks.go)
  *  - /api/settings/task-concurrency GET/PUT (handler_settings.go)
  *
  * Request bodies are the reference's flat JSON objects; a micro-parser
  * handles the flat string/number shape (no JSON library ships in this
  * environment). All heavy lifting stays in the engine — handlers only
  * translate HTTP ↔ the operators, exactly like the reference's thin
  * gin handlers.
  */
final class Api(store: MetaStore, engine: Engine,
    dataRoot: Option[String] = None) {

  import Json._

  /** Start on `port` (0 = ephemeral); returns the server (caller stops). */
  def start(port: Int): HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
    server.createContext("/api", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // serial — single-writer engine by design
    server.start()
    server
  }

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath.stripPrefix("/api").stripSuffix("/")
    val segs = path.split("/").toList.filter(_.nonEmpty)
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val query = queryParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
    val result =
      try route(method, segs, body, query)
      catch {
        // only the parse/bind layer raises BadRequest (missing body
        // keys, unparsable dates, non-numeric ids, bad escapes) — a
        // 400, like the reference's bind-error handling. An engine-
        // raised IllegalArgumentException (violated invariant, broken
        // lineage, bad settings row) is a genuine server fault: 500.
        case e: Api.BadRequest =>
          (400, obj("error" -> str(Option(e.getMessage).getOrElse(e.toString))))
        case e: Throwable =>
          (500, obj("error" -> str(Option(e.getMessage).getOrElse(e.toString))))
      }
    val bytes = result._2.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(result._1, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Repeated-key query-string parse (`?status=queued&status=error`,
    * the gin `form:"..."` multi-bind shape). */
  private def queryParams(raw: String): Map[String, Seq[String]] =
    raw.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      val (k, v) = if (eq < 0) (kv, "") else (kv.take(eq), kv.drop(eq + 1))
      java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

  private def route(method: String, segs: List[String], body: String,
      query: Map[String, Seq[String]]): (Int, String) =
    (method, segs) match {
      // -- iceberg (handler_iceberg.go) -------------------------------
      // The per-partition and per-file slices (`partitions`, `files`)
      // are filtered/aggregated ON the Dataset and only the (bounded)
      // response payload is collected — a deployment with 10^6
      // partitions stays executor-side until the final rows. The
      // control-plane slices (`tables`, `snapshots`: one row per table
      // or commit) come from the store's driver copy (MetaStore.rows).
      case ("GET", "iceberg" :: "databases" :: Nil) =>
        ok(arr(tableRows.map(_.database).distinct.sorted.map(str)))
      case ("GET", "iceberg" :: db :: "tables" :: Nil) =>
        ok(arr(tableRows.filter(_.database == db).map(_.name).sorted.map(str)))
      case ("GET", "iceberg" :: db :: table :: Nil) =>
        tableRow(db, table) match {
          case None => notFound(s"$db.$table")
          case Some(t) => ok(obj(
            "database" -> str(t.database), "table" -> str(t.name),
            "currentSnapshotId" -> t.currentSnapshotId.map(num).getOrElse("null"),
            "columns" -> arr(t.columns.map(c =>
              obj("name" -> str(c.name), "type" -> str(c.`type`))))))
        }
      // rollback (main.go:93): move the snapshot pointer, rebuild the
      // partition slice from that snapshot's manifest, then full-refresh
      // the table row like the reference (handler_iceberg.go:126-145).
      case ("POST", "iceberg" :: db :: table :: "snapshots" :: sid :: "rollback" :: Nil) =>
        val snapshotId = bind(sid.toLong)
        // Live-runtime seam (M4): availability decides the PATH, and
        // within the live path a failed CALL is a failure — falling
        // back to the native pointer move there would mask a rejected
        // rollback (nonexistent/expired snapshot) as success while the
        // real table stayed unchanged. The native path runs only when
        // no runtime is on the classpath (always, in this sandbox).
        if (graft.meta.IcebergRuntime.available)
          graft.operators.IcebergCalls.run(store.spark,
            graft.operators.IcebergCalls.rollbackToSnapshot(table, snapshotId,
              database = db)) match {
            case Right(_) =>
              ok(obj("snapshot_id" -> num(snapshotId), "status" -> str("ok")))
            case Left(err) => (500, obj("error" -> str(err)))
          }
        else {
          graft.operators.Maintenance.rollbackToSnapshot(store, db, table,
            snapshotId, graft.meta.SmallFiles.fromSettings(store),
            java.time.Instant.now())
          ok(obj("snapshot_id" -> num(snapshotId), "status" -> str("ok")))
        }
      // snapshot file-integrity check (main.go:94,
      // service_file_integrity.go:44-92): expected = the snapshot's
      // manifest rows; missing = a distributed left_anti join of that
      // set against the executor-side parent-directory listing
      // (Maintenance.missingFilesFrame — the q14/removeOrphanFiles
      // shape). Only the missing set, the payload-bounded response,
      // reaches the driver.
      case ("GET", "iceberg" :: db :: table :: "snapshots" :: sid :: "missing-files" :: Nil) =>
        val snapshotId = bind(sid.toLong)
        val report = graft.operators.Maintenance.missingFiles(
          store.spark, store, db, table, snapshotId)
        ok(obj("snapshot_id" -> num(snapshotId),
          "missing_files" -> arr(report.missing.map(str)),
          "missing_total" -> num(report.total),
          "truncated" -> bool(report.truncated)))
      case ("GET", "iceberg" :: db :: table :: "snapshots" :: Nil) =>
        snapshotsJson(db, table)
      case ("GET", "iceberg" :: db :: table :: "partitions" :: Nil) =>
        partitionsJson(db, table)

      // -- metadata (handler_metadata.go) -----------------------------
      case ("GET", "metadata" :: db :: table :: "partitions" :: Nil) =>
        partitionsJson(db, table)
      case ("GET", "metadata" :: db :: table :: "snapshots" :: Nil) =>
        snapshotsJson(db, table)

      // -- browse (handler_browse.go) ---------------------------------
      case ("GET", "browse" :: db :: "tables" :: Nil) =>
        ok(arr(tableRows.filter(_.database == db).sortBy(_.name).map(t => obj(
            "name" -> str(t.name), "updatedAt" -> str(t.updatedAt.toString)))))
      case ("GET", "browse" :: db :: table :: Nil) =>
        // The q12 table-summary shape (Metadata.scala q12TableSummary):
        // one distributed filter+agg, one summary row to the driver —
        // NOT a whole-partitions-table collect.
        val row = store.partitions
          .filter(col("database") === db && col("table") === table)
          .agg(
            count(lit(1)).as("partitionCount"),
            coalesce(sum(col("fileCount")), lit(0L)).as("fileCount"),
            coalesce(sum(col("recordCount")), lit(0L)).as("recordCount"),
            coalesce(sum(col("totalDataFileSizeInBytes")), lit(0L)).as("totalBytes"),
            coalesce(max(col("needsOptimize")), lit(false)).as("needsOptimize"))
          .head()
        ok(obj(
          "partitionCount" -> num(row.getLong(0)),
          "fileCount" -> num(row.getLong(1)),
          "recordCount" -> num(row.getLong(2)),
          "totalDataFileSizeInBytes" -> num(row.getLong(3)),
          "needsOptimize" -> row.getBoolean(4).toString))
      case ("POST", "browse" :: db :: table :: "partitions" :: Nil) =>
        val filters = bind(partitionFilters(body))
        val spec = specOf(db, table)
        graft.operators.Browse.drillDown(
          store.partitions.filter(col("database") === db && col("table") === table),
          spec, filters) match {
          case Left(err) => (400, obj("error" -> str(err)))
          case Right(df) => ok(arr(df.collect().toSeq.map(r => obj(
            "value" -> str(String.valueOf(r.get(0))),
            "fileCount" -> num(r.getLong(1)), "recordCount" -> num(r.getLong(2)),
            "totalBytes" -> num(r.getLong(3)),
            "needsOptimize" -> r.getBoolean(4).toString,
            "needsOptimizeCount" -> num(r.getLong(5))))))
        }
      // data-file listing for one fully-selected partition (main.go:86,
      // service_browse_files.go:46-76). The spec comes from the stored
      // table metadata; hidden (year/month/day) selections resolve to the
      // raw partition literal; the response renders the partition map in
      // selection order (F9) like the reference's DataFileItem rows.
      case ("POST", "browse" :: db :: table :: "files" :: Nil) =>
        val filters = bind(partitionFilters(body))
        tableRow(db, table) match {
          case None => notFound(s"$db.$table")
          case Some(t) =>
            val snapPred = t.currentSnapshotId
              .map(id => col("snapshotId") === id).getOrElse(lit(true))
            val files = store.files.filter(
              col("database") === db && col("table") === table && snapPred)
            graft.operators.Browse.listFiles(files, t.partitions, filters) match {
              case Left(err) => (400, obj("error" -> str(err)))
              case Right((rawOrder, df)) => ok(arr(df.collect().toSeq.map { r =>
                val partition = r.getMap[String, String](4).toMap
                obj(
                  "content" -> num(r.getInt(0).toLong),
                  "file_path" -> str(r.getString(1)),
                  "file_format" -> str(r.getString(2)),
                  "spec_id" -> num(r.getInt(3).toLong),
                  "partition" -> str(PartitionModel.renderOrdered(partition, rawOrder)),
                  "record_count" -> num(r.getLong(5)),
                  "file_size_in_bytes" -> num(r.getLong(6)))
              }))
            }
        }

      // -- tasks (handler_tasks.go) -----------------------------------
      case ("GET", "tasks" :: Nil) =>
        listTasksJson(None, query)
      case ("GET", "tasks" :: "counts" :: Nil) =>
        countsJson(None)
      case ("DELETE", "tasks" :: Nil) =>
        ok(obj("flushed" -> num(engine.queue.flush())))
      case ("POST", "tasks" :: "retry-all" :: Nil) =>
        ok(obj("retried_count" -> num(engine.queue.retryAll(None))))
      case ("POST", "tasks" :: "retry" :: id :: Nil) =>
        engine.queue.retry(bind(id.toLong)) match {
          case Some(clone) => ok(obj("retryTaskId" -> num(clone)))
          case None => (400, obj("error" -> str(s"task $id cannot be retried")))
        }
      // procedure-result callback (main.go:52; service_tasks.go:346-375):
      // spark-engine running tasks only; rows land as a count, meta keys
      // namespaced into the flat result payload.
      case ("POST", "tasks" :: "callback" :: id :: "result" :: Nil) =>
        val (taskId, q, rowCount, meta) = bind {
          val in = Json.objOf(Json.parse(body))
          val meta = in.get("meta").map(Json.objOf).getOrElse(Map.empty)
            .map { case (k, v) => k -> Json.strOf(v) }
          (id.toLong, Json.strOf(in("query")),
            in.get("rows").map(v => Json.arrOf(v).size.toLong).getOrElse(0L), meta)
        }
        engine.updateProcedureResult(taskId, q, rowCount,
          java.time.Instant.now(), meta) match {
          case Right(()) => ok(obj("status" -> str("ok")))
          case Left(err) => (400, obj("error" -> str(err)))
        }
      case ("POST", "tasks" :: db :: "retry-all" :: Nil) =>
        ok(obj("retried_count" -> num(engine.queue.retryAll(Some(db)))))
      case ("POST", "tasks" :: db :: table :: "optimize" :: Nil) =>
        val (target, from, to, chunkBy) = bind {
          val in = Json.parseFlat(body)
          (in.get("target_file_size_mb").flatMap(_.toIntOption).getOrElse(0),
            java.time.LocalDate.parse(in("from")), java.time.LocalDate.parse(in("to")),
            in.getOrElse("chunk_by", "day"))
        }
        engine.enqueueOptimize(db, table, target, from, to, chunkBy) match {
          case Left(err) => (400, obj("error" -> str(err)))
          case Right(ids) => ok(obj("taskIds" -> arr(ids.map(num))))
        }
      case ("POST", "tasks" :: db :: table :: "expire-snapshots" :: Nil) =>
        val days = bind(Json.parseFlat(body)
          .get("retention_days").flatMap(_.toIntOption).getOrElse(7))
        ok(obj("taskId" -> num(engine.enqueueExpireSnapshots(db, table, days))))
      case ("POST", "tasks" :: db :: table :: "remove-orphan-files" :: Nil) =>
        val days = bind(Json.parseFlat(body)
          .get("retention_days").flatMap(_.toIntOption).getOrElse(7))
        ok(obj("taskId" -> num(engine.enqueueRemoveOrphanFiles(db, table, days))))
      // per-database task surface (main.go:58-60)
      case ("GET", "tasks" :: db :: "counts" :: Nil) =>
        countsJson(Some(db))
      case ("GET", "tasks" :: db :: Nil) =>
        listTasksJson(Some(db), query)
      case ("DELETE", "tasks" :: db :: Nil) =>
        ok(obj("flushed" -> num(engine.queue.flush(Some(db)))))

      // -- maintenance: database-wide batch enqueue (main.go:41-45) ----
      case ("POST", "maintenance" :: db :: "expire-snapshots" :: Nil) =>
        val (tables, days) = bind(batchTablesBody(body))
        batchJson(engine.enqueueExpireSnapshotsBatch(db, tables, days))
      case ("POST", "maintenance" :: db :: "remove-orphan-files" :: Nil) =>
        val (tables, days) = bind(batchTablesBody(body))
        batchJson(engine.enqueueRemoveOrphanFilesBatch(db, tables, days))
      case ("POST", "maintenance" :: db :: "optimize" :: Nil) =>
        val (tables, target, from, to) = bind {
          val in = Json.objOf(Json.parse(body))
          val tables = in.get("tables").map(Json.arrOf).getOrElse(Seq.empty).map { t =>
            val o = Json.objOf(t)
            (Json.strOf(o.getOrElse("table", Json.JStr(""))),
              o.get("chunk_by").map(Json.strOf).getOrElse("day"))
          }
          (tables,
            in.get("target_file_size_mb").map(Json.intOf).getOrElse(0),
            java.time.LocalDate.parse(Json.strOf(in("from"))),
            java.time.LocalDate.parse(Json.strOf(in("to"))))
        }
        batchJson(engine.enqueueOptimizeBatch(db, tables, target, from, to))

      // -- refresh (handler_refresh.go; GET like the reference,
      // main.go:73-80) ------------------------------------------------
      // The live catalog binding is a data-root directory: table `t` of
      // any database lives at <dataRoot>/<t>.parquet (the TESTDATA
      // layout), under the store's single database name. A real
      // deployment swaps this for the Iceberg catalog client.
      case ("GET", "refresh" :: "tables" :: Nil) =>
        // table descriptions only + stale cascade (RefreshAllTables,
        // service_refresh.go:62-101)
        withLiveTables { (db, live) =>
          graft.operators.Refresh.fullRefresh(store, db, live,
            java.time.Instant.now())
          ok(obj("status" -> str("ok")))
        }
      case ("GET", "refresh" :: "full" :: Nil) =>
        // every table: description + partitions + snapshots
        // (RefreshFull → RefreshDatabase → RefreshTableFull)
        withLiveTables { (db, live) =>
          refreshDatabaseFull(db, live)
          ok(obj("status" -> str("ok")))
        }
      case ("GET", "refresh" :: db :: Nil) =>
        withLiveTables { (_, live) =>
          refreshDatabaseFull(db, live)
          ok(obj("status" -> str("ok")))
        }
      case ("GET", "refresh" :: db :: table :: Nil) =>
        withLivePath(table) { path =>
          graft.operators.Refresh.refreshTableFull(store, db, table, path,
            java.time.Instant.now())
          ok(obj("status" -> str("ok")))
        }
      case ("GET", "refresh" :: db :: table :: "partitions" :: Nil) =>
        withLivePath(table) { path =>
          graft.operators.Refresh.refreshPartitionsLive(store, db, table, path,
            java.time.Instant.now())
          partitionsJson(db, table)
        }
      case ("GET", "refresh" :: db :: table :: "snapshots" :: Nil) =>
        withLivePath(table) { path =>
          graft.operators.Refresh.refreshSnapshotsLive(store, db, table, path,
            java.time.Instant.now())
          snapshotsJson(db, table)
        }

      // -- settings (handler_settings.go) -----------------------------
      case ("GET", "settings" :: "task-concurrency" :: Nil) =>
        ok(obj("taskConcurrency" -> num(
          store.intSetting("task_concurrency", Model.Defaults.TaskConcurrency).toLong)))
      case ("PUT", "settings" :: "task-concurrency" :: Nil) =>
        bind(Json.parseFlat(body)).get("task_concurrency").flatMap(_.toIntOption) match {
          case Some(v) if v >= 1 =>
            store.setSetting("task_concurrency", v.toString)
            ok(obj("taskConcurrency" -> num(v.toLong)))
          case _ => (400, obj("error" -> str("task_concurrency must be an int >= 1")))
        }

      case _ => notFound(segs.mkString("/"))
    }

  /** Expanded partition spec for drill-down: derived from the stored
    * partition keys — identity fields in canonical order (the stored
    * slice is the source of truth here, like the reference's cached
    * spec). */
  private def specOf(db: String, table: String): Seq[Model.PartitionField] = {
    // Distinct key names only reach the driver — a handful of strings,
    // regardless of partition count.
    val keys = store.partitions
      .filter(col("database") === db && col("table") === table)
      .select(explode(map_keys(col("partition"))).as("k")).distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSet
    PartitionModel.browseKeyOrder(keys, Seq("year", "month", "day"))
      .map(k => Model.PartitionField(k, k, isHidden = false, None))
  }

  private def taskJson(t: Model.TaskRow): String = obj(
    "id" -> num(t.id), "database" -> str(t.database), "table" -> str(t.table),
    "kind" -> str(t.kind), "engine" -> str(t.engine), "status" -> str(t.status),
    "retried" -> t.retried.toString,
    "canRetry" -> (t.status == Model.TaskStatus.Error && !t.retried).toString,
    "errorMessage" -> t.errorMessage.map(str).getOrElse("null"),
    "input" -> obj(t.input.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*),
    "result" -> obj(t.result.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*))

  /** The reference's paginated list bind + response (`items`/`total`,
    * ListTasksInput form params: table, kind[], status[], limit, offset;
    * handler_tasks.go:41-48, types.go:130-133). */
  private def listTasksJson(db: Option[String], query: Map[String, Seq[String]]): (Int, String) = {
    val one = (k: String) => query.getOrElse(k, Seq.empty).lastOption
    val (rows, total) = engine.queue.list(db,
      one("table").filter(_.nonEmpty),
      query.getOrElse("kind", Seq.empty).filter(_.nonEmpty),
      query.getOrElse("status", Seq.empty).filter(_.nonEmpty),
      bind(one("limit").map(_.toInt).getOrElse(0)),
      bind(one("offset").map(_.toInt).getOrElse(0)))
    ok(obj("items" -> arr(rows.map(taskJson)), "total" -> num(total)))
  }

  /** TaskCountsResponse: always both keys (handler_tasks.go:71-74). */
  private def countsJson(db: Option[String]): (Int, String) = {
    val c = engine.queue.counts(db)
    ok(obj("running" -> num(c.getOrElse(Model.TaskStatus.Running, 0L)),
      "queued" -> num(c.getOrElse(Model.TaskStatus.Queued, 0L))))
  }

  /** Browse filter bind: the reference wraps selections in a
    * `partitions` object (`{"partitions": {"year": "2026"}}`,
    * handler_browse.go:58-68); a bare flat object is also accepted. */
  private def partitionFilters(body: String): Map[String, String] =
    if (body.trim.isEmpty) Map.empty
    else Json.parse(body) match {
      case Json.JObj(fields) => fields.get("partitions") match {
        case Some(p) => Json.objOf(p).map { case (k, v) => k -> Json.strOf(v) }
        case None => fields.collect { case (k, Json.JStr(v)) => k -> v
          case (k, Json.JNum(raw)) => k -> raw }
      }
      case _ => Map.empty
    }

  /** Shared `{tables: [...], retention_days: n}` batch-body bind. */
  private def batchTablesBody(body: String): (Seq[String], Int) = {
    val in = Json.objOf(Json.parse(body))
    (in.get("tables").map(Json.arrOf).getOrElse(Seq.empty).map(Json.strOf),
      in.get("retention_days").map(Json.intOf).getOrElse(7))
  }

  /** BatchEnqueueResult rendering (service_tasks.go:46-50). */
  private def batchJson(result: Either[String, Engine.BatchResult]): (Int, String) =
    result match {
      case Left(err) => (400, obj("error" -> str(err)))
      case Right(r) => ok(obj(
        "task_ids" -> arr(r.taskIds.map(num)),
        "enqueued_count" -> num(r.enqueuedCount),
        "failed_tables" -> arr(r.failedTables.map(f =>
          obj("table" -> str(f.table), "error" -> str(f.error))))))
    }

  private def partitionsJson(db: String, table: String): (Int, String) = {
    // Filter executor-side; only this table's rows (the response
    // payload itself) are collected. The canonical-string sort is
    // driver-side because it IS the response order — bounded by the
    // payload we already committed to returning.
    val rows = store.partitions
      .filter(col("database") === db && col("table") === table)
      .collect().toSeq
      .sortBy(p => PartitionModel.canonicalString(p.partition))
    ok(arr(rows.map(p => obj(
      "partition" -> str(PartitionModel.canonicalString(p.partition)),
      "recordCount" -> num(p.recordCount), "fileCount" -> num(p.fileCount),
      "totalDataFileSizeInBytes" -> num(p.totalDataFileSizeInBytes),
      "needsOptimize" -> p.needsOptimize.toString))))
  }

  private def tableRows: Seq[Model.TableMeta] =
    store.rows[Model.TableMeta]("tables")(MetaStore.tableMetaEnc)

  private def tableRow(db: String, table: String): Option[Model.TableMeta] =
    tableRows.find(t => t.database == db && t.name == table)

  private def snapshotsJson(db: String, table: String): (Int, String) = {
    // newest first, sorted on the driver like partitionsJson
    val rows = store.rows[Model.SnapshotMeta]("snapshots")(MetaStore.snapshotMetaEnc)
      .filter(s => s.database == db && s.table == table)
      .sortBy(_.snapshotId)(Ordering[Long].reverse)
    ok(arr(rows.map(s => obj(
      "snapshotId" -> num(s.snapshotId),
      "parentId" -> s.parentId.map(num).getOrElse("null"),
      "operation" -> str(s.operation),
      "committedAt" -> str(s.committedAt.toString)))))
  }

  /** The parquet files of the data root as `table -> path`, fed to the
    * refresh group; the store's (single) database name stands in for the
    * catalog's database listing. */
  private def withLiveTables(
      f: (String, Map[String, String]) => (Int, String)): (Int, String) =
    dataRoot match {
      case None => (400, obj("error" -> str("no data root configured")))
      case Some(root) =>
        Option(new java.io.File(root).listFiles()) match {
          case None => (400,
            obj("error" -> str(s"data root $root is not a readable directory")))
          case Some(files) =>
            val live = files.toSeq
              .filter(x => x.isFile && x.getName.endsWith(".parquet"))
              .map(x => x.getName.stripSuffix(".parquet") -> x.getPath).toMap
            val db = tableRows.map(_.database).minOption.getOrElse("default")
            f(db, live)
        }
    }

  private def withLivePath(table: String)(f: String => (Int, String)): (Int, String) =
    dataRoot match {
      case None => (400, obj("error" -> str("no data root configured")))
      case Some(root) => f(s"$root/$table.parquet")
    }

  /** RefreshDatabase (service_refresh.go:222-251): stale cascade via
    * fullRefresh, then partitions + snapshots per live table. */
  private def refreshDatabaseFull(db: String, live: Map[String, String]): Unit = {
    val now = java.time.Instant.now()
    graft.operators.Refresh.fullRefresh(store, db, live, now)
    live.toSeq.sortBy(_._1).foreach { case (table, path) =>
      graft.operators.Refresh.refreshPartitionsLive(store, db, table, path, now)
      graft.operators.Refresh.refreshSnapshotsLive(store, db, table, path, now)
    }
  }

  private def ok(json: String): (Int, String) = (200, json)
  private def notFound(what: String): (Int, String) =
    (404, obj("error" -> str(s"not found: $what")))

  /** Run a request parse/bind step, converting its failures (missing
    * keys, bad numbers/dates/escapes) to [[Api.BadRequest]] so the
    * top-level handler can tell client errors from engine faults. */
  private def bind[T](step: => T): T =
    try step catch {
      case e @ (_: NoSuchElementException | _: NumberFormatException |
          _: java.time.format.DateTimeParseException |
          _: IllegalArgumentException) =>
        throw new Api.BadRequest(Option(e.getMessage).getOrElse(e.toString))
    }
}

object Api {
  /** A client-input failure; raised only by the parse/bind layer. */
  final class BadRequest(msg: String) extends RuntimeException(msg)
}

/** Request/response JSON: render helpers (stable field ordering and
  * spacing — the response snapshots in ApiSpec pin the exact bytes) +
  * a Jackson-backed parser for request bodies (Jackson ships on
  * Spark's classpath; the typed [[JVal]] tree is this layer's small
  * stable surface, the parser behind it is not hand-rolled — same
  * rationale as the manifest layer's StoreIO JSON helpers). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(n: Long): String = n.toString
  def bool(b: Boolean): String = b.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  /** Parse a flat JSON object of string/number values into a string map
    * (numbers keep their text form). A blank body binds as an empty map
    * (endpoints with all-default fields accept it); non-object bodies
    * and nested values are simply not in the map — absent-key defaults
    * or NoSuchElementException→400 handle them, as before. */
  def parseFlat(body: String): Map[String, String] =
    if (body.trim.isEmpty) Map.empty
    else parse(body) match {
      case JObj(f) => f.collect {
        case (k, JStr(s)) => k -> s
        case (k, JNum(raw)) => k -> raw
      }
      case _ => Map.empty
    }

  /** Minimal JSON value tree for the request bodies that carry arrays
    * (maintenance batches: `tables: [...]`; procedure callback:
    * `rows: [{...}]`, `meta: {...}`). */
  sealed trait JVal
  final case class JStr(s: String) extends JVal
  final case class JNum(raw: String) extends JVal
  final case class JBool(b: Boolean) extends JVal
  case object JNull extends JVal
  final case class JObj(fields: Map[String, JVal]) extends JVal
  final case class JArr(items: Seq[JVal]) extends JVal

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Jackson parse of one JSON value into the [[JVal]] tree; throws
    * IllegalArgumentException on malformed input — including trailing
    * content after the value — and the bind layer maps that to a 400. */
  def parse(body: String): JVal =
    try {
      val p = mapper.createParser(body)
      try {
        val node = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
        if (node == null)
          throw new IllegalArgumentException("bad json: empty body")
        if (p.nextToken() != null)
          throw new IllegalArgumentException("bad json: trailing content")
        fromNode(node)
      } finally p.close()
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(
          s"bad json: ${Option(e.getOriginalMessage).getOrElse("malformed")}")
    }

  private def fromNode(n: com.fasterxml.jackson.databind.JsonNode): JVal =
    if (n.isTextual) JStr(n.asText)
    else if (n.isNumber) JNum(n.asText)
    else if (n.isBoolean) JBool(n.asBoolean)
    else if (n.isNull) JNull
    else if (n.isObject) {
      val it = n.properties().iterator()
      val fields = Map.newBuilder[String, JVal]
      while (it.hasNext) {
        val e = it.next()
        fields += e.getKey -> fromNode(e.getValue)
      }
      JObj(fields.result())
    } else if (n.isArray)
      JArr((0 until n.size).map(i => fromNode(n.get(i))))
    else throw new IllegalArgumentException(
      s"bad json: unsupported node type ${n.getNodeType}")

  /** Convenience accessors over a parsed body; absent/mistyped keys
    * throw NoSuchElementException → 400 via bind. */
  def objOf(v: JVal): Map[String, JVal] = v match {
    case JObj(f) => f
    case _ => throw new NoSuchElementException("expected a json object")
  }
  def strOf(v: JVal): String = v match {
    case JStr(s) => s
    case JNum(raw) => raw
    case _ => throw new NoSuchElementException("expected a string")
  }
  def arrOf(v: JVal): Seq[JVal] = v match {
    case JArr(items) => items
    case _ => throw new NoSuchElementException("expected an array")
  }
  def intOf(v: JVal): Int = v match {
    case JNum(raw) => raw.toDouble.toInt
    case JStr(s) => s.toInt
    case _ => throw new NoSuchElementException("expected a number")
  }

}
