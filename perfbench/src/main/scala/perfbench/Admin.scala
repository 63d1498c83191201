package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.{Instant, LocalDate}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.http.Api
import graft.meta.{MetaStore, Model}
import graft.operators.{GraftTable, ScdMerge, ScdStore}
import perfbench.Harness.{Conf, Op, PassResult}

/** The admin service path: HTTP requests against `http.Api` on an
  * ephemeral port, maintenance tasks drained through
  * `Engine.processNext`, and one GraftTable and one ScdStore lifecycle
  * per pass through the stores' public commit and read functions.
  *
  * Fixture: two day-partitioned parquet tables (`events_days`,
  * `lineitem_days`) with several small files per day, split by the seed,
  * registered in a MetaStore with their partitions and a snapshot chain;
  * three single-file tables under the live data root for the refresh
  * routes. Before every pass the optimize window and the snapshot chain
  * are reset, outside the pass's timing, so every pass does the same
  * work.
  */
final class Admin(conf: Conf) extends Harness.Workload {

  private val db = "lake"
  private val filesPerDay = 4
  /** The day each pass optimizes (the task compacts its small files). */
  private val optimizeDay = "events_days" -> LocalDate.parse("2024-01-03")

  private var dir: String = _
  private var store: MetaStore = _
  private var engine: Engine = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()
  private var passNo = 0
  private var userBytes = Double.NaN
  private var userBytesRatio = Double.NaN

  // Source slices and the row counts every read is checked against.
  private var sources: Map[String, DataFrame] = Map.empty
  private var batches: Seq[DataFrame] = Nil
  private var batchRows: Seq[Long] = Nil
  private var erase: DataFrame = _
  private var erasedRows: Long = 0L
  private var scdLog: DataFrame = _
  private var scdRows: Long = 0L

  private def tablePath(t: String) = s"$dir/tables/$t"

  def fixture(spark: SparkSession, d: String): Unit = {
    import spark.implicits._
    import MetaStore._
    close()
    dir = d
    val sf = conf.data
    Files.createDirectories(Paths.get(d, "live"))
    Seq("nation", "supplier", "orders").foreach(t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(d, "live", s"$t.parquet")))

    val events = graft.sources.Tables.events(spark, sf)
    val lineitem = graft.sources.Tables.lineitem(spark, sf)
    // Ten days of events, and one year of lineitem on month-start days.
    sources = Map(
      "events_days" -> events.withColumn("date", date_format($"ts", "yyyy-MM-dd"))
        .where($"date" < "2024-01-11"),
      "lineitem_days" -> lineitem.withColumn("date",
        date_format(trunc($"l_shipdate", "month"), "yyyy-MM-dd")).where($"date".startsWith("1996")))
    sources.keys.foreach(t => writeDays(spark, t, None))

    store = new MetaStore(spark, s"$d/meta")
    val now = Instant.now()
    val spec = Seq("year", "month", "day").map(f => Model.PartitionField(f, "date_day",
      isHidden = true, Some(Model.HiddenTransform("date", "day"))))
    store.write("tables", spark.createDataset(sources.toSeq.map { case (t, df) =>
      Model.TableMeta(db, t, df.schema.fields.toSeq.map(f =>
        Model.TableColumn(f.name, f.dataType.simpleString)), spec, Some(5L), Timestamp.from(now))
    }))
    resetMetadata(spark)
    engine = new Engine(store)
    server = new Api(store, engine, Some(s"$d/live")).start(0)
    base = s"http://localhost:${server.getAddress.getPort}/api"

    // GraftTable batches: lineitem split three ways by a seeded hash;
    // the erasure deletes every line of a finished order.
    val part = pmod(xxhash64(lit(conf.seed), $"l_orderkey"), lit(2))
    batches = (0 until 2).map(i => lineitem.where(part === i))
    erase = graft.sources.Tables.orders(spark, sf).where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey"))
    scdLog = events.where($"event_type" === "signup" || $"event_type" === "purchase")
      .select($"user_id", $"event_id", $"event_type", $"ts")
  }

  /** Row counts every store read is checked against, from the sources. */
  private def expectCounts(): Unit = if (batchRows.isEmpty) {
    batchRows = batches.map(_.count())
    erasedRows = batches.reduce(_ union _).join(erase, "l_orderkey").count()
    scdRows = ScdMerge.compress(scdLog, "user_id", "ts", Seq("event_type"), Seq("event_id")).count()
  }

  /** (Re)write a day table with `filesPerDay` files per day, rows split
    * across files by a seeded hash; `only` restricts the rewrite to the
    * days of the optimize window (dynamic partition overwrite). */
  private def writeDays(spark: SparkSession, t: String, only: Option[(LocalDate, LocalDate)]): Unit = {
    val src = sources(t)
    val slice = only.fold(src) { case (f, to) =>
      src.where(col("date") >= f.toString && col("date") <= to.toString) }
    val key = pmod(xxhash64(lit(conf.seed), struct(src.columns.filter(_ != "date").map(col): _*)),
      lit(filesPerDay))
    slice.repartition(filesPerDay, key)
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(tablePath(t))
  }

  /** Partition rows (every day flagged for optimize) and a snapshot
    * chain 1 <- 3 <- 4 <- 5 plus an expired-branch snapshot 2. */
  private def resetMetadata(spark: SparkSession): Unit = {
    import MetaStore._
    val now = Instant.now()
    val parts = sources.keys.toSeq.sorted.flatMap { t =>
      val days = Files.list(Paths.get(tablePath(t)))
      val names = try days.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString) finally days.close()
      names.filter(_.startsWith("date=")).sorted.map { n =>
        val d = LocalDate.parse(n.stripPrefix("date="))
        Model.PartitionStat(db, t, Map("year" -> f"${d.getYear}%04d",
          "month" -> f"${d.getMonthValue}%02d", "day" -> f"${d.getDayOfMonth}%02d"),
          0, 100L, filesPerDay.toLong, 4096L, Timestamp.from(now), 5L, true)
      }
    }
    store.write("partitions", spark.createDataset(parts))
    val old = Timestamp.from(now.minusSeconds(90L * 86400))
    val recent = Timestamp.from(now.minusSeconds(86400))
    store.write("snapshots", spark.createDataset(sources.keys.toSeq.sorted.flatMap { t =>
      Seq((1L, None, old), (2L, Some(1L), old), (3L, Some(1L), old),
        (4L, Some(3L), recent), (5L, Some(4L), recent)).map { case (id, parent, at) =>
        Model.SnapshotMeta(db, t, at, id, parent, "append", s"m$id", Map.empty)
      }
    }))
  }

  def warmUpAndCheck(spark: SparkSession): (Int, Int) = {
    expectCounts()
    val r = pass(spark, null, null)
    // Stored bytes per live user byte, from the stores the pass left.
    val live = Seq(GraftTable.read(spark, gtDir), ScdStore.table(spark, scdDir))
    userBytes = live.zipWithIndex.map { case (df, i) =>
      val p = s"$dir/tmp-live-$i"
      df.write.mode(SaveMode.Overwrite).parquet(p)
      Stats.dirBytes(Paths.get(p))
    }.sum.toDouble
    userBytesRatio = (Stats.dirBytes(Paths.get(gtDir)) + Stats.dirBytes(Paths.get(scdDir))).toDouble /
      userBytes
    (r.ops.size, r.failed)
  }

  private def gtDir = s"$dir/stores/table-$passNo"
  private def scdDir = s"$dir/stores/scd-$passNo"

  def pass(spark: SparkSession, trace: Trace, jobs: JobListener): PassResult = {
    // Reset, untimed: the optimize day back to small files, the snapshot
    // chain restored, the previous pass's stores removed. Its jobs go to
    // their own layer, which no per-layer figure counts.
    JobListener.inLayer(spark.sparkContext, JobListener.Reset) {
      writeDays(spark, optimizeDay._1, Some((optimizeDay._2, optimizeDay._2)))
      resetMetadata(spark)
    }
    Seq(gtDir, scdDir).foreach(p => deleteTree(Paths.get(p)))
    passNo += 1

    val ops = mutable.ArrayBuffer.empty[Op]
    var failed = 0
    val seen = mutable.Set.empty[String]
    def op(kind: String, span: String)(body: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = try body catch { case e: Throwable =>
        System.err.println(s"perfbench: $span failed: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      if (trace != null) {
        trace.addSpan(span, (dt * 1e9).toLong)
        if (span.startsWith("store.")) {
          val now = Stats.dirFiles(Paths.get(s"$dir/stores"))
          val fresh = now -- seen
          trace.add("store.files_written", fresh.size.toDouble)
          trace.add("store.bytes_written", fresh.toSeq.map(f => Files.size(Paths.get(f))).sum.toDouble)
          seen ++= fresh
        }
      }
      ops += Op(kind, span, if (ok) dt else Double.NaN)
      if (!ok) failed += 1
    }
    // Queue writes: the files under the tasks and settings tables that a
    // call created or changed, summed by size. The directories are listed
    // outside the call's timing.
    val queueDirs = Seq("tasks", "settings").map(t => Paths.get(store.path(t)))
    def queueState = queueDirs.flatMap(Stats.dirState).toMap
    def queueWrites[A](body: => A): A =
      if (trace == null) body
      else {
        val before = queueState
        try body finally {
          val written = queueState.filter { case (f, st) => !before.get(f).contains(st) }
          trace.add("queue.bytes", written.values.map(_._1).sum.toDouble)
        }
      }
    def get(span: String, path: String): Unit = op("api", span)(http("GET", path, "")._1 / 100 == 2)

    val t0 = System.nanoTime()
    // -- HTTP reads: refresh, browse, metadata ---------------------------
    get("api.refresh_s", s"/refresh/$db/orders")
    get("api.browse_s", s"/browse/$db/events_days")
    op("api", "api.browse_s")(http("POST", s"/browse/$db/lineitem_days/partitions", "{}")._1 == 200)
    get("api.metadata_s", s"/metadata/$db/events_days/partitions")
    get("api.metadata_s", s"/metadata/$db/lineitem_days/snapshots")

    // -- HTTP enqueues, then drain through the worker ---------------------
    val (optTable, day) = optimizeDay
    queueWrites(op("api", "api.enqueue_s") {
      val (code, body) = http("POST", s"/tasks/$db/$optTable/optimize",
        s"""{"from": "$day", "to": "$day", "chunk_by": "day"}""")
      code == 200 && body.contains("taskIds") && !body.contains("[]")
    })
    queueWrites(op("api", "api.enqueue_s")(http("POST", s"/tasks/$db/lineitem_days/expire-snapshots",
      """{"retention_days": 7}""")._1 == 200))
    queueWrites(op("api", "api.enqueue_s")(http("POST", s"/tasks/$db/lineitem_days/remove-orphan-files",
      """{"retention_days": 7}""")._1 == 200))

    val paths = sources.keys.map(t => (db, t) -> tablePath(t)).toMap
    val drained = mutable.ArrayBuffer.empty[(Long, Double)]
    var draining = true
    while (draining) {
      val (id, dt) = queueWrites {
        val t1 = System.nanoTime()
        val id = try engine.processNext(1, paths) catch { case e: Throwable =>
          System.err.println(s"perfbench: processNext failed: $e"); None }
        (id, (System.nanoTime() - t1) / 1e9)
      }
      id.foreach(taskId => drained += taskId -> dt)
      draining = id.isDefined
    }
    // Every drained task must have ended in success; the listing also
    // names each task's kind.
    var listed = Map.empty[Long, com.fasterxml.jackson.databind.JsonNode]
    op("api", "api.tasks_s") {
      val (code, body) = http("GET", "/tasks?limit=1000", "")
      import scala.jdk.CollectionConverters._
      listed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body).path("items")
        .elements().asScala.map(n => n.path("id").asLong() -> n).toMap
      code == 200 && listed.size == drained.size
    }
    drained.foreach { case (taskId, dt) =>
      val task = listed.get(taskId)
      val ok = task.exists(_.path("status").asText() == Model.TaskStatus.Success)
      if (!ok) { failed += 1; System.err.println(s"perfbench: task $taskId did not succeed: $task") }
      val kind = task.map(_.path("kind").asText()).getOrElse("")
      val span = kind match {
        case Model.TaskKind.Optimize => "engine.optimize_s"
        case Model.TaskKind.ExpireSnapshots => "engine.expire_s"
        case _ => "engine.orphans_s"
      }
      ops += Op("task", span, if (ok) dt else Double.NaN)
      if (trace != null) task.foreach { t =>
        trace.addSpan(span, (dt * 1e9).toLong)
        if (t.path("retried").asBoolean()) trace.add("engine.retries", 1.0)
        if (kind == Model.TaskKind.Optimize) {
          trace.add("maintenance.files_before", t.path("result").path("files_before").asDouble())
          trace.add("maintenance.files_after", t.path("result").path("files_after").asDouble())
        }
      }
    }
    queueWrites(op("api", "api.tasks_s")(http("DELETE", "/tasks", "")._1 == 200))
    // Queue mutations requested: 3 enqueues, a claim and a completion per
    // drained task, and the flush.
    if (trace != null) trace.add("queue.ops", 3 + 2 * drained.size + 1)

    // -- GraftTable lifecycle --------------------------------------------
    val gt = gtDir
    def rowsOf(df: => DataFrame, n: Long): Boolean = df.count() == n
    op("commit", "store.append_s") {
      GraftTable.create(spark, gt, zoneCols = Seq("l_partkey"), bloomCols = Seq("l_orderkey"),
        deleteKeys = Seq("l_orderkey")); true }
    batches.zipWithIndex.foreach { case (b, i) =>
      op("commit", "store.append_s") { GraftTable.append(b, gt, s"b$i"); true }
    }
    val total = batchRows.sum
    op("commit", "store.delete_s") { GraftTable.delete(erase, gt, "erase-1"); true }
    // commits: 1 create, 2-3 appends, 4 delete
    op("read", "store.read_s")(rowsOf(GraftTable.tableAt(spark, gt, 2L), batchRows.head))
    op("read", "store.read_s")(rowsOf(GraftTable.changesBetween(spark, gt, 2L, 4L),
      batchRows(1) + erasedRows))
    op("commit", "store.optimize_s") { GraftTable.optimize(spark, gt, "opt-1", nFiles = 4); true }
    op("commit", "store.expire_s")(GraftTable.expireCommits(spark, gt, keepLast = 2) > 0)
    op("commit", "store.vacuum_s") { GraftTable.vacuum(spark, gt); true }
    op("read", "store.read_s")(rowsOf(GraftTable.read(spark, gt), total - erasedRows))

    // -- ScdStore lifecycle ----------------------------------------------
    val scd = scdDir
    val c1 = lit("2024-01-16").cast("timestamp")
    op("commit", "store.append_s") {
      ScdStore.init(scdLog.where(col("ts") < c1), scd, key = "user_id", ts = "ts",
        values = Seq("event_type"), carry = Seq("event_id")); true }
    op("commit", "store.append_s") { ScdStore.applyBatch(scdLog.where(col("ts") >= c1), scd, "b1"); true }
    op("commit", "store.expire_s")(ScdStore.expireCommits(spark, scd, keepLast = 1) > 0)
    op("commit", "store.vacuum_s") { ScdStore.vacuum(spark, scd); true }
    op("read", "store.read_s")(rowsOf(ScdStore.table(spark, scd), scdRows))

    PassResult((System.nanoTime() - t0) / 1e9, ops.toSeq, failed)
  }

  private def http(method: String, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() / 100 != 2)
      System.err.println(s"perfbench: $method $path -> ${r.statusCode()} ${r.body().take(300)}")
    (r.statusCode(), r.body())
  }

  def layerMetrics(spark: SparkSession, trace: Trace, jobs: JobListener): Map[String, Double] = {
    val spans = Seq("refresh", "browse", "metadata", "tasks", "enqueue").map(k => s"api.${k}_s") ++
      Seq("optimize", "expire", "orphans").map(k => s"engine.${k}_s") ++
      Seq("append", "delete", "optimize", "vacuum", "expire", "read").map(k => s"store.${k}_s")
    val counts = Seq("engine.retries", "maintenance.files_before", "maintenance.files_after",
      "store.files_written", "store.bytes_written")
    Suite.commonLayers(spark, trace, jobs, conf.cores, execWall = spans.map(trace.seconds).sum) ++
      spans.map(k => k -> trace.seconds(k)) ++ counts.map(k => k -> trace.count(k)) ++ Map(
        "queue.bytes_written_per_op" -> trace.count("queue.bytes") / math.max(1.0, trace.count("queue.ops")),
        "store.write_amp" -> trace.count("store.bytes_written") / userBytes)
  }

  def report(passes: Seq[PassResult]): Seq[(String, Double, String)] = {
    def lat(kind: String) = passes.flatMap(_.ops.filter(_.kind == kind).map(_.s))
    def pair(name: String, kinds: String*) = {
      val xs = kinds.flatMap(lat)
      Seq((s"${name}_p50_s", Stats.quantile(xs, 0.5), "s"), (s"${name}_p90_s", Stats.quantile(xs, 0.9), "s"))
    }
    pair("api", "api") ++ pair("task", "task") ++ pair("commit", "commit") ++ pair("read", "read") :+
      (("stored_bytes_per_user_byte", userBytesRatio, "ratio"))
  }

  override def clearDerivedState(spark: SparkSession): Unit = {
    close()
    Suite.clearDerivedState(spark)
  }

  override def close(): Unit = {
    if (server != null) { server.stop(0); server = null }
    if (engine != null) { engine.queue.close(); engine = null }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
    }
}
