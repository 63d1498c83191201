package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run in one JVM: set up, warm up and check outputs
  * untimed, then drive a closed loop of passes over the workload until
  * the time is up, and print two JSON lines: the report, then the result.
  *
  * {{{
  * Harness --workload suite_warm|admin_service --seed N
  *         --seconds S --trace 0|1 --data DIR --root DIR --expected FILE
  *         [--record FILE]
  * }}}
  *
  * `--data` holds the source parquet tables, `--root` is an empty
  * scratch directory the run owns (fixtures, stores, MetaStore, temp
  * dirs), `--expected` the recorded per-query row counts and result
  * digests. `--record` writes that file instead of checking against it.
  */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, root: String, expected: String, record: Option[String], cores: Int)

  /** One timed operation: its kind (query, api, task, commit, read), the
    * operation it is (a query or a span name) and its latency, NaN if it
    * failed. */
  final case class Op(kind: String, name: String, s: Double)

  /** What a workload reports for one pass. */
  final case class PassResult(wallS: Double, ops: Seq[Op], failed: Int)

  trait Workload {
    /** Fresh fixture under `dir`; returns nothing, keeps its own state. */
    def fixture(spark: SparkSession, dir: String): Unit
    /** Untimed warm-up that also checks outputs; returns (attempted, failed). */
    def warmUpAndCheck(spark: SparkSession): (Int, Int)
    /** Untimed passes after the warm-up, until the JIT has settled. */
    def settlePasses: Int = 0
    /** One timed pass; `trace` is non-null on a traced pass. */
    def pass(spark: SparkSession, trace: Trace, jobs: JobListener): PassResult
    /** Per-layer metrics of one traced pass. */
    def layerMetrics(spark: SparkSession, trace: Trace, jobs: JobListener): Map[String, Double]
    /** Workload-specific end-to-end figures for the report line. */
    def report(passes: Seq[PassResult]): Seq[(String, Double, String)]
    /** Extra JSON fields for the traced report line. */
    def reportTraced(): Seq[(String, String)] = Nil
    def clearDerivedState(spark: SparkSession): Unit = Suite.clearDerivedState(spark)
    /** Release what the workload holds open (servers, lock files). */
    def close(): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    val code = try run(conf) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", need("data"), need("root"), need("expected"),
      m.get("record"), Runtime.getRuntime.availableProcessors())
  }

  private var session: SparkSession = _

  private def newSession(conf: Conf): SparkSession = {
    if (session != null) session.stop()
    session = graft.Sessions.local("perfbench", conf.cores.toString)
    session
  }

  def run(conf: Conf): Int = {
    val expected = Expected.load(conf.expected)
    val workload: Workload = conf.workload match {
      case "suite_warm" => new Suite(conf, expected)
      case "admin_service" => new Admin(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, three times: session start and fixture generation, each
    // from a clean slate. The median is the set-up figure; the last
    // session and fixture are the ones measured.
    val setups = (0 until 3).map { i =>
      if (session != null) workload.clearDerivedState(session)
      val t0 = System.nanoTime()
      val spark = newSession(conf)
      workload.fixture(spark, s"${conf.root}/fixture$i")
      (System.nanoTime() - t0) / 1e9
    }
    val spark = session

    val tw = System.nanoTime()
    val (checked, checkFailed) = workload.warmUpAndCheck(spark)
    val settled = (0 until workload.settlePasses).map(_ => workload.pass(spark, null, null))
    val warmUpS = (System.nanoTime() - tw) / 1e9
    val setupS = Stats.median(setups) + warmUpS
    val retainedMb = Stats.retainedHeapMb
    if (conf.record.isDefined) return 0

    val jobs = new JobListener
    val gc0 = Stats.gcSeconds
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val tracedPasses = mutable.ArrayBuffer.empty[PassResult]
    val untracedForOverhead = mutable.ArrayBuffer.empty[PassResult]
    val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
    val steal0 = Stats.cpuTicks
    val deadline = System.nanoTime() + conf.seconds * 1000000000L
    var i = 0
    // A traced run alternates untraced and traced passes so the gap
    // between them is the tracing overhead; only traced passes feed
    // the per-layer figures.
    def enough: Boolean =
      if (conf.trace) tracedPasses.nonEmpty && untracedForOverhead.nonEmpty else passes.nonEmpty
    while (System.nanoTime() < deadline || !enough) {
      val traced = conf.trace && i % 2 == 1
      if (traced) {
        org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
        jobs.reset()
        spark.sparkContext.addSparkListener(jobs)
        val trace = new Trace
        val gcBefore = Stats.gcSeconds
        val r = workload.pass(spark, trace, jobs)
        org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
        trace.add("jvm.gc_s", Stats.gcSeconds - gcBefore)
        tracedPasses += r
        layerSamples += workload.layerMetrics(spark, trace, jobs)
      } else {
        val r = workload.pass(spark, null, null)
        if (conf.trace) untracedForOverhead += r else passes += r
      }
      i += 1
    }
    val measured = if (conf.trace) untracedForOverhead.toSeq ++ tracedPasses else passes.toSeq
    val attempted = checked + (settled ++ measured).map(_.ops.size).sum
    val failed = checkFailed + (settled ++ measured).map(_.failed).sum

    val rssMb = Stats.peakRssMb
    val stealFrac = Stats.stealFraction(steal0, Stats.cpuTicks)
    val report = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(conf.workload),
      "seed" -> conf.seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "session_cores" -> spark.sparkContext.defaultParallelism.toString,
      "data" -> Json.str(Paths.get(conf.data).getFileName.toString),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "cpu_steal_frac" -> Json.num(stealFrac),
      "spark" -> Json.str(spark.version),
      "passes" -> measured.size.toString,
      "setup_samples_s" -> Json.arr(setups.map(Json.num)),
      "warm_up_s" -> Json.num(warmUpS),
      "failed_frac" -> Json.num(failed.toDouble / math.max(1, attempted)))

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) {
        val walls = passes.map(_.wallS).toSeq
        report ++= workload.report(passes.toSeq).map { case (n, v, u) => n -> Json.metric(v, u) }
        report += "peak_rss_mb" -> Json.metric(rssMb, "MB")
        report += "pass_walls_s" -> Json.arr(walls.map(Json.num))
        report += "op_samples" -> passes.map(_.ops.size).sum.toString
        report += "op_p50_s" -> Json.obj(passes.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
          .map { case (n, xs) => n -> Json.num(Stats.median(xs.map(_.s).toSeq)) }: _*)
        report += "jvm_gc_s_per_pass" -> Json.num((Stats.gcSeconds - gc0) / math.max(1, passes.size))
        Seq(
          ("setup_s", setupS, "s"),
          ("pass_s", Stats.median(walls), "s"),
          ("op_p50_geomean_s", Stats.medianGeomean(passes.flatMap(_.ops).toSeq), "s"),
          ("heap_retained_mb", retainedMb, "MB"))
      } else {
        val merged = Stats.mergeLayerSamples(layerSamples.toSeq)
        report += "varying" -> Json.arr(merged.varying.map(Json.str))
        report += "traced_passes" -> tracedPasses.size.toString
        report ++= workload.reportTraced().map { case (k, v) => k -> v }
        val overhead = Stats.median(tracedPasses.map(_.wallS).toSeq) /
          Stats.median(untracedForOverhead.map(_.wallS).toSeq) - 1.0
        LayerNames.all.map { case (n, u) =>
          (n, if (n == "trace_overhead_frac") overhead else merged.values.getOrElse(n, 0.0), u)
        }
      }

    println(Json.obj("report" -> Json.obj(report.toSeq: _*)))
    println(Json.obj(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.metric(v, u) }: _*)))
    workload.close()
    spark.stop()
    0
  }
}

/** Names and units of the per-layer metrics, in report order. */
object LayerNames {
  val all: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.build_job_s" -> "s",
    "sources.load_jobs" -> "count", "sources.load_s" -> "s",
    "catalyst.analyze_s" -> "s", "catalyst.optimize_s" -> "s", "catalyst.plan_s" -> "s",
    "exec.wall_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.task_gc_s" -> "s", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.input_bytes" -> "bytes", "exec.idle_core_frac" -> "frac",
    "driver.gap_s" -> "s",
    "plancache.hits" -> "count", "plancache.misses" -> "count",
    "plancache.evictions" -> "count", "plancache.hit_ratio" -> "frac",
    "storage.cached_mem_bytes" -> "bytes",
    "api.refresh_s" -> "s", "api.browse_s" -> "s", "api.metadata_s" -> "s",
    "api.tasks_s" -> "s", "api.enqueue_s" -> "s",
    "engine.optimize_s" -> "s", "engine.expire_s" -> "s", "engine.orphans_s" -> "s",
    "engine.retries" -> "count",
    "maintenance.files_before" -> "count", "maintenance.files_after" -> "count",
    "queue.bytes_written_per_op" -> "bytes",
    "store.append_s" -> "s", "store.delete_s" -> "s", "store.optimize_s" -> "s",
    "store.vacuum_s" -> "s", "store.expire_s" -> "s", "store.read_s" -> "s",
    "store.bytes_written" -> "bytes", "store.files_written" -> "count",
    "store.write_amp" -> "ratio",
    "jvm.gc_s" -> "s",
    "trace_overhead_frac" -> "frac")

  /** Counts that must repeat exactly between runs of the same code at a
    * fixed core count and seed. */
  val exactRepeat: Seq[String] = Seq("queries.build_jobs", "exec.tasks",
    "exec.shuffle_write_bytes", "plancache.hits", "plancache.misses", "store.files_written")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean over the distinct operations of each one's median
    * latency: every query of the panel, every span of the admin pass
    * weighs the same, however often it runs. A change of one operation
    * by a factor f moves it by f^(1/n) for n operations, smoothly,
    * where a median over all samples would jump between operations. */
  def medianGeomean(ops: Seq[Harness.Op]): Double = {
    val medians = ops.groupBy(_.name).values.map(xs => median(xs.map(_.s)))
    math.exp(medians.map(math.log).sum / medians.size)
  }

  /** Nearest-rank-interpolated quantile; a NaN (failed operation) sorts
    * as +infinity, so failures count as missing every latency. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.map(x => if (x.isNaN) Double.PositiveInfinity else x).sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Heap still live after a full collection, in MB: what the engine
    * holds on to (cached frames, PlanCache entries, store state). Taken
    * after the warm-up, so it does not depend on how many timed passes
    * fit the run; steadier than the resident set, which follows the
    * collector's heap sizing. */
  def retainedHeapMb: Double = {
    System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (steal, total) jiffies of the host's CPUs, from /proc/stat. */
  def cpuTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Share of CPU time the hypervisor gave to other guests in between. */
  def stealFraction(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  final case class Merged(values: Map[String, Double], varying: Seq[String])

  /** Median of each metric over traced passes; a declared exact count
    * that differs between passes is listed as varying. */
  def mergeLayerSamples(samples: Seq[Map[String, Double]]): Merged = {
    val names = samples.flatMap(_.keys).distinct
    val values = names.map(n => n -> median(samples.map(_.getOrElse(n, 0.0)))).toMap
    val varying = LayerNames.exactRepeat.filter(n => samples.map(_.getOrElse(n, 0.0)).distinct.size > 1)
    Merged(values, varying)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Every regular file under `p` with its (size, modification time). */
  def dirState(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).iterator().asScala.map { f =>
        f.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
      }.toMap finally s.close()
    }

  def dirFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).iterator().asScala.map(_.toString).toSet finally s.close()
    }
}

object Json {
  def str(s: String): String = graft.http.Json.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metric(v: Double, unit: String): String = obj("value" -> num(v), "unit" -> str(unit))
}

/** Order-insensitive result digest: every row is rendered canonically
  * (doubles to 12 significant digits, maps by sorted key), hashed, and
  * the hashes summed, so the digest is independent of row order and of
  * partitioning. */
object Digest {
  def of(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(render(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(b).getLong
    }
    f"${rows.length}%d:$acc%016x"
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.12g"
    case f: Float => f"${f.toDouble}%.6g"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** Recorded per-query row counts and digests. */
object Expected {
  final case class Entry(rows: Long, digest: String)

  def load(path: String): Map[String, Entry] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      import scala.jdk.CollectionConverters._
      node.path("queries").fields().asScala.map { e =>
        e.getKey -> Entry(e.getValue.path("rows").asLong(), e.getValue.path("digest").asText())
      }.toMap
    }
  }

  def write(path: String, entries: Seq[(String, Entry)]): Unit = {
    val body = entries.sortBy(_._1).map { case (q, e) =>
      s"""    ${Json.str(q)}: {"rows": ${e.rows}, "digest": ${Json.str(e.digest)}}"""
    }.mkString(",\n")
    Files.writeString(Paths.get(path), s"{\n  \"queries\": {\n$body\n  }\n}\n")
  }
}
