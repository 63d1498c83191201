package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import perfbench.Harness.{Conf, Op, PassResult}

/** A panel of the registered query suite (`SparkEntry.queries`), warm.
  *
  * Each timed query is built, planned once (`executedPlan`) and then
  * executed by collecting its full result, so the final sort and every
  * projected column are part of the measured work. Derived state
  * (PlanCache entries, cached frames, store directories) persists
  * between queries and passes after the untimed warm-up.
  */
final class Suite(conf: Conf, expected: Map[String, Expected.Entry]) extends Harness.Workload {

  private val registry = graft.SparkEntry.queries

  private val names: Seq[String] = Suite.panel
  names.foreach(n => require(registry.contains(n), s"unknown query $n"))

  /** With the JIT held at its C1 tier (run.py), passes are nearly level
    * from the second one after the first touch. */
  override def settlePasses: Int = 2

  /** Query order of every pass, fixed by the seed. Each pass gets its
    * own order, so a run averages over orders instead of measuring one. */
  private val orders = new scala.util.Random(conf.seed)
  private var order: Seq[String] = orders.shuffle(names.sorted)

  private var sfDir: String = _

  def fixture(spark: SparkSession, dir: String): Unit = {
    val target = Paths.get(dir, "data")
    Files.createDirectories(target)
    val s = Files.list(Paths.get(conf.data))
    try s.filter(_.toString.endsWith(".parquet")).forEach { f =>
      Files.copy(f, target.resolve(f.getFileName))
      ()
    } finally s.close()
    sfDir = target.toString
  }

  def warmUpAndCheck(spark: SparkSession): (Int, Int) = {
    var failed = 0
    val recorded = mutable.ArrayBuffer.empty[(String, Expected.Entry)]
    order.foreach { q =>
      val got =
        try {
          val rows = registry(q)(spark, sfDir).collect()
          Some(Expected.Entry(rows.length.toLong, Digest.of(rows)))
        } catch { case e: Throwable =>
          System.err.println(s"perfbench: $q failed: $e"); None }
      got.foreach(g => recorded += q -> g)
      val ok = got.exists(g => conf.record.isDefined || expected.get(q).contains(g))
      if (!ok) {
        failed += 1
        System.err.println(s"perfbench: check failed for $q: got $got, expected ${expected.get(q)}")
      }
    }
    conf.record.foreach(Expected.write(_, recorded.toSeq))
    (order.size, failed)
  }

  // Traced-pass bookkeeping for the per-layer figures.
  private var cache0 = (0L, 0L, 0L)
  private val queryTimes = mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
  private var buildJobQueries = Seq.empty[String]

  private def catalystS(t: Trace): Double =
    t.seconds("analyze") + t.seconds("optimize") + t.seconds("plan")

  def pass(spark: SparkSession, trace: Trace, jobs: JobListener): PassResult = {
    val sc = spark.sparkContext
    if (trace != null) { cache0 = Suite.planCacheTotals; queryTimes.clear() }
    def timed[A](name: String)(body: => A): A =
      if (trace == null) body else trace.span(name)(body)
    var failed = 0
    order = orders.shuffle(names.sorted)
    val t0 = System.nanoTime()
    val ops = order.map { q =>
      val tq = System.nanoTime()
      val (b0, c0) = if (trace == null) (0.0, 0.0) else (trace.seconds("build"), catalystS(trace))
      try {
        val df = JobListener.inLayer(sc, s"build|$q")(timed("build")(registry(q)(spark, sfDir)))
        val qe = df.queryExecution
        JobListener.inLayer(sc, s"catalyst|$q") {
          timed("analyze")(qe.analyzed)
          timed("optimize")(qe.optimizedPlan)
          timed("plan")(qe.executedPlan)
        }
        val rows = JobListener.inLayer(sc, s"exec|$q")(timed("exec")(df.collect()))
        val wall = (System.nanoTime() - tq) / 1e9
        if (trace != null)
          queryTimes += ((q, wall, trace.seconds("build") - b0, catalystS(trace) - c0))
        if (expected.get(q).exists(_.rows == rows.length)) Op("query", q, wall)
        else {
          System.err.println(s"perfbench: $q returned ${rows.length} rows, expected ${expected.get(q)}")
          failed += 1; Op("query", q, Double.NaN)
        }
      } catch { case e: Throwable =>
        System.err.println(s"perfbench: $q failed: $e"); failed += 1; Op("query", q, Double.NaN) }
    }
    PassResult((System.nanoTime() - t0) / 1e9, ops, failed)
  }

  def layerMetrics(spark: SparkSession, trace: Trace, jobs: JobListener): Map[String, Double] = {
    val (h1, m1, e1) = Suite.planCacheTotals
    val (hits, misses, evictions) = (h1 - cache0._1, m1 - cache0._2, e1 - cache0._3)
    val gap = queryTimes.toSeq.map { case (q, wall, b, c) =>
      wall - b - c - jobs.jobUnionMs(s"exec|$q") / 1000.0
    }.sum
    buildJobQueries = names.filter(q => jobs.layer(s"build|$q").jobs > 0)
    Suite.commonLayers(spark, trace, jobs, conf.cores, execWall = trace.seconds("exec")) ++ Map(
      "queries.build_s" -> trace.seconds("build"),
      "queries.build_jobs" -> jobs.total("build")(_.jobs).toDouble,
      "queries.build_job_s" -> jobs.total("build")(_.jobMs) / 1000.0,
      "catalyst.analyze_s" -> trace.seconds("analyze"),
      "catalyst.optimize_s" -> trace.seconds("optimize"),
      "catalyst.plan_s" -> trace.seconds("plan"),
      "driver.gap_s" -> gap,
      "plancache.hits" -> hits.toDouble,
      "plancache.misses" -> misses.toDouble,
      "plancache.evictions" -> evictions.toDouble,
      "plancache.hit_ratio" -> (if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)))
  }

  def report(passes: Seq[PassResult]): Seq[(String, Double, String)] = {
    val lat = passes.flatMap(_.ops.map(_.s))
    Seq(("query_p50_s", Stats.quantile(lat, 0.5), "s"),
      ("query_p90_s", Stats.quantile(lat, 0.9), "s"),
      ("queries_per_pass", names.size.toDouble, "count"))
  }

  override def reportTraced(): Seq[(String, String)] = Seq(
    "queries_with_build_jobs" -> Json.arr(buildJobQueries.map(Json.str)),
    "queries_with_build_jobs_count" -> Json.str(s"${buildJobQueries.size}/${names.size}"))
}

object Suite {

  /** The query panel, five of the registered queries, chosen from a
    * traced warm pass of all of them (README, "The query panel"): one
    * query from each fifth of the warm-latency distribution, picked so
    * that the panel's split of query time into build, Catalyst,
    * execution jobs and driver gap, its shares of queries that start
    * build jobs and that hit the PlanCache, and its median latency match
    * the whole suite's. */
  val panel: Seq[String] = Seq(
    "q7_join_agg", "q35_outer_join", "q65_pii_redact", "q131_kanon_risk", "q136_clustering_quality")

  /** Drop every piece of derived state the engine keeps between queries. */
  def clearDerivedState(spark: SparkSession): Unit = {
    graft.util.PlanCache.clearAll()
    spark.sharedState.cacheManager.clearCache()
    graft.operators.GraftTable.clearSessionState()
    graft.operators.ScdStore.clearSessionState()
    graft.operators.DeleteStore.clearSessionState()
    graft.operators.IntervalIndexStore.clearSessionState()
    graft.operators.SkippingIndex.clearSessionState()
    graft.sources.SkippingScan.clearSessionState()
  }

  /** Lifetime (hits, misses, evictions) summed over every PlanCache. */
  def planCacheTotals: (Long, Long, Long) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.util.PlanCache.statsJson)
    import scala.jdk.CollectionConverters._
    node.elements().asScala.foldLeft((0L, 0L, 0L)) { case ((h, m, e), c) =>
      (h + c.path("hits").asLong(), m + c.path("misses").asLong(), e + c.path("evictions").asLong())
    }
  }

  /** Execution, source-load, storage and GC figures every workload
    * shares. Execution is every job not started while building, leaving
    * out the untimed fixture reset. */
  def commonLayers(spark: SparkSession, trace: Trace, jobs: JobListener, cores: Int,
      execWall: Double): Map[String, Double] = {
    def all(f: jobs.Acc => Long): Long = jobs.keys.filter(_ != JobListener.Reset).map { k =>
      val a = jobs.layer(k); a.synchronized(f(a)) }.sum
    def exec(f: jobs.Acc => Long): Long = all(f) - jobs.total("build")(f)
    val taskRun = exec(_.taskRunMs) / 1000.0
    Map(
      "sources.load_jobs" -> all(_.sourceJobs).toDouble,
      "sources.load_s" -> all(_.sourceJobMs) / 1000.0,
      "exec.wall_s" -> execWall,
      "exec.jobs" -> exec(_.jobs).toDouble,
      "exec.stages" -> exec(_.stages).toDouble,
      "exec.tasks" -> exec(_.tasks).toDouble,
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> exec(_.taskCpuNs) / 1e9,
      "exec.task_gc_s" -> exec(_.taskGcMs) / 1000.0,
      "exec.shuffle_write_bytes" -> exec(_.shuffleWrite).toDouble,
      "exec.shuffle_read_bytes" -> exec(_.shuffleRead).toDouble,
      "exec.spill_bytes" -> exec(_.spill).toDouble,
      "exec.input_bytes" -> exec(_.input).toDouble,
      "exec.idle_core_frac" -> (if (execWall <= 0) 0.0 else 1.0 - taskRun / (execWall * cores)),
      "storage.cached_mem_bytes" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble,
      "jvm.gc_s" -> trace.count("jvm.gc_s"))
  }
}
