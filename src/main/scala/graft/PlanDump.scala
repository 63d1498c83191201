package graft

/** Dump `.explain("formatted")` for a set of registered queries to
  * per-query text files — the optimization-round evidence artifact
  * (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<name>_<suffix>.txt for each named query (all
  * registered queries when the filter is omitted); an unregistered
  * name is an error.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val selected = SparkEntry.select(only)
    val spark = Sessions.local("graft-plans")
    new java.io.File(outDir).mkdirs()
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // cold plan per query, like the bench's fingerprint pass
      graft.util.PlanCache.clearAll()
      spark.sharedState.cacheManager.clearCache()
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
