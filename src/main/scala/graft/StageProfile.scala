package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev profiling harness: per-STAGE breakdown of a registered query.
  *
  *   sbt "runMain graft.StageProfile <sfDir> q89_co_occurrence [q138...]"
  *
  * Runs each query `SPARK_GRAFT_ROUNDS` times (default 2 — round 1
  * pays index builds, round 2 is the steady state the bench median
  * sees) and prints, for the LAST round only, every completed stage
  * with wall duration, task count, total executor run/CPU time,
  * shuffle read/write bytes and the first line of its call site. This
  * is the guide-§1 "which stage is the time going to" measurement the
  * disabled UI would otherwise provide. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    val fns = SparkEntry.select(Some(names.toSet))
    val spark = Sessions.local("graft-stageprofile", Sessions.defaultCores)
    val sc = spark.sparkContext

    final case class St(name: String, wallMs: Long, tasks: Int,
        runMs: Long, cpuMs: Long, shufReadB: Long, shufWriteB: Long,
        inputB: Long, site: String)

    names.foreach { name =>
      val fn = fns(name)
      (1 to rounds).foreach { r =>
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]
        val listener = new SparkListener {
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
            val i = e.stageInfo
            val m = i.taskMetrics
            val wall = (for {a <- i.completionTime; b <- i.submissionTime}
              yield a - b).getOrElse(-1L)
            stages.add(St(i.name.takeWhile(_ != '\n'), wall, i.numTasks,
              m.executorRunTime, m.executorCpuTime / 1000000L,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              m.inputMetrics.bytesRead,
              i.details.linesIterator.take(2).mkString(" | ")))
          }
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ()
        }
        org.apache.spark.graftbridge.ListenerDrain.drain(sc)
        sc.addSparkListener(listener)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        finally {
          org.apache.spark.graftbridge.ListenerDrain.drain(sc)
          sc.removeSparkListener(listener)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE $name round $r: $secs%.3f s, ${stages.size} stages")
        if (r == rounds) {
          import scala.jdk.CollectionConverters._
          val sorted = stages.asScala.toSeq.sortBy(-_.wallMs)
          sorted.take(25).foreach { s =>
            println(f"  STAGE ${s.wallMs}%6d ms wall | ${s.tasks}%4d tasks | " +
              f"run ${s.runMs}%6d ms | cpu ${s.cpuMs}%6d ms | " +
              f"in ${s.inputB / 1024}%8d KiB | sr ${s.shufReadB / 1024}%7d KiB | " +
              f"sw ${s.shufWriteB / 1024}%7d KiB | ${s.name}%-30s | ${s.site}")
          }
          val totWall = sorted.map(_.wallMs).sum
          println(f"  TOTAL stage wall $totWall ms across ${sorted.size} stages " +
            f"(query wall ${secs * 1000}%.0f ms; gap = driver/plan/schedule time)")
        }
      }
    }
    spark.stop()
  }
}
