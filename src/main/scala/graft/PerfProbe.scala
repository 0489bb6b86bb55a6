package graft

import org.apache.spark.scheduler.StageInfo

/** Ad-hoc perf profiler: time selected queries twice (cold/warm) on a
  * given SF dir; optionally dump the formatted plan. Not part of the
  * driver contract — a development tool.
  *
  * Usage: runMain graft.PerfProbe <sfDir> [explain] <query...>
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val explain = args.contains("explain")
    val names = args.drop(1).filterNot(_ == "explain")
    val spark = Harness.session()
    def wallMs(si: StageInfo): Long =
      si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      if (explain) fn(spark, sfDir).explain("formatted")
      Harness.clearCaches(spark)
      val cold = Harness.measure(spark)(fn(spark, sfDir).count())
      Harness.clearCaches(spark)
      val warm = Harness.measure(spark)(fn(spark, sfDir).count())
      println(f"PERF $n%-28s cold=${cold.seconds}%8.2fs warm=${warm.seconds}%8.2fs rows=${cold.value}%d jobs_warm=${warm.jobs}%d")
      println(f"  stages_warm=${warm.stages.size}%d wall_sum=${warm.stages.map(wallMs).sum / 1e3}%.1fs")
      warm.stages.sortBy(-wallMs(_)).take(10).foreach { si =>
        val m = si.taskMetrics
        // first graft frame in the callsite stack — far more readable
        // than the lambda-mangled short name
        val where = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("PerfProbe") &&
            !l.contains("Harness"))
          .map(_.trim.take(70)).getOrElse(si.name.takeWhile(_ != '\n').take(70))
        println(f"  STAGE ${si.stageId}%4d wall=${wallMs(si) / 1e3}%7.1fs run=${m.executorRunTime / 1e3}%8.1fs gc=${m.jvmGCTime / 1e3}%6.1fs tasks=${si.numTasks}%4d shw=${m.shuffleWriteMetrics.bytesWritten / 1024}%6dKB $where")
      }
    }
    spark.stop()
  }
}
