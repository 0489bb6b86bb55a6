package graft

import org.apache.spark.sql.SparkSession

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.LogHygiene.muteBoundedWindowWarn()
    @volatile var stages = List.empty[(Int, String, Long, Long, Long, Int, Long)]
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val run = si.taskMetrics.executorRunTime
        val gc = si.taskMetrics.jvmGCTime
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        // first graft frame in the callsite stack — far more readable
        // than the lambda-mangled short name
        val where = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("PerfProbe"))
          .map(_.trim.take(70)).getOrElse(si.name.takeWhile(_ != '\n').take(70))
        stages ::= ((si.stageId, where, wall, run, gc, si.numTasks,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
    })
    // the bench's inter-timing discipline: without it, dead
    // localCheckpoint blocks from the previous run stall the next one
    // (measured: corpus_curated_v7 9.5 s benched vs 104 s back-to-back)
    def clearCaches(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      if (explain) fn(spark, sfDir).explain("formatted")
      clearCaches()
      val t0 = System.nanoTime(); val c1 = fn(spark, sfDir).count()
      val t1 = System.nanoTime()
      clearCaches()
      Thread.sleep(500) // let the async listener bus drain the cold run
      stages = Nil
      jobs.set(0)
      val t2 = System.nanoTime(); val c2 = fn(spark, sfDir).count()
      val t3 = System.nanoTime()
      Thread.sleep(500) // let the async listener bus drain
      println(f"PERF $n%-28s cold=${(t1 - t0) / 1e9}%8.2fs warm=${(t3 - t2) / 1e9}%8.2fs rows=$c1%d jobs_warm=${jobs.get}%d")
      val top = stages.sortBy(-_._3)
      println(f"  stages_warm=${stages.size}%d wall_sum=${stages.map(_._3).sum / 1e3}%.1fs")
      top.take(10).foreach { case (id, nm, wall, run, gc, nt, sw) =>
        println(f"  STAGE $id%4d wall=${wall / 1e3}%7.1fs run=${run / 1e3}%8.1fs gc=${gc / 1e3}%6.1fs tasks=$nt%4d shw=${sw / 1024}%6dKB $nm")
      }
    }
    spark.stop()
  }
}
