package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftCodegenBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

/** The tool harness: `measure` returns exact, drained scheduler counts
  * with no settle sleep, and it stays the only session builder and
  * listener in `src/main`; the codegen cache holds a warm working set
  * larger than Spark's default bound of 100 classes.
  */
class HarnessSpec extends SparkSpecBase {

  /** 64 range tasks shuffled into 16: under AQE the map stage runs as its
    * own job and the result job skips it, so 2 jobs, 2 stages, 80 tasks.
    */
  private def twoStage(): Unit =
    spark.range(0, 100000, 1, 64).repartition(16)
      .write.format("noop").mode("overwrite").save()

  /** Holds the listener bus up 10 ms per task event, so counts read
    * before the bus drains come up short instead of racing to complete.
    */
  private def withSlowBus[A](body: => A): A = {
    val slow = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Thread.sleep(10)
    }
    spark.sparkContext.addSparkListener(slow)
    try body finally spark.sparkContext.removeSparkListener(slow)
  }

  test("measure returns exact job, stage and task counts as soon as it returns") {
    withSQLConf("spark.sql.adaptive.enabled" -> "true") { withSlowBus {
      val m = Harness.measure(spark)(twoStage())
      assert(m.jobs == 2)
      assert(m.stages.map(_.numTasks).sorted == Seq(16, 64))
      assert(m.tasks.size == 80)
      assert(m.tasks.groupBy(_._1).map { case (id, ts) => id -> ts.size } ==
        m.stages.map(s => s.stageId -> s.numTasks).toMap)
      assert(m.seconds > 0)
    }}
  }

  test("a second measure sees none of the first one's events") {
    withSQLConf("spark.sql.adaptive.enabled" -> "true") { withSlowBus {
      val first = Harness.measure(spark)(twoStage())
      val second = Harness.measure(spark) {
        spark.range(0, 1000, 1, 8).write.format("noop").mode("overwrite").save()
        7
      }
      assert(second.value == 7)
      assert(second.jobs == 1)
      assert(second.stages.map(_.numTasks) == Seq(8))
      assert(second.tasks.size == 8)
      val firstIds = first.stages.map(_.stageId).toSet
      assert(firstIds.size == 2)
      assert(second.stages.forall(s => !firstIds(s.stageId)))
      assert(second.tasks.forall { case (id, _) => !firstIds(id) })
    }}
  }

  test("a warm rerun of 150 distinct generated classes compiles none of them") {
    // each literal is inlined into its own whole-stage class; Spark's
    // default cache of 100 would evict every one before its rerun
    def round(): Long = Harness.measure(spark) {
      (1 to 150).foreach(k => spark.range(10).select(col("id") * k).collect())
    }.compiles
    val cold = round()
    assert(cold >= 150)
    assert(round() == 0)
  }

  test("the codegen cache conf keeps an explicit bound and otherwise sets the constant") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val explicit = new SQLConf
    explicit.setConfString(key, "64")
    assert(GraftCodegenBridge.cacheConf(explicit).codegenCacheMaxEntries == 64)
    val unset = new SQLConf
    val sized = GraftCodegenBridge.cacheConf(unset)
    assert(sized.codegenCacheMaxEntries == GraftCodegenBridge.CacheMaxEntries)
    assert(GraftCodegenBridge.CacheMaxEntries == 8192)
    assert(!unset.contains(key), "the caller's conf is copied, not changed")
  }

  private def mainSources(): Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Code only: a doc comment may show a builder or a conf key as usage. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("session builders, listeners and caching appear only in their one owning file") {
    val owner = Seq(
      "SparkSession.builder()" -> "graft/Harness.scala",
      "addSparkListener" -> "graft/Harness.scala",
      "localCheckpoint(" -> "util/Materialize.scala",
      ".checkpoint(eager" -> "util/Materialize.scala",
      ".persist(" -> "util/Materialize.scala")
    val files = mainSources()
    val offenders = for {
      f <- files
      (pat, home) <- owner if !f.endsWith(home)
      if code(Files.readString(f)).contains(pat)
    } yield s"$pat in $f"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    owner.map(_._2).distinct.foreach(home =>
      assert(files.exists(_.endsWith(home)), home))
  }

  test("the codegen cache bound and CodeGenerator appear only in GraftCodegenBridge.scala") {
    val files = mainSources()
    val offenders = for {
      f <- files if f.getFileName.toString != "GraftCodegenBridge.scala"
      pat <- Seq("spark.sql.codegen.cache.maxEntries", "CODEGEN_CACHE_MAX_ENTRIES",
        "CodeGenerator")
      if code(Files.readString(f)).contains(pat)
    } yield s"$pat in $f"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(files.exists(_.getFileName.toString == "GraftCodegenBridge.scala"))
  }
}
