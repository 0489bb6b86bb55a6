// Classes whole-stage codegen compiles per query and pass, and Metaspace
// after each pass, for queries entered through `SparkEntry.queries`.
//
// It builds its own session the way perfbench does (no `Harness.session`)
// and touches nothing that compiles before the first `SparkEntry` call, so
// the codegen cache gets whatever size the program's entry path sets: Spark's
// default 100 before `GraftCodegenBridge`, 8192 after it. The probe
// references neither, so the same source compiles against both.
//
// Build it against the classes perfbench compiles (`.bench_build/perfbench/
// classes-*`, from `python3 perfbench/run.py --selftest` or any run), then
// run it in a fresh JVM per measurement:
//
//   CP="$(ls -d .bench_build/perfbench/classes-*):$SPARK_HOME/jars/*"
//   java -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -usejavacp \
//     -cp "$CP" -d /tmp/probe plans/r27/CodegenProbe.scala
//   python3 tools/gen_scale.py /tmp/sf001 0.01 1
//   java <the --add-opens of build.sbt> -Xmx3g -XX:+UseParallelGC \
//     -cp "/tmp/probe:$CP" CodegenProbe analytics 4 /tmp/sf001 /tmp/probe-work \
//     out.jsonl parent
//
// `analytics` runs perfbench's five analytics queries and writes each result
// as parquet, as perfbench does; `suite` runs every `SparkEntry.queries`
// entry, sorted by name, into the `noop` sink. Cached blocks are released
// and a GC runs after every query. One JSON line per query and pass, and
// one per pass with its totals, is appended to the output file.

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

object CodegenProbe {
  private val Analytics = Seq("cdc_recon_mismatch", "q1_pricing_summary",
    "q21_waiting_suppliers", "dedup_ngram_jaccard", "graph_pagerank_covisit")

  private def metaspaceMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.find(_.getName == "Metaspace")
      .map(_.getUsage.getUsed / 1048576.0).getOrElse(Double.NaN)

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  def main(args: Array[String]): Unit = {
    val Array(mode, passesArg, sf, work, outArg, label) = args
    val out = Paths.get(outArg)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def emit(line: String): Unit = Files.write(out, (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val names = if (mode == "analytics") Analytics else SparkEntry.queries.keys.toSeq.sorted
    for (pass <- 1 to passesArg.toInt) {
      val t0 = System.nanoTime()
      var passCompiles = 0L
      var failed = 0
      for (q <- names) {
        val c0 = compiles
        val q0 = System.nanoTime()
        val err = try {
          val df = SparkEntry.queries(q)(spark, sf)
          if (mode == "analytics") df.write.mode("overwrite").parquet(s"$work/out/$q")
          else df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(200)) }
        val s = (System.nanoTime() - q0) / 1e9
        val n = compiles - c0
        passCompiles += n
        if (err.isDefined) failed += 1
        graft.util.Materialize.releaseTracked(spark)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        System.gc()
        emit(s"""{"run": ${str(label)}, "mode": ${str(mode)}, "pass": $pass, "query": ${str(q)}, """ +
          f""""compiles": $n, "seconds": $s%.3f, "metaspace_mb": ${metaspaceMb()}%.1f, """ +
          s""""error": ${err.fold("null")(str)}}""")
      }
      emit(s"""{"run": ${str(label)}, "mode": ${str(mode)}, "pass": $pass, "query": null, """ +
        f""""compiles": $passCompiles, "seconds": ${(System.nanoTime() - t0) / 1e9}%.1f, """ +
        f""""metaspace_mb": ${metaspaceMb()}%.1f, "queries": ${names.size}, "failed": $failed}""")
    }
    spark.stop()
  }
}
