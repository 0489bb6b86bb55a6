package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run-wide settings and the one Spark session of a run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path, inject: Option[String], cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")), Paths.get(req("out")), m.get("inject"),
      m.get("cores").fold(Env.nproc)(_.toInt))
  }
}

object Env {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** The session every workload uses: local mode on `cores` cores (all of
    * them unless a single-thread baseline is asked for), one shuffle
    * partition per core and AQE on, as the repo's own entry points set it.
    */
  def session(work: Path, traced: Boolean, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s = (if (traced) b.withExtensions(_.injectPlannerStrategy(_ => SiteTag)) else b)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.util.LogHygiene.muteBoundedWindowWarn()
    s
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A timestamped progress line in the run's log. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%8.2f s  $msg")

  def loadavg(): Seq[Double] = scala.util.Try(
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).toSeq
      .map(_.toDouble)).getOrElse(Nil)

  /** Blocking release of every cached block plus a GC: run between timed
    * operations, never inside one.
    */
  def settle(spark: SparkSession): Unit = {
    graft.util.Materialize.releaseTracked(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def dirBytesAndFiles(p: Path, suffix: String): (Long, Long) = if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(suffix)).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }
}

/** Application-thread CPU seconds over a window, from construction to
  * [[stop]]. ThreadMXBean reports CPU time only for live threads, and a
  * stream's execution thread ends as its query does, so a sampler thread
  * keeps every thread's latest reading every 10 ms: a thread that ends
  * inside the window counts up to its last reading, at most 10 ms
  * before its end. JIT compiler and GC threads are not application threads,
  * so their work, which depends on how far the JVM has warmed up, is left
  * out; so is the sampler's own.
  */
final class CpuMeter {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  private val base = read()
  private val last = scala.collection.mutable.HashMap.empty[Long, Long]
  @volatile private var running = true
  private val sampler = new Thread(() => {
    while (running) {
      sample()
      Thread.sleep(10L)
    }
  }, "perfbench-cpu-sampler")
  sampler.setDaemon(true)
  sampler.start()

  private def read(): Map[Long, Long] =
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  private def sample(): Unit = {
    val now = read() - sampler.getId
    last.synchronized(last ++= now)
  }

  def stop(): Double = {
    running = false
    sampler.join()
    sample()
    val ns: Long = last.synchronized(last.toSeq)
      .map { case (id, ns) => ns - base.getOrElse(id, 0L) }.sum
    ns / 1e9
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, capped at
    * `cap`, and its level; None when fewer than 11 samples.
    */
  def tail(xs: Seq[Double], cap: Double): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val q = math.min(cap, math.floor((1.0 - 10.0 / xs.size) * 100) / 100)
      Some(q -> quantile(xs, q))
    }
}

/** Ordered name → (value, unit) metrics, written as JSON. */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m.update(name, (value, unit))
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def all: Seq[(String, (Double, String))] = m.toSeq
  def json: String = m.map { case (k, (v, u)) =>
    s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""
}
