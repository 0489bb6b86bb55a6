package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

/** Set-up accounting: set-up runs from JVM start to the first timed
  * operation. The input generation inside it is repeated and only its
  * median counts, so one slow repetition does not move `setup_s`.
  */
final class Setup(jvmStartMs: Long) {
  private val genS = mutable.ArrayBuffer.empty[Double]
  private var doneMs = -1L

  def generate[T](body: => T): T = {
    var r: Option[T] = None
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      r = Some(body)
      genS += (System.nanoTime() - t0) / 1e9
    }
    r.get
  }

  def done(): Unit = if (doneMs < 0) doneMs = System.currentTimeMillis()

  def seconds: Double = {
    val total = (doneMs - jvmStartMs) / 1000.0
    if (genS.isEmpty) total else total - genS.sum + Stats.median(genS.toSeq)
  }
}

/** One benchmark run: `--workload catchup_drain|analytics
  * --seed N --seconds S --trace 0|1 --work DIR --out FILE`. Writes the
  * run's metrics, checks and host context to `--out` as JSON.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = Args.parse(argv)
    val load0 = Env.loadavg()
    val setup = new Setup(jvmStartMs)
    val spark = Env.session(a.work, a.trace, a.cores)
    Env.note("session ready")
    val ledger = if (a.trace) Some(new Ledger(s"${a.workload}-${a.seed}")) else None
    val runSpan = ledger.map(_.begin("run"))
    val wlSpan = ledger.map(_.begin(a.workload))

    val e2e = new Metrics
    var layers = new Metrics
    val report = mutable.ArrayBuffer.empty[(String, Double, String)]
    var attempted = 0L
    var failed = 0L
    var oracle: Option[(String, String, Seq[String])] = None
    var failedQueries = Seq.empty[String]
    var spansPath: Option[String] = None

    // the workload's own wall-clock figures, from the untraced pass: in the
    // report of every run, and among the per-layer metrics of a traced run
    val views = new Metrics

    def cdc(run: => (Cdc.Pass, Option[Cdc.Pass])): Unit = {
      val (p, t) = run
      val tail = Stats.tail(p.latencies, 0.95)
      e2e.put("cpu_s", p.cpuS, "s")
      views.put("commit_p50_s", Stats.median(p.latencies), "s")
      views.put("commit_p95_s", Stats.quantile(p.latencies, 0.95), "s")
      views.put("recon_s", p.check.reconS.map(_._2).sum, "s")
      p.report.find(_._1 == "drain_eps").foreach { case (k, v, u) => views.put(k, v, u) }
      report ++= p.report.filterNot(r => views.get(r._1).isDefined)
      report += (("commit_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"))
      report += (("commit_tail_level", tail.map(_._1).getOrElse(Double.NaN), "quantile"))
      report += (("latency_samples", p.latencies.size.toDouble, "count"))
      attempted = p.check.attempted
      failed = p.check.failed
      t.foreach { tp =>
        layers = tp.layers
        layers.put("trace.overhead_frac", tp.workS / p.workS - 1.0, "ratio")
        if (tp.check ne p.check) {
          attempted += tp.check.attempted
          failed += tp.check.failed
        }
      }
    }

    a.workload match {
      case "catchup_drain" => cdc(Cdc.catchupDrain(spark, a, ledger, setup))
      case "analytics" =>
        val sf = Analytics.fixtures(a, setup)
        val r = Analytics.run(spark, a, ledger, sf, setup)
        val per = Analytics.perQuery(r.passes)
        val work = per.values.sum
        e2e.put("cpu_s", Analytics.perQueryCpu(r.passes).values.sum, "s")
        views.put("analytics_s", work, "s")
        report += (("passes", r.passes.size.toDouble, "count"))
        Analytics.Queries.foreach(q => report += ((s"query.$q", per(q), "s")))
        val all = r.passes ++ r.traced.toSeq
        failedQueries = Analytics.Queries.filter(q => all.exists(_(q).error.nonEmpty))
        failedQueries.foreach(q => System.err.println(
          s"[perfbench] $q failed: ${all.flatMap(_(q).error).head}"))
        attempted = Analytics.Queries.size.toLong
        failed = failedQueries.size.toLong
        oracle = Some((sf, r.outDir.toString, Analytics.Queries))
        r.traced.foreach { t =>
          layers = r.layers
          layers.put("trace.overhead_frac", t.values.map(_.total).sum / work - 1.0, "ratio")
        }
      case other => sys.error(s"unknown workload '$other'")
    }
    e2e.put("setup_s", setup.seconds, "s")
    report.prependAll(views.all.map { case (k, (v, u)) => (k, v, u) })
    if (a.trace) views.all.foreach { case (k, (v, u)) => layers.put(k, v, u) }
    val load1 = Env.loadavg()

    (ledger, runSpan, wlSpan) match {
      case (Some(l), Some(r), Some(w)) =>
        l.end(w)
        l.end(r)
        val spans = a.out.resolveSibling(a.out.getFileName.toString.replace(".json", ".spans.jsonl"))
        l.write(spans)
        spansPath = Some(spans.toString)
      case _ =>
    }
    spark.stop()
    Env.note("done")

    val oracleJson = oracle.fold("null") { case (sf, out, qs) =>
      s"""{"fixtures": ${Json.str(sf)}, "results": ${Json.str(out)}, "queries": """ +
        qs.map(Json.str).mkString("[", ", ", "]") + "}"
    }
    def rows(xs: Seq[(String, Double, String)]) = xs.map { case (k, v, u) =>
      s"[${Json.str(k)}, ${Json.num(v)}, ${Json.str(u)}]" }.mkString("[", ", ", "]")
    val json =
      s"""{"attempted": $attempted, "failed": $failed,
         |"metrics": ${e2e.json},
         |"layers": ${layers.json},
         |"report": ${rows(report.toSeq)},
         |"spans": ${spansPath.fold("null")(Json.str)},
         |"failed_queries": ${failedQueries.map(Json.str).mkString("[", ", ", "]")},
         |"oracle": $oracleJson,
         |"host": {"nproc": ${Env.nproc}, "spark_cores": ${a.cores}, "loadavg_start": ${load0.map(Json.num).mkString("[", ", ", "]")},
         |"loadavg_end": ${load1.map(Json.num).mkString("[", ", ", "]")}}}""".stripMargin
    Files.write(a.out, json.getBytes(StandardCharsets.UTF_8))
  }
}
