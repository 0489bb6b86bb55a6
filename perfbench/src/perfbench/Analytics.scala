package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch workload: a closed loop of one client running a fixed list of
  * `SparkEntry.queries` over fixtures from `tools/gen_scale.py`.
  *
  * `build_s` times the query function call, which is where the eager
  * `Materialize` barriers run; `action_s` times a parquet write of the
  * result, which computes every output column. The written results are
  * what the DuckDB oracle check reads afterwards. Between queries, cached
  * blocks are released and a GC runs, outside the timed window.
  */
object Analytics {
  /** The query list: a CDC batch query, two TPC-H shapes, and the dedup
    * and graph operators. It is a subset of the suite so
    * that a run, with its cold warm-up pass and the oracle check, ends
    * within its time budget (perfbench/README.md lists what was left out).
    */
  val Queries: Seq[String] = Seq(
    "cdc_recon_mismatch", "q1_pricing_summary", "q21_waiting_suppliers", "dedup_ngram_jaccard",
    "graph_pagerank_covisit")

  val Scale = "0.01"
  val NominalPassSeconds = 7

  final case class Timing(build: Double, action: Double, cpu: Double, error: Option[String]) {
    def total: Double = build + action
  }

  final case class Result(passes: Seq[Map[String, Timing]], traced: Option[Map[String, Timing]],
      outDir: Path, layers: Metrics)

  def fixtures(a: Args, setup: Setup): String = {
    val dir = a.work.resolve("fixtures")
    setup.generate {
      Env.deleteRec(dir)
      val p = new ProcessBuilder("python3", "tools/gen_scale.py", dir.toString, Scale,
        a.seed.toString).redirectErrorStream(true).redirectOutput(
        ProcessBuilder.Redirect.DISCARD).start()
      require(p.waitFor() == 0, "tools/gen_scale.py failed")
    }
    dir.toString
  }

  private def runQuery(spark: SparkSession, name: String, sf: String, out: Path,
      l: Option[Ledger]): Timing = {
    Env.settle(spark)
    def span[T](n: String)(f: => T): T = l.fold(f)(_.within(n)(f))
    val cpu = new CpuMeter
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      span(s"query.$name") {
        val df = span(s"SparkEntry.queries($name)")(SparkEntry.queries(name)(spark, sf))
        t1 = System.nanoTime()
        span(s"SparkEntry.result($name).write")(df.write.mode("overwrite").parquet(out.resolve(name).toString))
      }
      Timing((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, cpu.stop(), None)
    } catch {
      case e: Throwable =>
        cpu.stop()
        Timing(0, 0, 0, Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
    }
  }

  def run(spark: SparkSession, a: Args, ledger: Option[Ledger], sf: String,
      setup: Setup): Result = {
    val out = a.work.resolve("results")
    Env.note("warm-up pass")
    Queries.foreach(q => runQuery(spark, q, sf, a.work.resolve("warmup"), None))
    setup.done()
    Env.note("measured passes")
    def onePass(l: Option[Ledger]) = Queries.map(q => q -> runQuery(spark, q, sf, out, l)).toMap
    // --seconds buys one pass per NominalPassSeconds (at least one). The count
    // is fixed before the first pass, so a loaded host does not make a run
    // measure fewer, less warm passes. A traced run makes one untraced and
    // one traced pass.
    val n = if (ledger.isDefined) 1 else math.max(1, a.seconds / NominalPassSeconds)
    val passes = (1 to n).map(_ => onePass(None))
    val layers = new Metrics
    val traced = ledger.map { l =>
      ListenerBusDrain(spark.sparkContext)
      Ledger.attach(spark.sparkContext, l)
      val w = l.begin("analytics.traced_pass")
      val t = onePass(Some(l))
      ListenerBusDrain(spark.sparkContext)
      l.end(w)
      Ledger.detach(spark.sparkContext, l)
      val jobs = l.jobsIn(w)
      for (q <- Queries) {
        val qs = l.spanIds(s"query.$q").flatMap(l.jobsIn)
        layers.put(s"q.$q.build_s", t(q).build, "s")
        layers.put(s"q.$q.action_s", t(q).action, "s")
        layers.put(s"q.$q.jobs", qs.size.toDouble, "count")
        layers.put(s"q.$q.shuffle_write_bytes", qs.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
      }
      layers.put("analytics.jobs", jobs.size.toDouble, "count")
      layers.put("analytics.build_s", t.values.map(_.build).sum, "s")
      layers.put("site.Materialize.jobs", jobs.count(l.site(_).contains("Materialize")).toDouble,
        "count")
      l.coverage(layers, jobs)
      t
    }
    // the DuckDB oracle reads the results the last pass wrote
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.write(out.resolve("oracle_sql.json"), oracle.map { case (k, v) =>
      s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
    if (a.inject.contains("query")) {
      val q = out.resolve(Queries.head).toString
      spark.read.parquet(q).limit(1).write.mode("append").parquet(q)
    }
    Result(passes, traced, out, layers)
  }

  /** Per query, the median over passes of its CPU seconds. */
  def perQueryCpu(passes: Seq[Map[String, Timing]]): Map[String, Double] =
    Queries.map(q => q -> Stats.median(passes.map(_(q).cpu))).toMap

  /** Per query, the median over passes of build + action. */
  def perQuery(passes: Seq[Map[String, Timing]]): Map[String, Double] =
    Queries.map(q => q -> Stats.median(passes.map(_(q).total))).toMap
}
