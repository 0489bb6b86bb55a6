package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory trace of one run: benchmark spans plus a Spark job ledger.
  *
  * Spans (name, start, end, parent) are opened around the public calls the
  * benchmark makes; stream batches are added after the fact from progress
  * events. Spark jobs are counted from `onJobStart`, stages from
  * `onStageSubmitted` and tasks from `onTaskEnd`. Each job is attributed to
  * the innermost `graft.` frame of its stage call site (falling back to the
  * call site of the SQL execution it belongs to, which is where broadcast
  * jobs submitted from Spark's own threads get theirs). A job with neither
  * is counted as unattributed.
  *
  * The ledger records only while attached, so untraced passes pay nothing.
  */
final class Ledger(runId: String) extends SparkListener {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, var endMs: Double)
  final class Job(val id: Int, val startMs: Double, val callSite: Option[String]) {
    var endMs: Double = Double.NaN
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var shuffleWriteBytes = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlSite = mutable.HashMap.empty[Long, Option[String]]

  private def nowMs: Double = System.currentTimeMillis().toDouble

  def begin(name: String): Int = synchronized {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), nowMs, Double.NaN)
    spans += s
    open.push(s.id)
    s.id
  }

  def end(id: Int): Unit = synchronized {
    spans(id).endMs = nowMs
    while (open.nonEmpty && open.top != id) open.pop()
    if (open.nonEmpty) open.pop()
  }

  def within[T](name: String)(body: => T): T = {
    val id = begin(name)
    try body finally end(id)
  }

  /** A span whose bounds are known only afterwards (a stream batch). */
  def record(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    spans += Span(spans.size, name, parent, startMs, endMs)
    spans.size - 1
  }

  def spanIds(name: String): Seq[Int] = synchronized(spans.filter(_.name == name).map(_.id).toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val planned = props.flatMap(p => Option(p.getProperty(SiteTag.Key)))
    val own = e.stageInfos.iterator.map(s => Ledger.siteOf(s.details)).collectFirst {
      case Some(s) => s
    }
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = planned.orElse(own).orElse(exec.flatMap(x => sqlSite.getOrElse(x, None)))
    jobs.update(e.jobId, new Job(e.jobId, e.time.toDouble, site))
    e.stageIds.foreach(s => stageJob.update(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSite.update(s.executionId, Ledger.siteOf(s.details))
    }
    case _ =>
  }

  /** Jobs submitted inside span `id` (by submission time). */
  def jobsIn(id: Int): Seq[Job] = synchronized {
    val s = spans(id)
    jobs.values.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq
  }

  /** The program site of a job: its call site, else the program object
    * named by its innermost enclosing call span (`Reconciler.checksumMismatches`
    * → `Reconciler`), since the benchmark ran the action on a frame that call
    * built.
    */
  def site(j: Job): Option[String] = j.callSite.orElse(
    Some(parentName(j)).filter(n => Ledger.CallSpans.exists(c => n.startsWith(c + ".")))
      .map(_.takeWhile(_ != '.')))

  /** Attribution coverage over `jobs`. Jobs the benchmark itself runs to
    * check results (under `harness.*` spans) are counted apart; every
    * other job without a site is unattributed.
    */
  def coverage(m: Metrics, jobs: Seq[Job]): Unit = {
    val (harness, program) = jobs.partition(j => parentName(j).startsWith("harness."))
    m.put("trace.harness_jobs", harness.size.toDouble, "count")
    val attributed = program.count(site(_).nonEmpty)
    m.put("trace.unattributed_jobs", (program.size - attributed).toDouble, "count")
    m.put("trace.attributed_frac",
      if (program.isEmpty) 1.0 else attributed.toDouble / program.size, "ratio")
  }

  def parentName(j: Job): String = synchronized {
    val p = parentOf(j)
    if (p < 0) "" else spans(p).name
  }

  /** Innermost span containing each job: the latest-starting span whose
    * interval holds the job's submission time.
    */
  private def parentOf(j: Job): Int = spans.filter(s => j.startMs >= s.startMs &&
    j.startMs <= s.endMs).sortBy(s => (s.startMs, s.id)).lastOption.map(_.id).getOrElse(-1)

  /** Write every span and job as JSON lines: run → workload → unit →
    * call → Spark job.
    */
  def write(path: Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"run":${Json.str(runId)},"kind":"span","id":${s.id},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}}""" + "\n"
    }
    jobs.values.foreach { j =>
      sb ++= s"""{"run":${Json.str(runId)},"kind":"job","id":${j.id},""" +
        s""""name":${Json.str("site." + site(j).getOrElse("unattributed"))},""" +
        s""""call_site":${Json.str(j.callSite.getOrElse(""))},""" +
        s""""parent":${parentOf(j)},"start_ms":${Json.num(j.startMs)},""" +
        s""""end_ms":${Json.num(j.endMs)},"stages":${j.stages},"tasks":${j.tasks},""" +
        s""""shuffle_write_bytes":${j.shuffleWriteBytes}}""" + "\n"
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Ledger {
  /** Span name prefixes that name a public call into the program. */
  val CallSpans: Seq[String] = Seq("Reconciler", "ReplicationJob", "SparkEntry")

  /** `graft.util.Materialize$.stable(Materialize.scala:52)` → `Materialize`:
    * the object or class of the innermost `graft.` frame in a call site.
    */
  def siteOf(callSite: String): Option[String] =
    Option(callSite).flatMap(_.split('\n').iterator.map(_.trim).find(_.startsWith("graft.")))
      .map { frame =>
        val method = frame.takeWhile(_ != '(')
        val cls = method.substring(0, method.lastIndexOf('.'))
        cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
      }

  /** Wall time covered by the union of intervals, in seconds. */
  def unionSeconds(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => !e.isNaN && e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total / 1000.0
  }

  def attach(sc: SparkContext, l: Ledger): Unit = {
    sc.addSparkListener(l)
    SiteTag.on = true
  }

  def detach(sc: SparkContext, l: Ledger): Unit = {
    SiteTag.on = false
    sc.removeSparkListener(l)
  }
}

/** A planner strategy that plans nothing. While on, it records the
  * innermost `graft.` frame of the thread planning a query into a job
  * property, so the jobs that query submits carry the program site that
  * built them. The stage call site cannot serve inside a stream: Spark's
  * streaming engine stamps every job of a query with the call site of
  * `start()`. Installed only in traced runs.
  */
object SiteTag extends org.apache.spark.sql.execution.SparkStrategy {
  val Key = "perfbench.site"
  @volatile var on = false

  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    plan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.ReturnAnswer if on =>
        val site = Thread.currentThread.getStackTrace.iterator.map(_.getClassName)
          .find(_.startsWith("graft.")).map(c => c.substring(c.lastIndexOf('.') + 1)
            .takeWhile(_ != '$'))
        SparkContext.getOrCreate().setLocalProperty(Key, site.orNull)
      case _ =>
    }
    Nil
  }
}
