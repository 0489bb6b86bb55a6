package graft

import org.apache.spark.scheduler.StageInfo

/** Cross-SF shuffle-BYTES scaling audit (round-16 verdict #1) — the scale
  * axis the other three audits don't measure: [[ScaleAudit]] proves plans
  * go WIDE, [[SkewAudit]] proves tasks BALANCE, [[PlanLint]] proves
  * SHAPES, but none of them would catch a candidate generator whose
  * shuffle volume grows superlinearly while staying wide and balanced
  * (LSH bucket occupancy on a skewed corpus, n-gram postings under
  * boilerplate, a pair join quietly quadratic in a hot key). This audit
  * makes the "linear at 100 TB" claim EMPIRICAL: run every heavy-list
  * gate query at two fixture scales a known `factor` apart (sf0.01 →
  * sf0.1, factor 10) and gate
  *
  *   `bytes(large) <= c * factor * bytes(small)`   (c = 2 for log factors)
  *
  * on total shuffle volume (read + write), with an absolute floor so
  * constant overheads at tiny scale can't fabricate a ratio: a query
  * whose large-scale shuffle stays under `FloorBytes` is linear by
  * inspection regardless of ratio, and a small-scale measurement is
  * clamped up to `BasisFloorBytes` before dividing (a 3 KiB basis
  * otherwise turns a fixed 100 KiB register exchange into a fake 30x).
  * Spill bytes ride along in the artifact as a memory-pressure
  * breadcrumb but do not gate (local[32] spill is a heap artifact, not
  * a scaling property).
  *
  * One JSON line on stdout:
  * `{"factor":F,"c":C,"superlinear":[...],"queries":{name:{"small_bytes":a,"large_bytes":b,"ratio":r,...}}}`
  * — exit 1 if any query is superlinear.
  */
object BytesAudit {

  /** Shuffle/spill byte totals accumulated across the stages of one
    * measured action.
    */
  final case class Bytes(shuffleRead: Long, shuffleWrite: Long,
      memSpill: Long, diskSpill: Long) {
    def shuffleTotal: Long = shuffleRead + shuffleWrite
  }

  /** The byte totals of the completed stages [[Harness.measure]] saw. */
  def bytes(stages: Seq[StageInfo]): Bytes = {
    val ms = stages.flatMap(s => Option(s.taskMetrics))
    Bytes(ms.map(_.shuffleReadMetrics.totalBytesRead).sum,
      ms.map(_.shuffleWriteMetrics.bytesWritten).sum,
      ms.map(_.memoryBytesSpilled).sum, ms.map(_.diskBytesSpilled).sum)
  }

  /** Below this large-scale shuffle volume a query cannot be a scaling
    * hazard — 4 MiB at sf0.1 extrapolates to ~4 GiB at 100 TB-equivalent
    * scale, register-sized for a cluster.
    */
  val FloorBytes: Long = 4L << 20
  /** Small-scale basis clamp: ratios are computed against at least this
    * much, so a near-zero basis (everything broadcast at tiny scale)
    * cannot fabricate an unbounded ratio out of fixed overheads.
    */
  val BasisFloorBytes: Long = 256L << 10

  /** The superlinear verdict, factored out for the spec: flagged iff the
    * large-scale shuffle clears the absolute floor AND grew more than
    * `c * factor` over the (floor-clamped) small-scale basis.
    */
  def isSuperlinear(smallBytes: Long, largeBytes: Long, factor: Double,
      c: Double = 2.0): Boolean =
    largeBytes >= FloorBytes &&
      largeBytes.toDouble / math.max(smallBytes, BasisFloorBytes).toDouble >
        c * factor

  def main(args: Array[String]): Unit = {
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val sfLarge = sys.env.getOrElse("SPARK_GRAFT_SF_LARGE", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SF_FACTOR", "10").toDouble
    val c = sys.env.getOrElse("SPARK_GRAFT_BYTES_C", "2").toDouble
    // the PRODUCTION shuffle config, not ScaleAudit's forced width:
    // bytes are a volume property; the audit measures what the gate
    // queries actually move, AQE re-planning included
    val spark = Harness.session(
      sys.env.get("SPARK_GRAFT_SHUFFLE").fold(32)(_.toInt))

    val targets = if (args.nonEmpty) args.toSeq else ScaleAudit.heavy
    def pass(sfDir: String): Map[String, Bytes] = targets.map { name =>
      val b = bytes(Harness.measure(spark) {
        // noop sink, not count(): count() lets Catalyst prune columns the
        // gate query actually materializes (the ScaleAudit rationale)
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }.stages)
      System.err.println(f"[bytes] $sfDir%-28s $name%-34s " +
        f"shuffle=${b.shuffleTotal}%12d spill=${b.memSpill + b.diskSpill}%12d")
      name -> b
    }.toMap

    val small = pass(sfSmall)
    val large = pass(sfLarge)
    var superlinear = List.empty[String]
    val rows = targets.map { name =>
      val (s, l) = (small(name), large(name))
      val ratio = l.shuffleTotal.toDouble /
        math.max(s.shuffleTotal, BasisFloorBytes).toDouble
      if (isSuperlinear(s.shuffleTotal, l.shuffleTotal, factor, c))
        superlinear ::= name
      f""""$name":{"small_bytes":${s.shuffleTotal},"large_bytes":${l.shuffleTotal},""" +
        f""""ratio":$ratio%.2f,"large_spill":${l.memSpill + l.diskSpill}}"""
    }
    val sup = superlinear.reverse.map(n => s""""$n"""").mkString("[", ",", "]")
    println(s"""{"factor":$factor,"c":$c,"floor_bytes":$FloorBytes,""" +
      s""""basis_floor_bytes":$BasisFloorBytes,"n_queries":${targets.size},""" +
      s""""superlinear":$sup,"queries":{${rows.mkString(",")}}}""")
    if (superlinear.nonEmpty) {
      System.err.println(
        s"SUPERLINEAR (> ${c * factor}x shuffle growth at ${factor}x data): " +
          superlinear.reverse.mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
