package graft

import org.apache.spark.sql.functions._

/** The shuffle-bytes scaling audit must actually catch the failure mode
  * it exists for: a generator whose SHUFFLE VOLUME grows quadratically
  * with input while its plan stays wide, balanced, and lint-clean — the
  * blind spot of ScaleAudit/SkewAudit/PlanLint (round-16 verdict #1).
  */
class BytesAuditSpec extends SparkSpecBase {

  /** A deliberately quadratic candidate generator: every row pairs with
    * every row of the same (constant) blocking key — the degenerate LSH
    * bucket — and the pair stream is dedup'd, forcing all n^2 pair ids
    * through an exchange.
    */
  private def quadraticPairs(n: Long): Unit = {
    val d = spark.range(n).withColumn("k", lit(1))
    d.as("a").join(d.as("b"), "k")
      .select((col("a.id") * 100000000L + col("b.id")).as("pair"))
      .distinct()
      .write.format("noop").mode("overwrite").save()
  }

  /** The linear control: a distinct over ~n/2 values shuffles ~n rows.
    * (A plain `range(n).distinct()` is optimized AWAY — range ids are
    * provably distinct — hence the modulus.)
    */
  private def linearDistinct(n: Long): Unit =
    spark.range(n).select((col("id") % (n / 2)).as("v")).distinct()
      .write.format("noop").mode("overwrite").save()

  private def measured(body: => Unit): BytesAudit.Bytes =
    BytesAudit.bytes(Harness.measure(spark)(body).stages)

  test("a quadratic pair-generator is flagged superlinear at 10x data; " +
    "a linear distinct is not") {
    val quadSmall = measured { quadraticPairs(300L) }
    val quadLarge = measured { quadraticPairs(3000L) }
    assert(quadLarge.shuffleTotal >= BytesAudit.FloorBytes,
      s"fixture too small to exercise the floor: ${quadLarge.shuffleTotal}")
    assert(BytesAudit.isSuperlinear(
      quadSmall.shuffleTotal, quadLarge.shuffleTotal, factor = 10.0),
      s"9M pairs from 10x rows must flag: small=${quadSmall.shuffleTotal} " +
        s"large=${quadLarge.shuffleTotal}")

    val linSmall = measured { linearDistinct(300000L) }
    val linLarge = measured { linearDistinct(3000000L) }
    assert(linLarge.shuffleTotal >= BytesAudit.FloorBytes,
      s"control must clear the floor so the PASS is meaningful: ${linLarge.shuffleTotal}")
    assert(!BytesAudit.isSuperlinear(
      linSmall.shuffleTotal, linLarge.shuffleTotal, factor = 10.0),
      s"linear growth must not flag: small=${linSmall.shuffleTotal} " +
        s"large=${linLarge.shuffleTotal}")
  }

  test("verdict edges: the absolute floor and the basis clamp") {
    // under the floor, no ratio can flag — 4 MiB at sf0.1 is register-sized
    assert(!BytesAudit.isSuperlinear(0L, BytesAudit.FloorBytes - 1, 10.0))
    // a zero basis is clamped to BasisFloorBytes, not divided by
    assert(!BytesAudit.isSuperlinear(
      0L, 20L * BytesAudit.BasisFloorBytes, 10.0),
      "20x the clamp at factor 10 (c=2) sits exactly on the bound — not over")
    assert(BytesAudit.isSuperlinear(
      0L, 21L * BytesAudit.BasisFloorBytes, 10.0))
  }
}
