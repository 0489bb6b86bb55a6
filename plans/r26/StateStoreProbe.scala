// State-store upsert cost against table size: the plain ParquetStateStore
// against the key-bucketed BucketedParquetStateStore (64 buckets).
//
// This probe targets commit 1218747, the last one that has the bucketed
// store; it does not compile against later commits. Build and run it from
// a checkout of that commit whose `target/scala-2.13/classes` is compiled:
//
//   CP="target/scala-2.13/classes:$SPARK_HOME/jars/*"
//   java -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -usejavacp \
//     -cp "$CP" -d /tmp/probe plans/r26/StateStoreProbe.scala
//   SPARK_GRAFT_CPUS=4 java <the --add-opens of build.sbt> -Xmx4g \
//     -cp "/tmp/probe:$CP" StateStoreProbe out.jsonl /tmp/probe-work 3
//
// Each cell seeds a fresh store with N keys (0 until N) in one upsert, then
// times four 10k-row upserts whose keys spread over the key space: 30% are
// updates of uniformly drawn existing keys, 70% are new keys, the insert
// share of the catchup_drain workload. Over the 1M-key state a fifth batch
// updates 16 existing keys, the one shape in which the bucketed store
// rewrites fewer files than the plain one. The stores alternate order from
// rep to rep. One JSON line per timed upsert goes to the output file.

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.{BucketedParquetStateStore, ParquetStateStore}

object StateStoreProbe {
  private val Buckets = 64
  private val BatchRows = 10000L

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val work = args(1)
    val reps = args(2).toInt
    val sizes = Seq(100000L, 1000000L)
    val spark = graft.Harness.session()

    def rows(keys: DataFrame, ts: Long): DataFrame =
      keys.select(col("user_id"), lit(ts).as("ts_us"),
        (lit(ts) * 100000L + col("user_id")).as("event_id"),
        (col("user_id") % 1000).cast("double").as("value"),
        concat(lit("payload-"), col("user_id").cast("string")).as("payload"))

    // batch b of a cell over n keys: 30% updates, 70% new keys
    def spread(n: Long, b: Int): DataFrame = {
      val upd = (BatchRows * 3) / 10
      val r = spark.range(BatchRows)
      rows(r.select(
        when(col("id") < upd, pmod(xxhash64(col("id"), lit(b)), lit(n)))
          .otherwise(lit(n) + lit(b.toLong * BatchRows) + col("id")).as("user_id")),
        2000L + b)
    }

    def narrow(n: Long): DataFrame =
      rows(spark.range(16).select(pmod(xxhash64(col("id"), lit(99)), lit(n)).as("user_id")), 3000L)

    def emit(fields: (String, Any)*): Unit = {
      val load = Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3)
      val body = (fields :+ ("loadavg" -> load.mkString("[\"", "\", \"", "\"]"))).map {
        case (k, v: String) if !v.startsWith("[") => s""""$k": "$v""""
        case (k, v) => s""""$k": $v"""
      }.mkString("{", ", ", "}")
      Files.writeString(out, body + "\n", StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      println(body)
    }

    for (rep <- 1 to reps; n <- sizes) {
      val order = if (rep % 2 == 1) Seq("plain", "bucketed64") else Seq("bucketed64", "plain")
      for (store <- order) {
        val dir = s"$work/r$rep-$n-$store/state"
        val (upsert, count) = store match {
          case "plain" =>
            val s = new ParquetStateStore(spark, dir, "user_id", "ts_us", "event_id")
            ((df: DataFrame) => s.upsert(df), () => s.read().count())
          case _ =>
            val s = new BucketedParquetStateStore(spark, dir, "user_id", "ts_us", "event_id",
              Buckets)
            ((df: DataFrame) => s.upsert(df), () => s.read().count())
        }
        upsert(rows(spark.range(n).select(col("id").as("user_id")), 1000L))
        val batches = (1 to 4).map(b => ("spread", BatchRows, () => spread(n, b))) ++
          (if (n == 1000000L) Seq(("narrow16", 16L, () => narrow(n))) else Nil)
        batches.zipWithIndex.foreach { case ((kind, nRows, batch), i) =>
          val t0 = System.nanoTime()
          upsert(batch())
          val s = (System.nanoTime() - t0) / 1e9
          emit("probe" -> "state_store_upsert", "commit" -> "1218747", "store" -> store,
            "state_keys" -> n, "rep" -> rep, "batch" -> (i + 1), "kind" -> kind,
            "batch_rows" -> nRows, "upsert_s" -> math.round(s * 1000) / 1000.0)
        }
        // the fold's check: seed keys plus the 4 × 7k new keys, once each
        val got = count()
        val want = n + 4 * (BatchRows - (BatchRows * 3) / 10)
        emit("probe" -> "state_store_rows", "commit" -> "1218747", "store" -> store,
          "state_keys" -> n, "rep" -> rep, "state_rows" -> got, "expected_rows" -> want,
          "correct" -> (got == want))
      }
      // free the cell's disk before the next
      val p = Paths.get(work)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    }
    spark.stop()
  }
}
