package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query ...] — optional trailing args restrict
    // the dump to those queries (local iteration; the driver passes two).
    val (sfDir, outDir, only) = args.toList match {
      case s :: o :: rest => (s, o, rest.toSet)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [query ...]")
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val lintHits = scala.collection.mutable.ListBuffer.empty[PlanLint.Hit]
    SparkEntry.queries.filter { case (n, _) => only.isEmpty || only(n) }.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // static scale-envelope lint rides every dump (PlanLintSpec is
        // the hard gate; here the artifact lands next to the parquet so
        // the driver's round record carries it)
        try lintHits ++= PlanLint.lintPlan(name, df.queryExecution.sparkPlan)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name lint errored: ${e.getMessage}")
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/plan_lint.json"),
      PlanLint.toJson(sfDir, SparkEntry.queries.size, lintHits.toList))
    lintHits.filterNot(_.allowed).foreach(h =>
      System.err.println(s"[verify] PLAN LINT unexplained ${h.rule} in ${h.query} (${h.node})"))
    spark.stop()
  }
}
