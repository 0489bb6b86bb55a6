package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.queries.Gate

/** The query registry: every gate carries a build and an oracle, names
  * are unique, the tools' two views agree, and the side tables that name
  * queries (PlanLint's allow-list, ScaleAudit's heavy list) name only
  * registered ones. A source scan keeps the parallel per-object maps and
  * the round-numbered objects from coming back.
  */
class GateRegistrySpec extends SparkSpecBase {

  private def gate(name: String) =
    Gate(name, (s, _) => s.range(1).select(lit(name)), s"SELECT '$name'")

  test("a registry holding a name twice fails and names it") {
    val e = intercept[IllegalArgumentException](
      Gate.unique(Seq(gate("kept_once"), gate("given_twice"), gate("given_twice"))))
    assert(e.getMessage.contains("given_twice"), e.getMessage)
    assert(!e.getMessage.contains("kept_once"), e.getMessage)
    assert(Gate.unique(Seq(gate("a"), gate("b"))).map(_.name) == Seq("a", "b"))
  }

  test("every gate has a non-blank oracle") {
    val blank = SparkEntry.gates.filter(g => g.oracle == null || g.oracle.trim.isEmpty)
    assert(blank.isEmpty, blank.map(_.name).mkString(", "))
  }

  test("queries and oracleSql name the same gates, one entry each") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.nonEmpty)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(SparkEntry.queries.size == names.size)
  }

  test("PlanLint's allow-list and ScaleAudit's heavy list name only registered queries") {
    val known = SparkEntry.queries.keySet
    val stale = (PlanLint.allow.keys.map(_._1) ++ ScaleAudit.heavy).toSeq.distinct
      .filterNot(known).sorted
    assert(stale.isEmpty, s"not a registered query: ${stale.mkString(", ")}")
  }

  test("no query object keeps a build map, an oracleSql map or a numbered name") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = { val s = Files.list(root); try s.iterator.asScala.toList finally s.close() }
    val rules = Seq(
      "a build map" -> """Map\[String,\s*\(SparkSession,\s*String\)\s*=>\s*DataFrame\]""".r,
      "an oracleSql map" -> """\boracleSql\b""".r,
      "a numbered object" -> """\bobject\s+\w*Queries\d+\b""".r)
    val offenders = for {
      f <- files if f.toString.endsWith(".scala")
      src = Files.readString(f).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      (what, re) <- rules if re.findFirstIn(src).isDefined
    } yield s"$what in $f"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(files.exists(_.getFileName.toString == "Gate.scala"))
  }
}
