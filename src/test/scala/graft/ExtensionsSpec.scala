package graft

import org.apache.spark.sql.SparkSession

/** GraftExtensions: the spark.sql.extensions deployment hook installs the
  * catalog function and the HOF-dot-product rewrite for a whole session.
  */
class ExtensionsSpec extends SparkSpecBase {

  private def withExtendedSession[A](f: SparkSession => A): A = {
    // getOrCreate would hand back the suite's session and silently skip
    // the extensions — clear the defaults so a REAL new session (same
    // SparkContext) is built with GraftExtensions applied. The suite's
    // session is built first, so the JVM-wide codegen cache is sized by
    // its hook, not by whichever session compiles first.
    val prev = Some(spark)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try f(s)
      finally {
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
      }
    } finally {
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("long_dot resolves as a SQL catalog function and computes exactly") {
    withExtendedSession { s =>
      val r = s.sql(
        "SELECT long_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").head()
      assert(r.getLong(0) == 32L)
    }
  }

  test("long_l2 resolves via the extension, computes exactly, matches the 3-dot identity") {
    withExtendedSession { s =>
      val r = s.sql(
        "SELECT long_l2(array(1L, -2L, 3L), array(4L, 5L, -6L)) AS d," +
          " long_dot(array(1L,-2L,3L), array(1L,-2L,3L))" +
          " + long_dot(array(4L,5L,-6L), array(4L,5L,-6L))" +
          " - 2 * long_dot(array(1L,-2L,3L), array(4L,5L,-6L)) AS d3").head()
      assert(r.getLong(0) == 9L + 49L + 81L)
      assert(r.getLong(0) == r.getLong(1), "single pass must equal the identity")
      val e = intercept[Exception](s.sql("SELECT long_l2(array(1L))").head())
      assert(e.getMessage.contains("long_l2"), s"got: ${e.getMessage}")
    }
  }

  test("long_dot rejects wrong arity at analysis instead of dying or dropping args") {
    withExtendedSession { s =>
      val e1 = intercept[Exception](s.sql("SELECT long_dot(array(1L))").head())
      assert(e1.getMessage.contains("long_dot"), s"got: ${e1.getMessage}")
      val e3 = intercept[Exception](
        s.sql("SELECT long_dot(array(1L), array(2L), array(3L))").head())
      assert(e3.getMessage.contains("long_dot"), s"got: ${e3.getMessage}")
    }
  }

  test("the declarative aggregate(zip_with(...)) idiom rewrites to long_dot") {
    withExtendedSession { s =>
      // non-foldable arrays (derived from range) — literal inputs would
      // constant-fold to a LocalRelation before the plan can be observed
      val df = s.sql(
        """SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, v) -> s + v) AS d
          |FROM (SELECT array(id, id + 1L) AS a, array(10L, 20L) AS b FROM range(1, 3))""".stripMargin)
      assert(df.queryExecution.optimizedPlan.toString.contains("long_dot"),
        "optimizer must fuse the HOF pattern into the codegen'd expression")
      // id=1: [1,2]·[10,20]=50; id=2: [2,3]·[10,20]=80
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(50L, 80L),
        "rewrite must not change the values")
    }
  }

  test("the declarative squared-difference idiom rewrites to long_l2") {
    withExtendedSession { s =>
      val df = s.sql(
        """SELECT aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L,
          |  (s, v) -> s + v) AS d
          |FROM (SELECT array(id, id + 1L) AS a, array(10L, 20L) AS b FROM range(1, 3))""".stripMargin)
      assert(df.queryExecution.optimizedPlan.toString.contains("long_l2"),
        "optimizer must fuse the L2 HOF pattern into the codegen'd expression")
      // id=1: (1-10)^2+(2-20)^2 = 81+324 = 405; id=2: 64+289 = 353
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(353L, 405L))
      // the reversed difference squares identically and also fuses
      val rev = s.sql(
        """SELECT aggregate(zip_with(a, b, (x, y) -> (y - x) * (y - x)), 0L,
          |  (s, v) -> s + v) AS d
          |FROM (SELECT array(id) AS a, array(10L) AS b FROM range(1, 2))""".stripMargin)
      assert(rev.queryExecution.optimizedPlan.toString.contains("long_l2"))
      assert(rev.head().getLong(0) == 81L)
      // mixed factors ((x-y)*(y-x), a NEGATED square) must NOT fuse
      val mixed = s.sql(
        """SELECT aggregate(zip_with(a, b, (x, y) -> (x - y) * (y - x)), 0L,
          |  (s, v) -> s + v) AS d
          |FROM (SELECT array(id) AS a, array(10L) AS b FROM range(1, 2))""".stripMargin)
      assert(!mixed.queryExecution.optimizedPlan.toString.contains("long_l2"))
      assert(mixed.head().getLong(0) == -81L)
    }
  }

  test("the rewrite preserves NULL-on-length-mismatch semantics") {
    withExtendedSession { s =>
      // zip_with pads the shorter array with NULLs → declarative result
      // is NULL; the rewritten plan must answer identically
      val df = s.sql(
        """SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, v) -> s + v) AS d
          |FROM (SELECT array(id, id + 1L, id + 2L) AS a, array(10L, 20L) AS b
          |      FROM range(1, 2))""".stripMargin)
      assert(df.head().isNullAt(0), "length mismatch must stay NULL after rewrite")
    }
  }

  test("non-matching HOF shapes are left untouched") {
    withExtendedSession { s =>
      // min-merge, not add: must NOT rewrite (non-foldable input so the
      // expression survives into the optimized plan either way)
      val df = s.sql(
        """SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 0L,
          |                 (s, v) -> least(s, v)) AS d
          |FROM (SELECT array(id, id + 1L) AS a, array(10L, 20L) AS b FROM range(1, 2))""".stripMargin)
      assert(!df.queryExecution.optimizedPlan.toString.contains("long_dot"))
      assert(df.head().getLong(0) == 0L)
    }
  }

  test("token_count equals size(split(s, ' ')) on every edge shape, incl. multi-byte") {
    withExtendedSession { s =>
      // trailing/leading/double spaces, empty string, and multi-byte
      // UTF-8 (no 0x20 inside a sequence) — parity with the split form
      val df = s.sql(
        """SELECT t, token_count(t) AS tc, size(split(t, ' ')) AS sz FROM VALUES
          |  ('a b c'), ('a  b'), (' a'), ('a '), (''), (' '),
          |  ('héllo wörld 縦書き'), ('縦 書 き') AS v(t)""".stripMargin)
      df.collect().foreach { r =>
        assert(r.getInt(1) === r.getInt(2), s"mismatch on '${r.getString(0)}'")
      }
      // NULL propagates (ANSI size contract)
      val n = s.sql("SELECT token_count(CAST(NULL AS STRING))").head()
      assert(n.isNullAt(0))
    }
  }

  test("size(split(s, ' ')) is rewritten to token_count; other patterns are not") {
    withExtendedSession { s =>
      // non-foldable input so the expression survives constant folding
      val hit = s.sql(
        "SELECT size(split(concat('a b ', id), ' ')) AS n FROM range(1, 2)")
      assert(hit.queryExecution.optimizedPlan.toString.contains("token_count"),
        "the single-space idiom must fuse")
      assert(hit.head().getInt(0) === 3)
      // a regex pattern has different semantics — must NOT rewrite
      val miss = s.sql(
        "SELECT size(split(concat('a  b', id), '\\\\s+')) AS n FROM range(1, 2)")
      assert(!miss.queryExecution.optimizedPlan.toString.contains("token_count"))
      assert(miss.head().getInt(0) === 2)
      // a non-default limit changes trailing-empty handling — must NOT rewrite
      val lim = s.sql(
        "SELECT size(split(concat('a b c', id), ' ', 2)) AS n FROM range(1, 2)")
      assert(!lim.queryExecution.optimizedPlan.toString.contains("token_count"))
      assert(lim.head().getInt(0) === 2)
    }
  }
}
