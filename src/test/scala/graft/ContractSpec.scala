package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's own plumbing: the query registry and Bench's
  * per-query timing and failure accounting. */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registry: a name two modules register fails instead of dropping one") {
    val e = intercept[IllegalArgumentException](SparkEntry.merge(Seq(
      Map("a1" -> "x", "shared" -> "y"), Map("shared" -> "z", "b1" -> "w"))))
    assert(e.getMessage.contains("shared"))
    assert(SparkEntry.merge(Seq(Map("a1" -> 1), Map("b1" -> 2))) ==
      Map("a1" -> 1, "b1" -> 2))
    assert(SparkEntry.queries.size == 329)
    assert(SparkEntry.oracleSql.size == 329)
    // a mistyped oracle key would leave its query with no oracle
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("Bench: a query that throws is an error, never a timing") {
    type Q = (SparkSession, String) => DataFrame
    val ok: Q = (s, _) => s.range(10).toDF()
    val throwsInPlan: Q =
      (s, _) => s.range(3).filter(raise_error(lit("boom")).isNull).toDF()
    val throwsOnBuild: Q = (_, _) => sys.error("no plan")
    assert(Bench.timeQuery(spark, TestSpark.sf, "ok", ok).isRight)
    val inPlan = Bench.timeQuery(spark, TestSpark.sf, "bad", throwsInPlan)
    assert(inPlan.left.exists(_.getMessage.contains("boom")))
    assert(Bench.timeQuery(spark, TestSpark.sf, "bad2", throwsOnBuild).isLeft)

    val boom = Left(new RuntimeException("boom"))
    val t = Bench.tally(
      passes = Seq(
        Seq("a" -> Right(1.0), "b" -> Right(2.0), "c" -> Right(4.0)),
        Seq("a" -> Right(0.5), "b" -> boom, "c" -> Right(3.0))),
      retries = Seq("c" -> Right(2.5), "c" -> boom))
    assert(t.errors == Seq("b", "c"))
    assert(t.perQuery == Seq("a" -> 0.5))
    assert(t.passTotals == Seq(1.0, 0.5))
    val warm = Bench.tally(Seq(Seq("a" -> Right(1.0), "d" -> Right(2.0))),
      warmFailed = Set("d"))
    assert(warm.errors == Seq("d") && warm.perQuery == Seq("a" -> 1.0))
    assert(warm.passTotals == Seq(1.0))
  }

  test("Verify: a query that throws is named in verify_errors.json, the rest still run") {
    type Q = (SparkSession, String) => DataFrame
    val ok: Q = (s, _) => s.range(3).toDF()
    val throwsInPlan: Q =
      (s, _) => s.range(3).filter(raise_error(lit("boom")).isNull).toDF()
    val out = java.nio.file.Files.createTempDirectory("verify_out").toString
    val errors = Verify.runQueries(spark, TestSpark.sf, out,
      Seq("ok1" -> ok, "bad" -> throwsInPlan, "ok2" -> ok))
    assert(errors.map(_._1) == Seq("bad"))
    assert(errors.head._2.startsWith("org.apache.spark.") && errors.head._2.contains("boom"),
      errors.head._2)
    for (name <- Seq("ok1", "ok2"))
      assert(spark.read.parquet(s"$out/$name").count() == 3, name)
    assert(Verify.jsonObject(Nil) == "{}")
    assert(Verify.jsonObject(Seq("q" -> "java.lang.RuntimeException: a \"b\"\n\tc")) ==
      "{\"q\": \"java.lang.RuntimeException: a \\\"b\\\"\\n\\tc\"}")
  }

  test("oracle CTEs: one scanner marks every WITH entry MATERIALIZED and nothing else") {
    val M = " MATERIALIZED"
    val cases = Seq(
      // a plain WITH list
      "WITH a AS (SELECT 1 AS x), b AS (SELECT x FROM a) SELECT * FROM b" ->
        s"WITH a AS$M (SELECT 1 AS x), b AS$M (SELECT x FROM a) SELECT * FROM b",
      // RECURSIVE, an entry with a column list
      """WITH RECURSIVE e AS (SELECT 1 AS a, 2 AS b),
        reach(a, b) AS (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        SELECT * FROM reach""" ->
        s"""WITH RECURSIVE e AS$M (SELECT 1 AS a, 2 AS b),
        reach(a, b) AS$M (SELECT a, b FROM e
          UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        SELECT * FROM reach""",
      // a nested WITH, and a subquery in parentheses inside a body
      "WITH a AS (WITH b AS (SELECT 1 AS x) SELECT x FROM b), c AS (SELECT (SELECT 1) AS y) SELECT 1" ->
        s"WITH a AS$M (WITH b AS$M (SELECT 1 AS x) SELECT x FROM b), c AS$M (SELECT (SELECT 1) AS y) SELECT 1",
      // an entry already marked is kept
      s"WITH a AS$M (SELECT 1), c AS (SELECT 3) SELECT 1" ->
        s"WITH a AS$M (SELECT 1), c AS$M (SELECT 3) SELECT 1",
      // a WINDOW list, also inside an entry's body
      "SELECT SUM(x) OVER w1, SUM(x) OVER w2 FROM t WINDOW w1 AS (ORDER BY x), w2 AS (ORDER BY y)" ->
        "SELECT SUM(x) OVER w1, SUM(x) OVER w2 FROM t WINDOW w1 AS (ORDER BY x), w2 AS (ORDER BY y)",
      "WITH a AS (SELECT SUM(x) OVER w FROM t WINDOW w AS (ORDER BY x), v AS (ORDER BY y)) SELECT 1" ->
        s"WITH a AS$M (SELECT SUM(x) OVER w FROM t WINDOW w AS (ORDER BY x), v AS (ORDER BY y)) SELECT 1",
      // quoted literals: unbalanced parentheses, doubled quotes, a WITH
      "WITH a AS (SELECT '(' AS p, 'it''s ), b AS (' AS q) SELECT ' WITH x AS (' AS s" ->
        s"WITH a AS$M (SELECT '(' AS p, 'it''s ), b AS (' AS q) SELECT ' WITH x AS (' AS s",
      // comments: a WITH, an entry and a closing parenthesis
      "SELECT 1 -- WITH x AS (\n" -> "SELECT 1 -- WITH x AS (\n",
      "WITH a AS (SELECT 1 -- ), x AS (\n), b AS (SELECT '--- TOTAL ---') SELECT 1" ->
        s"WITH a AS$M (SELECT 1 -- ), x AS (\n), b AS$M (SELECT '--- TOTAL ---') SELECT 1")
    for ((in, want) <- cases) {
      assert(SparkEntry.materializeCtes(in) == want, in)
      assert(SparkEntry.materializeCtes(want) == want, s"not idempotent: $want")
    }

    // the decision lives in the scanner alone: no generator writes it ...
    for ((_, oracles) <- SparkEntry.modules; (k, sql) <- oracles)
      assert(!sql.contains("MATERIALIZED"), s"$k writes MATERIALIZED itself")
    // ... and every entry of every registered oracle carries it: with
    // literals and comments cut, an unmarked `AS (` is only a WINDOW
    // definition (its WINDOW keyword comes after the last SELECT)
    var marked = 0
    for ((k, sql) <- SparkEntry.oracleSql) {
      assert(SparkEntry.materializeCtes(sql) == sql, k)
      val cut = sql.replaceAll("'[^']*'", "''").replaceAll("--[^\n]*", "")
      marked += "AS MATERIALIZED \\(".r.findAllMatchIn(cut).size
      for (m <- "\\bAS\\s*\\(".r.findAllMatchIn(cut)) {
        val before = cut.substring(0, m.start)
        assert(before.lastIndexOf("WINDOW") > before.lastIndexOf("SELECT"),
          s"$k: unmarked entry at ${cut.substring(m.start - 40 max 0, m.end)}")
      }
    }
    assert(marked > 1500, s"$marked entries marked")
  }

  test("oracle CTEs: every WITH entry is read outside its own definition") {
    // DuckDB 1.0 evaluates a MATERIALIZED entry even when nothing reads
    // it, so an unread entry is pure oracle time. Quoted text and
    // comments are cut the way the scanner skips them; a name counts as
    // read wherever it appears outside its own entry and outside the
    // head of another entry of the same name.
    val skipped = "'[^']*'|\"[^\"]*\"|--[^\n]*".r
    val head = "\\b(\\w+)\\s*(?:\\([^)]*\\)\\s*)?AS MATERIALIZED\\s*\\(".r
    val unread = for {
      (k, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      cut = skipped.replaceAllIn(sql, m =>
        if (m.matched.startsWith("--")) "" else m.matched.take(1) * 2)
      heads = head.findAllMatchIn(cut).toSeq
      headAt = heads.map(_.start).toSet
      h <- heads
      name = h.group(1)
      // the entry spans its name to the ')' closing its body
      end = {
        var (i, depth) = (h.end, 1)
        while (depth > 0) {
          if (cut(i) == '(') depth += 1 else if (cut(i) == ')') depth -= 1
          i += 1
        }
        i
      }
      if !s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b".r.findAllMatchIn(cut)
        .exists(r => (r.start < h.start || r.start >= end) &&
          !headAt(r.start))
    } yield s"$k:$name"
    assert(unread.isEmpty, s"${unread.size} unread WITH entries: ${unread.mkString(", ")}")
  }
}
