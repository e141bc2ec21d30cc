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
}
