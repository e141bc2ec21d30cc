package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The native expression must be reachable from SQL text — both via
  * session registration and via the SparkSessionExtensions config
  * (the cluster-deployment path). */
class ExtensionsSpec extends AnyFunSuite {

  test("cosine_sim registered on an existing session evaluates in SQL text") {
    val spark = TestSpark.spark
    Graft.init(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val orth = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c""")
      .collect()(0).getDouble(0)
    assert(math.abs(orth) < 1e-12)
  }

  test("GraftExtensions registers its injection without error") {
    // A fresh session with spark.sql.extensions can't be created here
    // (getOrCreate reuses the suite's active session), so assert the
    // injection hook itself: applying the extensions class to a
    // builder-level SparkSessionExtensions must succeed and be
    // idempotent. SQL-text evaluation is covered by the test above.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    val g = new GraftExtensions
    g.apply(ext)
    g.apply(ext) // re-registration must not throw
  }

  test("repair_encoding evaluates as a named expression in SQL text") {
    val spark = TestSpark.spark
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "repair_encoding",
      exprs => graft.functions.RepairEncoding(exprs(0)), "scala_udf")
    val broken = new String("ção".getBytes("UTF-8"), "windows-1252")
    import spark.implicits._
    val out = Seq(broken).toDF("t").createOrReplaceTempView("enc_probe")
    val r = spark.sql("SELECT repair_encoding(t) AS fixed FROM enc_probe")
      .collect()(0).getString(0)
    assert(r == "ção")
    // null-safe by construction (nullIntolerant expression)
    assert(spark.sql("SELECT repair_encoding(CAST(NULL AS STRING))")
      .collect()(0).isNullAt(0))
  }

  test("Graft.init onboards a session: functions + views in one call") {
    val spark = TestSpark.spark
    Graft.init(spark, TestSpark.sf)
    Graft.init(spark, TestSpark.sf) // idempotent
    val r = spark.sql("""
      SELECT n_name, repair_encoding(n_name) AS fixed,
        cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS c,
        deflate_ratio(repeat('ab', 500)) AS d
      FROM nation ORDER BY n_nationkey LIMIT 1""").collect()(0)
    assert(r.getString(0) == r.getString(1)) // clean names pass through
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 0.1, s"deflate_ratio ${r.getDouble(3)}")
  }

  test("deflate_ratio separates repetitive from high-entropy text") {
    import org.apache.spark.sql.functions._
    import graft.functions.CompressionExpressions.deflateRatio
    val spark = TestSpark.spark
    import spark.implicits._
    val boiler = ("lorem ipsum " * 200).trim
    val noise = (1 to 200).map(i =>
      graft.text.TextFunctions.fingerprint(lit(i.toString))).toList
    val df = Seq(boiler).toDF("t")
      .select(deflateRatio(col("t")).as("r_rep"),
        deflateRatio(concat(noise: _*)).as("r_noise"),
        deflateRatio(lit("")).as("r_empty"))
    val row = df.collect()(0)
    assert(row.getDouble(0) < 0.1, s"boilerplate ratio ${row.getDouble(0)}")
    assert(row.getDouble(1) > 0.4, s"noise ratio ${row.getDouble(1)}")
    assert(row.getDouble(2) == 1.0)
    // deterministic across evaluations (interpreted and codegen paths)
    val again = df.collect()(0)
    assert(row.getDouble(0) == again.getDouble(0))
    assert(row.getDouble(1) == again.getDouble(1))
  }

  test("cosine_sim rejects non-float-array inputs") {
    val spark = TestSpark.spark
    Graft.init(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1, 2), array(3, 4))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>") ||
      err.getMessage.toLowerCase.contains("cosine_sim"))
  }
}
