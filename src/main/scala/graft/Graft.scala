package graft

import org.apache.spark.sql.SparkSession

/** One-call onboarding for a session that wasn't started with
  * `spark.sql.extensions=graft.GraftExtensions` (notebooks, tests,
  * existing apps): registers the engine's SQL functions
  * ([[GraftExtensions.functions]]), the sort-free TopKPerGroup
  * planner strategy, and — when a data directory is given — the
  * table views, so both the DataFrame API and reference-style
  * `spark.sql` text work immediately. Idempotent.
  */
object Graft {

  /** Engine functions + planner strategy only. */
  def init(spark: SparkSession): Unit = {
    GraftExtensions.functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "scala_udf")
    }
    org.apache.spark.sql.GraftBridge.ensureStrategy(spark, graft.plans.TopKStrategy)
  }

  /** Functions + strategy + temp views over `dir`'s tables. */
  def init(spark: SparkSession, dir: String): Unit = {
    init(spark)
    graft.core.Views.registerAll(spark, dir)
  }
}
