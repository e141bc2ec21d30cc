package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented SURVEY §2 operator to a runnable
  * query over the `/root/testdata/sf*` parquet tables; `oracleSql`
  * holds the DuckDB-equivalent SQL for the driver's hash compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregations.q1Agg(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Aggregations.defs, Aggregations.oracles),
      (Projections.defs, Projections.oracles),
      (Joins.defs, Joins.oracles),
      (Windows.defs, Windows.oracles),
      (SortsSetOps.defs, SortsSetOps.oracles),
      (Scalars.defs, Scalars.oracles),
      (Json.defs, Json.oracles),
      (TrainingDataDedup.defs, TrainingDataDedup.oracles),
      (TrainingDataAnn.defs, TrainingDataAnn.oracles),
      (TrainingDataLm.defs, TrainingDataLm.oracles),
      (TrainingDataClassifier.defs, TrainingDataClassifier.oracles),
      (TrainingDataMixture.defs, TrainingDataMixture.oracles),
      (TrainingDataQuality.defs, TrainingDataQuality.oracles),
      (MlEtl.defs, MlEtl.oracles),
      (Sources.defs, Sources.oracles),
      (Reports.defs, Reports.oracles),
      (ReportsSmt.defs, ReportsSmt.oracles),
      (ReportsShowroom.defs, ReportsShowroom.oracles),
      (Events.defs, Events.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merge(modules.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] =
    merge(modules.map(_._2))

  /** The union of the modules' maps; a name registered by two modules
    * fails instead of silently keeping one of them. */
  private[graft] def merge[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = acc.keySet.intersect(m.keySet)
      require(dup.isEmpty,
        s"registered by two modules: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }
}
