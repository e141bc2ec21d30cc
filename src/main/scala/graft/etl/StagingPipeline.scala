package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.core.SchemaMapping

/** Generic staging ETL pipeline — the reference's canonical
  * extract → project/rename → clean → cast → filter → stamp → load
  * shape (`ETL - Faturamento B2B.py:126-316`, SURVEY §3.1), as one
  * lazy DataFrame chain: Catalyst fuses every step into the scan
  * projection, so a 100 TB staging run is scan + write with zero
  * intermediate materialization (the reference materializes after
  * every step).
  *
  * Audits mirror the reference's runtime reconciliation checks
  * (SURVEY §5): row-count deltas per filter, control totals after
  * cleaning, per-column null profile — computed in ONE aggregate pass
  * over the staged output, not N passes.
  */
final case class PipelineAudit(
    rowsIn: Long,
    rowsKept: Long,
    controlTotals: Map[String, java.math.BigDecimal],
    nullCounts: Map[String, Long])

final case class StagingPipeline(
    mapping: SchemaMapping,
    requiredKeys: Seq[String],
    controlTotalCols: Seq[String],
    loadTimestamp: Column) {

  /** The staged frame: one narrow plan, no action triggered. */
  def stage(raw: DataFrame): DataFrame =
    mapping(raw)
      .na.drop("any", requiredKeys)
      .withColumn("data_carga_dw", loadTimestamp)

  /** Run audits with a single aggregate job over input + output: the
    * input rows are counted in the same pass, and the control totals
    * and null counts cover only the rows [[stage]] keeps — those whose
    * `requiredKeys` are all present (`na.drop("any")` also drops a
    * floating-point NaN key). */
  def audit(raw: DataFrame): PipelineAudit = {
    val mapped = mapping(raw).withColumn("data_carga_dw", loadTimestamp)
    val kept = requiredKeys.map { c =>
      mapped.schema(c).dataType match {
        case DoubleType | FloatType => col(c).isNotNull && !isnan(col(c))
        case _ => col(c).isNotNull
      }
    }.foldLeft(lit(true))(_ && _)
    val outCols = mapped.columns
    val aggs =
      Seq(count(lit(1)).as("__rows_in"), count(when(kept, 1)).as("__rows")) ++
        controlTotalCols.map(c =>
          sum(when(kept, col(c).cast("decimal(30,2)"))).as(s"__tot_$c")) ++
        outCols.map(c => count(when(kept && col(c).isNull, 1)).as(s"__nulls_$c"))
    val row = mapped.agg(aggs.head, aggs.tail: _*).collect()(0)
    PipelineAudit(
      rowsIn = row.getAs[Long]("__rows_in"),
      rowsKept = row.getAs[Long]("__rows"),
      controlTotals = controlTotalCols
        .map(c => c -> row.getAs[java.math.BigDecimal](s"__tot_$c")).toMap,
      nullCounts = outCols.map(c => c -> row.getAs[Long](s"__nulls_$c")).toMap)
  }

  /** Load: overwrite parquet — the Spark-native analog of the
    * reference's DROP+CREATE+batched-INSERT (`ETL - Faturamento
    * B2B.py:210-302`); at scale add `.partitionBy(dateCol)` with
    * dynamic partition overwrite for the reference's idempotent
    * date-partition refresh (S12). */
  def load(raw: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = stage(raw).write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }
}
