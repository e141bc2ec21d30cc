package graft.core

import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Driver pinning for small intermediate results. */
object Pin {
  /** `df` collected to the driver and re-created as a local relation
    * with the same schema: its plan runs once, here, and every later
    * reference reads the rows instead of re-executing that plan. */
  def apply(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
}
