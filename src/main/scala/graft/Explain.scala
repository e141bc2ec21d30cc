package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for selected queries —
  * used to review scan pruning (PushedFilters/ReadSchema), join
  * strategies (broadcast vs shuffle) and WholeStageCodegen spans.
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("p9_date_range", "j6_star_join", "q1_agg", "o5_topk", "x1_dedup_exact")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
