package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_errors.json naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name filter (dev iteration only;
    // the driver always invokes with exactly two args → full run).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = runQueries(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(SparkEntry.oracleSql.toSeq))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), jsonObject(errors))
    spark.stop()
  }

  /** Writes each query's result to `outDir/<name>` as parquet; returns
    * (name, "<exception class>: <message>") for every query that threw
    * (also logged to stderr), in run order; the rest still run. */
  def runQueries(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.toString)
      }
    }

  /** A flat JSON object of string values. The escape covers backslash,
    * quote and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. */
  def jsonObject(kvs: Seq[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
