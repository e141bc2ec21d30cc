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

  private[graft] val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
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
    * the same parquet tables, every CTE marked by [[materializeCtes]].
    * Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] =
    merge(modules.map(_._2)).map { case (k, sql) => k -> materializeCtes(sql) }

  /** [[materializeCtes]]'s tokens: whitespace and `--` comments; the
    * keyword that opens a WITH list; the comma after an entry's body;
    * an entry's head, its `AS` as group 1, an existing `MATERIALIZED`
    * as group 2, up to the body's '('. */
  private val cteWs = """(?:\s|--[^\n]*)*"""
  private val cteWith = raw"(?i)WITH\b$cteWs(?:RECURSIVE\b)?".r.pattern
  private val cteComma = s"$cteWs,".r.pattern
  private val cteHead =
    raw"(?i)$cteWs\w+\b$cteWs(?:\([^)]*\)$cteWs)?(AS)\b$cteWs(MATERIALIZED\b)?$cteWs\(".r.pattern

  /** `sql` with every WITH-list entry marked `MATERIALIZED`: the one
    * place that decides how DuckDB evaluates an oracle CTE, so no
    * generator writes the keyword. DuckDB 1.0 inlines an unmarked CTE
    * at each reference, so an unrolled chain (the GD retrain, Lloyd
    * steps, BPE merges) would re-derive its inputs once per reader.
    *
    * One pass that skips quoted literals and identifiers and `--`
    * comments. An entry is `name [(cols)] AS (` right after
    * `WITH [RECURSIVE]`, or after the `,` that follows the closing
    * parenthesis of an entry's body, so a `WINDOW w AS (…)` list is
    * never touched. An entry already `MATERIALIZED` is kept. */
  private[graft] def materializeCtes(sql: String): String = {
    val n = sql.length
    val out = new java.lang.StringBuilder(n)
    var from = 0 // sql from `from` on is not yet copied to out
    var bodies = Set.empty[Int] // offsets of the '(' opening an entry's body
    var open = List.empty[Boolean] // per open '(': does it open a body
    def after(p: java.util.regex.Pattern, at: Int): Option[java.util.regex.Matcher] =
      Some(p.matcher(sql).region(at, n)).filter(_.lookingAt())
    def entry(at: Int): Unit = after(cteHead, at).foreach { m =>
      bodies += m.end - 1
      if (m.group(2) == null) {
        out.append(sql, from, m.end(1)).append(" MATERIALIZED")
        from = m.end(1)
      }
    }
    var i = 0
    while (i < n) sql(i) match {
      case q @ ('\'' | '"') => // a doubled quote closes and reopens: same skip
        val e = sql.indexOf(q, i + 1)
        i = if (e < 0) n else e + 1
      case '-' if sql.startsWith("--", i) =>
        val e = sql.indexOf('\n', i)
        i = if (e < 0) n else e
      case c =>
        if (c == '(') open = bodies(i) :: open
        else if (c == ')' && open.nonEmpty) {
          if (open.head) after(cteComma, i + 1).foreach(m => entry(m.end))
          open = open.tail
        } else if ((c == 'W' || c == 'w') &&
            (i == 0 || !Character.isLetterOrDigit(sql(i - 1)) && sql(i - 1) != '_'))
          after(cteWith, i).foreach(m => entry(m.end))
        i += 1
    }
    out.append(sql, from, n).toString
  }

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
