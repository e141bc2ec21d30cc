package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DeflateRatio, RepairEncoding}

/** SparkSessionExtensions entry point: injects the engine's native
  * expressions into any session via config —
  * `spark.sql.extensions=graft.GraftExtensions` — so SQL-text users
  * (and Thrift/Connect clients on a real cluster) get `cosine_sim`
  * without touching code — plus the TopKPerGroup planner strategy
  * (plans/TopKPerGroup: sort-free per-group top-k). No optimizer
  * rules: built-in Catalyst covers the reference's surface (SURVEY
  * §4); the custom pieces are an expression and a physical operator.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  /** The engine's SQL functions as (name, expression class, factory):
    * the one list both the extensions config and [[Graft.init]]
    * register. */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    ("repair_encoding", classOf[RepairEncoding], e => RepairEncoding(e(0))),
    ("deflate_ratio", classOf[DeflateRatio], e => DeflateRatio(e(0))))
}
