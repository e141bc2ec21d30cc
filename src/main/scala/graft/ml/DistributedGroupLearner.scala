package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The DISTRIBUTED per-group model fit, with no driver loop over the
  * groups: `groupByKey(...).mapGroups` ships each group's series to
  * ONE executor task and fits a local learner there, so 10^5 groups parallelize across the cluster with
  * zero driver involvement — the standard Spark shape for
  * many-small-models (one shuffle on the group key, then pure local
  * compute).
  *
  * The local learner is a self-contained random forest of depth-
  * limited variance-reduction CART trees over the w12 lag features
  * (lag_1 / media_3m / media_6m / ano / mes — the same features the
  * reference view feeds, `ETL - Análise Preditiva…Machine
  * Learning.py:89-154`), bootstrap rows + random feature subsets per
  * tree, chronological 80/20 split, holdout MAE. Deterministic: the
  * RNG seeds from (42, group), so the report is bit-stable across
  * runs and executors — asserted in MlSpec.
  */
object DistributedGroupLearner {

  final case class GroupFit(grupo: Long, n_treino: Long, n_teste: Long,
      mae: Double)

  private final case class Sample(t: Int, features: Array[Double], label: Double)

  // ------------------------------------------------------------ local CART
  private final case class Node(
      feature: Int, threshold: Double, value: Double,
      left: Node, right: Node) {
    def predict(x: Array[Double]): Double =
      if (left == null) value
      else if (x(feature) <= threshold) left.predict(x) else right.predict(x)
  }

  private def leaf(ys: Seq[Double]): Node =
    Node(-1, 0.0, ys.sum / ys.size, null, null)

  /** Best variance-reduction split on one feature set; midpoint
    * thresholds of sorted distinct values. */
  private def fitTree(data: Seq[Sample], feats: Seq[Int], depth: Int,
      minLeaf: Int): Node = {
    val ys = data.map(_.label)
    if (depth == 0 || data.size < 2 * minLeaf || ys.distinct.size <= 1)
      return leaf(ys)
    def sse(s: Seq[Double]): Double = {
      if (s.isEmpty) return 0.0
      val m = s.sum / s.size
      s.map(v => (v - m) * (v - m)).sum
    }
    val base = sse(ys)
    val best = (for {
      f <- feats
      vs = data.map(_.features(f)).distinct.sorted
      if vs.size > 1
      th <- vs.sliding(2).map(p => (p(0) + p(1)) / 2)
      (l, r) = data.partition(_.features(f) <= th)
      if l.size >= minLeaf && r.size >= minLeaf
    } yield (base - sse(l.map(_.label)) - sse(r.map(_.label)), f, th))
      .sortBy(t => (-t._1, t._2, t._3)).headOption
    best match {
      case Some((gain, f, th)) if gain > 1e-12 =>
        val (l, r) = data.partition(_.features(f) <= th)
        Node(f, th, 0.0,
          fitTree(l, feats, depth - 1, minLeaf),
          fitTree(r, feats, depth - 1, minLeaf))
      case _ => leaf(ys)
    }
  }

  private def fitForest(train: Seq[Sample], numTrees: Int, depth: Int,
      seed: Long): Seq[Node] = {
    val nFeatures = train.head.features.length
    val mtry = math.max(1, math.round(math.sqrt(nFeatures.toDouble)).toInt)
    (0 until numTrees).map { t =>
      val rng = new scala.util.Random(seed ^ (t * 0x9E3779B97F4A7C15L))
      val boot = Seq.fill(train.size)(train(rng.nextInt(train.size)))
      val feats = rng.shuffle((0 until nFeatures).toList).take(mtry).sorted
      fitTree(boot, feats, depth, minLeaf = 1)
    }
  }

  private def predict(forest: Seq[Node], x: Array[Double]): Double =
    forest.map(_.predict(x)).sum / forest.size

  // ------------------------------------------------------- distributed fit

  /** One row per group: chronological-split holdout MAE of a local
    * forest fit inside mapGroups. Handles ANY group cardinality —
    * the driver never sees per-group data. */
  def fitPerGroup(s: SparkSession, d: String, numTrees: Int = 30,
      depth: Int = 3): DataFrame = {
    import s.implicits._
    val feats = graft.queries.Windows.w12LagFeatures(s, d)
      .filter(col("lag_1").isNotNull && col("media_6m").isNotNull)
      .select(col("c_nationkey").cast("long"), col("ano"), col("mes"),
        col("total"), col("lag_1"), col("media_3m"), col("media_6m"))
      .as[(Long, Int, Int, Double, Double, Double, Double)]
    feats.groupByKey(_._1)
      .mapGroups { (g, rows) =>
        val data = rows.toArray.sortBy(r => (r._2, r._3))
          .zipWithIndex.map { case ((_, ano, mes, total, l1, m3, m6), i) =>
            Sample(i, Array(l1, m3, m6, ano.toDouble, mes.toDouble), total)
          }.toSeq
        val cut = math.max((data.size * 0.8).toInt, 1)
        val (train, test) = data.splitAt(cut)
        val forest = fitForest(train, numTrees, depth, seed = 42L ^ g)
        val mae =
          if (test.isEmpty) Double.NaN
          else test.map(x => math.abs(predict(forest, x.features) - x.label))
            .sum / test.size
        GroupFit(g, train.size.toLong, test.size.toLong, mae)
      }
      .toDF()
      .orderBy(col("grupo"))
  }
}
