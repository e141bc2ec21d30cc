package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ML paths: the distributed per-group forest (M2), the m1
  * seasonal fit and the IVF index. Forests aren't cross-engine
  * reproducible, so they are invariant-checked rather than
  * oracle-hashed: fixed seed → deterministic within the engine,
  * finite errors, chronological split honored. */
class MlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("distributed per-group learner: all groups, finite MAE, deterministic") {
    import graft.ml.DistributedGroupLearner
    val rep = DistributedGroupLearner.fitPerGroup(spark, sf).collect()
    // every group is fitted (no driver-side cap on this path)
    val nGroups = graft.queries.Windows.w12LagFeatures(spark, sf)
      .filter(org.apache.spark.sql.functions.col("lag_1").isNotNull)
      .select("c_nationkey").distinct().count()
    assert(rep.length == nGroups, s"${rep.length} fits for $nGroups groups")
    rep.foreach { r =>
      assert(r.getAs[Long]("n_treino") > 0)
      val mae = r.getAs[Double]("mae")
      assert(r.getAs[Long]("n_teste") == 0 || (!mae.isNaN && mae >= 0))
    }
    // bit-stable: per-group seeded RNG, no executor-order dependence
    val again = DistributedGroupLearner.fitPerGroup(spark, sf).collect()
    assert(rep.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("m1 seasonal fit covers the whole series and its index is sane") {
    val rows = graft.queries.MlEtl.m1Forecast(spark, sf).collect()
    assert(rows.length >= 24)
    // the seasonal-fit forecast exists for EVERY month (the naive
    // fallback needs 24 months of history and starts null)
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("previsao"))))
    assert(rows.take(12).forall(r => r.isNullAt(r.fieldIndex("previsao_naive"))))
    val idx = rows.map(_.getAs[Double]("sazonalidade"))
    // multiplicative indexes hover around 1; their mean ≈ 1 because the
    // OLS trend is unbiased over the same series
    assert(idx.forall(v => v > 0.3 && v < 2.0), s"index range: ${idx.min}..${idx.max}")
    val mean = idx.sum / idx.length
    assert(math.abs(mean - 1.0) < 0.05, s"index mean $mean")
    // in-sample: the seasonal fit should track actuals at least as well
    // as the naive fallback on the months where both exist
    val both = rows.filter(r => !r.isNullAt(r.fieldIndex("previsao_naive")))
    def mae(f: org.apache.spark.sql.Row => Double) =
      both.map(r => math.abs(f(r) - r.getAs[Double]("total"))).sum / both.length
    val maeFit = mae(_.getAs[Double]("previsao"))
    val maeNaive = mae(_.getAs[Double]("previsao_naive"))
    assert(maeFit <= maeNaive * 1.25,
      s"seasonal fit MAE $maeFit vs naive $maeNaive")
    // 80% residual-quantile band: ordered, tracks the point forecast,
    // and in-sample coverage sits near the nominal width
    assert(rows.forall { r =>
      r.getAs[Double]("previsao_inferior") <= r.getAs[Double]("previsao_superior")
    })
    val covered = rows.count { r =>
      val t = r.getAs[Double]("total")
      t >= r.getAs[Double]("previsao_inferior") &&
        t <= r.getAs[Double]("previsao_superior")
    }.toDouble / rows.length
    assert(covered >= 0.7 && covered <= 0.95, s"interval coverage $covered")
  }

  test("persisted IVF index: same results, probed-cells-only scan (DPP)") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val index = graft.ml.IvfIndex.build(emb, nCells = 16, lloydIters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    graft.ml.IvfIndex.save(index, tmp)
    val loaded = graft.ml.IvfIndex.load(spark, tmp)
    // loaded index is schema-identical to the built one (partition
    // inference would otherwise move `cell` last and narrow it to INT)
    assert(loaded.cells.schema.map(f => (f.name, f.dataType)) ==
      index.cells.schema.map(f => (f.name, f.dataType)),
      s"loaded ${loaded.cells.schema} != built ${index.cells.schema}")
    val queries = emb.filter(col("vec_id") < 5)
    val inMem = graft.ml.IvfIndex.query(index, queries, nprobe = 4, topK = 10)
      .orderBy("qid", "rk")
    val onDisk = graft.ml.IvfIndex.query(loaded, queries, nprobe = 4, topK = 10)
      .orderBy("qid", "rk")
    assert(onDisk.collect().toSeq == inMem.collect().toSeq)
    // the cells scan must read `cell` as a partition column with a
    // dynamic pruning filter: non-probed cells' files are never opened
    val plan = onDisk.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the cells scan:\n$plan")
  }

  test("IvfIndex.append: frozen quantizer — appended index answers like in-memory union") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val fresh = emb.filter(col("vec_id") % 5 === 0)
    val index = graft.ml.IvfIndex.build(old, nCells = 16, lloydIters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_append").toString
    graft.ml.IvfIndex.save(index, tmp)
    graft.ml.IvfIndex.append(spark, tmp, fresh)
    val loaded = graft.ml.IvfIndex.load(spark, tmp)
    // nothing lost, nothing duplicated
    assert(loaded.cells.count() == emb.count())
    // old vectors' assignments are untouched by the append (frozen quantizer)
    val oldCells = index.cells.select(col("vec_id"), col("cell"))
    val after = loaded.cells.select(col("vec_id"), col("cell").as("cell2"))
    assert(oldCells.join(after, "vec_id")
      .filter(col("cell") =!= col("cell2")).count() == 0)
    // queries against the appended on-disk index match an in-memory
    // index built from the same frozen centroids over old ∪ new
    val inMem = graft.ml.IvfIndex.Index(index.centroids,
      index.cells.union(graft.ml.IvfIndex.assign(fresh, index.centroids)))
    val queries = emb.filter(col("vec_id") < 5)
    val a = graft.ml.IvfIndex.query(loaded, queries, nprobe = 4, topK = 10)
      .orderBy("qid", "rk").collect().toSeq
    val b = graft.ml.IvfIndex.query(inMem, queries, nprobe = 4, topK = 10)
      .orderBy("qid", "rk").collect().toSeq
    assert(a == b)
  }

  test("nprobe=2 SemDeDup candidates: superset of single-cell, recall vs brute truth") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions.cosineSim
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val index = graft.ml.IvfIndex.build(emb, nCells = 16, lloydIters = 2)
    def pairSet(assigned: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      assigned.select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("ea"))
        .join(assigned.select(col("cell"), col("vec_id").as("id_b"),
          col("embedding").as("eb")), Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(cosineSim(col("ea"), col("eb")), 4) >= 0.4)
        .select(col("id_a"), col("id_b")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairSet(index.cells)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cid"))
    val probed = emb.crossJoin(broadcast(index.centroids))
      .withColumn("sim", round(cosineSim(col("embedding"), col("ce")), 6))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 2)
      .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
    val double = pairSet(probed)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val truth = a.crossJoin(emb.select(col("vec_id").as("id_b"),
        col("embedding").as("eb")))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineSim(col("ea"), col("eb")), 4) >= 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // top-1 cell is always among the top-2 probes, so candidates only grow;
    // every candidate passed the same τ, so both are subsets of the truth
    assert(single.subsetOf(double), "nprobe=2 lost a single-cell pair")
    assert(double.subsetOf(truth), "a candidate pair is not a true pair")
    val r1 = if (truth.isEmpty) 1.0 else single.size.toDouble / truth.size
    val r2 = if (truth.isEmpty) 1.0 else double.size.toDouble / truth.size
    assert(r2 >= r1, s"recall dropped: $r2 < $r1")
    info(f"recall single-cell=$r1%.3f nprobe2=$r2%.3f truth=${truth.size}")
  }

  test("vector helpers: a wrong-width vector raises in-plan, naming both widths") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorExpressions.{dotLit, l2sq, residual}
    import spark.implicits._
    val u = Seq.fill(64)(1.0)
    // zip_with alone pads the 63-wide side with NULL and the stage
    // returns NULL; each helper must fail instead
    val bad = Seq((Seq.fill(63)(1.0f), Seq.fill(64)(1.0f))).toDF("a", "b")
    for ((name, c) <- Seq("dotLit" -> dotLit(col("a"), u),
        "l2sq" -> l2sq(col("a"), col("b")),
        "residual" -> residual(col("a"), col("b")))) {
      val e = intercept[Exception](bad.select(c.as("v")).collect())
      assert(e.getMessage.contains("vector widths differ: 63 vs 64"),
        s"$name: ${e.getMessage}")
    }
    // equal widths evaluate as before; a NULL vector stays NULL
    val ok = Seq((Seq.fill(64)(2.0f), Seq.fill(64)(1.0f)),
      (null, Seq.fill(64)(1.0f))).toDF("a", "b")
    val rows = ok.select(dotLit(col("a"), u), l2sq(col("a"), col("b")),
      residual(col("a"), col("b"))).collect()
    assert(rows(0).getDouble(0) == 128.0 && rows(0).getDouble(1) == 64.0)
    assert(rows(0).getSeq[Float](2) == Seq.fill(64)(1.0f))
    assert((0 until 3).forall(rows(1).isNullAt))
  }
}
