package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.plans.TopK

/** Custom physical operator: sort-free per-group top-k. */
class PlansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def viaWindow(k: Int) = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  private def viaTopK(k: Int) =
    TopK.perGroup(Tables.orders(spark, sf), Seq("o_orderpriority"),
      Seq(("o_totalprice", true), ("o_orderkey", false)), k)

  test("TopKPerGroup equals the window-rank formulation (unique tiebreak)") {
    for (k <- Seq(1, 3, 10)) {
      val a = viaTopK(k).orderBy("o_orderpriority", "o_orderkey").collect().toSeq
      val b = viaWindow(k).orderBy("o_orderpriority", "o_orderkey").collect().toSeq
      assert(a == b, s"k=$k mismatch")
    }
  }

  test("plan has partial+final heap operators and no Sort") {
    // SparkPlan.nodeName strips the Exec suffix → "TopKPerGroup"
    val plan = viaTopK(3).queryExecution.executedPlan.toString
    assert("TopKPerGroup \\[".r.findAllIn(plan).size == 2,
      s"expected partial+final heap operators:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly the group-key exchange:\n$plan")
    assert(!plan.contains("Sort "), s"no sort expected:\n$plan")
  }

  test("pr3 table-health scans prune to the audited key columns only") {
    val plan = graft.queries.MlEtl.pr3TableHealth(spark, sf)
      .queryExecution.executedPlan.toString
    // the lineitem scan (16 columns) must read only the PK pair + FK;
    // a full-schema read would make the audit a full-table IO at scale
    val liScan = plan.linesIterator
      .find(l => l.contains("lineitem.parquet") && l.contains("ReadSchema"))
    assert(liScan.isDefined, "no lineitem scan with ReadSchema in plan")
    val schema = liScan.get.substring(liScan.get.indexOf("ReadSchema"))
    assert(schema.contains("l_orderkey") && schema.contains("l_linenumber"))
    assert(!schema.contains("l_comment") && !schema.contains("l_extendedprice"),
      s"lineitem scan reads more than the audited keys: $schema")
  }

  test("IVF cell assignment plans row-locally: no shuffle, no window sort") {
    val plan = graft.queries.TrainingDataAnn
      .ivfCells(spark, sf, lloydIters = 0)
      .queryExecution.executedPlan.toString
    // r12: the argmax runs inside the row against the literal
    // centroid array — no per-vector aggregate, no exchange beyond
    // the input spread, and never a window formulation
    assert(plan.contains("array_max"),
      "assignment should be a row-local argmax over the literal centroids")
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"assignment must not shuffle the corpus by vec_id:\n$plan")
    assert(!plan.contains("row_number"),
      "assignment must not fall back to the window formulation")
  }

  test("operator handles groups smaller than k and string order keys") {
    val out = TopK.perGroup(Tables.nation(spark, sf), Seq("n_regionkey"),
      Seq(("n_name", false)), 100)
    assert(out.count() == Tables.nation(spark, sf).count())
    val top1 = TopK.perGroup(Tables.nation(spark, sf), Seq("n_regionkey"),
      Seq(("n_name", false)), 1)
      .select("n_regionkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val expect = Tables.nation(spark, sf)
      .groupBy("n_regionkey").agg(min("n_name").as("n_name"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(top1 == expect)
  }

  test("PII redaction plans with zero exchanges (scan-speed claim)") {
    val plan = graft.queries.TrainingDataQuality.x26PiiRedaction(spark, sf)
      .queryExecution.executedPlan.toString
    // the trailing orderBy is the oracle's presentation sort; nothing
    // BEFORE it may shuffle — so exactly the one range exchange
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected only the presentation-sort exchange:\n$plan")
  }

  test("sequence packing windows per source, never a single partition") {
    val plan = graft.queries.TrainingDataQuality.x25PackSequences(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(source"),
      s"expected the window exchange keyed by source:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"packing must not collapse to one partition:\n$plan")
  }

  test("trajectory scoring joins nothing corpus-sized; KMV windows per source") {
    // x157/x159: the 20x68 weight trajectory must never cost a
    // shuffle of the corpus-sized feature table. r11 rode a 1-row
    // BroadcastNestedLoopJoin; since the r12 task-side fold
    // ([[TrainingDataClassifier.trajPqRows]]) the trajectory travels in the
    // task closure and the per-step scoring is compiled row-local
    // code — NO join of any strategy and no doc-keyed exchange may
    // appear between the feature scan and the final rollup.
    for (q <- Seq("x157_cartography", "x159_tracin_self")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"$q must not join the trajectory at all (task-side fold):\n$plan")
      assert(!plan.contains("CartesianProduct"), q)
      assert(!plan.contains("hashpartitioning(doc_id"),
        s"$q scoring must stay row-local (no doc-keyed exchange):\n$plan")
    }
    // x160: the k-smallest scan partitions by source — a global
    // single-partition sort over the vocabulary would serialize at
    // scale
    val p = SparkEntry.queries("x160_kmv_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(source"),
      s"expected the rank window keyed by source:\n$p")
  }

  test("bloom dedup probes map-side: might_contain filters before the join") {
    val plan = graft.queries.TrainingDataDedup.x29BloomDedup(spark, sf)
      .queryExecution.executedPlan.toString
    // both union branches carry a probe: NOT might_contain (definitely
    // new, skips the join) and might_contain (candidates)
    assert("might_contain".r.findAllIn(plan).size >= 2,
      s"expected bloom probes on both union branches:\n$plan")
    // the anti-join consumes only bloom-positive candidates: a probe
    // filter sits below the join (after it in the printout)
    val joinAt = plan.indexOf("LeftAnti")
    assert(joinAt >= 0 && plan.indexOf("might_contain", joinAt) > joinAt,
      s"bloom probe should feed the anti-join's left side:\n$plan")
  }

  test("substring and semantic dedup joins never degenerate to cartesians") {
    // both ops self-join on a key (window hash / cell); a dropped key
    // would silently turn them into corpus-squared scans
    for (q <- Seq("x33_substring_dedup", "x35_semantic_dedup",
        "x85_dhash_neardup", "x83_kn_logppl", "x87_boilerplate_strip",
        "x91_lsh_precision", "x92_dhash_store", "x148_margin_mining",
        "x152_quality_survivor", "x149_rholoss_select")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q must join on its bucket key:\n$plan")
    }
  }

  test("filtered ANN pushes the label predicate down to the catalog scan") {
    // PRE-filtering is the point of x34: the metadata predicate must
    // reach the parquet reader, not run after the scan
    val plan = graft.queries.TrainingDataAnn.x34FilteredAnn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,0)"),
      s"label predicate should appear in PushedFilters:\n$plan")
  }

  test("x32b never reads text: both staged scans are column-pruned") {
    // The single-scan calibration's whole point: quality is an ingest
    // column, so neither the histogram pass nor the filter pass may
    // read `text` (or re-derive the score) from the staged corpus.
    val plan = SparkEntry.queries("x32b_quality_ingest")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty, s"no parquet scans in plan:\n$plan")
    assert(scans.forall(!_.contains("text")),
      s"a staged scan still reads text:\n${scans.mkString("\n")}")
  }

  test("tf-idf broadcasts the vocabulary-sized df side (AQE, no hint)") {
    // no explicit broadcast hint on the df join (a 100 TB vocabulary
    // can exceed broadcast limits) — AQE must still pick broadcast at
    // fixture scale from runtime stats, so execute first, then read
    // the finalized adaptive plan
    for (name <- Seq("x30_tfidf_topk", "x39_unigram_logppl", "x42_dsir_weights",
        "x63_pmi_cooccurrence")) {
      val q = SparkEntry.queries(name)(spark, sf)
      q.count()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$name vocabulary join should broadcast:\n$plan")
    }
  }

  test("int8 quantization is row-local: only the final sort exchanges") {
    // x43 is the map stage that writes the quantized serving copy at
    // 100 TB — any shuffle beyond the diagnostic output sort would
    // mean the quantizer itself doesn't scale embarrassingly
    val q = SparkEntry.queries("x43_embed_quantize")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"x43 should shuffle only for the output sort:\n${exchanges.mkString("\n")}")
  }

  test("covariance generates pairs row-locally: no shuffle joins, one scan") {
    // x46's pair space comes from chained generators, never a
    // self-join of the exploded corpus; the d²-cell sums join only
    // pinned driver-local sides — so the expensive d²-explode pass
    // is the plan's ONLY corpus scan (the S_i sums are pre-collected)
    val q = SparkEntry.queries("x46_embed_covariance")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"x46 should not shuffle-join:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"x46 should scan the corpus exactly once, saw $scans:\n$plan")
  }

  test("correlation shares covariance's shape: one scan, no shuffle joins") {
    // x48's diagonal moments are pinned driver-local like x46's sums
    val q = SparkEntry.queries("x48_embed_correlation")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"x48 should not shuffle-join:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"x48 should scan the corpus exactly once, saw $scans:\n$plan")
  }

  test("pca projection is a row-local fold: no joins, sort-only exchange") {
    // the eigensolve happened on the driver; the distributed part is
    // scan → project(ordered fold vs literal eigenvector) → sort
    val q = SparkEntry.queries("x49_pca_project")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x49 should not join:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange"))
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"x49 should shuffle only for the output sort:\n${exchanges.mkString("\n")}")
  }

  test("whitening projection is a row-local fold: no joins, sort-only exchange") {
    // x65's covariance + deflated eigensolve collapse to the driver;
    // the distributed part is scan → project(two ordered folds vs
    // literal eigenvectors) → sort — exactly x49's serving shape
    val q = SparkEntry.queries("x65_embed_whiten")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x65 should not join:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange"))
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"x65 should shuffle only for the output sort:\n${exchanges.mkString("\n")}")
  }

  test("standardization attaches moments as literals: no join, sort-only exchange") {
    // x51's per-dim moments ride broadcast-literal arrays via
    // element_at — the scoring plan is scan → explode → project → sort
    val q = SparkEntry.queries("x51_embed_standardize")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x51 should not join:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange"))
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"x51 should shuffle only for the output sort:\n${exchanges.mkString("\n")}")
  }

  test("source overlap pairwise joins only pinned signatures") {
    // x47 reduces the corpus to |sources|×k signature cells in one
    // map-side-combinable pass, pins them driver-local, and the
    // pairwise compare never touches data: the final plan has no
    // parquet scan and no shuffle join at all
    val q = SparkEntry.queries("x47_source_overlap")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"x47's pairwise stage should run on pinned signatures, not rescan the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"x47 should not shuffle-join:\n$plan")
  }

  test("char entropy shuffles the doc rows once: a single doc_id hash exchange") {
    // x53 repartitions the PRE-explode doc rows on doc_id; that one
    // partitioning satisfies the (doc_id, ch) group, the doc_id
    // window, and the final doc_id group, so the per-char rows never
    // cross the wire — one text-sized exchange plus the output sort
    val q = SparkEntry.queries("x53_char_entropy")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x53 should not join:\n$plan")
    val hashEx = plan.split("\n")
      .filter(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx.length == 1 && hashEx.head.contains("doc_id"),
      s"x53 should hash-exchange exactly once, on doc_id:\n${hashEx.mkString("\n")}")
  }

  test("token fertility is one scan onto |sources| rows") {
    val q = SparkEntry.queries("x54_token_fertility")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x54 should not join:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"x54 should scan the corpus exactly once, saw $scans:\n$plan")
  }

  test("language divergence derives everything from the pinned count grid") {
    // the |sources|×|langs| counts are collected once; the JSD plan
    // itself reads only local relations — no parquet, no shuffle join
    val q = SparkEntry.queries("x55_lang_divergence")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"x55 should run on the pinned count grid, not rescan the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"x55 should not shuffle-join:\n$plan")
  }

  test("chunking is row-local: no join, no hash exchange") {
    // x56 is scan → project(token array) → explode(chunk grid) →
    // slice/md5 → sort; the only exchanges are the parallelism spread
    // and the output sort
    val q = SparkEntry.queries("x56_chunk_documents")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x56 should not join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"x56 should not hash-shuffle:\n$plan")
  }

  test("pmi top-k is TakeOrdered, not a global sort") {
    // the limit-100 cut must ride TakeOrderedAndProject over the
    // bounded pair table — a full orderBy shuffle of the vocabulary
    // pair space would be the anti-shape at web-corpus vocabulary
    val q = SparkEntry.queries("x63_pmi_cooccurrence")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"),
      s"x63 should TakeOrdered the top-k:\n$plan")
  }

  test("incremental near-dup reads the persisted store, not the old corpus") {
    // x60's plan must scan the signature store's bands/sigs parquet;
    // the old corpus contributes NO fresh signature computation (its
    // md5/minhash folds happened once, at store build time)
    val q = SparkEntry.queries("x60_signature_store")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("sig_store"),
      s"x60 should read the persisted signature store:\n$plan")
  }

  test("quality sampling is row-local: no join, sort-only exchange") {
    val q = SparkEntry.queries("x61_quality_sampling")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x61 should not join:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange"))
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"x61 should shuffle only for the output sort:\n${exchanges.mkString("\n")}")
  }

  test("embedding outliers score row-locally against literal moments") {
    // x57's diagonal moments are pinned driver-local (x51 pattern);
    // the scoring plan is one scan → explode → project → vec-keyed
    // map-side-combinable groupBy — no join of any kind
    val q = SparkEntry.queries("x57_embed_outliers")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x57 should not join:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"x57 should scan embeddings exactly once, saw $scans:\n$plan")
  }

  test("x69 prototypicality joins only broadcast-sized relations") {
    // the centroid table is |labels|×d and its norm table |labels| —
    // both must attach as BroadcastHashJoin; a SortMergeJoin here
    // would mean a corpus-sized shuffle on the label key
    val q = SparkEntry.queries("x69_prototypicality")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"x69 must not shuffle-join the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"x69 centroid attach should broadcast:\n$plan")
  }

  test("x70 mixture sampling: stats grid broadcasts, corpus never shuffle-joins") {
    val q = SparkEntry.queries("x70_mixture_sample")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"x70 rate attach must broadcast, not shuffle:\n$plan")
  }

  test("x80 quality trend is one pruned scan, no join") {
    val q = SparkEntry.queries("x80_quality_trend")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"x80 should not join:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"x80 should scan documents exactly once:\n$plan")
  }

  test("x109 add path never rescans the store's vectors") {
    // the incremental contract: the only embedding read is the BATCH
    // scan of the base table; the persisted store contributes its
    // 16-row centroids and an id-only cell-map scan (column-pruned —
    // no `embedding` in any store ReadSchema)
    val q = SparkEntry.queries("x109_ivf_addbatch")(spark, sf)
    q.count()
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    val cellScans = leaves(q.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.contains("ivf_base") && p.toString.contains("cells")))
    assert(cellScans.nonEmpty, "expected a store cell-map scan")
    cellScans.foreach { f =>
      assert(!f.requiredSchema.fieldNames.contains("embedding"),
        s"store vectors rescanned:\n$f")
    }
  }

  test("x110 audits against the base-only store and its build excludes the batch slice") {
    // round-10 verdict item 5: the drift audit must read codebooks the
    // batch never influenced — the plan's store scans all point at the
    // ivfpqbase store, and the store itself holds no batch id
    val p = graft.queries.TrainingDataAnn.ensureIvfPqBase(spark, sf)
    assert(spark.read.parquet(s"$p/codes")
      .filter(col("vec_id") % 10 === 7).count() == 0,
      "base store build must exclude the batch slice")
    val q = SparkEntry.queries("x110_ivfpq_addbatch")(spark, sf)
    q.count()
    def leaves(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = pl match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    val storeScans = leaves(q.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("ivfpq")))
    assert(storeScans.nonEmpty, "expected store scans")
    storeScans.foreach { f =>
      assert(f.relation.location.rootPaths
        .forall(_.toString.contains("ivfpqbase")),
        s"x110 must read the base-only store, not the serving store:\n$f")
    }
  }

  test("x98 staged dedup reads labels only — no shingles, no pair join, no CC") {
    // the x32b contract applied to the dedup family: the read path
    // must be a labels-parquet scan + family window + sort — if any
    // shingle verify or pair machinery appears, the staging is a lie
    val q = SparkEntry.queries("x98_staged_dedup")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("array_intersect"),
      s"x98 must not re-verify shingles:\n$plan")
    assert(!plan.contains("Generate"),
      s"x98 must not explode shingles:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"x98 should scan the staged labels exactly once:\n$plan")
  }

  test("x118 calibration scores off the weight REGISTRY, not a retrain") {
    // the x98 staged-read contract for model artifacts: the plan must
    // read the persisted clfw_ parquet — scoring a corpus may never
    // re-enter the 20-job training loop
    val q = SparkEntry.queries("x118_clf_calibration")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("clfw_"),
      s"x118 must scan the persisted weight store:\n$plan")
  }

  test("x136 reads the staged temperature + weight stores, no refit in-plan") {
    val q = SparkEntry.queries("x136_temp_scaling")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("clfw_") && plan.contains("clft_"),
      s"x136 must scan the persisted weight AND temperature stores:\n$plan")
  }

  test("x134/x126 read the ingest-staged winnow store, not a fresh fingerprint scan") {
    for (name <- Seq("x134_source_run_overlap", "x126_winnowing")) {
      val q = SparkEntry.queries(name)(spark, sf)
      q.count()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("winnow2_"),
        s"$name must scan the staged fingerprint store:\n$plan")
    }
  }

  test("x93/x103 row-local transforms shuffle nothing but the output sort") {
    // both scaladocs claim scan-speed row-locality — the plan must
    // contain no hash-partitioned exchange (the only exchange allowed
    // is the range partitioning of the final orderBy)
    for (q <- Seq("x93_intradoc_dedup", "x103_span_corruption")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q claims row-locality but hash-shuffles:\n$plan")
    }
  }

  test("x66 boilerplate shuffles fingerprints, never document text") {
    // the df count and the join back are fp-keyed; text is consumed
    // row-locally into md5 segments before any exchange, so no
    // exchange in the plan may carry the text column
    val q = SparkEntry.queries("x66_boilerplate_segments")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text"),
        s"exchange carries raw text:\n$l"))
  }
}
