package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Pin, Store, Tables}
import graft.functions.VectorExpressions.cosineSim
import graft.text.TextFunctions._
import graft.queries.TrainingData._

/** Vector search and embedding analytics: brute-force, LSH and IVF
  * nearest neighbours, product quantization (PQ, IVF-PQ, OPQ), semantic
  * dedup and embedding statistics. Stores: the IVF index and its base,
  * the IVF-PQ stores and the OPQ-PQ store. */
object TrainingDataAnn {

  /** X5: brute-force cosine top-k (k=10) for query vectors vec_id<5 —
    * the correctness baseline for ANN. Query side is tiny → broadcast;
    * the corpus is scanned once, scores rounded to 4dp for stable
    * cross-engine ranking. */
  val x5AnnCosine: Q = (s, d) => {
    val emb = spread(s, Tables.embeddings(s, d))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .withColumn("score", round(cosineSim(col("qe"), col("ne")), 4))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("nid"), col("score"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** X6: LSH-bucketed ANN (the scale path): L=4 hash tables of 6
    * random-hyperplane signs each (deterministic md5-seeded ±1 plane
    * components). A vector lands in one bucket per table; candidates =
    * union over tables of same-bucket vectors; exact cosine only on
    * candidates. Multi-table trades a constant factor of work for
    * recall — the standard LSH knob. The plane signs derive from md5
    * parity, so the whole pipeline has a DuckDB oracle; ScalaTest
    * asserts recall vs x5's exact top-k. */
  val x6AnnLsh: Q = (s, d) => {
    // The synthetic embeddings are near-isotropic (pairwise cosine ≈ 0,
    // no label clustering), the hardest case for LSH: recall here is
    // data-limited, not a bug. 8 tables × 4 planes ≈ 0.57 expected
    // recall at ~2× candidate reduction; real clustered embeddings get
    // far better trade-offs at the same settings.
    val tables = 8
    val planes = 4
    val dims = 64
    val emb = spread(s, Tables.embeddings(s, d))
    // Deterministic ±1 plane components, computed at PLAN time (md5
    // parity of "table-plane-dim") and embedded as literal arrays — the
    // per-row work is then one zip_with+aggregate per plane instead of
    // a 64-term unrolled expression (keeps codegen small and fast).
    def planeSigns(t: Int, p: Int): Seq[Double] = (0 until dims).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$t-$p-$i".getBytes("UTF-8"))
      val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
      if (v % 2 == 0) 1.0 else -1.0
    }
    def sketch(e: Column, t: Int): Column = {
      val bits = (0 until planes).map { p =>
        val signs = array(planeSigns(t, p).map(lit): _*)
        val proj = aggregate(
          zip_with(e, signs, (x, sg) => x.cast("double") * sg),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1 << p)).otherwise(lit(0))
      }
      bits.reduce(_ + _)
    }
    val sk = emb.select(col("vec_id") +: col("embedding") +:
      (0 until tables).map(t => sketch(col("embedding"), t).as(s"b$t")): _*)
    val buckets = sk.select(col("vec_id"), col("embedding"),
      explode(array((0 until tables).map(t =>
        concat_ws(":", lit(t), col(s"b$t"))): _*)).as("bucket"))
    val queries = buckets.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
    val cands = buckets
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("bucket"))
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("qe"), col("nid"), col("ne")).distinct()
      .withColumn("score", round(cosineSim(col("qe"), col("ne")), 4))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("nid"), col("score"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** X12: embedding-cosine near-duplicate pairs (threshold 0.4) —
    * brute-force over the corpus; at 100 TB the same predicate runs
    * after an LSH/IVF candidate pass (x6/x13 topology). Oracle-checked
    * pairwise cosines. */
  val x12DedupCosine: Q = (s, d) => {
    // norms precomputed once per side (500 rows) — the n² pair stage
    // then evaluates a single higher-order dot per pair instead of 3
    val a = spread(s, Tables.embeddings(s, d))
      .select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = Tables.embeddings(s, d)
      .select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosineSim(col("ea"), col("eb")), 4))
      .filter(col("cos") >= 0.4)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** X13: IVF ANN (the other scale path) on the reusable
    * [[graft.ml.IvfIndex]] (build-once/query-many API): coarse
    * quantizer = 16 centroids seeded from the first 16 vectors and
    * refined by two deterministic Lloyd iterations (k-means is Lloyd
    * 1982; the IVF index is Sivic & Zisserman's inverted file),
    * every vector assigned to its nearest cell; queries probe the
    * nprobe=4 nearest cells and run exact cosine only there.
    * Inverted-file topology: the corpus scan partitions by cell at
    * write time at scale. Fully deterministic (integer-sum centroid
    * means, 6dp-rounded argmax) → DuckDB oracle replays the identical
    * training. ScalaTest asserts recall vs x5 plus cell balance vs the
    * untrained seed quantizer — on the near-isotropic fixture, recall
    * at fixed nprobe tracks the probed corpus fraction, so training's
    * payoff shows up as bounded cell size (query-cost variance), while
    * on real clustered embeddings it shows up as recall. */
  def ivfCells(s: SparkSession, d: String, lloydIters: Int): DataFrame =
    graft.ml.IvfIndex
      .build(spread(s, Tables.embeddings(s, d)), nCells = 16, lloydIters)
      .cells

  def ivfTopK(s: SparkSession, d: String, lloydIters: Int): DataFrame = {
    val emb = spread(s, Tables.embeddings(s, d))
    val index = graft.ml.IvfIndex.build(emb, nCells = 16, lloydIters)
    graft.ml.IvfIndex
      .query(index, emb.filter(col("vec_id") < 5), nprobe = 4, topK = 10)
      .orderBy(col("qid"), col("rk"))
  }

  val x13AnnIvf: Q = (s, d) => ivfTopK(s, d, lloydIters = 2)

  /** The OPQ-rotated serving store (x114): [[graft.ml.Opq]]'s
    * parametric rotation applied to the corpus, then EXACTLY the
    * [[writeIvfPq]] pipeline on the rotated vectors — coarse
    * 16-cell L2 quantizer, residual 8×16 product codebook, codes and
    * cell map — plus the rotation matrix itself (serving must rotate
    * incoming queries with the SAME matrix the corpus was coded
    * under). This is the composition Ge et al. describe as the
    * production layout: OPQ is a drop-in pre-rotation for IVF-PQ. */
  private[graft] def ensureOpqPqStore(s: SparkSession, d: String): String =
    Store.materialize("opqpq", "v1", d, "embeddings") { path =>
      val (mat, _, _) = graft.ml.Opq.covariance(Tables.embeddings(s, d))
      val rows = graft.ml.Opq.rotationRows(
        graft.ml.Opq.eigensolve(mat, mat.length), m = 8, dsub = 8)
      s.createDataFrame(rows.toSeq.zipWithIndex.map { case (u, o) =>
          (o.toLong + 1L, u.toSeq) })
        .toDF("o", "u")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/rot")
      writeIvfPq(spread(s, Tables.embeddings(s, d))
          .select(col("vec_id"),
            graft.ml.Opq.rotateCol(col("embedding"), rows).as("embedding"))
          .localCheckpoint(), path)
        .write.mode("overwrite").parquet(s"$path/cells")
    }

  /** The PRE-BATCH serving index for x109's incremental-maintenance
    * audit: an IVF index trained and built on the base corpus only
    * (vec_id % 10 ≠ 7 — the batch vectors provably never influenced
    * the quantizer), persisted like [[ensureIvfIndex]]. */
  private[queries] def ensureIvfBaseStore(s: SparkSession, d: String): String =
    Store.materialize("ivf_base", "v1c16i2", d, "embeddings") { path =>
      graft.ml.IvfIndex.save(
        graft.ml.IvfIndex.build(
          spread(s, Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 7)),
          nCells = 16, lloydIters = 2),
        path)
    }

  /** Build-and-save the x13-shaped IVF index once per fixture (first
    * caller pays; everyone after — x31's probes, x35's cells — reads
    * the materialized inverted file from disk). Returns the path. */
  private[queries] def ensureIvfIndex(s: SparkSession, d: String): String = {
    val nCells = 16; val lloydIters = 2
    Store.materialize("ivf_index", s"v1c${nCells}i$lloydIters", d,
        "embeddings") { path =>
      graft.ml.IvfIndex.save(
        graft.ml.IvfIndex.build(
          spread(s, Tables.embeddings(s, d)), nCells = nCells, lloydIters),
        path)
    }
  }

  /** X31: the persisted-IVF QUERY path — the production side of the
    * build-once/query-many split that the fused x13 (train + probe,
    * timed together every run) can't show. The first call per sf-dir
    * builds and [[graft.ml.IvfIndex.save]]s the on-disk inverted file
    * (cells partitioned by `cell`); every later call — including every
    * timed bench pass, since the warm pass pays the build — only loads
    * it and probes, opening none but the probed cells' files via
    * dynamic partition pruning (plan-asserted in MlSpec). Same
    * determinism contract as x13 (shared [[ivfOracle]]); queries are
    * vec_id 5..9 so the two entries' results stay distinguishable. */
  val x31IvfQuery: Q = (s, d) =>
    graft.ml.IvfIndex.query(
      graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d)),
      Tables.embeddings(s, d).filter(col("vec_id") >= 5 && col("vec_id") < 10),
      nprobe = 4, topK = 10)
      .orderBy(col("qid"), col("rk"))

  /** X28: per-label embedding centroids (mean pooling) — prototype
    * vectors / class centroids over an embedding column. Element-wise
    * mean via posexplode + the integer 2^24-scale sum (the exact
    * order-free trick shared with [[graft.ml.IvfIndex.lloydStep]]),
    * emitted as (label, pos, comp) scalars. Both shuffles are
    * map-side combinable; nothing materializes per-label vector
    * lists. */
  val x28LabelCentroids: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("v").cast("double") * (1 << 24))).as("sv"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sv").cast("double") / (col("n").cast("double") * (1 << 24)))
          .as("comp"),
        col("n"))
      .orderBy(col("label"), col("pos"))

  /** X34: metadata-filtered ANN — top-k cosine neighbors restricted
    * to a catalog predicate (here `label = 0`; production: language,
    * license, date-range). This is PRE-filtering (filter, then
    * search): the predicate reaches the parquet scan as a pushed
    * filter (plan-asserted in PlansSpec), so the search space prunes
    * at I/O time — the right order whenever the filter is selective,
    * vs post-filtering top-k which must over-fetch to survive the
    * cut. Brute-force exact over the filtered catalog is the
    * correctness baseline; the IVF path composes the same way
    * (filter the cells relation before [[graft.ml.IvfIndex.query]]). */
  val x34FilteredAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val catalog = emb.filter(col("label") === 0)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    catalog.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .withColumn("score", round(cosineSim(col("qe"), col("ne")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("nid"), col("score"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** X35: semantic dedup (the SemDeDup recipe, Abbas et al. 2023):
    * embedding-space near-duplicate removal bucketed by k-means
    * cells — candidate pairs are scored only WITHIN each IVF cell
    * (reusing the x13 Lloyd-trained quantizer), pairs at cosine ≥ τ
    * chain into components via pointer-doubling CC, and the minimum
    * vec_id survives per component. The quadratic term is bounded by
    * the largest cell, never the corpus — that bucketing IS the
    * method (cross-cell near-dups are SemDeDup's own documented
    * recall trade-off, amortized by training the quantizer). τ = 0.4
    * matches x12's verify threshold so the fixture produces real
    * clusters. The cells come from the PERSISTED index
    * ([[ensureIvfIndex]], shared with x31): the three references to
    * the cell relation (both pair sides + the id universe) scan the
    * materialized parquet instead of re-running the lazy assignment
    * per reference — the build-once shape production uses. */
  val x35SemanticDedup: Q = (s, d) =>
    semdedupLabels(graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d)).cells)
      .select(col("vec_id"), col("label").as("canonico"),
        (col("vec_id") === col("label")).as("sobrevivente"))
      .orderBy(col("vec_id"))

  /** x35/x120's single-cell SemDeDup clusters over the IVF `cells`:
    * (vec_id, label = min vec_id of its cosine ≥ 0.4 component). */
  private def semdedupLabels(cells: DataFrame): DataFrame = {
    val pairs = cells
      .select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(cells.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("eb")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineSim(col("ea"), col("eb")), 4) >= 0.4)
      .select(col("id_a"), col("id_b"))
    graft.plans.ConnectedComponents.minLabel(
      cells.select(col("vec_id").as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as("vec_id"), col("label"))
  }

  /** X35b: cross-cell recall knob for [[x35SemanticDedup]] — each
    * vector probes its TOP-2 nearest cells (nprobe=2, reusing the
    * persisted index's centroid table and the 6dp+cid tie-break
    * contract of [[graft.ml.IvfIndex.query]]), so a near-dup pair
    * straddling a cell boundary — single-cell SemDeDup's documented
    * miss — still becomes a candidate when either side's second
    * choice is the other's cell. Cost model at 100 TB: every vector
    * appears in ≤2 cells, so the candidate set is ≤4× the single-cell
    * one and the quadratic term stays bounded by the largest cell;
    * recall/cost measured on the fixture in PLANS.md. Pairs colliding
    * in both shared cells dedup AFTER the τ-threshold (distinct on
    * the id pair, never on the embeddings). */
  val x35bSemdedupNprobe2: Q = (s, d) => {
    val idx = graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cid"))
    val probed = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(idx.centroids))
      .withColumn("sim", round(cosineSim(col("embedding"), col("ce")), 6))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 2)
      .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
    val pairs = probed
      .select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(probed.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("eb")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineSim(col("ea"), col("eb")), 4) >= 0.4)
      .select(col("id_a"), col("id_b")).distinct()
    graft.plans.ConnectedComponents.minLabel(
      idx.cells.select(col("vec_id").as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as("vec_id"), col("label").as("canonico"),
        (col("id") === col("label")).as("sobrevivente"))
      .orderBy(col("vec_id"))
  }

  /** X120: hard-negative mining — the contrastive-training data prep
    * step (DPR/SimCSE style): for each anchor, the most-similar
    * corpus vectors that are NOT the anchor's near-duplicates — close
    * enough to be informative negatives, provably not positives. The
    * exclusion is the anchor's whole x35 SemDeDup FAMILY (transitive
    * closure of 4dp cosine ≥ 0.4 within-cell pairs), not a bare
    * threshold cut: a chain-connected duplicate whose direct cosine
    * to the anchor is below 0.4 is still a positive and still
    * excluded — the case a threshold-only miner mislabels as a
    * negative and poisons the loss with. Candidates are cell-bounded
    * (persisted IVF index, the x35 cost contract); anchors are a
    * deterministic sliver (vec_id % 100 = 3); ranking is 6dp cosine
    * DESC with vec_id tie-break (the IvfIndex.query contract), top-3
    * per anchor. The per-anchor window is sliver-sized, never
    * corpus-sized. */
  val x120HardNegatives: Q = (s, d) => {
    val cells = graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d)).cells
    val av = cells.join(semdedupLabels(cells), Seq("vec_id"))
    val anchors = av.filter(col("vec_id") % 100 === 3)
      .select(col("cell"), col("vec_id").as("anchor"),
        col("embedding").as("ea"), col("label").as("la"))
    val cands = av.select(col("cell"), col("vec_id").as("neg_id"),
      col("embedding").as("eb"), col("label").as("lb"))
    val wr = Window.partitionBy(col("anchor"))
      .orderBy(col("cos").desc, col("neg_id"))
    anchors.join(cands, Seq("cell"))
      .filter(col("la") =!= col("lb"))
      .withColumn("cos", round(cosineSim(col("ea"), col("eb")), 6))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 3)
      .select(col("anchor"), col("rk").cast("long").as("rk"),
        col("neg_id"), col("cos"))
      .orderBy(col("anchor"), col("rk"))
  }

  /** X119: SEMANTIC split leakage — the embedding-space twin of x71:
    * x71 catches a val/test doc whose train-side near-duplicate
    * shares n-gram shingles (lexical leakage); this catches one whose
    * train-side neighbor is merely cosine-similar (paraphrased or
    * re-generated copies that share no 5-gram and defeat every
    * lexical decontaminator). Candidates are bounded by the PERSISTED
    * IVF index's cells (the x35 SemDeDup contract: pairs form only
    * within a cell, so cost scales with cell size, never corpus² —
    * nprobe-style widening composes exactly as x35b). An eval-side
    * vector with any train-side cell-mate at 4dp cosine ≥ 0.4 is
    * leaked; per eval split: docs, leaked docs, leaking pairs, leak
    * rate ([[intRoundHalfAway]], 4dp). Split arithmetic is x36's
    * verbatim (16-bit md5 prefix mod 100), so the audit grades the
    * very split the pipeline ships. */
  val x119SemanticLeakage: Q = (s, d) => {
    val cells = graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d)).cells
    val balde = splitBalde(col("vec_id"))
    val withSplit = cells.select(col("vec_id"), col("cell"), col("embedding"),
      when(balde < 90, "train").when(balde < 95, "val")
        .otherwise("test").as("split"))
    val evalSide = withSplit.filter(col("split") =!= "train")
      .select(col("split"), col("cell"), col("vec_id").as("id_e"),
        col("embedding").as("ee"))
    val trainSide = withSplit.filter(col("split") === "train")
      .select(col("cell"), col("vec_id").as("id_t"), col("embedding").as("et"))
    val leaks = evalSide.join(trainSide, Seq("cell"))
      .filter(round(cosineSim(col("ee"), col("et")), 4) >= 0.4)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("lp"), count_distinct(col("id_e")).as("nl"))
    withSplit.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(leaks, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("nl"), lit(0L)).as("n_leaked"),
        coalesce(col("lp"), lit(0L)).as("leak_pairs"),
        (intRoundHalfAway(coalesce(col("nl"), lit(0L)) * 10000L,
          col("n_docs")).cast("double") / 1e4).as("leak_rate"))
      .orderBy(col("split"))
  }

  /** X43: int8 scalar quantization of the embedding column — the
    * standard 4× memory/IO reduction that makes a 100 TB ANN corpus
    * servable (FAISS's SQ8; per-vector symmetric scale
    * s = max|xᵢ|/127, qᵢ = round(xᵢ/s) ∈ [−127,127]). Emits the
    * per-vector scale, the exact integer checksum of the codes
    * (order-free determinism anchor) and the max absolute
    * reconstruction error |x − q·s| — the bound a recall SLA is
    * priced against (≤ s/2 by construction, asserted in the spec).
    * Scale shape: embarrassingly row-local (one narrow projection,
    * no shuffle but the final diagnostic sort); at 100 TB this is
    * the map stage that writes the quantized serving copy, and the
    * error column is the per-row audit that ships with it.
    * Determinism: float→double widening is exact, products/quotients
    * are IEEE-identical cross-engine (the x5/x12 proof), ROUND at
    * integral/6dp boundaries; the only transcendental-free x-op
    * oracle. Zero-norm vectors have no scale and drop out (inner
    * semantics of the WHERE mx > 0 guard, mirrored in the oracle). */
  val x43EmbedQuantize: Q = (s, d) => {
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .filter(col("mx") > 0)
      .withColumn("q", transform(col("v"),
        x => round(x * 127 / col("mx"), 0).cast("int")))
      .select(col("vec_id"),
        round(col("mx"), 6).as("q_scale_x127"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_checksum"),
        round(array_max(zip_with(col("v"), col("q"),
          (x, q) => abs(x - q * col("mx") / 127))), 6).as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** X45: per-cluster embedding diversity — for each `label` (the
    * cluster id on the embeddings fixture), the mean pairwise
    * squared L2 distance between member vectors, via the identity
    * Σᵢⱼ‖xᵢ−xⱼ‖²/n² = 2·Σ_d (n·Σᵢq²ᵢd − (Σᵢqᵢd)²)/n² — a
    * cluster-compactness audit that prices SemDeDup cell sizes and
    * flags collapsed (near-duplicate) clusters without materializing
    * any pair. Scale shape: posexplode to (label, dim) partial sums
    * — one map-side-combinable shuffle on a key space of
    * |labels|×dim; NO pairwise join anywhere, so a 10⁹-vector
    * cluster costs the same two aggregations as a 10³ one.
    * Determinism: components quantized to integers at 1e-6
    * (float→double widening exact, one IEEE multiply, integer-scale
    * round); all sums are int64 (exact, order-free); the one final
    * int64→double conversion rounds identically in both engines;
    * integer-scale round at 1e-6 on the output. */
  val x45ClusterDiversity: Q = (s, d) => {
    val q = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("q", round(col("x").cast("double") * 1e6, 0).cast("long"))
    val perDim = q.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("ss"))
    perDim.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(col("n") * col("ss") - col("s") * col("s")).as("m2"))
      .select(col("label"), col("n_vecs"),
        (intRoundHalfAway(col("m2") * 2L,
          col("n_vecs") * col("n_vecs") * 1000000L).cast("double") / 1e6)
          .as("mean_pair_sqdist"))
      .orderBy(col("label"))
  }

  /** X46: embedding covariance matrix — the d×d (upper-triangle)
    * sample covariance of the corpus embeddings via the one-pass
    * Gram identity Cov_ij = (n·Σq_iq_j − S_iS_j)/n², the precursor
    * every PCA / whitening / mahalanobis-outlier stage needs before
    * touching 100 TB of vectors. Scale shape: NO self-join — the
    * pair space is generated row-locally by chaining two posexplodes
    * (each exploded row carries the parent array), so the only
    * shuffle is the map-side-combinable groupBy on (i, j) — a key
    * space of d(d+1)/2 = 2080 cells at d=64 regardless of corpus
    * size. The per-dim sums S_i are d rows — computed by a cheap
    * single-explode pass and PINNED as a driver-local relation (the
    * [[graft.ml.IvfIndex]] centroid pattern): Spark re-executes a
    * lazy plan per reference, so joining the d²-explode aggregate to
    * filtered views of ITSELF would run the expensive pass three
    * times; pinning makes it run exactly once (plan-asserted: one
    * embeddings scan). Determinism: [[x45ClusterDiversity]]
    * contract — 1e-6 integer quantization, exact int64 sums (n·P and
    * S_iS_j peak ~7e18 at sf0.1, inside int64; a 100 TB run promotes
    * the accumulators to decimal(38,0)), one int64→double conversion,
    * mirrored division order, integer-scale round at 1e-8. */
  val x46EmbedCovariance: Q = (s, d) => {
    val n = Tables.embeddings(s, d).count()
    // d rows after a d-explode (not d²) pass — collect + re-create as
    // a local relation so the big pass below is the plan's only scan.
    val sumsDf = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
      .groupBy(col("i")).agg(sum(col("qi")).as("s_"))
    val sums = Pin(sumsDf)
    quantizedGram(Tables.embeddings(s, d))
      .join(broadcast(sums.select(col("i"), col("s_").as("s_i"))), "i")
      .join(broadcast(sums.select(col("i").as("j"), col("s_").as("s_j"))), "j")
      .select(col("i"), col("j"),
        (intRoundHalfAway(lit(n) * col("p") - col("s_i") * col("s_j"),
          lit(n * n * 10000L)).cast("double") / 1e8).as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** x46/x48's Gram moments over the 1e-6-quantized components: one
    * d²-explode pass onto (i, j ≥ i, p = Σ Q_i·Q_j). */
  private def quantizedGram(emb: DataFrame): DataFrame =
    emb
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
      .select(col("i"), col("qi"), posexplode(col("embedding")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .withColumn("qj", round(col("xj").cast("double") * 1e6, 0).cast("long"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("p"))

  /** X47: inter-source corpus overlap — estimated shingle-set
    * Jaccard for every source pair via source-level MinHash
    * signatures ([[graft.dedup.NearDup.sourceMinhashOverlap]] — the
    * reusable facade carries the logic so the oracle covers library
    * code). The signature is ONE map-side-combinable aggregation
    * (min of codegen-hashed shingles) onto |sources|×k cells;
    * the pairwise compare runs on the pinned driver-local signature
    * table, so corpus size only prices the single scan. Integer
    * hashes end-to-end + a power-of-two k make the estimate
    * hash-exact cross-engine. */
  val x47SourceOverlap: Q = (s, d) =>
    graft.dedup.NearDup.sourceMinhashOverlap(
      spread(s, Tables.documents(s, d)))

  /** X48: embedding correlation matrix — Pearson corr_ij on the
    * same one-pass Gram shape as [[x46EmbedCovariance]]:
    * corr = (n·ΣQ_iQ_j − S_iS_j) / √((n·ΣQ_i² − S_i²)(n·ΣQ_j² − S_j²)),
    * every moment an exact int64 from the 1e-6-quantized components.
    * The d-row diagonal moments (S_i, ΣQ_i²) come from the cheap
    * single-explode pass and are pinned driver-local, so — like
    * x46 — the d²-explode is the plan's only corpus scan and the
    * only shuffle is the (i,j) groupBy onto d(d+1)/2 cells.
    * Determinism: numerator and variances are integer-exact; the
    * one double step (quotient + IEEE-exact sqrt) is written
    * identically in both engines (bit-identical per the m1
    * piecewise-trend precedent), then rounded at 6dp. The diagonal
    * is exactly 1 (√ of a perfect square); zero-variance dims yield
    * NULL via nullif. */
  val x48EmbedCorrelation: Q = (s, d) => {
    val n = Tables.embeddings(s, d).count()
    val diagDf = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
      .groupBy(col("i"))
      .agg(sum(col("qi")).as("s_"), sum(col("qi") * col("qi")).as("p2"))
      .select(col("i"), col("s_"), (lit(n) * col("p2") - col("s_") * col("s_")).as("v_"))
    val diag = Pin(diagDf)
    quantizedGram(Tables.embeddings(s, d))
      .join(broadcast(diag.select(col("i"), col("s_").as("s_i"), col("v_").as("v_i"))), "i")
      .join(broadcast(diag.select(col("i").as("j"), col("s_").as("s_j"), col("v_").as("v_j"))), "j")
      .select(col("i"), col("j"),
        round((lit(n) * col("p") - col("s_i") * col("s_j")).cast("double")
          / sqrt(nullif(col("v_i"), lit(0L)).cast("double")
            * nullif(col("v_j"), lit(0L)).cast("double")), 6).as("corr"))
      .orderBy(col("i"), col("j"))
  }

  /** X49: PCA top-component projection — every vector's score along
    * the corpus's first principal direction, the axis a whitening /
    * outlier-trim / visualization stage needs. Factorization follows
    * the k-means split ([[graft.ml.IvfIndex]]): the d×d covariance
    * ([[x46EmbedCovariance]]'s plan, one d²-explode pass) collapses
    * to the DRIVER, the eigensolve is 50 rounds of power iteration
    * on 64×64 doubles (trivially driver-sized at ANY corpus scale —
    * that's the point of the Gram identity), and only the embarrass-
    * ingly-parallel projection runs distributed: a row-local ordered
    * fold against the broadcast-literal eigenvector, no shuffle but
    * the output sort. Oracle determinism: the covariance doubles are
    * hash-proven identical cross-engine (x46), power iteration is
    * +,×,÷,abs,max in the same order on both sides (bit-identical
    * IEEE, the m1 precedent — max-abs normalization each round, so
    * no transcendental until one final IEEE-exact sqrt), and the
    * projection fold mirrors list_sum's left-to-right accumulation
    * (the x5/x12 cosSql contract). */
  val x49PcaProject: Q = (s, d) => {
    val covRows = x46EmbedCovariance(s, d).collect()
    val dims = covRows.iterator.map(_.getInt(1)).max + 1
    val m = Array.ofDim[Double](dims, dims)
    covRows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c; m(j)(i) = c
    }
    var v = Array.fill(dims)(1.0)
    for (_ <- 0 until 50) {
      val w = Array.tabulate(dims)(i =>
        m(i).zip(v).map { case (a, b) => a * b }.sum)
      val mx = w.map(math.abs).max
      v = w.map(_ / mx)
    }
    val u = { val s2 = v.map(x => x * x).sum; v.map(_ / math.sqrt(s2)) }
    val ulit = array(u.map(lit): _*)
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(aggregate(
          zip_with(col("embedding"), ulit, (x, y) => x.cast("double") * y),
          lit(0.0), (acc, x) => acc + x), 6).as("pc1_score"))
      .orderBy(col("vec_id"))
  }

  /** X51: per-dimension embedding standardization — the z-scored
    * serving copy every whitening / outlier-trim / calibrated-ANN
    * stage wants, exploded to (vec_id, dim, z). In q-space the score
    * is all-integer until one division: z = (n·q − S_i)/√(n·ΣQ_i²
    * − S_i²) — the same pinned diagonal moments as
    * [[x48EmbedCorrelation]], attached via broadcast-literal arrays
    * (`element_at`, no join at all), so the plan is scan → explode →
    * project → sort: row-local, shuffle only for the output sort.
    * Zero-variance dims yield NULL via nullif. */
  val x51EmbedStandardize: Q = (s, d) => {
    val n = Tables.embeddings(s, d).count()
    val diagDf = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
      .groupBy(col("i"))
      .agg(sum(col("qi")).as("s_"),
        (lit(n) * sum(col("qi") * col("qi")) - sum(col("qi")) * sum(col("qi"))).as("v_"))
    val diag = diagDf.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val sArr = array(diag.map(t => lit(t._2)): _*)
    val vArr = array(diag.map(t => lit(t._3)): _*)
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
      .select(col("vec_id"), col("i"),
        round((lit(n) * col("qi") - element_at(sArr, col("i") + 1)).cast("double")
          / sqrt(nullif(element_at(vArr, col("i") + 1), lit(0L)).cast("double")), 6)
          .as("z"))
      .orderBy(col("vec_id"), col("i"))
  }

  /** X57: embedding-space outlier trim — per-vector RMS z-score
    * against the corpus per-dimension moments, the cheap Mahalanobis
    * stand-in (diagonal covariance) that catches corrupt / off-
    * distribution embeddings before they poison ANN neighborhoods and
    * centroid training. Reuses [[x51EmbedStandardize]]'s pinned
    * diagonal moments (broadcast-literal arrays via element_at — no
    * join); the per-dim squared residual num²/V_i is quantized to
    * integer 1e-6 units so the per-vector sum is order-free, then the
    * mean rounds in pure BIGINT and one IEEE √ finishes (overflow and
    * zero-variance bounds documented at the moment aggregate below).
    * Shape: scan → explode →
    * row-local score → map-side-combinable vec-keyed groupBy; no
    * data-sized join at any scale. */
  val x57EmbedOutliers: Q = (s, d) => {
    val n = Tables.embeddings(s, d).count()
    // Per-dim sums stay exact int64 (Σqᵢ² < 2⁶³ holds to ~10⁶ vectors
    // at |x| ≤ 2 — 100× past the largest fixture; past that, widen the
    // sums to decimal(38,0), the 128-bit twin of DuckDB's HUGEINT).
    // The variance n·Σq² − S² is then formed in DOUBLE on the driver —
    // the long product overflows around 10⁵ vectors and
    // the double is the same IEEE multiply/subtract DuckDB performs on
    // its CAST-to-double sums. Zero-variance dims (v ≤ 0) contribute
    // z² = 0 instead of a 0/0 NaN.
    val diag = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
      .groupBy(col("i"))
      .agg(sum(col("qi")).as("s_"), sum(col("qi") * col("qi")).as("ss_"))
      .collect().map { r =>
        val (s0, ss0) = (r.getLong(1), r.getLong(2))
        (r.getInt(0), s0, n.toDouble * ss0.toDouble - s0.toDouble * s0.toDouble)
      }
      .sortBy(_._1)
    val sArr = array(diag.map(t => lit(t._2)): _*)
    val vArr = array(diag.map(t => lit(t._3)): _*)
    val dims = diag.length
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
      .withColumn("num", lit(n) * col("qi") - element_at(sArr, col("i") + 1))
      .withColumn("z2q",
        when(element_at(vArr, col("i") + 1) > 0,
          round(col("num").cast("double") * col("num").cast("double")
            / element_at(vArr, col("i") + 1) * 1e6, 0).cast("long"))
          .otherwise(lit(0L)))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("z2q")).as("sz"))
      // mean-z² rounds as an exact integer ratio (sz·100/dims — the .5
      // hazard, [[intRoundHalfAway]]); the IEEE sqrt of that integer is
      // correctly rounded and identical in both engines, so rms_z needs
      // no further ROUND at all.
      .select(col("vec_id"), col("label"),
        (sqrt(intRoundHalfAway(col("sz") * 100, lit(dims.toLong))
          .cast("double")) / 1e4).as("rms_z"))
      .withColumn("is_outlier", col("rms_z") > 1.2)
      .orderBy(col("vec_id"))
  }

  /** X99: product-quantization recall audit — the acceptance test for
    * the PQ serving copy ([[graft.ml.PqIndex]]: 8 subspaces × 16
    * centroids, 2 Lloyd iterations, 8 codes ≈ 8 bytes per vector vs
    * 256 for floats): recall@10 of the asymmetric-distance (ADC)
    * ranking against the exact L2 ranking, both computed off ONE
    * scored sliver (the x74 SQ8-audit shape — PQ is the other
    * standard compression, codebook instead of per-vector scalar).
    * Determinism: subspace distances quantize to ROUND(‖·‖²·1e6)
    * BIGINT, so the ADC total is an order-free integer sum and both
    * rankings are integer sorts with nid tie-break. Scale shape: the
    * codebook is m·k = 128 rows (driver-pinned; training scans the
    * corpus 2·iters times, all map-side-combinable); scoring here
    * materializes per-(query, vector, subspace) rows for the oracle's
    * benefit — at serving scale ADC is a per-query m×k lookup table
    * and each candidate costs m table reads, composed with x31's IVF
    * pruning (the standard IVF-PQ layout). */
  val x99PqRecall: Q = (s, d) =>
    pqRecallAt10(spread(s, Tables.embeddings(s, d)))

  /** x99/x99b's audit: trains a PQ codebook on `emb`, encodes it, and
    * reports per query (vec_id < 5) how many of the exact-L2 top 10
    * the ADC ranking also puts in its top 10. */
  private def pqRecallAt10(emb: DataFrame): DataFrame = {
    val cents = graft.ml.PqIndex.trainCodebook(emb)
    val codes = graft.ml.PqIndex.encode(emb, cents)
    // codes carries cents in its lineage (encode's assignment joined
    // it) — alias both sides so the second cents reference resolves
    val nce = codes.as("cd").join(broadcast(cents.as("ct")),
        col("cd.m") === col("ct.m") && col("cd.code") === col("ct.cid"))
      .select(col("cd.vec_id").as("nid"), col("cd.m").as("m"),
        col("ct.ce").as("ce"))
    val queries = emb.filter(col("vec_id") < 5)
    val qs = graft.ml.PqIndex.subvectors(queries, 8, 8)
      .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub"))
    val adc = nce.join(broadcast(qs), Seq("m"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dq", graft.ml.PqIndex.l2q(col("qsub"), col("ce")))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("dq")).as("adc_q"))
    val ex = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .crossJoin(broadcast(queries
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.ml.PqIndex.l2q(col("qe"), col("ne")).as("ex_q"))
    val rf = Window.partitionBy(col("qid")).orderBy(col("ex_q"), col("nid"))
    val rq = Window.partitionBy(col("qid")).orderBy(col("adc_q"), col("nid"))
    ex.join(adc, Seq("qid", "nid"))
      .withColumn("rf", row_number().over(rf))
      .withColumn("rq", row_number().over(rq))
      .groupBy(col("qid"))
      .agg(sum(when(col("rf") <= 10 && col("rq") <= 10, 1L).otherwise(0L))
        .as("n_match"))
      .select(col("qid"), col("n_match"),
        (col("n_match").cast("double") / 10).as("recall_at_10"))
      .orderBy(col("qid"))
  }

  /** X99b: OPQ recall audit — x99 with the parametric OPQ rotation
    * ([[graft.ml.Opq]]: full-eigenbasis rotation + Ge's eigenvalue
    * allocation) applied before coding, the standard upgrade wherever
    * PQ serves (decorrelated, information-balanced subspaces). Same
    * output contract as x99 (per-query exact-vs-ADC recall@10), with
    * BOTH sides of the comparison defined in the rotated geometry
    * (the rotation is orthogonal only up to power-iteration
    * convergence, and both engines compute the identical
    * approximation — see [[graft.ml.Opq]]). Scale shape: covariance
    * moments collapse to a d²-cell driver relation (corpus scanned
    * once), the d-deep eigensolve + allocation are corpus-size-free
    * driver arithmetic, the rotation is a row-local fold against
    * broadcast-literal rows (localCheckpointed once — it feeds train,
    * encode, queries AND exact ranks), and everything after is x99's
    * audit verbatim. Like x99 this is a BUILD-path audit (codebook
    * training included); serving stays with x100's store. EngineSpec
    * pins OPQ distortion < natural-PQ distortion AND recall ≥ on a
    * crafted correlated micro-set (near-isotropic fixture data makes
    * the fixture-side margin noise — the x83 micro-pin precedent). */
  val x99bOpqRecall: Q = (s, d) => {
    val (mat, _, _) = graft.ml.Opq.covariance(Tables.embeddings(s, d))
    val rows = graft.ml.Opq.rotationRows(
      graft.ml.Opq.eigensolve(mat, mat.length), m = 8, dsub = 8)
    val emb = spread(s, Tables.embeddings(s, d))
      .select(col("vec_id"),
        graft.ml.Opq.rotateCol(col("embedding"), rows).as("embedding"))
      .localCheckpoint()
    pqRecallAt10(emb)
  }

  /** X109: incremental IVF maintenance audit — the FAISS
    * train-then-add operating model x60/x92 already prove for
    * signature stores, applied to the ANN serving index: the
    * quantizer is trained on the PRE-BATCH base corpus only
    * ([[ensureIvfBaseStore]], vec_id % 10 ≠ 7), frozen, and the
    * arriving batch is assigned to existing cells WITHOUT retraining
    * ([[graft.ml.IvfIndex.append]]'s assignment, run here as the
    * audited query). Output per cell: base occupancy (read from the
    * persisted inverted file — ids only, the store's vectors are
    * never rescanned; plan-asserted), batch adds, post-add share, and
    * the x75-style balance trigger (cell > 2× uniform share ⇒ the
    * drift signal that schedules a retrain). Scale shape: ONE scan of
    * the batch vectors against 16 broadcast centroids + an id-only
    * scan of the store's cell map, collapsing to |cells| rows; the
    * whole point of the add path is that its cost scales with the
    * batch, not the corpus. All-integer counts; shares on the
    * pure-BIGINT [[intRoundHalfAway]]. */
  val x109IvfAddBatch: Q = (s, d) => {
    val path = ensureIvfBaseStore(s, d)
    val idx = graft.ml.IvfIndex.loadCached(s, path)
    val batch = Tables.embeddings(s, d).filter(col("vec_id") % 10 === 7)
    val added = graft.ml.IvfIndex.assign(batch, idx.centroids)
      .select(col("vec_id"), col("cell"))
    val baseCnt = idx.cells.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_base"))
    val addCnt = added.groupBy(col("cell")).agg(count(lit(1)).as("n_add"))
    val spine = idx.centroids.select(col("cid").as("cell"))
    val stats = spine
      .join(baseCnt, Seq("cell"), "left")
      .join(addCnt, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_add"), lit(0L)).as("n_add"))
      .withColumn("n_total", col("n_base") + col("n_add"))
    // |cells| rows from here on: the unpartitioned window is a
    // 16-row driver-sized total, not a corpus sort
    val wAll = Window.partitionBy(lit(1))
    stats
      .withColumn("tot", sum(col("n_total")).over(wAll))
      .select(col("cell"), col("n_base"), col("n_add"), col("n_total"),
        (intRoundHalfAway(col("n_add") * 10000L,
          greatest(col("n_total"), lit(1L))).cast("double") / 1e4)
          .as("add_share"),
        (intRoundHalfAway(col("n_total") * 10000L, col("tot"))
          .cast("double") / 1e4).as("total_share"),
        (col("n_total") * 16L > col("tot") * 2L).as("over_2x"))
      .orderBy(col("cell"))
  }

  /** X110: incremental IVF-PQ encode audit — the add path for the
    * COMPRESSED serving store: batch vectors (vec_id % 10 = 7) are
    * coarse-assigned, residual-encoded, and PQ-coded against the
    * persisted store's FROZEN codebooks ([[ensureIvfPqStore]] — no
    * Lloyd step runs here), exactly FAISS IVFPQ `add` after `train`.
    * Because assignment is row-local given frozen codebooks, the
    * fresh batch codes are provably identical to what a from-scratch
    * union build assigns those ids (EngineSpec pins the equivalence
    * row-for-row against the store's own codes). Output per
    * (subspace, code): base vs batch code occupancy and their
    * within-population shares — the code-distribution drift table an
    * index owner watches (x68's PSI shape one level down): a batch
    * whose code usage skews signals quantizer staleness before
    * recall decays. Scale shape: one batch-sized encode against
    * broadcast codebooks + an id-only scan of the store's codes,
    * collapsing onto the m·k code grid.
    *
    * The store under audit is the BASE-ONLY twin
    * ([[ensureIvfPqBase]]): its codebooks
    * were trained with the batch slice held out, so the occupancy
    * comparison measures genuine quantizer drift — rounds ≤ 10 read
    * x100's full-corpus serving store here, which had seen the batch
    * at train time and weakened the audit to a staleness signal
    * PlansSpec pins that the base
    * store contains no batch id. */
  val x110IvfPqAddBatch: Q = (s, d) => {
    val path = ensureIvfPqBase(s, d)
    val coarse = s.read.parquet(s"$path/coarse")
    val pqCents = s.read.parquet(s"$path/pqcents")
    val storeCodes = s.read.parquet(s"$path/codes")
    val batch = Tables.embeddings(s, d).filter(col("vec_id") % 10 === 7)
    val assigned = graft.ml.PqIndex.assign(
      graft.ml.PqIndex.subvectors(batch, 1, 64), coarse)
    val resEmb = assigned.as("a").join(broadcast(coarse.as("c")),
        col("a.m") === col("c.m") && col("a.cell") === col("c.cid"))
      .select(col("a.vec_id").as("vec_id"),
        zip_with(col("a.sub"), col("c.ce"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
          .as("embedding"))
    val newCodes = graft.ml.PqIndex.encode(resEmb, pqCents)
    // the base store holds base ids ONLY (build-time held-out)
    val baseCnt = storeCodes
      .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n_base"))
    val addCnt = newCodes
      .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n_add"))
    val nb = Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 7)
      .agg(count(lit(1)).as("tot_base"))
    val na = Tables.embeddings(s, d).filter(col("vec_id") % 10 === 7)
      .agg(count(lit(1)).as("tot_add"))
    pqCents.select(col("m"), col("cid").as("code"))
      .join(baseCnt, Seq("m", "code"), "left")
      .join(addCnt, Seq("m", "code"), "left")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(na))
      .select(col("m").cast("long").as("m"), col("code").cast("long").as("code"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_add"), lit(0L)).as("n_add"),
        (intRoundHalfAway(coalesce(col("n_base"), lit(0L)) * 10000L,
          col("tot_base")).cast("double") / 1e4).as("base_share"),
        (intRoundHalfAway(coalesce(col("n_add"), lit(0L)) * 10000L,
          col("tot_add")).cast("double") / 1e4).as("add_share"))
      .orderBy(col("m"), col("code"))
  }

  /** X100: IVF-PQ composed serving query — the standard
    * billion-vector layout end-to-end: a 16-cell full-width L2 coarse
    * quantizer ([[graft.ml.PqIndex.trainCodebook]] with m=1 — one
    * "subspace" spanning the vector IS an L2 IVF), RESIDUAL encoding
    * (x − coarse centroid) through the 8×16 product codebook, and
    * serving as probe-the-top-4-cells + asymmetric distance against
    * the residual codes of ONLY those cells' vectors. Residual PQ is
    * what makes the composition work: residuals are small and
    * centered, so the same 8-byte budget quantizes them far better
    * than raw vectors (Jégou et al. §IV). Scale shape: both
    * codebooks are driver-pinned (16 + 128 rows); the residual table
    * is corpus-scaled and localCheckpointed ONCE (referenced by
    * train, encode, and cell lookup); at serving scale each query
    * touches nprobe/nCells of the corpus and each candidate costs m
    * LUT reads — x31's pruning and x99's compression composed.
    * Determinism: every distance is ROUND(L2²·1e6) BIGINT (ordered
    * folds), every ranking ties on id; residual floats are
    * double-subtract-then-cast-float, identical in the oracle.
    * The built index PERSISTS ([[ensureIvfPqStore]] — the x31/x92
    * build-once contract, prebuilt in Bench's untimed warmup), so
    * this query measures SERVING: coarse probe + band-pruned ADC.
    * Training cost is measured where it belongs: x13 (coarse Lloyd)
    * and x99 (PQ Lloyd). The oracle retrains everything from scratch,
    * proving the store is bit-identical to a fresh build. */
  private[graft] def ensureIvfPqStore(s: SparkSession, d: String): String =
    Store.materialize("ivfpq", "v1", d, "embeddings") { path =>
      writeIvfPq(spread(s, Tables.embeddings(s, d)), path)
        .write.mode("overwrite").parquet(s"$path/cells")
    }

  /** The IVF-PQ build shared by the [[ensureIvfPqStore]] family: a
    * 16-cell full-width coarse quantizer, the residual 8×16 product
    * codebook and the residual codes, written to `path`/coarse,
    * /pqcents and /codes. Returns the (vec_id, cell) map. */
  private def writeIvfPq(emb: DataFrame, path: String): DataFrame = {
    val coarse = graft.ml.PqIndex.trainCodebook(emb, m = 1, dsub = 64)
    val assigned = graft.ml.PqIndex.assign(
      graft.ml.PqIndex.subvectors(emb, 1, 64), coarse)
    // residuals are corpus-scaled and feed train, encode, AND the
    // cell map — checkpoint once, cluster-side
    val resEmb = assigned.as("a").join(broadcast(coarse.as("c")),
        col("a.m") === col("c.m") && col("a.cell") === col("c.cid"))
      .select(col("a.vec_id").as("vec_id"), col("a.cell").as("cell"),
        zip_with(col("a.sub"), col("c.ce"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
          .as("embedding"))
      .localCheckpoint()
    val pqCents = graft.ml.PqIndex.trainCodebook(
      resEmb.select(col("vec_id"), col("embedding")))
    val codes = graft.ml.PqIndex.encode(
      resEmb.select(col("vec_id"), col("embedding")), pqCents)
    coarse.coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    pqCents.coalesce(1).write.mode("overwrite").parquet(s"$path/pqcents")
    codes.write.mode("overwrite").parquet(s"$path/codes")
    resEmb.select(col("vec_id"), col("cell"))
  }

  /** x110's BASE-ONLY twin of [[ensureIvfPqStore]]: identical
    * build —
    * coarse quantizer, residual PQ codebooks, codes — but trained and
    * encoded on the base slice ONLY (vec_id % 10 ≠ 7), x109's
    * held-out pattern, so the x110 drift audit measures the batch
    * against a quantizer that provably never saw it. Seeds follow
    * [[graft.ml.PqIndex.trainCodebook]]'s vec_id < 16 rule on the
    * BASE relation (id 7 is batch → 15 coarse cells; the oracle
    * mirrors the same seed set). The full-corpus store stays what
    * x100/x129 serve from; this store exists for the audit. */
  private[graft] def ensureIvfPqBase(s: SparkSession, d: String): String =
    Store.materialize("ivfpqbase", "v1", d, "embeddings") { path =>
      writeIvfPq(spread(s, Tables.embeddings(s, d)
        .filter(col("vec_id") % 10 =!= 7)), path)
    }

  /** x100/x114/x129's shared ADC scoring stage over a persisted IVF-PQ
    * store at `path`: (qid, nid, dist_q) for every code vector in each
    * query's top-4 probed cells — everything up to (not including) the
    * rank cut, so the plain server (x100), the OPQ server (x114) and
    * the refine server (x129) provably score identically. */
  private def ivfPqAdc(s: SparkSession, path: String,
      queries: DataFrame): DataFrame = {
    val coarse = s.read.parquet(s"$path/coarse")
    val pqCents = s.read.parquet(s"$path/pqcents")
    val codes = s.read.parquet(s"$path/codes")
    val cells = s.read.parquet(s"$path/cells")
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(coarse))
      .withColumn("dq", graft.ml.PqIndex.l2q(col("qe"), col("ce")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dq"), col("cid"))))
      .filter(col("rk") <= 4)
      .select(col("qid"), col("cid").as("cell"),
        zip_with(col("qe"), col("ce"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
          .as("qr"))
    val qrsub = probes
      .select(col("qid"), col("cell"), col("qr"),
        explode(sequence(lit(0), lit(7))).as("m"))
      .select(col("qid"), col("cell"), col("m"),
        slice(col("qr"), col("m") * 8 + 1, lit(8)).as("qsub"))
    val nce = codes.join(broadcast(pqCents),
        codes("m") === pqCents("m") && codes("code") === pqCents("cid"))
      .select(codes("vec_id").as("nid"), codes("m").as("m"),
        pqCents("ce").as("nce"))
      .join(cells.select(col("vec_id").as("nid"), col("cell")), Seq("nid"))
    nce.join(broadcast(qrsub), Seq("cell", "m"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dq", graft.ml.PqIndex.l2q(col("qsub"), col("nce")))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("dq")).as("dist_q"))
  }

  /** The top 10 of an ADC scoring by (dist_q, nid), ranked per query. */
  private def adcTop10(adc: DataFrame): DataFrame =
    adc
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist_q"), col("nid"))))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("nid"), col("dist_q"),
        col("rk").cast("int").as("rk"))
      .orderBy(col("qid"), col("rk"))

  val x100IvfPqQuery: Q = (s, d) =>
    adcTop10(ivfPqAdc(s, ensureIvfPqStore(s, d),
      Tables.embeddings(s, d).filter(col("vec_id") < 5)))

  /** X129: two-stage ANN serving with exact re-rank (FAISS's
    * IndexRefine — the production default wherever PQ serves): the
    * ADC stage prunes to a 16-candidate shortlist per query (cheap,
    * 8-byte codes), then the ORIGINAL vectors of only that shortlist
    * are fetched (a doc-keyed join on ≤16·|queries| ids — the store's
    * full-precision copy is touched shortlist-sized, never
    * cell-sized) and exact L2 re-ranks the top 4. Quantization noise
    * that reorders near-ties inside the shortlist is exactly what
    * this stage exists to undo; EngineSpec pins refine recall@4 ≥
    * plain-ADC recall@4 against brute-force truth. Distances on the
    * ROUND(L2²·1e6) BIGINT contract throughout. */
  val x129AdcRerank: Q = (s, d) => {
    val short = ivfPqAdc(s, ensureIvfPqStore(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist_q"), col("nid"))))
      .filter(col("ark") <= 16)
      .select(col("qid"), col("nid"))
    val emb = Tables.embeddings(s, d)
    short
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        Seq("qid"))
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        Seq("nid"))
      .withColumn("dist_q", graft.ml.PqIndex.l2q(col("qe"), col("ne")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist_q"), col("nid"))))
      .filter(col("rk") <= 4)
      .select(col("qid"), col("nid"), col("dist_q"),
        col("rk").cast("int").as("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** X114: OPQ-composed serving query — x100's IVF-PQ serving stack
    * run against the OPQ-ROTATED store ([[ensureOpqPqStore]]): the
    * claim that the rotation composes with the serving store, made
    * executable. The query vectors are rotated with the PERSISTED
    * matrix (read back from the store — the serving contract: one
    * frozen rotation for corpus and queries alike, its 64×64 doubles
    * driver-pinned like any codebook), then coarse-probed top-4
    * cells and ADC-scored against the residual codes of only those
    * cells — byte-for-byte x100's plan on the rotated geometry.
    * Store prebuilt untimed ([[TrainingData.prebuildCaches]]); the oracle
    * recomputes rotation AND both codebooks from scratch, proving
    * the persisted composition equals a fresh build. */
  val x114OpqServe: Q = (s, d) => {
    val path = ensureOpqPqStore(s, d)
    val rotRows = s.read.parquet(s"$path/rot").orderBy(col("o"))
      .collect().map(_.getSeq[Double](1).toArray)
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id"),
        graft.ml.Opq.rotateCol(col("embedding"), rotRows.toSeq).as("embedding"))
    adcTop10(ivfPqAdc(s, path, queries))
  }

  /** X101: PQ codebook health card — the per-subspace numbers an ANN
    * owner reads before trusting x99/x100's serving copy: cells
    * actually used (Lloyd can strand empty cells), code-distribution
    * entropy in bits (low entropy = the subspace wastes its 4 bits),
    * and mean quantization distortion (the Σ‖x_m − c‖² that ADC error
    * is made of — Jégou's MSE decomposes by subspace). The x75
    * IVF-balance audit one level down. Everything integer/quantized:
    * counts exact, entropy on the x55 quantized-log recipe, total
    * distortion an exact BIGINT sum of the assignment's own
    * ROUND(L2²·1e6) distances. One scan of the persisted store's
    * codes + a (m, code)-keyed aggregation onto m·k rows. */
  val x101PqHealth: Q = (s, d) => {
    val path = ensureIvfPqStore(s, d)
    val codes = s.read.parquet(s"$path/codes")
    val cents = s.read.parquet(s"$path/pqcents")
    val res = s.read.parquet(s"$path/cells")
      .join(s.read.parquet(s"$path/coarse")
          .select(col("cid").as("cell"), col("ce").as("cce")),
        Seq("cell"))
      .join(Tables.embeddings(s, d), Seq("vec_id"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("cce"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
          .as("r"))
    val dist = graft.ml.PqIndex.subvectors(
        res.select(col("vec_id"), col("r").as("embedding")), 8, 8)
      .join(codes, Seq("vec_id", "m"))
      .join(broadcast(cents.select(col("m").as("cm"), col("cid"),
          col("ce"))),
        col("m") === col("cm") && col("code") === col("cid"))
      .select(col("vec_id"), col("m"), col("code"),
        graft.ml.PqIndex.l2q(col("sub"), col("ce")).as("dq"))
    val perCode = dist.groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("c"), sum(col("dq")).as("sd"))
    perCode.groupBy(col("m"))
      .agg(count(lit(1)).as("n_used"),
        sum(col("c")).as("n"),
        sum(col("sd")).as("dist_total_q"),
        sum(col("c") * round(log(col("c").cast("double")) * 1e6, 0)
          .cast("long")).as("clogc_q"))
      .select(col("m").cast("long").as("m"), col("n_used"),
        // H = log2(n) − (Σ c·ln c)/(n·ln 2): quantized-log entropy in
        // bits, order-free integer sums (the x55 recipe)
        (((round(log(col("n").cast("double")) * 1e6, 0).cast("long")
          * col("n") - col("clogc_q")).cast("double")
          / (col("n").cast("double") * 1e6)) / math.log(2.0)).as("entropy_bits"),
        (col("dist_total_q").cast("double")
          / (col("n").cast("double") * 1e6)).as("mse"))
      .orderBy(col("m"))
  }

  /** X65: PCA whitening onto the top-2 eigenbasis — the standard
    * pre-ANN / SemDeDup conditioning transform (decorrelate, then
    * scale each retained direction to unit variance): w_c =
    * (x·u_c − μ·u_c)/√λ_c for the top-2 eigenpairs of the corpus
    * covariance. Composes [[x46EmbedCovariance]]'s one-pass Gram
    * moments with [[x49PcaProject]]'s driver eigensolve, extended by
    * Hotelling deflation (M₂ = M − λ₁u₁u₁ᵀ) for the second
    * component — the textbook repeated-power-iteration-with-deflation
    * top-k factorization. Scale shape: THREE corpus scans for the
    * moments (count, d-row sums, d(d+1)/2 Gram cells — all collapsing
    * to driver-sized relations; the d×d eigensolve + deflation is
    * 64×64 doubles, corpus-size-free), then ONE distributed row-local
    * projection against broadcast-literal eigenvectors — no join, no
    * shuffle but the output sort (plan-asserted). Determinism: the
    * covariance cells reuse x46's exact integer arithmetic (the
    * driver-side intRound replica of intRoundHalfAway), power
    * iteration / Rayleigh quotient / deflation are +,×,÷,abs,max
    * folds written in the same left-to-right order on both engines
    * (the x49 precedent), and the projection mirrors list_sum's
    * accumulation (the x5/x12 cosSql contract). Non-positive
    * eigenvalues (a collapsed residual spectrum) yield NULL scores
    * on both sides. */
  val x65EmbedWhiten: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    // moments + eigensolve machinery shared with [[graft.ml.Opq]]
    // (x99b) — identical arithmetic, one implementation
    val (m, sums, n) = graft.ml.Opq.covariance(emb)
    val (u1, lam1) = graft.ml.Opq.topEig(m)
    val (u2, lam2) = graft.ml.Opq.topEig(graft.ml.Opq.deflate(m, u1, lam1))
    def mdot(u: Array[Double]): Double =
      sums.zip(u).map { case (a, b) => a.toDouble * b }.sum / (n.toDouble * 1e6)
    def score(u: Array[Double], md: Double, lam: Double): Column =
      if (lam > 0)
        round((aggregate(
          zip_with(col("embedding"), array(u.map(lit).toSeq: _*),
            (x, y) => x.cast("double") * y),
          lit(0.0), (acc, x) => acc + x) - lit(md)) / lit(math.sqrt(lam)), 6)
      else lit(null).cast("double")
    emb.select(col("vec_id"),
      score(u1, mdot(u1), lam1).as("w1"),
      score(u2, mdot(u2), lam2).as("w2"))
      .orderBy(col("vec_id"))
  }

  /** X176: embedding-distribution drift over the learned quantizer
    * (the measurement inside MAUVE — Pillutla et al. 2021: compare
    * two populations by their histograms over a shared embedding
    * QUANTIZATION, here the persisted 16-cell IVF coarse quantizer
    * instead of MAUVE's ad-hoc k-means): Jensen-Shannon divergence in
    * bits between the early and late vector halves' Laplace-smoothed
    * cell occupancies. The drift-family slot this fills: x68 watches
    * a quality histogram, x175 searches text features, this watches
    * the EMBEDDING space — a feed whose vectors migrate cells (new
    * topics, new encoder version) alarms here before any text
    * statistic moves. Numerics are x55's JSD contract exactly
    * (per-cell ln(p/m) quantized 1e-6, exact-integer KL halves,
    * one dequantize + nats→bits seam). Identical populations ⇒ 0 and
    * disjoint cells ⇒ 1 bit, both pinned in EngineSpec via
    * [[embedDriftOn]]. Scale shape: one assignment read (the
    * persisted store — no training here), a 16-row smoothed grid,
    * driver-free. */
  val x176EmbedDrift: Q = (s, d) => {
    val cells = graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d)).cells
    val split = (cells.agg(max(col("vec_id"))).head().getLong(0) + 1L) / 2L
    val spine = graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d))
      .centroids.select(col("cid").as("cell"))
    embedDriftOn(cells.select(col("cell"),
      when(col("vec_id") >= split, 1L).otherwise(0L).as("grp")), spine)
  }

  /** [[x176EmbedDrift]] core over any (cell, grp ∈ {0, 1}) assignment
    * plus the cell spine (exposed for the EngineSpec pins). */
  private[graft] def embedDriftOn(assign: DataFrame,
      spine: DataFrame): DataFrame = {
    val ln2 = 0.6931471805599453
    val cnts = spine
      .join(assign.groupBy(col("cell"))
        .agg(sum(lit(1L) - col("grp")).as("a"), sum(col("grp")).as("bq")),
        Seq("cell"), "left")
      .na.fill(0L, Seq("a", "bq"))
    val tot = cnts.agg(sum(col("a")).as("na"), sum(col("bq")).as("nb"),
      count(lit(1)).as("k"))
    val p = (col("a") + 1L).cast("double") / (col("na") + col("k")).cast("double")
    val q = (col("bq") + 1L).cast("double") / (col("nb") + col("k")).cast("double")
    val m = (p + q) / lit(2)
    cnts.crossJoin(broadcast(tot))
      .withColumn("tp", round(log(p / m) * 1e6, 0).cast("long"))
      .withColumn("tq", round(log(q / m) * 1e6, 0).cast("long"))
      .groupBy(lit(1).as("one"))
      .agg(max(col("na")).as("n_early"), max(col("nb")).as("n_late"),
        max(col("k")).as("kk"),
        sum((col("a") + 1L) * col("tp")).as("hp"),
        sum((col("bq") + 1L) * col("tq")).as("hq"))
      .select(col("n_early"), col("n_late"),
        ((intRoundHalfAway(col("hp"), col("n_early") + col("kk"))
          + intRoundHalfAway(col("hq"), col("n_late") + col("kk")))
          .cast("double") / lit(2e6) / lit(ln2)).as("jsd_bits"))
  }

  /** X69: centroid prototypicality — cosine of every embedding to its
    * own label centroid, ranked within the label: the SemDeDup
    * "keep the prototype / inspect the fringe" score, and the triage
    * table a curation run reads to pick per-cluster exemplars and
    * spot mislabeled outliers (the serving-side twin of x57's
    * corpus-level z-trim). Determinism: vectors quantize to integer
    * 1e-6 units, the centroid is the UNNORMALIZED per-label sum
    * vector (cosine is scale-invariant, so Σq/n and Σq give the same
    * angle — and the sum stays integer-exact); every inner product
    * accumulates in decimal(38,0) (DuckDB's HUGEINT twin) so no
    * order-dependent double sum and no 64-bit overflow exists at any
    * corpus size, with ONE double division + sqrt at the end. Shape:
    * explode → (label,dim)-keyed centroid aggregation (|labels|×d
    * rows, pinned driver-local — the x55 pin, so the corpus is
    * scanned ONCE more for scoring, not once per reference) →
    * broadcast join back → vec-keyed aggregation. The ranking window
    * partitions by label — at production scale the top-k selection
    * would run on [[graft.plans.TopK.perGroup]] instead; the full
    * ranking is the audit-sized output here. */
  val x69Prototypicality: Q = (s, d) => {
    val qq = spread(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "xi")))
      .withColumn("qi", round(col("xi").cast("double") * 1e6, 0).cast("long"))
    val cent = Pin(qq.groupBy(col("label"), col("i")).agg(sum(col("qi")).as("s_li")))
    val cn = cent.groupBy(col("label"))
      .agg(sum(col("s_li").cast("decimal(38,0)") * col("s_li")).as("n2"))
      .select(col("label"), col("n2").cast("double").as("n2"))
    val pv = qq.join(broadcast(cent), Seq("label", "i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("qi").cast("decimal(38,0)") * col("s_li")).as("num"),
        sum(col("qi").cast("decimal(38,0)") * col("qi")).as("qn2"))
      .select(col("vec_id"), col("label"), col("num").cast("double").as("num"),
        col("qn2").cast("double").as("qn2"))
    val cosRaw = col("num") / (sqrt(col("qn2")) * sqrt(col("n2")))
    pv.join(broadcast(cn), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(cosRaw, 6).as("cos_centroid"),
        row_number().over(Window.partitionBy(col("label"))
          .orderBy(cosRaw.desc, col("vec_id"))).as("rank_in_label"))
      .orderBy(col("label"), col("rank_in_label"))
  }

  /** X74: SQ8 serving-quality audit — recall@10 of int8-quantized
    * cosine top-k against the full-precision ranking, per query: the
    * acceptance test run before an x43-quantized copy replaces the
    * float index in serving (FAISS's standard SQ8 evaluation). Both
    * rankings come off ONE scored sliver (queries broadcast, the
    * x5 shape); the quantized score's numerator/norms are exact
    * integer folds (|q| ≤ 127, d=64 ⇒ ≤ 2²⁰ per term — no overflow
    * at any dimension that fits a vector register), so the only
    * doubles are the final quotient, mirrored op-for-op in the
    * oracle. Recall is an integer intersection count. At 100 TB the
    * same audit runs on a stratified query sample — the scored side
    * stays (queries × corpus)-sliver-sized, never corpus². */
  val x74Sq8Recall: Q = (s, d) => {
    val qv = spread(s, Tables.embeddings(s, d))
      .withColumn("mx",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .filter(col("mx") > 0)
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") * 127 / col("mx"), 0).cast("long")))
      .withColumn("qn",
        aggregate(col("q"), lit(0L), (a, x) => a + x * x))
      .select(col("vec_id"), col("embedding"), col("q"), col("qn"))
    val queries = qv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("q").as("qq"), col("qn").as("qqn"))
    val scored = qv
      .select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("q").as("nq"), col("qn").as("nqn"))
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .withColumn("score_f", round(cosineSim(col("qe"), col("ne")), 4))
      .withColumn("num", aggregate(zip_with(col("qq"), col("nq"),
        (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn("score_q", col("num").cast("double")
        / (sqrt(col("qqn").cast("double")) * sqrt(col("nqn").cast("double"))))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("score_f").desc, col("nid"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("score_q").desc, col("nid"))
    val ranked = scored
      .withColumn("rf", row_number().over(wf))
      .withColumn("rq", row_number().over(wq))
    ranked
      .groupBy(col("qid"))
      .agg(sum(when(col("rf") <= 10 && col("rq") <= 10, 1L).otherwise(0L))
        .as("n_match"))
      .select(col("qid"), col("n_match"),
        (col("n_match").cast("double") / 10).as("recall_at_10"))
      .orderBy(col("qid"))
  }

  /** X75: IVF cell-balance audit — per-cell population share and the
    * imbalance factor max/mean after the x13 Lloyd training: the
    * nlist-tuning report (a cell holding 10× its share makes every
    * probe touching it pay 10× verification — the knob a production
    * ANN deployment watches next to x62's recall table). The cell
    * census is ONE map-side-combinable aggregation onto nCells rows,
    * pinned driver-local; every ratio is an exact integer rational
    * rounded in BIGINT. */
  val x75IvfBalance: Q = (s, d) => {
    val counts = {
      // census the PERSISTED index (x31's build-once contract — the
      // first caller per sf-dir pays the Lloyd build; the audit is a
      // cells-table scan, which is also the production shape: the
      // balance report describes the index being served, not a fresh
      // retrain). The oracle's from-scratch Lloyd chain matching this
      // is exactly the persisted≡fresh identity x31 already pins.
      Pin(graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d)).cells
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs")))
    }
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n_vecs")).as("total"),
        max(col("n_vecs")).as("mx"), count(lit(1)).as("nc"))))
      .select(col("cell"), col("n_vecs"),
        (intRoundHalfAway(col("n_vecs") * 10000L, col("total"))
          .cast("double") / 1e4).as("share"),
        (intRoundHalfAway(col("mx") * col("nc") * 10000L, col("total"))
          .cast("double") / 1e4).as("imbalance"))
      .orderBy(col("cell"))
  }

  /** X146: k-center greedy coreset selection (Gonzalez 1985's
    * farthest-point 2-approximation; Sener & Savarese 2018's
    * active-learning coverage rule) over the IVF store's CELL
    * REPRESENTATIVES — the diversity-maximizing counterpart of x45's
    * per-cluster diversity report: which k cells, drawn in order,
    * minimize the worst-case distance of any cell to its nearest
    * selected one. Scale shape: the candidates are the persisted
    * quantizer's 16 centroids ([[ensureIvfIndex]] — dimension-bounded
    * by construction), so selection is a driver-side integer loop
    * over a K-row relation; the corpus appears only through the
    * already-built store. Distances are 6dp-quantized 1−cos with the
    * shared index-order summation ([[graft.ml.Coreset.cosDouble]]),
    * first pick = smallest cid, ties = smallest cid — the oracle
    * replays every step as unrolled argmax SQL over the same Lloyd
    * chain the x13/x31 oracles rebuild. Output: pick order, chosen
    * cell, covering radius after each pick (non-increasing — the
    * Gonzalez guarantee, pinned in EngineSpec with a crafted
    * 3-cluster set where the first picks provably hit distinct
    * clusters). */
  val x146KcenterCoreset: Q = (s, d) => {
    val idx = graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d))
    val cents = idx.centroids.collect()
      .map(r => (r.getAs[Long]("cid"),
        r.getAs[scala.collection.Seq[Float]]("ce").toIndexedSeq))
    val byId = cents.toMap
    def dist(a: Long, b: Long): Double =
      if (a == b) 0.0
      else graft.ml.Coreset.round6(
        1.0 - graft.ml.Coreset.cosDouble(byId(a), byId(b)))
    val picks = graft.ml.Coreset.kcenterGreedy(
      cents.map(_._1).toSeq, dist, 6)
    s.createDataFrame(picks.map(p => (p.step.toLong, p.cid, p.radius)))
      .toDF("step", "cid", "radius")
      .orderBy(col("step"))
  }

  /** Margin scoring for [[x148MarginMining]] (exposed for the
    * EngineSpec crafted-hub pin): given cell-bounded candidate pairs
    * (qid, match_id, cu) with cu = ROUND(cos·10⁴) > 0, compute each
    * side's top-4 neighborhood sums and the RATIO MARGIN
    * margin = cos / ((kNN̄_a + kNN̄_b)/2) = 2·cu·na·nb /
    * (sumA·nb + sumB·na) — an exact integer rational, 4dp half-away
    * ([[intRoundHalfAway]]) — then keep the margin-argmax match per
    * query. Two windowed top-4 passes + one join over the candidate
    * table; nothing here rescans vectors. */
  private[graft] def marginTopPairs(cand: DataFrame): DataFrame = {
    val wq = Window.partitionBy("qid").orderBy(col("cu").desc, col("match_id"))
    val wm = Window.partitionBy("match_id").orderBy(col("cu").desc, col("qid"))
    val aSums = cand.withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 4).groupBy("qid")
      .agg(sum(col("cu")).as("sum_a"), count(lit(1)).as("na"))
    val bSums = cand.withColumn("rk", row_number().over(wm))
      .filter(col("rk") <= 4).groupBy("match_id")
      .agg(sum(col("cu")).as("sum_b"), count(lit(1)).as("nb"))
    val scored = cand.join(aSums, "qid").join(bSums, "match_id")
      .withColumn("margin_q", intRoundHalfAway(
        lit(2L) * col("cu") * col("na") * col("nb") * lit(10000L),
        col("sum_a") * col("nb") + col("sum_b") * col("na")))
    val wbest = Window.partitionBy("qid")
      .orderBy(col("margin_q").desc, col("cu").desc, col("match_id"))
    scored.withColumn("rk", row_number().over(wbest)).filter(col("rk") === 1)
      .select(col("qid"), col("match_id"),
        (col("cu").cast("double") / 1e4).as("cos"),
        (col("margin_q").cast("double") / 1e4).as("margin"),
        (col("margin_q") >= 10500L).as("accepted"))
  }

  /** X148: margin-based pair mining (Artetxe & Schwenk 2019,
    * "Margin-based parallel corpus mining with multilingual sentence
    * embeddings" — the LASER/CCMatrix bitext rule): x111 scores
    * candidate pairs by ABSOLUTE cosine, which hub vectors defeat —
    * a vector generically close to everything tops every query's
    * ranking without being anyone's translation. The published fix
    * normalizes by both sides' average similarity to their own k=4
    * nearest candidates: margin = cos / ((kNN̄_q + kNN̄_m)/2); a hub's
    * own dense neighborhood deflates every margin it appears in (the
    * EngineSpec crafted-hub pin shows raw-cos preferring the hub and
    * margin flipping to the true match). The two halves of the vector
    * space (vec_id parity) stand in for the two languages. Scale
    * shape: candidates are bounded by the persisted IVF index's cells
    * (the x35/x119 contract — never corpus²); the margin adds two
    * windowed top-4 passes over that candidate table; acceptance at
    * margin ≥ 1.05 (CCMatrix operates ≈1.06). */
  val x148MarginMining: Q = (s, d) => {
    val cells = graft.ml.IvfIndex.loadCached(s, ensureIvfIndex(s, d)).cells
    val a = cells.filter(pmod(col("vec_id"), lit(2L)) === 0)
      .select(col("cell"), col("vec_id").as("qid"), col("embedding").as("ea"))
    val b = cells.filter(pmod(col("vec_id"), lit(2L)) === 1)
      .select(col("cell"), col("vec_id").as("match_id"),
        col("embedding").as("eb"))
    val cand = a.join(b, Seq("cell"))
      .withColumn("cu",
        round(cosineSim(col("ea"), col("eb")) * 1e4, 0).cast("long"))
      .filter(col("cu") > 0)
      .select(col("qid"), col("match_id"), col("cu"))
    marginTopPairs(cand).orderBy(col("qid"))
  }

  /** Deterministic ±1 sign vector for the x125 JL projection row `c`
    * — md5 parity of "jl-c-i", the x6 plane recipe (computed at PLAN
    * time, embedded as literal arrays). */
  private def jlSigns(c: Int, dims: Int): Seq[Double] = (0 until dims).map { i =>
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl-$c-$i".getBytes("UTF-8"))
    val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
    if (v % 2 == 0) 1.0 else -1.0
  }

  /** X125: random-projection (Johnson–Lindenstrauss) audit — the
    * DATA-INDEPENDENT 4× dimension reduction the learned family
    * (x49 PCA / x65 whitening / x43 SQ8 / x99 PQ) can't give you on
    * day one: a ±1 sign matrix (Achlioptas) needs no training pass,
    * no store, and no refresh on drift, so it is what a pipeline
    * bootstraps ANN with before codebooks exist. 64-d embeddings
    * project onto 16 md5-parity sign rows; per query (the x74 sliver
    * contract): recall@10 of projected-L2 ranking vs exact-L2
    * ranking, and the distance-distortion spread — per-pair ratio
    * d²proj/(16·d²orig) (unbiased at 1 under E[±1] rows), 1e-4
    * quantized, reported mean/min/max. Shape: signs are plan-time
    * literals, projection is one row-local fold per row, the scored
    * sliver is |queries|×corpus exactly like x74 — no training job
    * anywhere in the plan. */
  val x125JlProjection: Q = (s, d) => {
    val r = 16; val dims = 64
    val base = spread(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"),
        array((0 until r).map { c =>
          val signs = array(jlSigns(c, dims).map(lit): _*)
          aggregate(zip_with(col("embedding"), signs,
            (x, sg) => x.cast("double") * sg), lit(0.0), (acc, v) => acc + v)
        }: _*).as("ys"))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("ys").as("qy"))
    def l2(a: Column, b: Column) = aggregate(zip_with(a, b,
      (x, y) => (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val scored = base
      .select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("ys").as("ny"))
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .withColumn("d2o", l2(col("qe"), col("ne")))
      .withColumn("d2p", l2(col("qy"), col("ny")))
    val wo = Window.partitionBy(col("qid"))
      .orderBy(round(col("d2o"), 6), col("nid"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(round(col("d2p"), 6), col("nid"))
    scored
      .withColumn("ro", row_number().over(wo))
      .withColumn("rp", row_number().over(wp))
      .withColumn("rq4", when(col("d2o") > 0,
        round(col("d2p") / (lit(16.0) * col("d2o")) * 1e4, 0).cast("long")))
      .groupBy(col("qid"))
      .agg(sum(when(col("ro") <= 10 && col("rp") <= 10, 1L).otherwise(0L))
          .as("n_match"),
        count(col("rq4")).as("n_ratio"),
        sum(col("rq4")).as("sr"), min(col("rq4")).as("mnr"),
        max(col("rq4")).as("mxr"))
      .select(col("qid"), col("n_match"),
        (col("n_match").cast("double") / 10).as("recall_at_10"),
        (intRoundHalfAway(col("sr"), col("n_ratio"))
          .cast("double") / 1e4).as("ratio_mean"),
        (col("mnr").cast("double") / 1e4).as("ratio_min"),
        (col("mxr").cast("double") / 1e4).as("ratio_max"))
      .orderBy(col("qid"))
  }

  val defs: Map[String, Q] = Map(
    "x146_kcenter_coreset" -> x146KcenterCoreset,
    "x148_margin_mining" -> x148MarginMining,
    "x176_embed_drift" -> x176EmbedDrift,
    "x125_jl_projection" -> x125JlProjection,
    "x75_ivf_balance" -> x75IvfBalance,
    "x74_sq8_recall" -> x74Sq8Recall,
    "x69_prototypicality" -> x69Prototypicality,
    "x65_embed_whiten" -> x65EmbedWhiten,
    "x99_pq_recall" -> x99PqRecall,
    "x99b_opq_recall" -> x99bOpqRecall,
    "x100_ivfpq_query" -> x100IvfPqQuery,
    "x129_adc_rerank" -> x129AdcRerank,
    "x109_ivf_addbatch" -> x109IvfAddBatch,
    "x110_ivfpq_addbatch" -> x110IvfPqAddBatch,
    "x114_opq_serve" -> x114OpqServe,
    "x101_pq_health" -> x101PqHealth,
    "x57_embed_outliers" -> x57EmbedOutliers,
    "x51_embed_standardize" -> x51EmbedStandardize,
    "x49_pca_project" -> x49PcaProject,
    "x48_embed_correlation" -> x48EmbedCorrelation,
    "x47_source_overlap" -> x47SourceOverlap,
    "x46_embed_covariance" -> x46EmbedCovariance,
    "x45_cluster_diversity" -> x45ClusterDiversity,
    "x43_embed_quantize" -> x43EmbedQuantize,
    "x119_semantic_leakage" -> x119SemanticLeakage,
    "x120_hard_negatives" -> x120HardNegatives,
    "x35_semantic_dedup" -> x35SemanticDedup,
    "x35b_semdedup_nprobe2" -> x35bSemdedupNprobe2,
    "x34_filtered_ann" -> x34FilteredAnn,
    "x31_ivf_query" -> x31IvfQuery,
    "x28_label_centroids" -> x28LabelCentroids,
    "x12_dedup_cosine" -> x12DedupCosine,
    "x13_ann_ivf" -> x13AnnIvf,
    "x5_ann_cosine" -> x5AnnCosine,
    "x6_ann_lsh" -> x6AnnLsh)

  /** DuckDB mirror of the native CosineSimilarity expression —
    * list_sum accumulates left-to-right in double exactly like the
    * codegen loop (proven by the x5/x12 hash matches). [[cosSql]] is
    * the same expression in parentheses. */
  private def cosExpr(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

  private def cosSql(a: String, b: String): String = s"(${cosExpr(a, b)})"

  /** The IVF training CTE chain (no leading WITH): cent0 seeds → two
    * deterministic Lloyd iterations (6dp-rounded argmax assign,
    * integer-sum element-wise mean quantized back to float) → `cent2`,
    * the trained centroids (cid, ce). */
  private lazy val ivfCentroidCtes: String = s"""cent0 AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
      ${ivfAssignSql("embeddings", "cent0", "assign0")},
      ${ivfCentSql("assign0", "cent1")},
      ${ivfAssignSql("embeddings", "cent1", "assign1")},
      ${ivfCentSql("assign1", "cent2")}"""

  /** [[ivfCentroidCtes]] → `assigned` (vec_id, embedding, cell), every
    * vector in its nearest `cent2` cell — shared by [[ivfOracle]]
    * (x13/x31) and the x35 semantic-dedup oracle. */
  private lazy val ivfAssignedCtes: String = s"""$ivfCentroidCtes,
      ${ivfAssignSql("embeddings", "cent2", "assigned")}"""

  /** Every `src` vector against every centroid of `cents`, ranked by
    * 6dp-rounded cosine with cid tie-break: (vec_id, embedding, cid,
    * rk), `where` ("" for none) filtering the pairs. */
  private def cellRankSql(src: String, cents: String, where: String = ""): String = s"""
          SELECT e.vec_id, e.embedding, c.cid,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ROUND(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.cid)
              AS rk
          FROM $src e, $cents c$where"""

  /** (vec_id, embedding, cell) for each `src` vector's cells of
    * `cents` whose rank satisfies `keep` (`= 1`: the IVF assignment). */
  private def nearestCellsSql(src: String, cents: String, keep: String): String = s"""
        SELECT vec_id, embedding, cid AS cell FROM (${cellRankSql(src, cents)})
        WHERE rk $keep"""

  /** One IVF Lloyd step as two CTEs: `out` assigns each `src` vector to
    * its 6dp-rounded argmax-cosine centroid of `cents`, and the
    * centroid step averages an assignment element-wise on integer sums
    * quantized back to float. */
  private def ivfAssignSql(src: String, cents: String, out: String): String = s"""
      $out AS (${nearestCellsSql(src, cents, "= 1")})"""

  private def ivfCentSql(assign: String, out: String): String = s"""
      $out AS (
        SELECT cell AS cid,
          list(CAST(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216)
            AS FLOAT) ORDER BY pos) AS ce
        FROM (
          SELECT cell, i AS pos,
            CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 16777216)
              AS BIGINT)) AS BIGINT) AS sv,
            COUNT(*) AS n
          FROM $assign, UNNEST(range(1, len(embedding) + 1)) AS t(i)
          GROUP BY cell, i)
        GROUP BY cell)"""

  /** Shared DuckDB generators for the PQ oracles (x99/x100): exact
    * squared L2 as an ordered list fold; nearest-centroid assignment
    * on ROUND(L2²·1e6) BIGINT with cid tie-break; exact integer-mean
    * recentering (the Spark side's lloydStep conventions). */
  private def pqL2Sql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"""

  private def pqAssignSql(sub: String, cents: String, out: String): String = s"""
        $out AS (SELECT vec_id, m, cell, sub FROM (
          SELECT s.vec_id, s.m, c.cid AS cell, s.sub,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY CAST(ROUND(${pqL2Sql("s.sub", "c.ce")} * 1e6, 0) AS BIGINT),
                c.cid) AS rk
          FROM $sub s JOIN $cents c ON c.m = s.m) WHERE rk = 1)"""

  private def pqCentSql(assigned: String, out: String): String = s"""
        $out AS (SELECT m, cell AS cid,
          list(CAST(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216)
            AS FLOAT) ORDER BY pos) AS ce
        FROM (
          SELECT m, cell, i AS pos,
            CAST(SUM(CAST(FLOOR(CAST(sub[i] AS DOUBLE) * 16777216)
              AS BIGINT)) AS BIGINT) AS sv,
            COUNT(*) AS n
          FROM $assigned, UNNEST(range(1, len(sub) + 1)) AS t(i)
          GROUP BY m, cell, i)
        GROUP BY m, cell)"""

  /** The element-wise residual a − b in double, back to FLOAT. */
  private def residualSql(a: String, b: String): String =
    s"""list_transform(list_zip($a, $b),
            p -> CAST(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) AS FLOAT))"""

  /** The cosine top-10 tail over `scored(qid, nid, score)`: rank by
    * score descending with nid tie-break, keep the first 10. */
  private def top10Sql: String = """ranked AS (
        SELECT qid, nid, score,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rk
        FROM scored)
      SELECT qid, nid, score, CAST(rk AS INT) AS rk FROM ranked
      WHERE rk <= 10 ORDER BY qid, rk"""

  /** Brute-force cosine top-10 (x5/x34): every (q, n) pair `pred` keeps. */
  private def bruteCosineOracle(pred: String): String = s"""
      WITH scored AS (
        SELECT q.vec_id AS qid, n.vec_id AS nid,
          ROUND(
            ${cosExpr("q.embedding", "n.embedding")},
            4) AS score
        FROM embeddings q, embeddings n
        WHERE $pred),
      $top10Sql"""

  private def ivfOracle(queryPred: String): String = {
    s"""
      WITH $ivfAssignedCtes,
      probes AS (
        SELECT vec_id AS qid, embedding AS qe, cid AS cell FROM (${
          cellRankSql("embeddings", "cent2", s" WHERE $queryPred")})
        WHERE rk <= 4),
      scored AS (
        SELECT p.qid, a.vec_id AS nid,
          ROUND(${cosSql("p.qe", "a.embedding")}, 4) AS score
        FROM probes p
        JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.qid),
      $top10Sql"""
  }

  /** Two PQ Lloyd iterations over `sub` from the seeds `c0<sfx>`: the
    * CTEs a0, c1, a1 and c2 (each suffixed `sfx`), then the final
    * assignment against c2 as `out`. */
  private def pqLloydCtes(sub: String, sfx: String, out: String): String = Seq(
    pqAssignSql(sub, s"c0$sfx", s"a0$sfx"),
    pqCentSql(s"a0$sfx", s"c1$sfx"),
    pqAssignSql(sub, s"c1$sfx", s"a1$sfx"),
    pqCentSql(s"a1$sfx", s"c2$sfx"),
    pqAssignSql(sub, s"c2$sfx", out)).mkString(",")

  /** `sub(vec_id, m, sub)`: the 8 width-8 sub-vectors of `vec` over `from`. */
  private def pqSubCte(sub: String, vec: String, from: String): String =
    s"""$sub AS (SELECT vec_id, m,
          list_slice($vec, m * 8 + 1, m * 8 + 8) AS sub
        FROM $from, UNNEST(range(0, 8)) AS t(m))"""

  /** A PQ codebook over `sub` ([[pqSubCte]]): the seeds `c0`, two Lloyd
    * iterations (`c1`, `c2`) and the codes `codes`; no trailing comma. */
  private def pqCodebookCtes(sub: String, vec: String, from: String): String =
    s"""${pqSubCte(sub, vec, from)},
      c0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sub AS ce
        FROM $sub WHERE vec_id < 16),
      ${pqLloydCtes(sub, "", "codes")}"""

  /** The IVF-PQ coarse quantizer over the vectors of `from`: the
    * one-subspace rows `f`, seeds `c0f`, centroids `c1f`/`c2f` and the
    * assignment `af`. */
  private def pqCoarseCtes(from: String, af: String): String =
    s"""f AS (SELECT vec_id, 0 AS m, embedding AS sub FROM $from),
      c0f AS (SELECT m, CAST(vec_id AS INT) AS cid, sub AS ce
        FROM f WHERE vec_id < 16),
      ${pqLloydCtes("f", "f", af)}"""

  /** DuckDB mirror of the IVF-PQ store build ([[writeIvfPq]]) over the
    * vectors of `from`: the coarse quantizer ([[pqCoarseCtes]], its
    * assignment named `af`), the residuals `res`/`rsub` and their PQ
    * codebook (`c0` … `c2`, codes `codes`); no trailing comma. */
  private def ivfPqStoreCtes(from: String, af: String = "af"): String =
    s"""${pqCoarseCtes(from, af)},
            ${residualCte("res", af)},
      ${pqCodebookCtes("rsub", "r", "res")}"""

  /** `name(vec_id, cell, r)`: each vector of the coarse assignment `af`
    * minus its cell's `c2f` centroid. */
  private def residualCte(name: String, af: String): String =
    s"""$name AS (SELECT a.vec_id, a.cell,
          ${residualSql("a.sub", "c.ce")}
            AS r
        FROM $af a JOIN c2f c ON c.m = a.m AND c.cid = a.cell)"""

  /** The IVF-PQ probe → residual → ADC chain ([[ivfPqAdc]]) over
    * [[ivfPqStoreCtes]]: queries vec_id < 5 of `src` probe their 4
    * nearest coarse cells, and `adc(qid, nid, dist_q)` sums each
    * sub-space's quantized L2 to the codes in those cells (coarse
    * assignment `af`); no trailing comma. */
  private def ivfPqAdcCtes(src: String, af: String): String = s"""probes AS (SELECT qid, cell, qce, qe FROM (
          SELECT q.vec_id AS qid, c.cid AS cell, c.ce AS qce,
            q.embedding AS qe,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY CAST(ROUND(${pqL2Sql("q.embedding", "c.ce")} * 1e6, 0)
                AS BIGINT), c.cid) AS rk
          FROM $src q, c2f c WHERE q.vec_id < 5) WHERE rk <= 4),
      qr AS (SELECT qid, cell,
          ${residualSql("qe", "qce")}
            AS qr
        FROM probes),
      qrs AS (SELECT qid, cell, m, list_slice(qr, m * 8 + 1, m * 8 + 8)
            AS qsub
        FROM qr, UNNEST(range(0, 8)) AS t(m)),
      nce AS (SELECT k.vec_id AS nid, k.m, c.ce, a.cell
        FROM codes k
        JOIN c2 c ON c.m = k.m AND c.cid = k.cell
        JOIN $af a ON a.vec_id = k.vec_id),
      adc AS (SELECT s.qid, n.nid,
          CAST(SUM(CAST(ROUND(${pqL2Sql("s.qsub", "n.ce")} * 1e6, 0)
            AS BIGINT)) AS BIGINT) AS dist_q
        FROM qrs s JOIN nce n ON n.cell = s.cell AND n.m = s.m
        WHERE n.nid <> s.qid GROUP BY s.qid, n.nid)"""

  /** The top-`k` tail over `from(qid, nid, dist_q)`: rank by dist_q
    * ascending with nid tie-break as the CTE `name`. */
  private def distTopSql(name: String, from: String, k: Int): String = s"""$name AS (SELECT qid, nid, dist_q,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_q, nid) AS rk
        FROM $from)
      SELECT qid, nid, dist_q, CAST(rk AS INT) AS rk
      FROM $name WHERE rk <= $k ORDER BY qid, rk"""

  /** Recall@10 per query over `from(qid, rf, rq)`: the exact rank `rf`
    * against the approximate rank `rq`, plus the aggregate columns
    * `more` (each led by a comma). */
  private def recallAt10Sql(from: String, more: String = ""): String = s"""SELECT qid,
        CAST(SUM(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_match,
        CAST(SUM(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
          AS DOUBLE) / 10 AS recall_at_10$more
      FROM $from GROUP BY qid ORDER BY qid"""

  /** The PQ recall audit ([[pqRecallAt10]]) over the vectors of `src`:
    * a PQ codebook on its sub-vectors, ADC distances from the queries
    * vec_id < 5, the exact squared L2 and recall@10 of one ranking
    * against the other. */
  private def pqRecallSql(src: String): String = s"""${pqCodebookCtes("sub", "embedding", src)},
      qs AS (SELECT vec_id AS qid, m, sub AS qsub FROM sub WHERE vec_id < 5),
      nce AS (SELECT k.vec_id AS nid, k.m, c.ce
        FROM codes k JOIN c2 c ON c.m = k.m AND c.cid = k.cell),
      adc AS (
        SELECT q.qid, n.nid,
          CAST(SUM(CAST(ROUND(${pqL2Sql("q.qsub", "n.ce")} * 1e6, 0) AS BIGINT))
            AS BIGINT) AS adc_q
        FROM qs q JOIN nce n ON n.m = q.m
        WHERE n.nid <> q.qid GROUP BY q.qid, n.nid),
      ex AS (
        SELECT q.vec_id AS qid, e.vec_id AS nid,
          CAST(ROUND(${pqL2Sql("q.embedding", "e.embedding")} * 1e6, 0) AS BIGINT)
            AS ex_q
        FROM $src q, $src e
        WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
      r AS (SELECT ex.qid, ex.nid,
          ROW_NUMBER() OVER (PARTITION BY ex.qid
            ORDER BY ex.ex_q, ex.nid) AS rf,
          ROW_NUMBER() OVER (PARTITION BY ex.qid
            ORDER BY adc.adc_q, ex.nid) AS rq
        FROM ex JOIN adc USING (qid, nid))
      ${recallAt10Sql("r")}"""

  /** The parametric-OPQ rotation as DuckDB CTEs, ending in
    * `re(vec_id, embedding)` — the rotated corpus: the covariance CTEs
    * (mat0) → 64 power-iteration +
    * deflation blocks ([[eigenCtes]]; bit-exact vs the
    * [[graft.ml.Opq]] driver replica — prototype-verified over all
    * 4160 values) → the eigenvalue-allocation recursion → the
    * rotation. Shared by the x99b audit and x114's composed serving
    * oracle. */
  private def opqRotationCtes: String = {
    val uUnion = (0 until 64).map(c => s"SELECT $c AS c, u FROM uvec$c")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $quantizedPairCtes,
      $covCellsCtes,
      covq AS ($covSelectSql),
      ${covMatrixCtes("mat0")}
      ${eigenCtes(64)},
      ulist AS ($uUnion),
      es AS (SELECT
        list(STRUCT_PACK(e := c, lam := lam) ORDER BY lam DESC, c) AS es
        FROM lams),
      alloc(k, asg, prods, cnts) AS (
        SELECT 0, CAST([] AS BIGINT[]),
          CAST([1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0] AS DOUBLE[]),
          CAST([0, 0, 0, 0, 0, 0, 0, 0] AS BIGINT[])
        UNION ALL
        SELECT k + 1,
          list_append(asg, g),
          list_transform(range(1, 9), i ->
            CASE WHEN i = g THEN prods[i] * es[k + 1].lam ELSE prods[i] END),
          list_transform(range(1, 9), i ->
            CASE WHEN i = g THEN cnts[i] + 1 ELSE cnts[i] END)
        FROM (
          SELECT k, asg, prods, cnts, es,
            list_position(elig, list_min(elig)) AS g
          FROM (SELECT k, asg, prods, cnts, es,
              list_transform(range(1, 9), i ->
                CASE WHEN cnts[i] < 8 THEN prods[i] END) AS elig
            FROM alloc, es WHERE k < 64))),
      af AS (SELECT asg FROM alloc WHERE k = 64),
      rotmap AS (
        SELECT ROW_NUMBER() OVER (ORDER BY b, r) AS o, e FROM (
          SELECT r, asg[r] AS b, es[r].e AS e
          FROM af, es, unnest(range(1, 65)) AS t(r))),
      rot AS (SELECT o, u
        FROM rotmap JOIN ulist ON ulist.c = rotmap.e),
      re AS (
        SELECT e.vec_id,
          list(list_sum(list_transform(list_zip(e.embedding, rot.u),
            p -> CAST(p[1] AS DOUBLE) * p[2])) ORDER BY rot.o) AS embedding
        FROM embeddings e CROSS JOIN rot GROUP BY e.vec_id)"""
  }

  /** The covariance oracles' quantized components: every vector's
    * components `xi` at 0-based position `i` (`d1`) and quantized to
    * 1e-6 as `qi` (`q1`). */
  private def quantizedCompCtes: String = """d1 AS (SELECT vec_id, embedding,
          unnest(range(0, len(embedding))) AS i,
          unnest(embedding) AS xi
        FROM embeddings),
      q1 AS (SELECT vec_id, embedding, i,
          CAST(ROUND(CAST(xi AS DOUBLE) * 1e6, 0) AS BIGINT) AS qi FROM d1)"""

  /** Each `q1` component paired with every component `qj` at j ≥ i, as
    * the CTEs `d2` and `p2(i, j, qi, qj)`. */
  private def compPairCtes: String = """d2 AS (SELECT i, qi,
          unnest(range(0, len(embedding))) AS j,
          unnest(embedding) AS xj
        FROM q1),
      p2 AS (SELECT i, j, qi,
          CAST(ROUND(CAST(xj AS DOUBLE) * 1e6, 0) AS BIGINT) AS qj
        FROM d2 WHERE j >= i)"""

  /** The covariance oracles' quantized pair rows `d1`, `q1`, `d2` and
    * `p2(i, j, qi, qj)`. */
  private def quantizedPairCtes: String = s"$quantizedCompCtes,\n      $compPairCtes"

  /** The covariance oracles' exact-integer Gram cells
    * `cells(i, j, p, s_diag)` over `p2`, the row count `nn` and the
    * diagonal sums `sums`. The cross products and the numerator
    * n·p − sᵢ·sⱼ run in HUGEINT, as [[graft.ml.Opq.covariance]]'s
    * 128-bit fold does: with 1e-6-quantized components they overflow
    * BIGINT past a few thousand vectors. */
  private def covCellsCtes: String = s"""cells AS (SELECT i, j,
          CAST(SUM(CAST(qi AS HUGEINT) * qj) AS HUGEINT) AS p,
          CAST(SUM(CASE WHEN j = i THEN qi END) AS BIGINT) AS s_diag
        FROM p2 GROUP BY i, j),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      sums AS (SELECT i AS d_, s_diag AS s_ FROM cells WHERE j = i)"""

  /** The covariance (i ≤ j) in exact 1e-8 units from [[covCellsCtes]]. */
  private def covSelectSql: String = """SELECT cells.i, cells.j,
          CAST((CASE WHEN CAST(nn.n AS HUGEINT) * p
              - CAST(si.s_ AS HUGEINT) * sj.s_ < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(CAST(nn.n AS HUGEINT) * p
                - CAST(si.s_ AS HUGEINT) * sj.s_)
              + CAST(nn.n AS HUGEINT) * nn.n * 10000)
              // (2 * (CAST(nn.n AS HUGEINT) * nn.n * 10000)))
            AS DOUBLE) / 1e8 AS cov
        FROM cells
        JOIN sums si ON si.d_ = cells.i
        JOIN sums sj ON sj.d_ = cells.j
        CROSS JOIN nn"""

  /** The full symmetric matrix of `covq(i, j, cov)` as the one-row
    * CTE `out(m)`, a list of rows. */
  private def covMatrixCtes(out: String): String = s"""full_m AS (SELECT i, j, cov FROM covq
        UNION ALL SELECT j AS i, i AS j, cov FROM covq WHERE i < j),
      rows_m AS (SELECT i, list(cov ORDER BY j) AS r FROM full_m GROUP BY i),
      $out AS (SELECT list(r ORDER BY i) AS m FROM rows_m)"""

  /** The semantic-dedup pair CTE `p(id_a, id_b)` ([[semdedupLabels]]):
    * vectors of `src` sharing a cell with rounded cosine ≥ 0.4, then
    * the transitive closure [[reachCtes]]; no trailing comma. */
  private def cellPairsCtes(src: String, distinct: Boolean): String = s"""p AS (
        SELECT${if (distinct) " DISTINCT" else ""} a.vec_id AS id_a, b.vec_id AS id_b
        FROM $src a JOIN $src b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND(${cosSql("a.embedding", "b.embedding")}, 4) >= 0.4),
      $reachCtes"""

  /** Each vector's component minimum (`canonico`) over `reach`. */
  private def semdedupSelectSql: String = s"""SELECT e.vec_id,
        ${reachMinSql("e.vec_id")} AS canonico,
        (e.vec_id = ${reachMinSql("e.vec_id")}) AS sobrevivente
      FROM embeddings e
      ${reachMinJoinSql("e.vec_id")}
      ORDER BY e.vec_id"""

  val oracles: Map[String, String] = Map(
    "x146_kcenter_coreset" -> {
      val sb = new StringBuilder
      sb ++= s"""WITH $ivfCentroidCtes,
        dm AS (
          SELECT a.cid AS ca, b.cid AS cb,
            CASE WHEN a.cid = b.cid THEN 0.0
                 ELSE ROUND(1 - ${cosSql("a.ce", "b.ce")}, 6) END AS d
          FROM cent2 a, cent2 b),
        ids AS (SELECT DISTINCT ca AS cid FROM dm),
        p1 AS (SELECT MIN(cid) AS cid FROM ids),
        c1 AS (SELECT cid FROM p1)"""
      for (k <- 2 to 6) sb ++= s""",
        m$k AS (SELECT c.cid, MIN(d.d) AS md
          FROM ids c JOIN dm d ON d.ca = c.cid
          JOIN c${k - 1} p ON d.cb = p.cid
          WHERE c.cid NOT IN (SELECT cid FROM c${k - 1})
          GROUP BY c.cid),
        p$k AS (
          SELECT cid FROM m$k ORDER BY md DESC, cid LIMIT 1),
        c$k AS (
          SELECT cid FROM c${k - 1} UNION ALL SELECT cid FROM p$k)"""
      for (k <- 1 to 6) sb ++= s""",
        r$k AS (SELECT MAX(md) AS r FROM (
          SELECT c.cid, MIN(d.d) AS md FROM ids c
          JOIN dm d ON d.ca = c.cid JOIN c$k p ON d.cb = p.cid
          GROUP BY c.cid))"""
      val union = (1 to 6).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS step, p$k.cid AS cid,
            r$k.r AS radius FROM p$k, r$k""").mkString(" UNION ALL ")
      sb.toString + s" SELECT * FROM ($union) ORDER BY step"
    },
    "x148_margin_mining" -> s"""
      WITH $ivfAssignedCtes,
      aa AS (SELECT cell, vec_id AS qid, embedding AS ea
        FROM assigned WHERE vec_id % 2 = 0),
      bb AS (SELECT cell, vec_id AS match_id, embedding AS eb
        FROM assigned WHERE vec_id % 2 = 1),
      cand AS (
        SELECT qid, match_id, cu FROM (
          SELECT qid, match_id,
            CAST(ROUND(${cosSql("ea", "eb")} * 1e4, 0) AS BIGINT) AS cu
          FROM aa JOIN bb USING (cell))
        WHERE cu > 0),
      asums AS (SELECT qid, CAST(SUM(cu) AS BIGINT) AS sum_a,
          CAST(COUNT(*) AS BIGINT) AS na
        FROM (SELECT qid, cu, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cu DESC, match_id) AS rk FROM cand)
        WHERE rk <= 4 GROUP BY qid),
      bsums AS (SELECT match_id, CAST(SUM(cu) AS BIGINT) AS sum_b,
          CAST(COUNT(*) AS BIGINT) AS nb
        FROM (SELECT match_id, cu, ROW_NUMBER() OVER (PARTITION BY
            match_id ORDER BY cu DESC, qid) AS rk FROM cand)
        WHERE rk <= 4 GROUP BY match_id),
      scored AS (SELECT qid, match_id, cu,
          ((2 * num + den) // (2 * den)) AS margin_q
        FROM (SELECT c.qid, c.match_id, c.cu,
            2 * c.cu * a.na * b.nb * 10000 AS num,
            a.sum_a * b.nb + b.sum_b * a.na AS den
          FROM cand c JOIN asums a USING (qid)
          JOIN bsums b USING (match_id))),
      best AS (SELECT qid, match_id, cu, margin_q,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY margin_q DESC, cu DESC, match_id) AS rk
        FROM scored)
      SELECT qid, match_id, CAST(cu AS DOUBLE) / 1e4 AS cos,
        CAST(margin_q AS DOUBLE) / 1e4 AS margin,
        margin_q >= 10500 AS accepted
      FROM best WHERE rk = 1 ORDER BY qid""",
    // x109: base-trained Lloyd (the ivfAssignedCtes recipe with the
    // pre-batch corpus as source and ORDER BY/LIMIT seeds — base ids
    // are not dense from 0), then frozen-quantizer assignment of the
    // batch and the per-cell growth/balance table.
    "x109_ivf_addbatch" -> s"""WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7),
      batch AS (SELECT * FROM embeddings WHERE vec_id % 10 = 7),
      cent0 AS (SELECT vec_id AS cid, embedding AS ce FROM base
        ORDER BY vec_id LIMIT 16),
      ${ivfAssignSql("base", "cent0", "assign0")},
      ${ivfCentSql("assign0", "cent1")},
      ${ivfAssignSql("base", "cent1", "assign1")},
      ${ivfCentSql("assign1", "cent2")},
      ${ivfAssignSql("base", "cent2", "basecells")},
      ${ivfAssignSql("batch", "cent2", "addcells")},
      bc AS (SELECT cell, COUNT(*) AS n_base FROM basecells GROUP BY cell),
      ac AS (SELECT cell, COUNT(*) AS n_add FROM addcells GROUP BY cell),
      st AS (SELECT c.cid AS cell,
          COALESCE(bc.n_base, 0) AS n_base,
          COALESCE(ac.n_add, 0) AS n_add,
          COALESCE(bc.n_base, 0) + COALESCE(ac.n_add, 0) AS n_total
        FROM cent2 c
        LEFT JOIN bc ON bc.cell = c.cid
        LEFT JOIN ac ON ac.cell = c.cid),
      tt AS (SELECT SUM(n_total) AS tot FROM st)
      SELECT cell, CAST(n_base AS BIGINT) AS n_base,
        CAST(n_add AS BIGINT) AS n_add,
        CAST(n_total AS BIGINT) AS n_total,
        CAST(((2 * n_add * 10000 + GREATEST(n_total, 1))
          // (2 * GREATEST(n_total, 1))) AS DOUBLE) / 1e4 AS add_share,
        CAST(((2 * n_total * 10000 + tot) // (2 * tot)) AS DOUBLE) / 1e4
          AS total_share,
        n_total * 16 > tot * 2 AS over_2x
      FROM st, tt ORDER BY cell""",
    // x110: the store chain trains on the BASE slice only (vec_id
    // % 10 <> 7 — the seed set is vec_id < 16 of that relation, 15
    // seeds); the batch then flows through a SEPARATE frozen-codebook
    // encode chain (assign against c2f/c2 with no recenter step).
    "x110_ivfpq_addbatch" -> s"""
      WITH ${ivfPqStoreCtes("embeddings WHERE vec_id % 10 <> 7")},
      fa AS (SELECT vec_id, 0 AS m, embedding AS sub FROM embeddings
        WHERE vec_id % 10 = 7),
      ${pqAssignSql("fa", "c2f", "aa")},
            ${residualCte("resa", "aa")},
      ${pqSubCte("rsuba", "r", "resa")},
      ${pqAssignSql("rsuba", "c2", "codesa")},
      tb AS (SELECT COUNT(*) AS tot_base FROM embeddings
        WHERE vec_id % 10 <> 7),
      ta AS (SELECT COUNT(*) AS tot_add FROM embeddings
        WHERE vec_id % 10 = 7),
      bc AS (SELECT m, cell AS code, COUNT(*) AS n_base FROM codes
        GROUP BY 1, 2),
      ac AS (SELECT m, cell AS code, COUNT(*) AS n_add FROM codesa
        GROUP BY 1, 2)
      SELECT CAST(c.m AS BIGINT) AS m, CAST(c.cid AS BIGINT) AS code,
        CAST(COALESCE(bc.n_base, 0) AS BIGINT) AS n_base,
        CAST(COALESCE(ac.n_add, 0) AS BIGINT) AS n_add,
        CAST(((2 * COALESCE(bc.n_base, 0) * 10000 + tb.tot_base)
          // (2 * tb.tot_base)) AS DOUBLE) / 1e4 AS base_share,
        CAST(((2 * COALESCE(ac.n_add, 0) * 10000 + ta.tot_add)
          // (2 * ta.tot_add)) AS DOUBLE) / 1e4 AS add_share
      FROM c2 c
      LEFT JOIN bc ON bc.m = c.m AND bc.code = c.cid
      LEFT JOIN ac ON ac.m = c.m AND ac.code = c.cid
      CROSS JOIN tb CROSS JOIN ta
      ORDER BY m, code""",
    "x99b_opq_recall" -> s"""$opqRotationCtes,
      ${pqRecallSql("re")}""",
    "x114_opq_serve" -> s"""$opqRotationCtes,
      ${ivfPqStoreCtes("re", "aff")},
      ${ivfPqAdcCtes("re", "aff")},
      ${distTopSql("r", "adc", 10)}""",
    "x176_embed_drift" -> s"""
      WITH $ivfAssignedCtes,
      spl AS (SELECT (MAX(vec_id) + 1) // 2 AS sp FROM assigned),
      asg AS (SELECT cell,
          CASE WHEN vec_id >= sp THEN 1 ELSE 0 END AS grp
        FROM assigned, spl),
      cnts AS (SELECT c.cid AS cell,
          CAST(COALESCE(SUM(1 - grp), 0) AS BIGINT) AS a,
          CAST(COALESCE(SUM(grp), 0) AS BIGINT) AS bq
        FROM cent2 c LEFT JOIN asg ON asg.cell = c.cid GROUP BY c.cid),
      tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
          CAST(SUM(bq) AS BIGINT) AS nb,
          CAST(COUNT(*) AS BIGINT) AS k FROM cnts),
      terms AS (SELECT a, bq, na, nb, k,
          CAST(ROUND(LN(
            (CAST(a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
            / ((CAST(a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE)
              + CAST(bq + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE)) / 2))
            * 1e6, 0) AS BIGINT) AS tp,
          CAST(ROUND(LN(
            (CAST(bq + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))
            / ((CAST(a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE)
              + CAST(bq + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE)) / 2))
            * 1e6, 0) AS BIGINT) AS tq
        FROM cnts, tot),
      agg AS (SELECT CAST(MAX(na) AS BIGINT) AS n_early,
          CAST(MAX(nb) AS BIGINT) AS n_late,
          CAST(MAX(k) AS BIGINT) AS kk,
          CAST(SUM((a + 1) * tp) AS BIGINT) AS hp,
          CAST(SUM((bq + 1) * tq) AS BIGINT) AS hq
        FROM terms)
      SELECT n_early, n_late,
        CAST((CASE WHEN hp < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(hp) + (n_early + kk)) // (2 * (n_early + kk)))
          + (CASE WHEN hq < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(hq) + (n_late + kk)) // (2 * (n_late + kk)))
          AS DOUBLE)
          / 2e6 / 0.6931471805599453 AS jsd_bits
      FROM agg""",
    "x74_sq8_recall" -> s"""
      WITH qv AS (SELECT vec_id, embedding,
          list_transform(embedding,
            x -> CAST(ROUND(CAST(x AS DOUBLE) * 127 / mx, 0) AS BIGINT)) AS q
        FROM (SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
              AS mx
          FROM embeddings)
        WHERE mx > 0),
      qn AS (SELECT vec_id, embedding, q,
          list_sum(list_transform(q, x -> x * x)) AS qn FROM qv),
      sc AS (SELECT qq.vec_id AS qid, nn.vec_id AS nid,
          ROUND(${cosSql("qq.embedding", "nn.embedding")}, 4) AS score_f,
          CAST(list_sum(list_transform(list_zip(qq.q, nn.q),
              p -> p[1] * p[2])) AS DOUBLE)
            / (sqrt(CAST(qq.qn AS DOUBLE)) * sqrt(CAST(nn.qn AS DOUBLE)))
            AS score_q
        FROM qn qq JOIN qn nn
          ON qq.vec_id < 5 AND nn.vec_id <> qq.vec_id),
      rk AS (SELECT qid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_f DESC, nid)
            AS rf,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_q DESC, nid)
            AS rq
        FROM sc)
      ${recallAt10Sql("rk")}""",
    "x75_ivf_balance" -> s"""
      WITH $ivfAssignedCtes,
      counts AS (SELECT cell, COUNT(*) AS n_vecs FROM assigned
        GROUP BY cell),
      tot AS (SELECT SUM(n_vecs) AS total, MAX(n_vecs) AS mx,
          COUNT(*) AS nc FROM counts)
      SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs,
        CAST((2 * n_vecs * 10000 + total) // (2 * total) AS DOUBLE) / 1e4
          AS share,
        CAST((2 * mx * nc * 10000 + total) // (2 * total) AS DOUBLE) / 1e4
          AS imbalance
      FROM counts CROSS JOIN tot ORDER BY cell""",
    "x69_prototypicality" -> """
      WITH q AS (SELECT vec_id, label,
          unnest(range(1, len(embedding) + 1)) AS i,
          unnest(embedding) AS x
        FROM embeddings),
      qq AS (SELECT vec_id, label, i,
          CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS qi FROM q),
      cent AS (SELECT label, i, SUM(qi) AS s_li FROM qq GROUP BY label, i),
      cn AS (SELECT label,
          CAST(SUM(CAST(s_li AS HUGEINT) * s_li) AS DOUBLE) AS n2
        FROM cent GROUP BY label),
      pv AS (SELECT vec_id, qq.label,
          CAST(SUM(CAST(qi AS HUGEINT) * s_li) AS DOUBLE) AS num,
          CAST(SUM(CAST(qi AS HUGEINT) * qi) AS DOUBLE) AS qn2
        FROM qq JOIN cent ON qq.label = cent.label AND qq.i = cent.i
        GROUP BY vec_id, qq.label),
      sc AS (SELECT vec_id, pv.label,
          num / (sqrt(qn2) * sqrt(n2)) AS cosc
        FROM pv JOIN cn ON pv.label = cn.label)
      SELECT vec_id, label, ROUND(cosc, 6) AS cos_centroid,
        CAST(ROW_NUMBER() OVER (PARTITION BY label
          ORDER BY cosc DESC, vec_id) AS INT) AS rank_in_label
      FROM sc ORDER BY label, rank_in_label""",
    "x125_jl_projection" -> {
      val sgn = (0 until 16).map(c =>
        s"($c, [${jlSigns(c, 64).mkString(", ")}])").mkString(", ")
      val ratios = """,
        CAST(((2 * SUM(rq4) + COUNT(rq4)) // (2 * COUNT(rq4)))
          AS DOUBLE) / 1e4 AS ratio_mean,
        CAST(MIN(rq4) AS DOUBLE) / 1e4 AS ratio_min,
        CAST(MAX(rq4) AS DOUBLE) / 1e4 AS ratio_max"""
      s"""
      WITH pr AS (
        SELECT vec_id, c,
          list_sum(list_transform(list_zip(embedding, s),
            p -> CAST(p[1] AS DOUBLE) * p[2])) AS y
        FROM embeddings, (VALUES $sgn) AS sgn(c, s)),
      prl AS (SELECT vec_id, list(y ORDER BY c) AS ys
        FROM pr GROUP BY vec_id),
      base AS (
        SELECT e.vec_id, e.embedding, p.ys
        FROM embeddings e JOIN prl p USING (vec_id)),
      qs AS (SELECT vec_id AS qid, embedding AS qe, ys AS qy
        FROM base WHERE vec_id < 5),
      sc AS (
        SELECT q.qid, c.vec_id AS nid,
          list_sum(list_transform(list_zip(q.qe, c.embedding),
            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
              * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2o,
          list_sum(list_transform(list_zip(q.qy, c.ys),
            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2p
        FROM qs q, base c WHERE c.vec_id <> q.qid),
      rk AS (
        SELECT qid, nid, d2o, d2p,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY ROUND(d2o, 6), nid) AS rf,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY ROUND(d2p, 6), nid) AS rq,
          CASE WHEN d2o > 0
            THEN CAST(ROUND(d2p / (16 * d2o) * 1e4, 0) AS BIGINT) END AS rq4
        FROM sc)
      ${recallAt10Sql("rk", ratios)}"""
    },
    "x57_embed_outliers" -> """
      WITH d1 AS (SELECT vec_id, label,
          unnest(range(0, len(embedding))) AS i,
          unnest(embedding) AS xi
        FROM embeddings),
      q1 AS (SELECT vec_id, label, i,
          CAST(ROUND(CAST(xi AS DOUBLE) * 1e6, 0) AS BIGINT) AS qi FROM d1),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      dims AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS d FROM q1),
      diag AS (SELECT i, CAST(SUM(qi) AS BIGINT) AS s_,
          CAST(SUM(qi * qi) AS BIGINT) AS ss_
        FROM q1 GROUP BY i),
      dv AS (SELECT i, s_,
          CAST(nn.n AS DOUBLE) * CAST(ss_ AS DOUBLE)
            - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE) AS v_
        FROM diag CROSS JOIN nn),
      z2 AS (SELECT q1.vec_id, q1.label,
          CASE WHEN dg.v_ > 0 THEN
            CAST(ROUND(CAST(nn.n * qi - dg.s_ AS DOUBLE)
              * CAST(nn.n * qi - dg.s_ AS DOUBLE)
              / dg.v_ * 1e6, 0) AS BIGINT)
          ELSE 0 END AS z2q
        FROM q1 JOIN dv dg ON dg.i = q1.i CROSS JOIN nn),
      agg AS (SELECT vec_id, label,
          CAST(SUM(z2q) AS BIGINT) AS sz FROM z2 GROUP BY vec_id, label),
      rz AS (SELECT vec_id, label,
          sqrt(CAST((CASE WHEN sz * 100 < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(sz * 100) + dd.d) // (2 * dd.d)) AS DOUBLE)) / 1e4
            AS rms_z
        FROM agg CROSS JOIN dims dd)
      SELECT vec_id, label, rms_z, rms_z > 1.2 AS is_outlier
      FROM rz ORDER BY vec_id""",
    "x28_label_centroids" -> """
      SELECT label, CAST(i - 1 AS INT) AS pos,
        CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 16777216)
            AS BIGINT)) AS DOUBLE)
          / (CAST(COUNT(*) AS DOUBLE) * 16777216) AS comp,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY label, i
      ORDER BY label, pos""",
    "x101_pq_health" -> s"""
      WITH ${ivfPqStoreCtes("embeddings")},
      dist AS (SELECT k.vec_id, k.m, k.cell AS code,
          CAST(ROUND(${pqL2Sql("k.sub", "c.ce")} * 1e6, 0) AS BIGINT) AS dq
        FROM codes k JOIN c2 c ON c.m = k.m AND c.cid = k.cell),
      pc AS (SELECT m, code, COUNT(*) AS c, CAST(SUM(dq) AS BIGINT) AS sd
        FROM dist GROUP BY m, code),
      agg AS (SELECT m, COUNT(*) AS n_used, CAST(SUM(c) AS BIGINT) AS n,
          CAST(SUM(sd) AS BIGINT) AS dist_total_q,
          CAST(SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT))
            AS BIGINT) AS clogc_q
        FROM pc GROUP BY m)
      SELECT m, CAST(n_used AS BIGINT) AS n_used,
        (CAST(CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) * n
          - clogc_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)) / LN(2.0)
          AS entropy_bits,
        CAST(dist_total_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mse
      FROM agg ORDER BY m""",
    "x100_ivfpq_query" -> s"""
      WITH ${ivfPqStoreCtes("embeddings")},
      ${ivfPqAdcCtes("embeddings", "af")},
      ${distTopSql("r", "adc", 10)}""",
    "x129_adc_rerank" -> s"""
      WITH ${ivfPqStoreCtes("embeddings")},
      ${ivfPqAdcCtes("embeddings", "af")},
      short AS (SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_q, nid) AS ark
          FROM adc) WHERE ark <= 16),
      ex AS (SELECT s.qid, s.nid,
          CAST(ROUND(${pqL2Sql("q.embedding", "n.embedding")} * 1e6, 0)
            AS BIGINT) AS dist_q
        FROM short s
        JOIN embeddings q ON q.vec_id = s.qid
        JOIN embeddings n ON n.vec_id = s.nid),
      ${distTopSql("rr", "ex", 4)}""",
    "x99_pq_recall" -> s"""
      WITH ${pqRecallSql("embeddings")}""",
    "x51_embed_standardize" -> """
      WITH d1 AS (SELECT vec_id,
          unnest(range(0, len(embedding))) AS i,
          unnest(embedding) AS xi
        FROM embeddings),
      q1 AS (SELECT vec_id, i,
          CAST(ROUND(CAST(xi AS DOUBLE) * 1e6, 0) AS BIGINT) AS qi FROM d1),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      diag AS (SELECT i, CAST(SUM(qi) AS BIGINT) AS s_,
          nn.n * CAST(SUM(qi * qi) AS BIGINT)
            - CAST(SUM(qi) AS BIGINT) * CAST(SUM(qi) AS BIGINT) AS v_
        FROM q1 CROSS JOIN nn GROUP BY i, nn.n)
      SELECT q1.vec_id, q1.i,
        ROUND(CAST(nn.n * qi - dg.s_ AS DOUBLE)
          / sqrt(CAST(NULLIF(dg.v_, 0) AS DOUBLE)), 6) AS z
      FROM q1 JOIN diag dg ON dg.i = q1.i CROSS JOIN nn
      ORDER BY q1.vec_id, q1.i""",
    "x65_embed_whiten" -> s"""
      WITH RECURSIVE $quantizedPairCtes,
      $covCellsCtes,
      covq AS ($covSelectSql),
      ${covMatrixCtes("mat")},
      svt AS (SELECT list(s_ ORDER BY d_) AS sv FROM sums),
      ${powerIterCtes("1", "mat")},
      ${rayleighCte("1", "mat")},
      ${deflateCte("mat2", "mat", "1")},
      ${powerIterCtes("2", "mat2")},
      ${rayleighCte("2", "mat2")},
      md AS (SELECT
          list_sum(list_transform(list_zip(svt.sv, uvec1.u),
            p -> CAST(p[1] AS DOUBLE) * p[2])) / (CAST(nn.n AS DOUBLE) * 1e6) AS md1,
          list_sum(list_transform(list_zip(svt.sv, uvec2.u),
            p -> CAST(p[1] AS DOUBLE) * p[2])) / (CAST(nn.n AS DOUBLE) * 1e6) AS md2
        FROM svt, uvec1, uvec2, nn)
      SELECT e.vec_id,
        CASE WHEN l1.lam > 0 THEN
          ROUND((list_sum(list_transform(list_zip(e.embedding, uvec1.u),
            p -> CAST(p[1] AS DOUBLE) * p[2])) - md.md1) / sqrt(l1.lam), 6)
        END AS w1,
        CASE WHEN l2.lam > 0 THEN
          ROUND((list_sum(list_transform(list_zip(e.embedding, uvec2.u),
            p -> CAST(p[1] AS DOUBLE) * p[2])) - md.md2) / sqrt(l2.lam), 6)
        END AS w2
      FROM embeddings e, uvec1, uvec2, lamt1 l1, lamt2 l2, md
      ORDER BY e.vec_id""",
    "x49_pca_project" -> s"""
      WITH RECURSIVE $quantizedPairCtes,
      $covCellsCtes,
      covq AS ($covSelectSql),
      ${covMatrixCtes("mat")},
      ${powerIterCtes("1", "mat")}
      SELECT e.vec_id,
        ROUND(list_sum(list_transform(list_zip(e.embedding, u.u),
          p -> CAST(p[1] AS DOUBLE) * p[2])), 6) AS pc1_score
      FROM embeddings e, uvec1 u
      ORDER BY e.vec_id""",
    "x48_embed_correlation" -> s"""
      WITH $quantizedCompCtes,
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      diag AS (SELECT i, CAST(SUM(qi) AS BIGINT) AS s_,
          nn.n * CAST(SUM(qi * qi) AS BIGINT)
            - CAST(SUM(qi) AS BIGINT) * CAST(SUM(qi) AS BIGINT) AS v_
        FROM q1 CROSS JOIN nn GROUP BY i, nn.n),
      $compPairCtes,
      cells AS (SELECT i, j, CAST(SUM(qi * qj) AS BIGINT) AS p
        FROM p2 GROUP BY i, j)
      SELECT cells.i, cells.j,
        ROUND(CAST(nn.n * p - di.s_ * dj.s_ AS DOUBLE)
          / sqrt(CAST(NULLIF(di.v_, 0) AS DOUBLE)
            * CAST(NULLIF(dj.v_, 0) AS DOUBLE)), 6) AS corr
      FROM cells
      JOIN diag di ON di.i = cells.i
      JOIN diag dj ON dj.i = cells.j
      CROSS JOIN nn
      ORDER BY cells.i, cells.j""",
    "x47_source_overlap" -> {
      val params = graft.dedup.NearDup.minhashParams(16).zipWithIndex
        .map { case ((a, b), j) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""
      WITH docs AS (
        SELECT source, $sqlShingles3 AS shs
        FROM (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents)),
      sh AS (SELECT source, unnest(shs) AS sh FROM docs WHERE len(shs) > 0),
      hs AS (SELECT source, ${md5Hash32Sql("sh")} AS h FROM sh),
      minh AS (
        SELECT source, params.j,
          MIN((h * params.a + params.b) % ${graft.dedup.NearDup.minhashPrime}) AS mh
        FROM hs, (VALUES $params) AS params(j, a, b)
        GROUP BY source, params.j),
      pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
          CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS matching_slots
        FROM minh a JOIN minh b ON a.j = b.j AND a.source < b.source
        GROUP BY 1, 2)
      SELECT source_a, source_b, matching_slots,
        CAST(matching_slots AS DOUBLE) / 16.0 AS est_jaccard
      FROM pairs ORDER BY source_a, source_b"""
    },
    "x46_embed_covariance" -> s"""
      WITH $quantizedPairCtes,
      $covCellsCtes
      $covSelectSql
      ORDER BY cells.i, cells.j""",
    "x45_cluster_diversity" -> """
      WITH q AS (
        SELECT label,
          unnest(range(1, len(embedding) + 1)) AS dim,
          unnest(embedding) AS x
        FROM embeddings),
      qq AS (SELECT label, dim,
          CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS q FROM q),
      per_dim AS (SELECT label, dim, COUNT(*) AS n,
          SUM(q) AS s, SUM(q * q) AS ss
        FROM qq GROUP BY label, dim),
      agg AS (SELECT label, MAX(n) AS n_vecs,
          SUM(n * ss - s * s) AS m2
        FROM per_dim GROUP BY label)
      SELECT label, n_vecs,
        CAST((2 * abs(m2 * 2) + n_vecs * n_vecs * 1000000)
          // (2 * (n_vecs * n_vecs * 1000000)) AS DOUBLE) / 1e6
          AS mean_pair_sqdist
      FROM agg
      ORDER BY label""",
    "x43_embed_quantize" -> """
      WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      m AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
      q AS (SELECT vec_id, v, mx,
          list_transform(v, x -> CAST(ROUND(x * 127 / mx, 0) AS INTEGER)) AS q
        FROM m WHERE mx > 0)
      SELECT vec_id,
        ROUND(mx, 6) AS q_scale_x127,
        CAST(list_sum(q) AS BIGINT) AS q_checksum,
        ROUND(list_max(list_transform(list_zip(v, q),
          p -> abs(p[1] - CAST(p[2] AS DOUBLE) * mx / 127))), 6) AS max_abs_err
      FROM q
      ORDER BY vec_id""",
    "x6_ann_lsh" -> s"""
      WITH planes AS (
        SELECT t.t, p.p,
          list_transform(range(0, 64), i ->
            CASE WHEN (strpos('0123456789abcdef',
                substring(md5(CAST(t.t AS VARCHAR) || '-' || CAST(p.p AS VARCHAR)
                  || '-' || CAST(i AS VARCHAR)), 4, 1)) - 1) % 2 = 0
            THEN 1.0 ELSE -1.0 END) AS signs
        FROM (SELECT unnest(range(0, 8)) AS t) t,
             (SELECT unnest(range(0, 4)) AS p) p),
      proj AS (
        SELECT e.vec_id, pl.t, pl.p,
          list_sum(list_transform(list_zip(e.embedding, pl.signs),
            z -> CAST(z[1] AS DOUBLE) * z[2])) AS pr
        FROM embeddings e, planes pl),
      buckets AS (
        SELECT vec_id, t,
          CAST(SUM(CASE WHEN pr > 0
            THEN CASE p WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END
            ELSE 0 END) AS INT) AS b
        FROM proj GROUP BY vec_id, t),
      cand AS (
        SELECT DISTINCT q.vec_id AS qid, n.vec_id AS nid
        FROM buckets q JOIN buckets n ON q.t = n.t AND q.b = n.b
        WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id),
      scored AS (
        SELECT c.qid, c.nid,
          ROUND(${cosSql("qe.embedding", "ne.embedding")}, 4) AS score
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.qid
        JOIN embeddings ne ON ne.vec_id = c.nid),
      $top10Sql""",
    "x13_ann_ivf" -> ivfOracle("e.vec_id < 5"),
    "x31_ivf_query" -> ivfOracle("e.vec_id >= 5 AND e.vec_id < 10"),
    "x12_dedup_cosine" -> s"""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ROUND(
          ${cosExpr("a.embedding", "b.embedding")},
          4) AS cos
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND ROUND(
          ${cosExpr("a.embedding", "b.embedding")},
          4) >= 0.4
      ORDER BY id_a, id_b""",
    "x119_semantic_leakage" -> s"""
      WITH $ivfAssignedCtes,
      sp AS (SELECT vec_id, cell, embedding,
          CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
        FROM (SELECT vec_id, cell, embedding,
            ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100
              AS b
          FROM assigned)),
      p AS (SELECT e.split, e.vec_id AS id_e, t.vec_id AS id_t
        FROM sp e JOIN sp t ON e.cell = t.cell
        WHERE e.split <> 'train' AND t.split = 'train'
          AND ROUND(${cosSql("e.embedding", "t.embedding")}, 4) >= 0.4),
      lk AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS leak_pairs,
          CAST(COUNT(DISTINCT id_e) AS BIGINT) AS n_leaked
        FROM p GROUP BY split),
      tot AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sp WHERE split <> 'train' GROUP BY split)
      SELECT t.split, t.n_docs,
        CAST(COALESCE(lk.n_leaked, 0) AS BIGINT) AS n_leaked,
        CAST(COALESCE(lk.leak_pairs, 0) AS BIGINT) AS leak_pairs,
        CAST(((2 * CAST(COALESCE(lk.n_leaked, 0) AS BIGINT) * 10000 + t.n_docs)
          // (2 * t.n_docs)) AS DOUBLE) / 1e4 AS leak_rate
      FROM tot t LEFT JOIN lk USING (split) ORDER BY split""",
    "x35_semantic_dedup" -> s"""
      WITH RECURSIVE $ivfAssignedCtes,
      ${cellPairsCtes("assigned", distinct = false)}
      $semdedupSelectSql""",
    "x120_hard_negatives" -> s"""
      WITH RECURSIVE $ivfAssignedCtes,
      ${cellPairsCtes("assigned", distinct = false)},
      lab AS (
        SELECT e.vec_id, ${reachMinSql("e.vec_id")} AS label
        FROM embeddings e
        ${reachMinJoinSql("e.vec_id")}),
      av AS (
        SELECT a.vec_id, a.cell, a.embedding, l.label
        FROM assigned a JOIN lab l USING (vec_id)),
      rk AS (
        SELECT an.vec_id AS anchor, c.vec_id AS neg_id,
          ROUND(${cosSql("an.embedding", "c.embedding")}, 6) AS cos,
          ROW_NUMBER() OVER (PARTITION BY an.vec_id
            ORDER BY ROUND(${cosSql("an.embedding", "c.embedding")}, 6) DESC,
              c.vec_id) AS rk
        FROM av an JOIN av c ON an.cell = c.cell AND an.label <> c.label
        WHERE an.vec_id % 100 = 3)
      SELECT anchor, CAST(rk AS BIGINT) AS rk, neg_id, cos
      FROM rk WHERE rk <= 3 ORDER BY anchor, rk""",
    "x35b_semdedup_nprobe2" -> s"""
      WITH RECURSIVE $ivfCentroidCtes,
      probed AS (${nearestCellsSql("embeddings", "cent2", "<= 2")}),
      ${cellPairsCtes("probed", distinct = true)}
      $semdedupSelectSql""",
    "x34_filtered_ann" ->
      bruteCosineOracle("q.vec_id < 5 AND n.label = 0 AND n.vec_id <> q.vec_id"),
    "x5_ann_cosine" -> bruteCosineOracle("q.vec_id < 5 AND n.vec_id <> q.vec_id"))
}
