package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.text.TextFunctions._
import graft.queries.TrainingData._

/** Mixture weights and data selection: stratified and quality
  * sampling, curation funnels, domain mixtures (DSIR, DoReMi, UniMax),
  * splits, sketches for distinct counts, and the selection policies
  * (coverage, reducible loss, packing). */
object TrainingDataMixture {

  /** X16: consistent stratified sampling — k docs per language, chosen
    * by md5(doc_id) order. Hash-rank sampling is the scale idiom for
    * training-data pipelines: uniform-ish, reproducible across reruns
    * and engines (no RNG state), and mergeable (the hash order is
    * global, so partial samples combine exactly — here it runs on the
    * engine's sort-free TopKPerGroup operator, so the full corpus is
    * never sorted). */
  val x16StratifiedSample: Q = (s, d) =>
    graft.plans.TopK.perGroup(
      Tables.documents(s, d)
        .withColumn("amostra_chave", md5(col("doc_id").cast("string"))),
      Seq("lang"), Seq(("amostra_chave", false)), 5)
      .select(col("lang"), col("doc_id"), col("amostra_chave"))
      .orderBy(col("lang"), col("amostra_chave"))

  /** X21: corpus-curation funnel — the end-to-end shape of a training
    * -data preprocessing job (language filter → quality threshold →
    * exact dedup → hash-rank sample) reported as per-stage audit
    * counts, the reference's §5 audit discipline (row deltas after
    * every filter) applied to the LLM pipeline. The whole funnel is
    * ONE pass: per-row stage flags, then a single aggregate
    * (conditional counts + a distinct-fingerprint count), unpivoted to
    * the stage rows — not a union of five aggregates, which would scan
    * the 100 TB corpus five times. The sample-stage count is
    * `least(5, dedup)` by construction (hash-rank top-5, x16). */
  val x21CurationFunnel: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val corpus = corpusWithDupes(s, d)
    val q = qualityScore(col("text"), stopwords)
    val flags = corpus.join(
        broadcast(docs.select(col("doc_id").as("base_id"), col("lang"))),
        corpus("doc_id") % 1000000L === col("base_id"))
      .select(
        (col("lang") === "en").as("f_lang"),
        (col("lang") === "en" && q >= 0.5).as("f_qual"),
        when(col("lang") === "en" && q >= 0.5, fingerprint(col("text")))
          .as("fp_kept"))
    flags.agg(
        count(lit(1)).as("bruto"),
        count(when(col("f_lang"), 1)).as("idioma"),
        count(when(col("f_qual"), 1)).as("qualidade"),
        countDistinct(col("fp_kept")).as("dedup_exato"))
      .withColumn("amostra", least(col("dedup_exato"), lit(5L)))
      .selectExpr("""stack(5,
        1, 'bruto', bruto,
        2, 'idioma', idioma,
        3, 'qualidade', qualidade,
        4, 'dedup_exato', dedup_exato,
        5, 'amostra', amostra) AS (ordem, etapa, linhas)""")
      .orderBy(col("ordem"))
  }

  /** X37: per-source curation funnel — x21's audit accounting broken
    * down by origin domain, the report mixture decisions actually
    * consume (which source loses how much at which gate feeds the
    * x27 budget recipe). Same single-pass discipline: ONE scan
    * computes every stage flag, one groupBy(source) aggregates the
    * conditional counts + per-source distinct fingerprints — never a
    * rescan per stage. */
  val x37FunnelBySource: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val corpus = corpusWithDupes(s, d)
    val q = qualityScore(col("text"), stopwords)
    val flags = corpus.join(
        broadcast(docs.select(col("doc_id").as("base_id"), col("lang"),
          col("source"))),
        corpus("doc_id") % 1000000L === col("base_id"))
      .select(col("source"),
        (col("lang") === "en").as("f_lang"),
        (col("lang") === "en" && q >= 0.5).as("f_qual"),
        when(col("lang") === "en" && q >= 0.5, fingerprint(col("text")))
          .as("fp_kept"))
    flags.groupBy(col("source")).agg(
        count(lit(1)).as("bruto"),
        count(when(col("f_lang"), 1)).as("idioma"),
        count(when(col("f_qual"), 1)).as("qualidade"),
        countDistinct(col("fp_kept")).as("dedup_exato"))
      .orderBy(col("source"))
  }

  /** Domain-mixture core over (doc_id, source, n_tok, amostra_chave)
    * rows: resize each source/domain to a target token budget by
    * taking docs in hash (`amostra_chave`) order until the budget is
    * crossed (greedy prefix, boundary doc kept). Each source splits
    * into `subShards` hash sub-shards ([[subShard]]) and the source
    * budget is PRO-RATED by the sub-shard's token share
    * (`cota = budget * shard_tok div source_tok`, integer arithmetic
    * so both engines agree exactly); each sub-shard then runs its own
    * greedy prefix against its own quota. A skewed domain is thus
    * bounded by its sub-shard, never a single task's sort, and the
    * total taken stays within a boundary-doc-per-shard of the source
    * budget. The quota table is mixture-key-sized → broadcast. */
  private[graft] def domainMixture(rows: DataFrame, budget: Long,
      subShards: Int): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    require(subShards > 0, s"sub-shard count must be positive, got $subShards")
    val base = rows.withColumn("sub_shard", subShard(subShards))
    val quota = base.groupBy(col("source"), col("sub_shard"))
      .agg(sum(col("n_tok")).as("shard_tok"))
      .withColumn("source_tok",
        sum(col("shard_tok")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("sub_shard"),
        expr(s"$budget * shard_tok div source_tok").as("cota"))
    val w = Window.partitionBy(col("source"), col("sub_shard"))
      .orderBy(col("amostra_chave"))
    base
      .withColumn("tok_antes", sum(col("n_tok")).over(w) - col("n_tok"))
      .join(broadcast(quota), Seq("source", "sub_shard"))
      .filter(col("tok_antes") < col("cota"))
      .select(col("source"), col("sub_shard"), col("doc_id"), col("n_tok"),
        col("tok_antes"), col("cota"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** X27: domain-mixture sampling — the training-mix step (domain
    * reweighting to a token recipe) on [[domainMixture]]. Deterministic
    * and mergeable like x16: the hash order is global, no RNG state.
    * One shuffle on the mixture key, sub-sharded 4 ways with pro-rated
    * per-shard budgets (the skew path, exercised by default). */
  val x27DomainMixture: Q = (s, d) =>
    domainMixture(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tok"),
          md5(col("doc_id").cast("string")).as("amostra_chave")),
      budget = 500L, subShards = 4)

  /** X36: deterministic train/val/test split — hash-bucket assignment
    * (16-bit md5 prefix mod 100: <90 train, <95 val, else test). A
    * doc's split depends on nothing but its own id, which is the
    * property that makes held-out sets trustworthy at 100 TB: stable
    * across reruns, engines, partitionings, AND corpus growth (new
    * docs never reshuffle old assignments, unlike row-number or
    * sample() splits). Pure scan-speed Column expressions, zero
    * shuffle before the presentation sort. */
  val x36TrainSplit: Q = (s, d) => {
    val balde = splitBalde(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        when(balde < 90, "train").when(balde < 95, "val")
          .otherwise("test").as("split"),
        balde.cast("int").as("balde"))
      .orderBy(col("doc_id"))
  }

  /** x42/x133's shared core: (doc_id, n_tok, wq) — the per-doc DSIR
    * importance weight as its 1e-4 BIGINT quantization. */
  private def dsirWq(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(wsTokens(col("text"))).as("token"))
    val raw = tok.groupBy(col("token")).agg(count(lit(1)).as("c_r"))
    val tgt = tok.filter(col("lang") === "en")
      .groupBy(col("token")).agg(count(lit(1)).as("c_t"))
    // corpus/target token totals and vocab size — derived from the
    // count tables (1-row, broadcast), not a re-scan of the corpus
    val tots = raw.agg(sum(col("c_r")).as("n_r"), count(lit(1)).as("v"))
      .crossJoin(tgt.agg(sum(col("c_t")).as("n_t")))
    val vocab = raw.join(tgt, Seq("token"), "left")
      .crossJoin(broadcast(tots))
      .withColumn("lp_q", round(log(
        ((coalesce(col("c_t"), lit(0L)) + 1) * (col("n_r") + col("v"))).cast("double")
          / ((col("c_r") + 1) * (col("n_t") + col("v")))) * 1e4, 0).cast("long"))
    tok.join(vocab.select(col("token"), col("lp_q")), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_q")).as("s_lp"))
      .select(col("doc_id"), col("n_tok"),
        intRoundHalfAway(col("s_lp"), col("n_tok")).as("wq"))
  }

  /** X42: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") —
    * score every raw document by how much more likely its tokens are
    * under a TARGET-domain unigram LM (here `lang = 'en'`, the
    * curation target) than under the raw-corpus LM: per-doc mean of
    * ln p̂_target(w) − ln p̂_raw(w) with add-1 smoothing over the
    * shared vocabulary. Positive weight ⇒ the doc "looks like" the
    * target domain and survives importance resampling; the ranking
    * is exactly DSIR's (hashed-)n-gram importance estimator at n=1.
    * Scale shape: both count tables are map-side-combinable
    * aggregates over one tokenize pass; the per-token log-ratio
    * lives on the VOCABULARY (≪ corpus, AQE-broadcasts into the
    * scoring join like x39's); the corpus is scanned twice —
    * count-then-score, the same inherent two-pass as x32, staged as
    * an ingest column at 100 TB. Determinism contract as x39/x40:
    * the ratio is a quotient of exact integer products (< 2⁵³, so
    * the doubles are exact), ONE ln per vocab row, quantized to
    * 1e-4 units via ROUND, order-free integer sum per doc. */
  val x42DsirWeights: Q = (s, d) =>
    dsirWq(s, d)
      .select(col("doc_id"), col("n_tok"),
        (col("wq").cast("double") / 1e4).as("dsir_weight"))
      .orderBy(col("doc_id"))

  /** X133: DSIR importance RESAMPLING — x42's weights actually
    * applied (the selection step of Xie et al. 2023): acceptance
    * probability p = exp(w − w_max) (relative importance, 1 at the
    * most-target-like doc), quantized 1e-6 after the one exp (the
    * x39 rule), and the keep decision is the x61 hash-Bernoulli made
    * PURE INTEGER — keep iff md5₃₂(doc_id)·10⁶ < p_q·2³² (no float
    * comparison can disagree across engines, restart-stable, no RNG
    * state). Per source: docs, kept, keep rate, and the mean
    * importance of the kept slice — the resampled-corpus datasheet.
    * Shape: x42's vocabulary joins + a 1-row max broadcast + one
    * row-local decision; nothing new is corpus-sized. */
  val x133DsirResample: Q = (s, d) => {
    val scored = dsirWq(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val mx = scored.agg(max(col("wq")).as("mxw"))
    val kept = col("h") * 1000000L < col("pq") * 4294967296L
    scored.crossJoin(broadcast(mx))
      .withColumn("pq", round(
        exp((col("wq") - col("mxw")).cast("double") / 1e4) * 1e6, 0)
        .cast("long"))
      .withColumn("h",
        graft.dedup.NearDup.md5Hash32(col("doc_id").cast("string")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("wq")).otherwise(0L)).as("swk"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (intRoundHalfAway(col("n_kept") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("keep_rate"),
        when(col("n_kept") > 0,
          intRoundHalfAway(col("swk"), col("n_kept")).cast("double") / 1e4)
          .as("mean_w_kept"))
      .orderBy(col("source"))
  }

  /** X50: temperature-scaled source mixture weights — the UniMax /
    * multilingual-sampling recipe: p_s ∝ tok_s^α with α = 1/2, plus
    * the expected epochs each source runs at a one-epoch-equivalent
    * token budget (epochs > 1 ⇒ the source repeats; the overfitting
    * signal data schedulers balance against). One map-side-combinable
    * count pass onto |sources| rows; the denominator Σ√tok_s is a
    * DETERMINISTIC ordered fold over the pinned per-source table
    * (sorted by source — a groupBy-sum of doubles would be partition-
    * order-nondeterministic; the oracle mirrors with
    * `list_sum(list(... ORDER BY source))`). √ is IEEE-exact, tokens
    * are int64-exact, the two quotients are written identically in
    * both engines. */
  val x50MixtureWeights: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .groupBy(col("source")).agg(sum(tokenCount(col("text"))).as("tok"))
    val rows = toks.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val denom = rows.foldLeft(0.0)((acc, r) => acc + math.sqrt(r._2.toDouble))
    val budget = rows.map(_._2).sum
    import s.implicits._
    rows.toSeq.toDF("source", "tok")
      .select(col("source"), col("tok"),
        round(sqrt(col("tok").cast("double")) / lit(denom), 6).as("p_sample"),
        round(lit(budget).cast("double")
          * (sqrt(col("tok").cast("double")) / lit(denom))
          / col("tok").cast("double"), 6).as("epochs"))
      .orderBy(col("source"))
  }

  /** X61: quality-weighted sampling — keep each doc with probability
    * quality² (β=2 sharpens toward high quality), decided by
    * deterministic hash thresholding: u = md5₃₂(doc_id)/2³² < q².
    * The scale idiom for importance sampling (DSIR/quality-mix
    * recipes): no RNG state, no shuffle, reproducible across reruns
    * and engines — u is an exact dyadic rational (integer / 2³²) and
    * q² one IEEE product, so the comparison is bit-identical
    * everywhere. Row-local scan → project; the only exchange is the
    * output sort. */
  val x61QualitySampling: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        qualityScore(col("text"), stopwords).as("quality"))
      .withColumn("u",
        graft.dedup.NearDup.md5Hash32(col("doc_id").cast("string"))
          .cast("double") / lit(4294967296.0))
      .withColumn("p_keep", col("quality") * col("quality"))
      .withColumn("selected", col("u") < col("p_keep"))
      .orderBy(col("doc_id"))

  /** X86: per-domain document caps — the remaining standard curation
    * op every web-scale pipeline runs before mixing (C4/RefinedWeb/
    * Gopher all bound documents per registered domain so no host
    * dominates the mix; the host-level sibling of x27's token-budget
    * mixture). Rank within each source by (n_tok desc, doc_id) —
    * prefer longer documents, deterministic ties — and keep rank ≤
    * cap; `n_domain`/`n_kept` carry the realized per-domain histogram
    * next to every row. Scale shape: ONE shuffle on source for the
    * rank window (no text moves — n_tok is computed at scan, the
    * projection drops `text` before the exchange); at production
    * |domain| skew the rank-then-filter is exactly what
    * [[graft.plans.TopKPerGroup]] executes with a bounded heap per
    * group instead of a full per-group sort — the physical-operator
    * path o8 pins; the window carrier here is the oracle-able twin. */
  val x86DomainCap: Q = (s, d) => {
    val cap = 15L
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tok").desc, col("doc_id"))
    docs
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("kept", col("rk") <= cap)
      .withColumn("n_domain",
        count(lit(1)).over(Window.partitionBy(col("source"))).cast("long"))
      .withColumn("n_kept", least(col("n_domain"), lit(cap)))
      .orderBy(col("source"), col("rk"))
  }

  /** X95: mixture temperature sweep — x50's sqrt-mixture generalized
    * to the sampling-temperature grid every multilingual/multi-source
    * run tunes (UniMax/mT5's α: p_i ∝ tok_i^α, α→0 flattens toward
    * uniform, α=1 is proportional). The grid is DYADIC BY DESIGN —
    * α ∈ {1/4, 1/2, 3/4, 1} via sqrt compositions (√, √∘√, √·√∘√),
    * and IEEE sqrt is correctly-rounded-exact, so every weight is
    * bit-identical across engines with no libm pow/exp anywhere.
    * Denominators fold in SOURCE ORDER on the driver, mirrored by
    * the oracle's `list_sum(list(... ORDER BY source))` (the x50
    * ordered-double-sum contract). |sources|×4 rows — the planning
    * table is driver-sized at any corpus scale; the one corpus scan
    * is the token count. */
  val x95TemperatureSweep: Q = (s, d) => {
    import s.implicits._
    val rows = Tables.documents(s, d).groupBy(col("source"))
      .agg(sum(tokenCount(col("text"))).as("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val budget = rows.map(_._2).sum
    def w(t: Double, a: Double): Double = a match {
      case 0.25 => math.sqrt(math.sqrt(t))
      case 0.5  => math.sqrt(t)
      case 0.75 => math.sqrt(t) * math.sqrt(math.sqrt(t))
      case _    => t
    }
    val alphas = Seq(0.25, 0.5, 0.75, 1.0)
    val den = alphas.map(a =>
      a -> rows.foldLeft(0.0)((acc, r) => acc + w(r._2.toDouble, a))).toMap
    val tokD = col("tok").cast("double")
    val wCol = when(col("alpha") === 0.25, sqrt(sqrt(tokD)))
      .when(col("alpha") === 0.5, sqrt(tokD))
      .when(col("alpha") === 0.75, sqrt(tokD) * sqrt(sqrt(tokD)))
      .otherwise(tokD)
    val dnCol = when(col("alpha") === 0.25, lit(den(0.25)))
      .when(col("alpha") === 0.5, lit(den(0.5)))
      .when(col("alpha") === 0.75, lit(den(0.75)))
      .otherwise(lit(den(1.0)))
    rows.toSeq.toDF("source", "tok")
      .crossJoin(alphas.toDF("alpha"))
      .select(col("source"), col("tok"), col("alpha"),
        round(wCol / dnCol, 6).as("p_sample"),
        round(lit(budget).cast("double") * (wCol / dnCol) / tokD, 6)
          .as("epochs"))
      .orderBy(col("source"), col("alpha"))
  }

  /** X156: repeat-value curve under data-constrained scaling
    * (Muennighoff et al. 2023, "Scaling data-constrained language
    * models"): their fitted decay law prices REPEATED epochs of a
    * source against fresh tokens — effective data
    * D_eff = U·(1 + R*·(1−e^{−R/R*})) with the published R* = 15.39,
    * so ~4 epochs are nearly as good as fresh data and value decays
    * to the U·(1+R*) asymptote by ~16-32 (the paper's headline). Per
    * source and epoch grid R ∈ {0,1,2,4,8,16,32}: unique-token mass,
    * effective tokens, and efficiency = D_eff / (U·(1+R)) — the
    * discount a mixture planner (x141's UniMax, x50) should apply to
    * a repeated source before allocating budget. Scale shape: U is
    * one map-side-combinable scan onto |sources| rows; the grid is a
    * broadcast 7-row literal; the single transcendental (a per-R
    * CONSTANT e^{−R/R*}) follows the quantize-after-evaluation rule,
    * and efficiency is an exact integer rational of the quantized
    * D_eff. */
  val x156RepeatValue: Q = (s, d) => {
    val u = Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("u_tok"))
    val grid = s.createDataFrame(Seq(0L, 1L, 2L, 4L, 8L, 16L, 32L)
      .map(Tuple1(_))).toDF("epochs")
    u.crossJoin(broadcast(grid))
      .withColumn("d_eff", round(col("u_tok").cast("double")
        * (lit(1.0) + lit(15.39) * (lit(1.0)
          - exp(-col("epochs").cast("double") / lit(15.39)))), 0)
        .cast("long"))
      .select(col("source"), col("epochs"), col("u_tok"), col("d_eff"),
        (intRoundHalfAway(col("d_eff") * 10000L,
          col("u_tok") * (lit(1L) + col("epochs"))).cast("double") / 1e4)
          .as("efficiency"))
      .orderBy(col("source"), col("epochs"))
  }

  /** X170: data-constrained novelty-decay fit (the measurement behind
    * Muennighoff et al. 2023's L(N,D) law, fitted FROM this corpus
    * instead of assuming the paper's R* = 15.39 the way [[x156
    * RepeatValue]] does): per source, the marginal trigram novelty
    * m_i across the 10 ingestion deciles (x153's decile machinery on
    * the n-gram space — the whitespace vocabulary saturates in one
    * decile on this corpus, a correct signal x153 already records)
    * follows the exponential decay ln m_i = ln A − i/R*; the fit is
    * [[graft.ml.LogFit]]'s exact-integer OLS with x = decile·10⁶ and
    * y = the quantized log novelty, over POSITIVE deciles only (log
    * domain — exhausted deciles drop, and a source with < 2 distinct
    * positive deciles reports NULL fit columns rather than a fake
    * decay). Emitted per source: the decay slope, R* = −1/slope (the
    * deciles of fresh ingestion until marginal novelty falls by e —
    * the source's effective-data scale; NULL when the slope is not
    * negative), the half-life R*·ln 2, and R² on the shared quantized
    * predictions. This is the number that prices x168's stage budgets
    * and x141's repeat caps per source from the source's OWN data.
    * Scale shape: one shingle scan → (source, gram)-keyed first-
    * occurrence min — map-side combinable, the x52 shuffle — onto a
    * |sources|×10 relation; the regressions are driver-side on that
    * bounded table (the LogFit contract). Oracle: the per-source OLS
    * replayed GROUP BY source on HUGEINT. */
  val x170ScalingFit: Q = (s, d) =>
    scalingFitOn(s, Tables.documents(s, d))

  /** [[x170ScalingFit]] core over any (doc_id, source, text) frame
    * (exposed for the EngineSpec exactly-collinear pin). */
  private[graft] def scalingFitOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import graft.ml.LogFit
    val width = docs.agg(max(col("doc_id"))).head().getLong(0) / 10L + 1L
    val fresh = docs
      .select(col("source"), col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("source"), col("doc_id"),
        explode(allShinglesOfToks(col("toks"), 3)).as("g"))
      .groupBy(col("source"), col("g"))
      .agg(min(col("doc_id")).as("fd"))
      .groupBy(col("source"),
        call_function("div", col("fd"), lit(width)).as("bucket"))
      .agg(count(lit(1)).as("m"))
      .collect()
    val rows = fresh.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (src, bs) =>
        val pts = bs.sortBy(_._2)
          .map { case (_, b, m) => (b * 1000000L, LogFit.lq(m.toDouble)) }
          .toSeq
        val nPos = pts.size.toLong
        if (pts.map(_._1).distinct.size < 2)
          (src, nPos, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
        else {
          val f = LogFit.fit(pts)
          val r2 = LogFit.r2Q(pts, f)
            .map(_.toDouble / 1e6).getOrElse(Double.NaN)
          val slope = f.slopeQ.toDouble / 1e6
          if (f.slopeQ < 0L) {
            val rstar = LogFit.halfAway(BigInt(1000000L) * 10000L,
              BigInt(-f.slopeQ)).toDouble / 1e4
            val hl = LogFit.qScaled(
              math.log(2.0) * 1e6 / (-f.slopeQ).toDouble, 1e4)
              .toDouble / 1e4
            (src, nPos, slope, rstar, hl, r2)
          } else (src, nPos, slope, Double.NaN, Double.NaN, r2)
        }
      }
    s.createDataFrame(rows)
      .toDF("source", "n_points", "slope_raw", "rstar_raw", "hl_raw",
        "r2_raw")
      .select(col("source"), col("n_points"),
        when(!isnan(col("slope_raw")), col("slope_raw")).as("slope"),
        when(!isnan(col("rstar_raw")), col("rstar_raw")).as("r_star"),
        when(!isnan(col("hl_raw")), col("hl_raw")).as("half_life"),
        when(!isnan(col("r2_raw")), col("r2_raw")).as("r2"))
      .orderBy(col("source"))
  }

  /** X172: leave-one-source-out data value — the datamodels/Shapley
    * question ("what is each SOURCE worth to the model?") answered
    * EXACTLY for the add-one unigram LM, no retraining: gram counts
    * are additive sufficient statistics, so the model trained on
    * train−s is just (c(w) − c_s(w) + 1)/(N − N_s + V − u_s) — global
    * counts minus the source's own count table, vocabulary shrunk by
    * the source's unique types. Per source: held-out NLL under the
    * full model, under the LOO model, and Δ = NLL_loo − NLL_full —
    * positive Δ means removing the source HURTS held-out loss (the
    * source carries vocabulary/mass the rest can't cover), negative Δ
    * means the source is dead weight whose mass only dilutes the
    * model (pinned both ways on a crafted corpus in EngineSpec).
    * This is the mixture family's causal complement: x166 DoReMi
    * weights by excess loss, this prices each source's marginal
    * contribution. Determinism: per-TYPE NLLs quantized 1e-4 (x39
    * rule), weighted by exact held-out type counts, means
    * [[intRoundHalfAway]] over the held-out token total. Scale
    * shape: gram tables are map-side-combinable scans; the LOO
    * evaluation is the held-out TYPE table × the |sources|-row stat
    * table (vocabulary-sized × S — the classic working set, never
    * corpus × S), one broadcast join against the (w, source) count
    * table. */
  val x172LooSourceValue: Q = (s, d) =>
    looSourceValueOn(Tables.documents(s, d))

  /** [[x172LooSourceValue]] core over any (doc_id, source, text)
    * frame (exposed for the EngineSpec crafted pins). */
  private[graft] def looSourceValueOn(docs: DataFrame): DataFrame = {
    val balde = splitBalde(col("doc_id"))
    val csw = docs.filter(balde < 90)
      .select(col("source"), explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("w"), col("source")).agg(count(lit(1)).as("cs"))
      .localCheckpoint()
    val cw = csw.groupBy(col("w"))
      .agg(sum(col("cs")).as("c"), count(lit(1)).as("nsrc"))
    val srcs = csw.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
      .join(csw.join(cw.select(col("w"), col("nsrc")), Seq("w"))
        .filter(col("nsrc") === 1L)
        .groupBy(col("source")).agg(count(lit(1)).as("us")),
        Seq("source"), "left")
      .select(col("source"), col("ns"),
        coalesce(col("us"), lit(0L)).as("us"))
    val glob = cw.agg(sum(col("c")).as("n"), (count(lit(1)) + 1L).as("v"))
    val hoT = docs.filter(balde >= 90)
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt_ho"))
      .join(cw.select(col("w"), col("c")), Seq("w"), "left")
      .select(col("w"), col("cnt_ho"), coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint()
    val hn = hoT.agg(sum(col("cnt_ho")).as("hn"))
    val full = hoT.crossJoin(broadcast(glob))
      .select((col("cnt_ho") * round(-log(
          (col("c") + 1L).cast("double")
          / (col("n") + col("v")).cast("double")) * 1e4, 0).cast("long"))
        .as("t"))
      .agg(sum(col("t")).as("sfull"))
    val loo = hoT.crossJoin(broadcast(srcs))
      .join(csw, Seq("w", "source"), "left")
      .crossJoin(broadcast(glob))
      .select(col("source"),
        (col("cnt_ho") * round(-log(
          (col("c") - coalesce(col("cs"), lit(0L)) + 1L).cast("double")
          / (col("n") - col("ns") + col("v") - col("us")).cast("double"))
          * 1e4, 0).cast("long")).as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("sloo"))
    loo.join(srcs, Seq("source"))
      .crossJoin(broadcast(full)).crossJoin(broadcast(hn))
      .select(col("source"), col("ns").as("n_tok_train"),
        col("us").as("u_types"),
        (intRoundHalfAway(col("sfull"), col("hn")).cast("double") / 1e4)
          .as("nll_full"),
        (intRoundHalfAway(col("sloo"), col("hn")).cast("double") / 1e4)
          .as("nll_loo"),
        ((intRoundHalfAway(col("sloo"), col("hn"))
          - intRoundHalfAway(col("sfull"), col("hn"))).cast("double")
          / 1e4).as("delta"))
      .orderBy(col("source"))
  }

  /** X179: greedy max-coverage source selection — the SUBMODULAR
    * member of the mixture family (facility-location/coverage data
    * selection, Nemhauser et al.'s 1−1/e greedy): given a budget of
    * K = 5 sources, pick the set whose UNION of distinct trigrams is
    * largest — x27/x141/x166 weight sources independently, but
    * coverage is a set function and the second copy of a syndicated
    * feed adds nothing; greedy marginal-gain selection is the
    * published answer. Five unrolled steps, each ONE aggregation over
    * the (trigram, source) incidence table joined anti the covered
    * set (argmax by gain DESC, source ASC — engine-exact, no floats
    * anywhere); the oracle replays all steps as chained CTEs.
    * Output per pick: rank, source,
    * marginal gain, cumulative coverage and its share of the corpus
    * trigram space. Subset sources add zero after their superset —
    * greedy skips an individually-2nd-ranked subset source (pinned in
    * EngineSpec on a crafted containment corpus). Scale shape: one
    * shingle scan onto the distinct (gram, source) incidence — the
    * x47 shuffle — then 5 bounded join+aggregate rounds; the only
    * driver state is the ≤ 5 picked names. */
  val x179CoverageSelect: Q = (s, d) =>
    coverageSelectOn(s, Tables.documents(s, d), 5)

  /** [[x179CoverageSelect]] core (exposed for the EngineSpec pin). */
  private[graft] def coverageSelectOn(s: SparkSession, docs: DataFrame,
      k: Int): DataFrame = {
    // The greedy only ever needs, per round, the per-source count of
    // UNCOVERED gram types — and a gram's coverage state depends only
    // on WHICH sources contain it. So the (source, gram) incidence
    // collapses ONCE into a source-combination histogram (r12:
    // shuffle keys and counts, not the gram strings): one
    // canonical sorted source-set per gram, counted. Every greedy
    // round then runs over the combo table — ≤ #gram-types rows,
    // typically collapsing to a handful of combos — with ONE small
    // aggregation, instead of re-scanning the full pair incidence
    // through a distinct + left_anti + aggregation (3 exchanges)
    // per round. gain(s) = Σ n over combos containing s that avoid
    // every picked source: exactly the former uncovered-gram count,
    // so picks, gains, cum and coverage are identical integers. The
    // combos table stays cluster-side (checkpoint, never collected);
    // the driver sees ≤ |sources| gain rows per round, as before.
    val combos = docs
      .select(col("source"), wsTokens(col("text")).as("toks"))
      .select(col("source"),
        explode(allShinglesOfToks(col("toks"), 3)).as("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .groupBy(col("ss")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totTypes = combos.agg(sum(col("n"))).head().getLong(0)
    var cum = 0L
    val picks = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Double)]()
    val picked = scala.collection.mutable.Set[String]()
    for (i <- 1 to k) {
      // the greedy collect per round is the algorithm's honest data
      // dependence (r11); uncovered = combos disjoint from the picked
      // set, a row-local array check against one k-sized literal
      val uncov = if (picked.isEmpty) combos
        else combos.filter(!arrays_overlap(col("ss"),
          array(picked.toSeq.sorted.map(lit): _*)))
      val top = uncov
        .select(explode(col("ss")).as("source"), col("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("gain"))
        .orderBy(col("gain").desc, col("source")).limit(1).collect()
      if (top.nonEmpty && top(0).getLong(1) > 0L) {
        val src = top(0).getString(0); val gain = top(0).getLong(1)
        cum += gain
        picks += ((i.toLong, src, gain, cum,
          graft.ml.LogFit.halfAway(BigInt(cum) * 10000L, BigInt(totTypes))
            .toDouble / 1e4))
        picked += src
      }
    }
    s.createDataFrame(picks.toSeq)
      .toDF("rk", "source", "gain", "cum_types", "coverage")
      .orderBy(col("rk"))
  }

  /** X177: packing-policy efficiency table — the OTHER half of the
    * decision x25/x121/x165 instrument: a trainer either concatenates
    * and chunks (zero padding, x121's attention contamination) or
    * packs whole documents into padded sequences (no contamination,
    * padding waste — Krell et al. 2021's histogram-packing setting).
    * Per policy at b = 256: sequences, padding tokens, and waste
    * share. `single_doc` = one padded sequence per doc (the naive
    * baseline); `nfd` = next-fit-decreasing bin packing computed
    * EXACTLY on the bounded length histogram (per length class the
    * fill is closed-form integer arithmetic — current-bin fill, full
    * bins of ⌊b/L⌋, carry the remainder — so the whole simulation is
    * ≤ 256 exact steps, driver-side on the collected histogram, and
    * the oracle replays it as a recursive CTE); `concat_chunk` = x25's
    * splitter (pads only the final sequence; its real cost is x121's
    * boundary table). Padded policies truncate docs at b (that loss
    * is x165's table); concat never truncates — stated per row by
    * construction. Waste ordering nfd ≤ single_doc and the 100×100
    * closed form (50 bins, 2800 pad) pinned in EngineSpec. Scale
    * shape: one corpus scan onto a ≤ b-row histogram; everything
    * after is bounded integer arithmetic. */
  val x177PackingPolicies: Q = (s, d) =>
    packingPoliciesOn(s, Tables.documents(s, d), 256L)

  /** [[x177PackingPolicies]] core (exposed for the EngineSpec pins). */
  private[graft] def packingPoliciesOn(s: SparkSession, docs: DataFrame,
      b: Long): DataFrame = {
    import graft.ml.LogFit
    val hist = docs
      .select(least(tokenCount(col("text")).cast("long"), lit(b)).as("l"))
      .filter(col("l") > 0)
      .groupBy(col("l")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val nDocs = hist.map(_._2).sum
    val used = hist.map { case (l, c) => l * c }.sum
    val tot = docs.select(tokenCount(col("text")).cast("long").as("t"))
      .filter(col("t") > 0).agg(sum(col("t"))).head().getLong(0)
    val concatSeqs = (tot + b - 1) / b
    var bins = 0L; var rem = 0L
    for ((l, c0) <- hist) {
      var c = c0
      if (rem >= l) { val k1 = math.min(c, rem / l); c -= k1; rem -= k1 * l }
      if (c > 0) {
        val perBin = b / l
        val nb = (c + perBin - 1) / perBin
        bins += nb
        rem = b - (c - (nb - 1) * perBin) * l
      }
    }
    def waste(pad: Long, seqs: Long): Double =
      LogFit.halfAway(BigInt(pad) * 10000L, BigInt(seqs) * b)
        .toDouble / 1e4
    s.createDataFrame(Seq(
        ("concat_chunk", concatSeqs, concatSeqs * b - tot,
          waste(concatSeqs * b - tot, concatSeqs)),
        ("nfd", bins, bins * b - used, waste(bins * b - used, bins)),
        ("single_doc", nDocs, nDocs * b - used,
          waste(nDocs * b - used, nDocs))))
      .toDF("policy", "n_seqs", "n_pad", "waste")
      .orderBy(col("policy"))
  }

  /** X70: mixture-realized sampling — materialize the UniMax-α=½
    * mixture ([[x50MixtureWeights]]'s sqrt-share epochs) into an
    * actual sampled corpus via deterministic hash thresholding
    * (u = md5₃₂/2³² < min(rate, 1), the x61 selector), and report per
    * source what the realized sample holds vs the target. This is the
    * operator that turns a mixture DESIGN into a training corpus —
    * downsampled sources keep a rate-sized slice, upsampled ones
    * (rate ≥ 1, which x50 expresses as epochs > 1) keep everything
    * and the epoch remainder is a repeat-factor downstream, not a
    * selection. Determinism: sqrt quantizes to integer 1e-6 units
    * before the denominator sum (order-free — x50's raw double fold
    * is driver-side and ordered; here the sum must be engine-exact),
    * and the rate arithmetic is the same parenthesized IEEE ops on
    * exact integers in both engines; u < rate is then bit-exact.
    * Shape: one |sources|-row stats aggregation, a broadcast of the
    * rate table, one row-local selection scan — nothing
    * corpus-sized shuffles. */
  val x70MixtureSample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("tok"))
      .withColumn("sqq",
        round(sqrt(col("tok").cast("double")) * 1e6, 0).cast("long"))
    val rates = stats
      .crossJoin(broadcast(stats.agg(sum(col("sqq")).as("denomq"),
        sum(col("tok")).as("budget"))))
      .select(col("source"), col("n_docs"), col("tok"),
        least(col("budget").cast("double")
          * (col("sqq").cast("double") / col("denomq").cast("double"))
          / col("tok").cast("double"), lit(1.0)).as("rate"))
    docs
      .join(broadcast(rates), Seq("source"))
      .withColumn("sel",
        graft.dedup.NearDup.md5Hash32(col("doc_id").cast("string"))
          .cast("double") / lit(4294967296.0) < col("rate"))
      .groupBy(col("source"), col("n_docs"), col("tok"), col("rate"))
      .agg(sum(when(col("sel"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("sel"), tokenCount(col("text")).cast("long"))
          .otherwise(0L)).as("tok_kept"))
      .select(col("source"), col("n_docs"), col("tok"),
        round(col("rate"), 6).as("rate"), col("n_kept"), col("tok_kept"))
      .orderBy(col("source"))
  }

  /** X141: UniMax token-budget waterfilling (Chung et al. 2023) —
    * the mixture ALLOCATOR the share tables (x27 quotas, x131 anneal,
    * x95 temperature sweep) feed: given a total training budget B
    * (here half the corpus' token mass) and a per-source repeat cap
    * (2 epochs — UniMax's anti-overfit bound), allocate B as
    * UNIFORMLY as possible subject to alloc_s ≤ cap_s. Closed-form
    * waterfilling, no iteration: sort sources by cap; a source is
    * SATURATED iff its cap fits even when every later source gets at
    * least as much (cum_j + cap_j·(m−j) ≤ B); the unsaturated rest
    * split the remainder evenly, the integer residue going +1 to the
    * smallest (cap, source) ranks — fully deterministic, Σ alloc = B
    * EXACTLY (pinned in EngineSpec). Everything after the one
    * corpus-token scan runs on the |sources|-row table: two window
    * passes and a broadcast join — the driver never sees a number. */
  val x141UnimaxAlloc: Q = (s, d) => {
    val caps = Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("n_tok"))
      .withColumn("cap", col("n_tok") * 2L)
    val tot = caps.agg((call_function("div", sum(col("n_tok")), lit(2L)))
      .as("b"), count(lit(1)).as("m"))
    val w = Window.orderBy(col("cap"), col("source"))
    val ranked = caps.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(w))
      .withColumn("cum", sum(col("cap")).over(w))
      .withColumn("sat",
        col("cum") + col("cap") * (col("m") - col("rn")) <= col("b"))
    val sag = ranked.filter(col("sat"))
      .agg(count(lit(1)).as("jstar"), sum(col("cap")).as("spent"))
    val lv = ranked.crossJoin(broadcast(sag))
      .withColumn("jstar", coalesce(col("jstar"), lit(0L)))
      .withColumn("spent", coalesce(col("spent"), lit(0L)))
      .withColumn("level", call_function("div",
        col("b") - col("spent"), col("m") - col("jstar")))
      .withColumn("rem", (col("b") - col("spent"))
        - col("level") * (col("m") - col("jstar")))
      .withColumn("alloc", when(col("sat"), col("cap"))
        .otherwise(col("level") +
          when(col("rn") - col("jstar") <= col("rem"), 1L).otherwise(0L)))
    lv.select(col("source"), col("n_tok"), col("cap"), col("alloc"),
        (intRoundHalfAway(col("alloc") * 10000L, col("n_tok"))
          .cast("double") / 1e4).as("epochs"),
        col("sat").as("saturated"))
      .orderBy(col("source"))
  }

  /** The Vendi-score arithmetic over a similarity matrix `k` (already
    * divided by m): clip eigenvalues at 0, normalize to a
    * distribution IN EXTRACTION ORDER (left-to-right folds — the
    * oracle's list_sum order), quantize each −p·ln p term at 1e-6
    * AFTER evaluation (the x39 rule), and return (entropySum1e6,
    * eigenvalues). Shared by the x143 carrier replica in EngineSpec
    * so the formula is pinned once. */
  private[graft] def vendiEntropy(k: Array[Array[Double]]): (Long, Seq[Double]) = {
    val eigs = graft.ml.Opq.eigensolve(k, k.length).map(_._2)
    val lp = eigs.map(l => math.max(l, 0.0))
    val ssum = lp.sum
    val terms = lp.filter(_ > 0)
      .map { l => val p = l / ssum; math.round(-p * math.log(p) * 1e6) }
    (terms.sum, eigs)
  }

  /** X143: Vendi diversity score (Friedman & Dieng 2022) — the
    * reference-free diversity metric a mixture designer reads as
    * "how many EFFECTIVELY DISTINCT populations am I training on":
    * exp of the von Neumann entropy of the label-centroid cosine
    * similarity matrix K/m — m when all populations are orthogonal,
    * 1 when they collapse to a point; x45's size-entropy can't see
    * the difference between ten distinct clusters and ten copies of
    * one. Shape: centroids by x28's exact-integer recipe (one
    * corpus scan onto |labels|·dims cells), then EVERYTHING is
    * dimension-bounded: the 10×10 Gram, the x65/x99b power-iteration
    * + deflation eigensolve (driver and oracle run the SAME
    * approximation — bit-exact by the proven recipe), and the
    * quantized entropy fold. The corpus is touched exactly once. */
  val x143VendiDiversity: Q = (s, d) => {
    val cen = labelCentroids(Tables.embeddings(s, d)).collect()
    val labels = cen.map(_.getInt(0)).distinct.sorted
    val dims = cen.map(_.getInt(1)).max + 1
    val c = Array.ofDim[Double](labels.length, dims)
    cen.foreach(r =>
      c(labels.indexOf(r.getInt(0)))(r.getInt(1)) = r.getDouble(2))
    val nrm = c.map { row =>
      val n = math.sqrt(row.map(x => x * x).sum); row.map(_ / n) }
    val m = labels.length
    val k = Array.tabulate(m, m)((i, j) =>
      nrm(i).zip(nrm(j)).map { case (a, b) => a * b }.sum / m)
    val (h6, _) = vendiEntropy(k)
    val h = h6.toDouble / 1e6
    s.createDataFrame(Seq((m.toLong,
        math.round(h * 1e4) / 1e4.toDouble,
        math.round(math.exp(h) * 1e4) / 1e4.toDouble,
        math.round(math.exp(h) / m * 1e4) / 1e4.toDouble)))
      .toDF("n_labels", "entropy", "vendi", "vendi_ratio")
  }

  /** Reducible loss in integer 1e-4 units for [[x149RholossSelect]]
    * (exposed for the EngineSpec crafted-corpus pin): current-model
    * loss = unigram MLE NLL over the POOL itself ([[uniDocNllQ]] —
    * RHO's training loss, the model HAS seen its own batch), minus
    * reference loss = add-one (Laplace) bigram NLL
    * ([[TrainingData.AddOneBigram]]) under counts from
    * the HELD-OUT train split — p(w₂|w₁) = (c₂+1)/(c₁+V), defined for
    * unseen grams, and crucially NEVER trained on the pool docs being
    * scored: a corpus-wide MLE reference would memorize singleton
    * gibberish to zero loss and invert the selection (the mistake
    * RHO-LOSS's held-out irreducible-loss model exists to prevent).
    * Pool docs need ≥1 bigram (inner semantics). */
  private[graft] def rholossRedQ(pool: DataFrame, train: DataFrame): DataFrame = {
    val u = uniDocNllQ(pool).select(col("doc_id"), col("u_q"))
    val ref = new AddOneBigram(train.select(wsTokens(col("text")).as("toks")))
    val poolBi = pool.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(allShinglesOfToks(col("toks"), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val r = ref.score(poolBi)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("lp")).as("s2"))
      .select(col("doc_id"), intRoundHalfAway(col("s2"), col("nb")).as("r_q"))
    u.join(r, Seq("doc_id"))
      .select(col("doc_id"), (col("u_q") - col("r_q")).as("red_q"))
  }

  /** X149: reducible-loss data selection (RHO-LOSS — Mindermann et
    * al. 2022, "Prioritized training on points that are learnable,
    * worth learning, and not yet learnt"): prioritize pool documents
    * where the current model's own-batch loss is high but a reference
    * model trained on HELD-OUT data scores them low — high-loss-
    * everywhere points are noise (unlearnable), low-loss-everywhere
    * points are already learnt; the gap is what training can still
    * buy. Pool = x36's val+test hash split (the incoming batch);
    * reference counts come from the train split only (see
    * [[rholossRedQ]] for why held-out matters). Scores stay in
    * integer 1e-4 units so the difference is exact; selection is the
    * global top decile by the x131 histogram nearest-rank cut (never
    * a window over raw docs). Scale shape: one scan per model (both
    * map-side-combinable gram aggregations; the pool-vs-train split
    * is a row-local hash predicate on the same scan), a
    * value-histogram cut, and a per-source rollup — nothing pairwise
    * anywhere. */
  val x149RholossSelect: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val balde = splitBalde(col("doc_id"))
    // checkpointed once: feeds the cut histogram AND the per-source
    // aggregation (the x131 precedent)
    val scored = rholossRedQ(docs.filter(balde >= 90),
        docs.filter(balde < 90))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .localCheckpoint()
    val cut = nearestRankCut(scored, "red_q", "cut90")((cum, n) =>
      cum * 10L >= n * 9L)
    scored.crossJoin(broadcast(cut))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("red_q") > col("cut90"), 1L).otherwise(0L))
          .as("n_sel"),
        sum(col("red_q")).as("sum_red"),
        sum(when(col("red_q") > col("cut90"), col("red_q")).otherwise(0L))
          .as("sum_red_sel"))
      .select(col("source"), col("n_docs"), col("n_sel"),
        (intRoundHalfAway(col("n_sel") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("sel_rate"),
        (intRoundHalfAway(col("sum_red"), col("n_docs"))
          .cast("double") / 1e4).as("mean_red"),
        when(col("n_sel") > 0,
          intRoundHalfAway(col("sum_red_sel"), col("n_sel"))
            .cast("double") / 1e4).as("mean_red_sel"))
      .orderBy(col("source"))
  }

  /** X160: KMV distinct-count sketch (Bar-Yossef et al. 2002's
    * k-minimum-values estimator; Beyer et al. 2007's unbiased form
    * (k−1)·M/h_k) — the DISTINCT-count member of the sketch-twin
    * family (a20b approx-percentile, x76 vocab sketch, x102 CMS):
    * per source, keep only the k = 64 smallest 32-bit token hashes —
    * the bounded state a shard ships for a mergeable union-distinct
    * at 100 TB (union = merge-and-keep-k-smallest; exact distinct
    * would ship the vocabulary) — and estimate the distinct count as
    * the exact integer rational (k−1)·2³²/h_k, with the standard
    * exact fallback when a source holds fewer than k distinct
    * tokens. Reported beside exact truth + relative error, the
    * sketch-vs-truth contract. Hash = the engine-portable md5₃₂ both
    * engines already share; the k-smallest selection is a
    * per-source window over the DISTINCT-token relation (vocabulary-
    * sized, never corpus-sized). */
  val x160KmvDistinct: Q = (s, d) => {
    val hv = Tables.documents(s, d)
      .select(col("source"), explode(wsTokens(col("text"))).as("w"))
      .distinct()
      .select(col("source"), graft.dedup.NearDup.md5Hash32(col("w")).as("h"))
    val exact = hv.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    // ties on h leave WHICH row sits at rank 64 arbitrary, but the h
    // VALUE at multiset rank 64 is deterministic — and h is all we keep
    val kth = hv
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rk") === 64)
      .select(col("source"), col("h").as("h_k"))
    exact.join(kth, Seq("source"), "left")
      .select(col("source"), col("n_exact"),
        when(col("h_k").isNotNull,
          intRoundHalfAway(lit(63L) * 4294967296L,
            greatest(col("h_k"), lit(1L))))
          .otherwise(col("n_exact")).as("est"))
      .select(col("source"), col("n_exact"), col("est"),
        (intRoundHalfAway(abs(col("est") - col("n_exact")) * 10000L,
          col("n_exact")).cast("double") / 1e4).as("rel_error"))
      .orderBy(col("source"))
  }

  /** X161: weighted reservoir sampling (Efraimidis & Spirakis 2006's
    * A-ES: key = u^{1/w}, keep the top-k keys) — the distributed
    * weighted-sampling-WITHOUT-replacement primitive the mixture
    * operators (x16 stratified, x70 hash-Bernoulli) don't cover:
    * Bernoulli thinning can't hit an exact k, and naive
    * weight-proportional draws need sequential state; A-ES is one
    * row-local key per doc + a mergeable top-k — THE shape for "give
    * me exactly 50 docs, probability ∝ length" at 100 TB (TakeOrdered
    * partial heaps, no global sort). Determinism: u = (md5₃₂+1)/2³²
    * (engine-portable, never 0), the log-domain key ln(u)/w (the
    * monotone image of u^{1/w}) is ONE composite double expression
    * quantized at 1e-6 after evaluation (x39 rule), ties by doc_id.
    * Weights = token counts. EngineSpec replays the full top-50
    * driver-side, value-for-value. */
  val x161WeightedReservoir: Q = (s, d) => {
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok"),
        graft.dedup.NearDup.md5Hash32(col("doc_id").cast("string")).as("h"))
      .withColumn("key_q",
        round(log((col("h").cast("double") + 1.0) / 4294967296.0)
          / col("n_tok").cast("double") * 1e6, 0).cast("long"))
    keyed.orderBy(col("key_q").desc, col("doc_id")).limit(50)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("key_q").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_tok"),
        (col("key_q").cast("double") / 1e6).as("aes_key"))
      .orderBy(col("rk"))
  }

  /** X162: Neyman optimal stratified allocation (Neyman 1934;
    * Cochran's standard form n_h ∝ N_h·σ_h) — the sampling DESIGN
    * member of the sampling family (x16 executes a stratified sample,
    * x61/x161 draw; this decides HOW MANY per stratum): given a 1000-
    * doc audit budget, allocate to sources proportional to size ×
    * quality-score spread — high-variance sources need more
    * inspection per the published variance-minimizing rule. Per-
    * source σ is the population std of the 1e-4-integer quality
    * score (exact integer variance, one sqrt seam quantized after
    * evaluation — the x157 recipe); the allocation lands on the
    * budget EXACTLY via largest-remainder rounding on exact integer
    * rationals (floor quotas + top remainders, ties by source — the
    * x141 integer-allocation discipline; Σ alloc = 1000 pinned).
    * Scale shape: one corpus scan onto |sources| rows; everything
    * after is arithmetic on that tiny relation. */
  val x162NeymanAlloc: Q = (s, d) => {
    val st = Tables.documents(s, d)
      .select(col("source"), qualityQ4(col("text"), stopwords).as("q4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("q4")).as("sq"),
        sum(col("q4") * col("q4")).as("sqq"))
      .select(col("source"), col("n"),
        round(sqrt((col("n") * col("sqq") - col("sq") * col("sq"))
          .cast("double")) / col("n").cast("double"), 0).cast("long")
          .as("sd4"))
      .withColumn("a", col("n") * col("sd4"))
      // pinned once: the |sources|-row stat table feeds FOUR consumers
      // (total, quotas, the budget remainder, the output) — without
      // the pin the corpus scan re-runs per consumer (x131 precedent)
      .localCheckpoint()
    val tot = st.agg(sum(col("a")).as("s_tot"))
    val base = st.crossJoin(broadcast(tot))
      .withColumn("base", call_function("div", lit(1000L) * col("a"),
        col("s_tot")))
      .withColumn("rem", pmod(lit(1000L) * col("a"), col("s_tot")))
    val kdf = base.agg((lit(1000L) - sum(col("base"))).as("k"))
    base.crossJoin(broadcast(kdf))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .select(col("source"), col("n").as("n_docs"),
        (col("sd4").cast("double") / 1e4).as("sd_quality"),
        (intRoundHalfAway(col("a") * 10000L, col("s_tot")).cast("double")
          / 1e4).as("weight"),
        (col("base") + when(col("rn") <= col("k"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("source"))
  }

  /** x169's register coordinates — shared verbatim by the streaming
    * half ([[graft.streaming.DocStream.windowedHllRegisters]]), the
    * x102-CMS convention: register j = the md5₃₂ hash's top 6 bits
    * (m = 64 registers); rank ρ = leading zeros of the remaining
    * 26 bits + 1 (an all-zero remainder ranks 27). Pure integer: the
    * leading-zero count rides `length(bin(r))`, identical in both
    * engines (no leading zeros, bin(0) = "0"). */
  private[graft] def hllJ(w: Column): Column =
    call_function("div", graft.dedup.NearDup.md5Hash32(w), lit(67108864L))

  private[graft] def hllRho(w: Column): Column = {
    val r = pmod(graft.dedup.NearDup.md5Hash32(w), lit(67108864L))
    when(r === 0L, lit(27L))
      .otherwise(lit(27L) - length(bin(r)).cast("long"))
  }

  /** X169: HyperLogLog distinct sketch (Flajolet et al. 2007; the
    * m = 64 register-max form) — x160's KMV sibling and the industry
    * standard BECAUSE sketches MERGE: union of slices ≡ register-wise
    * max, the property that lets per-window/per-shard sketches roll
    * up without rescanning (pinned stream≡batch + merge law in
    * StreamingSpec via [[graft.streaming.DocStream
    * .windowedHllRegisters]]). Per source: exact distinct tokens, the
    * HLL estimate, and the relative error. Estimator determinism: the
    * register power sum Σ 2^(27−M_j) is an EXACT integer (a 28-entry
    * literal power table indexed by register value — no float pow,
    * no shift builtin), leaving exactly one double seam — the raw
    * estimate α₆₄·m²·2²⁷/S (and LN(m/V) on the small-range linear-
    * counting branch, Flajolet's published correction for E ≤ 2.5m
    * with empty registers) — quantized 1e-4 after evaluation (x39
    * rule); the branch predicate compares already-quantized integers.
    * Scale shape: one scan onto (source, j ≤ 64) registers — map-side
    * combinable max — plus the exact-distinct baseline for the error
    * column (the sketch's own cost is 64 longs per source,
    * constant-state at any corpus size; the exact count exists only
    * to grade it). */
  val x169HllDistinct: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(wsTokens(col("text"))).as("w"))
      .distinct()
    val regs = tok
      .select(col("source"), hllJ(col("w")).as("j"),
        hllRho(col("w")).as("rho"))
      .groupBy(col("source"), col("j")).agg(max(col("rho")).as("m"))
    val powArr = array((0 to 27).map(m => lit(1L << (27 - m))): _*)
    val full = tok.select(col("source")).distinct()
      .crossJoin(broadcast(s.range(0, 64).select(col("id").as("j"))))
      .join(regs, Seq("source", "j"), "left")
      .withColumn("m0", coalesce(col("m"), lit(0L)))
    val st = full.groupBy(col("source"))
      .agg(sum(element_at(powArr, (col("m0") + 1L).cast("int"))).as("ssum"),
        sum(when(col("m0") === 0L, 1L).otherwise(0L)).as("v"))
    val ex = tok.groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"))
    ex.join(st, Seq("source"))
      .withColumn("raw_q", round(lit(0.709) * lit(4096.0)
        * lit(134217728.0) / col("ssum").cast("double") * 1e4, 0)
        .cast("long"))
      .withColumn("lc_branch",
        col("v") > 0L && col("raw_q") <= 1600000L)
      .withColumn("est_q", when(col("lc_branch"),
          round(lit(64.0) * log(lit(64.0) / col("v").cast("double"))
            * 1e4, 0).cast("long"))
        .otherwise(col("raw_q")))
      .select(col("source"), col("n_exact"), col("v").as("n_zero_regs"),
        col("lc_branch"),
        (col("est_q").cast("double") / 1e4).as("hll_estimate"),
        (intRoundHalfAway(abs(col("est_q") - col("n_exact") * 10000L),
          col("n_exact")).cast("double") / 1e4).as("rel_err"))
      .orderBy(col("source"))
  }

  /** X165: truncation-loss table — the number x38's length histogram
    * motivates but never states: at training sequence length L, how
    * many tokens does each source LOSE to truncation (docs longer
    * than L drop their tail), and what share of its mass is that —
    * the table that prices the L ∈ {128, 512, 2048} choice against
    * x25's packing budget (short L wastes long docs; long L wastes
    * padding — this is the first half of that trade, exactly). ONE
    * corpus scan onto |sources| rows × a broadcast 3-row grid;
    * all-integer (loss = Σ max(n_tok − L, 0)). */
  val x165TruncationLoss: Q = (s, d) => {
    val nt = Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).cast("long").as("n_tok"))
    val grid = s.createDataFrame(Seq(128L, 512L, 2048L).map(Tuple1(_)))
      .toDF("seq_len")
    nt.crossJoin(broadcast(grid))
      .groupBy(col("source"), col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > col("seq_len"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(col("n_tok")).as("n_tok"),
        sum(greatest(col("n_tok") - col("seq_len"), lit(0L)))
          .as("tok_lost"))
      .select(col("source"), col("seq_len"), col("n_docs"),
        col("n_truncated"), col("n_tok"), col("tok_lost"),
        (intRoundHalfAway(col("tok_lost") * 10000L, col("n_tok"))
          .cast("double") / 1e4).as("loss_share"))
      .orderBy(col("source"), col("seq_len"))
  }

  /** x166's per-domain EXCESS LOSS table: for every source, the mean
    * held-out per-token NLL under the weak PROXY model (add-one
    * unigram) minus under the stronger REFERENCE model (add-one
    * bigram, x149's [[TrainingData.AddOneBigram]]), both trained on
    * the md5-balde train split (< 90) and evaluated on the held-out
    * split (≥ 90) —
    * never on their own training text (the [[rholossRedQ]]
    * self-memorization lesson). excess = max(0, ℓ_proxy − ℓ_ref) in
    * integer 1e-4 nats: the headroom training can still buy on that
    * domain, DoReMi's per-domain reward signal. Inner semantics: a
    * domain needs ≥ 1 held-out bigram (every fixture source has
    * thousands). Shape: the x64/x149 gram-table joins — two
    * map-side-combinable gram aggregations on the train slice, two
    * held-out scoring scans, all collapsing onto |sources| rows. */
  private[graft] def doremiExcessQ(docs: DataFrame): DataFrame = {
    val balde = splitBalde(col("doc_id"))
    val ref = new AddOneBigram(docs.filter(balde < 90)
      .select(wsTokens(col("text")).as("toks")))
    val ho = docs.filter(balde >= 90).select(col("source"), col("text"))
    val eu = ho.select(col("source"), explode(wsTokens(col("text"))).as("w1"))
      .join(ref.uni, Seq("w1"), "left").crossJoin(broadcast(ref.scal))
      .withColumn("lp", round(-log(
          (coalesce(col("c1"), lit(0L)).cast("double") + 1.0) /
          (col("nn") + col("v")).cast("double")) * 1e4, 0).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nu"), sum(col("lp")).as("su"))
      .select(col("source"), intRoundHalfAway(col("su"), col("nu"))
        .as("ell_uni_q"))
    val hoBi = ho.select(col("source"), wsTokens(col("text")).as("toks"))
      .select(col("source"),
        explode(allShinglesOfToks(col("toks"), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val eb = ref.score(hoBi)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nb"), sum(col("lp")).as("sb"))
      .select(col("source"), intRoundHalfAway(col("sb"), col("nb"))
        .as("ell_bi_q"))
    eu.join(eb, Seq("source"))
      .select(col("source"), col("ell_uni_q"), col("ell_bi_q"),
        greatest(col("ell_uni_q") - col("ell_bi_q"), lit(0L))
          .as("excess_q"))
  }

  /** Largest-remainder landing of the rationals vals_i/den onto the
    * `grid` simplex (Σ out = grid EXACTLY): floor quotas + one unit to
    * the top-(grid − Σfloor) remainders, ties by source ascending —
    * the x141/x162 integer-allocation discipline, here as a reusable
    * step for [[doremiWeights]]'s per-iteration renormalization. All
    * arithmetic BigInt: the step numerators reach ~10²¹ (99·S·α·w·10⁶)
    * — past Int64, exactly the Opq round-9 hazard — so the oracle twin
    * runs on HUGEINT. */
  private def doremiLand(vals: Seq[(String, BigInt)], den: BigInt,
      grid: Long): Seq[(String, Long)] = {
    val base = vals.map { case (src, v) =>
      (src, (v * grid / den).toLong, v * grid % den) }
    val k = grid - base.map(_._2).sum
    val bump = base.sortBy { case (src, _, r) => (r, src) }(
        Ordering.Tuple2(Ordering[BigInt].reverse, Ordering[String]))
      .take(k.toInt).map(_._1).toSet
    base.map { case (src, b, _) => (src, b + (if (bump(src)) 1L else 0L)) }
  }

  /** x166's multiplicative-weights loop (exposed for the EngineSpec
    * crafted-corpus pin): from the exact uniform landing α⁰, `iters`
    * DoReMi steps α ← normalize(α·exp(η·excess)) smoothed with the
    * published c = 1/100 uniform mixture — the smoothed target weight
    * is the EXACT rational (99·S·α_s·w_s + Σα·w) / (100·S·Σα·w), so
    * normalize-and-smooth is ONE largest-remainder landing per step
    * and every iterate sits on the 10⁶ simplex exactly. The per-domain
    * multiplier w_s = round(exp(η·excess_s)·10⁶) is the loop's single
    * transcendental, quantized AFTER evaluation once per domain (x39
    * rule; [[graft.ml.LogFit.qScaled]] for the engine-shared HALF_UP).
    * Returns every iterate plus DoReMi's published output — the
    * per-step AVERAGE weight vector, landed back on the simplex.
    * Driver-side on the |domains|-row vector by design (the
    * m1-knotScan pattern: per-iteration Spark jobs over ≤ 10 rows are
    * pure scheduling overhead); the corpus-sized work all lives in
    * [[doremiExcessQ]]. */
  private[graft] def doremiWeights(ex: Seq[(String, Long)],
      eta: Double = 0.1, iters: Int = 10)
      : (Seq[Seq[(String, Long)]], Seq[(String, Long)]) = {
    val srcs = ex.map(_._1)
    val sN = BigInt(srcs.size)
    val wq = ex.map { case (src, e) =>
      src -> BigInt(graft.ml.LogFit.qScaled(
        math.exp(eta * e.toDouble / 1e4), 1e6)) }.toMap
    var alpha = doremiLand(srcs.map(s => (s, BigInt(1))), sN, 1000000L)
    val steps = (1 to iters).map { _ =>
      val m = alpha.map { case (src, a) => (src, BigInt(a) * wq(src)) }
      val sm = m.map(_._2).sum
      val n = m.map { case (src, v) => (src, BigInt(99) * sN * v + sm) }
      alpha = doremiLand(n, BigInt(100) * sN * sm, 1000000L)
      alpha
    }
    val acc = srcs.map(src =>
      (src, steps.map(st => BigInt(st.toMap.apply(src))).sum))
    // mean over steps: Σacc = iters·10⁶, so acc/iters already sums to
    // the grid — den = iters·grid makes doremiLand's v·grid/den reduce
    // to exactly acc/iters (the oracle's a // 10)
    (steps, doremiLand(acc, BigInt(iters) * 1000000L, 1000000L))
  }

  /** X166: DoReMi domain reweighting (Xie et al. 2023, "DoReMi:
    * optimizing data mixtures speeds up language model pretraining")
    * — the EXCESS-LOSS member of the mixture family: x27/x50/x141
    * weight domains by counts, x42/x133 by importance ratios; DoReMi
    * weights them by how much a domain's loss under the training
    * proxy still exceeds what a stronger reference model achieves —
    * domains with headroom get data, already-easy and noise domains
    * lose it (the published method behind production mixture tuning).
    * This engine's instantiation: proxy = add-one unigram, reference
    * = add-one bigram, both held-out-evaluated ([[doremiExcessQ]]);
    * 10 multiplicative-weight steps with exp-quantized multipliers
    * and exact largest-remainder renormalize-and-smooth
    * ([[doremiWeights]] — every iterate AND the final per-step
    * average sum to 10⁶ exactly, pinned in EngineSpec along with
    * high-excess-gains-weight on a crafted skewed corpus). Output:
    * per domain, both held-out losses, the excess, and the DoReMi
    * weight. Scale shape: one train-slice gram build + one held-out
    * scoring pass onto |domains| rows; the loop is driver-side
    * arithmetic on that vector (data-volume free). Oracle: the same
    * gram NLLs + all 10 steps unrolled on HUGEINT. */
  val x166DoremiWeights: Q = (s, d) => {
    val ex = doremiExcessQ(Tables.documents(s, d))
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val (_, fin) = doremiWeights(ex.map(t => (t._1, t._4)))
    val fm = fin.toMap
    s.createDataFrame(ex.map { case (src, eu, eb, e) =>
        (src, eu.toDouble / 1e4, eb.toDouble / 1e4, e.toDouble / 1e4,
          fm(src).toDouble / 1e6) })
      .toDF("source", "ell_proxy", "ell_ref", "excess", "weight")
      .orderBy(col("source"))
  }

  val defs: Map[String, Q] = Map(
    "x141_unimax_alloc" -> x141UnimaxAlloc,
    "x143_vendi_diversity" -> x143VendiDiversity,
    "x149_rholoss_select" -> x149RholossSelect,
    "x156_repeat_value" -> x156RepeatValue,
    "x160_kmv_distinct" -> x160KmvDistinct,
    "x161_weighted_reservoir" -> x161WeightedReservoir,
    "x162_neyman_alloc" -> x162NeymanAlloc,
    "x165_truncation_loss" -> x165TruncationLoss,
    "x166_doremi_weights" -> x166DoremiWeights,
    "x169_hll_distinct" -> x169HllDistinct,
    "x170_scaling_fit" -> x170ScalingFit,
    "x172_loo_source_value" -> x172LooSourceValue,
    "x177_packing_policies" -> x177PackingPolicies,
    "x179_coverage_select" -> x179CoverageSelect,
    "x133_dsir_resample" -> x133DsirResample,
    "x70_mixture_sample" -> x70MixtureSample,
    "x86_domain_cap" -> x86DomainCap,
    "x95_temperature_sweep" -> x95TemperatureSweep,
    "x61_quality_sampling" -> x61QualitySampling,
    "x50_mixture_weights" -> x50MixtureWeights,
    "x42_dsir_weights" -> x42DsirWeights,
    "x37_funnel_by_source" -> x37FunnelBySource,
    "x36_train_split" -> x36TrainSplit,
    "x27_domain_mixture" -> x27DomainMixture,
    "x21_curation_funnel" -> x21CurationFunnel,
    "x16_stratified_sample" -> x16StratifiedSample)

  /** DuckDB mirror of [[dsirWq]]'s sums: the CTEs `tok`, `raw`, `tgt`,
    * `tots`, `vocab` (per-token 1e-4 log importance ratio) and
    * `agg(doc_id, n_tok, s_lp)`, no leading WITH or trailing comma. */
  private def dsirAggCtes: String = """tok AS (
        SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      raw AS (SELECT token, COUNT(*) AS c_r FROM tok GROUP BY token),
      tgt AS (SELECT token, COUNT(*) AS c_t FROM tok WHERE lang = 'en' GROUP BY token),
      tots AS (SELECT (SELECT SUM(c_r) FROM raw) AS n_r,
                      (SELECT COUNT(*) FROM raw) AS v,
                      (SELECT SUM(c_t) FROM tgt) AS n_t),
      vocab AS (SELECT token,
          CAST(ROUND(LN(CAST((COALESCE(c_t, 0) + 1) * (n_r + v) AS DOUBLE)
              / ((c_r + 1) * (n_t + v))) * 1e4, 0) AS BIGINT) AS lp_q
        FROM raw LEFT JOIN tgt USING (token) CROSS JOIN tots),
      agg AS (SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_tok,
          CAST(SUM(lp_q) AS BIGINT) AS s_lp
        FROM tok JOIN vocab USING (token)
        GROUP BY doc_id)"""

  val oracles: Map[String, String] = Map(
    "x149_rholoss_select" -> s"""
      WITH dd AS (SELECT doc_id, source, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
            AS b
        FROM documents),
      pool AS (SELECT doc_id, source, text FROM dd WHERE b >= 90),
      tr AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM dd WHERE b < 90),
      ptok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+'))
          AS token
        FROM pool),
      cnt AS (SELECT token, COUNT(*) AS c FROM ptok GROUP BY token),
      tot AS (SELECT COUNT(*) AS n FROM ptok),
      uagg AS (SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_tok,
          CAST(SUM(CAST(ROUND(-LN(CAST(c AS DOUBLE) / n) * 1e4, 0)
            AS BIGINT)) AS BIGINT) AS s1
        FROM ptok JOIN cnt USING (token) CROSS JOIN tot
        GROUP BY doc_id),
      u AS (SELECT doc_id,
          (CASE WHEN s1 < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(s1) + n_tok) // (2 * n_tok)) AS u_q
        FROM uagg),
      $addOneUniCte,
      vv AS (SELECT CAST(COUNT(*) + 1 AS BIGINT) AS v FROM uni),
      $addOneCnt2Cte,
      pbi AS (SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, greatest(len(toks) - 1, 0)
              + 1), i -> toks[i] || ' ' || toks[i+1])) AS g
          FROM (SELECT doc_id,
              regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM pool))),
      ragg AS (SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
          CAST(SUM($addOneLpSql) AS BIGINT) AS s2
        FROM pbi p LEFT JOIN cnt2 USING (g) LEFT JOIN uni USING (w1)
        CROSS JOIN vv GROUP BY p.doc_id),
      r AS (SELECT doc_id,
          (CASE WHEN s2 < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(s2) + nb) // (2 * nb)) AS r_q
        FROM ragg),
      sc AS (
        SELECT d.source, u.doc_id, u.u_q - r.r_q AS red_q
        FROM u JOIN r USING (doc_id) JOIN pool d USING (doc_id)),
      ${cutCtes("red_q", "cut90", "cum * 10 >= n * 9")},
      ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN red_q > cut90 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_sel,
          CAST(SUM(red_q) AS BIGINT) AS sum_red,
          CAST(SUM(CASE WHEN red_q > cut90 THEN red_q ELSE 0 END)
            AS BIGINT) AS sum_red_sel
        FROM sc, cut GROUP BY source)
      SELECT source, n_docs, n_sel,
        CAST(((2 * n_sel * 10000 + n_docs) // (2 * n_docs)) AS DOUBLE)
          / 1e4 AS sel_rate,
        CAST((CASE WHEN sum_red < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(sum_red) + n_docs) // (2 * n_docs)) AS DOUBLE) / 1e4
          AS mean_red,
        CASE WHEN n_sel > 0 THEN
          CAST((CASE WHEN sum_red_sel < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(sum_red_sel) + n_sel) // (2 * n_sel)) AS DOUBLE)
            / 1e4 END AS mean_red_sel
      FROM ag ORDER BY source""",
    "x143_vendi_diversity" ->
      // x65/x99b's power-iteration + deflation chain over the 10×10
      // label-centroid Gram (mat0), so driver and oracle run the same
      // approximation
      s"""WITH RECURSIVE d1 AS (SELECT label,
          unnest(range(0, len(embedding))) AS pos,
          unnest(embedding) AS v
        FROM embeddings),
      cen AS (SELECT label, pos,
          SUM(${enc24Sql("v")}) AS sv, COUNT(*) AS n
        FROM d1 GROUP BY label, pos),
      cmp AS (SELECT label, pos,
          ${dec24Sql("sv", "n")} AS comp
        FROM cen),
      rl AS (SELECT label, list(comp ORDER BY pos) AS r
        FROM cmp GROUP BY label),
      nr AS (SELECT label, list_transform(r, x ->
          x / sqrt(list_sum(list_transform(r, y -> y * y)))) AS u
        FROM rl),
      mc AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM nr),
      kv AS (SELECT a.label AS li, b.label AS lj,
          list_sum(list_transform(list_zip(a.u, b.u), p -> p[1] * p[2]))
            / mc.m AS kvv
        FROM nr a, nr b, mc),
      kr AS (SELECT li, list(kvv ORDER BY lj) AS krow FROM kv GROUP BY li),
      mat0 AS (SELECT list(krow ORDER BY li) AS m FROM kr)
      ${eigenCtes(10)},
      ll AS (SELECT list(GREATEST(lam, CAST(0 AS DOUBLE)) ORDER BY c) AS ls
        FROM lams),
      hs AS (SELECT CAST(list_sum(list_transform(ls, l ->
          CASE WHEN l > 0 THEN CAST(ROUND(-(l / list_sum(ls))
              * ln(l / list_sum(ls)) * 1e6, 0) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h6
        FROM ll)
      SELECT mc.m AS n_labels,
        ROUND(CAST(h6 AS DOUBLE) / 1e6 * 1e4) / 1e4 AS entropy,
        ROUND(exp(CAST(h6 AS DOUBLE) / 1e6) * 1e4) / 1e4 AS vendi,
        ROUND(exp(CAST(h6 AS DOUBLE) / 1e6) / mc.m * 1e4) / 1e4
          AS vendi_ratio
      FROM hs, mc""",
    "x141_unimax_alloc" -> """
      WITH caps AS (SELECT source,
          CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
            AS BIGINT) AS n_tok
        FROM documents GROUP BY source),
      c2 AS (SELECT source, n_tok, n_tok * 2 AS cap FROM caps),
      tot AS (SELECT CAST(SUM(n_tok) // 2 AS BIGINT) AS b,
          CAST(COUNT(*) AS BIGINT) AS m FROM c2),
      rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cap, source) AS rn,
          SUM(cap) OVER (ORDER BY cap, source) AS cum
        FROM c2, tot),
      st AS (SELECT *, (cum + cap * (m - rn) <= b) AS sat FROM rk),
      sg AS (SELECT COALESCE(SUM(CASE WHEN sat THEN 1 ELSE 0 END), 0)
            AS jstar,
          COALESCE(SUM(CASE WHEN sat THEN cap END), 0) AS spent
        FROM st),
      al AS (SELECT st.*, sg.jstar,
          (b - spent) // (m - jstar) AS level,
          (b - spent) - ((b - spent) // (m - jstar)) * (m - jstar) AS rem
        FROM st, sg),
      fin AS (SELECT source, n_tok, cap,
          CASE WHEN sat THEN cap ELSE level
            + (CASE WHEN rn - jstar <= rem THEN 1 ELSE 0 END) END AS alloc,
          sat
        FROM al)
      SELECT source, n_tok, cap, CAST(alloc AS BIGINT) AS alloc,
        CAST(((2 * alloc * 10000 + n_tok) // (2 * n_tok)) AS DOUBLE) / 1e4
          AS epochs,
        sat AS saturated
      FROM fin ORDER BY source""",
    "x165_truncation_loss" -> """
      WITH nt AS (SELECT source,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tok
        FROM documents),
      grid AS (SELECT CAST(unnest([128, 512, 2048]) AS BIGINT)
          AS seq_len)
      SELECT source, seq_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN n_tok > seq_len THEN 1 ELSE 0 END) AS BIGINT)
          AS n_truncated,
        CAST(SUM(n_tok) AS BIGINT) AS n_tok,
        CAST(SUM(GREATEST(n_tok - seq_len, 0)) AS BIGINT) AS tok_lost,
        CAST(((2 * SUM(GREATEST(n_tok - seq_len, 0)) * 10000
            + SUM(n_tok)) // (2 * SUM(n_tok))) AS DOUBLE) / 1e4
          AS loss_share
      FROM nt, grid GROUP BY source, seq_len
      ORDER BY source, seq_len""",
    // x166: the gram NLL CTEs mirror doremiExcessQ; the 10
    // multiplicative-weight steps are unrolled on HUGEINT (the step
    // numerators reach ~10^21).
    "x166_doremi_weights" -> {
      val steps = (1 to 10).map { t =>
        s"""
      m$t AS (SELECT w.source,
          CAST(a.aq AS HUGEINT) * w.wq AS m
        FROM a${t - 1} a JOIN wts w USING (source)),
      sm$t AS (SELECT CAST(SUM(m) AS HUGEINT) AS sm FROM m$t),
      n$t AS (SELECT source, 99 * s * m + sm AS nm,
          100 * s * sm AS den FROM m$t, sm$t, sc),
      b$t AS (SELECT source,
          (nm * 1000000) // den AS base, (nm * 1000000) % den AS rem
        FROM n$t),
      k$t AS (SELECT 1000000 - SUM(base) AS k FROM b$t),
      a$t AS (SELECT source, base + CASE WHEN ROW_NUMBER()
          OVER (ORDER BY rem DESC, source) <= k THEN 1 ELSE 0 END AS aq
        FROM b$t, k$t)"""
      }.mkString(",")
      val unions = (1 to 10).map(t => s"SELECT source, aq FROM a$t")
        .mkString(" UNION ALL ")
      s"""
      WITH dd AS (SELECT source, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            % 100 AS b
        FROM documents),
      tr AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM dd WHERE b < 90),
      ho AS (SELECT source, text FROM dd WHERE b >= 90),
      $addOneUniCte,
      scal AS (SELECT CAST(SUM(c1) AS BIGINT) AS nn,
          CAST(COUNT(*) + 1 AS BIGINT) AS v FROM uni),
      $addOneCnt2Cte,
      htok AS (SELECT source,
          unnest(regexp_split_to_array(trim(text), '\\s+')) AS w1
        FROM ho),
      eu AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nu,
          CAST(SUM(CAST(ROUND(-LN(
            (CAST(COALESCE(c1, 0) AS DOUBLE) + 1.0)
            / CAST(nn + v AS DOUBLE)) * 1e4, 0) AS BIGINT)) AS BIGINT)
            AS su
        FROM htok LEFT JOIN uni USING (w1) CROSS JOIN scal
        GROUP BY source),
      ellu AS (SELECT source, (2 * su + nu) // (2 * nu) AS ell_uni_q
        FROM eu),
      hbi AS (SELECT source, g, split_part(g, ' ', 1) AS w1 FROM (
          SELECT source,
            unnest(list_transform(range(1, greatest(len(toks) - 1, 0)
              + 1), i -> toks[i] || ' ' || toks[i+1])) AS g
          FROM (SELECT source,
              regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM ho))),
      ebb AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nb,
          CAST(SUM($addOneLpSql) AS BIGINT) AS sb
        FROM hbi LEFT JOIN cnt2 USING (g) LEFT JOIN uni USING (w1)
        CROSS JOIN scal GROUP BY source),
      ellb AS (SELECT source, (2 * sb + nb) // (2 * nb) AS ell_bi_q
        FROM ebb),
      exc AS (SELECT source, ell_uni_q, ell_bi_q,
          GREATEST(ell_uni_q - ell_bi_q, 0) AS excess_q
        FROM ellu JOIN ellb USING (source)),
      wts AS (SELECT source,
          CAST(ROUND(EXP(0.1 * CAST(excess_q AS DOUBLE) / 1e4) * 1e6, 0)
            AS HUGEINT) AS wq
        FROM exc),
      sc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS s FROM wts),
      u0 AS (SELECT source, CAST(1000000 AS HUGEINT) // s AS base,
          CAST(1000000 AS HUGEINT) % s AS rem FROM wts, sc),
      k0 AS (SELECT 1000000 - SUM(base) AS k FROM u0),
      a0 AS (SELECT source, base + CASE WHEN ROW_NUMBER()
          OVER (ORDER BY rem DESC, source) <= k THEN 1 ELSE 0 END AS aq
        FROM u0, k0),$steps,
      acc AS (SELECT source, CAST(SUM(aq) AS HUGEINT) AS a
        FROM ($unions) GROUP BY source),
      fb AS (SELECT source, a // 10 AS base, a % 10 AS rem
        FROM acc),
      fk AS (SELECT 1000000 - SUM(base) AS k FROM fb),
      fin AS (SELECT source, base + CASE WHEN ROW_NUMBER()
          OVER (ORDER BY rem DESC, source) <= k THEN 1 ELSE 0 END AS fq
        FROM fb, fk)
      SELECT e.source, CAST(ell_uni_q AS DOUBLE) / 1e4 AS ell_proxy,
        CAST(ell_bi_q AS DOUBLE) / 1e4 AS ell_ref,
        CAST(excess_q AS DOUBLE) / 1e4 AS excess,
        CAST(fq AS DOUBLE) / 1e6 AS weight
      FROM exc e JOIN fin USING (source) ORDER BY e.source"""
    },
    "x162_neyman_alloc" -> s"""
      WITH q AS (SELECT source, $qualityQ4Sql AS q4 FROM documents),
      st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(q4) AS BIGINT) AS sq,
          CAST(SUM(q4 * q4) AS BIGINT) AS sqq
        FROM q GROUP BY source),
      sd AS (SELECT source, n,
          CAST(ROUND(SQRT(CAST(n * sqq - sq * sq AS DOUBLE))
            / CAST(n AS DOUBLE), 0) AS BIGINT) AS sd4
        FROM st),
      aw AS (SELECT source, n, sd4, n * sd4 AS a FROM sd),
      tt AS (SELECT CAST(SUM(a) AS BIGINT) AS s_tot FROM aw),
      bs AS (SELECT source, n, sd4, a,
          (1000 * a) // s_tot AS base, (1000 * a) % s_tot AS rem
        FROM aw, tt),
      kk AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS k FROM bs),
      rn AS (SELECT source, n, sd4, a, base,
          ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn
        FROM bs)
      SELECT r.source, r.n AS n_docs,
        CAST(r.sd4 AS DOUBLE) / 1e4 AS sd_quality,
        CAST(((2 * r.a * 10000 + t.s_tot) // (2 * t.s_tot)) AS DOUBLE)
          / 1e4 AS weight,
        r.base + (CASE WHEN r.rn <= kk.k THEN 1 ELSE 0 END) AS alloc
      FROM rn r, tt t, kk ORDER BY r.source""",
    "x161_weighted_reservoir" -> s"""
      WITH keyed AS (SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS n_tok,
          ${md5Hash32Sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
      kq AS (SELECT doc_id, n_tok,
          CAST(ROUND(LN((CAST(h AS DOUBLE) + 1.0) / 4294967296.0)
            / CAST(n_tok AS DOUBLE) * 1e6, 0) AS BIGINT) AS key_q
        FROM keyed),
      top AS (SELECT doc_id, n_tok, key_q,
          ROW_NUMBER() OVER (ORDER BY key_q DESC, doc_id) AS rk
        FROM kq)
      SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_tok,
        CAST(key_q AS DOUBLE) / 1e6 AS aes_key
      FROM top WHERE rk <= 50 ORDER BY rk""",
    // x179: 5 unrolled greedy max-coverage steps.
    "x179_coverage_select" -> {
      val steps = new StringBuilder
      for (i <- 1 to 5) {
        val notPicked = (1 until i).map(j => s"SELECT source FROM p$j")
          .mkString(" UNION ALL ")
        val srcPred = if (i == 1) "1 = 1"
          else s"source NOT IN ($notPicked)"
        val covPred = if (i == 1) "1 = 1"
          else s"g NOT IN (SELECT g FROM c${i - 1})"
        steps ++= s""",
      p$i AS (SELECT source, CAST(COUNT(*) AS BIGINT)
          AS gain
        FROM inc WHERE $srcPred AND $covPred
        GROUP BY source ORDER BY gain DESC, source LIMIT 1)"""
        // c<i>: the types covered after step i, read by step i + 1
        if (i < 5) steps ++= s""",
      c$i AS (${
          if (i == 1) "SELECT DISTINCT i.g FROM inc i JOIN p1 ON i.source = p1.source"
          else s"SELECT g FROM c${i - 1} UNION SELECT i.g FROM inc i JOIN p$i ON i.source = p$i.source"})"""
      }
      val outUnion = (1 to 5).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rk, source, gain FROM p$i")
        .mkString(" UNION ALL ")
      s"""
      WITH inc AS (SELECT DISTINCT source, g FROM (
          SELECT source,
            unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
          FROM (SELECT source,
              regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents))),
      tt AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS tot FROM inc)
      $steps,
      outp AS ($outUnion)
      SELECT rk, source, gain,
        CAST(SUM(gain) OVER (ORDER BY rk) AS BIGINT) AS cum_types,
        CAST(((2 * SUM(gain) OVER (ORDER BY rk) * 10000 + tot)
          // (2 * tot)) AS DOUBLE) / 1e4 AS coverage
      FROM outp, tt ORDER BY rk"""
    },
    // x177: the NFD fill is a 1-row-per-length-class recursive CTE
    // whose per-step update is closed-form integer arithmetic (the
    // k1/c2/per_bin expressions are inlined — LATERAL inside a
    // recursive member is not portable).
    "x177_packing_policies" -> """
      WITH RECURSIVE tl0 AS (SELECT
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS lt
        FROM documents),
      tl AS (SELECT least(lt, 256) AS l FROM tl0 WHERE lt > 0),
      hist AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS c FROM tl GROUP BY l),
      ord AS (SELECT l, c, ROW_NUMBER() OVER (ORDER BY l DESC) AS rn
        FROM hist),
      mxr AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ord),
      nfd(rn, bins, rem) AS (
        SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT o.rn,
          nfd.bins + CASE WHEN o.c - (CASE WHEN nfd.rem >= o.l
              THEN least(o.c, nfd.rem // o.l) ELSE 0 END) > 0
            THEN ((o.c - (CASE WHEN nfd.rem >= o.l
                THEN least(o.c, nfd.rem // o.l) ELSE 0 END))
              + (256 // o.l) - 1) // (256 // o.l)
            ELSE 0 END,
          CASE WHEN o.c - (CASE WHEN nfd.rem >= o.l
              THEN least(o.c, nfd.rem // o.l) ELSE 0 END) > 0
            THEN 256 - ((o.c - (CASE WHEN nfd.rem >= o.l
                THEN least(o.c, nfd.rem // o.l) ELSE 0 END))
              - ((((o.c - (CASE WHEN nfd.rem >= o.l
                  THEN least(o.c, nfd.rem // o.l) ELSE 0 END))
                + (256 // o.l) - 1) // (256 // o.l)) - 1)
                * (256 // o.l)) * o.l
            ELSE nfd.rem - (CASE WHEN nfd.rem >= o.l
              THEN least(o.c, nfd.rem // o.l) ELSE 0 END) * o.l END
        FROM nfd JOIN ord o ON o.rn = nfd.rn + 1),
      nfin AS (SELECT bins FROM nfd, mxr WHERE rn = m),
      us AS (SELECT CAST(SUM(l * c) AS BIGINT) AS used,
          CAST(SUM(c) AS BIGINT) AS ndocs FROM hist),
      tt AS (SELECT CAST(SUM(lt) AS BIGINT) AS t FROM tl0 WHERE lt > 0),
      outp AS (
        SELECT 'concat_chunk' AS policy, (t + 255) // 256 AS n_seqs,
          ((t + 255) // 256) * 256 - t AS n_pad
        FROM tt
        UNION ALL
        SELECT 'nfd', bins, bins * 256 - used FROM nfin, us
        UNION ALL
        SELECT 'single_doc', ndocs, ndocs * 256 - used FROM us)
      SELECT policy, n_seqs, n_pad,
        CAST(((2 * n_pad * 10000 + n_seqs * 256)
          // (2 * n_seqs * 256)) AS DOUBLE) / 1e4 AS waste
      FROM outp ORDER BY policy""",
    "x172_loo_source_value" -> """
      WITH dd AS (SELECT source, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            % 100 AS b
        FROM documents),
      csw AS (SELECT w, source,
          CAST(COUNT(*) AS BIGINT) AS cs
        FROM (SELECT source,
            unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM dd WHERE b < 90)
        GROUP BY w, source),
      cw AS (SELECT w, CAST(SUM(cs) AS BIGINT) AS c,
          CAST(COUNT(*) AS BIGINT) AS nsrc
        FROM csw GROUP BY w),
      srcs AS (SELECT s.source, s.ns,
          COALESCE(u.us, 0) AS us
        FROM (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM csw
          GROUP BY source) s
        LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS us
          FROM csw JOIN cw USING (w) WHERE nsrc = 1 GROUP BY source) u
        USING (source)),
      gl AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
          CAST(COUNT(*) + 1 AS BIGINT) AS v FROM cw),
      hot AS (SELECT w, cnt_ho, COALESCE(c, 0) AS c
        FROM (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt_ho
          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
              AS w
            FROM dd WHERE b >= 90)
          GROUP BY w)
        LEFT JOIN cw USING (w)),
      hn AS (SELECT CAST(SUM(cnt_ho) AS BIGINT) AS hn FROM hot),
      fl AS (SELECT CAST(SUM(cnt_ho * CAST(ROUND(-LN(
            CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)) * 1e4, 0)
            AS BIGINT)) AS BIGINT) AS sfull
        FROM hot, gl),
      loo AS (SELECT source, CAST(SUM(cnt_ho * CAST(ROUND(-LN(
            CAST(c - COALESCE(cs, 0) + 1 AS DOUBLE)
            / CAST(n - ns + v - us AS DOUBLE)) * 1e4, 0) AS BIGINT))
            AS BIGINT) AS sloo
        FROM (SELECT h.w, h.cnt_ho, h.c, s.source, s.ns, s.us
            FROM hot h CROSS JOIN srcs s) x
        LEFT JOIN csw USING (w, source)
        CROSS JOIN gl
        GROUP BY source)
      SELECT l.source, s.ns AS n_tok_train, s.us AS u_types,
        CAST(((2 * sfull + hn) // (2 * hn)) AS DOUBLE) / 1e4 AS nll_full,
        CAST(((2 * sloo + hn) // (2 * hn)) AS DOUBLE) / 1e4 AS nll_loo,
        CAST(((2 * sloo + hn) // (2 * hn))
          - ((2 * sfull + hn) // (2 * hn)) AS DOUBLE) / 1e4 AS delta
      FROM loo l JOIN srcs s USING (source)
      CROSS JOIN fl CROSS JOIN hn
      ORDER BY l.source""",
    // x170: x154's HUGEINT OLS replayed GROUP BY source over the
    // per-source decile novelty points.
    "x170_scaling_fit" -> """
      WITH mx AS (SELECT MAX(doc_id) // 10 + 1 AS width FROM documents),
      tri AS (SELECT source, doc_id,
          unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        FROM (SELECT source, doc_id,
            regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents)),
      firsts AS (SELECT source, g, MIN(doc_id) AS fd FROM tri
        GROUP BY source, g),
      fresh AS (SELECT source,
          fd // (SELECT width FROM mx) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS m
        FROM firsts GROUP BY 1, 2),
      pts AS (SELECT source,
          CAST(bucket * 1000000 AS BIGINT) AS lx,
          CAST(ROUND(LN(CAST(m AS DOUBLE)) * 1e6, 0) AS BIGINT) AS ly
        FROM fresh),
      sums AS (SELECT source,
          CAST(COUNT(*) AS HUGEINT) AS n,
          CAST(SUM(lx) AS HUGEINT) AS sx, CAST(SUM(ly) AS HUGEINT) AS sy,
          CAST(SUM(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
          CAST(COUNT(DISTINCT lx) AS HUGEINT) AS ndx
        FROM pts GROUP BY source),
      ft AS (SELECT source, n, sx, sy,
          CASE WHEN ndx >= 2 THEN
            (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
              * ((2 * abs(n * sxy - sx * sy) * 1000000
                + (n * sxx - sx * sx)) // (2 * (n * sxx - sx * sx)))
          END AS slope_q
        FROM sums),
      ft2 AS (SELECT source, n, slope_q,
          CASE WHEN slope_q IS NOT NULL THEN
            (CASE WHEN sy * 1000000 - slope_q * sx < 0 THEN -1 ELSE 1 END)
              * ((2 * abs(sy * 1000000 - slope_q * sx) + n * 1000000)
                // (2 * n * 1000000))
          END AS a_q
        FROM ft),
      res AS (SELECT p.source, p.ly,
          f.a_q + (CASE WHEN f.slope_q * p.lx < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(f.slope_q * p.lx) + 1000000) // 2000000) AS pred
        FROM pts p JOIN ft2 f USING (source)
        WHERE f.slope_q IS NOT NULL),
      yb AS (SELECT source, (CASE WHEN sy < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(sy) + n) // (2 * n)) AS ybar FROM sums),
      ss AS (SELECT r.source,
          CAST(SUM((CAST(r.ly AS HUGEINT) - y.ybar)
            * (CAST(r.ly AS HUGEINT) - y.ybar)) AS HUGEINT) AS sstot,
          CAST(SUM((CAST(r.ly AS HUGEINT) - r.pred)
            * (CAST(r.ly AS HUGEINT) - r.pred)) AS HUGEINT) AS ssres
        FROM res r JOIN yb y USING (source) GROUP BY r.source)
      SELECT f.source, CAST(f.n AS BIGINT) AS n_points,
        CAST(f.slope_q AS DOUBLE) / 1e6 AS slope,
        CASE WHEN f.slope_q < 0 THEN
          CAST((2 * 10000000000 + (-f.slope_q)) // (2 * (-f.slope_q))
            AS DOUBLE) / 1e4 END AS r_star,
        CASE WHEN f.slope_q < 0 THEN
          CAST(ROUND(LN(2) * 1e6 / CAST(-f.slope_q AS DOUBLE) * 1e4, 0)
            AS DOUBLE) / 1e4 END AS half_life,
        CASE WHEN ss.sstot > 0 THEN
          CAST((CASE WHEN ss.sstot - ss.ssres < 0 THEN -1 ELSE 1 END)
            * ((2 * abs((ss.sstot - ss.ssres) * 1000000) + ss.sstot)
              // (2 * ss.sstot)) AS DOUBLE) / 1e6 END AS r2
      FROM ft2 f LEFT JOIN ss USING (source) ORDER BY f.source""",
    // x169: the register power table is a literal list (exact
    // integers); the alpha constant is CAST to DOUBLE so both engines
    // scale the same 0.709 double by exact powers of two (a DECIMAL
    // literal would round differently at the division seam).
    "x169_hll_distinct" -> {
      val powList = (0 to 27).map(m => 1L << (27 - m))
        .mkString("[", ", ", "]")
      s"""
      WITH tok AS (SELECT DISTINCT source, w FROM (
          SELECT source,
            unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents)),
      hv AS (SELECT source, ${md5Hash32Sql("w")} AS h FROM tok),
      reg AS (SELECT source, h // 67108864 AS j,
          CASE WHEN h % 67108864 = 0 THEN 27
               ELSE 27 - length(bin(h % 67108864)) END AS rho
        FROM hv),
      mx AS (SELECT source, j, CAST(MAX(rho) AS BIGINT) AS m
        FROM reg GROUP BY source, j),
      fl AS (SELECT s.source, r.j, COALESCE(mx.m, 0) AS m0
        FROM (SELECT DISTINCT source FROM tok) s
        CROSS JOIN range(0, 64) r(j)
        LEFT JOIN mx ON mx.source = s.source AND mx.j = r.j),
      st AS (SELECT source,
          CAST(SUM($powList[CAST(m0 + 1 AS INT)]) AS BIGINT) AS ssum,
          CAST(SUM(CASE WHEN m0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM fl GROUP BY source),
      ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM tok GROUP BY source),
      es AS (SELECT e.source, e.n_exact, st.v,
          CAST(ROUND(CAST(0.709 AS DOUBLE) * 4096 * 134217728
            / CAST(ssum AS DOUBLE) * 1e4, 0) AS BIGINT) AS raw_q
        FROM ex e JOIN st USING (source)),
      fin AS (SELECT source, n_exact, v,
          (v > 0 AND raw_q <= 1600000) AS lc_branch,
          CASE WHEN v > 0 AND raw_q <= 1600000 THEN
            CAST(ROUND(64.0 * LN(64.0 / CAST(v AS DOUBLE)) * 1e4, 0)
              AS BIGINT)
          ELSE raw_q END AS est_q
        FROM es)
      SELECT source, n_exact, v AS n_zero_regs, lc_branch,
        CAST(est_q AS DOUBLE) / 1e4 AS hll_estimate,
        CAST(((2 * abs(est_q - n_exact * 10000) + n_exact)
          // (2 * n_exact)) AS DOUBLE) / 1e4 AS rel_err
      FROM fin ORDER BY source"""
    },
    "x160_kmv_distinct" -> s"""
      WITH hv AS (SELECT source, ${md5Hash32Sql("w")} AS h
        FROM (SELECT DISTINCT source, w
          FROM (SELECT source,
              unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents))),
      exact AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM hv GROUP BY source),
      kth AS (SELECT source, CAST(h AS BIGINT) AS h_k FROM (
          SELECT source, h,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
          FROM hv)
        WHERE rk = 64),
      es AS (SELECT e.source, e.n_exact,
          CASE WHEN k.h_k IS NOT NULL THEN
            (2 * 63 * 4294967296 + GREATEST(k.h_k, 1))
              // (2 * GREATEST(k.h_k, 1))
          ELSE e.n_exact END AS est
        FROM exact e LEFT JOIN kth k USING (source))
      SELECT source, n_exact, est,
        CAST(((2 * abs(est - n_exact) * 10000 + n_exact)
          // (2 * n_exact)) AS DOUBLE) / 1e4 AS rel_error
      FROM es ORDER BY source""",
    "x156_repeat_value" -> """
      WITH u AS (SELECT source,
          CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
            AS BIGINT) AS u_tok
        FROM documents GROUP BY source),
      grid AS (SELECT CAST(unnest([0, 1, 2, 4, 8, 16, 32]) AS BIGINT)
          AS epochs),
      eff AS (SELECT source, epochs, u_tok,
          CAST(ROUND(CAST(u_tok AS DOUBLE)
            * (1.0 + 15.39 * (1.0
              - EXP(-CAST(epochs AS DOUBLE) / 15.39))), 0) AS BIGINT)
            AS d_eff
        FROM u, grid)
      SELECT source, epochs, u_tok, d_eff,
        CAST(((2 * d_eff * 10000 + u_tok * (1 + epochs))
          // (2 * (u_tok * (1 + epochs)))) AS DOUBLE) / 1e4 AS efficiency
      FROM eff ORDER BY source, epochs""",
    "x70_mixture_sample" -> s"""
      WITH stats AS (SELECT source, COUNT(*) AS n_docs,
          SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS tok
        FROM documents GROUP BY source),
      sq AS (SELECT source, n_docs, tok,
          CAST(ROUND(sqrt(CAST(tok AS DOUBLE)) * 1e6, 0) AS BIGINT) AS sqq
        FROM stats),
      tot AS (SELECT SUM(sqq) AS denomq, SUM(tok) AS budget FROM sq),
      rates AS (SELECT source, n_docs, tok,
          LEAST(CAST(budget AS DOUBLE)
            * (CAST(sqq AS DOUBLE) / CAST(denomq AS DOUBLE))
            / CAST(tok AS DOUBLE), 1.0) AS rate
        FROM sq CROSS JOIN tot),
      sel AS (SELECT d.source,
          len(regexp_split_to_array(trim(d.text), '\\s+')) AS n_tok,
          (CAST(${md5Hash32Sql("CAST(d.doc_id AS VARCHAR)")} AS DOUBLE)
            / 4294967296.0) < r.rate AS s
        FROM documents d JOIN rates r ON d.source = r.source)
      SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
        CAST(r.tok AS BIGINT) AS tok, ROUND(r.rate, 6) AS rate,
        CAST(SUM(CASE WHEN s.s THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN s.s THEN s.n_tok ELSE 0 END) AS BIGINT) AS tok_kept
      FROM rates r JOIN sel s ON r.source = s.source
      GROUP BY r.source, r.n_docs, r.tok, r.rate
      ORDER BY r.source""",
    "x133_dsir_resample" -> s"""
      WITH $dsirAggCtes,
      wq AS (SELECT doc_id,
          CAST((CASE WHEN s_lp < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(s_lp) + n_tok) // (2 * n_tok)) AS BIGINT) AS wq
        FROM agg),
      mx AS (SELECT MAX(wq) AS mxw FROM wq),
      p AS (SELECT w.doc_id, d.source, w.wq,
          CAST(ROUND(exp(CAST(w.wq - mxw AS DOUBLE) / 1e4) * 1e6, 0)
            AS BIGINT) AS pq,
          (${md5Hash32Sql("CAST(w.doc_id AS VARCHAR)")}) AS h
        FROM wq w JOIN documents d USING (doc_id), mx)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN h * 1000000 < pq * 4294967296 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        CAST(((2 * SUM(CASE WHEN h * 1000000 < pq * 4294967296
            THEN 1 ELSE 0 END) * 10000 + COUNT(*)) // (2 * COUNT(*)))
          AS DOUBLE) / 1e4 AS keep_rate,
        CASE WHEN SUM(CASE WHEN h * 1000000 < pq * 4294967296
            THEN 1 ELSE 0 END) > 0
          THEN CAST((CASE WHEN SUM(CASE WHEN h * 1000000 < pq * 4294967296
              THEN wq ELSE 0 END) < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(SUM(CASE WHEN h * 1000000 < pq * 4294967296
                THEN wq ELSE 0 END))
              + SUM(CASE WHEN h * 1000000 < pq * 4294967296
                THEN 1 ELSE 0 END))
              // (2 * SUM(CASE WHEN h * 1000000 < pq * 4294967296
                THEN 1 ELSE 0 END))) AS DOUBLE) / 1e4
          END AS mean_w_kept
      FROM p GROUP BY source ORDER BY source""",
    "x61_quality_sampling" -> s"""
      SELECT doc_id, source, quality,
        CAST(h AS DOUBLE) / 4294967296.0 AS u,
        quality * quality AS p_keep,
        (CAST(h AS DOUBLE) / 4294967296.0) < (quality * quality) AS selected
      FROM (
        SELECT doc_id, source,
          $qualitySql AS quality,
          ${md5Hash32Sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents)
      ORDER BY doc_id""",
    "x27_domain_mixture" -> """
      WITH d AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
          md5(CAST(doc_id AS VARCHAR)) AS amostra_chave,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 4
            AS INT) AS sub_shard
        FROM documents),
      q AS (
        SELECT source, sub_shard,
          CAST((500 * SUM(n_tok))
            // (SUM(SUM(n_tok)) OVER (PARTITION BY source)) AS BIGINT) AS cota
        FROM d GROUP BY source, sub_shard),
      o AS (
        SELECT source, sub_shard, doc_id, n_tok,
          CAST(SUM(n_tok) OVER (PARTITION BY source, sub_shard
            ORDER BY amostra_chave) - n_tok AS BIGINT) AS tok_antes
        FROM d)
      SELECT o.source, o.sub_shard, o.doc_id, o.n_tok, o.tok_antes, q.cota
      FROM o JOIN q ON o.source = q.source AND o.sub_shard = q.sub_shard
      WHERE o.tok_antes < q.cota
      ORDER BY o.source, o.doc_id""",
    "x95_temperature_sweep" -> """
      WITH toks AS (SELECT source,
          CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
            AS tok
        FROM documents GROUP BY source),
      den AS (SELECT
          list_sum(list(sqrt(sqrt(CAST(tok AS DOUBLE))) ORDER BY source))
            AS d025,
          list_sum(list(sqrt(CAST(tok AS DOUBLE)) ORDER BY source)) AS d05,
          list_sum(list(sqrt(CAST(tok AS DOUBLE))
            * sqrt(sqrt(CAST(tok AS DOUBLE))) ORDER BY source)) AS d075,
          list_sum(list(CAST(tok AS DOUBLE) ORDER BY source)) AS d1,
          CAST(SUM(tok) AS BIGINT) AS bt
        FROM toks),
      a AS (SELECT unnest([0.25, 0.5, 0.75, 1.0]) AS alpha),
      j AS (SELECT t.source, t.tok, a.alpha,
          CASE a.alpha
            WHEN 0.25 THEN sqrt(sqrt(CAST(t.tok AS DOUBLE)))
            WHEN 0.5 THEN sqrt(CAST(t.tok AS DOUBLE))
            WHEN 0.75 THEN sqrt(CAST(t.tok AS DOUBLE))
              * sqrt(sqrt(CAST(t.tok AS DOUBLE)))
            ELSE CAST(t.tok AS DOUBLE) END AS w,
          CASE a.alpha
            WHEN 0.25 THEN d025 WHEN 0.5 THEN d05 WHEN 0.75 THEN d075
            ELSE d1 END AS dn,
          bt
        FROM toks t, a, den)
      SELECT source, tok, alpha,
        ROUND(w / dn, 6) AS p_sample,
        ROUND(CAST(bt AS DOUBLE) * (w / dn) / CAST(tok AS DOUBLE), 6)
          AS epochs
      FROM j ORDER BY source, alpha""",
    "x86_domain_cap" -> """
      WITH d AS (
        SELECT source, doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        FROM documents),
      r AS (
        SELECT source, doc_id, n_tok,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rk,
          CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_domain
        FROM d)
      SELECT source, doc_id, n_tok, rk, rk <= 15 AS kept, n_domain,
        least(n_domain, 15) AS n_kept
      FROM r ORDER BY source, rk""",
    "x21_curation_funnel" -> s"""
      WITH corpus AS (SELECT doc_id, text FROM $corpusSql),
      wl AS (SELECT c.doc_id, c.text, d.lang
             FROM corpus c JOIN documents d ON c.doc_id % 1000000 = d.doc_id),
      s1 AS (SELECT * FROM wl WHERE lang = 'en'),
      qual AS (SELECT doc_id, text, $qualitySql AS q FROM s1),
      s2 AS (SELECT * FROM qual WHERE q >= 0.5),
      s3 AS (SELECT md5(lower(trim(text))) AS fp, MIN(doc_id) AS doc_id
             FROM s2 GROUP BY 1),
      s4 AS (SELECT doc_id FROM s3
             ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 5)
      SELECT 1 AS ordem, 'bruto' AS etapa,
        CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS linhas
      UNION ALL SELECT 2, 'idioma', (SELECT COUNT(*) FROM s1)
      UNION ALL SELECT 3, 'qualidade', (SELECT COUNT(*) FROM s2)
      UNION ALL SELECT 4, 'dedup_exato', (SELECT COUNT(*) FROM s3)
      UNION ALL SELECT 5, 'amostra', (SELECT COUNT(*) FROM s4)
      ORDER BY ordem""",
    "x50_mixture_weights" -> """
      WITH toks AS (SELECT source,
          CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tok
        FROM documents GROUP BY source),
      den AS (SELECT list_sum(list(sqrt(CAST(tok AS DOUBLE)) ORDER BY source)) AS dn,
          CAST(SUM(tok) AS BIGINT) AS bt FROM toks)
      SELECT source, tok,
        ROUND(sqrt(CAST(tok AS DOUBLE)) / dn, 6) AS p_sample,
        ROUND(CAST(bt AS DOUBLE) * (sqrt(CAST(tok AS DOUBLE)) / dn)
          / CAST(tok AS DOUBLE), 6) AS epochs
      FROM toks CROSS JOIN den ORDER BY source""",
    "x42_dsir_weights" -> s"""
      WITH $dsirAggCtes
      SELECT doc_id, n_tok,
        CAST((CASE WHEN s_lp < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(s_lp) + n_tok) // (2 * n_tok)) AS DOUBLE) / 1e4
          AS dsir_weight
      FROM agg
      ORDER BY doc_id""",
    "x37_funnel_by_source" -> s"""
      WITH corpus AS (SELECT doc_id, text FROM $corpusSql),
      wl AS (SELECT c.doc_id, c.text, d.lang, d.source
             FROM corpus c JOIN documents d ON c.doc_id % 1000000 = d.doc_id),
      qual AS (SELECT doc_id, source, lang, text, $qualitySql AS q
        FROM wl)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS bruto,
        CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS idioma,
        CAST(COUNT(CASE WHEN lang = 'en' AND q >= 0.5 THEN 1 END) AS BIGINT)
          AS qualidade,
        CAST(COUNT(DISTINCT CASE WHEN lang = 'en' AND q >= 0.5
          THEN md5(lower(trim(text))) END) AS BIGINT) AS dedup_exato
      FROM qual GROUP BY source ORDER BY source""",
    "x16_stratified_sample" -> """
      SELECT lang, doc_id, amostra_chave
      FROM (SELECT lang, doc_id,
              md5(CAST(doc_id AS VARCHAR)) AS amostra_chave,
              ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
            FROM documents)
      WHERE rn <= 5
      ORDER BY lang, amostra_chave""",
    "x36_train_split" -> """
      SELECT doc_id, source,
        CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
          ELSE 'test' END AS split,
        CAST(b AS INT) AS balde
      FROM (
        SELECT doc_id, source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS b
        FROM documents)
      ORDER BY doc_id""")
}
