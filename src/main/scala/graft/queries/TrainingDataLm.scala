package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.text.TextFunctions._
import graft.queries.TrainingData._

/** Tokenizers and language models: token counts, BPE / WordPiece /
  * unigram tokenizer training and segmentation, n-gram perplexity
  * (unigram, bigram, backoff, Kneser-Ney, EM interpolation) and
  * vocabulary statistics (Heaps, Zipf, Good-Turing). */
object TrainingDataLm {

  /** X9: token counting — whitespace + BPE-ish regex. */
  val x9TokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tok"),
        bpeishCount(col("text")).as("n_bpeish"))
      .orderBy(col("doc_id"))

  /** X39: unigram log-perplexity proxy — the CCNet-style perplexity
    * filter with a unigram LM standing in for KenLM (the container
    * has no LM; the SHAPE is the real one): per-doc mean negative
    * log-probability of its tokens under corpus unigram frequencies.
    * High score = rare/garbled tokens (boilerplate and gibberish
    * separate cleanly); the filter step is a threshold on `ppl_proxy`.
    * Scale shape: ONE vocabulary-sized (token → count) aggregate
    * joins back to the exploded corpus (AQE broadcasts it at fixture
    * scale), the corpus total rides a 1-row broadcast, and the
    * per-doc mean is an ORDER-FREE integer sum (per-token logp
    * quantized to 1e-4 units — a raw double sum would differ between
    * engines in the last ulp under different partitionings; ROUND at
    * 1e-4 rather than FLOOR at 1e-6 because JVM Math.log and DuckDB
    * LN agree only to ~1 ulp, and a probability landing on a
    * quantization boundary would flip a fine-grained floor — 100×
    * fewer boundary events at this granularity, same 4dp contract as
    * x30). The FINAL per-doc mean is [[intRoundHalfAway]] — pure
    * BIGINT half-away rounding of sum/n computed identically in both
    * engines. (History: round 5 rounded the mean at integer scale on
    * a DOUBLE, reasoning that a .5 at integer scale is exactly
    * representable so both engines see the same value — true, but
    * WHICH WAY an engine rounds an exact-.5 double is version-
    * dependent: 7 parity-divergent docs were measured in
    * x42 and 5 here at sf0.01. Integer arithmetic closes the hole.) */
  val x39UnigramLogppl: Q = (s, d) =>
    uniDocNllQ(Tables.documents(s, d))
      .select(col("doc_id"), col("n_tok"),
        (col("u_q").cast("double") / 1e4).as("ppl_proxy"))
      .orderBy(col("doc_id"))

  /** x40's per-doc mean bigram NLL in INTEGER 1e-4 units (shared
    * with x149 — see [[uniDocNllQ]]). */
  private[graft] def biDocNllQ(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), wsTokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val bi = toks
      .select(col("doc_id"), explode(allShinglesOfToks(col("toks"), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val cnt2 = bi.groupBy(col("g")).agg(count(lit(1)).as("c2"))
    bi.join(cnt2, Seq("g")).join(uni, Seq("w1"))
      .withColumn("lp_q",
        round(-log(col("c2").cast("double") / col("c1")) * 1e4, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_q")).as("s_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        intRoundHalfAway(col("s_lp"), col("n_bigrams")).as("b_q"))
  }

  /** X40: BIGRAM log-perplexity proxy — one LM order closer to CCNet's
    * KenLM than x39's unigram: per-doc mean of −ln P(wᵢ | wᵢ₋₁) under
    * corpus bigram MLE (c(wᵢ₋₁wᵢ)/c(wᵢ₋₁)); repeated phrasing scores
    * LOW (predictable continuations), unseen-combination gibberish
    * scores high — the separation the unigram model can't express
    * (it only sees token rarity). Docs with <2 tokens have no bigram
    * and drop out (inner semantics, documented). Scale shape — and
    * the reason this is a distinct operator, not an x39 parameter: a
    * 100 TB corpus's BIGRAM vocabulary is itself huge (≈ unique-pair
    * count), far past broadcast, so the count join is a SHUFFLE hash
    * join on the gram (both sides partial-aggregated) where x39's
    * unigram table AQE-broadcasts. Same determinism contract as x39:
    * per-step logp quantized to 1e-4 units via ROUND (order-free
    * integer sum; c2 ≤ c1 by construction so every step ≥ 0). */
  val x40BigramLogppl: Q = (s, d) => {
    biDocNllQ(Tables.documents(s, d))
      .select(col("doc_id"), col("n_bigrams"),
        (col("b_q").cast("double") / 1e4).as("ppl2_proxy"))
      .orderBy(col("doc_id"))
  }

  /** X44: vocabulary coverage curve — for tokenizer-budget cutoffs
    * k ∈ {100, 1000, 10000}, the fraction of all corpus token
    * OCCURRENCES covered by the k most frequent token TYPES (the
    * Zipf curve a BPE vocab size is priced against). Scale shape:
    * the token counts are one map-side-combinable pass (x9's
    * shuffle); the curve is then computed on the COUNT HISTOGRAM
    * (distinct count values — thousands of rows even at 100 TB, by
    * Zipf), NOT by a global row_number over the vocabulary, which
    * would be a single-partition window over maybe 10⁸ rows. All
    * tokens sharing a count are interchangeable, so a rank cutoff
    * that lands inside a count-group contributes (k − tokens_before)
    * × count regardless of tie order — the curve is well-defined and
    * deterministic with no token-level ordering at all. The window
    * runs on the histogram (months-sized frame rule,
    * Windows.scala:9). Determinism: integer masses, one double
    * quotient, integer-scale round ([[x39UnigramLogppl]] rule). */
  val x44VocabCoverage: Q = (s, d) => {
    val cnt = Tables.documents(s, d)
      .select(explode(wsTokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val hist = cnt.groupBy(col("c"))
      .agg(count(lit(1)).as("n"), (col("c") * count(lit(1))).as("tok_mass"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc)
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum_after", sum(col("n")).over(w))
      .withColumn("cum_prev", col("cum_after") - col("n"))
    val tot = hist.agg(sum(col("tok_mass")).as("total_tok"),
      sum(col("n")).as("total_vocab"))
    val ks = s.range(1, 2).select(explode(array(lit(100), lit(1000), lit(10000))).as("k"))
    ks.join(cum, col("cum_prev") < col("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("cum_after") <= col("k"), col("tok_mass"))
        .otherwise((col("k") - col("cum_prev")) * col("c"))).as("covered_tok"))
      .crossJoin(broadcast(tot))
      .select(col("k"),
        least(col("k").cast("long"), col("total_vocab")).as("vocab_k"),
        col("covered_tok").cast("long").as("covered_tok"),
        (intRoundHalfAway(col("covered_tok").cast("long") * 10000L,
          col("total_tok")).cast("double") / 1e4).as("coverage"))
      .orderBy(col("k"))
  }

  /** X54: tokenizer-fertility audit per source — subword-ish tokens
    * per word and bytes per token, the two numbers a tokenizer choice
    * and a token-budget plan are built on (a source whose fertility
    * runs hot eats budget without adding text). Single corpus scan,
    * all-integer map-side-combinable sums onto |sources| rows; the
    * two ratios round at integer scale. At 100 TB this is the same
    * one-pass shape: the shuffle moves |sources| rows, never text. */
  val x54TokenFertility: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("n_words"),
        sum(bpeishCount(col("text")).cast("long")).as("n_bpeish"),
        sum(octet_length(col("text")).cast("long")).as("n_bytes"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_bpeish"), col("n_bytes"),
        (intRoundHalfAway(col("n_bpeish") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("fertility"),
        (intRoundHalfAway(col("n_bytes") * 10000L, col("n_bpeish"))
          .cast("double") / 1e4).as("bytes_per_tok"))
      .orderBy(col("source"))

  /** X63: windowed PMI co-occurrence — top word pairs by pointwise
    * mutual information within a 5-token window (offsets 1..4), the
    * corpus statistic behind phrase detection, tokenizer merge rules,
    * and collocation-aware augmentation. Shape: the pair space is
    * generated ROW-LOCALLY by chained generators (position × offset —
    * the x46 pattern, never a self-join of the exploded corpus), the
    * (w1,w2) and unigram counts are map-side-combinable vocabulary-
    * sized aggregates, the two unigram attachments AQE-broadcast
    * (x30/x39 precedent), and the top-k is TakeOrdered over the
    * bounded pair table — no full-sort shuffle. Determinism: counts
    * are exact integers, PMI = round(ln(c·N·M²-ratio)·1e4) on the
    * quantized-log recipe, and the (pmi_q desc, w1, w2) total order
    * makes the limit-100 cut exact in both engines. Pairs are
    * unordered (least/greatest normalization) and self-pairs
    * (repeated word in window) are kept — they signal repetition. */
  val x63PmiCooccurrence: Q = (s, d) => {
    val toks = spread(s, Tables.documents(s, d))
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    // pair generation is ONE row-local projection (4 zip_with'd shifted
    // slices concatenated) + a single explode of the finished (w1, w2)
    // structs: the earlier two-stage explode chain carried the whole
    // token array through 4·n generated rows per doc, and copying that
    // array dominated the query
    val pairCols = (1 to 4).map { k =>
      zip_with(
        slice(col("toks"), lit(1), greatest(col("n") - k, lit(0))),
        slice(col("toks"), lit(k + 1), greatest(col("n") - k, lit(0))),
        (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2")))
    }
    val pairs = toks
      .select(explode(concat(pairCols: _*)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_pair"))
    val uni = toks
      .select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val nPairs = pairs.agg(sum(col("c_pair")).as("n_pairs"))
    val mToks = uni.agg(sum(col("c_w")).as("m_toks"))
    // df-threshold applied BEFORE the unigram joins: the
    // REPORTED c_pair ≥ 5 cut already defines the output,
    // so filtering the pair table first shrinks both join probes for
    // free; n_pairs (the PMI denominator) still counts the full mass
    pairs.filter(col("c_pair") >= 5)
      .join(uni.select(col("w").as("w1"), col("c_w").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nPairs)).crossJoin(broadcast(mToks))
      .withColumn("pmi_q",
        round(log((col("c_pair").cast("double") / col("n_pairs").cast("double"))
          / ((col("c1").cast("double") / col("m_toks").cast("double"))
            * (col("c2").cast("double") / col("m_toks").cast("double"))))
          * 1e4, 0).cast("long"))
      .select(col("w1"), col("w2"), col("c_pair"),
        (col("pmi_q").cast("double") / 1e4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** Core of [[x64BackoffLogppl]], factored over explicit (docs,
    * train) relations so EngineSpec can pin branch semantics on a
    * crafted micro-corpus: stupid-backoff trigram scoring (Brants et
    * al. 2007, "Large Language Models in Machine Translation") —
    * S(wᵢ|wᵢ₋₂wᵢ₋₁) = c₃/c₂ if the trigram was seen in `train`, else
    * 0.4·c₂'/c₁ if the (wᵢ₋₁,wᵢ) bigram was, else 0.4²·add-1 unigram.
    * Every branch CONDITION is an integer null-check and every branch
    * VALUE an exact-integer ratio (0.4 = 2/5, 0.16 = 4/25 — rational,
    * so no double constant enters the quotient), which is what makes
    * a cross-engine oracle possible for a backoff LM: one ln per
    * step, quantized at 1e-4 (x39 recipe), order-free integer sum,
    * pure-BIGINT mean rounding. */
  private[graft] def backoffTrigramScores(
      docs: DataFrame, train: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    val ttk = train.select(wsTokens(col("text")).as("toks"))
    val uni = ttk.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum(col("c1")).as("nt"), count(lit(1)).as("v"))
    val big = ttk.select(explode(allShinglesOfToks(col("toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val tri = ttk.select(explode(allShinglesOfToks(col("toks"), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c3"))
    val steps = tk.filter(col("n") >= 3)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(3), col("n"))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("toks"), col("i") - 2),
          element_at(col("toks"), col("i") - 1),
          element_at(col("toks"), col("i"))).as("g3"),
        concat_ws(" ", element_at(col("toks"), col("i") - 2),
          element_at(col("toks"), col("i") - 1)).as("g2ctx"),
        concat_ws(" ", element_at(col("toks"), col("i") - 1),
          element_at(col("toks"), col("i"))).as("g2"),
        element_at(col("toks"), col("i") - 1).as("wctx"),
        element_at(col("toks"), col("i")).as("w"))
    steps
      .join(tri.select(col("g").as("g3"), col("c3")), Seq("g3"), "left")
      .join(big.select(col("g").as("g2ctx"), col("c2").as("c2ctx")),
        Seq("g2ctx"), "left")
      .join(big.select(col("g").as("g2"), col("c2").as("c2b")),
        Seq("g2"), "left")
      .join(uni.select(col("w").as("wctx"), col("c1").as("c1ctx")),
        Seq("wctx"), "left")
      .join(uni.select(col("w"), col("c1").as("c1w")), Seq("w"), "left")
      .crossJoin(broadcast(tot))
      // a seen trigram implies its context bigram was seen (c2ctx ≥
      // c3 ≥ 1), a seen backoff bigram implies its context unigram
      // was (c1ctx ≥ c2b ≥ 1) — so no branch ever divides by null/0;
      // fully-unknown words take the add-1 smoothed unigram floor
      .withColumn("lp_q", round(-log(
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2ctx"))
          .when(col("c2b").isNotNull,
            (col("c2b") * 2).cast("double") / (col("c1ctx") * 5))
          .otherwise(((coalesce(col("c1w"), lit(0L)) + 1) * 4).cast("double")
            / ((col("nt") + col("v")) * 25))) * 1e4, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_steps"), sum(col("lp_q")).as("s_lp"))
      .select(col("doc_id"), col("n_steps"),
        (intRoundHalfAway(col("s_lp"), col("n_steps")).cast("double") / 1e4)
          .as("ppl3_proxy"))
  }

  /** X64: stupid-backoff TRIGRAM log-perplexity — closes the r6
    * "proxy LM" gap one more order toward CCNet's KenLM: unlike
    * x39/x40 (whose same-corpus MLE counts make every step a SEEN
    * event), the LM here trains on the `lang = 'en'` slice (the
    * curation target, the x42 convention) and scores EVERY doc, so
    * the backoff branches fire for real on out-of-domain text and
    * the score separates en from non-en — the actual CCNet filter
    * shape (train on target domain, threshold the scored corpus).
    * Scale shape: the trigram table is the largest relation after the
    * corpus itself (≈ unique-trigram count) — its join, like the two
    * bigram attachments, is a shuffle hash join on the gram with both
    * sides partial-aggregated; the unigram table AQE-broadcasts
    * (x39/x40 precedent); step generation is row-local chained
    * generators (x63 pattern). Docs with <3 tokens have no trigram
    * step and drop out (inner semantics, as x40). */
  val x64BackoffLogppl: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    backoffTrigramScores(docs, docs.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser-Ney trigram scores (Kneser & Ney 1995; Chen
    * & Goodman 1998's Interpolated KN) — the model class CCNet's
    * KenLM filter actually uses, one order up from x64's stupid
    * backoff. Absolute discount D = 3/4 at every level; the backoff
    * distributions are CONTINUATION counts (type counts N1+(..), not
    * token counts) — the property that distinguishes KN from plain
    * absolute discounting:
    *
    *   P₃(w|uv) = max(c(uvw)−D,0)/Σc(uv·) + D·N1+(uv·)/Σc(uv·)·P₂(w|v)
    *   P₂(w|v)  = max(N1+(·vw)−D,0)/N1+(·v·) + D·N1+(v·)/N1+(·v·)·P₁(w)
    *   P₁(w)    = max(N1+(·w)−D,0)/N1+(··) + D·V₁/N1+(··) · 1/(V+1)
    *
    * (the base case interpolates toward a uniform 1/(V+1) so unknown
    * words keep nonzero mass; each level's discount mass exactly
    * funds its interpolation weight, so every level sums to 1 over
    * the open vocabulary). Unseen contexts back off whole levels:
    * Σc(uv·)=0 → P₂; N1+(·v·)=0 → P₁.
    *
    * Determinism (the x64 recipe, one step further): D = 3/4 is
    * RATIONAL, so multiplying each level through by 4 turns every
    * max() and every count product into exact BIGINT arithmetic —
    * max(4c−3,0) — and each level is ONE double division plus one
    * fused a + b·p shape, written in the identical order in the
    * DuckDB oracle; ln quantized at 1e-4, order-free integer sum,
    * pure-BIGINT mean rounding.
    *
    * Scale shape: identical join graph to x64 — the trigram-derived
    * count tables (types by (u,v,w) → (u,v) / (v,w) → (v)) are
    * partial-aggregated shuffles no larger than the trigram table
    * itself; scoring is five shuffle hash joins on gram keys plus one
    * broadcast of the 1-row scalar totals; step generation is
    * row-local chained generators. */
  private[graft] def knTrigramScores(
      docs: DataFrame, train: DataFrame): DataFrame = {
    val ttk = train.select(wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    // train trigram tokens, kept as COLUMNS (u,v,w) — the derived
    // continuation tables need the (u,v)/(v,w)/(v) projections
    val tri3 = ttk.filter(col("n") >= 3)
      .select(col("toks"), explode(sequence(lit(3), col("n"))).as("i"))
      .select(element_at(col("toks"), col("i") - 2).as("u"),
        element_at(col("toks"), col("i") - 1).as("v"),
        element_at(col("toks"), col("i")).as("w"))
    val t3 = tri3.groupBy(col("u"), col("v"), col("w"))
      .agg(count(lit(1)).as("c3"))
    // Σc(uv·) + N1+(uv·): the top-level denominator and discount mass.
    // Using the trigram-context SUM (not the raw bigram count) keeps
    // the level self-normalizing at document boundaries, where a
    // bigram can occur without ever starting a trigram.
    val ctx3 = t3.groupBy(col("u"), col("v"))
      .agg(sum(col("c3")).as("ctx3"), count(lit(1)).as("n1p_uv"))
    // N1+(·vw): distinct LEFT contexts of (v,w) — the KN continuation
    // count ("how many different ways does vw continue a history")
    val cc2 = t3.groupBy(col("v"), col("w")).agg(count(lit(1)).as("cc2"))
    val mid = cc2.groupBy(col("v"))
      .agg(sum(col("cc2")).as("ccm"), count(lit(1)).as("n1p_v"))
    // N1+(·w) from BIGRAM types (the bottom continuation distribution
    // covers words that appear in bigrams but never inside a trigram)
    val big2 = ttk.filter(col("n") >= 2)
      .select(col("toks"), explode(sequence(lit(2), col("n"))).as("i"))
      .select(element_at(col("toks"), col("i") - 1).as("a"),
        element_at(col("toks"), col("i")).as("w"))
      .groupBy(col("a"), col("w")).agg(count(lit(1)).as("cb"))
    val cc1 = big2.groupBy(col("w")).agg(count(lit(1)).as("cc1"))
    val scal = cc1.agg(sum(col("cc1")).as("tt"), count(lit(1)).as("v1"))
      .crossJoin(ttk.select(explode(col("toks")).as("tok")).distinct()
        .agg(count(lit(1)).as("vocab")))
    val steps = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 3)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(3), col("n"))).as("i"))
      .select(col("doc_id"),
        element_at(col("toks"), col("i") - 2).as("u"),
        element_at(col("toks"), col("i") - 1).as("v"),
        element_at(col("toks"), col("i")).as("w"))
    // every max(4c−3,0) is exact BIGINT; each level is one double
    // division of a fused (a + b·p) numerator — mirrored shape in SQL
    def m4(c: Column) = greatest(c * 4 - 3, lit(0L))
    steps
      .join(t3, Seq("u", "v", "w"), "left")
      .join(ctx3, Seq("u", "v"), "left")
      .join(cc2, Seq("v", "w"), "left")
      .join(mid, Seq("v"), "left")
      .join(cc1, Seq("w"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("p1",
        (m4(coalesce(col("cc1"), lit(0L))) * (col("vocab") + 1)
          + col("v1") * 3).cast("double")
          / (col("tt") * (col("vocab") + 1) * 4).cast("double"))
      .withColumn("p2",
        when(col("ccm").isNotNull,
          (m4(coalesce(col("cc2"), lit(0L))).cast("double")
            + (col("n1p_v") * 3).cast("double") * col("p1"))
            / (col("ccm") * 4).cast("double"))
          .otherwise(col("p1")))
      .withColumn("p3",
        when(col("ctx3").isNotNull,
          (m4(coalesce(col("c3"), lit(0L))).cast("double")
            + (col("n1p_uv") * 3).cast("double") * col("p2"))
            / (col("ctx3") * 4).cast("double"))
          .otherwise(col("p2")))
      .withColumn("lp_q", round(-log(col("p3")) * 1e4, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_steps"), sum(col("lp_q")).as("s_lp"))
      .select(col("doc_id"), col("n_steps"),
        (intRoundHalfAway(col("s_lp"), col("n_steps")).cast("double") / 1e4)
          .as("ppl3_kn"))
  }

  /** X83: interpolated Kneser-Ney trigram log-perplexity — closes the
    * "smoothed LM" gap (r7 item 2): trains on the en slice
    * (the x42/x64 convention) and scores every doc, so the CCNet
    * shape (train on target domain, threshold the scored corpus) now
    * runs with the filter's actual model class instead of stupid
    * backoff. Same CCNet provenance note as x64; the reference has no
    * LM (`Modelo de Previsão de Vendas.py` is sales forecasting) —
    * this is the beyond-reference training-data surface. */
  val x83KnLogppl: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    knTrigramScores(docs, docs.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** X67: vocabulary-growth (Heaps-law) curve — new distinct token
    * types per decile of the ingestion order vs token mass processed,
    * the curve a data lead reads to decide whether more of the same
    * source still buys vocabulary (steep tail) or only repeats it
    * (flat tail). Attribution is classic first-occurrence: a type
    * belongs to the decile of its min(doc_id). Shape: one corpus
    * scan → token explode → token-keyed min/count aggregation
    * (partial-aggregated, the x39 vocabulary shuffle) collapsing onto
    * a 10-row bucket grid; the cumulative window runs on those 10
    * rows with no partition — safe because the frame is
    * decile-sized, never corpus-sized. All-integer throughout: no
    * rounding hazard exists anywhere in the query. */
  val x67VocabGrowth: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val width = maxId / 10 + 1
    val tok = spread(s, docs)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
    val arrivals = tok
      .groupBy(call_function("div", col("doc_id"), lit(width)).as("bucket"))
      .agg(count(lit(1)).as("n_tok"))
    val fresh = tok.groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(call_function("div", col("first_doc"), lit(width)).as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    arrivals.join(fresh, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_types"))
      .select(col("bucket"), col("n_tok"), col("n_new_types"),
        sum(col("n_tok")).over(w).as("cum_tok"),
        sum(col("n_new_types")).over(w).as("cum_types"))
      .orderBy(col("bucket"))
  }

  /** X153: Heaps'-law fit (Heaps 1978; Herdan) — the SCALING SUMMARY
    * of x67's vocabulary-growth curve: fit V = K·Nᵝ by exact-integer
    * OLS over the quantized log-log curve points
    * ([[graft.ml.LogFit]]), and extrapolate the vocabulary a 10×
    * corpus would carry — the number a data lead actually asks the
    * growth curve for ("do we keep finding new types at the next
    * order of magnitude?"). β ≈ 0.4–0.6 for natural text; β → 0
    * flags a corpus that only repeats itself. Everything after x67's
    * one corpus scan is a 10-row driver-side regression; the single
    * transcendental seam (ln, exp) follows the x39
    * quantize-after-evaluation recipe. */
  val x153HeapsFit: Q = (s, d) => {
    import graft.ml.LogFit
    val curve = x67VocabGrowth(s, d)
      .select(col("cum_tok"), col("cum_types")).collect()
    val pts = curve.map(r => (LogFit.lq(r.getLong(0).toDouble),
      LogFit.lq(r.getLong(1).toDouble))).toSeq
    val f = LogFit.fit(pts)
    val nTot = curve.map(_.getLong(0)).max
    val tq = LogFit.predictQ(f, LogFit.lq(10.0 * nTot))
    val pred = BigDecimal(math.exp(tq.toDouble / 1e6))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    s.createDataFrame(Seq((f.n, f.slopeQ.toDouble / 1e6,
        f.interceptQ.toDouble / 1e6, pred)))
      .toDF("n_points", "beta", "ln_k", "v_pred_10x")
  }

  /** X154: Zipf rank-frequency fit (Zipf 1949) — the corpus-health
    * twin of x153 on the OTHER power law: over the top-30 token
    * ranks, fit ln f = a + s·ln r with the same exact-integer OLS
    * ([[graft.ml.LogFit]]) plus R² on the shared quantized
    * predictions. Natural text sits near s ≈ −1 with high R²;
    * template/boilerplate-dominated corpora flatten the head (s → 0)
    * and synthetic repetition breaks the linearity (low R²) — the
    * one-row signal a feed monitor thresholds. Top-30 via
    * TakeOrdered (never a vocabulary-wide window); the regression is
    * 30 driver-side rows. */
  val x154ZipfFit: Q = (s, d) => {
    import graft.ml.LogFit
    val top = Tables.documents(s, d)
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(30)
      .collect()
    val pts = top.zipWithIndex.map { case (r, i) =>
      (LogFit.lq((i + 1).toDouble), LogFit.lq(r.getLong(1).toDouble))
    }.toSeq
    val f = LogFit.fit(pts)
    val r2 = LogFit.r2Q(pts, f)
    s.createDataFrame(Seq((f.n, f.slopeQ.toDouble / 1e6,
        f.interceptQ.toDouble / 1e6,
        r2.map(_.toDouble / 1e6).getOrElse(Double.NaN))))
      .toDF("n_points", "slope", "intercept", "r2")
      .select(col("n_points"), col("slope"), col("intercept"),
        when(!isnan(col("r2")), col("r2")).as("r2"))
  }

  /** X155: Simple Good-Turing smoothing (Gale & Sampson 1995, "Good-
    * Turing frequency estimation without tears") — the SMOOTHER x151
    * documents the need for: raw Turing r* degenerates on gappy FoF
    * tails, so SGT (a) spreads each N_r over its empty neighborhood
    * (Z_r = 2·N_r/(t−q) with q/t the adjacent nonzero ranks), (b)
    * fits ln Z = a + b·ln r with [[graft.ml.LogFit]]'s exact-integer
    * OLS, giving the log-linear estimate r_LGT = r·(1+1/r)^(b+1), and
    * (c) switches from Turing to LGT at the FIRST rank where Turing
    * is undefined or the two agree within 1.65·σ(r_T) (the published
    * rule, "once switched, stay switched"). Probabilities renormalize
    * the seen mass to 1−P₀ as ONE exact integer rational per class:
    * p(r) = (N−N₁)·e₄(r) / (N·Σ N_r·e₄(r)) — pinned to telescope in
    * EngineSpec (the identity x151's raw estimator provably fails).
    * Determinism: the only double seams are ln/exp/sqrt, each
    * quantized immediately after evaluation with both engines sharing
    * the op order (x39 rule); the fit, switch scan, and
    * renormalization are pure integer arithmetic on the
    * dimension-bounded FoF relation (≲2√N rows), driver-side — the
    * corpus is touched exactly once. */
  val x155SgtSmoothing: Q = (s, d) => {
    import graft.ml.LogFit
    val fof = Tables.documents(s, d)
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val byR = fof.toMap
    val n = fof.map { case (r, nr) => r * nr }.sum
    val n1 = byR.getOrElse(1L, 0L)
    val rs = fof.map(_._1)
    val zPts = fof.zipWithIndex.map { case ((r, nr), i) =>
      val q = if (i == 0) 0L else rs(i - 1)
      val t = if (i == rs.length - 1) 2 * r - q else rs(i + 1)
      (LogFit.lq(r.toDouble),
        LogFit.lqSigned(2.0 * nr.toDouble / (t - q).toDouble))
    }
    val f = LogFit.fit(zPts.toSeq)
    val b = f.slopeQ.toDouble / 1e6
    def lgt4(r: Long): Long = LogFit.qScaled(
      r.toDouble * math.exp((b + 1.0) * math.log(1.0 + 1.0 / r.toDouble)),
      1e4)
    def turing4(r: Long): Option[Long] = byR.get(r + 1).map { nn =>
      ((BigInt(2) * (r + 1) * nn * 10000 + byR(r)) /
        (BigInt(2) * byR(r))).toLong
    }
    def thr4(r: Long): Long = byR.get(r + 1).map { nn =>
      val nr = byR(r).toDouble
      LogFit.qScaled(1.65 * math.sqrt(
        ((r + 1) * (r + 1)).toDouble * (nn.toDouble / (nr * nr))
          * (1.0 + nn.toDouble / nr)), 1e4)
    }.getOrElse(0L)
    val switchR = rs.find { r =>
      turing4(r) match {
        case None => true
        case Some(t4) => (t4 - lgt4(r)).abs <= thr4(r)
      }
    }.getOrElse(Long.MaxValue)
    val est = fof.map { case (r, nr) =>
      val e4 = if (r < switchR) turing4(r).get else lgt4(r)
      (r, nr, turing4(r), lgt4(r), e4)
    }
    val bigS = est.map { case (_, nr, _, _, e4) => BigInt(nr) * e4 }.sum
    val rows = est.map { case (r, nr, t4, l4, e4) =>
      val pq = (BigInt(2) * (BigInt(n - n1) * e4 * 100000000L)
        + BigInt(n) * bigS) / (BigInt(2) * BigInt(n) * bigS)
      (r, nr, t4.map(_.toDouble / 1e4), l4.toDouble / 1e4,
        e4.toDouble / 1e4, pq.toDouble / 1e8, r >= switchR)
    }
    s.createDataFrame(rows.toSeq)
      .toDF("r", "n_r", "r_turing", "r_lgt", "r_sgt", "p_sgt", "lgt_used")
      .select(col("r"), col("n_r"), col("r_turing"), col("r_lgt"),
        col("r_sgt"), col("p_sgt"), col("lgt_used"))
      .orderBy(col("r"))
  }

  /** X171: Min-K% membership inference (Shi et al. 2023, "Detecting
    * pretraining data from large language models") — the
    * decontamination family's MISSING direction: x20/x41/x97/x119
    * match eval text against the corpus; this detects it from the
    * MODEL side, no corpus access — memorized text is likely even at
    * its least-likely tokens, so the mean NLL of each doc's worst 20%
    * of positions (Min-K%, k = 20) separates members from
    * non-members. Instantiation: the scoring model is the add-one
    * bigram trained on the md5 train split (x149's reference); the
    * pool is the held-out split (true non-members) plus a planted
    * re-presentation of train docs (doc_id % 7 = 0, re-keyed +3M —
    * the x119/x128 deterministic-plant convention; they WERE
    * trained on). Per class: doc count and the mean/min/max Min-K%
    * NLL — planted mean provably below clean mean (pinned in
    * EngineSpec). Determinism: per-position NLL is the x149 1e-4
    * integer; the bottom-k cut is ROW_NUMBER over (NLL DESC,
    * position) with k = ⌈n/5⌉ as the integer predicate 5·rk ≤ n+4;
    * means are [[intRoundHalfAway]]. Scale shape: one train gram
    * build, one pool scoring scan, a PER-DOC window (each partition
    * is one doc's positions — never corpus-wide), doc-sized then
    * class-sized rollups. */
  val x171MinkMembership: Q = (s, d) =>
    minkMembershipOn(Tables.documents(s, d))

  /** [[x171MinkMembership]] core over any (doc_id, text) frame
    * (exposed for the EngineSpec crafted-memorization pin). */
  private[graft] def minkMembershipOn(docs: DataFrame): DataFrame = {
    val balde = splitBalde(col("doc_id"))
    val train = docs.filter(balde < 90)
    val pool = docs.filter(balde >= 90)
      .select(col("doc_id"), col("text"), lit("clean").as("cls"))
      .unionByName(train.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
          lit("planted").as("cls")))
    val tr = train.select(wsTokens(col("text")).as("toks"))
    val uni = tr.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val scal = uni.agg(sum(col("c1")).as("nn"),
      (count(lit(1)) + 1L).as("v"))
    val cnt2 = tr.select(explode(allShinglesOfToks(col("toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val poolBi = pool
      .select(col("cls"), col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks"))).filter(col("n") >= 2)
      .select(col("cls"), col("doc_id"),
        explode(sequence(lit(2), col("n"))).as("i"),
        col("toks"))
      .select(col("cls"), col("doc_id"), col("i"),
        concat_ws(" ", element_at(col("toks"), col("i") - 1),
          element_at(col("toks"), col("i"))).as("g"),
        element_at(col("toks"), col("i") - 1).as("w1"))
    val scored = poolBi
      .join(cnt2, Seq("g"), "left").join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("lp", round(-log(
          (coalesce(col("c2"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("c1"), lit(0L)).cast("double")
            + col("v").cast("double"))) * 1e4, 0).cast("long"))
    val wD = Window.partitionBy(col("doc_id"))
    val perDoc = scored
      .withColumn("rk", row_number().over(
        wD.orderBy(col("lp").desc, col("i"))).cast("long"))
      .withColumn("nb", count(lit(1)).over(wD))
      .filter(col("rk") * 5L <= col("nb") + 4L)
      .groupBy(col("cls"), col("doc_id"))
      .agg(count(lit(1)).as("k"), sum(col("lp")).as("sl"))
      .select(col("cls"), col("doc_id"),
        intRoundHalfAway(col("sl"), col("k")).as("mink_q"))
    perDoc.groupBy(col("cls"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("mink_q")).as("sm"),
        min(col("mink_q")).as("mn"), max(col("mink_q")).as("mx"))
      .select(col("cls"), col("n_docs"),
        (intRoundHalfAway(col("sm"), col("n_docs")).cast("double") / 1e4)
          .as("mean_mink_nll"),
        (col("mn").cast("double") / 1e4).as("min_mink_nll"),
        (col("mx").cast("double") / 1e4).as("max_mink_nll"))
      .orderBy(col("cls"))
  }

  /** The (w, f) word-frequency table of a docs frame — the one corpus
    * scan every tokenizer trainer starts from. */
  private[graft] def wordFreq(docs: DataFrame): DataFrame =
    docs
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  private[graft] def bpeVocabOf(wf: DataFrame, topV: Int): Seq[(String, Long)] =
    wf.orderBy(col("f").desc, col("w")).limit(topV)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The frequency-weighted top-V training vocabulary of a corpus
    * slice — ONE scan, map-side-combinable, dimension-bounded by the
    * cap (the collect is ≤ topV rows by construction). */
  private[graft] def bpeVocab(docs: DataFrame, topV: Int): Seq[(String, Long)] =
    bpeVocabOf(wordFreq(docs), topV)

  /** Shared BPE trainer for x106/x107: ONE corpus scan builds the
    * frequency-weighted word vocabulary (map-side-combinable
    * `(word, count)` aggregation, top-1024 by (freq DESC, word ASC) —
    * dimension-bounded by construction), then [[graft.text.Bpe]]'s
    * driver-side integer merge loop learns up to 50 merges. The
    * driver loop is the m1-knotScan pattern: per-iteration Spark jobs
    * over a ≤1024-row relation would be pure scheduling overhead, and
    * every quantity is an exact BIGINT count with a byte-order
    * tie-break, so the replica is provably ≡ the oracle's unrolled
    * per-iteration SQL. */
  private[graft] def trainBpeMerges(s: SparkSession, d: String): Seq[graft.text.Bpe.Merge] =
    graft.text.Bpe.trainOnVocab(bpeVocab(Tables.documents(s, d), 1024), 50)

  /** X106: BPE merge-table training (Sennrich et al. 2016) — the
    * vocabulary-LEARNING operator the fixed-vocab measurements
    * (x9/x44/x54) audit against: 50 merges by iterated most-frequent-
    * adjacent-pair counting over the frequency-weighted top-1024 word
    * vocabulary, deterministic (count DESC, lhs ASC, rhs ASC)
    * tie-break, greedy left-to-right application between iterations.
    * Output is the learned merge table itself (≤50 rows — step, lhs,
    * rhs, merged symbol, frequency-weighted pair count; early-
    * exhausted training emits fewer rows). Scale shape: the corpus is
    * touched ONCE (the word-frequency aggregation); every iteration
    * runs on the V-row vocab — BPE's cost is by design independent of
    * corpus size past the first scan. The oracle replays all 50
    * iterations as unrolled SQL. */
  val x106BpeTrain: Q = (s, d) => {
    val merges = trainBpeMerges(s, d)
    s.createDataFrame(merges.map(m =>
        (m.step.toLong, m.lhs, m.rhs, m.lhs + m.rhs, m.pairFreq)))
      .toDF("step", "lhs", "rhs", "merged", "pair_freq")
      .orderBy(col("step"))
  }

  /** X145: WordPiece merge-table training (Schuster & Nakajima 2012,
    * "Japanese and Korean voice search"; the BERT tokenizer's
    * trainer) — x106's BPE loop under the published LIKELIHOOD
    * selection rule: merge the adjacent pair maximizing
    * count(ab) / (count(a)·count(b)) — the pair whose fusion most
    * increases unigram-LM corpus likelihood — instead of raw pair
    * frequency. Ranking is the exact integer floor-quotient
    * cnt·10¹² / (ca·cb) (ties: cnt DESC, lhs, rhs in byte order), so
    * both engines replay the same argmax with no float anywhere in
    * the loop; unit counts are frequency-weighted symbol occurrences
    * in the CURRENT segmentation state, recomputed per iteration.
    * Scale shape ≡ x106: ONE corpus scan builds the top-1024 word
    * vocabulary, then all 50 iterations are driver-side integer
    * arithmetic on that dimension-bounded relation — cost independent
    * of corpus size past the scan. Output adds the unit counts and
    * score — the audit columns that distinguish a likelihood merge
    * from a frequency merge (see the EngineSpec crafted-vocab pin
    * where the two rules provably diverge). Oracle: all 50 iterations
    * unrolled (pair counts + unit counts + HUGEINT quotient argmax +
    * run-parity greedy apply). */
  val x145WordpieceTrain: Q = (s, d) => {
    val merges = graft.text.Bpe.trainWordPieceOnVocab(
      bpeVocab(Tables.documents(s, d), 1024), 50)
    s.createDataFrame(merges.map(m =>
        (m.step.toLong, m.lhs, m.rhs, m.lhs + m.rhs, m.pairFreq,
         m.lhsFreq, m.rhsFreq, m.scoreQ.toDouble / 1e12)))
      .toDF("step", "lhs", "rhs", "merged", "pair_freq", "lhs_freq",
        "rhs_freq", "score")
      .orderBy(col("step"))
  }

  /** X107: BPE segmentation + learned-vocab fertility — x54's
    * tokenizer-fertility audit re-derived on the vocabulary x106
    * LEARNS instead of the fixed regex proxy. Segmentation is a
    * DICTIONARY computation ([[graft.text.Bpe.segmentDict]]): the 50
    * merges replay once per DISTINCT word (plain Scala, no shuffle),
    * and the dictionary broadcast-joins back to the
    * per-(source, word) count table; document text never moves after
    * the one counting scan. Per source: word occurrences, subword
    * tokens, single-token (fully merged) occurrences, and fertility =
    * subtokens/words on the pure-BIGINT [[intRoundHalfAway]]. At
    * 100 TB the dictionary is the working set (≪ corpus, the classic
    * tokenizer-training layout) and the join stays broadcast-sized
    * per the same cap as training. */
  val x107BpeSegment: Q = (s, d) => {
    val merges = trainBpeMerges(s, d).map(m => (m.lhs, m.rhs))
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    val dict = graft.text.Bpe.segmentDict(sw.select(col("w")).distinct(), merges)
      .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    sw.join(broadcast(dict), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_words"),
        sum(col("f") * col("n_sub")).as("n_subtok"),
        sum(when(col("n_sub") === 1, col("f")).otherwise(0L)).as("n_single"))
      .select(col("source"), col("n_words"), col("n_subtok"), col("n_single"),
        (intRoundHalfAway(col("n_subtok") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("fertility"))
      .orderBy(col("source"))
  }

  /** x127's scored table: every held-out (x36 val-split) token at a
    * full-trigram position, with its probability under each mixture
    * component trained on the TRAIN split — uniform 1/(V+1), unigram
    * MLE c(w)/N, bigram MLE c(vw)/Σc(v·), trigram MLE c(uvw)/Σc(uv·)
    * (unseen grams/contexts score 0; the uniform floor keeps every
    * token's mixture positive). Gram tables are the x64 join graph;
    * each probability is ONE double division in an order the oracle
    * mirrors exactly. Built once and checkpointed — the EM loop
    * re-scans these four doubles, never the corpus. */
  private[graft] def emInterpScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val balde = splitBalde(col("doc_id"))
    val train = docs.filter(balde < 90)
    val ho = docs.filter(balde >= 90 && balde < 95)
    val ttk = train.select(wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    val uni = ttk.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val scal = uni.agg(sum(col("c1")).as("nn"), count(lit(1)).as("vv"))
    val bi = ttk.filter(col("n") >= 2)
      .select(col("toks"), explode(sequence(lit(2), col("n"))).as("i"))
      .select(element_at(col("toks"), col("i") - 1).as("v"),
        element_at(col("toks"), col("i")).as("w"))
      .groupBy(col("v"), col("w")).agg(count(lit(1)).as("c2"))
    val ctx2 = bi.groupBy(col("v")).agg(sum(col("c2")).as("k2"))
    val tri = ttk.filter(col("n") >= 3)
      .select(col("toks"), explode(sequence(lit(3), col("n"))).as("i"))
      .select(element_at(col("toks"), col("i") - 2).as("u"),
        element_at(col("toks"), col("i") - 1).as("v"),
        element_at(col("toks"), col("i")).as("w"))
      .groupBy(col("u"), col("v"), col("w")).agg(count(lit(1)).as("c3"))
    val ctx3 = tri.groupBy(col("u"), col("v")).agg(sum(col("c3")).as("k3"))
    ho.select(wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 3)
      .select(col("toks"), explode(sequence(lit(3), col("n"))).as("i"))
      .select(element_at(col("toks"), col("i") - 2).as("u"),
        element_at(col("toks"), col("i") - 1).as("v"),
        element_at(col("toks"), col("i")).as("w"))
      .join(uni, Seq("w"), "left")
      .join(bi, Seq("v", "w"), "left")
      .join(ctx2, Seq("v"), "left")
      .join(tri, Seq("u", "v", "w"), "left")
      .join(ctx3, Seq("u", "v"), "left")
      .crossJoin(broadcast(scal))
      .select(
        (lit(1.0) / (col("vv").cast("double") + 1.0)).as("p0"),
        (coalesce(col("c1"), lit(0L)).cast("double")
          / col("nn").cast("double")).as("p1"),
        when(col("k2").isNull, lit(0.0))
          .otherwise(coalesce(col("c2"), lit(0L)).cast("double")
            / col("k2").cast("double")).as("p2"),
        when(col("k3").isNull, lit(0.0))
          .otherwise(coalesce(col("c3"), lit(0L)).cast("double")
            / col("k3").cast("double")).as("p3"))
      .localCheckpoint()
  }

  /** x127's trainer: 5 full-batch EM steps for the interpolation
    * weights λ of the 4-component mixture, from uniform init — the
    * Jelinek-Mercer deleted-interpolation recipe (Jelinek & Mercer
    * 1980; Chen & Goodman's JM baseline), the standard way the λs of
    * an interpolated LM are actually set. Per step: posterior
    * responsibilities r_o = λ_o·p_o / Σ λ·p, quantized 1e-6 AFTER
    * evaluation (the x39/x108 transcendental-free contract — here
    * even the division is the only double op), summed as order-free
    * BIGINTs; λ' = Σr_o/(T·1e6) is one double division on those
    * integers, so driver and the oracle's 5 unrolled SQL iterations
    * agree bit-for-bit. EM's likelihood-monotonicity is pinned in
    * EngineSpec off this exact replica. */
  private[graft] def emInterpLambdas(scored: DataFrame,
      iters: Int = 5): (Seq[Double], Long) = {
    // ONE job per EM step ([[foldStep]]): the four responsibility sums
    // are order-free BIGINT sums and the step counts the positions T
    // it divides by. Per-row math matches the oracle's SQL iteration
    // exactly ([[rndQ]] = Spark's round(x,0).cast(long); the
    // λ·p/den·1e6 chain is evaluated in the same operand order).
    val rdd = scored.select(col("p0"), col("p1"), col("p2"), col("p3"))
      .queryExecution.toRdd
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    var l = Seq(0.25, 0.25, 0.25, 0.25)
    var t = 0L
    for (_ <- 1 to iters) {
      val l0 = l(0); val l1 = l(1); val l2 = l(2); val l3 = l(3)
      val (q, n) = foldStep(rdd, 4) { (acc, p) =>
        val (p0, p1, p2, p3) = p
        val den = l0 * p0 + l1 * p1 + l2 * p2 + l3 * p3
        acc(0) += rndQ(l0 * p0 / den * 1e6)
        acc(1) += rndQ(l1 * p1 / den * 1e6)
        acc(2) += rndQ(l2 * p2 / den * 1e6)
        acc(3) += rndQ(l3 * p3 / den * 1e6)
      }
      t = n
      l = (0 to 3).map(o => q(o).toDouble / (t.toDouble * 1e6))
    }
    (l, t)
  }

  /** X127: EM-tuned LM interpolation weights — the last fixed
    * hyperparameter in the LM family (x39/x40/x64/x83) actually
    * LEARNED from data: deleted interpolation fits λ over
    * {uniform, unigram, bigram, trigram} MLE components on the x36
    * val split, the exact procedure production KenLM/SRILM pipelines
    * run (`ngram -count -interpolate` tunes these same weights on
    * held-out text). Output: one row per component with its tuned
    * weight — the model card for the mixture the perplexity filters
    * should score with. Scale shape: gram tables are the x64
    * shuffles; the scored table (4 doubles per held-out trigram
    * position) is built once and checkpointed; each EM step is ONE
    * map-side-combinable 4-sum aggregation over it (5 scheduling
    * round-trips total — the x108 driver-loop floor, data-volume
    * free). */
  val x127EmInterpolation: Q = (s, d) => {
    val (l, _) = emInterpLambdas(emInterpScored(s, d))
    s.createDataFrame(Seq(
        ("uniform", l(0)), ("unigram", l(1)),
        ("bigram", l(2)), ("trigram", l(3))))
      .toDF("component", "lraw")
      .select(col("component"), round(col("lraw"), 6).as("lambda"))
      .orderBy(col("component"))
  }

  /** x117's piece inventory: every 1-4-char substring of every
    * distinct (≤ [[ViterbiMaxW]]-char) corpus word, scored by its
    * frequency-weighted occurrence count — sq = round(ln(cnt/total)
    * ·1e4) as BIGINT (one transcendental per PIECE, quantized after
    * evaluation — the x39 rule — so the DP downstream is pure integer
    * max-plus and engine-exact). The inventory is vocabulary-sized
    * (≤ |vocab|·(4·maxlen) rows), never corpus-sized: the corpus is
    * touched once for the word counts. */
  private[graft] def unigramPieceScores(docs: DataFrame): DataFrame =
    unigramPieceScoresOf(wordFreq(docs)
      .filter(length(col("w")) <= ViterbiMaxW))

  /** [[unigramPieceScores]] from a prebuilt (w ≤ ViterbiMaxW chars, f)
    * word-frequency table — lets x167 share ONE train-split scan
    * between the BPE/WordPiece vocab and the unigram inventory. */
  private[graft] def unigramPieceScoresOf(wf: DataFrame): DataFrame = {
    val cand = wf.select(col("f"),
        explode(flatten(transform(sequence(lit(0), length(col("w")) - 1),
          j => transform(sequence(lit(1),
              least(lit(4), length(col("w")) - j)),
            l => col("w").substr(j + 1, l))))).as("p"))
    val pc = cand.groupBy(col("p")).agg(sum(col("f")).as("cnt"))
    val tot = pc.agg(sum(col("cnt")).as("t"))
    pc.crossJoin(broadcast(tot))
      .select(col("p"),
        round(log(col("cnt").cast("double") / col("t").cast("double"))
          * 1e4, 0).cast("long").as("sq"))
  }

  /** Word-length cap of the unigram dictionaries: words longer than
    * this are excluded on BOTH engines. It is the contract shared with
    * the oracle, which unrolls its DP to this many levels (the fixture
    * corpus caps at 8 chars), and it keeps a word's piece count below
    * 32, the range of [[viterbiWord]]'s enc tie-break. */
  private[graft] val ViterbiMaxW = 16

  /** x117's segmentation dictionary: per distinct word, the OPTIMAL
    * (max total log-probability) segmentation into 1-4-char pieces
    * under [[unigramPieceScores]] — SentencePiece's unigram-LM
    * Viterbi decode, the exact counterpart to x107's greedy BPE merge
    * replay ([[viterbiWord]], ties broken toward fewer pieces). Like
    * x107 this is a DICTIONARY computation: the DP runs once per
    * distinct word, never per occurrence. */
  private[graft] def viterbiDict(docs: DataFrame): DataFrame =
    viterbiDictOn(unigramPieceScores(docs), docs
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= ViterbiMaxW)
      .distinct())

  /** [[viterbiDict]] decoupled: decode `words` (a distinct single-
    * column `w` relation, each ≤ [[ViterbiMaxW]] chars) under an
    * ARBITRARY piece-score table — the split x167 needs (scores from
    * the train slice, words from held-out). Returns (w, np, wq). A
    * word with a position no scored piece covers decodes to NULL
    * np/wq, and a word with NO scored piece at all drops from the
    * output entirely (inner piece join) — both are the closed-
    * inventory OOV signal x167 reports. */
  private[graft] def viterbiDictOn(scores: DataFrame,
      words: DataFrame): DataFrame =
    decodeWords(words, scores, None)
      .select(col("w"), col("d._2").as("np"), col("d._3").as("wq"))

  /** The Viterbi decode of each distinct word of `words` (column `w`):
    * every 1-4-char piece at codepoint offset j with length l, slot
    * k = j·4 + l, is joined to `scores` (p, sq) and gathered into one
    * slot → score map per word, which [[viterbiWord]] decodes. With no
    * `floor`, an unscored slot is skipped and a word no scored piece
    * covers drops (inner join); with one, every word stays and an
    * unscored slot scores `floor`. Returns (w, d), d = (pieces, np, wq)
    * or NULL when no path covers the word.
    * The decode is a column of the projection over the per-word
    * aggregate, so a consumer that reads neither np nor wq prunes it,
    * and the aggregate's uniqueness on w still lets the optimizer drop
    * an outer join nothing reads (a typed `map` would hide both). */
  private def decodeWords(words: DataFrame, scores: DataFrame,
      floor: Option[Long]): DataFrame = {
    val decode = udf { (w: String, pm: Map[Int, Long]) =>
      viterbiWord(graft.text.Bpe.codepoints(w), k => pm.get(k).orElse(floor))
        .orNull
    }
    val n = length(col("w"))
    words.select(col("w"),
        explode(flatten(transform(sequence(lit(0), n - 1),
          j => transform(sequence(lit(1), least(lit(4), n - j)),
            l => struct((j * 4 + l).cast("int").as("k"),
              col("w").substr(j + 1, l).as("p")))))).as("c"))
      .select(col("w"), col("c.k").as("k"), col("c.p").as("p"))
      .join(scores, Seq("p"), if (floor.isEmpty) "inner" else "left")
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(
        when(col("sq").isNotNull, struct(col("k"), col("sq"))))).as("pm"))
      .select(col("w"), decode(col("w"), col("pm")).as("d"))
  }

  /** One word's unigram Viterbi decode: `cps` are its codepoints (the
    * unit of Spark's and DuckDB's `length`/`substr`) and `sc(k)` the
    * score of the piece at slot k = j·4 + l (None: no scored piece).
    * A suffix max-plus DP, g(j) = best enc of the chars from j on, over
    * enc = 32·score − pieces — integer dominance (any score gap ≥ 1
    * outweighs a piece gap below 32), so the optimum is the max-score
    * path with the fewest pieces and no struct comparison enters the
    * recurrence. A walk from the left then takes, at each position,
    * the SMALLEST piece whose enc plus the best suffix after it equals
    * the best suffix here — one fixed rule over the same integer DP,
    * so the pieces are deterministic without any path-uniqueness
    * assumption (x135's oracle unrolls the same DP and walk; x117's
    * runs the forward DP, which reaches the same optimum). Returns the
    * pieces, their count np and their summed score wq (1e-4 units), or
    * None when no path of scored pieces covers the word. */
  private def viterbiWord(cps: IndexedSeq[String],
      sc: Int => Option[Long]): Option[(Seq[String], Long, Long)] = {
    val n = cps.length
    val g = new Array[Option[Long]](n + 1)
    def enc(j: Int, l: Int): Option[Long] =
      for (q <- sc(j * 4 + l); r <- g(j + l)) yield 32L * q - 1L + r
    def lens(j: Int) = 1 to math.min(4, n - j)
    g(n) = Some(0L)
    for (j <- n - 1 to 0 by -1) g(j) = lens(j).flatMap(enc(j, _)).maxOption
    g(0).map { _ =>
      val pieces = Seq.newBuilder[String]
      var j = 0
      var wq = 0L
      while (j < n) {
        val l = lens(j).find(enc(j, _) == g(j)).get
        pieces += cps.slice(j, j + l).mkString
        wq += sc(j * 4 + l).get
        j += l
      }
      val ps = pieces.result()
      (ps, ps.size.toLong, wq)
    }
  }

  /** X117: unigram-LM Viterbi segmentation — the OTHER standard
    * subword tokenizer beside x106/x107's BPE (SentencePiece's
    * unigram model, Kudo 2018): pieces scored by corpus substring
    * statistics, each word decoded to its maximum-likelihood
    * segmentation by dynamic programming — provably optimal where
    * BPE's greedy merge replay is merely conventional (EngineSpec
    * pins a crafted word where the Viterbi split strictly beats
    * greedy longest-match). Per source: word occurrences, total
    * pieces, fertility, and the mean per-word negative log-likelihood
    * under the piece LM (the tokenizer-quality number a vocab budget
    * is priced on). Scale shape: ONE corpus scan for word counts, a
    * vocabulary-sized piece inventory and dictionary ([[viterbiDict]]
    * — the DP replays once per DISTINCT word), and a vocab-keyed
    * dictionary join back to the (source, word) counts — the classic
    * tokenizer layout; nothing downstream of the first scan is
    * corpus-sized. All ratios pure-BIGINT [[intRoundHalfAway]]. */
  val x117UnigramViterbi: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sw = docs
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= ViterbiMaxW)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    sw.join(viterbiDict(docs), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_words"),
        sum(col("f") * col("np")).as("n_pieces"),
        sum(col("f") * -col("wq")).as("snll"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        (intRoundHalfAway(col("n_pieces") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("fertility"),
        (intRoundHalfAway(col("snll"), col("n_words"))
          .cast("double") / 1e4).as("mean_word_nll"))
      .orderBy(col("source"))
  }

  /** Floor score for a piece ABSENT from the current inventory: any
    * path through a missing piece loses to any all-present path
    * (real quantized log-scores are ≥ −10⁷; the floor is −2⁴⁰), but
    * 16 floor pieces still sum far from Long overflow — so the DP
    * stays total-function on both engines (the oracle's DP is NULL-
    * free: DuckDB GREATEST returns NULL if ANY argument is NULL). */
  private[graft] val NegSq = -(1L << 40)

  /** Viterbi decode of each distinct word under an ARBITRARY piece
    * inventory `scores` (p, sq) — [[viterbiWord]] generalized for the
    * EM trainer (x135): pieces may be MISSING (left join + [[NegSq]]
    * floor), so the same decode runs under a pruned vocabulary, and
    * the chosen pieces are returned, not just counted. Returns
    * (w, pieces, np, wq) with wq the summed log-score in 1e-4 units.
    * Dictionary computation: one piece-keyed join, then one decode per
    * distinct word; nothing corpus-sized. */
  private[graft] def unigramDecode(words: DataFrame, scores: DataFrame): DataFrame =
    decodeWords(words, scores, Some(NegSq))
      .select(col("w"), col("d._1").as("pieces"), col("d._2").as("np"),
        col("d._3").as("wq"))

  /** The Viterbi-EM loop for the x135 unigram tokenizer (Kudo 2018's
    * trainer under the hard-EM / Viterbi-count approximation): per
    * step, E = decode every distinct word under the current piece
    * scores and count piece usage weighted by word frequency, M =
    * re-normalize (sq' = round(ln(cnt/Σcnt)·1e4) — one transcendental
    * per PIECE, quantized after evaluation, the x39 rule). Unused
    * pieces drop out of the inventory; every word stays decodable
    * because its own previous segmentation survives by construction.
    * Step 0 scores are x117's substring-frequency heuristic, so x135
    * is literally "x117's model, EM-improved". Returns the final
    * usage counts plus J(θ_t) = Σ_w f·wq(θ_t) per step — Viterbi-EM's
    * ascent objective, pinned monotone (to quantization slack) in
    * EngineSpec. Scale: ONE corpus scan (word counts); each step is
    * vocabulary-sized decode + piece-keyed aggregation; the
    * per-step localCheckpoint is the honest iteration boundary (the
    * x108 lesson: fusing data-dependent iterations explodes the
    * Catalyst tree). */
  private[graft] def emUnigramCounts(s: SparkSession, d: String,
      steps: Int, withJ: Boolean = true): (DataFrame, DataFrame, Seq[Long]) = {
    val docs = Tables.documents(s, d)
    // one corpus scan: the checkpointed (w ≤ ViterbiMaxW, f) table
    // feeds every EM step AND x135's downstream dictionary/char
    // passes (returned alongside counts, r12 — x135 formerly
    // re-scanned the corpus for the distinct-word list), and the
    // step-0 heuristic scores derive from the same table instead of a
    // second scan.
    val words = wordFreq(docs)
      .filter(length(col("w")) <= ViterbiMaxW)
      .localCheckpoint()
    var scores = unigramPieceScoresOf(words).localCheckpoint()
    var counts: DataFrame = null
    val js = scala.collection.mutable.ArrayBuffer[Long]()
    for (_ <- 1 to steps) {
      val dec = unigramDecode(words.select(col("w")), scores)
        .join(words, Seq("w"))
        .localCheckpoint()
      // J(θ) is a returned diagnostic (the EngineSpec ascent pin);
      // production callers that ignore it skip its per-step job
      // (don't compute what you throw away)
      if (withJ)
        js += dec.agg(sum(col("f") * col("wq"))).collect()(0).getLong(0)
      counts = dec.select(col("f"), explode(col("pieces")).as("p"))
        .groupBy(col("p")).agg(sum(col("f")).as("cnt"))
        .localCheckpoint()
      val tot = counts.agg(sum(col("cnt")).as("t"))
      scores = counts.crossJoin(broadcast(tot))
        .select(col("p"),
          round(log(col("cnt").cast("double") / col("t").cast("double"))
            * 1e4, 0).cast("long").as("sq"))
        .localCheckpoint()
    }
    (words, counts, js.toSeq)
  }

  /** X135: EM-trained unigram tokenizer (Kudo 2018 — SentencePiece's
    * trainer): x117 decodes
    * optimally but scores pieces by raw substring frequency; this
    * carrier LEARNS the piece probabilities by 2 Viterbi-EM steps
    * ([[emUnigramCounts]]), PRUNES to a vocab budget (all single
    * characters add-one-smoothed — the coverage floor Kudo keeps
    * unconditionally — plus the top-16 multi-char pieces by usage,
    * ties on piece text), and re-decodes the dictionary under the
    * pruned, re-normalized inventory ([[unigramDecode]]'s missing-
    * piece floor makes the pruned decode total). Output per source:
    * word/piece mass, fertility, and mean per-word NLL under the
    * TRAINED model — directly comparable against x117's heuristic
    * row (same columns) — plus the pruned vocab size. The oracle
    * replays every step as generated CTE chains (suffix DP + decode
    * walk ×3); EngineSpec pins J monotone and trained-beats-heuristic
    * NLL. Scale: the corpus is touched once for word counts; all
    * three decode chains are dictionary-sized. */
  val x135UnigramEm: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val (wf, counts, _) = emUnigramCounts(s, d, 2, withJ = false)
    val words = wf.select(col("w"))
    val chars = words
      .select(explode(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("p"))
      .distinct()
    val singles = chars.join(counts, Seq("p"), "left")
      .select(col("p"), (coalesce(col("cnt"), lit(0L)) + 1L).as("cnt"))
    // top-16 prune via orderBy+limit (TakeOrderedAndProject, r12
    // window audit): the piece inventory is vocabulary-sized
    // (≤ |vocab|·16 rows) — the only corpus-growth-scaling relation
    // any unpartitioned window in the engine ranked — so the global
    // single-partition window sort becomes a distributed per-partition
    // top-k + 16-row driver merge. Identical rows: row_number over
    // (cnt DESC, p) ≤ 16 IS the (cnt DESC, p) top-16.
    val multi = counts.filter(length(col("p")) > 1)
      .orderBy(col("cnt").desc, col("p")).limit(16)
      .select(col("p"), col("cnt"))
    val pruned = singles.unionByName(multi).localCheckpoint()
    val tot = pruned.agg(sum(col("cnt")).as("t"))
    val nv = pruned.agg(count(lit(1)).as("n_vocab"))
    val pscores = pruned.crossJoin(broadcast(tot))
      .select(col("p"),
        round(log(col("cnt").cast("double") / col("t").cast("double"))
          * 1e4, 0).cast("long").as("sq"))
    val dict = unigramDecode(words, pscores)
    val sw = docs
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= ViterbiMaxW)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    sw.join(dict, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_words"),
        sum(col("f") * col("np")).as("n_pieces"),
        sum(col("f") * -col("wq")).as("snll"))
      .crossJoin(broadcast(nv))
      .select(col("source"), col("n_words"), col("n_pieces"),
        (intRoundHalfAway(col("n_pieces") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("fertility"),
        (intRoundHalfAway(col("snll"), col("n_words"))
          .cast("double") / 1e4).as("mean_word_nll"),
        col("n_vocab"))
      .orderBy(col("source"))
  }

  /** X151: Good-Turing frequency re-estimation (Good 1953; Gale &
    * Sampson 1995's presentation) — the unseen-mass measurement the
    * engine's discount families (x64 backoff, x83 Kneser-Ney) are
    * calibrated against: from the frequency-of-frequencies table
    * N_r, the Turing estimate r* = (r+1)·N_{r+1}/N_r and the
    * probability mass GT assigns each count class,
    * mass(r) = (r+1)·N_{r+1}/N — one formula that at r = 0 IS the
    * unseen-token mass P₀ = N₁/N. Every quantity is an exact integer
    * rational ([[intRoundHalfAway]] at presentation). Honesty note:
    * the raw Turing estimator degenerates where the FoF tail has gaps
    * (N_{r+1} = 0 ⇒ r* = 0) — the exact defect Gale & Sampson's
    * log-linear smoothing exists to fix; what this operator ships is
    * the smoother's INPUT table plus the raw estimates, which on the
    * contiguous low-r head (the region LM discounts actually read)
    * are the estimator of record. EngineSpec pins the exact census
    * identity Σ r·N_r = N, P₀ = N₁/N, the r* replay, and the partial
    * telescope Σ_{r<R} mass(r) = (Σ_{r'≤R} r'·N_{r'})/N over the
    * gapless head ending at the first empty class R. Scale shape:
    * one corpus scan
    * into the vocabulary count table (map-side combinable), then the
    * FoF histogram is DOUBLY bounded (≲ 2√N distinct r values — the
    * classic FoF tail bound); everything after is row-local on that
    * tiny relation plus a self-join shifted by one. */
  val x151GoodTuring: Q = (s, d) => {
    val cnt = Tables.documents(s, d)
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val fof = cnt.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint()
    val tot = fof.agg(sum(col("r") * col("n_r")).as("n"))
    val withZero = fof.unionByName(
      s.range(1).select(lit(0L).as("r"), lit(0L).as("n_r")))
    val nxt = fof.select((col("r") - 1L).as("r"), col("n_r").as("n_next"))
    withZero.join(nxt, Seq("r"), "left").crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        when(col("n_r") > 0 && col("n_next").isNotNull,
          intRoundHalfAway((col("r") + 1L) * col("n_next") * 10000L,
            col("n_r")).cast("double") / 1e4).as("r_star"),
        (intRoundHalfAway(
          (col("r") + 1L) * coalesce(col("n_next"), lit(0L)) * 1000000L,
          col("n")).cast("double") / 1e6).as("gt_mass"))
      .orderBy(col("r"))
  }

  /** X167: tokenizer selection audit — the engine trains all three
    * published subword tokenizers (BPE x106, WordPiece x145, unigram
    * x117/x135) but until now nothing COMPARED them; this is the
    * table a data-pipeline owner actually decides on. All three train
    * on the md5-balde train split (< 90: BPE/WordPiece = 50 merges
    * over the top-1024 vocabulary, unigram = the full 1-4-char piece
    * inventory) and are measured on the HELD-OUT split (≥ 90), over
    * word occurrences ≤ [[ViterbiMaxW]] chars (the x117 dictionary
    * contract, applied to every tokenizer so the denominators are
    * identical). Per tokenizer: OOV rate (occurrences the learned
    * inventory cannot represent — BPE/WordPiece are char-open, so 0
    * by construction; unigram's closed piece inventory is not),
    * fertility = subtokens per covered word, compression = chars per
    * subtoken, and the fully-merged single-token rate — fertility and
    * compression computed over COVERED occurrences only so the three
    * rows compare like for like. Scale shape: one train scan (vocab +
    * piece inventory), one held-out counting scan, three vocabulary-
    * sized dictionaries broadcast-joined back to the held-out word
    * counts — the classic tokenizer layout; nothing after the scans
    * is corpus-sized. Oracle: both merge trainers + the 16-level DP
    * unrolled on the same split (≈ 500 bounded CTEs). */
  val x167TokenizerAudit: Q = (s, d) =>
    tokenizerAuditOn(s, Tables.documents(s, d))

  /** [[x167TokenizerAudit]] core over any (doc_id, source, text) frame
    * (exposed for the EngineSpec crafted-OOV pin). */
  private[graft] def tokenizerAuditOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val balde = splitBalde(col("doc_id"))
    val train = docs.filter(balde < 90)
    // ONE train-split scan (r12): the same checkpointed
    // word-frequency table feeds the BPE/WordPiece vocabulary AND the
    // unigram piece inventory (identical counts — the length cap is a
    // post-aggregation filter), where each trainer formerly re-scanned
    // the split.
    val twf = wordFreq(train).localCheckpoint()
    val vocab = bpeVocabOf(twf, 1024)
    val bpeM = graft.text.Bpe.trainOnVocab(vocab, 50)
      .map(m => (m.lhs, m.rhs))
    val wpM = graft.text.Bpe.trainWordPieceOnVocab(vocab, 50)
      .map(m => (m.lhs, m.rhs))
    val hw = docs.filter(balde >= 90)
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= ViterbiMaxW)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val words = hw.select(col("w"))
    val bd = graft.text.Bpe.segmentDict(words, bpeM)
      .select(col("w"), size(col("syms")).cast("long").as("n_bpe"))
    val wd = graft.text.Bpe.segmentDict(words, wpM)
      .select(col("w"), size(col("syms")).cast("long").as("n_wp"))
    val ud = viterbiDictOn(
      unigramPieceScoresOf(twf.filter(length(col("w")) <= ViterbiMaxW)),
      words)
      .select(col("w"), col("np").as("n_uni"))
    hw.join(broadcast(bd), Seq("w")).join(broadcast(wd), Seq("w"))
      .join(broadcast(ud), Seq("w"), "left")
      .withColumn("len", length(col("w")).cast("long"))
      .select(col("f"), col("len"), explode(array(
        struct(lit("bpe").as("tok"), col("n_bpe").as("ns")),
        struct(lit("unigram").as("tok"), col("n_uni").as("ns")),
        struct(lit("wordpiece").as("tok"), col("n_wp").as("ns")))).as("e"))
      .select(col("e.tok").as("tokenizer"), col("f"), col("len"),
        col("e.ns").as("ns"))
      .groupBy(col("tokenizer"))
      .agg(sum(col("f")).as("n_words"),
        sum(when(col("ns").isNull, col("f")).otherwise(0L)).as("n_oov"),
        sum(when(col("ns").isNotNull, col("f")).otherwise(0L)).as("n_cov"),
        sum(when(col("ns").isNotNull, col("f") * col("ns")).otherwise(0L))
          .as("n_subtok"),
        sum(when(col("ns").isNotNull, col("f") * col("len")).otherwise(0L))
          .as("n_chars"),
        sum(when(col("ns") === 1L, col("f")).otherwise(0L)).as("n_single"))
      .select(col("tokenizer"), col("n_words"), col("n_oov"),
        (intRoundHalfAway(col("n_oov") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("oov_rate"),
        col("n_subtok"),
        (intRoundHalfAway(col("n_subtok") * 10000L, col("n_cov"))
          .cast("double") / 1e4).as("fertility"),
        (intRoundHalfAway(col("n_chars") * 10000L, col("n_subtok"))
          .cast("double") / 1e4).as("compression"),
        (intRoundHalfAway(col("n_single") * 10000L, col("n_cov"))
          .cast("double") / 1e4).as("single_rate"))
      .orderBy(col("tokenizer"))
  }

  /** X123: tokenizer vocabulary-size scaling curve — the budget-
    * pricing table for x106's BPE: per source, fertility under the
    * FIRST 10, 25, and all 50 learned merges (more merges = bigger
    * vocab = fewer tokens per word = cheaper training, and this curve
    * prices exactly that trade). One training run, ONE staged
    * dictionary replay ([[graft.text.Bpe.segmentDictStaged]] —
    * snapshots at each depth instead of |stages| full replays, since
    * merge sequences are prefix-nested by construction), one counting
    * scan, and a row-local explode unpivots the three stages — the
    * whole curve costs one x107 plus two snapshot projections.
    * Early-exhausted training flattens the curve's tail (deeper
    * stages snapshot the final state), never errors. */
  val x123BpeScaling: Q = (s, d) => {
    val merges = trainBpeMerges(s, d).map(m => (m.lhs, m.rhs))
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    val dict = graft.text.Bpe.segmentDictStaged(
      sw.select(col("w")).distinct(), merges, Seq(10, 25, 50))
    sw.join(broadcast(dict), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_words"),
        sum(col("f") * col("ns_10")).as("st10"),
        sum(col("f") * col("ns_25")).as("st25"),
        sum(col("f") * col("ns_50")).as("st50"))
      .select(col("source"), col("n_words"), explode(array(
        struct(lit(10L).as("k"), col("st10").as("n_subtok")),
        struct(lit(25L).as("k"), col("st25").as("n_subtok")),
        struct(lit(50L).as("k"), col("st50").as("n_subtok")))).as("e"))
      .select(col("source"), col("e.k").as("k"), col("n_words"),
        col("e.n_subtok").as("n_subtok"),
        (intRoundHalfAway(col("e.n_subtok") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("fertility"))
      .orderBy(col("source"), col("k"))
  }

  /** X113: CCNet perplexity bucketing — the selection step the CCNet
    * pipeline actually ships (Wenzek et al. 2020 §4.3): score every
    * doc with the target-domain LM (x83's interpolated Kneser-Ney,
    * one contract — the scored table is shared CTE-for-CTE with the
    * x83 oracle) and split each language's population into
    * head/middle/tail perplexity terciles; training mixes then sample
    * by bucket (head-heavy for quality, tail kept for diversity).
    * Cuts are nearest-rank on the already-1e-4-quantized ppl via the
    * x32 histogram method — the corpus shuffles only (lang, ppl)
    * counts, the cumulative window runs over the tiny histogram, the
    * cut table broadcasts back, and the tercile test `3·cum ≥ k·n` is
    * pure integer arithmetic. The scored table is localCheckpointed
    * once (it feeds the histogram AND the final join). Docs with
    * under 3 tokens have no trigram steps and drop (x83's inner
    * semantics). */
  val x113PplBuckets: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = knTrigramScores(docs, docs.filter(col("lang") === "en"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("ppl3_kn"))
      .localCheckpoint()
    val hist = scored.groupBy(col("lang"), col("ppl3_kn"))
      .agg(count(lit(1)).as("c"))
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("ppl3_kn"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(min(when(col("cum") * 3 >= col("n"), col("ppl3_kn"))).as("c1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("ppl3_kn"))).as("c2"))
    scored.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("ppl3_kn"),
        when(col("ppl3_kn") <= col("c1"), lit("head"))
          .when(col("ppl3_kn") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** X115: tokenizer drift under a FROZEN vocabulary — the x109/x60
    * incremental contract applied to the tokenizer: production
    * pipelines train the vocabulary once and then tokenize every
    * arriving batch with it unchanged (retraining invalidates all
    * previously tokenized data), so the ops table that matters is
    * how the frozen tokenizer degrades on new data. Merges are
    * trained on the BASE slice only (doc_id % 10 ≠ 7) over a
    * deliberately tight top-16 word vocabulary — the cap a budgeted
    * tokenizer ships with, and here it also exercises the trainer's
    * early-exhaustion path for real — then the ARRIVING batch
    * (doc_id % 10 = 7) is dictionary-segmented under those frozen
    * merges. Per source: the x107 fertility columns plus the
    * out-of-vocabulary occurrence count and rate (words the frozen
    * training vocab never saw — the new-word signal that schedules a
    * retrain, exactly x109's balance-drift trigger one modality
    * over). Shape: one base scan (vocab), one batch scan (counts),
    * dictionary segmentation once per distinct batch word, two
    * broadcast joins (dictionary + ≤16-row vocab), |sources| rows
    * out. */
  val x115BpeDrift: Q = (s, d) => {
    val base = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7)
    val batch = Tables.documents(s, d).filter(col("doc_id") % 10 === 7)
    val vocab = bpeVocab(base, 16)
    val merges = graft.text.Bpe.trainOnVocab(vocab, 50).map(m => (m.lhs, m.rhs))
    val vocabDf = s.createDataFrame(vocab.map(v => Tuple1(v._1))).toDF("w")
      .withColumn("in_vocab", lit(1L))
    val sw = batch
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    val dict = graft.text.Bpe.segmentDict(sw.select(col("w")).distinct(), merges)
      .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    sw.join(broadcast(dict), Seq("w"))
      .join(broadcast(vocabDf), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_words"),
        sum(col("f") * col("n_sub")).as("n_subtok"),
        sum(when(col("n_sub") === 1, col("f")).otherwise(0L)).as("n_single"),
        sum(when(col("in_vocab").isNull, col("f")).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_words"), col("n_subtok"),
        col("n_single"), col("n_oov"),
        (intRoundHalfAway(col("n_subtok") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("fertility"),
        (intRoundHalfAway(col("n_oov") * 10000L, col("n_words"))
          .cast("double") / 1e4).as("oov_rate"))
      .orderBy(col("source"))
  }

  val defs: Map[String, Q] = Map(
    "x113_ppl_buckets" -> x113PplBuckets,
    "x151_good_turing" -> x151GoodTuring,
    "x153_heaps_fit" -> x153HeapsFit,
    "x154_zipf_fit" -> x154ZipfFit,
    "x155_sgt_smoothing" -> x155SgtSmoothing,
    "x167_tokenizer_audit" -> x167TokenizerAudit,
    "x171_mink_membership" -> x171MinkMembership,
    "x115_bpe_drift" -> x115BpeDrift,
    "x106_bpe_train" -> x106BpeTrain,
    "x145_wordpiece_train" -> x145WordpieceTrain,
    "x107_bpe_segment" -> x107BpeSegment,
    "x117_unigram_viterbi" -> x117UnigramViterbi,
    "x135_unigram_em" -> x135UnigramEm,
    "x123_bpe_scaling" -> x123BpeScaling,
    "x127_em_interpolation" -> x127EmInterpolation,
    "x67_vocab_growth" -> x67VocabGrowth,
    "x64_backoff_logppl" -> x64BackoffLogppl,
    "x83_kn_logppl" -> x83KnLogppl,
    "x63_pmi_cooccurrence" -> x63PmiCooccurrence,
    "x54_token_fertility" -> x54TokenFertility,
    "x44_vocab_coverage" -> x44VocabCoverage,
    "x40_bigram_logppl" -> x40BigramLogppl,
    "x39_unigram_logppl" -> x39UnigramLogppl,
    "x9_token_count" -> x9TokenCount)

  /** Shared DuckDB generators for the BPE oracles (x106/x107): the
    * full 50-iteration training unrolled as chained CTEs
    * (word-frequency vocab → per-iteration pair counts → argmax merge
    * → greedy apply), with greedy left-to-right application written in
    * the same closed-form run-parity list expression as the Spark
    * side ([[graft.text.Bpe]]). An exhausted iteration yields a
    * chr(1) sentinel merge that can never match a real symbol (and is
    * filtered from x106's output), so fixed-depth SQL mirrors the
    * data-dependent early stop — the m1 gated-stage pattern. */
  private val bpeK = 50

  private def bpeApplySql(from: String): String = s"""
      SELECT w, f, list_filter(list_transform(range(1, len(s0)+1), i ->
          CASE WHEN i > 1 AND sel[i-1] THEN NULL
               WHEN sel[i] THEN ma || mb
               ELSE s0[i] END), x -> x IS NOT NULL) AS syms
      FROM (
        SELECT w, f, s0, ma, mb, ml,
          list_transform(range(1, len(s0)+1), i -> ml[i] AND
            ((i - 1 - COALESCE(list_max(list_filter(range(1, len(s0)+1),
                j -> j < i AND NOT ml[j])), 0)) % 2 = 0)) AS sel
        FROM (
          SELECT w, f, syms AS s0, m.a AS ma, m.b AS mb,
            list_transform(range(1, len(syms)+1), i ->
              i < len(syms) AND syms[i] = m.a AND syms[i+1] = m.b) AS ml
          FROM $from))"""

  private def bpeTrainCtes: String = bpeTrainCtesOn("1 = 1", 1024)

  /** The shared frequency-weighted training-vocabulary CTE (`wf`) both
    * merge trainers consume — split out so x167 can train BPE AND
    * WordPiece on the SAME slice inside one query (CTE names must be
    * unique per query — the round-9 collision lesson). */
  private def bpeWfCte(where: String, topV: Int): String =
    s"""wf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
              FROM documents WHERE $where)
        WHERE w <> '' GROUP BY w ORDER BY f DESC, w LIMIT $topV)"""

  /** The 50 unrolled BPE training iterations over `wf` (pair counts
    * pc_k and argmax merge m_k over v_{k-1}; v0 … v49, since nothing
    * reads the state after the last merge). */
  private def bpeIterCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""v0 AS (SELECT w, f,
        $charSymsSql FROM wf)"""
    for (k <- 1 to bpeK) {
      sb ++= s""",
      pc$k AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(f) AS BIGINT) AS cnt
        FROM v${k - 1}, unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
      m$k AS (SELECT
        COALESCE((SELECT a FROM pc$k ORDER BY cnt DESC, a, b LIMIT 1), chr(1)) AS a,
        COALESCE((SELECT b FROM pc$k ORDER BY cnt DESC, a, b LIMIT 1), chr(1)) AS b,
        COALESCE((SELECT cnt FROM pc$k ORDER BY cnt DESC, a, b LIMIT 1),
          CAST(0 AS BIGINT)) AS cnt)"""
      if (k < bpeK) sb ++= s""",
      v$k AS (${bpeApplySql(s"v${k - 1}, m$k m")})"""
    }
    sb.toString
  }

  private def bpeTrainCtesOn(where: String, topV: Int): String =
    bpeWfCte(where, topV) + ",\n      " + bpeIterCtes

  /** x145's WordPiece trainer unrolled: like [[bpeTrainCtes]] but each
    * iteration also materializes frequency-weighted unit counts and
    * ranks candidate pairs by the exact HUGEINT floor-quotient
    * cnt·10¹² / (ca·cb); sentinel/apply contract identical. */
  private def wpTrainCtes: String =
    bpeWfCte("1 = 1", 1024) + ",\n      " + wpIterCtes

  /** The 50 unrolled WordPiece iterations over `wf` (unit counts yu_k,
    * HUGEINT likelihood argmax ym_k over y_{k-1}; y0 … y49, since
    * nothing reads the state after the last merge). */
  private def wpIterCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""y0 AS (SELECT w, f,
        $charSymsSql FROM wf)"""
    for (k <- 1 to bpeK) {
      sb ++= s""",
      yu$k AS (
        SELECT syms[i] AS s, CAST(SUM(f) AS BIGINT) AS c
        FROM y${k - 1}, unnest(range(1, len(syms)+1)) AS t(i) GROUP BY 1),
      yp$k AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(f) AS BIGINT) AS cnt
        FROM y${k - 1}, unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
      ys$k AS (
        SELECT p.a, p.b, p.cnt, ua.c AS ca, ub.c AS cb,
          CAST(CAST(p.cnt AS HUGEINT) * 1000000000000 //
            (CAST(ua.c AS HUGEINT) * ub.c) AS BIGINT) AS q
        FROM yp$k p JOIN yu$k ua ON ua.s = p.a JOIN yu$k ub ON ub.s = p.b),
      ym$k AS (SELECT
        COALESCE((SELECT a FROM ys$k ORDER BY q DESC, cnt DESC, a, b
          LIMIT 1), chr(1)) AS a,
        COALESCE((SELECT b FROM ys$k ORDER BY q DESC, cnt DESC, a, b
          LIMIT 1), chr(1)) AS b,
        COALESCE((SELECT cnt FROM ys$k ORDER BY q DESC, cnt DESC, a, b
          LIMIT 1), CAST(0 AS BIGINT)) AS cnt,
        COALESCE((SELECT ca FROM ys$k ORDER BY q DESC, cnt DESC, a, b
          LIMIT 1), CAST(1 AS BIGINT)) AS ca,
        COALESCE((SELECT cb FROM ys$k ORDER BY q DESC, cnt DESC, a, b
          LIMIT 1), CAST(1 AS BIGINT)) AS cb,
        COALESCE((SELECT q FROM ys$k ORDER BY q DESC, cnt DESC, a, b
          LIMIT 1), CAST(0 AS BIGINT)) AS q)"""
      if (k < bpeK) sb ++= s""",
      y$k AS (${bpeApplySql(s"y${k - 1}, ym$k m")})"""
    }
    sb.toString
  }

  /** The x83 interpolated-Kneser-Ney scored-table CTE chain, through
    * `agg` (per-doc step count + 1e-4-quantized log-prob sum) —
    * shared by the x83 oracle and x113's CCNet percentile buckets. */
  private val knScoredCtes: String = """
      WITH ttk AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks,
          len(regexp_split_to_array(trim(text), '\s+')) AS n
        FROM documents WHERE lang = 'en'),
      tri3 AS (SELECT toks[i-2] AS u, toks[i-1] AS v, toks[i] AS w
        FROM (SELECT toks, unnest(range(3, n + 1)) AS i
          FROM ttk WHERE n >= 3)),
      t3 AS (SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3
        FROM tri3 GROUP BY u, v, w),
      ctx3 AS (SELECT u, v, CAST(SUM(c3) AS BIGINT) AS ctx3,
          CAST(COUNT(*) AS BIGINT) AS n1p_uv FROM t3 GROUP BY u, v),
      cc2 AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cc2
        FROM t3 GROUP BY v, w),
      mid AS (SELECT v, CAST(SUM(cc2) AS BIGINT) AS ccm,
          CAST(COUNT(*) AS BIGINT) AS n1p_v FROM cc2 GROUP BY v),
      big2 AS (SELECT a, w, CAST(COUNT(*) AS BIGINT) AS cb
        FROM (SELECT toks[i-1] AS a, toks[i] AS w
          FROM (SELECT toks, unnest(range(2, n + 1)) AS i
            FROM ttk WHERE n >= 2)) GROUP BY a, w),
      cc1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cc1
        FROM big2 GROUP BY w),
      scal AS (SELECT
          (SELECT CAST(SUM(cc1) AS BIGINT) FROM cc1) AS tt,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM cc1) AS v1,
          (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT)
            FROM (SELECT unnest(toks) AS tok FROM ttk)) AS vocab),
      steps AS (SELECT doc_id, toks[i-2] AS u, toks[i-1] AS v,
          toks[i] AS w
        FROM (SELECT doc_id, toks, unnest(range(3, len(toks) + 1)) AS i
          FROM (SELECT doc_id,
              regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents)
          WHERE len(toks) >= 3)),
      j AS (SELECT s.doc_id, t3.c3, x.ctx3, x.n1p_uv, cc2.cc2,
          mid.ccm, mid.n1p_v, cc1.cc1, scal.tt, scal.v1, scal.vocab
        FROM steps s
        LEFT JOIN t3 ON t3.u = s.u AND t3.v = s.v AND t3.w = s.w
        LEFT JOIN ctx3 x ON x.u = s.u AND x.v = s.v
        LEFT JOIN cc2 ON cc2.v = s.v AND cc2.w = s.w
        LEFT JOIN mid ON mid.v = s.v
        LEFT JOIN cc1 ON cc1.w = s.w
        CROSS JOIN scal),
      p AS (SELECT doc_id,
          CAST(greatest(COALESCE(cc1, 0) * 4 - 3, 0) * (vocab + 1)
            + v1 * 3 AS DOUBLE)
            / CAST(tt * (vocab + 1) * 4 AS DOUBLE) AS p1,
          c3, ctx3, n1p_uv, cc2, ccm, n1p_v FROM j),
      p2t AS (SELECT doc_id, c3, ctx3, n1p_uv,
          CASE WHEN ccm IS NOT NULL THEN
            (CAST(greatest(COALESCE(cc2, 0) * 4 - 3, 0) AS DOUBLE)
              + CAST(n1p_v * 3 AS DOUBLE) * p1)
              / CAST(ccm * 4 AS DOUBLE)
          ELSE p1 END AS p2 FROM p),
      p3t AS (SELECT doc_id,
          CASE WHEN ctx3 IS NOT NULL THEN
            (CAST(greatest(COALESCE(c3, 0) * 4 - 3, 0) AS DOUBLE)
              + CAST(n1p_uv * 3 AS DOUBLE) * p2)
              / CAST(ctx3 * 4 AS DOUBLE)
          ELSE p2 END AS p3 FROM p2t),
      sc AS (SELECT doc_id,
          CAST(ROUND(-LN(p3) * 1e4, 0) AS BIGINT) AS lp_q FROM p3t),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_steps,
          CAST(SUM(lp_q) AS BIGINT) AS s_lp
        FROM sc GROUP BY doc_id)"""

  /** The BPE segmentation oracles' CTEs: `sw(source, w, f)`, the word
    * counts of `from`, then `g0` … `g<bpeK>`, its distinct words split to
    * characters and re-merged by each learned merge `m<k>` in turn. */
  private def bpeSegCtes(from: String): String =
    s"""sw AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
          FROM (SELECT source,
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
                FROM $from)
          WHERE w <> '' GROUP BY source, w),
        ${bpeApplyCtes("g", "SELECT DISTINCT w FROM sw", "m")}"""

  /** `<g>0`, the words of the query `words` split to characters, then
    * `<g>1` … `<g><bpeK>`, re-merged by each merge `<m><k>` in turn. */
  private def bpeApplyCtes(g: String, words: String, m: String): String =
    s"""${g}0 AS (SELECT w, CAST(0 AS BIGINT) AS f,
          $charSymsSql
          FROM ($words))""" +
      (1 to bpeK).map(k => s""",
        $g$k AS (${bpeApplySql(s"$g${k - 1}, $m$k m")})""").mkString

  /** `name(w, f)`: the counts of the lower-cased words of ≤ 16 chars
    * in `from`, the unigram tokenizer's vocabulary. */
  private def shortWordsCte(name: String, from: String): String =
    s"""$name AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
            AS w
          FROM $from)
        WHERE w <> '' AND length(w) <= 16 GROUP BY w)"""

  /** [[shortWordsCte]] over `documents`, per source: `name(source, w, f)`. */
  private def shortSourceWordsCte(name: String): String =
    s"""$name AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT source,
            unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
          FROM documents)
        WHERE w <> '' AND length(w) <= 16 GROUP BY source, w)"""

  /** A word `w` split into its characters as `syms`. */
  private def charSymsSql: String = """list_transform(range(1, length(w)+1), i ->
          substring(w, CAST(i AS INT), 1)) AS syms"""

  /** The unigram tokenizer's Viterbi over words of ≤ 16 chars, as the
    * unrolled DP CTEs `<t>1` … `<t>16` from `<t>0(w, scl, s0, e0)`:
    * `s<i>` is the best score of the first i chars (pieces of ≤ 4
    * chars, score list `scl`) and `e<i>` its piece-count tiebreak
    * code; each CTE led by a comma. */
  private def viterbiDpCtes(t: String): String = (1 to 16).map { i =>
    val cands = (math.max(0, i - 4) until i).map { j =>
      val k = j * 4 + (i - j)
      (s"s$j + scl[$k]", s"e$j + scl[$k] * 32 - 1")
    }
    def mx(cs: Seq[String]) =
      if (cs.size == 1) cs.head else cs.mkString("GREATEST(", ", ", ")")
    s""",
      $t$i AS (SELECT *, ${mx(cands.map(_._1))} AS s$i,
        ${mx(cands.map(_._2))} AS e$i FROM $t${i - 1})"""
  }.mkString

  /** The list `[<v>1, …, <v>16]` of [[viterbiDpCtes]]' columns. */
  private def viterbiList(v: String): String =
    (1 to 16).map(i => s"$v$i").mkString("[", ", ", "]")

  /** `cnt(w, c)`: each whitespace token's corpus count. */
  private def wordCountCte: String = """cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
              FROM documents)
        GROUP BY w)"""

  /** `fof(r, n_r)`: the frequencies of [[wordCountCte]]'s counts. */
  private def fofCte: String = """fof AS (
        SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
        FROM cnt GROUP BY c)"""

  /** The least-squares sums `sums(n, sx, sy, sxy, sxx)` over the
    * 1e-6 log points `pts(lx, ly)`. */
  private def fitSumsCte: String = """sums AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
          CAST(SUM(lx) AS HUGEINT) AS sx, CAST(SUM(ly) AS HUGEINT) AS sy,
          CAST(SUM(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx
        FROM pts)"""

  /** The fitted slope over [[fitSumsCte]], rounded half away to 1e-6. */
  private def fitSlopeSql: String = """(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(n * sxy - sx * sy) * 1000000
              + (n * sxx - sx * sx)) // (2 * (n * sxx - sx * sx)))
            AS slope_q"""

  /** [[fitSumsCte]], `ft` with the slope and `ft2(n, slope_q, a_q)`
    * with the intercept, both in 1e-6 units. */
  private def fitLineCtes: String = s"""$fitSumsCte,
      ft AS (SELECT n, sx, sy,
          $fitSlopeSql
        FROM sums),
      ft2 AS (SELECT n, slope_q,
          (CASE WHEN sy * 1000000 - slope_q * sx < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(sy * 1000000 - slope_q * sx) + n * 1000000)
              // (2 * n * 1000000)) AS a_q
        FROM ft)"""

  /** x67/x153's vocabulary-growth CTEs over 10 doc_id buckets:
    * `arrivals(bucket, n_tok)` and `fresh(bucket, n_new_types)`, no
    * leading WITH or trailing comma. */
  private def vocabGrowthCtes: String =
    """mx AS (SELECT MAX(doc_id) // 10 + 1 AS width FROM documents),
      tok AS (SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents),
      arrivals AS (SELECT doc_id // (SELECT width FROM mx) AS bucket,
          COUNT(*) AS n_tok FROM tok GROUP BY 1),
      firsts AS (SELECT w, MIN(doc_id) AS first_doc FROM tok GROUP BY w),
      fresh AS (SELECT first_doc // (SELECT width FROM mx) AS bucket,
          COUNT(*) AS n_new_types FROM firsts GROUP BY 1)"""

  val oracles: Map[String, String] = Map(
    "x115_bpe_drift" -> s"""WITH ${bpeTrainCtesOn("doc_id % 10 <> 7", 16)},
        ${bpeSegCtes("documents WHERE doc_id % 10 = 7")},
        nsub AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM g$bpeK),
        iv AS (SELECT w, 1 AS in_vocab FROM wf)
        SELECT sw.source, CAST(SUM(sw.f) AS BIGINT) AS n_words,
          CAST(SUM(sw.f * n.n_sub) AS BIGINT) AS n_subtok,
          CAST(SUM(CASE WHEN n.n_sub = 1 THEN sw.f ELSE 0 END) AS BIGINT)
            AS n_single,
          CAST(SUM(CASE WHEN iv.in_vocab IS NULL THEN sw.f ELSE 0 END)
            AS BIGINT) AS n_oov,
          CAST(((2 * SUM(sw.f * n.n_sub) * 10000 + SUM(sw.f))
            // (2 * SUM(sw.f))) AS DOUBLE) / 1e4 AS fertility,
          CAST(((2 * SUM(CASE WHEN iv.in_vocab IS NULL THEN sw.f ELSE 0 END)
              * 10000 + SUM(sw.f))
            // (2 * SUM(sw.f))) AS DOUBLE) / 1e4 AS oov_rate
        FROM sw JOIN nsub n USING (w) LEFT JOIN iv USING (w)
        GROUP BY sw.source ORDER BY sw.source""",
    "x106_bpe_train" -> {
      val union = (1 to bpeK).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS step, a AS lhs, b AS rhs,
            a || b AS merged, cnt AS pair_freq FROM m$k""")
        .mkString(" UNION ALL ")
      s"""WITH $bpeTrainCtes
        SELECT * FROM ($union) WHERE lhs <> chr(1) ORDER BY step"""
    },
    "x145_wordpiece_train" -> {
      val union = (1 to bpeK).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS step, a AS lhs, b AS rhs,
            a || b AS merged, cnt AS pair_freq, ca AS lhs_freq,
            cb AS rhs_freq, CAST(q AS DOUBLE) / 1e12 AS score
            FROM ym$k""")
        .mkString(" UNION ALL ")
      s"""WITH $wpTrainCtes
        SELECT * FROM ($union) WHERE lhs <> chr(1) ORDER BY step"""
    },
    "x123_bpe_scaling" -> {
      val stageSql = Seq(10, 25, 50).map { k =>
        s"""SELECT sw.source, CAST($k AS BIGINT) AS k,
          CAST(SUM(sw.f) AS BIGINT) AS n_words,
          CAST(SUM(sw.f * n.n_sub) AS BIGINT) AS n_subtok
        FROM sw JOIN (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub
          FROM g$k) n USING (w)
        GROUP BY sw.source"""
      }.mkString("\n        UNION ALL ")
      s"""WITH $bpeTrainCtes, ${bpeSegCtes("documents")},
        stages AS ($stageSql)
        SELECT source, k, n_words, n_subtok,
          CAST(((2 * n_subtok * 10000 + n_words) // (2 * n_words))
            AS DOUBLE) / 1e4 AS fertility
        FROM stages ORDER BY source, k"""
    },
    "x151_good_turing" -> s"""
      WITH $wordCountCte,
      $fofCte,
      tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n FROM fof),
      wz AS (SELECT r, n_r FROM fof
        UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT))
      SELECT wz.r, wz.n_r,
        CASE WHEN wz.n_r > 0 AND nx.n_next IS NOT NULL THEN
          CAST(((2 * (wz.r + 1) * nx.n_next * 10000 + wz.n_r)
            // (2 * wz.n_r)) AS DOUBLE) / 1e4 END AS r_star,
        CAST(((2 * (wz.r + 1) * COALESCE(nx.n_next, 0) * 1000000 + tot.n)
          // (2 * tot.n)) AS DOUBLE) / 1e6 AS gt_mass
      FROM wz
      LEFT JOIN (SELECT r - 1 AS r, n_r AS n_next FROM fof) nx
        USING (r)
      CROSS JOIN tot
      ORDER BY r""",
    // x167: one query trains BOTH merge tables (shared wf on the train
    // split) plus the unigram piece scores, replays all three on the
    // held-out word table, and aggregates per tokenizer.
    "x167_tokenizer_audit" -> {
      val trainWhere =
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90"
      val hoWhere =
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 >= 90"
      val (sList, eList) = (viterbiList("s"), viterbiList("e"))
      s"""WITH ${bpeWfCte(trainWhere, 1024)},
      $bpeIterCtes,
      $wpIterCtes,
      ${shortWordsCte("hw", s"documents WHERE $hoWhere")},
      ${bpeApplyCtes("hb", "SELECT w FROM hw", "m")},
      ${bpeApplyCtes("hy", "SELECT w FROM hw", "ym")},
      ${shortWordsCte("twf", s"documents WHERE $trainWhere")},
      tcand AS (
        SELECT w, f, (j * 4 + l) AS k, substring(w, CAST(j + 1 AS INT),
          CAST(l AS INT)) AS p
        FROM twf, unnest(range(0, length(w))) AS tj(j),
          unnest(range(1, 5)) AS tl(l)
        WHERE j + l <= length(w)),
      tpc AS (SELECT p, CAST(SUM(f) AS BIGINT) AS cnt
        FROM tcand GROUP BY p),
      ttot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM tpc),
      tscs AS (SELECT p,
          CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1e4, 0)
            AS BIGINT) AS sq
        FROM tpc, ttot),
      hcand AS (
        SELECT w, (j * 4 + l) AS k, substring(w, CAST(j + 1 AS INT),
          CAST(l AS INT)) AS p
        FROM (SELECT w FROM hw), unnest(range(0, length(w))) AS tj(j),
          unnest(range(1, 5)) AS tl(l)
        WHERE j + l <= length(w)),
      hkl AS (
        SELECT c.w, c.k, s.sq FROM hcand c JOIN tscs s USING (p)),
      hscl AS (
        SELECT ww.w, list(hkl.sq ORDER BY r.k) AS scl
        FROM (SELECT w FROM hw) ww
        CROSS JOIN range(1, 65) r(k)
        LEFT JOIN hkl ON hkl.w = ww.w AND hkl.k = r.k
        GROUP BY ww.w),
      hd0 AS (SELECT w, scl, CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS e0
        FROM hscl)
      ${viterbiDpCtes("hd")},
      udict AS (SELECT w,
          32 * ($sList[length(w)]) - ($eList[length(w)]) AS np
        FROM hd16),
      res AS (
        SELECT 'bpe' AS tokenizer, hw.f,
          CAST(length(hw.w) AS BIGINT) AS len,
          CAST(len(b.syms) AS BIGINT) AS ns
        FROM hw JOIN hb$bpeK b USING (w)
        UNION ALL
        SELECT 'wordpiece' AS tokenizer, hw.f,
          CAST(length(hw.w) AS BIGINT) AS len,
          CAST(len(y.syms) AS BIGINT) AS ns
        FROM hw JOIN hy$bpeK y USING (w)
        UNION ALL
        SELECT 'unigram' AS tokenizer, hw.f,
          CAST(length(hw.w) AS BIGINT) AS len, u.np AS ns
        FROM hw LEFT JOIN udict u USING (w))
      SELECT tokenizer, CAST(SUM(f) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN ns IS NULL THEN f ELSE 0 END) AS BIGINT)
          AS n_oov,
        CAST(((2 * SUM(CASE WHEN ns IS NULL THEN f ELSE 0 END) * 10000
          + SUM(f)) // (2 * SUM(f))) AS DOUBLE) / 1e4 AS oov_rate,
        CAST(SUM(CASE WHEN ns IS NOT NULL THEN f * ns ELSE 0 END)
          AS BIGINT) AS n_subtok,
        CAST(((2 * SUM(CASE WHEN ns IS NOT NULL THEN f * ns ELSE 0 END)
            * 10000 + SUM(CASE WHEN ns IS NOT NULL THEN f ELSE 0 END))
          // (2 * SUM(CASE WHEN ns IS NOT NULL THEN f ELSE 0 END)))
          AS DOUBLE) / 1e4 AS fertility,
        CAST(((2 * SUM(CASE WHEN ns IS NOT NULL THEN f * len ELSE 0 END)
            * 10000 + SUM(CASE WHEN ns IS NOT NULL THEN f * ns ELSE 0 END))
          // (2 * SUM(CASE WHEN ns IS NOT NULL THEN f * ns ELSE 0 END)))
          AS DOUBLE) / 1e4 AS compression,
        CAST(((2 * SUM(CASE WHEN ns = 1 THEN f ELSE 0 END) * 10000
          + SUM(CASE WHEN ns IS NOT NULL THEN f ELSE 0 END))
          // (2 * SUM(CASE WHEN ns IS NOT NULL THEN f ELSE 0 END)))
          AS DOUBLE) / 1e4 AS single_rate
      FROM res GROUP BY tokenizer ORDER BY tokenizer"""
    },
    "x171_mink_membership" -> """
      WITH dd AS (SELECT doc_id, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            % 100 AS b
        FROM documents),
      tr AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        FROM dd WHERE b < 90),
      pool AS (SELECT doc_id, text, 'clean' AS cls FROM dd WHERE b >= 90
        UNION ALL
        SELECT doc_id + 3000000, text, 'planted' FROM dd
        WHERE b < 90 AND doc_id % 7 = 0),
      uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(toks) AS w1 FROM tr) GROUP BY w1),
      scal AS (SELECT CAST(COUNT(*) + 1 AS BIGINT) AS v FROM uni),
      cnt2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
          SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 0)
            + 1), i -> toks[i] || ' ' || toks[i+1])) AS g FROM tr)
        GROUP BY g),
      pbi AS (SELECT cls, doc_id, i,
          toks[i-1] || ' ' || toks[i] AS g, toks[i-1] AS w1
        FROM (SELECT cls, doc_id,
            regexp_split_to_array(trim(text), '\s+') AS toks
          FROM pool), unnest(range(2, len(toks) + 1)) AS t(i)),
      sc AS (SELECT cls, doc_id, i,
          CAST(ROUND(-LN((CAST(COALESCE(c2, 0) AS DOUBLE) + 1.0)
            / (CAST(COALESCE(c1, 0) AS DOUBLE) + CAST(v AS DOUBLE)))
            * 1e4, 0) AS BIGINT) AS lp
        FROM pbi LEFT JOIN cnt2 USING (g) LEFT JOIN uni USING (w1)
        CROSS JOIN scal),
      rk AS (SELECT cls, doc_id, lp,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY lp DESC, i) AS rk,
          COUNT(*) OVER (PARTITION BY doc_id) AS nb
        FROM sc),
      pd AS (SELECT cls, doc_id,
          (2 * CAST(SUM(lp) AS BIGINT) + COUNT(*)) // (2 * COUNT(*))
            AS mink_q
        FROM rk WHERE rk * 5 <= nb + 4 GROUP BY cls, doc_id)
      SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(((2 * SUM(mink_q) + COUNT(*)) // (2 * COUNT(*)))
          AS DOUBLE) / 1e4 AS mean_mink_nll,
        CAST(MIN(mink_q) AS DOUBLE) / 1e4 AS min_mink_nll,
        CAST(MAX(mink_q) AS DOUBLE) / 1e4 AS max_mink_nll
      FROM pd GROUP BY cls ORDER BY cls""",
    "x135_unigram_em" -> {
      // one decode chain (suffix DP + leftmost walk) under `scoresCte`,
      // mirroring viterbiWord step for step; CTE prefix c<chain>
      def decodeSql(chain: Int, scoresCte: String): String = {
        val c = s"c$chain"
        val sb = new StringBuilder
        sb ++= s""",
      ${c}kl AS (SELECT cd.w, cd.k, s.sq
        FROM ucand cd JOIN $scoresCte s USING (p)),
      ${c}scl AS (
        SELECT ww.w, list(COALESCE(kl.sq, $NegSq) ORDER BY r.k) AS scl
        FROM uwords ww CROSS JOIN range(1, 65) r(k)
        LEFT JOIN ${c}kl kl ON kl.w = ww.w AND kl.k = r.k
        GROUP BY ww.w),
      ${c}d0 AS (SELECT w, scl, CAST(0 AS BIGINT) AS f0 FROM ${c}scl)"""
        for (t <- 1 to 16) {
          val cands = (1 to math.min(4, t)).map { l =>
            s"32 * scl[(length(w) - $t) * 4 + $l] - 1 + f${t - l}" }
          val mx = if (cands.size == 1) cands.head
            else cands.mkString("GREATEST(", ", ", ")")
          sb ++= s""",
      ${c}d$t AS (SELECT *, CASE WHEN $t <= length(w)
        THEN $mx ELSE ${NegSq * 32L} END AS f$t FROM ${c}d${t - 1})"""
        }
        val faList = (0 to 16).map(t => s"f$t").mkString("[", ", ", "]")
        sb ++= s""",
      ${c}u0 AS (SELECT w, scl, $faList AS fa,
        CAST(length(w) AS BIGINT) AS r0 FROM ${c}d16)"""
        for (u <- 1 to 16) {
          val r = s"r${u - 1}"
          def ok(l: Int) =
            s"""($l <= $r AND 32 * scl[CAST((length(w) - $r) * 4 + $l AS INT)]
            - 1 + fa[CAST(GREATEST($r - $l, 0) + 1 AS INT)]
            = fa[CAST($r + 1 AS INT)])"""
          sb ++= s""",
      ${c}ul$u AS (SELECT *, CASE WHEN $r > 0 THEN (CASE
          WHEN ${ok(1)} THEN 1 WHEN ${ok(2)} THEN 2 WHEN ${ok(3)} THEN 3
          ELSE 4 END) END AS l$u
        FROM ${c}u${u - 1}),
      ${c}u$u AS (SELECT *, CASE WHEN $r > 0 THEN substring(w,
          CAST(length(w) - $r + 1 AS INT), CAST(l$u AS INT)) END AS p$u,
        $r - COALESCE(l$u, 0) AS r$u FROM ${c}ul$u)"""
        }
        val pList = (1 to 16).map(u => s"p$u").mkString("[", ", ", "]")
        sb ++= s""",
      ${c}dec AS (SELECT w,
        list_filter($pList, x -> x IS NOT NULL) AS pieces,
        CAST(len(list_filter($pList, x -> x IS NOT NULL)) AS BIGINT) AS np,
        CAST((fa[CAST(length(w) + 1 AS INT)]
          + len(list_filter($pList, x -> x IS NOT NULL))) // 32 AS BIGINT)
          AS wq
        FROM ${c}u16)"""
        sb.toString
      }
      // the E-step: chain <chain>'s piece usage, weighted by word count
      def countsSql(chain: Int): String = s""",
      c${chain}cnt AS (SELECT u.p,
          CAST(SUM(wf.f) AS BIGINT) AS cnt
        FROM c${chain}dec d JOIN wf USING (w), unnest(d.pieces) AS u(p)
        GROUP BY u.p)"""
      // the M-step: `out`(p, sq), the (p, cnt) table `cnt` log-normalized
      def scoresSql(out: String, cnt: String): String = s"""$out AS (SELECT p,
          CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(tt.t AS DOUBLE)) * 1e4, 0)
            AS BIGINT) AS sq
        FROM $cnt, (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM $cnt) tt)"""
      s"""WITH ${shortWordsCte("wf", "documents")},
      uwords AS (SELECT DISTINCT w FROM wf),
      ucand AS (
        SELECT w, (j * 4 + l) AS k, substring(w, CAST(j + 1 AS INT),
          CAST(l AS INT)) AS p
        FROM uwords, unnest(range(0, length(w))) AS tj(j),
          unnest(range(1, 5)) AS tl(l)
        WHERE j + l <= length(w)),
      upc AS (SELECT p, CAST(SUM(f) AS BIGINT) AS cnt
        FROM ucand JOIN wf USING (w) GROUP BY p),
      ${scoresSql("scs0", "upc")}
      ${decodeSql(1, "scs0")}${countsSql(1)},
      ${scoresSql("c1scs", "c1cnt")}
      ${decodeSql(2, "c1scs")}${countsSql(2)},
      uchars AS (SELECT DISTINCT p FROM ucand WHERE k % 4 = 1),
      usng AS (SELECT c.p, COALESCE(n.cnt, 0) + 1 AS cnt
        FROM uchars c LEFT JOIN c2cnt n USING (p)),
      umul AS (SELECT p, cnt FROM (SELECT p, cnt,
          ROW_NUMBER() OVER (ORDER BY cnt DESC, p) AS rk
        FROM c2cnt WHERE length(p) > 1) WHERE rk <= 16),
      upv AS (SELECT p, CAST(cnt AS BIGINT) AS cnt FROM usng
        UNION ALL SELECT p, CAST(cnt AS BIGINT) AS cnt FROM umul),
      ${scoresSql("upscs", "upv")},
      unv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab FROM upv)
      ${decodeSql(3, "upscs")},
      ${shortSourceWordsCte("usw")}
      SELECT sw.source, CAST(SUM(sw.f) AS BIGINT) AS n_words,
        CAST(SUM(sw.f * d.np) AS BIGINT) AS n_pieces,
        CAST(((2 * SUM(sw.f * d.np) * 10000 + SUM(sw.f))
          // (2 * SUM(sw.f))) AS DOUBLE) / 1e4 AS fertility,
        CAST(((2 * SUM(sw.f * (-d.wq)) + SUM(sw.f))
          // (2 * SUM(sw.f))) AS DOUBLE) / 1e4 AS mean_word_nll,
        unv.n_vocab
      FROM usw sw JOIN c3dec d USING (w) CROSS JOIN unv
      GROUP BY sw.source, unv.n_vocab ORDER BY sw.source"""
    },
    "x117_unigram_viterbi" -> {
      val (sList, eList) = (viterbiList("s"), viterbiList("e"))
      s"""WITH ${shortWordsCte("wf", "documents")},
      ${shortSourceWordsCte("sw")},
      cand AS (
        SELECT w, f, (j * 4 + l) AS k, substring(w, CAST(j + 1 AS INT),
          CAST(l AS INT)) AS p
        FROM wf, unnest(range(0, length(w))) AS tj(j),
          unnest(range(1, 5)) AS tl(l)
        WHERE j + l <= length(w)),
      pc AS (SELECT p, CAST(SUM(f) AS BIGINT) AS cnt
        FROM cand GROUP BY p),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM pc),
      scs AS (SELECT p,
          CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1e4, 0)
            AS BIGINT) AS sq
        FROM pc, tot),
      kl AS (
        SELECT c.w, c.k, s.sq FROM cand c JOIN scs s USING (p)),
      sclt AS (
        SELECT ww.w, list(kl.sq ORDER BY r.k) AS scl
        FROM (SELECT DISTINCT w FROM wf) ww
        CROSS JOIN range(1, 65) r(k)
        LEFT JOIN kl ON kl.w = ww.w AND kl.k = r.k
        GROUP BY ww.w),
      d0 AS (SELECT w, scl, CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS e0
        FROM sclt)
      ${viterbiDpCtes("d")},
      dict AS (SELECT w, $sList[length(w)] AS wq,
          32 * ($sList[length(w)]) - ($eList[length(w)]) AS np
        FROM d16)
      SELECT sw.source, CAST(SUM(sw.f) AS BIGINT) AS n_words,
        CAST(SUM(sw.f * d.np) AS BIGINT) AS n_pieces,
        CAST(((2 * SUM(sw.f * d.np) * 10000 + SUM(sw.f))
          // (2 * SUM(sw.f))) AS DOUBLE) / 1e4 AS fertility,
        CAST(((2 * SUM(sw.f * (-d.wq)) + SUM(sw.f))
          // (2 * SUM(sw.f))) AS DOUBLE) / 1e4 AS mean_word_nll
      FROM sw JOIN dict d USING (w)
      GROUP BY sw.source ORDER BY sw.source"""
    },
    "x107_bpe_segment" -> s"""WITH $bpeTrainCtes, ${bpeSegCtes("documents")},
        nsub AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM g$bpeK)
        SELECT sw.source, CAST(SUM(sw.f) AS BIGINT) AS n_words,
          CAST(SUM(sw.f * n.n_sub) AS BIGINT) AS n_subtok,
          CAST(SUM(CASE WHEN n.n_sub = 1 THEN sw.f ELSE 0 END) AS BIGINT)
            AS n_single,
          CAST(((2 * SUM(sw.f * n.n_sub) * 10000 + SUM(sw.f))
            // (2 * SUM(sw.f))) AS DOUBLE) / 1e4 AS fertility
        FROM sw JOIN nsub n USING (w) GROUP BY sw.source ORDER BY sw.source""",
    "x155_sgt_smoothing" -> s"""
      WITH $wordCountCte,
      $fofCte,
      tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n,
          CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT)
            AS n1
        FROM fof),
      zt AS (SELECT r, n_r,
          COALESCE(LAG(r) OVER (ORDER BY r), 0) AS q,
          COALESCE(LEAD(r) OVER (ORDER BY r),
            2 * r - COALESCE(LAG(r) OVER (ORDER BY r), 0)) AS t
        FROM fof),
      pts AS (SELECT
          CAST(ROUND(LN(CAST(r AS DOUBLE)) * 1e6, 0) AS BIGINT) AS lx,
          CAST(ROUND(LN(2 * CAST(n_r AS DOUBLE) / CAST(t - q AS DOUBLE))
            * 1e6, 0) AS BIGINT) AS ly
        FROM zt),
      $fitSumsCte,
      ft AS (SELECT
          $fitSlopeSql
        FROM sums),
      est AS (SELECT z.r, z.n_r,
          CASE WHEN nx.nn IS NOT NULL THEN
            (2 * (z.r + 1) * nx.nn * 10000 + z.n_r) // (2 * z.n_r)
          END AS t4,
          CAST(ROUND(CAST(z.r AS DOUBLE)
            * EXP((CAST(f.slope_q AS DOUBLE) / 1e6 + 1)
              * LN(1 + 1 / CAST(z.r AS DOUBLE))) * 1e4, 0) AS BIGINT)
            AS l4,
          CASE WHEN nx.nn IS NOT NULL THEN
            CAST(ROUND(1.65 * SQRT(CAST((z.r + 1) * (z.r + 1) AS DOUBLE)
              * (CAST(nx.nn AS DOUBLE) / (CAST(z.n_r AS DOUBLE) * z.n_r))
              * (1 + CAST(nx.nn AS DOUBLE) / z.n_r)) * 1e4, 0) AS BIGINT)
          ELSE CAST(0 AS BIGINT) END AS thr4
        FROM fof z
        LEFT JOIN (SELECT r - 1 AS r, n_r AS nn FROM fof) nx USING (r),
        ft f),
      sw AS (SELECT COALESCE(MIN(r), 9223372036854775807) AS sr
        FROM est WHERE t4 IS NULL OR abs(t4 - l4) <= thr4),
      fin AS (SELECT r, n_r, t4, l4,
          CASE WHEN r < sw.sr THEN t4 ELSE l4 END AS e4
        FROM est, sw),
      ssum AS (SELECT CAST(SUM(CAST(n_r AS HUGEINT) * e4) AS HUGEINT)
          AS s
        FROM fin)
      SELECT f.r, f.n_r, CAST(f.t4 AS DOUBLE) / 1e4 AS r_turing,
        CAST(f.l4 AS DOUBLE) / 1e4 AS r_lgt,
        CAST(f.e4 AS DOUBLE) / 1e4 AS r_sgt,
        CAST((2 * (CAST(t.n - t.n1 AS HUGEINT) * f.e4 * 100000000)
            + CAST(t.n AS HUGEINT) * s.s)
          // (2 * CAST(t.n AS HUGEINT) * s.s) AS DOUBLE) / 1e8 AS p_sgt,
        f.r >= sw.sr AS lgt_used
      FROM fin f, tot t, ssum s, sw ORDER BY f.r""",
    "x153_heaps_fit" -> s"""
      WITH $vocabGrowthCtes,
      curve AS (SELECT
          CAST(SUM(a.n_tok) OVER (ORDER BY a.bucket) AS BIGINT) AS cum_tok,
          CAST(SUM(COALESCE(f.n_new_types, 0)) OVER (ORDER BY a.bucket)
            AS BIGINT) AS cum_types
        FROM arrivals a LEFT JOIN fresh f USING (bucket)),
      pts AS (SELECT
          CAST(ROUND(LN(CAST(cum_tok AS DOUBLE)) * 1e6, 0) AS BIGINT)
            AS lx,
          CAST(ROUND(LN(CAST(cum_types AS DOUBLE)) * 1e6, 0) AS BIGINT)
            AS ly
        FROM curve),
      $fitLineCtes,
      pr AS (SELECT CAST(ROUND(LN(CAST(10 * MAX(cum_tok) AS DOUBLE))
          * 1e6, 0) AS HUGEINT) AS lx10 FROM curve)
      SELECT CAST(n AS BIGINT) AS n_points,
        CAST(slope_q AS DOUBLE) / 1e6 AS beta,
        CAST(a_q AS DOUBLE) / 1e6 AS ln_k,
        ROUND(EXP(CAST(a_q + (CASE WHEN slope_q * lx10 < 0 THEN -1
            ELSE 1 END) * ((2 * abs(slope_q * lx10) + 1000000)
            // 2000000) AS DOUBLE) / 1e6), 2) AS v_pred_10x
      FROM ft2, pr""",
    "x154_zipf_fit" -> s"""
      WITH $wordCountCte,
      top AS (SELECT c, rk FROM (
          SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk
          FROM cnt)
        WHERE rk <= 30),
      pts AS (SELECT
          CAST(ROUND(LN(CAST(rk AS DOUBLE)) * 1e6, 0) AS BIGINT) AS lx,
          CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT) AS ly
        FROM top),
      $fitLineCtes,
      res AS (SELECT p.ly,
          f.a_q + (CASE WHEN f.slope_q * p.lx < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(f.slope_q * p.lx) + 1000000) // 2000000) AS pred
        FROM pts p, ft2 f),
      yb AS (SELECT (CASE WHEN sy < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(sy) + n) // (2 * n)) AS ybar FROM sums),
      ss AS (SELECT
          CAST(SUM((CAST(ly AS HUGEINT) - yb.ybar)
            * (CAST(ly AS HUGEINT) - yb.ybar)) AS HUGEINT) AS sstot,
          CAST(SUM((CAST(ly AS HUGEINT) - pred)
            * (CAST(ly AS HUGEINT) - pred)) AS HUGEINT) AS ssres
        FROM res, yb GROUP BY ALL)
      SELECT CAST(f.n AS BIGINT) AS n_points,
        CAST(f.slope_q AS DOUBLE) / 1e6 AS slope,
        CAST(f.a_q AS DOUBLE) / 1e6 AS intercept,
        CASE WHEN ss.sstot > 0 THEN
          CAST((CASE WHEN ss.sstot - ss.ssres < 0 THEN -1 ELSE 1 END)
            * ((2 * abs((ss.sstot - ss.ssres) * 1000000) + ss.sstot)
              // (2 * ss.sstot)) AS DOUBLE) / 1e6 END AS r2
      FROM ft2 f, ss""",
    "x67_vocab_growth" -> s"""
      WITH $vocabGrowthCtes
      SELECT a.bucket, CAST(a.n_tok AS BIGINT) AS n_tok,
        CAST(COALESCE(f.n_new_types, 0) AS BIGINT) AS n_new_types,
        CAST(SUM(a.n_tok) OVER (ORDER BY a.bucket) AS BIGINT) AS cum_tok,
        CAST(SUM(COALESCE(f.n_new_types, 0)) OVER (ORDER BY a.bucket)
          AS BIGINT) AS cum_types
      FROM arrivals a LEFT JOIN fresh f USING (bucket)
      ORDER BY bucket""",
    "x83_kn_logppl" -> s"""$knScoredCtes
      SELECT doc_id, n_steps,
        CAST((CASE WHEN s_lp < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(s_lp) + n_steps) // (2 * n_steps)) AS DOUBLE) / 1e4
          AS ppl3_kn
      FROM agg ORDER BY doc_id""",
    "x113_ppl_buckets" -> s"""$knScoredCtes,
      ppl AS (SELECT a.doc_id, d.lang,
          CAST((CASE WHEN a.s_lp < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(a.s_lp) + a.n_steps) // (2 * a.n_steps)) AS DOUBLE)
            / 1e4 AS ppl3_kn
        FROM agg a JOIN documents d USING (doc_id)),
      hist AS (SELECT lang, ppl3_kn, COUNT(*) AS c FROM ppl GROUP BY 1, 2),
      cum AS (SELECT lang, ppl3_kn,
          SUM(c) OVER (PARTITION BY lang ORDER BY ppl3_kn) AS cum,
          SUM(c) OVER (PARTITION BY lang) AS n
        FROM hist),
      cuts AS (SELECT lang,
          MIN(CASE WHEN cum * 3 >= n THEN ppl3_kn END) AS c1,
          MIN(CASE WHEN cum * 3 >= n * 2 THEN ppl3_kn END) AS c2
        FROM cum GROUP BY lang)
      SELECT p.doc_id, p.lang, p.ppl3_kn,
        CASE WHEN p.ppl3_kn <= c.c1 THEN 'head'
          WHEN p.ppl3_kn <= c.c2 THEN 'middle'
          ELSE 'tail' END AS bucket
      FROM ppl p JOIN cuts c USING (lang) ORDER BY p.doc_id""",
    "x64_backoff_logppl" -> """
      WITH tk AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      ttk AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents WHERE lang = 'en'),
      uni AS (SELECT w, COUNT(*) AS c1
        FROM (SELECT unnest(toks) AS w FROM ttk) GROUP BY w),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS nt,
        CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      big AS (SELECT g, COUNT(*) AS c2
        FROM (SELECT unnest(list_transform(
            range(1, greatest(len(toks) - 1, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1])) AS g FROM ttk) GROUP BY g),
      tri AS (SELECT g, COUNT(*) AS c3
        FROM (SELECT unnest(list_transform(
            range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
          FROM ttk) GROUP BY g),
      steps AS (SELECT doc_id, toks, unnest(range(3, len(toks) + 1)) AS i
        FROM tk WHERE len(toks) >= 3),
      flat AS (SELECT doc_id,
          toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i] AS g3,
          toks[i-2] || ' ' || toks[i-1] AS g2ctx,
          toks[i-1] || ' ' || toks[i] AS g2,
          toks[i-1] AS wctx, toks[i] AS w
        FROM steps),
      sc AS (SELECT doc_id,
          CAST(ROUND(-LN(
            CASE WHEN t.c3 IS NOT NULL
                THEN CAST(t.c3 AS DOUBLE) / b1.c2
              WHEN b2.c2 IS NOT NULL
                THEN CAST(b2.c2 * 2 AS DOUBLE) / (u1.c1 * 5)
              ELSE CAST((COALESCE(u2.c1, 0) + 1) * 4 AS DOUBLE)
                / ((tot.nt + tot.v) * 25) END) * 1e4, 0) AS BIGINT) AS lp_q
        FROM flat
        LEFT JOIN tri t ON t.g = flat.g3
        LEFT JOIN big b1 ON b1.g = flat.g2ctx
        LEFT JOIN big b2 ON b2.g = flat.g2
        LEFT JOIN uni u1 ON u1.w = flat.wctx
        LEFT JOIN uni u2 ON u2.w = flat.w
        CROSS JOIN tot),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_steps,
          CAST(SUM(lp_q) AS BIGINT) AS s_lp
        FROM sc GROUP BY doc_id)
      SELECT doc_id, n_steps,
        CAST((CASE WHEN s_lp < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(s_lp) + n_steps) // (2 * n_steps)) AS DOUBLE) / 1e4
          AS ppl3_proxy
      FROM agg ORDER BY doc_id""",
    "x63_pmi_cooccurrence" -> """
      WITH toks AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks,
          len(regexp_split_to_array(trim(text), '\s+')) AS n
        FROM documents),
      pos AS (SELECT toks, n, unnest(range(1, n + 1)) AS i FROM toks),
      pk AS (SELECT toks, n, i, unnest(range(1, 5)) AS k FROM pos),
      pairs AS (
        SELECT LEAST(toks[i], toks[i + k]) AS w1,
          GREATEST(toks[i], toks[i + k]) AS w2
        FROM pk WHERE i + k <= n),
      pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_pair
        FROM pairs GROUP BY w1, w2),
      uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
        FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY w),
      np AS (SELECT CAST(SUM(c_pair) AS BIGINT) AS n_pairs FROM pc),
      mt AS (SELECT CAST(SUM(c_w) AS BIGINT) AS m_toks FROM uni)
      SELECT w1, w2, c_pair,
        CAST(CAST(ROUND(LN(
          (CAST(c_pair AS DOUBLE) / CAST(n_pairs AS DOUBLE))
          / ((CAST(u1.c_w AS DOUBLE) / CAST(m_toks AS DOUBLE))
            * (CAST(u2.c_w AS DOUBLE) / CAST(m_toks AS DOUBLE)))) * 1e4, 0)
          AS BIGINT) AS DOUBLE) / 1e4 AS pmi
      FROM pc
      JOIN uni u1 ON u1.w = pc.w1
      JOIN uni u2 ON u2.w = pc.w2
      CROSS JOIN np CROSS JOIN mt
      WHERE c_pair >= 5
      ORDER BY pmi DESC, w1, w2
      LIMIT 100""",
    "x127_em_interpolation" -> {
      val em = new StringBuilder
      for (k <- 1 to 5) {
        val den = "l0 * p0 + l1 * p1 + l2 * p2 + l3 * p3"
        val sums = (0 to 3).map(o =>
          s"""CAST(SUM(CAST(ROUND(l$o * p$o / ($den) * 1e6, 0)
            AS BIGINT)) AS BIGINT) AS s$o""").mkString(",\n          ")
        em ++= s""",
      e$k AS (SELECT
          $sums
        FROM scored, lam${k - 1}),
      lam$k AS (SELECT
          CAST(s0 AS DOUBLE) / (CAST(t AS DOUBLE) * 1e6) AS l0,
          CAST(s1 AS DOUBLE) / (CAST(t AS DOUBLE) * 1e6) AS l1,
          CAST(s2 AS DOUBLE) / (CAST(t AS DOUBLE) * 1e6) AS l2,
          CAST(s3 AS DOUBLE) / (CAST(t AS DOUBLE) * 1e6) AS l3
        FROM e$k, tcount)"""
      }
      s"""WITH sp AS (SELECT doc_id, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
            AS b
        FROM documents),
      ttr AS (
        SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM sp WHERE b < 90),
      uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(toks) AS w FROM ttr) GROUP BY w),
      scal AS (SELECT CAST(SUM(c1) AS BIGINT) AS nn,
          CAST(COUNT(*) AS BIGINT) AS vv
        FROM uni),
      bi AS (
        SELECT toks[CAST(i - 1 AS INT)] AS v, toks[CAST(i AS INT)] AS w,
          CAST(COUNT(*) AS BIGINT) AS c2
        FROM ttr, unnest(range(2, len(toks) + 1)) AS t(i)
        GROUP BY 1, 2),
      ctx2 AS (SELECT v, CAST(SUM(c2) AS BIGINT) AS k2
        FROM bi GROUP BY v),
      tri AS (
        SELECT toks[CAST(i - 2 AS INT)] AS u, toks[CAST(i - 1 AS INT)] AS v,
          toks[CAST(i AS INT)] AS w, CAST(COUNT(*) AS BIGINT) AS c3
        FROM ttr, unnest(range(3, len(toks) + 1)) AS t(i)
        GROUP BY 1, 2, 3),
      ctx3 AS (SELECT u, v, CAST(SUM(c3) AS BIGINT) AS k3
        FROM tri GROUP BY u, v),
      ho AS (
        SELECT toks[CAST(i - 2 AS INT)] AS u, toks[CAST(i - 1 AS INT)] AS v,
          toks[CAST(i AS INT)] AS w
        FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM sp WHERE b >= 90 AND b < 95),
          unnest(range(3, len(toks) + 1)) AS t(i)),
      scored AS (
        SELECT 1.0 / (CAST(vv AS DOUBLE) + 1.0) AS p0,
          CAST(COALESCE(c1, 0) AS DOUBLE) / CAST(nn AS DOUBLE) AS p1,
          CASE WHEN k2 IS NULL THEN 0.0
            ELSE CAST(COALESCE(c2, 0) AS DOUBLE) / CAST(k2 AS DOUBLE) END
            AS p2,
          CASE WHEN k3 IS NULL THEN 0.0
            ELSE CAST(COALESCE(c3, 0) AS DOUBLE) / CAST(k3 AS DOUBLE) END
            AS p3
        FROM ho
        LEFT JOIN uni USING (w)
        LEFT JOIN bi USING (v, w)
        LEFT JOIN ctx2 USING (v)
        LEFT JOIN tri USING (u, v, w)
        LEFT JOIN ctx3 USING (u, v)
        CROSS JOIN scal),
      tcount AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM scored),
      lam0 AS (SELECT CAST(0.25 AS DOUBLE) AS l0, CAST(0.25 AS DOUBLE) AS l1,
        CAST(0.25 AS DOUBLE) AS l2, CAST(0.25 AS DOUBLE) AS l3)
      $em
      SELECT component, lambda FROM (
        SELECT 'uniform' AS component, ROUND(l0, 6) AS lambda FROM lam5
        UNION ALL SELECT 'unigram', ROUND(l1, 6) FROM lam5
        UNION ALL SELECT 'bigram', ROUND(l2, 6) FROM lam5
        UNION ALL SELECT 'trigram', ROUND(l3, 6) FROM lam5)
      ORDER BY component"""
    },
    "x54_token_fertility" -> """
      WITH t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
          AS n_words,
        CAST(SUM(len(regexp_extract_all(text,
          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_bpeish,
        CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes
        FROM documents GROUP BY source)
      SELECT source, n_docs, n_words, n_bpeish, n_bytes,
        CAST((2 * abs(n_bpeish * 10000) + n_words) // (2 * n_words)
          AS DOUBLE) / 1e4 AS fertility,
        CAST((2 * abs(n_bytes * 10000) + n_bpeish) // (2 * n_bpeish)
          AS DOUBLE) / 1e4 AS bytes_per_tok
      FROM t ORDER BY source""",
    "x44_vocab_coverage" -> """
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
      hist AS (SELECT c, COUNT(*) AS n, c * COUNT(*) AS tok_mass
        FROM cnt GROUP BY c),
      cum AS (SELECT c, n, tok_mass,
          SUM(n) OVER (ORDER BY c DESC
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after,
          SUM(n) OVER (ORDER BY c DESC
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cum_prev
        FROM hist),
      tot AS (SELECT CAST(SUM(tok_mass) AS BIGINT) AS total_tok,
        CAST(SUM(n) AS BIGINT) AS total_vocab FROM hist),
      ks AS (SELECT * FROM (VALUES (100), (1000), (10000)) t(k))
      SELECT k,
        LEAST(CAST(k AS BIGINT), (SELECT total_vocab FROM tot)) AS vocab_k,
        CAST(SUM(CASE WHEN cum_after <= k THEN tok_mass
          ELSE (k - cum_prev) * c END) AS BIGINT) AS covered_tok,
        CAST((2 * abs(CAST(SUM(CASE WHEN cum_after <= k THEN tok_mass
              ELSE (k - cum_prev) * c END) AS BIGINT) * 10000)
            + (SELECT total_tok FROM tot))
          // (2 * (SELECT total_tok FROM tot)) AS DOUBLE) / 1e4 AS coverage
      FROM ks JOIN cum ON cum_prev < k
      GROUP BY k
      ORDER BY k""",
    "x40_bigram_logppl" -> """
      WITH tk AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      uni AS (SELECT w1, COUNT(*) AS c1
              FROM (SELECT unnest(toks) AS w1 FROM tk) GROUP BY w1),
      bi AS (SELECT doc_id, g, split_part(g, ' ', 1) AS w1
             FROM (SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1])) AS g FROM tk)),
      cnt2 AS (SELECT g, COUNT(*) AS c2 FROM bi GROUP BY g),
      agg AS (SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(SUM(CAST(ROUND(-LN(CAST(c2 AS DOUBLE) / c1) * 1e4, 0)
            AS BIGINT)) AS BIGINT) AS s_lp
        FROM bi JOIN cnt2 USING (g) JOIN uni USING (w1)
        GROUP BY doc_id)
      SELECT doc_id, n_bigrams,
        CAST((CASE WHEN s_lp < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(s_lp) + n_bigrams) // (2 * n_bigrams)) AS DOUBLE) / 1e4
          AS ppl2_proxy
      FROM agg
      ORDER BY doc_id""",
    "x39_unigram_logppl" -> """
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
      tot AS (SELECT COUNT(*) AS n FROM tok),
      agg AS (SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_tok,
          CAST(SUM(CAST(ROUND(-LN(CAST(c AS DOUBLE) / n) * 1e4, 0) AS BIGINT))
            AS BIGINT) AS s_lp
        FROM tok JOIN cnt USING (token) CROSS JOIN tot
        GROUP BY doc_id)
      SELECT doc_id, n_tok,
        CAST((CASE WHEN s_lp < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(s_lp) + n_tok) // (2 * n_tok)) AS DOUBLE) / 1e4
          AS ppl_proxy
      FROM agg
      ORDER BY doc_id""",
    "x9_token_count" -> """
      SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tok,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
          AS n_bpeish
      FROM documents ORDER BY doc_id""")
}
