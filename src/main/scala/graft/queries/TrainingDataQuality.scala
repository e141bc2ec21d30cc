package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Pin, Store, Tables}
import graft.text.TextFunctions._
import graft.queries.TrainingData._

/** Text-quality filters and audits: quality scores, language ID,
  * Gopher rules, PII redaction, decontamination, sequence packing,
  * chunking and corpus-level quality reports. Store: the staged
  * curation table. */
object TrainingDataQuality {

  private val markerSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "pt" -> Seq("de", "o", "da", "em"),
    "de" -> Seq("der", "die", "das", "und"))

  /** X8: quality scoring — length / punctuation / stopword signals. */
  val x8QualityScore: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tok"),
        round(punctRatio(col("text")), 4).as("punct_ratio"),
        round(stopwordRatio(col("text"), stopwords), 4).as("stop_ratio"),
        qualityScore(col("text"), stopwords).as("quality"))
      .orderBy(col("doc_id"))

  /** X7: marker-word language ID heuristic. */
  val x7LangId: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), langId(col("text"), markerSets).as("lang_detectada"))
      .orderBy(col("doc_id"))

  /** X19: Gopher-style repetition quality signal — the share of all
    * word 2-grams taken by the single most frequent 2-gram (Rae et
    * al.'s repetition filters). Two partial-aggregating shuffles:
    * (doc, gram) counts then per-doc max/sum; at 100 TB both are
    * map-side combinable and nothing materializes the gram lists past
    * the first exchange. Docs with <2 tokens have no 2-grams and drop
    * out (documented inner semantics). */
  val x19GopherRepetition: Q = (s, d) => {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(allShinglesOfToks(col("toks"), 2)).as("g"))
    grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("total_2grams"), max(col("c")).as("top_2gram_n"))
      .withColumn("rep_ratio",
        col("top_2gram_n").cast("double") / col("total_2grams"))
      .withColumn("repetitive", col("rep_ratio") > 0.05)
      .orderBy(col("doc_id"))
  }

  /** X41: the second Gopher repetition filter (Rae et al. publish a
    * SUITE: x19 carries "top n-gram share", this carries "fraction of
    * tokens in duplicate n-grams" — a doc can pass one and fail the
    * other, e.g. many distinct phrases each repeated twice). Per doc:
    * the share of all 3-gram slots taken by 3-grams occurring ≥2×
    * WITHIN that doc. Same two map-side-combinable shuffles as x19
    * ((doc, gram) counts → per-doc sums); nothing global, nothing
    * beyond the doc's own gram table. Docs with <3 tokens have no
    * 3-gram and drop out (inner semantics, like x19). */
  val x41GopherDupNgrams: Q = (s, d) => {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(allShinglesOfToks(col("toks"), 3)).as("g"))
    grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("total_3grams"),
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0))).as("dup_3gram_n"))
      .withColumn("dup_ratio",
        col("dup_3gram_n").cast("double") / col("total_3grams"))
      .withColumn("repetitive", col("dup_ratio") > 0.3)
      .orderBy(col("doc_id"))
  }

  /** X20: benchmark decontamination — flag training docs sharing any
    * distinct word 3-gram with the eval set (doc_id < 50 here; a real
    * pipeline swaps in the benchmark corpus). The eval side is tiny by
    * construction, so the gram join is an explicit broadcast: the 100
    * TB training corpus streams map-side against the broadcast gram
    * set — no shuffle of the corpus at all until the per-doc count
    * aggregation of the (rare) matches. */
  val x20Decontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val evalGrams = docs.filter(col("doc_id") < 50)
      .select(col("doc_id").as("eval_id"), wsTokens(col("text")).as("toks"))
      .select(col("eval_id"), explode(shinglesOfToks(col("toks"), 3)).as("g"))
    val trainGrams = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesOfToks(col("toks"), 3)).as("g"))
    trainGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_overlap_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** X97: CANONICALIZED decontamination — x20 with the normalization
    * step real pipelines apply before n-gram overlap (GPT-3's
    * decontamination lowercases and strips punctuation; raw-token
    * overlap misses an eval item that was re-cased or re-punctuated
    * in the crawl): tokens are lowercased, stripped to [A-Za-z0-9],
    * empties dropped, THEN shingled — at SIX grams, not x20's three:
    * canonicalization collapses surface variants and inflates the
    * document frequency of short grams, and the overlap join's
    * intermediate is Σ_g df_train(g)·df_eval(g) — measured 48 s at
    * sf0.1 with canonical 3-grams vs sub-second at 6 (which is WHY
    * GPT-3-class pipelines decontaminate on 8-13-grams: long grams
    * are the blowup control, not just a precision knob). The fixture
    * plants the failure mode — uppercased+re-punctuated copies of
    * the eval docs (+6M ids) in the train side — which this catches
    * and x20's raw grams cannot. Same broadcast-eval join shape as
    * x20 (the eval set is always the small side at any corpus
    * scale). */
  val x97CanonDecontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    def canon(c: Column) = filter(
      transform(wsTokens(c),
        t => lower(regexp_replace(t, "[^A-Za-z0-9]", ""))),
      t => length(t) > 0)
    val evalGrams = docs.filter(col("doc_id") < 50)
      .select(col("doc_id").as("eval_id"), canon(col("text")).as("ctoks"))
      .select(col("eval_id"), explode(shinglesOfToks(col("ctoks"), 6)).as("g"))
    // the training corpus (with its re-cased eval copies) is the
    // STAGED derived fixture — see [[ensurePlantedFixtures]]; the
    // oracle recomputes it from the base table
    val train = s.read.parquet(
      s"${ensurePlantedFixtures(s, d)}/docs_canon_train")
    val trainGrams = train
      .select(col("doc_id"), canon(col("text")).as("ctoks"))
      .select(col("doc_id"), explode(shinglesOfToks(col("ctoks"), 6)).as("g"))
    trainGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_overlap_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** Sequence-packing core over (doc_id, source, n_tok) rows — the
    * concat-and-chunk step every LLM training pipeline runs after
    * curation (documents concatenated in a stable order, split at
    * fixed `b`-token boundaries into training sequences). Packing is
    * per (source, sub_shard): each source splits into `subShards`
    * hash sub-shards ([[subShard]]) with INDEPENDENT sequence spaces,
    * a window cumsum gives each doc its token offset within its
    * sub-shard, docs spanning a boundary land in every sequence they
    * overlap, and the report aggregates per (source, sub_shard,
    * sequence). 100 TB design: packing order is only ever needed
    * within a shard (production packs per input file/partition), so
    * there is no global order and no single-partition window — and a
    * skewed source is bounded by its sub-shard size, not its own: set
    * `subShards ≈ source_tokens / tokens_per_task` for the hot
    * source. Zero-token docs are dropped (they span no sequence and
    * would otherwise emit spurious boundary rows). Reusable on any
    * tokenized corpus (x25 and the packing property test share it). */
  private[graft] def packSequences(rows: DataFrame, b: Int,
      subShards: Int = 1): DataFrame =
    packSegments(rows, b, subShards)
      .groupBy(col("source"), col("sub_shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks_na_seq")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("sub_shard"), col("seq_id"))

  /** The exploded (doc-segment × sequence) rows under [[packSequences]]'s
    * contract — each row is the slice of one document landing in one
    * `b`-token training sequence, with its in-sequence token length
    * (`toks_na_seq`). x25 aggregates these into the packing report;
    * x121 audits their boundary structure. Shared so the packer and
    * its audit cannot drift. */
  private[graft] def packSegments(rows: DataFrame, b: Int,
      subShards: Int = 1): DataFrame = {
    require(b > 0, s"sequence budget must be positive, got $b")
    require(subShards > 0, s"sub-shard count must be positive, got $subShards")
    val w = Window.partitionBy(col("source"), col("sub_shard"))
      .orderBy(col("doc_id"))
    rows
      .filter(col("n_tok") > 0)
      .withColumn("sub_shard", subShard(subShards))
      .withColumn("ini", sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col("source"), col("sub_shard"), col("doc_id"), col("ini"),
        col("n_tok"),
        explode(sequence(floor(col("ini") / b),
          floor((col("ini") + col("n_tok") - 1) / b))).as("seq_id"))
      .withColumn("toks_na_seq",
        least(col("ini") + col("n_tok"), (col("seq_id") + 1) * b)
          - greatest(col("ini"), col("seq_id") * b))
  }

  /** X121: pack boundary / attention-contamination audit — the cost
    * report for training WITHOUT document-masked attention on x25's
    * concat-and-chunk packs: when documents are concatenated and
    * split at fixed boundaries, a fraction of every sequence's
    * attention pairs crosses a document boundary (tokens attending
    * into an unrelated neighbor). Per sequence that fraction is
    * closed-form from the segment lengths alone — (L² − Σᵢlᵢ²)/L²
    * over ordered pairs — so the audit needs NO token materialization:
    * per source it reports sequences, doc-segments, max/mean docs per
    * sequence, and the corpus-level cross-document attention fraction
    * (the number that decides whether the trainer must pay for
    * block-diagonal attention masks). Shares [[packSegments]] with
    * x25 (packer and audit cannot drift); everything after the
    * segment explode is two map-side-combinable integer aggregations
    * onto |sources|×shards then |sources| rows. All ratios pure-BIGINT
    * [[intRoundHalfAway]]. */
  val x121PackBoundaryAudit: Q = (s, d) =>
    packSegments(
      Tables.documents(s, d).select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tok")),
      b = 256, subShards = 4)
      .groupBy(col("source"), col("sub_shard"), col("seq_id"))
      .agg(count(lit(1)).as("nd"), sum(col("toks_na_seq")).as("l"),
        sum(col("toks_na_seq") * col("toks_na_seq")).as("s2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("nd")).as("n_segments"),
        max(col("nd")).as("max_docs_seq"),
        sum(col("l") * col("l") - col("s2")).as("cross"),
        sum(col("l") * col("l")).as("tot"))
      .select(col("source"), col("n_seqs"), col("n_segments"),
        col("max_docs_seq"),
        (intRoundHalfAway(col("n_segments") * 10000L, col("n_seqs"))
          .cast("double") / 1e4).as("mean_docs_seq"),
        (intRoundHalfAway(col("cross") * 10000L, col("tot"))
          .cast("double") / 1e4).as("cross_frac"))
      .orderBy(col("source"))

  val x25PackSequences: Q = (s, d) =>
    packSequences(
      Tables.documents(s, d).select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tok")),
      b = 256, subShards = 4)

  private val emailRe = emailPattern

  private val phoneRe = phonePattern

  /** The corpus with deterministic synthetic PII appended (the fixture
    * text has none): every 7th doc gains an email, every 11th a
    * BR-format phone — both derived from doc_id so the DuckDB oracle
    * rebuilds the identical corpus. */
  private def piiCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contato: user"), col("doc_id"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" fone: (11) 99999-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text"))

  /** X26: PII redaction — scan-speed regex scrub (emails, phones)
    * with per-doc match counts, the pre-training privacy pass. Pure
    * codegen'd Column expressions (regexp_count/regexp_replace), no
    * shuffle, no UDF: at 100 TB this runs at parquet-scan speed and
    * the regexes are RE2-compatible (no backtracking blowup on
    * adversarial text). Both engines replay the same injected corpus
    * ([[piiCorpus]]), so the hash compare proves redaction equality,
    * not just counts. */
  val x26PiiRedaction: Q = (s, d) =>
    piiCorpus(s, d)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).cast("int").as("n_emails"),
        regexp_count(col("text"), lit(phoneRe)).cast("int").as("n_phones"),
        md5(redactPii(col("text"))).as("fp_redigido"))
      .orderBy(col("doc_id"))

  /** Test probe: docs whose REDACTED text still matches a PII regex —
    * redaction must be a fixpoint (EngineSpec). */
  private[graft] def piiFixpointProbe(s: SparkSession, d: String): Long =
    piiCorpus(s, d)
      .select(redactPii(col("text")).as("t"))
      .filter(regexp_count(col("t"), lit(emailRe)) > 0 ||
        regexp_count(col("t"), lit(phoneRe)) > 0)
      .count()

  /** X30: TF-IDF keyword extraction — top-3 tokens per document by
    * tf·idf (idf = ln((N+1)/(df+1)), scores 4dp-rounded for stable
    * cross-engine ranking, token tie-break). Corpus-wide df rides ONE
    * map-side-combinable (token → doc-count) aggregate whose output is
    * vocabulary-sized; tf is per-doc local. No broadcast hint on the
    * df join: a 100 TB corpus's vocabulary can exceed broadcast
    * limits, so AQE picks the strategy (it broadcasts at fixture
    * scale anyway — plan-asserted in PlansSpec). Nothing shuffles the
    * corpus twice at scale. */
  val x30TfidfTopk: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // corpus size as a 1-row broadcast (the A10 scalar pattern), not a
    // driver-side count — the whole query stays one lazy plan
    val nDocs = docs.agg(count(lit(1)).as("n_corpus"))
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // tf is already one row per (doc_id, token): a plain count is the
    // same number as count-distinct without the distinct-expand
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") *
        log((col("n_corpus") + 1.0) / (col("df") + lit(1.0))), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** X32: per-source quality calibration — normalize the quality gate
    * ACROSS domains by keeping each source's top docs relative to its
    * OWN quality distribution (a fixed global threshold over-prunes
    * noisy domains and under-prunes clean ones; recipe-style curation
    * calibrates per source). The per-source 60th-percentile cut is
    * computed on a HISTOGRAM of the 4dp-rounded quality — bounded
    * cardinality by construction (≤ 10⁴ buckets/source), so the
    * corpus shuffles only map-side-combinable (source, quality)
    * counts, the cumulative window runs over the tiny histogram, and
    * the threshold table is mixture-key-sized → broadcast back. The
    * corpus itself is never windowed; it IS scanned twice (histogram
    * pass + filter pass — inherent to compute-threshold-then-apply;
    * at 100 TB quality is staged as an ingest column and the
    * calibration pass prices histogram-only). Keep rule: quality strictly
    * above the nearest-rank cut (engine-exact: the cut is an observed
    * 4dp value, no interpolation). */
  val x32QualityCalibration: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        qualityScore(col("text"), stopwords).as("quality"))
    val hist = scored.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("c"))
    val corte = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("quality"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      .filter(col("cum") >= ceil(col("n") * 0.6))
      .groupBy(col("source")).agg(min(col("quality")).as("corte"))
    scored.join(broadcast(corte), Seq("source"))
      .filter(col("quality") > col("corte"))
      .select(col("source"), col("doc_id"), col("quality"), col("corte"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Materialize the ingest-staged corpus once per sf-dir: the
    * [[graft.streaming.DocStream.curate]] output (redacted text,
    * n_tok, quality — the stream/batch-identical curation pass)
    * persisted to parquet, quality carried as a COLUMN. This is the
    * producer side of x32b's single-pass calibration: at 100 TB the
    * quality score is computed once at ingest, not re-derived from
    * text by every downstream consumer. minQuality=0 keeps every doc
    * (calibration wants the full distribution; the threshold comes
    * AFTER calibration). */
  private[queries] def ensureCuratedStaged(s: SparkSession, d: String): String =
    Store.materialize("curated_staged", "v1", d, "documents") { path =>
      graft.streaming.DocStream.curate(
        Tables.documents(s, d), minQuality = 0.0, stopwords)
        .write.mode("overwrite").parquet(path)
    }

  /** X32b: the single-corpus-scan variant of [[x32QualityCalibration]]
    * — the documented 100 TB path made real. Quality is read from the
    * ingest-staged table ([[ensureCuratedStaged]]), never recomputed:
    * the calibration pass prices HISTOGRAM-ONLY (a (source, quality)
    * column-pruned scan — no text read, no regex work, bounded ≤10⁴
    * buckets/source), and the filter pass is the one corpus scan,
    * again without touching `text`. Same cut rule and output as x32,
    * so the same oracle proves the staged column carries the exact
    * score. Plan receipt (PLANS.md): both scans' ReadSchema exclude
    * `text`; no qualityScore expression appears anywhere. */
  val x32bQualityIngest: Q = (s, d) => {
    val staged = s.read.parquet(ensureCuratedStaged(s, d))
    val corte = staged
      .groupBy(col("source"), col("quality")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("quality"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      .filter(col("cum") >= ceil(col("n") * 0.6))
      .groupBy(col("source")).agg(min(col("quality")).as("corte"))
    staged.join(broadcast(corte), Seq("source"))
      .filter(col("quality") > col("corte"))
      .select(col("source"), col("doc_id"), col("quality"), col("corte"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** X38: per-source token-length distribution — log2-bucketed doc
    * length histogram, the packing/truncation diagnostic every corpus
    * report carries (how much of a source sits beyond the training
    * sequence length drives the x25 packing budget and the truncation
    * loss estimate). Bucket = floor(log2(n_tok)) computed as binary
    * BIT LENGTH (integer-exact in both engines; a double log2 is one
    * ulp off exactly at the power-of-2 bucket boundaries). ONE
    * map-side-combinable aggregate over (source, bucket). */
  val x38LengthHistogram: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("balde", (length(bin(col("n_tok"))) - 1).cast("int"))
      .groupBy(col("source"), col("balde"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("balde"))

  /** X52: cross-document n-gram novelty — per doc, the fraction of
    * its distinct 3-grams that occur in NO other document
    * (document frequency 1). Low novelty flags templated /
    * boilerplate-heavy docs — the cross-corpus complement of x41's
    * within-doc repetition (Gopher prices a doc against itself;
    * this prices it against the corpus). Shape: a df-1 shingle has
    * exactly ONE owning doc, so `min(doc_id)` inside the df
    * aggregation attributes uniqueness without ever joining back on
    * the shingle key — both shuffles land on doc-keyed tables and
    * the final join is doc-sized (a shingle-keyed join-back would
    * re-shuffle the full posting set, the thing to avoid at 100 TB).
    * Docs shorter than n tokens have no shingles and drop out
    * (documented; both engines agree). */
  val x52NgramNovelty: Q = (s, d) => {
    val sh = spread(s, Tables.documents(s, d))
      .select(col("doc_id"),
        explode(shinglesOfToks(wsTokens(col("text")), 3)).as("sh"))
    val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val uniq = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner")).agg(count(lit(1)).as("n_unique"))
    val nov = intRoundHalfAway(coalesce(col("n_unique"), lit(0L)) * 10000L,
      col("n_grams")).cast("double") / 1e4
    perDoc.join(uniq, perDoc("doc_id") === uniq("owner"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        nov.as("novelty"),
        (nov < 0.2).as("templated"))
      .orderBy(col("doc_id"))
  }

  /** X53: per-doc character-entropy quality signal — Shannon entropy
    * in bits over the document's character distribution. Near-zero
    * entropy flags degenerate / repeated-char docs, abnormally high
    * entropy flags binary-ish payloads — both standard cheap
    * pre-filters ahead of the expensive dedup / LM-scoring stages.
    * Shape: explode to (doc_id, char) and count — that shuffle is
    * map-side combinable and lands doc-keyed; the per-doc total then
    * rides a doc-partitioned window, and the final entropy
    * aggregation groups on the SAME key, so Catalyst reuses one
    * hash partitioning for all three stages (plan-asserted: a single
    * doc_id exchange). The exchange moves the PRE-explode doc rows —
    * hash(doc_id) partitioning on doc_id alone satisfies the
    * (doc_id, ch) clustering, the doc_id window, AND the final doc_id
    * group, so the per-char rows never shuffle: one text-sized
    * exchange instead of a (doc × distinct-char) partial-agg shuffle.
    * Determinism: the ln(c/n) term is quantized to
    * 1e-4 units via ROUND (the x39 logp recipe) so the per-doc sum
    * is an order-free integer sum; ln2 is pinned as a literal double
    * in BOTH engines and the final bits value rounds at integer
    * scale (PLANS.md determinism note). */
  val x53CharEntropy: Q = (s, d) => {
    val ln2 = 0.6931471805599453
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("doc_id")))
      .withColumn("tq",
        round(log(col("c").cast("double") / col("n").cast("double")) * 1e4, 0)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("tq")).as("hq"))
      // mean nats-per-char rounds in pure BIGINT ([[intRoundHalfAway]]:
      // -hq/n_chars is an exact integer ratio — the .5 hazard); the
      // single ln2 division afterwards is the same IEEE op on the same
      // integer in both engines, so it stays deterministic.
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        (intRoundHalfAway(-col("hq"), col("n_chars")).cast("double")
          / 1e4 / lit(ln2)).as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** X55: per-source language drift — Jensen–Shannon divergence (in
    * bits) between each source's language distribution and the
    * corpus-wide one. The mixture-balancing counterpart of x47's
    * content overlap: a source whose JSD spikes is feeding the
    * training mix a different language profile than the corpus it is
    * supposed to extend. Shape: ONE corpus scan onto the
    * |sources|×|langs| count grid, pinned driver-local; every
    * downstream table (source totals, corpus language mass, the
    * zero-filled grid) derives from that tiny local relation, so the
    * joins are broadcast-sized at any corpus scale and the returned
    * plan scans no parquet at all. Determinism: both KL halves are expanded to
    * integer-count × quantized-log form — Σ p·ln(p/m) =
    * (1/ns)·Σ c·round(ln(p/m)·1e6) — so the per-source sums are
    * order-free integer sums; p=0 terms vanish exactly, q>0 always
    * (every language exists corpus-wide by construction). */
  val x55LangDivergence: Q = (s, d) => {
    val ln2 = 0.6931471805599453
    // pin the count grid driver-local (x50 pattern): it is referenced
    // four times below and a DataFrame re-executes its plan per
    // reference — pinning makes this ONE corpus scan, and the final
    // plan reads only local relations (plan-asserted)
    val cnts = Pin(Tables.documents(s, d)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c")))
    val srcTot = cnts.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val langTot = cnts.groupBy(col("lang")).agg(sum(col("c")).as("cq"))
    val tot = cnts.agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("ns").cast("double")
    val q = col("cq").cast("double") / col("n").cast("double")
    val m = (p + q) / lit(2)
    srcTot.crossJoin(broadcast(langTot)).crossJoin(broadcast(tot))
      .join(cnts, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("tp",
        when(col("c") > 0, round(log(p / m) * 1e6, 0).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("tqq", round(log(q / m) * 1e6, 0).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"), max(col("n")).as("n"),
        sum(col("c") * col("tp")).as("hp"),
        sum(col("cq") * col("tqq")).as("hq"))
      // each KL half rounds as an exact integer ratio (hp/n_docs and
      // hq/n are the .5 hazards — [[intRoundHalfAway]]); halving, the
      // 1e6 dequantization and the ln2 nats→bits conversion are then
      // the same IEEE double ops on the same integers in both engines.
      .select(col("source"), col("n_docs"),
        ((intRoundHalfAway(col("hp"), col("n_docs"))
          + intRoundHalfAway(col("hq"), col("n"))).cast("double")
          / lit(2e6) / lit(ln2)).as("jsd_bits"))
      .orderBy(col("source"))
  }

  /** X56: context-window chunking — split each document into
    * tokenizer-budget windows of 128 tokens with a 32-token overlap
    * (stride 96), the inverse of [[x25PackSequences]]: packing fills
    * short docs up to the context length, chunking cuts long docs
    * down to it. Emits (doc_id, chunk_id, tok_start, n_chunk_tok,
    * md5-of-chunk fp) — the fp stands in for shipping chunk text so
    * the result stays audit-sized. Shape: row-local throughout (the
    * token array is projected ONCE, then sliced per chunk under
    * whole-stage codegen); the only exchange is the output sort —
    * plan-asserted, the same no-join contract as x51. A 100 TB corpus
    * chunks in a single map pass. */
  val x56ChunkDocuments: Q = (s, d) => {
    val C = 128; val stride = 96
    spread(s, Tables.documents(s, d))
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("n_chunks",
        (ceil(greatest(col("n_tok") - C, lit(0)).cast("double") / stride) + 1)
          .cast("int"))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("tok_start", col("chunk_id") * stride)
      .withColumn("n_chunk_tok", least(col("n_tok") - col("tok_start"), lit(C)))
      .select(col("doc_id"), col("chunk_id"), col("tok_start"),
        col("n_chunk_tok"),
        md5(array_join(
          slice(col("toks"), col("tok_start") + 1, col("n_chunk_tok")), " "))
          .as("fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** X87: boilerplate STRIP — the transform x66 only detects: drop
    * every df-heavy 8-token segment (the CCNet/RefinedWeb repeated-
    * line removal analog) and re-emit the cleaned document. Segment
    * fingerprints, the df table, and the df ≥ 3 rule are IDENTICAL to
    * x66 (one contract, detector and transform can't drift); the
    * rebuild is a per-doc sort_array(collect_list(struct(g, seg)))
    * over the KEPT segments — order restored by the segment index, so
    * the aggregation is deterministic despite collect_list's
    * partition order. Output carries the cleaned text as md5 +
    * token count (the x17 checksum convention: hash-compare proves
    * the rebuilt string byte-exactly without shipping text through
    * the oracle diff). Scale shape: x66's df-keyed aggregation plus
    * one segment-keyed groupBy — nothing all-pairs, text leaves the
    * scan only as 8-token segments. */
  val x87BoilerplateStrip: Q = (s, d) => {
    val seg = boilerSegments(spread(s, Tables.documents(s, d)))
    val df = seg.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val clean = array_join(transform(
      sort_array(collect_list(when(col("df") < 3,
        struct(col("g"), col("segtxt"))))),
      x => x.getField("segtxt")), " ")
    seg.join(df, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_drop"),
        md5(clean).as("clean_md5"),
        when(length(clean) === 0, 0L)
          .otherwise(size(split(clean, "\\s+")).cast("long"))
          .as("clean_n_tok"))
      .orderBy(col("doc_id"))
  }

  /** X89: language-route confusion matrix — the labeled `lang` column
    * against x7/x79's marker route, per (label, route) cell with the
    * within-label share: the monitoring table that says how often the
    * cheap router disagrees with ground truth BEFORE anyone thresholds
    * on its margin (the audit x79's `ambiguous` flag feeds). Route
    * expression is spec-pinned ≡ x7 (same fold, same tie rule).
    * Row-local route + one |langs|² aggregation; shares via the
    * pure-BIGINT ratio. */
  val x89LangConfusion: Q = (s, d) => {
    val toksL = wsTokens(lower(col("text")))
    val counts = markerSets.map { case (lang, ms) =>
      size(filter(toksL, t => t.isin(ms.map(x => x: Any): _*)))
        .cast("long").as(s"c_$lang")
    }
    val best = markerSets.map { case (lang, _) => col(s"c_$lang") }
      .reduce(greatest(_, _))
    val route = markerSets.foldRight(lit("und"): Column) {
      case ((lang, _), acc) =>
        when(col(s"c_$lang") === best && col(s"c_$lang") > 0, lit(lang))
          .otherwise(acc)
    }
    Tables.documents(s, d)
      .select(col("lang") +: counts: _*)
      .select(col("lang"), route.as("lang_detectada"))
      .groupBy(col("lang"), col("lang_detectada"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_lang",
        sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("lang_detectada"), col("n"),
        (intRoundHalfAway(col("n") * 10000L, col("n_lang"))
          .cast("double") / 1e4).as("share"))
      .orderBy(col("lang"), col("lang_detectada"))
  }

  /** X102: count-min-sketch heavy hitters — the streaming-memory
    * frequency sketch (Cormode & Muthukrishnan) next to exact truth,
    * the a20b/x76 sketch-twin contract for the COUNT family: a
    * d=4 × w=1024 CMS is built from the same corpus scan as the
    * exact counts (each row of the sketch is a (row, md5-bucket)
    * integer aggregation — at 100 TB the 4·1024 counters are the
    * bounded state a stream or a merge tree carries, vs the unbounded
    * exact vocabulary), then the top-20 exact tokens are reported
    * with their CMS estimate (min over rows of the bucket counters)
    * and the one-sided guarantee `cms ≥ exact` as a Spark-evaluated
    * boolean — a violated bound means the sketch is WRONG, not
    * drifted. All-integer; the only hash is the md5-prefix bucket
    * both engines already share. */
  val x102CmsHeavyHitters: Q = (s, d) => {
    val toks = spread(s, Tables.documents(s, d))
      .select(explode(wsTokens(col("text"))).as("w"))
    val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("c_exact"))
    // 4 hash rows in ONE scan (generator over hrow, the oracle's
    // UNNEST shape): bucket_r(w) = md5₃₂("r:" ∥ w) mod 1024
    val rows = toks
      .select(col("w"), explode(sequence(lit(0), lit(3))).as("hrow"))
      .select(col("hrow"),
        pmod(graft.dedup.NearDup.md5Hash32(
          concat(col("hrow").cast("string"), lit(":"), col("w"))),
          lit(1024L)).as("bucket"))
      .groupBy(col("hrow"), col("bucket")).agg(count(lit(1)).as("cnt"))
    // top-20 via orderBy+limit (TakeOrderedAndProject — no global
    // single-partition window sort over the vocabulary, which at
    // 100 TB is itself a huge relation); the rank window then runs
    // over 20 rows only
    val top = exact.orderBy(col("c_exact").desc, col("w")).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c_exact").desc, col("w"))))
    val est = top.select(col("w"), col("c_exact"), col("rk"),
        explode(sequence(lit(0), lit(3))).as("hrow"))
      .withColumn("bucket",
        pmod(graft.dedup.NearDup.md5Hash32(
          concat(col("hrow").cast("string"), lit(":"), col("w"))), lit(1024L)))
      .join(broadcast(rows), Seq("hrow", "bucket"))
      .groupBy(col("w"), col("c_exact"), col("rk"))
      .agg(min(col("cnt")).as("c_cms"))
    est.select(col("w"), col("c_exact"), col("c_cms"),
        (col("c_cms") >= col("c_exact")).as("within_bound"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("rk"))
  }

  /** X103: span corruption (T5/UL2 objective preparation) — the
    * masking transform a denoising-pretraining pipeline applies to
    * every document: fixed 3-token blocks are selected with p=15% by
    * deterministic hash (md5₃₂(doc_id:block) mod 100 < 15 — no RNG
    * state, reproducible across engines, reruns, and shards: the x61
    * selector applied to spans), each selected block is replaced by
    * one `<extra_id_k>` sentinel (k = rank of the masked block, the
    * T5 numbering), and the target sequence is the sentinels with
    * their masked-out tokens. Entirely ROW-LOCAL: blocks, flags,
    * sentinel ranks (a prefix count over the flag array), the
    * masked/target rebuilds, and the counts are all higher-order
    * array functions in one projection — no shuffle but the output
    * sort, which is the whole point at 100 TB (objective prep runs
    * at scan speed on the way to the trainer). Masked/target text
    * leave as md5 (the x17/x87 checksum convention). */
  val x103SpanCorruption: Q = (s, d) => {
    val toks = wsTokens(col("text"))
    val nblk = call_function("div", size(toks).cast("long") + 2L, lit(3L))
    val blocks = sequence(lit(0L), nblk - 1)
    def flagOf(b: Column) =
      pmod(graft.dedup.NearDup.md5Hash32(
        concat(col("doc_id").cast("string"), lit(":"), b.cast("string"))),
        lit(100L)) < 15
    val flags = transform(blocks, b => flagOf(b))
    val ranks = transform(blocks, b =>
      aggregate(slice(flags, lit(1), b.cast("int")), lit(0),
        (acc, x) => acc + when(x, 1).otherwise(0)))
    def blockToks(b: Column) = slice(toks, (b * 3 + 1).cast("int"), lit(3))
    def sentinel(b: Column) = concat(lit("<extra_id_"),
      element_at(ranks, (b + 1).cast("int")).cast("string"), lit(">"))
    val pieces = transform(blocks, b =>
      when(element_at(flags, (b + 1).cast("int")), array(sentinel(b)))
        .otherwise(blockToks(b)))
    val tpieces = transform(blocks, b =>
      when(element_at(flags, (b + 1).cast("int")),
        concat(array(sentinel(b)), blockToks(b)))
        .otherwise(array().cast("array<string>")))
    val input = array_join(flatten(pieces), " ")
    val target = array_join(flatten(tpieces), " ")
    spread(s, Tables.documents(s, d))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        nblk.as("n_blocks"),
        size(filter(flags, x => x)).cast("long").as("n_masked_blocks"),
        (size(flatten(tpieces))
          - size(filter(flags, x => x))).cast("long").as("n_masked_tok"),
        md5(input).as("input_md5"),
        md5(target).as("target_md5"))
      .orderBy(col("doc_id"))
  }

  /** X104: cross-modal pairing-integrity audit — the join-coverage
    * check a multimodal (caption ↔ embedding/image) corpus runs
    * before training: per source, how many documents actually HAVE
    * their paired vector, and how many vectors are orphaned (their
    * document was filtered away upstream). The fixture pairs ids 1:1,
    * so a failed embedding shard is SIMULATED by withholding the
    * ~10% of vectors with md5₃₂(vec_id) ≡ 7 (mod 10) (the x62
    * plant-the-failure convention; hash-based so the hole spreads
    * across every source — the fixture's id↔source mapping would
    * make a raw id modulus all-or-nothing per source) — the audit
    * must report exactly that hole, per source, plus the
    * orphaned-vector count. One broadcast-ably small presence join (ids only, no
    * payloads move), per-source BIGINT-ratio coverage. The etl3
    * join-coverage discipline applied to modality pairing. */
  val x104PairingAudit: Q = (s, d) => {
    // the paired-vector id table (with its hash-spread coverage hole)
    // is the STAGED derived fixture — see [[ensurePlantedFixtures]];
    // ids-only scan, the oracle recomputes the hole from the base table
    val vecs = s.read
      .parquet(s"${ensurePlantedFixtures(s, d)}/vecs_holed")
      .select(col("vec_id").as("doc_id"), lit(1L).as("has_vec"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val perSource = docs.join(vecs, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("has_vec"), lit(0L))).as("n_paired"))
      .select(col("source"), col("n_docs"), col("n_paired"),
        (col("n_docs") - col("n_paired")).as("n_missing_vec"),
        (intRoundHalfAway(col("n_paired") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("coverage"))
    val orphans = vecs.join(docs.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .agg(count(lit(1)).as("n_orphan_vecs"))
    perSource.crossJoin(broadcast(orphans))
      .orderBy(col("source"))
  }

  /** X96: sequence-length histogram — per-source doc counts and token
    * mass in power-of-two length buckets, the planning table behind
    * x25's packing (bucket mix decides padding waste and pack depth)
    * and behind max-length truncation policy. The log2 bucket is
    * INTEGER-EXACT in both engines: `length(bin(n)) − 1` (binary
    * digit count), no floating log anywhere — floor(ln n / ln 2)
    * misrounds at exact powers of two. One scan, |sources|×buckets
    * rows, map-side combinable. */
  val x96LengthHistogram: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("bucket",
        (length(bin(greatest(col("n_tok"), lit(1L)))) - 1).cast("long"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok_mass"))
      .withColumn("n_src",
        sum(col("n")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("bucket"), col("n"), col("tok_mass"),
        (intRoundHalfAway(col("n") * 10000L, col("n_src"))
          .cast("double") / 1e4).as("share"))
      .orderBy(col("source"), col("bucket"))

  /** X66: boilerplate-segment detection — the line-level dedup of
    * CCNet / RefinedWeb re-expressed for a corpus whose documents
    * carry no newlines: split each doc into fixed 8-token segments,
    * count each segment's document frequency corpus-wide, and score
    * each doc by the fraction of its segments that are boilerplate
    * (df ≥ 3). The fixture prepends a per-source banner ("portal
    * <src> official mirror terms of service …") so the shared
    * template every site stamps on its pages exists to be caught —
    * the first 8-token segment of every doc of a source is
    * byte-identical, the second mixes banner tail with document text
    * and stays unique. Shape: one corpus scan → row-local segment
    * explode (md5 fingerprints, never text, cross the wire) →
    * fp-keyed df count (partial-aggregated shuffle) → fp-keyed join
    * back → doc-keyed aggregation. The same two-shuffle budget as
    * exact dedup (x1) at any corpus size; the df table is
    * unique-segment-sized, exactly the CCNet paragraph-hash table. */
  val x66BoilerplateSegments: Q = (s, d) => {
    val seg = boilerSegments(spread(s, Tables.documents(s, d)))
      .select(col("doc_id"), col("fp"))
    val df = seg.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
    seg.join(df, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_seg"), col("n_boiler"),
        (intRoundHalfAway(col("n_boiler") * 10000L, col("n_seg"))
          .cast("double") / 1e4).as("boiler_frac"))
      .orderBy(col("doc_id"))
  }

  /** X174: token burstiness — the Fano factor (variance-to-mean
    * ratio) of each token's per-document count over the WHOLE corpus
    * (zeros included), the corpus-linguistics dispersion statistic
    * behind Church & Gale's Poisson-mixture work: a Poisson
    * (content-neutral) token sits at F ≈ 1, a once-per-doc template
    * token UNDER-disperses (F = 1 − cf/n < 1), and a bursty token
    * (its mass packed into few docs — the boilerplate/navigation
    * signature x66 hunts structurally) over-disperses F ≫ 1. All
    * moments are exact integers off the (doc, token) count table —
    * F = (n·Σc² − cf²)/(n·cf), one [[intRoundHalfAway]] — making the
    * ranking engine-exact. Top-30 by (F DESC, token) via TakeOrdered
    * (never a vocabulary-wide window). Shape: one scan → (doc, token)
    * counts → token-keyed moment rollup (both map-side combinable) →
    * top-k. Crafted same-mass burst-vs-spread separation pinned in
    * EngineSpec. */
  val x174TokenBurstiness: Q = (s, d) =>
    tokenBurstinessOn(Tables.documents(s, d))

  /** [[x174TokenBurstiness]] core (exposed for the EngineSpec pin). */
  private[graft] def tokenBurstinessOn(docs: DataFrame): DataFrame = {
    val dc = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val nTot = docs.agg(count(lit(1)).as("n"))
    dc.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        sum(col("c") * col("c")).as("s2"))
      .crossJoin(broadcast(nTot))
      .withColumn("fano_q", intRoundHalfAway(
        (col("n") * col("s2") - col("cf") * col("cf")) * 10000L,
        col("n") * col("cf")))
      .orderBy(col("fano_q").desc, col("w")).limit(30)
      .select(col("w"), col("df"), col("cf"),
        (intRoundHalfAway(col("cf") * 10000L, col("n"))
          .cast("double") / 1e4).as("mean_per_doc"),
        (col("fano_q").cast("double") / 1e4).as("fano"))
      .orderBy(col("fano").desc, col("w"))
  }

  /** X68: quality-distribution drift (PSI) — the population-stability
    * index between the quality-score histograms of the early and late
    * corpus halves, the monitoring number a production ingest alarms
    * on ("did the crawl's quality profile shift since the last
    * snapshot?"). Bins are fixed quality deciles taken on the
    * integer-1e4 quality representation (q4 div 1000 — pure integer
    * binning, so no doc can land on a bin edge differently per
    * engine); both halves are Laplace-(+1)-smoothed over the explicit
    * 10-bin grid so empty bins contribute finitely. Determinism: the
    * ln argument is an exact integer ratio (c+1 counts and n+10
    * totals), quantized at 1e6 ([[x39UnigramLogppl]] recipe); each
    * bin's (p−q)·ln term is then quantized to an integer so the
    * PSI total is an order-free integer sum. Shape: ONE corpus scan
    * collapsing onto a 10-row grid; everything downstream is
    * grid-local. */
  val x68QualityPsi: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val split = (maxId + 1) / 2
    val counts = docs
      .select(
        qualityBin(col("text"), stopwords).as("bin"),
        when(col("doc_id") < split, 1L).otherwise(0L).as("early"))
      .groupBy(col("bin"))
      .agg(sum(col("early")).as("c_early"),
        sum(lit(1L) - col("early")).as("c_late"))
    val grid = s.range(0, 10).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("c_early", "c_late"))
      .crossJoin(broadcast(docs.agg(
        sum(when(col("doc_id") < split, 1L).otherwise(0L)).as("n_early"),
        sum(when(col("doc_id") >= split, 1L).otherwise(0L)).as("n_late"))))
    val p = (col("c_early") + 1).cast("double") / (col("n_early") + 10).cast("double")
    val q = (col("c_late") + 1).cast("double") / (col("n_late") + 10).cast("double")
    val lnrQ = round(log(
      ((col("c_early") + 1) * (col("n_late") + 10)).cast("double")
        / ((col("c_late") + 1) * (col("n_early") + 10)).cast("double")) * 1e6, 0)
      .cast("long")
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("contrib_q",
        round((p - q) * lnrQ.cast("double") * 1e2, 0).cast("long"))
      .select(col("bin"), col("c_early"), col("c_late"),
        (col("contrib_q").cast("double") / 1e8).as("contrib"),
        (sum(col("contrib_q")).over(wAll).cast("double") / 1e8).as("psi"))
      .orderBy(col("bin"))
  }

  /** X76: sketched vocabulary census — per-source token mass, EXACT
    * distinct-type count, and the HyperLogLog estimate next to it
    * with a Spark-side `within_bound` check (the a20b sketch-twin
    * contract: internals are engine-specific, so the oracle pins the
    * exact side and the bound, never sketch bits). This is the scale
    * path for every type-counting operator (x44/x67): an exact
    * distinct shuffles the full token set — at a 10⁸-type corpus
    * vocabulary that is the bottleneck — while the HLL sketch is a
    * fixed 2ᵖ-register relation with map-side combine, one per
    * source, at any corpus size. The 0.2 bound is generous against
    * the default 5% rsd; a production census would also fuse this
    * into the x54 fertility scan (same grouping). */
  val x76VocabSketch: Q = (s, d) =>
    spread(s, Tables.documents(s, d))
      .select(col("source"), explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tok"),
        count_distinct(col("w")).as("n_types"),
        approx_count_distinct(col("w")).as("approx_types"))
      .select(col("source"), col("n_tok"), col("n_types"),
        (abs(col("approx_types") - col("n_types")).cast("double")
          <= greatest(col("n_types").cast("double") * 0.2, lit(4.0)))
          .as("within_bound"))
      .orderBy(col("source"))

  /** X78: Gopher document-rule bundle — the remaining Rae et al.
    * Table-A1 document filters not already carried by x19/x41
    * (repetition): word-count bounds [50, 100k], mean word length
    * [3, 10], ≥ 80% of words containing an alphabetic character,
    * symbol-to-word ratio ≤ 0.1, and ≥ 2 distinct stopwords present.
    * Every PREDICATE is evaluated in pure integer cross-multiplied
    * form (n_alpha·5 ≥ n_words·4, n_chars between 3·n and 10·n) so no
    * ratio ever rounds before a comparison; the reported ratios round
    * via the BIGINT helper. Row-local single scan — the whole bundle
    * runs at parquet-scan speed at any corpus size, the same contract
    * as x8/x26. */
  val x78GopherRules: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("n_chars"),
        size(filter(col("toks"), t => t.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha"),
        size(filter(col("toks"), t => t.rlike("[#…]")))
          .cast("long").as("n_sym"),
        size(array_intersect(array_distinct(col("toks")),
          array(stopwords.map(lit): _*))).cast("long").as("n_stop"))
      .withColumn("nw", greatest(col("n_words"), lit(1L)))
      .select(col("doc_id"), col("n_words"),
        (intRoundHalfAway(col("n_chars") * 10000L, col("nw"))
          .cast("double") / 1e4).as("mean_word_len"),
        (intRoundHalfAway(col("n_alpha") * 10000L, col("nw"))
          .cast("double") / 1e4).as("alpha_frac"),
        col("n_stop"),
        (col("n_words").between(50L, 100000L)
          && col("n_chars") >= col("nw") * 3
          && col("n_chars") <= col("nw") * 10
          && col("n_alpha") * 5 >= col("nw") * 4
          && col("n_sym") * 10 <= col("nw")
          && col("n_stop") >= 2).as("passes"))
      .orderBy(col("doc_id"))

  /** X79: language-ID confidence margin — x7's marker-score decision
    * with the TOP-1 − TOP-2 margin and an ambiguity flag, the
    * fastText-style confidence gate a curation run thresholds on
    * before trusting a language route. All marker scores share the
    * SAME denominator (the doc's token count), so best/second/margin
    * are pure integer comparisons and one BIGINT-rounded ratio — no
    * double ever decides a route. Row-local scan, x7's plan. */
  val x79LangMargin: Q = (s, d) => {
    val toksL = wsTokens(lower(col("text")))
    val counts = markerSets.map { case (lang, ms) =>
      size(filter(toksL, t => t.isin(ms.map(x => x: Any): _*)))
        .cast("long").as(s"c_$lang")
    }
    val cs = markerSets.map { case (lang, _) => col(s"c_$lang") }
    val best = cs.reduce(greatest(_, _))
    val worst = cs.reduce(least(_, _))
    // sum − best − worst is the true runner-up ONLY for exactly 3
    // languages; a 4th markerSet would silently corrupt margin and
    // ambiguous (and the oracle's identical identity). Fail loudly
    // instead: a larger language set must switch to a
    // sort over the count columns.
    require(markerSets.size == 3,
      s"x79's second-best identity (sum-best-worst) requires exactly 3 " +
        s"languages; markerSets has ${markerSets.size} — recompute `second` " +
        "via a sort over the count columns before adding languages")
    val second = cs.reduce(_ + _) - best - worst
    Tables.documents(s, d)
      .select(col("doc_id") +: size(wsTokens(col("text"))).cast("long")
        .as("n") +: counts: _*)
      .select(col("doc_id"),
        markerSets.foldRight(lit("und"): Column) { case ((lang, _), acc) =>
          when(col(s"c_$lang") === best && col(s"c_$lang") > 0, lit(lang))
            .otherwise(acc)
        }.as("lang_detectada"),
        (intRoundHalfAway((best - second) * 10000L,
          greatest(col("n"), lit(1L))).cast("double") / 1e4).as("margin"),
        (best === second || best === 0L).as("ambiguous"))
      .orderBy(col("doc_id"))
  }

  /** X80: per-source quality trend — the OLS slope of quality over
    * ingestion order, per source: the monitoring number that says a
    * feed is DEGRADING (template drift, spam creep) before its mean
    * quality visibly moves. Quality quantizes to integer 1e-4 units
    * and the slope comes from exact integer moments
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) — the m2 recipe: order-free sums,
    * one BIGINT-rounded ratio, no engine-specific streaming regr_*
    * accumulation. One scan onto |sources| rows, map-side
    * combinable. doc_id is the ingestion-order proxy here; at
    * production id widths the x-moments would use the within-source
    * ordinal (or decimal(38,0) sums) to keep Σx² exact. */
  val x80QualityTrend: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), col("doc_id").as("x"),
        qualityQ4(col("text"), stopwords).as("q4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("q4")).as("sy"),
        sum(col("x") * col("q4")).as("sxy"))
      .withColumn("num", col("n_docs") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_docs") * col("sxx") - col("sx") * col("sx"))
      .select(col("source"), col("n_docs"),
        (intRoundHalfAway(col("sy") * 100L, col("n_docs"))
          .cast("double") / 1e6).as("mean_quality"),
        (intRoundHalfAway(col("num") * 100L, col("den"))
          .cast("double") / 1e3).as("trend_per_1k"),
        (intRoundHalfAway(col("num") * 100L, col("den")) < -10L)
          .as("degrading"))
      .orderBy(col("source"))

  /** X81: per-source corpus data card — the one-table datasheet
    * shipped with a corpus drop (Gebru et al.'s "Datasheets for
    * Datasets" reduced to the numbers a training run consumes):
    * volume (docs / tokens / bytes), mean quality, within-source
    * exact-dup rate, language-mix Shannon entropy (bits), and an
    * ORDER-FREE content checksum (Σ md5₃₂ of the doc fingerprints —
    * reproducible across reruns, partitionings, and engines, so two
    * pipelines can assert they read the same corpus without sorting
    * it). Composes only established recipes: integer BIGINT ratios,
    * the x55 quantized-log entropy, the x1 fingerprint. Shape: one
    * corpus scan onto |sources| rows plus the |sources|×|langs| grid
    * — everything map-side combinable. */
  val x81CorpusCard: Q = (s, d) => {
    val ln2 = 0.6931471805599453
    val docs = Tables.documents(s, d)
    val base = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col("text")).cast("long")).as("n_tok"),
      sum(octet_length(col("text")).cast("long")).as("n_bytes"),
      sum(qualityQ4(col("text"), stopwords)).as("sq4"),
      countDistinct(fingerprint(col("text"))).as("n_unique"),
      sum(graft.dedup.NearDup.md5Hash32(fingerprint(col("text"))))
        .as("content_checksum"))
    val langH = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("t", col("c") *
        round(log(col("c").cast("double") / col("n").cast("double")) * 1e6, 0)
          .cast("long"))
      .groupBy(col("source")).agg(sum(col("t")).as("sH"), max(col("n")).as("n"))
      .select(col("source"),
        (intRoundHalfAway(-col("sH"), col("n")).cast("double") / 1e6
          / lit(ln2)).as("lang_entropy_bits"))
    base.join(langH, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tok"), col("n_bytes"),
        (intRoundHalfAway(col("sq4") * 100L, col("n_docs"))
          .cast("double") / 1e6).as("mean_quality"),
        (intRoundHalfAway((col("n_docs") - col("n_unique")) * 10000L,
          col("n_docs")).cast("double") / 1e4).as("dup_rate"),
        col("lang_entropy_bits"), col("content_checksum"))
      .orderBy(col("source"))
  }

  /** X82: per-source quality percentile — quality normalized to its
    * source's own distribution (percent_rank within source): the
    * standard fix before a GLOBAL quality threshold, because sources
    * score on different scales (a boilerplate-heavy portal's best doc
    * can score below a clean source's median — x32's per-source
    * cutoff solved this with per-source thresholds; the percentile
    * makes docs comparable ACROSS sources so one global knob works).
    * Determinism: percent_rank = (rank−1)/(n−1) where rank counts
    * ties identically in both engines (SQL semantics) and the one
    * division has identical integer operands — no rounding step
    * exists at all. Shape: one scan, one source-partitioned window
    * (each partition is a source's docs — the x25 sub-shard pattern
    * applies if a single source outgrows a task at 100 TB). */
  val x82QualityPercentile: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        qualityScore(col("text"), stopwords).as("quality"))
      .withColumn("pct_rank", percent_rank().over(
        Window.partitionBy(col("source")).orderBy(col("quality"))))
      .withColumn("keep_global_p25", col("pct_rank") >= 0.25)
      .orderBy(col("doc_id"))

  /** x140's blocklist — fixture-vocabulary stand-ins for C4's
    * "dirty/naughty/obscene" word list; production swaps the literal
    * for the real list (broadcast-joined when it outgrows an isin). */
  private val blocklist = Seq("slow", "dup", "hash")

  /** X140: blocklist document filter (C4's badwords rule, Raffel et
    * al. 2020 §2.2 — "removed any page that contained any word on the
    * [blocklist]") — the one famous curation gate this engine didn't
    * yet report on: WHOLE-DOC removal on any word-boundary blocklist
    * hit, the coarse safety filter that runs before every
    * quality/dedup stage. Token-exact matching on the lowercased
    * whitespace tokenization (word boundaries for free — substring
    * matching is the known C4 false-positive failure, deliberately
    * not replicated). Per source: docs, flagged docs, flag rate,
    * total hit occurrences, and the token mass the filter costs —
    * the collateral-damage number the list is priced on. One
    * row-local scan, one groupBy(source); the blocklist rides as a
    * broadcast literal. */
  val x140BlocklistFilter: Q = (s, d) => {
    val toks = filter(wsTokens(lower(col("text"))), w => w =!= "")
    val hits = size(filter(toks,
      w => w.isin(blocklist.map(x => x: Any): _*))).cast("long")
    Tables.documents(s, d)
      .select(col("source"), size(toks).cast("long").as("n_tok"),
        hits.as("hits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("hits")).as("n_hits"),
        sum(col("n_tok")).as("n_tok"),
        sum(when(col("hits") > 0, col("n_tok")).otherwise(0L))
          .as("tok_removed"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        (intRoundHalfAway(col("n_flagged") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("flag_rate"),
        col("n_hits"), col("n_tok"), col("tok_removed"),
        (intRoundHalfAway(col("tok_removed") * 10000L, col("n_tok"))
          .cast("double") / 1e4).as("tok_removed_share"))
      .orderBy(col("source"))
  }

  /** X144: filter-rule attribution — the threshold-tuning table
    * behind every rule-based curation stack (the Dolma/RedPajama
    * releases publish exactly this): per rule, how many docs it
    * fails, and how many it UNIQUELY fails (no other rule fires) —
    * the marginal mass that rule alone removes. A rule with high
    * fail count but near-zero unique mass is redundant (its kills
    * are already dead); a rule with high unique mass is the one
    * whose threshold deserves review. Five engine rules (language,
    * minimum length, quality score, punctuation, x140's blocklist)
    * plus the 'any' union row, computed as row-local flags in ONE
    * corpus scan, a single aggregate, and a stack unpivot — the x21
    * one-pass funnel discipline applied across rules instead of down
    * a pipeline. */
  val x144FilterAttribution: Q = (s, d) => {
    val ltoks = filter(wsTokens(lower(col("text"))), w => w =!= "")
    val flags = Tables.documents(s, d).select(
        (col("lang") =!= "en").cast("long").as("f1"),
        (tokenCount(col("text")) < 10).cast("long").as("f2"),
        (qualityScore(col("text"), stopwords) < 0.5).cast("long").as("f3"),
        (punctRatio(col("text")) > 0.1).cast("long").as("f4"),
        (size(filter(ltoks, w => w.isin(blocklist.map(x => x: Any): _*)))
          > 0).cast("long").as("f5"))
      .withColumn("nf", (1 to 5).map(i => col(s"f$i")).reduce(_ + _))
    val aggs = Seq(count(lit(1)).as("n_docs"),
        sum(when(col("nf") > 0, 1L).otherwise(0L)).as("n_any")) ++
      (1 to 5).flatMap(i => Seq(sum(col(s"f$i")).as(s"nf$i"),
        sum(when(col(s"f$i") === 1L && col("nf") === 1L, 1L).otherwise(0L))
          .as(s"nu$i")))
    flags.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_docs", """stack(6,
        1, 'lang', nf1, nu1,
        2, 'min_len', nf2, nu2,
        3, 'quality', nf3, nu3,
        4, 'punct', nf4, nu4,
        5, 'blocklist', nf5, nu5,
        6, 'any', n_any, CAST(NULL AS BIGINT))
        AS (ordem, rule, n_fail, n_unique)""")
      .select(col("ordem"), col("rule"), col("n_docs"), col("n_fail"),
        (intRoundHalfAway(col("n_fail") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("fail_rate"),
        col("n_unique"),
        when(col("n_unique").isNotNull,
          intRoundHalfAway(col("n_unique") * 10000L, col("n_docs"))
            .cast("double") / 1e4).as("unique_share"))
      .orderBy(col("ordem"))
  }

  /** X147: k-anonymity risk audit (Sweeney 2002) — the privacy-side
    * counterpart of x26's PII redaction: treat (source, lang,
    * length-band) as the quasi-identifier tuple and measure, for the
    * standard k ladder (2, 5, 10, 20), how many equivalence classes
    * fall below k members and how much document mass sits in them —
    * the re-identification risk a release under that k-anonymity
    * target would carry. Scale shape: ONE corpus scan into a
    * map-side-combinable class aggregation whose output is
    * dimension-bounded (|source|x|lang|x9 length bands), then the
    * k-sweep runs on that tiny class table against a broadcast 4-row
    * k ladder — nothing after the first aggregate scales with the
    * corpus. */
  val x147KAnonymity: Q = (s, d) => {
    val cls = Tables.documents(s, d)
      .select(col("source"), col("lang"),
        least(call_function("div", tokenCount(col("text")).cast("long"),
          lit(16L)), lit(8L)).as("len_band"))
      .groupBy(col("source"), col("lang"), col("len_band"))
      .agg(count(lit(1)).as("n"))
    val ks = s.createDataFrame(Seq(Tuple1(2L), Tuple1(5L), Tuple1(10L),
      Tuple1(20L))).toDF("k")
    cls.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("n") < col("k"), 1L).otherwise(0L))
          .as("n_classes_risk"),
        sum(when(col("n") < col("k"), col("n")).otherwise(0L))
          .as("n_docs_risk"),
        sum(col("n")).as("n_docs"))
      .select(col("k"), col("n_classes"), col("n_classes_risk"),
        col("n_docs_risk"),
        (intRoundHalfAway(col("n_docs_risk") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("risk_share"))
      .orderBy(col("k"))
  }

  /** X130: robust quality-outlier audit (median/MAD) — the
    * distribution-free twin of the z-score family (x57/x80): per
    * source, the nearest-rank median of the 1e4-integer quality
    * score, the median absolute deviation around it, and the count
    * of docs beyond 3·MAD — the feed-corruption tripwire that a mean
    * /σ monitor misses exactly when it matters (a corrupted slice
    * drags the mean toward itself; the median doesn't move). Medians
    * are picked from (source, q4) COUNT HISTOGRAMS — never a
    * window over raw docs — so the only per-source ordering is over
    * distinct score values (≤ 10⁴ rows per source regardless of
    * corpus size: the x32/x44 histogram method, skew-safe by
    * construction); the deviation pass rides the broadcast median
    * table. Everything integer until the presentation columns. */
  val x130QualityMad: Q = (s, d) => {
    // ONE corpus scan: every downstream statistic — both nearest-rank
    // medians, the deviation distribution and the outlier rollup — is
    // a pure function of the bounded (source, q4) count histogram
    // (≤ 10⁴+1 rows per source), so the histogram is computed once,
    // pinned, and every pass folds IT. A doc's deviation |q4 − med|
    // depends only on its q4 bucket, so the deviation distribution is
    // the same histogram re-keyed.
    val hist = Tables.documents(s, d)
      .select(col("source"),
        qualityQ4(col("text"), stopwords).as("q4"))
      .groupBy(col("source"), col("q4")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    def nearestRankMedianH(h: DataFrame, vc: String): DataFrame = {
      val tot = h.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
      h
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("source")).orderBy(col(vc))))
        .join(broadcast(tot), Seq("source"))
        .filter(col("cum") * 2L >= col("n") + 1L)
        .groupBy(col("source"))
        .agg(min(col(vc)).as("med"), min(col("n")).as("n"))
    }
    val med = nearestRankMedianH(hist, "q4")
      .select(col("source"), col("med").as("medq"), col("n"))
    val dev = hist.join(broadcast(med), Seq("source"))
      .select(col("source"), abs(col("q4") - col("medq")).as("d4"),
        col("cnt"))
      .groupBy(col("source"), col("d4")).agg(sum(col("cnt")).as("cnt"))
    val mad = nearestRankMedianH(dev, "d4")
      .select(col("source"), col("med").as("madq"))
    val cut = med.join(mad, Seq("source"))
    hist.join(broadcast(cut), Seq("source"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        sum(when(abs(col("q4") - col("medq")) > lit(3L) * col("madq"),
          col("cnt")).otherwise(0L)).as("n_outliers"),
        min(col("medq")).as("medq"), min(col("madq")).as("madq"))
      .select(col("source"), col("n_docs"),
        (col("medq").cast("double") / 1e4).as("med_q"),
        (col("madq").cast("double") / 1e4).as("mad_q"),
        col("n_outliers"),
        (intRoundHalfAway(col("n_outliers") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("outlier_rate"))
      .orderBy(col("source"))
  }

  /** X128: pairing-consistency audit — x104 checks a vector EXISTS
    * for every doc; this checks the right one does: exact-duplicate
    * documents (same text fingerprint) must carry IDENTICAL paired
    * vectors, or the pairing pipeline mismapped a re-crawl — the
    * "same content, same features" invariant every multimodal ingest
    * is graded on. Reads the STAGED paired-feature table
    * ([[ensurePlantedFixtures]]'s `vecs_paired`, which plants a
    * deterministic hash-selected slice of divergent copies — the
    * round-8 fixture-side-planting convention, so the query body is
    * purely operational); per same-text family (≥2 members): member
    * count, distinct vector checksums, consistency flag. The oracle
    * rebuilds plant and audit from the base tables, re-proving the
    * staging bit-identical on every run. Shape: one doc-keyed join +
    * one family-keyed aggregation; checksums (not vectors) cross the
    * wire. */
  val x128PairingConsistency: Q = (s, d) => {
    val paired = s.read
      .parquet(s"${ensurePlantedFixtures(s, d)}/vecs_paired")
    corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .join(paired, Seq("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("family_id"),
        count(lit(1)).as("n_members"),
        count_distinct(col("vfp")).as("n_vfp"))
      .filter(col("n_members") >= 2)
      .select(col("family_id"), col("n_members"), col("n_vfp"),
        (col("n_vfp") === 1).as("consistent"))
      .orderBy(col("family_id"))
  }

  /** X111: cross-modal alignment scoring — the pairing-QUALITY filter
    * real multimodal curation runs (CLIP-score thresholding: LAION
    * keeps image-text pairs whose embedding cosine clears a cut).
    * x104 audits that a doc HAS a paired vector; this scores how well
    * the pair agrees: cosine between a 64-dim hashed bag-of-words
    * text vector (md5-bucket TF — the x102 bucket contract at
    * embedding width) and the doc's paired embedding, swept over a
    * threshold grid per source (x105's one-pass curve shape — the
    * whole policy table from ONE scoring pass). Shape: one documents
    * scan → per-doc 64-bucket TF array ([[hashedBowRows]], no
    * shuffle) joined to the embeddings on the doc id; the dot and both
    * norms are row-local folds. Determinism: every per-doc sum is an
    * order-free BIGINT of 1e6-quantized products (groupBy double
    * sums are partition-order-dependent — the x39 recipe); the final
    * cosine is one identical double chain both engines run on those
    * integers. Docs with no tokens or no paired vector drop (inner
    * semantics, documented). */
  val x111AlignmentScore: Q = (s, d) =>
    alignmentScoreOn(Tables.documents(s, d), Tables.embeddings(s, d))

  /** x111 over any (doc_id, source, text) docs and (vec_id, embedding)
    * vectors. The dense dot needs 64-wide embeddings: any other width
    * raises an in-plan error, where zip_with would null-pad it. */
  private[graft] def alignmentScoreOn(docs: DataFrame, emb: DataFrame): DataFrame = {
    // dense 64-long counts: the dot folds row-locally inside one
    // doc-keyed join; absent buckets contribute round(0·e·1e6) = 0
    val arr = hashedBowRows(docs)
      .select(col("doc_id"), col("source"),
        aggregate(col("cnt"), lit(0L), (acc, c) => acc + c * c).as("nt2"),
        col("cnt").as("cs"))
    val scored = arr
      .join(emb.select(col("vec_id").as("doc_id"),
        when(size(col("embedding")) === 64, col("embedding"))
          .otherwise(raise_error(lit("x111 embeddings must be 64 wide")))
          .as("embedding")), Seq("doc_id"))
      .select(col("source"),
        aggregate(zip_with(col("cs"), col("embedding"), (c, e) =>
          round(c.cast("double") * e.cast("double") * 1e6, 0).cast("long")),
          lit(0L), (acc, v) => acc + v).as("dotq"),
        col("nt2"),
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("ne2"))
      .select(col("source"),
        round((col("dotq").cast("double") / 1e6) /
          (sqrt(col("nt2").cast("double")) * sqrt(col("ne2"))), 6).as("cos"))
    scored
      .select(col("source"), col("cos"),
        explode(array(lit(-5), lit(-2), lit(0), lit(2), lit(5))).as("t100"))
      .groupBy(col("source"), col("t100"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cos") > col("t100").cast("double") / 100, 1L)
          .otherwise(0L)).as("n_pass"))
      .select(col("source"), (col("t100").cast("double") / 100).as("threshold"),
        col("n_pairs"), col("n_pass"),
        (intRoundHalfAway(col("n_pass") * 10000L, col("n_pairs"))
          .cast("double") / 1e4).as("pass_rate"))
      .orderBy(col("source"), col("threshold"))
  }

  val defs: Map[String, Q] = Map(
    "x111_alignment_score" -> x111AlignmentScore,
    "x140_blocklist_filter" -> x140BlocklistFilter,
    "x144_filter_attribution" -> x144FilterAttribution,
    "x147_k_anonymity" -> x147KAnonymity,
    "x174_token_burstiness" -> x174TokenBurstiness,
    "x128_pairing_consistency" -> x128PairingConsistency,
    "x130_quality_mad" -> x130QualityMad,
    "x82_quality_percentile" -> x82QualityPercentile,
    "x81_corpus_card" -> x81CorpusCard,
    "x80_quality_trend" -> x80QualityTrend,
    "x79_lang_margin" -> x79LangMargin,
    "x78_gopher_rules" -> x78GopherRules,
    "x76_vocab_sketch" -> x76VocabSketch,
    "x68_quality_psi" -> x68QualityPsi,
    "x66_boilerplate_segments" -> x66BoilerplateSegments,
    "x87_boilerplate_strip" -> x87BoilerplateStrip,
    "x97_canon_decontaminate" -> x97CanonDecontaminate,
    "x102_cms_heavyhitters" -> x102CmsHeavyHitters,
    "x103_span_corruption" -> x103SpanCorruption,
    "x104_pairing_audit" -> x104PairingAudit,
    "x96_length_histogram" -> x96LengthHistogram,
    "x89_lang_confusion" -> x89LangConfusion,
    "x56_chunk_documents" -> x56ChunkDocuments,
    "x55_lang_divergence" -> x55LangDivergence,
    "x53_char_entropy" -> x53CharEntropy,
    "x52_ngram_novelty" -> x52NgramNovelty,
    "x41_gopher_dup_ngrams" -> x41GopherDupNgrams,
    "x38_length_histogram" -> x38LengthHistogram,
    "x32_quality_calibration" -> x32QualityCalibration,
    "x32b_quality_ingest" -> x32bQualityIngest,
    "x30_tfidf_topk" -> x30TfidfTopk,
    "x25_pack_sequences" -> x25PackSequences,
    "x121_pack_boundary" -> x121PackBoundaryAudit,
    "x26_pii_redaction" -> x26PiiRedaction,
    "x19_gopher_repetition" -> x19GopherRepetition,
    "x20_decontaminate" -> x20Decontaminate,
    "x7_lang_id" -> x7LangId,
    "x8_quality_score" -> x8QualityScore)

  /** DuckDB replay of [[piiCorpus]]'s deterministic injection. */
  private val piiCorpusSql = """
    (SELECT doc_id, text
      || CASE WHEN doc_id % 7 = 0
           THEN ' contato: user' || CAST(doc_id AS VARCHAR) || '@example.com'
           ELSE '' END
      || CASE WHEN doc_id % 11 = 0
           THEN ' fone: (11) 99999-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE '' END AS text
     FROM documents)"""

  /** Shared by x32 (compute-at-query) and x32b (staged-at-ingest):
    * the two paths must be bit-identical, so one oracle serves both. */
  private val x32OracleSql = s"""
      WITH scored AS (SELECT doc_id, source, $qualitySql AS quality
        FROM documents),
      hist AS (
        SELECT source, quality, COUNT(*) AS c
        FROM scored GROUP BY source, quality),
      corte AS (
        SELECT source, MIN(quality) AS corte FROM (
          SELECT source, quality,
            SUM(c) OVER (PARTITION BY source ORDER BY quality) AS cum,
            SUM(c) OVER (PARTITION BY source) AS n
          FROM hist)
        WHERE cum >= CEIL(n * 0.6) GROUP BY source)
      SELECT s.source, s.doc_id, s.quality, corte.corte
      FROM scored s JOIN corte ON s.source = corte.source
      WHERE s.quality > corte.corte
      ORDER BY s.source, s.doc_id"""

  /** [[packSegments]] in DuckDB: `d` (non-empty docs with token count
    * and md5 sub-shard), `o` (each doc's start offset in its
    * (source, sub_shard) stream) and `e`, one row per 256-token
    * sequence a doc touches. */
  private def packSegmentCtes: String = """d AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 4
            AS INT) AS sub_shard
        FROM documents
        WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0),
      o AS (
        SELECT doc_id, source, sub_shard, n_tok,
          CAST(SUM(n_tok) OVER (PARTITION BY source, sub_shard ORDER BY doc_id)
            - n_tok AS BIGINT) AS ini
        FROM d),
      e AS (
        SELECT source, sub_shard, doc_id, ini, n_tok,
          CAST(unnest(range(ini // 256, (ini + n_tok - 1) // 256 + 1)) AS BIGINT)
            AS seq_id
        FROM o)"""

  /** The en/pt/de stopword hits `c_en`, `c_pt` and `c_de` in a row's
    * lower-cased tokens `tl`. */
  private def langCountsSql: String = """CAST(len(list_filter(tl, x -> x IN ('the', 'a', 'and', 'of')))
            AS BIGINT) AS c_en,
          CAST(len(list_filter(tl, x -> x IN ('de', 'o', 'da', 'em')))
            AS BIGINT) AS c_pt,
          CAST(len(list_filter(tl, x -> x IN ('der', 'die', 'das', 'und')))
            AS BIGINT) AS c_de"""

  val oracles: Map[String, String] = Map(
    "x144_filter_attribution" -> s"""
      WITH t AS (SELECT doc_id, lang, text, ${wsToksSql("text")} AS toks,
          list_filter(${wsToksSql("lower(text)")},
            w -> w <> '') AS ltoks
        FROM documents),
      fl AS (SELECT
          CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS f1,
          CASE WHEN len(toks) < 10 THEN 1 ELSE 0 END AS f2,
          CASE WHEN $qualitySql < 0.5 THEN 1 ELSE 0 END AS f3,
          CASE WHEN $punctRatioSql > 0.1 THEN 1 ELSE 0 END AS f4,
          CASE WHEN len(list_filter(ltoks,
              w -> w IN ('slow', 'dup', 'hash'))) > 0 THEN 1 ELSE 0 END AS f5
        FROM t),
      f2l AS (SELECT *, f1 + f2 + f3 + f4 + f5 AS nf FROM fl),
      ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN nf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
          CAST(SUM(f1) AS BIGINT) AS nf1, CAST(SUM(CASE WHEN f1 = 1
            AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nu1,
          CAST(SUM(f2) AS BIGINT) AS nf2, CAST(SUM(CASE WHEN f2 = 1
            AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nu2,
          CAST(SUM(f3) AS BIGINT) AS nf3, CAST(SUM(CASE WHEN f3 = 1
            AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nu3,
          CAST(SUM(f4) AS BIGINT) AS nf4, CAST(SUM(CASE WHEN f4 = 1
            AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nu4,
          CAST(SUM(f5) AS BIGINT) AS nf5, CAST(SUM(CASE WHEN f5 = 1
            AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nu5
        FROM f2l),
      st AS (
        SELECT 1 AS ordem, 'lang' AS rule, n_docs, nf1 AS n_fail,
          nu1 AS n_unique FROM ag
        UNION ALL SELECT 2, 'min_len', n_docs, nf2, nu2 FROM ag
        UNION ALL SELECT 3, 'quality', n_docs, nf3, nu3 FROM ag
        UNION ALL SELECT 4, 'punct', n_docs, nf4, nu4 FROM ag
        UNION ALL SELECT 5, 'blocklist', n_docs, nf5, nu5 FROM ag
        UNION ALL SELECT 6, 'any', n_docs, n_any, CAST(NULL AS BIGINT)
          FROM ag)
      SELECT ordem, rule, n_docs, n_fail,
        CAST(((2 * n_fail * 10000 + n_docs) // (2 * n_docs)) AS DOUBLE)
          / 1e4 AS fail_rate,
        n_unique,
        CASE WHEN n_unique IS NOT NULL THEN
          CAST(((2 * n_unique * 10000 + n_docs) // (2 * n_docs)) AS DOUBLE)
            / 1e4 END AS unique_share
      FROM st ORDER BY ordem""",
    "x147_k_anonymity" -> """
      WITH cls AS (
        SELECT source, lang,
          LEAST(len(regexp_split_to_array(trim(text), '\s+')) // 16, 8)
            AS len_band,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2, 3),
      ks AS (SELECT unnest([2, 5, 10, 20]) AS k),
      ag AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_classes,
          CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
            AS n_classes_risk,
          CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
            AS n_docs_risk,
          CAST(SUM(n) AS BIGINT) AS n_docs
        FROM cls, ks GROUP BY k)
      SELECT CAST(k AS BIGINT) AS k, n_classes, n_classes_risk,
        n_docs_risk,
        CAST(((2 * n_docs_risk * 10000 + n_docs) // (2 * n_docs))
          AS DOUBLE) / 1e4 AS risk_share
      FROM ag ORDER BY k""",
    "x140_blocklist_filter" -> """
      WITH t AS (SELECT source,
          list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
            w -> w <> '') AS toks
        FROM documents),
      h AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tok,
          CAST(len(list_filter(toks, w -> w IN ('slow', 'dup', 'hash')))
            AS BIGINT) AS hits
        FROM t)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flagged,
        CAST(((2 * SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 10000
            + COUNT(*)) // (2 * COUNT(*))) AS DOUBLE) / 1e4 AS flag_rate,
        CAST(SUM(hits) AS BIGINT) AS n_hits,
        CAST(SUM(n_tok) AS BIGINT) AS n_tok,
        CAST(SUM(CASE WHEN hits > 0 THEN n_tok ELSE 0 END) AS BIGINT)
          AS tok_removed,
        CAST(((2 * SUM(CASE WHEN hits > 0 THEN n_tok ELSE 0 END) * 10000
            + SUM(n_tok)) // (2 * SUM(n_tok))) AS DOUBLE) / 1e4
          AS tok_removed_share
      FROM h GROUP BY source ORDER BY source""",
    "x111_alignment_score" -> s"""
      WITH tf AS (
        SELECT doc_id, source, (${md5Hash32Sql("w")}) % 64 AS bucket,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, source,
            unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
          FROM documents)
        WHERE w <> '' GROUP BY 1, 2, 3),
      nt2 AS (SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS nt2
        FROM tf GROUP BY doc_id),
      ee AS (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
          unnest(embedding) AS e
        FROM embeddings),
      dot AS (SELECT tf.doc_id, tf.source,
          CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * CAST(e AS DOUBLE) * 1e6, 0)
            AS BIGINT)) AS BIGINT) AS dotq
        FROM tf JOIN ee ON ee.vec_id = tf.doc_id AND ee.pos = tf.bucket
        GROUP BY 1, 2),
      ne2 AS (SELECT vec_id AS doc_id,
          list_sum(list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS ne2
        FROM embeddings),
      scored AS (SELECT dot.doc_id, dot.source,
          ROUND((CAST(dotq AS DOUBLE) / 1e6)
            / (sqrt(CAST(nt2.nt2 AS DOUBLE)) * sqrt(ne2.ne2)), 6) AS cos
        FROM dot JOIN nt2 USING (doc_id) JOIN ne2 USING (doc_id))
      SELECT source, CAST(t100 AS DOUBLE) / 100 AS threshold,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(CASE WHEN cos > CAST(t100 AS DOUBLE) / 100
          THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        CAST(((2 * SUM(CASE WHEN cos > CAST(t100 AS DOUBLE) / 100
            THEN 1 ELSE 0 END) * 10000 + COUNT(*))
          // (2 * COUNT(*))) AS DOUBLE) / 1e4 AS pass_rate
      FROM scored, unnest([-5, -2, 0, 2, 5]) AS t(t100)
      GROUP BY source, t100 ORDER BY source, threshold""",
    "x174_token_burstiness" -> """
      WITH dc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id,
            unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents)
        GROUP BY doc_id, w),
      ntt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      mom AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
          CAST(SUM(c) AS BIGINT) AS cf,
          CAST(SUM(c * c) AS BIGINT) AS s2
        FROM dc GROUP BY w),
      fq AS (SELECT w, df, cf,
          (CASE WHEN (n * s2 - cf * cf) < 0 THEN -1 ELSE 1 END)
            * ((2 * abs((n * s2 - cf * cf) * 10000) + n * cf)
              // (2 * n * cf)) AS fano_q,
          (2 * cf * 10000 + n) // (2 * n) AS mq
        FROM mom, ntt),
      top AS (SELECT * FROM fq ORDER BY fano_q DESC, w LIMIT 30)
      SELECT w, df, cf, CAST(mq AS DOUBLE) / 1e4 AS mean_per_doc,
        CAST(fano_q AS DOUBLE) / 1e4 AS fano
      FROM top ORDER BY fano DESC, w""",
    "x82_quality_percentile" -> s"""
      WITH q AS (SELECT doc_id, source, $qualitySql AS quality
        FROM documents)
      SELECT doc_id, source, quality,
        PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality)
          AS pct_rank,
        PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality) >= 0.25
          AS keep_global_p25
      FROM q ORDER BY doc_id""",
    "x81_corpus_card" -> s"""
      WITH q AS (SELECT source, lang, text,
          md5(lower(trim(text))) AS f,
          ${wsToksSql("text")} AS toks,
          $qualityQ4Sql AS q4
        FROM documents),
      base AS (SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(len(toks)) AS BIGINT) AS n_tok,
          CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
          CAST(SUM(q4) AS BIGINT) AS sq4,
          COUNT(DISTINCT f) AS n_unique,
          CAST(SUM(${md5Hash32Sql("f")}) AS BIGINT) AS content_checksum
        FROM q GROUP BY source),
      lc AS (SELECT source, lang, COUNT(*) AS c FROM q GROUP BY source, lang),
      lt AS (SELECT source, SUM(c) AS n FROM lc GROUP BY source),
      lh AS (SELECT lc.source,
          SUM(lc.c * CAST(ROUND(LN(CAST(lc.c AS DOUBLE)
            / CAST(lt.n AS DOUBLE)) * 1e6, 0) AS BIGINT)) AS sh,
          MAX(lt.n) AS n
        FROM lc JOIN lt ON lc.source = lt.source GROUP BY lc.source),
      ent AS (SELECT source,
          CAST((CASE WHEN -sh < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(-sh) + n) // (2 * n)) AS DOUBLE) / 1e6
            / 0.6931471805599453 AS lang_entropy_bits
        FROM lh)
      SELECT b.source, CAST(b.n_docs AS BIGINT) AS n_docs, b.n_tok,
        b.n_bytes,
        CAST((2 * b.sq4 * 100 + b.n_docs) // (2 * b.n_docs) AS DOUBLE) / 1e6
          AS mean_quality,
        CAST((2 * (b.n_docs - b.n_unique) * 10000 + b.n_docs)
          // (2 * b.n_docs) AS DOUBLE) / 1e4 AS dup_rate,
        e.lang_entropy_bits, b.content_checksum
      FROM base b JOIN ent e ON b.source = e.source
      ORDER BY b.source""",
    "x80_quality_trend" -> s"""
      WITH q AS (SELECT source, doc_id AS x, $qualityQ4Sql AS q4
        FROM documents),
      m AS (SELECT source, COUNT(*) AS n, SUM(x) AS sx,
          SUM(x * x) AS sxx, SUM(q4) AS sy, SUM(x * q4) AS sxy
        FROM q GROUP BY source),
      r AS (SELECT source, n,
          n * sxy - sx * sy AS num, n * sxx - sx * sx AS den, sy
        FROM m)
      SELECT source, CAST(n AS BIGINT) AS n_docs,
        CAST((2 * sy * 100 + n) // (2 * n) AS DOUBLE) / 1e6 AS mean_quality,
        CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(num * 100) + den) // (2 * den)) AS DOUBLE) / 1e3
          AS trend_per_1k,
        ((CASE WHEN num < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(num * 100) + den) // (2 * den))) < -10 AS degrading
      FROM r ORDER BY source""",
    "x78_gopher_rules" -> s"""
      WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      c AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          CAST(GREATEST(len(toks), 1) AS BIGINT) AS nw,
          CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0)
            AS BIGINT) AS nch,
          CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
            AS BIGINT) AS na,
          CAST(len(list_filter(toks, t -> regexp_matches(t, '[#…]')))
            AS BIGINT) AS ns,
          CAST(len(list_intersect(list_distinct(toks),
            [$stopwordsSql])) AS BIGINT) AS nst
        FROM t)
      SELECT doc_id, n_words,
        CAST((2 * nch * 10000 + nw) // (2 * nw) AS DOUBLE) / 1e4
          AS mean_word_len,
        CAST((2 * na * 10000 + nw) // (2 * nw) AS DOUBLE) / 1e4
          AS alpha_frac,
        nst AS n_stop,
        (n_words BETWEEN 50 AND 100000
          AND nch >= nw * 3 AND nch <= nw * 10
          AND na * 5 >= nw * 4
          AND ns * 10 <= nw
          AND nst >= 2) AS passes
      FROM c ORDER BY doc_id""",
    "x79_lang_margin" -> s"""
      WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS toks,
          regexp_split_to_array(trim(lower(text)), '\\s+') AS tl
        FROM documents),
      c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
          $langCountsSql
        FROM t),
      m AS (SELECT doc_id, GREATEST(n, 1) AS nw, c_en, c_pt, c_de,
          GREATEST(c_en, c_pt, c_de) AS best,
          c_en + c_pt + c_de - GREATEST(c_en, c_pt, c_de)
            - LEAST(c_en, c_pt, c_de) AS second
        FROM c)
      SELECT doc_id,
        CASE WHEN c_en = best AND c_en > 0 THEN 'en'
             WHEN c_pt = best AND c_pt > 0 THEN 'pt'
             WHEN c_de = best AND c_de > 0 THEN 'de'
             ELSE 'und' END AS lang_detectada,
        CAST((2 * (best - second) * 10000 + nw) // (2 * nw) AS DOUBLE) / 1e4
          AS margin,
        (best = second OR best = 0) AS ambiguous
      FROM m ORDER BY doc_id""",
    "x76_vocab_sketch" -> """
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_tok,
        CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types,
        TRUE AS within_bound
      FROM (SELECT source,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents)
      GROUP BY source ORDER BY source""",
    "x66_boilerplate_segments" -> s"""
      WITH $boilerBlocksCtes,
      seg AS (SELECT doc_id,
          md5(array_to_string(list_slice(toks, g * 8 + 1, g * 8 + 8), ' '))
            AS fp
        FROM b),
      df AS (SELECT fp, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY fp),
      agg AS (SELECT doc_id, COUNT(*) AS n_seg,
          SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS n_boiler
        FROM seg JOIN df USING (fp) GROUP BY doc_id)
      SELECT doc_id, CAST(n_seg AS BIGINT) AS n_seg,
        CAST(n_boiler AS BIGINT) AS n_boiler,
        CAST((2 * n_boiler * 10000 + n_seg) // (2 * n_seg) AS DOUBLE) / 1e4
          AS boiler_frac
      FROM agg ORDER BY doc_id""",
    "x68_quality_psi" -> s"""
      WITH sp AS (SELECT (MAX(doc_id) + 1) // 2 AS split FROM documents),
      qual AS (SELECT doc_id, $qualitySql AS quality FROM documents),
      binned AS (SELECT
          LEAST(CAST(ROUND(quality * 1e4, 0) AS BIGINT) // 1000, 9) AS bin,
          CASE WHEN doc_id < (SELECT split FROM sp) THEN 1 ELSE 0 END AS early
        FROM qual),
      counts AS (SELECT bin, SUM(early) AS c_early,
          SUM(1 - early) AS c_late FROM binned GROUP BY bin),
      tot AS (SELECT SUM(early) AS n_early,
          SUM(1 - early) AS n_late FROM binned),
      grid AS (SELECT g.bin, COALESCE(c.c_early, 0) AS c_early,
          COALESCE(c.c_late, 0) AS c_late, t.n_early, t.n_late
        FROM (SELECT unnest(range(0, 10)) AS bin) g
        LEFT JOIN counts c USING (bin) CROSS JOIN tot t),
      contrib AS (SELECT bin, c_early, c_late,
          CAST(ROUND((((c_early + 1) / CAST(n_early + 10 AS DOUBLE))
              - ((c_late + 1) / CAST(n_late + 10 AS DOUBLE)))
            * CAST(CAST(ROUND(LN(CAST((c_early + 1) * (n_late + 10) AS DOUBLE)
                / CAST((c_late + 1) * (n_early + 10) AS DOUBLE)) * 1e6, 0)
              AS BIGINT) AS DOUBLE) * 1e2, 0) AS BIGINT) AS contrib_q
        FROM grid)
      SELECT bin, CAST(c_early AS BIGINT) AS c_early,
        CAST(c_late AS BIGINT) AS c_late,
        CAST(contrib_q AS DOUBLE) / 1e8 AS contrib,
        CAST(SUM(contrib_q) OVER () AS DOUBLE) / 1e8 AS psi
      FROM contrib ORDER BY bin""",
    "x130_quality_mad" -> s"""
      WITH q AS (SELECT source, $qualityQ4Sql AS q4 FROM documents),
      h1 AS (SELECT source, q4, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM q GROUP BY 1, 2),
      t1 AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
        FROM h1 GROUP BY source),
      c1 AS (SELECT h1.source, q4,
          CAST(SUM(cnt) OVER (PARTITION BY h1.source ORDER BY q4)
            AS BIGINT) AS cum, n
        FROM h1 JOIN t1 USING (source)),
      med AS (SELECT source, MIN(q4) AS medq, MIN(n) AS n
        FROM c1 WHERE cum * 2 >= n + 1 GROUP BY source),
      dv AS (SELECT q.source, ABS(q4 - medq) AS d4
        FROM q JOIN med USING (source)),
      h2 AS (SELECT source, d4, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM dv GROUP BY 1, 2),
      t2 AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
        FROM h2 GROUP BY source),
      c2 AS (SELECT h2.source, d4,
          CAST(SUM(cnt) OVER (PARTITION BY h2.source ORDER BY d4)
            AS BIGINT) AS cum, n
        FROM h2 JOIN t2 USING (source)),
      mad AS (SELECT source, MIN(d4) AS madq
        FROM c2 WHERE cum * 2 >= n + 1 GROUP BY source),
      cut AS (SELECT med.source, medq, madq
        FROM med JOIN mad USING (source))
      SELECT q.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(MIN(medq) AS DOUBLE) / 1e4 AS med_q,
        CAST(MIN(madq) AS DOUBLE) / 1e4 AS mad_q,
        CAST(SUM(CASE WHEN ABS(q4 - medq) > 3 * madq THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers,
        CAST(((2 * SUM(CASE WHEN ABS(q4 - medq) > 3 * madq
            THEN 1 ELSE 0 END) * 10000 + COUNT(*)) // (2 * COUNT(*)))
          AS DOUBLE) / 1e4 AS outlier_rate
      FROM q JOIN cut USING (source)
      GROUP BY q.source ORDER BY source""",
    "x128_pairing_consistency" -> s"""
      WITH bv AS (
        SELECT vec_id, md5(array_to_string(list_transform(embedding,
            x -> CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)), ','))
          AS s0
        FROM embeddings WHERE vec_id < 200),
      paired AS (
        SELECT vec_id AS doc_id, s0 AS vfp FROM bv
        UNION ALL SELECT vec_id + 1000000,
          CASE WHEN (${md5Hash32Sql("CAST(vec_id + 1000000 AS VARCHAR)")})
              % 13 = 5
            THEN md5(s0 || 'x') ELSE s0 END
        FROM bv
        UNION ALL SELECT vec_id + 2000000, s0 FROM bv),
      corpus AS (
        $sliverCorpusSql),
      fam AS (SELECT md5(c.text) AS fp, c.doc_id, p.vfp
        FROM corpus c JOIN paired p USING (doc_id))
      SELECT MIN(doc_id) AS family_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        CAST(COUNT(DISTINCT vfp) AS BIGINT) AS n_vfp,
        (COUNT(DISTINCT vfp) = 1) AS consistent
      FROM fam GROUP BY fp HAVING COUNT(*) >= 2 ORDER BY family_id""",
    "x53_char_entropy" -> """
      WITH cs AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents),
      counts AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM cs GROUP BY doc_id, ch),
      wn AS (SELECT doc_id, c,
        CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM counts),
      tq AS (SELECT doc_id, c, n,
        CAST(ROUND(LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e4, 0)
          AS BIGINT) AS tq FROM wn),
      agg AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
          CAST(COUNT(*) AS BIGINT) AS n_distinct,
          CAST(-SUM(c * tq) AS BIGINT) AS mhq
        FROM tq GROUP BY doc_id)
      SELECT doc_id, n_chars, n_distinct,
        CAST((CASE WHEN mhq < 0 THEN -1 ELSE 1 END)
          * ((2 * abs(mhq) + n_chars) // (2 * n_chars)) AS DOUBLE)
          / 1e4 / 0.6931471805599453 AS entropy_bits
      FROM agg ORDER BY doc_id""",
    "x55_lang_divergence" -> """
      WITH cnts AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang),
      st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
        FROM cnts GROUP BY source),
      lt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cq
        FROM cnts GROUP BY lang),
      tt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnts),
      grid AS (SELECT s.source, s.ns, l.lang, l.cq, t.n,
          COALESCE(c.c, 0) AS c
        FROM st s CROSS JOIN lt l CROSS JOIN tt t
        LEFT JOIN cnts c ON c.source = s.source AND c.lang = l.lang),
      terms AS (SELECT source, ns, n, c, cq,
        CASE WHEN c > 0 THEN CAST(ROUND(LN(
            (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
            / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
              + CAST(cq AS DOUBLE) / CAST(n AS DOUBLE)) / 2)) * 1e6, 0)
          AS BIGINT) ELSE 0 END AS tp,
        CAST(ROUND(LN(
            (CAST(cq AS DOUBLE) / CAST(n AS DOUBLE))
            / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
              + CAST(cq AS DOUBLE) / CAST(n AS DOUBLE)) / 2)) * 1e6, 0)
          AS BIGINT) AS tqq
        FROM grid),
      agg AS (SELECT source, CAST(MAX(ns) AS BIGINT) AS n_docs,
          CAST(MAX(n) AS BIGINT) AS n,
          CAST(SUM(c * tp) AS BIGINT) AS hp,
          CAST(SUM(cq * tqq) AS BIGINT) AS hq
        FROM terms GROUP BY source)
      SELECT source, n_docs,
        CAST((CASE WHEN hp < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(hp) + n_docs) // (2 * n_docs))
          + (CASE WHEN hq < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(hq) + n) // (2 * n)) AS DOUBLE)
          / 2e6 / 0.6931471805599453 AS jsd_bits
      FROM agg ORDER BY source""",
    "x56_chunk_documents" -> """
      WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      base AS (SELECT doc_id, toks, len(toks) AS n_tok,
        CAST(ceil(CAST(greatest(len(toks) - 128, 0) AS DOUBLE) / 96.0)
          AS BIGINT) + 1 AS n_chunks FROM t),
      ch AS (SELECT doc_id, toks, n_tok,
        unnest(range(0, n_chunks)) AS chunk_id FROM base)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        CAST(chunk_id * 96 AS INT) AS tok_start,
        CAST(LEAST(n_tok - chunk_id * 96, 128) AS INT) AS n_chunk_tok,
        md5(array_to_string(list_slice(toks, chunk_id * 96 + 1,
          chunk_id * 96 + LEAST(n_tok - chunk_id * 96, 128)), ' ')) AS fp
      FROM ch ORDER BY doc_id, chunk_id""",
    "x25_pack_sequences" -> s"""
      WITH $packSegmentCtes
      SELECT source, sub_shard, seq_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(LEAST(ini + n_tok, (seq_id + 1) * 256)
          - GREATEST(ini, seq_id * 256)) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS first_doc,
        MAX(doc_id) AS last_doc
      FROM e GROUP BY source, sub_shard, seq_id
      ORDER BY source, sub_shard, seq_id""",
    "x121_pack_boundary" -> s"""
      WITH $packSegmentCtes,
      seqs AS (
        SELECT source, sub_shard, seq_id,
          CAST(COUNT(*) AS BIGINT) AS nd,
          CAST(SUM(seg) AS BIGINT) AS l,
          CAST(SUM(seg * seg) AS BIGINT) AS s2
        FROM (SELECT source, sub_shard, seq_id,
            LEAST(ini + n_tok, (seq_id + 1) * 256)
              - GREATEST(ini, seq_id * 256) AS seg
          FROM e)
        GROUP BY 1, 2, 3)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_seqs,
        CAST(SUM(nd) AS BIGINT) AS n_segments,
        CAST(MAX(nd) AS BIGINT) AS max_docs_seq,
        CAST(((2 * SUM(nd) * 10000 + COUNT(*)) // (2 * COUNT(*)))
          AS DOUBLE) / 1e4 AS mean_docs_seq,
        CAST(((2 * SUM(l * l - s2) * 10000 + SUM(l * l)) // (2 * SUM(l * l)))
          AS DOUBLE) / 1e4 AS cross_frac
      FROM seqs GROUP BY source ORDER BY source""",
    "x26_pii_redaction" -> s"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(text,
          '\\(\\d{2}\\) \\d{4,5}-\\d{4}')) AS INT) AS n_phones,
        md5(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\\(\\d{2}\\) \\d{4,5}-\\d{4}', '[TELEFONE]', 'g')) AS fp_redigido
      FROM $piiCorpusSql
      ORDER BY doc_id""",
    "x104_pairing_audit" -> s"""
      WITH vecs AS (SELECT vec_id AS doc_id, 1 AS has_vec
        FROM embeddings
        WHERE ${md5Hash32Sql("CAST(vec_id AS VARCHAR)")} % 10 <> 7),
      per_source AS (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COALESCE(SUM(v.has_vec), 0) AS BIGINT) AS n_paired
        FROM documents d LEFT JOIN vecs v USING (doc_id)
        GROUP BY d.source),
      orphans AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan_vecs
        FROM vecs v LEFT JOIN documents d USING (doc_id)
        WHERE d.doc_id IS NULL)
      SELECT source, n_docs, n_paired,
        n_docs - n_paired AS n_missing_vec,
        CAST((2 * n_paired * 10000 + n_docs) // (2 * n_docs) AS DOUBLE) / 1e4
          AS coverage,
        n_orphan_vecs
      FROM per_source, orphans ORDER BY source""",
    "x103_span_corruption" -> s"""
      WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      b AS (SELECT doc_id, toks,
          (len(toks) + 2) // 3 AS n_blocks,
          list_transform(range(0, (len(toks) + 2) // 3), bb ->
            ${md5Hash32Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(bb AS VARCHAR)")} % 100 < 15)
            AS flags
        FROM t),
      r AS (SELECT doc_id, toks, n_blocks, flags,
          list_transform(range(0, n_blocks), bb ->
            COALESCE(list_sum(list_transform(list_slice(flags, 1, bb),
              f -> CASE WHEN f THEN 1 ELSE 0 END)), 0)) AS ranks
        FROM b),
      p AS (SELECT doc_id, toks, n_blocks, flags,
          flatten(list_transform(range(0, n_blocks), bb ->
            CASE WHEN flags[bb + 1]
              THEN ['<extra_id_' || CAST(ranks[bb + 1] AS VARCHAR) || '>']
              ELSE list_slice(toks, bb * 3 + 1, bb * 3 + 3) END)) AS inp,
          flatten(list_transform(range(0, n_blocks), bb ->
            CASE WHEN flags[bb + 1]
              THEN list_prepend('<extra_id_' || CAST(ranks[bb + 1] AS VARCHAR) || '>',
                list_slice(toks, bb * 3 + 1, bb * 3 + 3))
              ELSE [] END)) AS tgt
        FROM r)
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        CAST(n_blocks AS BIGINT) AS n_blocks,
        CAST(len(list_filter(flags, f -> f)) AS BIGINT) AS n_masked_blocks,
        CAST(len(tgt) - len(list_filter(flags, f -> f)) AS BIGINT)
          AS n_masked_tok,
        md5(COALESCE(array_to_string(inp, ' '), '')) AS input_md5,
        md5(COALESCE(array_to_string(tgt, ' '), '')) AS target_md5
      FROM p ORDER BY doc_id""",
    "x102_cms_heavyhitters" -> s"""
      WITH toks AS (SELECT
          unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents),
      ex AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_exact
        FROM toks GROUP BY w),
      rws AS (SELECT hrow, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT u.hrow,
            ${md5Hash32Sql("CAST(u.hrow AS VARCHAR) || ':' || w")} % 1024
              AS bucket
          FROM toks, UNNEST(range(0, 4)) AS u(hrow))
        GROUP BY hrow, bucket),
      top AS (SELECT w, c_exact, rk FROM (
          SELECT w, c_exact,
            ROW_NUMBER() OVER (ORDER BY c_exact DESC, w) AS rk
          FROM ex) WHERE rk <= 20),
      tb AS (SELECT t.w, t.c_exact, t.rk, u.hrow,
          ${md5Hash32Sql("CAST(u.hrow AS VARCHAR) || ':' || t.w")} % 1024
            AS bucket
        FROM top t, UNNEST(range(0, 4)) AS u(hrow)),
      est AS (SELECT tb.w, tb.c_exact, tb.rk,
          CAST(MIN(r.cnt) AS BIGINT) AS c_cms
        FROM tb JOIN rws r ON r.hrow = tb.hrow AND r.bucket = tb.bucket
        GROUP BY tb.w, tb.c_exact, tb.rk)
      SELECT w, c_exact, c_cms, c_cms >= c_exact AS within_bound,
        CAST(rk AS BIGINT) AS rk
      FROM est ORDER BY rk""",
    "x97_canon_decontaminate" -> """
      WITH train AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 50
        UNION ALL
        SELECT doc_id + 6000000, upper(text) || ' , .'
        FROM documents WHERE doc_id < 50),
      ct AS (SELECT doc_id,
          list_filter(list_transform(
            regexp_split_to_array(trim(text), '\s+'),
            t -> lower(regexp_replace(t, '[^A-Za-z0-9]', '', 'g'))),
            t -> length(t) > 0) AS toks
        FROM train),
      ce AS (SELECT doc_id AS eval_id,
          list_filter(list_transform(
            regexp_split_to_array(trim(text), '\s+'),
            t -> lower(regexp_replace(t, '[^A-Za-z0-9]', '', 'g'))),
            t -> length(t) > 0) AS toks
        FROM documents WHERE doc_id < 50),
      tg AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(toks) - 5, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
              || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]))) AS g
        FROM ct),
      eg AS (SELECT eval_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(toks) - 5, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
              || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]))) AS g
        FROM ce)
      SELECT t.doc_id,
        CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_overlap_grams,
        CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
      FROM tg t JOIN eg e ON t.g = e.g
      GROUP BY t.doc_id ORDER BY t.doc_id""",
    "x96_length_histogram" -> """
      WITH d AS (SELECT source,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tok
        FROM documents),
      b AS (SELECT source, n_tok,
          CAST(length(bin(GREATEST(n_tok, 1))) - 1 AS BIGINT) AS bucket
        FROM d),
      g AS (SELECT source, bucket, COUNT(*) AS n,
          CAST(SUM(n_tok) AS BIGINT) AS tok_mass
        FROM b GROUP BY source, bucket),
      t AS (SELECT source, bucket, n, tok_mass,
          SUM(n) OVER (PARTITION BY source) AS n_src FROM g)
      SELECT source, bucket, CAST(n AS BIGINT) AS n, tok_mass,
        CAST((2 * n * 10000 + n_src) // (2 * n_src) AS DOUBLE) / 1e4
          AS share
      FROM t ORDER BY source, bucket""",
    "x87_boilerplate_strip" -> s"""
      WITH $boilerSegmentCtes,
      df AS (SELECT fp, COUNT(DISTINCT doc_id) AS df FROM sf GROUP BY fp),
      agg AS (SELECT doc_id, COUNT(*) AS n_seg,
          SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS n_drop,
          COALESCE(array_to_string(
            list(segtxt ORDER BY g) FILTER (WHERE df < 3), ' '), '')
            AS clean
        FROM sf JOIN df USING (fp) GROUP BY doc_id)
      SELECT doc_id, CAST(n_seg AS BIGINT) AS n_seg,
        CAST(n_drop AS BIGINT) AS n_drop,
        $cleanStatsSql
      FROM agg ORDER BY doc_id""",
    "x89_lang_confusion" -> s"""
      WITH c AS (SELECT doc_id, lang,
          $langCountsSql
        FROM (SELECT doc_id, lang,
            regexp_split_to_array(trim(lower(text)), '\\s+') AS tl
          FROM documents)),
      r AS (SELECT lang,
          CASE WHEN c_en = GREATEST(c_en, c_pt, c_de) AND c_en > 0 THEN 'en'
               WHEN c_pt = GREATEST(c_en, c_pt, c_de) AND c_pt > 0 THEN 'pt'
               WHEN c_de = GREATEST(c_en, c_pt, c_de) AND c_de > 0 THEN 'de'
               ELSE 'und' END AS lang_detectada
        FROM c),
      g AS (SELECT lang, lang_detectada, COUNT(*) AS n FROM r GROUP BY 1, 2),
      tot AS (SELECT lang, lang_detectada, n,
          SUM(n) OVER (PARTITION BY lang) AS n_lang FROM g)
      SELECT lang, lang_detectada, CAST(n AS BIGINT) AS n,
        CAST((2 * n * 10000 + n_lang) // (2 * n_lang) AS DOUBLE) / 1e4
          AS share
      FROM tot ORDER BY lang, lang_detectada""",
    "x19_gopher_repetition" -> """
      WITH tk AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      grams AS (SELECT doc_id,
          unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1])) AS g FROM tk),
      counts AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
      SELECT doc_id,
        CAST(SUM(c) AS BIGINT) AS total_2grams,
        CAST(MAX(c) AS BIGINT) AS top_2gram_n,
        CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS rep_ratio,
        (CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT)) > 0.05 AS repetitive
      FROM counts GROUP BY doc_id ORDER BY doc_id""",
    "x20_decontaminate" -> s"""
      WITH tk AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      g AS (SELECT doc_id, unnest($sqlShingles3) AS g FROM tk)
      SELECT t.doc_id,
        CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_overlap_grams,
        CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
      FROM g t JOIN g e ON t.g = e.g AND e.doc_id < 50
      WHERE t.doc_id >= 50
      GROUP BY t.doc_id ORDER BY t.doc_id""",
    "x52_ngram_novelty" -> """
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)),
      sh AS (SELECT doc_id, unnest(shs) AS sh FROM docs),
      per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM sh GROUP BY doc_id),
      uniq AS (SELECT owner, CAST(COUNT(*) AS BIGINT) AS n_unique
        FROM (SELECT sh, COUNT(*) AS df, MIN(doc_id) AS owner
              FROM sh GROUP BY sh)
        WHERE df = 1 GROUP BY owner)
      SELECT p.doc_id, p.n_grams,
        COALESCE(u.n_unique, 0) AS n_unique,
        CAST((2 * abs(COALESCE(u.n_unique, 0) * 10000) + p.n_grams)
          // (2 * p.n_grams) AS DOUBLE) / 1e4 AS novelty,
        CAST((2 * abs(COALESCE(u.n_unique, 0) * 10000) + p.n_grams)
          // (2 * p.n_grams) AS DOUBLE) / 1e4 < 0.2 AS templated
      FROM per_doc p LEFT JOIN uniq u ON u.owner = p.doc_id
      ORDER BY p.doc_id""",
    "x41_gopher_dup_ngrams" -> """
      WITH tk AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      grams AS (SELECT doc_id,
          unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM tk),
      counts AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
      SELECT doc_id,
        CAST(SUM(c) AS BIGINT) AS total_3grams,
        CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_3gram_n,
        CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
          / CAST(SUM(c) AS BIGINT) AS dup_ratio,
        (CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
          / CAST(SUM(c) AS BIGINT)) > 0.3 AS repetitive
      FROM counts GROUP BY doc_id ORDER BY doc_id""",
    "x38_length_histogram" -> """
      SELECT source, CAST(length(bin(n_tok)) - 1 AS INT) AS balde,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM (SELECT source,
              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                AS n_tok
            FROM documents)
      GROUP BY source, balde
      ORDER BY source, balde""",
    "x30_tfidf_topk" -> """
      WITH tk AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tk GROUP BY doc_id, token),
      df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
             FROM tf GROUP BY token),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      scored AS (
        SELECT t.doc_id, t.token, t.tf, d.df,
          ROUND(t.tf * ln((n.n + 1.0) / (d.df + 1.0)), 4) AS score
        FROM tf t JOIN df d USING (token), n),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY score DESC, token) AS rk
        FROM scored)
      SELECT doc_id, token, tf, df, score, CAST(rk AS INT) AS rk
      FROM ranked WHERE rk <= 3
      ORDER BY doc_id, rk""",
    "x8_quality_score" -> s"""
      SELECT doc_id, CAST(len(${wsToksSql("text")}) AS INT) AS n_tok,
        ROUND($punctRatioSql, 4) AS punct_ratio,
        ROUND($stopRatioSql, 4) AS stop_ratio,
        $qualitySql AS quality
      FROM documents ORDER BY doc_id""",
    "x7_lang_id" -> """
      SELECT doc_id,
        CASE WHEN s_en = best AND s_en > 0 THEN 'en'
             WHEN s_pt = best AND s_pt > 0 THEN 'pt'
             WHEN s_de = best AND s_de > 0 THEN 'de'
             ELSE 'und' END AS lang_detectada
      FROM (
        SELECT doc_id, s_en, s_pt, s_de, GREATEST(s_en, s_pt, s_de) AS best
        FROM (
          SELECT doc_id,
            CAST(len(list_filter(toks, t -> t IN ('the','a','and','of'))) AS DOUBLE)
              / GREATEST(len(toks), 1) AS s_en,
            CAST(len(list_filter(toks, t -> t IN ('de','o','da','em'))) AS DOUBLE)
              / GREATEST(len(toks), 1) AS s_pt,
            CAST(len(list_filter(toks, t -> t IN ('der','die','das','und'))) AS DOUBLE)
              / GREATEST(len(toks), 1) AS s_de
          FROM (SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                FROM documents)))
      ORDER BY doc_id""",
    "x32_quality_calibration" -> x32OracleSql,
    // x32b stages quality at ingest but must produce the IDENTICAL
    // result — one oracle proves the staged column carries the score
    "x32b_quality_ingest" -> x32OracleSql)
}
