package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.text.TextFunctions.{fingerprint, qualityBin, qualityScore, redactPii, tokenCount}

/** Streaming document ingestion for the training-data pipeline: the
  * x22 incremental-dedup semantics on an UNBOUNDED stream. New docs
  * arrive continuously; each micro-batch is anti-joined on the text
  * fingerprint against the static corpus fingerprint set, so only
  * never-seen documents flow downstream.
  *
  * The stream-static left-anti join is STATELESS on the stream side
  * (each batch probes the static side; nothing is buffered across
  * batches), which is what keeps it viable on a 100 TB/day firehose —
  * the corpus fingerprint table is the bounded state, refreshed by
  * the batch pipeline (s12-style partition refresh), not by the
  * stream. At scale the static side is a fp-bucketed table
  * (core/Partitioning) so the per-batch probe is shuffle-free.
  */
object DocStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** File-source stream of (doc_id, text) parquet (test/demo entry;
    * production swaps in Kafka with the same downstream plan). */
  def readDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Only documents whose fingerprint is NOT already in the corpus —
    * every input column rides through (plus `fp`), so the admitted
    * stream is directly ingestible without a re-join. Works
    * identically on a batch DataFrame (stateless plan) — the spec
    * uses that as the oracle.
    *
    * Self-duplicates: the anti-join checks the CORPUS SNAPSHOT only.
    * Re-deliveries of an admitted-but-not-yet-refreshed doc (intra-
    * batch, or across batches before the corpus table folds the
    * sink's fingerprints back in) pass the corpus check — pass
    * `dedupWithin = Some((tsColumn, horizon))` to also drop stream-
    * side duplicates within a watermark horizon (bounded state; the
    * corpus refresh cadence should be ≤ the horizon so the two
    * mechanisms hand off exactly). Without a timestamp column the
    * refresh cadence alone bounds the duplicate-admission window —
    * that contract is the production shape, not a free pass. */
  def incrementalDedup(
      newDocs: DataFrame,
      corpus: DataFrame,
      dedupWithin: Option[(String, String)] = None): DataFrame = {
    val withFp = newDocs.withColumn("fp", fingerprint(col("text")))
    val selfDeduped = dedupWithin match {
      case Some((tsCol, horizon)) =>
        withFp.withWatermark(tsCol, horizon)
          .dropDuplicatesWithinWatermark("fp")
      case None => withFp
    }
    selfDeduped.join(
      corpus.select(fingerprint(col("text")).as("fp")).distinct(),
      Seq("fp"), "left_anti")
  }

  /** Stateless curation pass for streaming ingestion: PII redaction,
    * then token count + quality score + threshold filter — all pure
    * Column expressions — the plan is IDENTICAL on a stream and a
    * batch DataFrame (no state, no watermark, no shuffle), so the
    * batch run is the spec's oracle and a 100 TB/day firehose pays
    * scan-speed only. Redaction runs FIRST so the emitted `n_tok` and
    * `quality` describe the text actually emitted (a redacted phone
    * collapses two whitespace tokens into one placeholder — counting
    * before redacting would overstate downstream sequence packing).
    * Chain before [[incrementalDedup]] for the full ingest shape:
    * curate → dedup → sink. */
  def curate(docs: DataFrame, minQuality: Double,
      stopwords: Seq[String]): DataFrame =
    docs
      .withColumn("text", redactPii(col("text")))
      .withColumn("n_tok", tokenCount(col("text")))
      .withColumn("quality", round(qualityScore(col("text"), stopwords), 4))
      .filter(col("quality") >= minQuality)

  /** NEAR-dup admission for one micro-batch against a persisted
    * [[graft.dedup.NearDup.saveSignatureStore]]: the batch pays its
    * own MinHash signatures (row-local folds), a key-sized probe of
    * the store's band index, exact-Jaccard verification on the
    * colliding sliver, and a left-anti on the matched ids — docs with
    * a near-dup already in the corpus are dropped, everything else
    * rides through untouched.
    *
    * This is the [[incrementalDedup]] contract one level up: exact
    * fingerprints catch byte-identical re-crawls; the signature store
    * catches the boilerplate-edit near-misses. In a stream, wire it
    * through `foreachBatch` — candidate banding anti-joins the batch
    * against ITSELF via the pair table, which Structured Streaming's
    * stateless operator set can't express, and `foreachBatch` gives
    * each micro-batch exact batch semantics with zero cross-batch
    * state (the store, batch-refreshed, IS the state — same cadence
    * contract as the fingerprint set). StreamingSpec proves the
    * stream path admits exactly the batch-run survivors. */
  def admitNearDups(spark: SparkSession, batch: DataFrame,
      storePath: String, threshold: Double = 0.5): DataFrame =
    batch.join(
      graft.dedup.NearDup
        .incrementalNearDupPairs(spark, storePath, batch,
          threshold = threshold)
        .select(col("new_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Model-gate admission for one micro-batch against the persisted
    * classifier weight REGISTRY (the `w` table of
    * [[graft.queries.TrainingDataClassifier.ensureClfModel]], whose
    * path is `weightsPath`): the batch pays its own feature build (the
    * trainer's exact
    * [[graft.queries.TrainingDataClassifier.clfFeatures]] rows
    * — streaming cannot drift from the features the weights were
    * trained on), a 68-row broadcast join, and the 1e-6-quantized σ;
    * docs scoring p ≥ 0.5 ride through, the rest drop. Zero-token
    * docs carry no signal, score nothing, and drop — the same scored
    * population x122 reports on. Stateless per batch (the registry,
    * retrained on the trainer's cadence, IS the state), so it wires
    * through `foreachBatch` exactly like [[admitNearDups]];
    * StreamingSpec proves stream admission ≡ the batch run ≡ x122's
    * per-source kept counts. */
  def admitQuality(spark: SparkSession, batch: DataFrame,
      weightsPath: String): DataFrame = {
    val wdf = spark.read.parquet(weightsPath)
    val kept = graft.queries.TrainingDataClassifier.clfScores(
        graft.queries.TrainingDataClassifier.clfFeatures(batch), wdf)
      .filter(col("pq") >= 500000L)
      .select(col("doc_id"))
    batch.join(kept, Seq("doc_id"), "left_semi")
  }

  /** The END-TO-END curation micro-batch — every admission gate this
    * module ships, composed in production order on one arriving
    * batch: rule-curate (PII redaction first, then the quality-score
    * threshold), exact-fingerprint dedup against the corpus snapshot,
    * near-dup admission against the persisted signature store, and
    * the trained model gate against the weight registry. Returns the
    * stage outputs IN FUNNEL ORDER (x21/x37's audit discipline — a
    * row-count delta after every gate), final survivors last; each
    * stage is localCheckpointed so counting the whole funnel costs
    * one evaluation per stage, not a re-run of the chain per count.
    *
    * Wire it through `foreachBatch` (the near-dup stage self-joins
    * the batch via the pair table — not expressible in a single
    * continuous plan); every stage is stateless per batch, so the
    * same call on a batch frame is the stream's oracle
    * (StreamingSpec proves stream ≡ batch ≡ per-stage direct
    * recounts). The three persisted tables (corpus fingerprints,
    * signature store, weight registry) are the ONLY state, all
    * refreshed by the batch pipeline on its own cadence — the
    * bounded-state contract that keeps a 100 TB/day firehose at
    * scan-speed: nothing here buffers across batches. The corpus
    * snapshot must hold CURATED text (this pipeline's own output),
    * so re-deliveries re-curate to the identical fingerprint. */
  def curateStages(spark: SparkSession, batch: DataFrame,
      corpus: DataFrame, sigStore: String, weightsPath: String,
      minQuality: Double, stopwords: Seq[String],
      threshold: Double = 0.5): Seq[(String, DataFrame)] = {
    val cur = curate(batch, minQuality, stopwords).localCheckpoint()
    val ex = incrementalDedup(cur, corpus).localCheckpoint()
    val nd = admitNearDups(spark, ex, sigStore, threshold).localCheckpoint()
    val gated = admitQuality(spark, nd, weightsPath).localCheckpoint()
    Seq("bruto" -> batch, "qualidade" -> cur, "dedup_exato" -> ex,
      "dedup_aprox" -> nd, "modelo" -> gated)
  }

  /** Ingest-time winnow fingerprinting for one admitted micro-batch:
    * compute each doc's winnowed fingerprints (the
    * [[graft.dedup.NearDup.winnowedFingerprints]] selection, schema-
    * identical to the batch pipeline's staged store — doc_id, m,
    * n_sel, fps) and APPEND them to the store directory. This is the
    * missing streaming half of the x126/x134 staging contract:
    * production fingerprints each doc ONCE, at the moment it is
    * admitted, so the downstream audits never rescan text — a stream
    * that admits docs without fingerprinting them silently grows a
    * corpus the winnow audits can't see. Row-local per batch (the
    * selection is a per-doc array fold; the write is the only I/O),
    * so it chains after [[curateStages]] inside the same
    * foreachBatch. Idempotent under foreachBatch's at-least-once
    * delivery (ADVICE r10): docs already in the store are left-anti
    * filtered out before fingerprinting, so a replayed micro-batch
    * appends nothing — the anti-join reads only the store's doc_id
    * column (column-pruned) and its cost is store-ingest-sized, not
    * corpus-sized. StreamingSpec proves the streamed store ≡ the
    * batch-computed fingerprints row-for-row AND that a replay leaves
    * the store unchanged. */
  def winnowIngest(batch: DataFrame, storeDir: String): Unit = {
    val fresh =
      if (new java.io.File(storeDir).exists())
        batch.join(batch.sparkSession.read.parquet(storeDir)
          .select(col("doc_id")), Seq("doc_id"), "left_anti")
      else batch
    graft.dedup.NearDup
      .winnowedFingerprints(fresh.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("m"),
        size(col("sel")).cast("long").as("n_sel"), col("fps"))
      .write.mode("append").parquet(storeDir)
  }

  /** Streaming half of the quality-drift monitor: per-event-time-
    * window quality-decile counts — ONE watermarked windowed
    * aggregation, the only stateful operator, with state bounded by
    * windows-in-flight × 10 bins regardless of throughput. The same
    * code runs on a batch frame (the watermark node is eliminated in
    * batch plans), which is what the spec uses as the oracle. */
  def windowedQualityCounts(docs: DataFrame, tsCol: String,
      windowDur: String, watermark: String,
      stopwords: Seq[String]): DataFrame =
    docs
      .withColumn("bin", qualityBin(col("text"), stopwords))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col("bin"))
      .agg(count(lit(1)).as("c"))

  /** Streaming tokenizer-drift monitor — x115's frozen-vocabulary
    * contract on event time: per window, token mass and
    * out-of-vocabulary occurrences against a vocabulary trained ONCE
    * on the base corpus and never updated in-stream (retraining
    * in-flight would invalidate previously tokenized data — the
    * whole point is to detect when a retrain is DUE). One watermarked
    * windowed aggregation; state bounded by windows-in-flight,
    * per-doc counts row-local. The small frozen vocab rides as an
    * `isin` literal (a production-sized vocabulary would
    * broadcast-join the exploded tokens instead — same plan shape,
    * one extra join). Identical code runs on a batch frame, which is
    * what StreamingSpec uses as the oracle. */
  def windowedOovCounts(docs: DataFrame, tsCol: String, windowDur: String,
      watermark: String, vocab: Seq[String]): DataFrame = {
    val toks = filter(
      graft.text.TextFunctions.wsTokens(lower(col("text"))), w => w =!= "")
    docs
      .withColumn("n_tok_doc", size(toks).cast("long"))
      .withColumn("n_oov_doc", size(filter(toks,
        w => !w.isin(vocab.map(x => x: Any): _*))).cast("long"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur))
      .agg(sum(col("n_tok_doc")).as("n_tok"),
        sum(col("n_oov_doc")).as("n_oov"))
  }

  /** Scoring half: PSI of each window's quality histogram against a
    * REFERENCE histogram (the corpus snapshot the mix was designed
    * on) — the alarm number x68 computes corpus-vs-corpus, here
    * window-vs-reference so a production ingest can page on "this
    * hour's crawl quality shifted". Runs downstream of
    * [[windowedQualityCounts]] — in a stream, inside `foreachBatch`
    * (chained streaming aggregations are not expressible in a single
    * continuous plan; the per-window counts ARE the bounded handoff).
    * Laplace-(+1) over the explicit 10-bin grid, per-bin terms
    * quantized to integers (x68 recipe) so the sum is replay-stable. */
  def qualityPsi(binCounts: DataFrame, refHist: Seq[(Long, Long)]): DataFrame = {
    val spark = binCounts.sparkSession
    import spark.implicits._
    val nRef = refHist.map(_._2).sum
    val ref = refHist.toDF("bin", "rc")
    val grid = spark.range(0, 10).select(col("id").as("bin"))
    // binCounts is POST-aggregation — bounded by windows-in-flight ×
    // 10 bins, never corpus-sized — and it is referenced twice below
    // (totals + the grid fill). Pin it driver-local (the x55 pattern):
    // one evaluation, and the self-reference cannot trip attribute
    // dedup on exotic sources (the memory-sink view in the spec hits
    // exactly that).
    val bc = {
      // Enforce the bin domain at the door (ADVICE r7): the PSI grid
      // is pinned to bins 0–9, but a caller whose binning isn't
      // clamped (e4-style floor bins have no lower clamp; null bins
      // group separately) would otherwise have out-of-domain rows
      // counted in each window's total n while their PSI contribution
      // is silently dropped — skewing every in-domain term. Filtering
      // HERE keeps n and the contributions consistent: out-of-domain
      // rows are excluded from both, not half-counted.
      val inDomain = binCounts.filter(col("bin").between(0, 9))
      graft.core.Pin(inDomain)
    }
    val full = bc.groupBy(col("window")).agg(sum(col("c")).as("n"))
      .crossJoin(broadcast(grid))
      .join(bc, Seq("window", "bin"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(ref), Seq("bin"), "left").na.fill(0L, Seq("rc"))
    val p = (col("c") + 1).cast("double") / (col("n") + 10).cast("double")
    val q = (col("rc") + 1).cast("double") / lit((nRef + 10).toDouble)
    val lnrQ = round(log(
      ((col("c") + 1) * lit(nRef + 10)).cast("double")
        / ((col("rc") + 1) * (col("n") + 10)).cast("double")) * 1e6, 0)
      .cast("long")
    full
      .withColumn("contrib_q",
        round((p - q) * lnrQ.cast("double") * 1e2, 0).cast("long"))
      .groupBy(col("window"))
      .agg(max(col("n")).as("n_docs"),
        (sum(col("contrib_q")).cast("double") / 1e8).as("psi"))
  }

  /** Streaming count-min sketch (Cormode & Muthukrishnan) — x102's
    * d=4 × w=1024 CMS rebuilt as a WATERMARKED WINDOWED aggregation:
    * per event-time window, the (hrow, bucket) counter cells. This
    * is the sketch's whole reason to exist at 100 TB/day: state is
    * windows-in-flight × 4096 counters — bounded regardless of
    * vocabulary size or throughput — where an exact per-window token
    * count would carry the unbounded vocabulary as state. Hashes are
    * x102's verbatim (bucket_r(w) = md5₃₂("r:" ∥ w) mod 1024), so a
    * drained stream's cells are identical to the batch CMS over the
    * same slice (pinned in StreamingSpec). */
  def windowedCmsCells(docs: DataFrame, tsCol: String, windowDur: String,
      watermark: String): DataFrame =
    docs
      .select(col(tsCol),
        explode(graft.text.TextFunctions.wsTokens(col("text"))).as("w"))
      .select(col(tsCol), col("w"),
        explode(sequence(lit(0), lit(3))).as("hrow"))
      .select(col(tsCol), col("hrow"),
        pmod(graft.dedup.NearDup.md5Hash32(
          concat(col("hrow").cast("string"), lit(":"), col("w"))),
          lit(1024L)).as("bucket"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col("hrow"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming HyperLogLog registers (x169's sketch as a WATERMARKED
    * WINDOWED aggregation): per event-time window, the (register j,
    * max rank) pairs under x169's md5₃₂ coordinates
    * ([[graft.queries.TrainingDataMixture.hllJ]]/[[graft.queries
    * .TrainingDataMixture.hllRho]] — shared verbatim, the CMS convention).
    * State is windows-in-flight × ≤ 64 registers — bounded regardless
    * of vocabulary or throughput — and the registers MERGE: the union
    * of any window set is their register-wise max, HLL's defining
    * law, so per-window sketches roll up to any coarser granularity
    * without rescanning text (pinned in StreamingSpec: drained stream
    * ≡ batch, and max-merging the per-window registers ≡ the sketch
    * of the whole slice). */
  def windowedHllRegisters(docs: DataFrame, tsCol: String,
      windowDur: String, watermark: String): DataFrame =
    docs
      .select(col(tsCol),
        explode(graft.text.TextFunctions.wsTokens(col("text"))).as("w"))
      .select(col(tsCol),
        graft.queries.TrainingDataMixture.hllJ(col("w")).as("j"),
        graft.queries.TrainingDataMixture.hllRho(col("w")).as("rho"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col("j"))
      .agg(max(col("rho")).as("m"))

  /** Point-estimate query over [[windowedCmsCells]] output: per
    * (window, candidate token), the CMS estimate = min over the 4
    * hash rows' bucket counters; a counter cell absent from a window
    * means that bucket counted nothing there (CMS counters only ever
    * overcount), so missing cells coalesce to 0 before the min —
    * EVERY (window, candidate) pair gets a row, including candidates
    * whose 4 cells are all absent (estimate 0), via candidates ×
    * distinct-windows left-joined to the cell table (ADVICE r10: the
    * old inner join emitted NO row in the all-absent case, making the
    * clamp claim vacuous). Both sides of the cross product are
    * bounded — windows-in-flight × |candidates| — so the estimate
    * table stays tiny regardless of throughput. Runs downstream of
    * the windowed aggregation (foreachBatch in a live stream — the
    * cell table is the bounded handoff, the qualityPsi pattern). */
  def cmsEstimate(cells: DataFrame, candidates: Seq[String]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val cand = candidates.toDF("w")
      .select(col("w"), explode(sequence(lit(0), lit(3))).as("hrow"))
      .withColumn("bucket", pmod(graft.dedup.NearDup.md5Hash32(
        concat(col("hrow").cast("string"), lit(":"), col("w"))),
        lit(1024L)))
    // two-sided read of `cells` (windows + counters): the counter side
    // renames every column so the self-join's outputs share no
    // attribute — the plain self-join trips Catalyst's conflicting-
    // reference resolution on the shared view lineage
    val ctr = cells.select(col("window").as("c_win"),
      col("hrow").as("c_hrow"), col("bucket").as("c_bucket"),
      col("cnt").as("c_cnt"))
    cells.select(col("window")).distinct()
      .crossJoin(broadcast(cand))
      .join(ctr, col("window") === col("c_win") &&
        col("hrow") === col("c_hrow") &&
        col("bucket") === col("c_bucket"), "left")
      .groupBy(col("window"), col("w"))
      .agg(min(coalesce(col("c_cnt"), lit(0L))).as("c_cms"))
  }
}
