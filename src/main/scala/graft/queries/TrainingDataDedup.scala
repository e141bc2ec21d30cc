package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Store, Tables}
import graft.text.TextFunctions._
import graft.queries.TrainingData._

/** Deduplication: exact and fingerprint dedup, MinHash/SimHash/dHash
  * near-dup, winnowing, substring and intra-document dedup, the dup
  * graph's connected components and the LSH tuning audits. Stores:
  * the signature store, the dHash store, the winnowed-fingerprint
  * store and the staged dedup labels. */
object TrainingDataDedup {

  /** X10: document fingerprinting (md5 of normalized text + short key). */
  val x10Fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        fingerprint(col("text")).as("fp"),
        fingerprintShort(col("text")).as("fp_short"))
      .orderBy(col("doc_id"))

  /** X1: exact dedup — hash-groupBy on fingerprint, keep first id.
    * At scale this shuffles only (fp, id) pairs.
    * ([[graft.dedup.NearDup.exactDedup]] — the x1/x2/x4/x14 queries
    * delegate to the reusable dedup facade, so the DuckDB oracles
    * cover the library code users call on their own corpora.) */
  val x1DedupExact: Q = (s, d) =>
    graft.dedup.NearDup.exactDedup(corpusWithDupes(s, d))
      .orderBy(col("doc_id_mantido"))

  /** X4: exact n-gram Jaccard near-dup pairs (3-word shingles,
    * J ≥ 0.5) — the verification primitive LSH candidates are checked
    * against ([[graft.dedup.NearDup.ngramJaccardPairs]]). */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    graft.dedup.NearDup.ngramJaccardPairs(
      spread(s, corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)))

  val x4NgramJaccard: Q = (s, d) =>
    ngramJaccardPairs(s, d).orderBy(col("id_a"), col("id_b"))

  /** X14: near-dup clustering — connected components over the exact
    * Jaccard pair graph (x4, J ≥ 0.5), labeling every corpus doc with
    * the minimum doc_id of its duplicate component ("canonico"); the
    * survivor set is `sobrevivente = (doc_id == canonico)`. This is
    * the stage after pair generation in a real dedup pipeline: pairs
    * alone don't say which doc to keep when dup relations chain
    * (A~B, B~C but A!~C).
    *
    * Spark-first CC without GraphX: [[graft.plans.ConnectedComponents]]
    * (min-label hooking + pointer-doubling shortcut, O(log diameter)
    * rounds — see its scaladoc; PropertySpec pins both the labels
    * against union-find and the round bound on a path graph). The
    * fixpoint equals the transitive closure the oracle computes with
    * a recursive CTE. */
  val x14DedupClusters: Q = (s, d) =>
    graft.dedup.NearDup.clusters(
      corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200),
      ngramJaccardPairs(s, d))
      .orderBy(col("doc_id"))

  /** X24: end-to-end dedup — the DEDUPLICATED CORPUS itself
    * ([[graft.dedup.NearDup.survivors]]): transitive-closure clusters
    * over the exact pair graph, one canonical doc kept per component,
    * texts joined back. The operator a training pipeline actually
    * calls; x14 exposes the labels, this exposes the output corpus. */
  val x24DedupSurvivors: Q = (s, d) =>
    graft.dedup.NearDup.survivors(
      corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200),
      ngramJaccardPairs(s, d))
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  /** X152: quality-aware dedup survivor policy — modern curation
    * stacks (FineWeb, Dolma, SlimPajama) keep ONE member per near-dup
    * cluster, and WHICH member matters: x24's min-id rule is
    * arbitrary, while production pipelines keep the highest-quality
    * member (longest / cleanest — the re-crawl of a page with less
    * boilerplate should win over the first-crawled copy). Same
    * cluster machinery as x14/x24 ([[graft.dedup.NearDup.clusters]] —
    * banded candidates, O(log diameter) CC, never all-pairs), then a
    * per-cluster argmax of the x8 quality score (q4 DESC, doc_id ASC
    * tie) via a map-side-combinable max_by — no window over raw docs.
    * Output per multi-member cluster: size, the quality keeper, its
    * score, and whether the policy DIFFERS from min-id — the audit
    * column that prices switching survivor rules on an existing
    * corpus. */
  val x152QualitySurvivor: Q = (s, d) => {
    val corpus = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    val cl = graft.dedup.NearDup.clusters(corpus, ngramJaccardPairs(s, d))
    val q = corpus.select(col("doc_id"),
      round(qualityScore(col("text"), stopwords) * 1e4, 0).cast("long")
        .as("q4"))
    cl.select(col("doc_id"), col("canonico")).join(q, Seq("doc_id"))
      .groupBy(col("canonico"))
      .agg(count(lit(1)).as("n_membros"),
        max_by(struct(col("doc_id").as("keeper"), col("q4").as("keeper_q4")),
          struct(col("q4"), (-col("doc_id")).as("tb"))).as("best"))
      .filter(col("n_membros") >= 2)
      .select(col("canonico"), col("n_membros"),
        col("best.keeper").as("keeper"),
        (col("best.keeper_q4").cast("double") / 1e4).as("keeper_q"),
        (col("best.keeper") =!= col("canonico")).as("policy_differs"))
      .orderBy(col("canonico"))
  }

  /** X2: MinHash + LSH near-dup detection (shingle → k=16 minhashes →
    * 4 bands × 4 rows → bucket join → exact-Jaccard verify ≥ 0.5) —
    * [[graft.dedup.NearDup.minhashLshPairs]]. Candidate generation
    * never compares all pairs — at 100 TB the band join only collides
    * plausibly-similar docs. Signatures are per-row array folds (no
    * explode/groupBy shuffle), the bucket self-join carries both
    * shingle arrays so the exact verify is inline, and the md5-based
    * hash family is engine-portable → full DuckDB oracle; ScalaTest
    * additionally asserts recall vs x4's exact pairs. */
  val x2DedupMinhash: Q = (s, d) =>
    graft.dedup.NearDup.minhashLshPairs(
      spread(s, corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)))
      .orderBy(col("id_a"), col("id_b"))

  /** 16-bit hash of a token: the top 4 hex digits of its md5 prefix
    * ([[graft.dedup.NearDup.md5Hash32At]] shifted down 16 bits). */
  private def md5Hash16(c: Column): Column =
    shiftright(graft.dedup.NearDup.md5Hash32At(c, 1), 16)

  /** X3: SimHash signatures (16-bit): per-bit ±1 votes over distinct
    * tokens, sign → bit. Same computation expressed in the oracle SQL. */
  val x3Simhash: Q = (s, d) => {
    val toks = spread(s, Tables.documents(s, d))
      .select(col("doc_id"), explode(distinctTokens(col("text"))).as("tok"))
      .withColumn("h", md5Hash16(col("tok")))
    val votes = (0 until 16).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$i")
    }
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(i =>
          when(col(s"v$i") > 0, lit(1 << i)).otherwise(lit(0)))
          .reduce(_ + _).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit token hash: two positional 32-bit md5 parses assembled
    * bitwise (a single positional sum of 16 hex digits would overflow
    * signed 64-bit arithmetic at digit 15 × 16^15). */
  private def md5Hash64(c: Column): Column =
    shiftleft(graft.dedup.NearDup.md5Hash32At(c, 1), 32)
      .bitwiseOR(graft.dedup.NearDup.md5Hash32At(c, 9))

  /** Width-parameterized simhash signature per doc over the dedup
    * corpus: per-bit ±1 votes over distinct tokens, sign → bit. The
    * signature assembles by bitwise OR (disjoint bits) so the 64-bit
    * sign bit (1L << 63) never rides an ANSI-checked addition. */
  private def simhashSigs(s: SparkSession, d: String, bits: Int): DataFrame = {
    require(bits == 32 || bits == 64, s"unsupported simhash width $bits")
    val hash = if (bits == 64) md5Hash64(col("tok"))
      else graft.dedup.NearDup.md5Hash32(col("tok"))
    val toks = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
      .select(col("doc_id"), explode(distinctTokens(col("text"))).as("tok"))
      .withColumn("h", hash)
    val votes = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$i")
    }
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Banded near-dup pairs over precomputed simhash signatures:
    * docs sharing any band bucket become candidates; exact hamming
    * (bit_count of xor) ≤ `maxHamming` verifies. LOSSLESS whenever
    * `maxHamming < nBands` (pigeonhole: the differing bits cannot
    * touch every band, so one band matches exactly) — PropertySpec
    * pins this against the n² scan at the 64-bit production width. */
  def simhashBandedPairs(
      sigs: DataFrame, bandBits: Int, nBands: Int, maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val bands = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(mask).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    bands.as("a").join(bands.as("b"), Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** X23 / production-width (64-bit, 4×16-bit bands) simhash dedup —
    * same plan shape as x15, wider signature (lower false-candidate
    * rate at corpus scale). Oracle-proven: DuckDB rebuilds the 64-bit
    * signatures (hi/lo 32-bit votes, two's-complement sign-bit
    * assembly) and runs the n² hamming scan the lossless banding must
    * equal; PropertySpec pins banded == n² on the Spark side too. */
  def simhash64Dedup(s: SparkSession, d: String): DataFrame =
    simhashBandedPairs(simhashSigs(s, d, 64), bandBits = 16, nBands = 4,
      maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** 64-bit signatures (test hook for the full-width pin). */
  def simhashSigs64(s: SparkSession, d: String): DataFrame =
    simhashSigs(s, d, 64)

  /** All-pairs hamming≤k reference for the lossless-blocking pin. */
  def simhashBrutePairs(s: SparkSession, d: String, bits: Int,
      maxHamming: Int): DataFrame = {
    val sigs = simhashSigs(s, d, bits)
    sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("hamming"))
  }

  /** X15: SimHash near-dup pairs with banded blocking — the SimHash
    * DEDUP operator (x3 only emits signatures). 32-bit signatures
    * split into 4 bands of 8 bits; docs sharing any band bucket become
    * candidates; exact hamming (bit_count of xor) ≤ 3 verifies.
    *
    * The blocking is LOSSLESS for this threshold by pigeonhole: ≤ 3
    * differing bits cannot touch all 4 bands, so at least one band
    * matches exactly — the LSH-shaped plan returns EXACTLY the n² scan
    * result (which is what the oracle computes), while only ever
    * joining within band buckets. Production width is 64-bit with
    * 16-bit bands ([[simhash64Dedup]], PropertySpec-pinned); 32-bit
    * keeps the oracle portable. */
  val x15SimhashDedup: Q = (s, d) =>
    simhashBandedPairs(simhashSigs(s, d, 32), bandBits = 8, nBands = 4,
      maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** The ingest-staged winnowed-fingerprint table over the raw corpus
    * — the x32b/x98 staged contract for the winnowing family:
    * production fingerprints each doc ONCE at ingest (the corpus-wide
    * positional-hash scan is the cost, measured standalone in x126's
    * compute path) and every downstream analytic reads the stored
    * (doc_id, fps) rows. First caller pays;
    * [[TrainingData.prebuildCaches]] pays it in Bench's untimed warmup. */
  private[queries] def ensureWinnowStore(s: SparkSession, d: String): String =
    // the store also carries each doc's k-gram count and selected-
    // position count (ingest-time stats, computed for free during
    // fingerprinting), so x126's corpus-wide audit reads the staged
    // table instead of re-scanning text
    Store.materialize("winnow2", "v1", d, "documents") { path =>
      graft.dedup.NearDup.winnowedFingerprints(
          spread(s, Tables.documents(s, d).select(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("m"),
          size(col("sel")).cast("long").as("n_sel"), col("fps"))
        .write.mode("overwrite").parquet(path)
    }

  /** X22: incremental (batch-over-corpus) dedup — drop incoming docs
    * whose fingerprint already exists in the corpus, keep the rest.
    * The ingestion-time counterpart of x1: a LEFT ANTI join on the
    * fingerprint, shuffling only (fp, id) pairs. The corpus side is
    * NOT broadcast on purpose — at 100 TB the fingerprint store is
    * corpus-sized (a bucketed table by fp makes the anti join
    * shuffle-free); the incoming batch is the small side. */
  val x22IncrementalDedup: Q = (s, d) => {
    val corpus = corpusWithDupes(s, d)
    graft.streaming.DocStream.incrementalDedup(
      corpus.filter(col("doc_id") >= 1000000L),
      corpus.filter(col("doc_id") < 1000000L))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** X29: Bloom-prefiltered incremental dedup — the 100 TB shape of
    * x22. A Bloom filter over the corpus fingerprints (built with the
    * engine's order-independent `bloom_filter_agg`, broadcast to the
    * scan) splits the incoming batch map-side: bloom-NEGATIVE docs are
    * definitely new (no false negatives) and skip the join entirely;
    * only bloom-POSITIVE candidates — a tiny fraction at scale — pay
    * the exact anti-join that removes false positives. The output is
    * therefore bit-identical to the exact x22 result (asserted in
    * EngineSpec and by sharing its DuckDB oracle), while the shuffled
    * volume drops from the whole batch to the candidate sliver. */
  val x29BloomDedup: Q = (s, d) => {
    val corpus = corpusWithDupes(s, d)
    val existing = corpus.filter(col("doc_id") < 1000000L)
      .select(fingerprint(col("text")).as("fp")).distinct()
    val incoming = corpus.filter(col("doc_id") >= 1000000L)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    // The sketch rides a SCALAR SUBQUERY (the same shape Spark's own
    // InjectRuntimeFilter feeds might_contain, and the form its type
    // check admits besides a constant): the whole query stays ONE
    // lazy plan — building the DataFrame runs no job, and the
    // fixed-size aggregate executes as a subquery stage of the same
    // query. Sized above the largest fixture corpus (50k fps at the
    // 10× scale smoke): an undersized bloom only degrades pruning
    // (more candidates reach the exact join), never correctness —
    // size to the corpus cardinality estimate in production.
    val bf = org.apache.spark.sql.GraftBridge.scalarSubquery(
      existing.agg(graft.functions.SketchFunctions
        .bloomFilterAgg(col("fp"), 60000L, 480000L).as("bf")))
    val flagged = incoming
      .withColumn("candidato",
        graft.functions.SketchFunctions.mightContain(bf, col("fp")))
      .select(col("doc_id"), col("fp"), col("candidato"))
    val definitelyNew = flagged.filter(!col("candidato"))
      .select(col("doc_id"), col("fp"))
    val verified = flagged.filter(col("candidato"))
      .join(existing, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
    definitelyNew.unionByName(verified).orderBy(col("doc_id"))
  }

  /** X33: substring-level duplicate pairs on the dedup corpus
    * ([[graft.dedup.NearDup.substringDupPairs]] — 64-char windows,
    * 32-char stride, df ≤ 50 boilerplate guard). The synthetic exact
    * and near copies guarantee shared windows, and the " extra"
    * suffix of the near copy demonstrates what doc-level hashing
    * can't: the pair still collides on every interior window. */
  val x33SubstringDedup: Q = (s, d) =>
    graft.dedup.NearDup.substringDupPairs(
      spread(s, corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)))
      .orderBy(col("id_a"), col("id_b"))

  /** X58: containment dedup — asymmetric n-gram containment pairs
    * ([[graft.dedup.NearDup.containmentPairs]], C ≥ 0.9) over the
    * dedup corpus EXTENDED with 12-token-prefix truncations (+3M
    * ids): a truncated quote has containment 1.0 but Jaccard ≈
    * prefix/full — the duplicate family x4's symmetric threshold
    * structurally misses (for A ⊂ B, J = |A|/|B| shrinks with the
    * size gap while C stays 1). Reported Jaccard alongside makes the
    * miss visible pair-by-pair. Same posting-list shape as x4 —
    * quadratic only within shingle postings at any corpus size. */
  val x58ContainmentDedup: Q = (s, d) => {
    val base = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    val trunc = Tables.documents(s, d)
      .filter(col("doc_id") % 1000000 < 200)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        array_join(slice(wsTokens(col("text")), 1, 12), " ").as("text"))
    graft.dedup.NearDup.containmentPairs(
      spread(s, base.unionByName(trunc)))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** X59: dedup yield audit — per-source document and token mass
    * retained by the end-to-end near-dup dedup (x24's survivor set):
    * the acceptance report a data lead reads before signing off a
    * corpus drop ("how much of each source did dedup cost?"). Shape:
    * the CC labels are doc-keyed; copies attribute back to their base
    * doc (doc_id % 1e6) and the source attach is a doc-keyed join AQE
    * sizes itself (no hint, the x30 precedent); the final aggregation
    * is map-side combinable onto |sources| rows. */
  val x59DedupMass: Q = (s, d) => {
    val corpus = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    val kept = graft.dedup.NearDup
      .survivors(corpus, ngramJaccardPairs(s, d))
      .select(col("doc_id"), lit(1).as("kept"))
    corpus
      .select(col("doc_id"), (col("doc_id") % 1000000L).as("base_id"),
        tokenCount(col("text")).cast("long").as("tok"))
      .join(kept, Seq("doc_id"), "left")
      .join(Tables.documents(s, d)
        .select(col("doc_id").as("base_id"), col("source")), Seq("base_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("kept"), lit(0))).as("n_kept"),
        sum(col("tok")).as("tok_total"),
        sum(when(col("kept").isNotNull, col("tok")).otherwise(lit(0L)))
          .as("tok_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tok_total"), col("tok_kept"),
        (intRoundHalfAway(col("tok_kept") * 10000L, col("tok_total"))
          .cast("double") / 1e4).as("kept_frac"))
      .orderBy(col("source"))
  }

  /** Build-and-save the MinHash signature store once per sf-dir
    * (same cache contract as [[ensureIvfIndex]]: params + fixture
    * fingerprint in the path, first caller pays). The store covers
    * the BASE docs (doc_id < 200 slice); batches are checked against
    * it incrementally. The cache tag derives from the SAME
    * (numHashes, bandRows, shingleN) values passed to the store
    * build — and [[x60SignatureStore]] passes the identical values to
    * the incremental probe — so a parameter drift can never silently
    * reuse a store whose band keys were cut with other params. */
  private val sigStoreParams = (16, 4, 3) // (numHashes, bandRows, shingleN)

  private[queries] def ensureSigStore(s: SparkSession, d: String): String = {
    val (k, b, sh) = sigStoreParams
    Store.materialize("sig_store", s"v1k${k}b${b}s$sh", d, "documents") { path =>
      graft.dedup.NearDup.saveSignatureStore(
        spread(s, Tables.documents(s, d)
          .filter(col("doc_id") % 1000000 < 200)
          .select(col("doc_id"), col("text"))), path,
        numHashes = k, bandRows = b, shingleN = sh)
    }
  }

  /** X60: incremental near-dup against a persisted signature store —
    * the production shape of x2: corpus signatures are computed once
    * at ingest ([[graft.dedup.NearDup.saveSignatureStore]]); a new
    * batch (here the exact +1M and near +2M copies) pays only its own
    * signatures, a key-sized band join against the store, and exact
    * verification on the colliding sliver. The near-dup analog of the
    * x22/x29 fingerprint store and of x31's IVF probe-vs-build
    * amortization. The oracle recomputes the full band join from
    * scratch — proving the store path is bit-identical to a fresh
    * two-sided LSH run. */
  val x60SignatureStore: Q = (s, d) => {
    val batch = corpusWithDupes(s, d)
      .filter(col("doc_id") % 1000000 < 200 && col("doc_id") >= 1000000L)
    val (k, b, sh) = sigStoreParams
    graft.dedup.NearDup.incrementalNearDupPairs(
      s, ensureSigStore(s, d), spread(s, batch),
      numHashes = k, bandRows = b, shingleN = sh)
      .orderBy(col("new_id"), col("old_id"))
  }

  /** The x62/x91 evaluation corpus: the dup fixture plus 50%- and
    * 75%-prefix copies (+3M/+4M ids) so the mid-similarity bands
    * where the S-curve actually falls off are populated. */
  private def lshEvalCorpus(s: SparkSession, d: String): DataFrame = {
    def prefixCopy(off: Long, frac: Double) = Tables.documents(s, d)
      .filter(col("doc_id") % 1000000 < 200)
      .select((col("doc_id") + off).as("doc_id"),
        array_join(slice(wsTokens(col("text")), lit(1),
          floor(size(wsTokens(col("text"))).cast("double") * frac)
            .cast("int")), " ").as("text"))
    spread(s,
      corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
        .unionByName(prefixCopy(3000000L, 0.5))
        .unionByName(prefixCopy(4000000L, 0.75)))
  }

  /** X62: LSH recall audit — the knob-tuning table for the x2
    * pipeline: exact-Jaccard truth pairs (x4, J ≥ 0.5) bucketed into
    * 0.1-wide similarity bands, with the fraction the MinHash+LSH
    * path actually caught next to the S-curve prediction
    * 1−(1−j⁴)⁴ at the band midpoint (16 hashes, 4 bands × 4 rows).
    * LSH verification recomputes exact Jaccard on the same shingle
    * sets, so detected ⊆ truth and the gap is pure band-collision
    * recall — the number that says whether to add hashes before a
    * production run, measured on data instead of trusted from the
    * formula. Both sides run at threshold 0.3 (below x2's production
    * 0.5) and the corpus adds 50%- and 75%-prefix copies (+3M/+4M
    * ids): a frac-prefix of an n-token doc has Jaccard ≈
    * (frac·n−2)/(n−2) against its base and the prefixes pair with
    * each other at ≈ 0.6, so the mid bands where the S-curve actually
    * falls off are populated — the fixture's own dup pairs all sit in
    * the top band, where every curve reads 1.0. Model arithmetic is
    * explicit products (no pow), so both engines evaluate it
    * bit-identically. */
  val x62LshEval: Q = (s, d) => {
    val corpus = lshEvalCorpus(s, d)
    val truth = graft.dedup.NearDup
      .ngramJaccardPairs(corpus, threshold = 0.3)
    val lsh = graft.dedup.NearDup
      .minhashLshPairs(corpus, threshold = 0.3)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    val m = col("band") + lit(0.05)
    val m2 = m * m; val m4 = m2 * m2
    val miss1 = lit(1.0) - m4
    val miss2 = miss1 * miss1
    truth.join(lsh, Seq("id_a", "id_b"), "left")
      .withColumn("band", least(floor(col("jaccard") * 10) / 10, lit(0.9)))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).as("n_found"))
      .select(col("band"), col("n_truth"), col("n_found"),
        (intRoundHalfAway(col("n_found") * 10000L, col("n_truth"))
          .cast("double") / 1e4).as("recall"),
        (round((lit(1.0) - miss2 * miss2) * 1e4, 0) / 1e4).as("recall_model"))
      .orderBy(col("band"))
  }

  /** The (bands, rows) grid the tuner enumerates: every b×r with
    * r ≤ 8, b ≤ 16, k = b·r ≤ 64 (k is the signature width a
    * production MinHash run pays per document). */
  private[graft] val lshTunerGrid: Seq[(Int, Int)] =
    for { r <- 1 to 8; b <- 1 to 16; if b * r <= 64 } yield (b, r)

  /** Closed-form S-curve points for one (b, r) config, computed the
    * way BOTH engines will: miss = 1 − t^r folded by left-to-right
    * double multiplication, missᵇ likewise, floor-quantized at 1e-4.
    * t^r for t=0.5 is exact dyadic; for t=0.3 it's the deterministic
    * product of the literal's nearest double — either way the oracle
    * repeats the identical literal chain, so the doubles agree
    * bit-for-bit and floor() cannot split them. */
  private[graft] def lshCurvePoint(b: Int, r: Int, t: Double): Double = {
    var tp = 1.0; var i = 0
    while (i < r) { tp *= t; i += 1 }
    val miss = 1.0 - tp
    var mb = 1.0; var j = 0
    while (j < b) { mb *= miss; j += 1 }
    math.floor((1.0 - mb) * 1e4) / 1e4
  }

  /** X62b: LSH parameter auto-tuner — closes the loop x62 opened:
    * instead of trusting (16, 4×4) from habit,
    * enumerate the whole (bands, rows) grid and choose the config
    * that minimizes candidate pull-in at junk similarity (J=0.3,
    * `catch_lo` — x62's audit floor) subject to S-curve recall ≥ 0.9
    * at the x2 production threshold (J=0.5, `recall_hi`) and
    * signature budget k ≤ 64 —
    * ties broken by cost (k + bands, the signature + band-key work
    * per doc), then rows, then bands, so the choice is a total order.
    * The grid is MODEL arithmetic (no corpus scan — |grid| = 103
    * rows, driver-pinned like every bounded relation); x62 remains
    * the on-data validation of the same S-curve family.
    * EngineSpec pins the chosen config against an independent
    * brute-force enumeration. */
  val x62bLshTuner: Q = (s, _) => {
    import s.implicits._
    val rows = lshTunerGrid.map { case (b, r) =>
      val hi = lshCurvePoint(b, r, 0.5)
      val lo = lshCurvePoint(b, r, 0.3)
      (b * r, b, r, hi, lo, (b * r + b).toLong)
    }
    val chosen = rows.filter(_._4 >= 0.9)
      .sortBy { case (k, b, r, _, lo, cost) => (lo, cost, r, b) }
      .headOption
    s.createDataset(rows.map { case (k, b, r, hi, lo, cost) =>
      (k.toLong, b.toLong, r.toLong, hi, lo, cost,
        chosen.exists(c => c._2 == b && c._3 == r))
    }).toDF("num_hashes", "bands", "rows_per_band", "recall_hi", "catch_lo",
      "cost", "chosen")
      .orderBy(col("rows_per_band"), col("bands"))
  }

  /** X88: quality-aware dedup survivor selection — x14/x24 keep the
    * MIN-id doc per near-dup family (the cheap canonical); a real
    * curation run keeps the BEST copy (RefinedWeb keeps longest,
    * quality-filter pipelines keep highest-scoring — the mirror of a
    * truncated/mangled duplicate outliving its clean original).
    * Same CC labels as x14 (one contract), each family ranked by
    * (quality desc, doc_id): `kept_best` marks the survivor the
    * quality rule selects. Scale shape: reads the INGEST-STAGED
    * labels ([[ensureDedupLabels]] — the x98 contract; the closure
    * compute is measured in x14) plus ONE family-keyed rank window
    * over (doc_id, quality) pairs — text never enters the window
    * exchange. The oracle recomputes the closure from scratch, so
    * the staged labels are proven identical every run. */
  val x88QualitySurvivors: Q = (s, d) => {
    val corpus = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    val labels = s.read.parquet(ensureDedupLabels(s, d))
    val scored = corpus.select(col("doc_id"),
      qualityScore(col("text"), stopwords).as("quality"))
    val w = Window.partitionBy(col("canonico"))
      .orderBy(col("quality").desc, col("doc_id"))
    labels.join(scored, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("canonico"), col("quality"),
        (col("rk") === 1).as("kept_best"))
      .orderBy(col("doc_id"))
  }

  /** Build-and-save the dHash store once per sf-dir (the
    * [[ensureSigStore]] cache contract: fixture fingerprint in the
    * path, first caller pays, [[TrainingData.prebuildCaches]] pays it in Bench's
    * untimed warmup). Covers the BASE assets (doc_id < 200 slice). */
  private[queries] def ensureDHashStore(s: SparkSession, d: String): String =
    Store.materialize("dhash_store", "v1", d, "documents") { path =>
      graft.multimodal.Multimodal.saveDHashStore(s,
        graft.multimodal.Multimodal.withBinaryPayload(
          spread(s, Tables.documents(s, d)
            .filter(col("doc_id") % 1000000 < 200)
            .select(col("doc_id"), col("text")))), path)
    }

  /** X92: incremental image near-dup against the persisted dHash
    * store — the image twin of x60's signature-store probe and the
    * production shape of x85: corpus perceptual hashes are computed
    * once at ingest ([[graft.multimodal.Multimodal.saveDHashStore]]);
    * a new batch (the +1M exact and +2M near payload copies) pays its
    * own dHashes, a key-sized band join against the store, and exact
    * Hamming verification on the colliding sliver. On the stub codec
    * the exact copies collide at Hamming 0 and the edited copies
    * avalanche away (admitted) — with a real decoder the same plan
    * drops re-encoded/resized near-identicals. The oracle recomputes
    * the full batch × store cross-check the lossless banding must
    * equal. */
  val x92DhashStore: Q = (s, d) => {
    val batch = corpusWithDupes(s, d)
      .filter(col("doc_id") % 1000000 < 200 && col("doc_id") >= 1000000L)
    graft.multimodal.Multimodal.incrementalDHashPairs(
      s, ensureDHashStore(s, d),
      graft.multimodal.Multimodal.withBinaryPayload(spread(s, batch)))
      .orderBy(col("new_id"), col("old_id"))
  }

  /** X93: INTRA-document segment dedup — remove repeated 8-token
    * segments WITHIN a document, keeping the first occurrence (the
    * in-page sibling of x87's cross-corpus boilerplate strip: nav
    * menus, repeated footers, and copy-paste loops inside ONE page —
    * Gopher's duplicate-line-fraction filter as a transform instead
    * of a score). Entirely ROW-LOCAL: segments, first-occurrence
    * test (array_position of the segment's md5 in the per-doc hash
    * list — position returns the FIRST hit, so a later duplicate
    * fails the index equality), and rebuild are higher-order array
    * functions inside one projection — no explode, no shuffle but
    * the output sort; the 100 TB cost is the scan itself. Cleaned
    * text leaves as md5 + token count (x17/x87 checksum
    * convention). */
  val x93IntradocDedup: Q = (s, d) => {
    // fixture text has no natural in-page repetition — the STAGED
    // derived fixture ([[ensurePlantedFixtures]]) prepends every
    // third doc's first 8-token segment (segment-aligned by
    // construction), so the dedup provably fires and provably keeps
    // first occurrences; the query body itself is purely operational
    // and the oracle recomputes the plant from the base table
    val corpus = spread(s,
      s.read.parquet(s"${ensurePlantedFixtures(s, d)}/docs_intradup"))
    val toks = wsTokens(col("text"))
    val nseg = call_function("div", size(toks).cast("long") + 7L, lit(8L))
    val segs = transform(sequence(lit(0L), nseg - 1),
      g => array_join(slice(toks, (g * 8 + 1).cast("int"), lit(8)), " "))
    val hashes = transform(segs, sg => md5(sg))
    val kept = filter(segs, (sg, i) =>
      array_position(hashes, md5(sg)) === (i + 1).cast("long"))
    val clean = array_join(kept, " ")
    corpus
      .filter(size(toks) > 0)
      .select(col("doc_id"),
        size(segs).cast("long").as("n_seg"),
        (size(segs) - size(kept)).cast("long").as("n_dup"),
        md5(clean).as("clean_md5"),
        when(length(clean) === 0, 0L)
          .otherwise(size(split(clean, "\\s+")).cast("long"))
          .as("clean_n_tok"))
      .orderBy(col("doc_id"))
  }

  /** Build-and-save the near-dup cluster labels once per sf-dir —
    * the [[ensureCuratedStaged]] contract applied to the dedup
    * family: in production the CC labels are computed ONCE at
    * curation time and every downstream consumer (survivor filter,
    * soft weights, graph stats, leakage audits) joins the labels
    * table instead of re-running shingles → pairs → closure.
    * [[TrainingData.prebuildCaches]] pays it in Bench's untimed warmup. */
  private[queries] def ensureDedupLabels(s: SparkSession, d: String): String =
    Store.materialize("dedup_labels", "v1", d, "documents") { path =>
      graft.dedup.NearDup.clusters(
        corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200),
        ngramJaccardPairs(s, d))
        .select(col("doc_id"), col("canonico"))
        .write.mode("overwrite").parquet(path)
    }

  /** X98: staged dedup-label read path — the x32/x32b split for the
    * dedup family: x14 is the compute-the-closure carrier (the cost
    * is measured there), x98 is what every OTHER consumer runs at
    * 100 TB — one scan of the ingest-staged labels table plus a
    * family-keyed window, no shingles, no pair join, no closure
    * (plan-asserted in PlansSpec). Same oracle family as x14 — the
    * recursive closure recomputed from scratch — proving the staged
    * table carries the exact labels. */
  val x98StagedDedup: Q = (s, d) =>
    s.read.parquet(ensureDedupLabels(s, d))
      .withColumn("family_size",
        count(lit(1)).over(Window.partitionBy(col("canonico"))).cast("long"))
      .select(col("doc_id"), col("canonico"),
        (col("doc_id") === col("canonico")).as("sobrevivente"),
        col("family_size"))
      .orderBy(col("doc_id"))

  /** X105: dedup threshold-policy sweep — how much of the corpus has
    * at least one near-duplicate at each Jaccard threshold 0.3..0.9:
    * the table a data lead reads to CHOOSE the production threshold
    * (x59 prices the mass removed at one threshold; this shows the
    * whole curve, on the same prefix-enriched corpus x62/x91 use so
    * the mid thresholds are populated). Docs-with-a-neighbor is the
    * policy number (the upper bound on removal before survivor
    * selection), so no per-threshold closure is needed: ONE banded
    * candidate scan ([[graft.dedup.NearDup.lshCandidateJaccard]]),
    * the pair table exploded over the 7 thresholds, one distinct-doc
    * count each — the sweep costs one LSH pass, not seven dedup
    * runs. */
  val x105ThresholdSweep: Q = (s, d) =>
    graft.dedup.NearDup.lshCandidateJaccard(lshEvalCorpus(s, d))
      .filter(col("jaccard") >= 0.3)
      .select(col("jaccard"),
        explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .select(col("doc_id"), col("jaccard"),
        explode(sequence(lit(3), lit(9))).as("t10"))
      .filter(col("jaccard") >= col("t10").cast("double") / 10)
      .groupBy(col("t10"))
      .agg(countDistinct(col("doc_id")).as("n_docs_dup"))
      .crossJoin(broadcast(
        lshEvalCorpus(s, d).agg(count(lit(1)).as("n_total"))))
      .select((col("t10").cast("double") / 10).as("threshold"),
        col("n_docs_dup"), col("n_total"),
        (intRoundHalfAway(col("n_docs_dup") * 10000L, col("n_total"))
          .cast("double") / 1e4).as("share"))
      .orderBy(col("threshold"))

  /** X91: LSH candidate-precision audit — the cost side of the
    * tuning loop x62 (recall side) and x62b (model) leave open: the
    * per-Jaccard-band distribution of everything the band join PULLS
    * IN, before any threshold. Candidates below the production
    * threshold (J < 0.5) are pure wasted verification work — their
    * measured share is the on-data check of x62b's `catch_lo`
    * S-curve pricing, on the same prefix-copy corpus x62 uses for
    * recall. Shape: [[graft.dedup.NearDup.lshCandidateJaccard]]
    * (band-bucketed join, shingle verify inline on the colliding
    * sliver only), collapsing to a ≤10-row band grid; the share
    * window runs on that grid, never the corpus. */
  val x91LshPrecision: Q = (s, d) =>
    graft.dedup.NearDup.lshCandidateJaccard(lshEvalCorpus(s, d))
      // zero-shingle-overlap candidates (possible only via empty
      // shingle sets or raw hash collision) have NaN Jaccard and no
      // row in the oracle's intersection join — excluded on both
      // sides by the same predicate
      .filter(col("jaccard") > 0)
      .withColumn("band",
        least(floor(col("jaccard") * 10) / 10, lit(0.9)))
      .groupBy(col("band")).agg(count(lit(1)).as("n_cand"))
      .withColumn("n_total", sum(col("n_cand")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("band"), col("n_cand"),
        (intRoundHalfAway(col("n_cand") * 10000L, col("n_total"))
          .cast("double") / 1e4).as("share"),
        (col("band") < 0.5).as("below_threshold"))
      .orderBy(col("band"))

  /** X84: perceptual image hash (64-bit dHash) over the multimodal
    * payload column — the first IMAGE-side dedup primitive (text
    * had six dedup operators, images zero).
    * [[graft.multimodal.Multimodal.dHash64]] holds the semantics +
    * stub contract (decode is faked from md5 rows, the Spark-side
    * mapPartitions/codec-batch shape is real). Runs on the dup
    * fixture's bounded slice so x85 has exact-copy collisions to
    * find. Row-local scan; 8 bytes out per asset. */
  val x84PerceptualHash: Q = (s, d) => {
    val slice = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    graft.multimodal.Multimodal.dHash64(
      s, graft.multimodal.Multimodal.withBinaryPayload(slice))
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** X85: image near-dup pairs — [[x84PerceptualHash]] signatures
    * through the SAME banded-Hamming machinery as x23 (4×16-bit
    * bands, pigeonhole-lossless for Hamming ≤ 3, candidates only ever
    * join within band buckets — no all-pairs; PlansSpec asserts it).
    * On the stub codec only exact payload copies collide (md5 is
    * avalanche — documented in dHash64); with a real decoder the
    * identical plan catches resized/re-encoded images. Oracle = the
    * n² Hamming scan the lossless banding must equal (x23
    * precedent). */
  val x85DhashNearDup: Q = (s, d) => {
    val sigs = graft.multimodal.Multimodal.dHash64(
      s, graft.multimodal.Multimodal.withBinaryPayload(
        corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)))
      .toDF().select(col("doc_id"), col("dhash").as("simhash"))
    simhashBandedPairs(sigs, bandBits = 16, nBands = 4, maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** X178: PageRank canonical selection over the near-dup graph —
    * the third survivor POLICY beside x24's min-id and x152's
    * quality argmax: production dedup stacks pick the most CENTRAL
    * member of a duplicate family (the page every mirror points at
    * structurally — the copy of record), and PageRank over the
    * similarity graph is the published way to rank that (Page et al.
    * 1999; same x14 pair graph, x73's degree table upgraded to a
    * stationary score). Ten unrolled power iterations with d = 0.85,
    * ranks in integer 1e-9 units: the neighbor share is the exact
    * integer floor r div deg, the damped update is
    * tele + ⌈85·S/100⌋ ([[intRoundHalfAway]], tele precomputed once)
    * — both engines replay the identical integer recurrence, so the
    * per-cluster argmax (rank DESC, doc_id) is engine-exact. Output
    * per multi-member family: size, the PR canonical, its rank, and
    * whether it DIFFERS from min-id — the audit column that prices
    * switching survivor rules (x152's convention). Scale shape: the
    * x2/x14 pair graph (banded in production via the x6 LSH path),
    * then 10 bounded join+aggregate rounds over the edge list —
    * O(E) per round, no corpus-wide window, nothing driver-side but
    * the two scalars. Crafted star graph (hub beats min-id leaf)
    * pinned in EngineSpec. */
  val x178PagerankCanonical: Q = (s, d) =>
    pagerankCanonicalOn(s,
      corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200))

  /** [[x178PagerankCanonical]] core over any (doc_id, text) frame. */
  private[graft] def pagerankCanonicalOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import graft.ml.LogFit
    val corpus = docs.select(col("doc_id"), col("text")).localCheckpoint()
    val pairs = graft.dedup.NearDup.ngramJaccardPairs(corpus)
      .localCheckpoint()
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint()
    val deg = edges.groupBy(col("a").as("doc_id"))
      .agg(count(lit(1)).as("dg"))
    val nodes = corpus.select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dg")).localCheckpoint()
    val nN = nodes.count()
    val teleQ = LogFit.halfAway(BigInt(15L) * 1000000000L,
      BigInt(100L) * nN).toLong
    val r0 = LogFit.halfAway(BigInt(1000000000L), BigInt(nN)).toLong
    var r = nodes.select(col("doc_id"), col("dg"), lit(r0).as("r"))
    for (_ <- 1 to 10) {
      // isolated nodes (dg = 0) send no mass — filter BEFORE the div
      // so the projection never evaluates r div 0 (ANSI mode)
      val sq = edges
        .join(r.filter(col("dg") > 0L).select(col("doc_id").as("a"),
          call_function("div", col("r"), col("dg")).as("share")), Seq("a"))
        .groupBy(col("b").as("doc_id")).agg(sum(col("share")).as("sq"))
      // NO per-iteration checkpoint (r11): the 10-step
      // recurrence is data-INdependent (nothing is collected between
      // steps), each iterate references the previous r exactly once,
      // and edges/nodes are already pinned — so the lineage grows
      // linearly (~5 operators/step) and ONE job at the end executes
      // the whole chain, instead of 10 driver-blocking checkpoint
      // materializations of a node-sized relation.
      r = nodes.join(sq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dg"),
          (lit(teleQ) + intRoundHalfAway(
            lit(85L) * coalesce(col("sq"), lit(0L)), lit(100L))).as("r"))
    }
    graft.dedup.NearDup.clusters(corpus, pairs)
      .select(col("doc_id"), col("canonico").as("cluster"))
      .join(r.select(col("doc_id"), col("r")), Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("size"),
        max(struct(col("r"), (-col("doc_id")).as("nid"))).as("m"))
      .filter(col("size") >= 2L)
      .select(col("cluster"), col("size"),
        (-col("m.nid")).as("pr_canonical"),
        (col("m.r").cast("double") / 1e9).as("pr_rank"),
        ((-col("m.nid")) === col("cluster")).as("agree"))
      .orderBy(col("cluster"))
  }

  /** X71: split-leakage audit — near-duplicate pairs that STRADDLE
    * the deterministic train/val/test split (x36's hash buckets):
    * an eval doc with a train near-dup is contamination that
    * silently inflates every benchmark run on the split, which is
    * why Lee et al. (dedup) and the GPT-3/PaLM appendices all report
    * exactly this table before training. The dupe fixture makes the
    * leak real: copies hash to independent buckets, so ~10% of each
    * doc's copies land across the split boundary. Shape: pair
    * generation is the x4 inverted-index primitive (at production
    * scale the x2 banded-LSH candidates slot in unchanged — the
    * audit only consumes (id_a, id_b) pairs); split attach is a
    * doc-keyed join AQE sizes (pairs are a sliver of the corpus);
    * the report collapses onto 3 rows. */
  val x71SplitLeakage: Q = (s, d) => {
    val corpus = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    val balde = splitBalde(col("doc_id"))
    val splits = corpus.select(col("doc_id"),
      when(balde < 90, "train").when(balde < 95, "val")
        .otherwise("test").as("split"))
    val pairs = graft.dedup.NearDup.ngramJaccardPairs(spread(s, corpus))
    val cross = pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")),
        Seq("id_a"))
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")),
        Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
    val leaked = cross
      .select(col("id_a").as("doc_id"), col("split_a").as("split"))
      .unionByName(cross
        .select(col("id_b").as("doc_id"), col("split_b").as("split")))
      .distinct()
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
    splits.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(leaked, Seq("split"), "left")
      .na.fill(0L, Seq("n_leaked"))
      .select(col("split"), col("n_docs"), col("n_leaked"),
        (intRoundHalfAway(col("n_leaked") * 10000L, col("n_docs"))
          .cast("double") / 1e4).as("leak_frac"))
      .orderBy(col("split"))
  }

  /** X72: edit-distance verification of near-dup candidates — the
    * second-opinion metric a production dedup run applies before
    * destructive removal: n-gram Jaccard (set semantics) can be
    * fooled by shuffled or lightly-reordered text, while relative
    * Levenshtein (sequence semantics) prices every insert / delete /
    * substitute. Candidates come in at a permissive J ≥ 0.3 and are
    * confirmed iff lev / max(len) ≤ 0.2. Shape: candidate generation
    * is the inverted-index primitive (the x2 banded-LSH path slots in
    * at scale); text attaches only to the CANDIDATE SLIVER via two
    * doc-keyed joins, so the O(len²) dynamic program — Spark's
    * codegen'd levenshtein — runs per colliding pair, never per
    * corpus pair. Determinism: lev and lengths are integers; the
    * relative distance rounds in pure BIGINT. */
  val x72EditVerify: Q = (s, d) => {
    val corpus = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    graft.dedup.NearDup
      .ngramJaccardPairs(spread(s, corpus), threshold = 0.3)
      .join(corpus.select(col("doc_id").as("id_a"), col("text").as("text_a")),
        Seq("id_a"))
      .join(corpus.select(col("doc_id").as("id_b"), col("text").as("text_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("lev"),
        greatest(length(col("text_a")), length(col("text_b")))
          .cast("long").as("max_len"))
      .withColumn("rel_edit",
        intRoundHalfAway(col("lev") * 10000L, col("max_len"))
          .cast("double") / 1e4)
      .withColumn("confirmed", col("rel_edit") <= 0.2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** X73: dup-graph diagnostics — the degree histogram of the
    * near-dup pair graph plus the size histogram of its connected
    * components: the "dup landscape" report read before committing to
    * a dedup threshold (a fat degree tail means hub documents —
    * boilerplate-heavy pages pairing with everything, where dropping
    * the threshold explodes candidate verification cost; component
    * sizes separate pairwise re-uploads from viral copy families,
    * which decide whether keep-one-per-component loses real mass).
    * Shape: degrees are a doc-keyed aggregation of the pair SLIVER
    * (never the corpus), both histograms collapse onto k-keyed
    * handfuls of rows, and components reuse the x14 CC machinery
    * (O(log diameter) rounds). */
  val x73DupGraphStats: Q = (s, d) => {
    // dup corpus EXTENDED with 60%-prefix truncations (+3M ids): a
    // prefix of an n-token doc has J = (0.6n−2)/(n−2) against its
    // base — straddling the 0.5 threshold with document length, so
    // degrees and component sizes actually vary (the all-copies
    // corpus alone yields one uniform family shape). The prefix cut
    // is integer arithmetic (3n div 5) so both engines cut the same
    // token.
    val base = corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)
    val trunc = Tables.documents(s, d)
      .filter(col("doc_id") % 1000000 < 200)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        array_join(slice(wsTokens(col("text")), lit(1),
          call_function("div", size(wsTokens(col("text"))).cast("long") * 3,
            lit(5L)).cast("int")), " ").as("text"))
    val corpus = spread(s, base.unionByName(trunc))
    // the pair sliver feeds BOTH histograms and every CC round —
    // left lazy, the shingle inverted-index self-join re-executes per
    // consumer. Materialize it once, cluster-side (localCheckpoint,
    // the CC-loop pattern — NOT a driver pin: pairs scale with the
    // corpus).
    val pairs = graft.dedup.NearDup.ngramJaccardPairs(corpus)
      .localCheckpoint()
    val deg = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .select(lit("degree").as("stat"), col("k"), col("n"))
    val comp = graft.dedup.NearDup.clusters(corpus, pairs)
      .groupBy(col("canonico")).agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
      .groupBy(col("sz")).agg(count(lit(1)).as("n"))
      .select(lit("component").as("stat"), col("sz").as("k"), col("n"))
    deg.unionByName(comp).orderBy(col("stat"), col("k"))
  }

  /** X77: soft dedup — one survivor per near-dup component, carrying
    * its family's multiplicity as a training weight: the alternative
    * to hard removal when duplication frequency IS signal (a page
    * re-uploaded 40× is evidence of importance a plain keep-one
    * discards; weighting the survivor by count — or log-count, a
    * downstream choice — preserves it without re-paying 40 forward
    * passes on identical text). Composes the x14 CC labels with a
    * component-size aggregation: both sides are doc-keyed, the size
    * table is component-keyed and AQE-sizes its join; nothing beyond
    * the x24 survivor machinery is scanned. */
  val x77SoftDedupWeights: Q = (s, d) => {
    val labels = graft.dedup.NearDup.clusters(
      corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200),
      ngramJaccardPairs(s, d))
    val sizes = labels.groupBy(col("canonico")).agg(count(lit(1)).as("peso"))
    labels.filter(col("doc_id") === col("canonico"))
      .join(sizes, Seq("canonico"))
      .select(col("doc_id"), col("peso"),
        (round(log(col("peso").cast("double") + 1) * 1e6, 0).cast("double")
          / 1e6).as("log_peso"))
      .orderBy(col("doc_id"))
  }

  /** X126: winnowing fingerprint audit — the index-compression report
    * for [[graft.dedup.NearDup.winnowedFingerprints]] (MOSS's
    * selection rule), CORPUS-WIDE: per doc, the k-gram count,
    * selected-position count, selection density (expected
    * 2/(w+1) ≈ 0.4 at w=4 — versus 1.0 for every-k-gram), and the
    * number of OTHER docs sharing at least one winnowed fingerprint
    * (the candidate fan-in the compressed index produces; shared-run
    * connectivity under the winnowing guarantee is pinned in
    * EngineSpec on crafted pairs). Reads the INGEST-STAGED
    * fingerprint store ([[ensureWinnowStore]], the table x134 also
    * probes — an earlier version re-winnowed a 200-doc sliver inline
    * here; the staged store removed both the rescan and the cap).
    * Shuffles: the fp-keyed neighbor self-join on
    * the winnowed posting lists (~2.5× smaller than every-k-gram —
    * that saving is the operator) and the output sort. Fan-in cost
    * is Σ_fp |posting(fp)|² — winnowing keeps postings short on
    * natural text; a production corpus with template-hot
    * fingerprints would df-cap the posting lists first (the x66
    * boilerplate contract), a REPORTED cut, not a silent one. */
  val x126Winnowing: Q = (s, d) => {
    val wf = s.read.parquet(ensureWinnowStore(s, d))
    val ex = wf.select(col("doc_id"), explode(col("fps")).as("fp"))
    val nbr = ex.as("a").join(ex.as("b"), Seq("fp"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id"))
      .agg(count_distinct(col("b.doc_id")).as("n_nbr"))
      .select(col("doc_id"), col("n_nbr"))
    wf.join(nbr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("m"), col("n_sel"),
        (intRoundHalfAway(col("n_sel") * 10000L, col("m"))
          .cast("double") / 1e4).as("density"),
        coalesce(col("n_nbr"), lit(0L)).as("n_nbr"))
      .orderBy(col("doc_id"))
  }

  /** X134: cross-source shared-RUN overlap — x47's inter-source
    * audit with exact-run semantics: x47 estimates whole-corpus
    * shingle-set Jaccard per source pair (MinHash — "how similar are
    * these feeds"), while this counts the WINNOWED fingerprints two
    * sources share — every shared fingerprint certifies an actual
    * ≥ w+k−1-token run appearing in both (the winnowing guarantee),
    * which is the syndication/template-sharing signal a mixture
    * designer prices source independence with. Reads the INGEST-
    * STAGED fingerprint table ([[ensureWinnowStore]] — production
    * winnows once at ingest; the corpus-wide positional-hash scan is
    * measured standalone in x126's compute path, and the ORACLE
    * recomputes it from scratch, re-proving the staging on every
    * run): DISTINCT (source, fp) projection, fp-keyed self-join
    * bounded by |sources| per fingerprint, onto a |sources|² grid
    * with per-pair overlap coefficient shared/min(|A|, |B|).
    * Checksums cross the wire, never text. */
  val x134SourceRunOverlap: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // no checkpoint: every consumer re-reads the MATERIALIZED store
    // parquet (cheap, and it keeps the staged-read contract visible
    // in the executed plan for PlansSpec)
    val fs = s.read.parquet(ensureWinnowStore(s, d))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), explode(col("fps")).as("fp"))
      .distinct()
    val tot = fs.groupBy(col("source")).agg(count(lit(1)).as("nf"))
    fs.as("a").join(fs.as("b"), Seq("fp"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source"), col("b.source"))
      .agg(count(lit(1)).as("shared"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("shared"))
      .join(broadcast(tot.select(col("source").as("source_a"),
        col("nf").as("nfa"))), Seq("source_a"))
      .join(broadcast(tot.select(col("source").as("source_b"),
        col("nf").as("nfb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared"),
        (intRoundHalfAway(col("shared") * 10000L,
          least(col("nfa"), col("nfb"))).cast("double") / 1e4)
          .as("overlap_coef"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** X132: pagination-stitch detection — the crawl-reconstruction
    * operator: an article split across pages re-enters the corpus as
    * separate docs whose boundary pages SHARE a template overlap
    * (nav/teaser text repeated at page joints), and training on the
    * fragments both duplicates the overlap and severs long-range
    * context. A doc pair (A, B) is a stitch candidate when A's
    * LAST-8-token fingerprint equals B's FIRST-8-token fingerprint —
    * two row-local md5s per doc, one fp-keyed equi-join (never text
    * vs text), output is the candidate continuation edges a
    * reassembly pass consumes. Runs on the staged paginated corpus
    * ([[ensurePlantedFixtures]]'s split plant — fixture-side per the
    * round-8 convention); EngineSpec pins every planted (part1,
    * part2) edge recovered. */
  val x132PaginationStitch: Q = (s, d) => {
    val pag = s.read
      .parquet(s"${ensurePlantedFixtures(s, d)}/docs_paginated")
    val t = col("toks")
    val hf = pag.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .filter(size(t) >= 8)
      .select(col("doc_id"),
        md5(array_join(slice(t, 1, 8), " ")).as("head_fp"),
        md5(array_join(slice(t, size(t) - 7, lit(8)), " ")).as("tail_fp"))
    hf.as("a").join(hf.as("b"),
        col("a.tail_fp") === col("b.head_fp") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("prev_id"), col("b.doc_id").as("next_id"))
      .orderBy(col("prev_id"), col("next_id"))
  }

  /** X124: b-bit minwise signature compression audit (Li & König
    * 2010) — the scale lever for the x60 signature store: keeping
    * only the low 4 bits of each minhash slot shrinks signatures 8×
    * (at 100 TB the store IS the working set), and the collision-
    * corrected estimator Ĵ_b = (agree_b − 1)/(k − 1)·(k/k)… here
    * (agree_b − k/2ᵇ)/(k − k/2ᵇ) = (agree_b − 1)/15 at k=16, b=4
    * pays for it in variance. Per exact-Jaccard decile band (integer
    * banding — no float boundary), over the banded-LSH candidate
    * pairs: pair count, total slot agreements (full vs b-bit — the
    * b-bit count is provably ≥ the full count, pinned), and the mean
    * absolute estimator error of each width against exact Jaccard —
    * every per-pair error an exact-rational [[intRoundHalfAway]]
    * quantization, so the whole table is integer arithmetic after the
    * one candidate verify. Same corpus and cost contract as x2. */
  val x124BbitMinhash: Q = (s, d) => {
    val pairs = graft.dedup.NearDup.bbitCandidateAgreement(
      spread(s, corpusWithDupes(s, d).filter(col("doc_id") % 1000000 < 200)))
    pairs
      .withColumn("band",
        least(call_function("div", col("inter") * 10L, col("unn")), lit(9L)))
      .withColumn("efq", intRoundHalfAway(
        abs(col("agree_full") * col("unn") - col("inter") * 16L) * 10000L,
        lit(16L) * col("unn")))
      .withColumn("ebq", intRoundHalfAway(
        abs((col("agree_b") - 1L) * col("unn") - col("inter") * 15L) * 10000L,
        lit(15L) * col("unn")))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("agree_full")).as("sum_agree_full"),
        sum(col("agree_b")).as("sum_agree_b"),
        sum(col("efq")).as("sef"), sum(col("ebq")).as("seb"))
      .select(col("band"), col("n_pairs"), col("sum_agree_full"),
        col("sum_agree_b"),
        (intRoundHalfAway(col("sef"), col("n_pairs"))
          .cast("double") / 1e4).as("err_full"),
        (intRoundHalfAway(col("seb"), col("n_pairs"))
          .cast("double") / 1e4).as("err_bbit"))
      .orderBy(col("band"))
  }

  /** X112: cross-document segment dedup with corpus-wide FIRST-
    * occurrence survivor — RefinedWeb's line dedup proper: x87 drops
    * a df-heavy segment from EVERY document (boilerplate removal),
    * this keeps the one occurrence with the lowest (doc_id, segment
    * index) and drops all later copies (duplicate-content removal —
    * the first crawl of a syndicated paragraph survives, mirrors
    * lose it). Segment fingerprints and the 8-token segmenter are
    * IDENTICAL to x66/x87 (one contract across the whole line-dedup
    * family). Shape: segment explode (md5 fingerprints + 8-token
    * segments, never whole docs, cross the wire) → fp-keyed
    * min_by((doc_id, g)) — map-side combinable, no window over the
    * corpus → fp join back → doc-keyed deterministic rebuild
    * (sort_array over collect_list, order restored by segment index).
    * The same two-shuffle budget as exact dedup at any corpus size;
    * output carries the x87 clean-text md5 + token-count checksum
    * convention. */
  val x112FirstOccDedup: Q = (s, d) =>
    firstOccDedup(spread(s, Tables.documents(s, d)))

  /** x112 core over any (doc_id, source, text) frame — see
    * [[x112FirstOccDedup]] for the operator contract. */
  private[graft] def firstOccDedup(docs: DataFrame): DataFrame = {
    val seg = boilerSegments(docs)
    val firstOcc = seg.groupBy(col("fp"))
      .agg(min_by(struct(col("doc_id").as("fdoc"), col("g").as("fg")),
        struct(col("doc_id"), col("g"))).as("fo"))
      .select(col("fp"), col("fo.fdoc").as("fdoc"), col("fo.fg").as("fg"))
    val keep = col("doc_id") === col("fdoc") && col("g") === col("fg")
    val clean = array_join(transform(
      sort_array(collect_list(when(keep, struct(col("g"), col("segtxt"))))),
      x => x.getField("segtxt")), " ")
    seg.join(firstOcc, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(keep, 0L).otherwise(1L)).as("n_drop"),
        md5(clean).as("clean_md5"),
        when(length(clean) === 0, 0L)
          .otherwise(size(split(clean, "\\s+")).cast("long"))
          .as("clean_n_tok"))
      .orderBy(col("doc_id"))
  }

  /** x137 core over any (doc_id, text) frame: remove every MAXIMAL
    * repeated run of ≥ k tokens, exactly (Lee et al. 2022's
    * ExactSubstr, the published standard for LLM corpora — the
    * operator the approximate family x33/x112/x116/x126 circles).
    * Method: a token is duplicated iff SOME corpus-duplicated k-gram
    * covers it; the union of duplicated k-gram intervals IS the union
    * of maximal ≥k-token repeated runs (every repeated run of length
    * L ≥ k is exactly covered by its L−k+1 duplicated k-grams, and
    * any duplicated k-gram lies inside a repeated run) — so k-gram
    * anchoring plus interval union computes the exact answer without
    * a suffix array. Every occurrence of a duplicated run is dropped
    * (the paper's conservative default; the keep-first-occurrence
    * policy is x112's contract at segment granularity). Per doc:
    * token/duplicated-token counts, maximal-span count and longest
    * span, and the rebuilt clean text's md5 + token-count checksums
    * (the x87/x112 convention). Scale shape: k-gram fingerprints are
    * row-local array slices (md5s cross the wire, never text);
    * duplication is one fp-keyed count ≥ 2 semi-join; coverage,
    * span islands, and the rebuild are doc-keyed window passes over
    * ONE sort (all three window functions share (doc, pos)); no
    * all-pairs stage anywhere. */
  private[graft] def exactSubstringDedup(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
    // guard: sequence(1, n) DESCENDS when n < 1 (Spark semantics), so
    // docs shorter than k tokens must emit an empty gram list, not a
    // bogus descending one
    val gp = toks.select(col("doc_id"),
        posexplode(when(size(col("toks")) >= k, transform(
          sequence(lit(1), size(col("toks")) - (k - 1)),
          i => md5(array_join(slice(col("toks"), i, lit(k)), " "))))
          .otherwise(array().cast("array<string>")))
          .as(Seq("gi", "fp")))
    val dup = gp.groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("fp"))
    val dstart = gp.join(dup, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("gi").as("j"), lit(1L).as("isd"))
    val tok = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        posexplode(col("toks")).as(Seq("j", "tk")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("j"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cf = tok.join(dstart, Seq("doc_id", "j"), "left")
      .withColumn("reach",
        max(when(col("isd") === 1L, col("j") + (k - 1))).over(wc))
      .withColumn("covered",
        col("reach").isNotNull && col("reach") >= col("j"))
      .withColumn("st", when(col("covered") &&
        !coalesce(lag(col("covered"), 1).over(w), lit(false)), 1L)
        .otherwise(0L))
      .withColumn("isl", sum(col("st")).over(wc))
      .localCheckpoint()
    val spans = cf.filter(col("covered"))
      .groupBy(col("doc_id"), col("isl")).agg(count(lit(1)).as("slen"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("slen")).as("max_span"),
        sum(col("slen")).as("n_dup_tok"))
    val clean = array_join(transform(
      sort_array(collect_list(when(!col("covered"),
        struct(col("j"), col("tk"))))), x => x.getField("tk")), " ")
    cf.groupBy(col("doc_id"))
      .agg(max(col("n_tok")).as("n_tok"), md5(clean).as("clean_md5"),
        when(length(clean) === 0, 0L)
          .otherwise(size(split(clean, "\\s+")).cast("long"))
          .as("clean_n_tok"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_dup_tok"), lit(0L)).as("n_dup_tok"),
        (intRoundHalfAway(coalesce(col("n_dup_tok"), lit(0L)) * 10000L,
          col("n_tok")).cast("double") / 1e4).as("dup_rate"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        col("clean_md5"), col("clean_n_tok"))
      .orderBy(col("doc_id"))
  }

  /** X137: exact repeated-substring dedup (Lee et al. 2022) on the
    * boilerplate-prefixed corpus — the SAME prefixed population x112
    * segment-dedups, so the two published line/run-dedup semantics
    * are directly comparable: x112's fixed 8-token grid keeps first
    * occurrences; this removes every occurrence of every maximal
    * ≥5-token repeated run, HOWEVER it is aligned (the fixed grid
    * provably misses unaligned repeats — EngineSpec pins one). See
    * [[exactSubstringDedup]] for the exact-cover argument and the
    * scale shape. */
  val x137ExactSubstringDedup: Q = (s, d) =>
    exactSubstringDedup(spread(s, Tables.documents(s, d))
      .select(col("doc_id"),
        concat(lit("portal "), col("source"),
          lit(" official mirror terms of service apply"
            + " all rights reserved contact webmaster "),
          col("text")).as("text")))

  /** x116 core over any (doc_id, text) frame: content-defined chunk
    * rows (doc_id, ci, fp, tok_len). A chunk boundary falls after
    * token position i (i ≥ 4) iff the 32-bit md5 hash of the 4-token
    * window ending at i is ≡ 0 (mod 16) — expected chunk ≈ 16
    * tokens; the final chunk always closes at the last token. All
    * row-local array expressions over a PROJECTED token array (the
    * allShinglesOfToks re-evaluation rule); only (doc, chunk-md5,
    * length) rows leave the scan. */
  private[graft] def cdcChunkRows(docs: DataFrame): DataFrame = {
    val withToks = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val t = col("toks")
    val win = (i: Column) => concat_ws(" ",
      element_at(t, i - 3), element_at(t, i - 2),
      element_at(t, i - 1), element_at(t, i))
    val withB = withToks.withColumn("bpos",
      filter(sequence(lit(4), greatest(size(t), lit(4))), i =>
        (i <= size(t)) &&
          pmod(graft.dedup.NearDup.md5Hash32(win(i)), lit(16L)) === 0))
    val ends0 = col("bpos")
    val withE = withB.withColumn("ends",
      when(size(ends0) > 0 && element_at(ends0, -1) === size(t), ends0)
        .otherwise(concat(ends0, array(size(t)))))
    val e = col("ends")
    withE
      .withColumn("starts", transform(e, (_, j) =>
        when(j === 0, lit(1)).otherwise(element_at(e, j) + 1)))
      .select(col("doc_id"), posexplode(transform(sequence(lit(1), size(e)),
        k => struct(
          md5(array_join(slice(t, element_at(col("starts"), k),
            element_at(e, k) - element_at(col("starts"), k) + 1), " "))
            .as("fp"),
          (element_at(e, k) - element_at(col("starts"), k) + 1)
            .cast("long").as("tok_len")))).as(Seq("ci", "ch")))
      .select(col("doc_id"), col("ci").cast("long").as("ci"),
        col("ch.fp").as("fp"), col("ch.tok_len").as("tok_len"))
  }

  /** X116: content-defined chunking dedup — the storage-layer dedup
    * primitive (Muthitacharoen's LBFS / rolling-hash CDC) the
    * fixed-segment family (x66/x87/x112) cannot replace: fixed
    * 8-token windows lose EVERY fingerprint after a single leading
    * insertion (all segments shift), while content-defined
    * boundaries re-synchronize at the first hash boundary past the
    * edit, so near-identical revisions still share most chunks
    * (EngineSpec pins exactly this contrast on a crafted insertion
    * pair). Boundaries from a 4-token rolling md5 window ≡ 0
    * (mod 16); per doc: chunk count, chunks whose fingerprint occurs
    * ≥2× corpus-wide, the duplicate token mass, and the
    * deduplicatable fraction — the storage-savings estimate. Shape:
    * x66's two-shuffle budget (fp-keyed occurrence count, join back,
    * doc-keyed aggregation); chunking itself is scan-local and
    * shift-invariant at any corpus size. */
  val x116CdcChunks: Q = (s, d) => {
    val chunks = cdcChunkRows(spread(s, Tables.documents(s, d)))
    val dfc = chunks.groupBy(col("fp")).agg(count(lit(1)).as("occ"))
    chunks.join(dfc, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup"),
        sum(col("tok_len")).as("n_tok"),
        sum(when(col("occ") >= 2, col("tok_len")).otherwise(0L))
          .as("dup_tok"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        col("n_tok"), col("dup_tok"),
        (intRoundHalfAway(col("dup_tok") * 10000L, col("n_tok"))
          .cast("double") / 1e4).as("dedup_frac"))
      .orderBy(col("doc_id"))
  }

  val defs: Map[String, Q] = Map(
    "x116_cdc_chunks" -> x116CdcChunks,
    "x152_quality_survivor" -> x152QualitySurvivor,
    "x178_pagerank_canonical" -> x178PagerankCanonical,
    "x124_bbit_minhash" -> x124BbitMinhash,
    "x126_winnowing" -> x126Winnowing,
    "x132_pagination_stitch" -> x132PaginationStitch,
    "x134_source_run_overlap" -> x134SourceRunOverlap,
    "x112_firstocc_dedup" -> x112FirstOccDedup,
    "x137_exact_substring" -> x137ExactSubstringDedup,
    "x77_soft_dedup_weights" -> x77SoftDedupWeights,
    "x73_dup_graph_stats" -> x73DupGraphStats,
    "x72_edit_verify" -> x72EditVerify,
    "x71_split_leakage" -> x71SplitLeakage,
    "x62b_lsh_tuner" -> x62bLshTuner,
    "x91_lsh_precision" -> x91LshPrecision,
    "x92_dhash_store" -> x92DhashStore,
    "x93_intradoc_dedup" -> x93IntradocDedup,
    "x98_staged_dedup" -> x98StagedDedup,
    "x105_threshold_sweep" -> x105ThresholdSweep,
    "x88_quality_survivors" -> x88QualitySurvivors,
    "x84_perceptual_hash" -> x84PerceptualHash,
    "x85_dhash_neardup" -> x85DhashNearDup,
    "x62_lsh_eval" -> x62LshEval,
    "x60_signature_store" -> x60SignatureStore,
    "x59_dedup_mass" -> x59DedupMass,
    "x58_containment_dedup" -> x58ContainmentDedup,
    "x33_substring_dedup" -> x33SubstringDedup,
    "x29_bloom_dedup" -> x29BloomDedup,
    "x22_incremental_dedup" -> x22IncrementalDedup,
    "x14_dedup_clusters" -> x14DedupClusters,
    "x24_dedup_survivors" -> x24DedupSurvivors,
    "x15_simhash_dedup" -> x15SimhashDedup,
    "x23_simhash64_dedup" -> ((s, d) => simhash64Dedup(s, d)),
    "x1_dedup_exact" -> x1DedupExact,
    "x2_dedup_minhash" -> x2DedupMinhash,
    "x3_simhash" -> x3Simhash,
    "x4_ngram_jaccard" -> x4NgramJaccard,
    "x10_fingerprint" -> x10Fingerprint)

  /** Shared DuckDB generator for the winnowing oracles (x126/x134):
    * the corpus-parameterized CTE chain ending at
    * `wf(doc_id, m, n_sel, fps)` — positional 3-gram hashes,
    * rightmost-min-of-each-4-window selection, sorted distinct
    * fingerprints (the [[graft.dedup.NearDup.winnowedFingerprints]]
    * contract verbatim). */
  private def winnowCtesSql(corpusBody: String): String = s"""
      corpus AS ($corpusBody),
      t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM corpus),
      hvt AS (SELECT doc_id,
          list_transform(
            list_transform(range(1, GREATEST(len(toks) - 1, 1)), i ->
              toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
                || ' ' || toks[CAST(i + 2 AS INT)]),
            s -> ${md5Hash32Sql("s")}) AS hv
        FROM t),
      wres AS (SELECT doc_id, CAST(len(hv) AS BIGINT) AS m, hv,
          list_sort(list_distinct(list_transform(
            range(1, len(hv) - LEAST(4, len(hv)) + 2), j ->
              j - 1 + list_max(list_filter(
                range(1, LEAST(4, len(hv)) + 1), p ->
                  hv[CAST(j + p - 1 AS INT)]
                    = list_min(list_slice(hv, j,
                        j + LEAST(4, len(hv)) - 1))))))) AS sel
        FROM hvt WHERE len(hv) > 0),
      wf AS (SELECT doc_id, m, CAST(len(sel) AS BIGINT) AS n_sel,
          list_sort(list_distinct(list_transform(sel,
            i -> hv[CAST(i AS INT)]))) AS fps
        FROM wres)"""

  private val hex16 = (expr: String) =>
    (0 until 4).map { i =>
      s"(strpos('0123456789abcdef', substring($expr, ${i + 1}, 1)) - 1) * ${1 << (4 * (3 - i))}"
    }.mkString("(", " + ", ")")

  // About the `doc_id % 1000000 < 200` slivers in this oracle family
  // (verified): every occurrence below is the
  // TWIN of a Scala carrier that slices the SAME 200-base-doc
  // population by design — x2/x4 (pair-generation reference pins),
  // x14/x24/x152 (the CC-cluster family: the oracle's transitive
  // closure is a recursive CTE whose cost explodes past a few hundred
  // docs), and the simhash/dhash signature rebuilds. These are
  // crafted sub-population pins, not silent caps; the corpus-wide
  // dedup paths are x1/x59/x98 (unsliced) and x126 carries the staged
  // full-corpus winnow store.
  /** Shared CTE chain for x14/x24: exact Jaccard pairs → undirected
    * edges → recursive transitive closure → per-doc canonical label. */
  private lazy val dedupClusterCtes = s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200),
      $shingleRowsCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      p AS (
        SELECT id_a, id_b
        FROM inter
        JOIN (SELECT doc_id AS id_a, n AS na FROM sizes) USING (id_a)
        JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) USING (id_b)
        WHERE ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5),
      $reachCtes,
      labels AS (
        SELECT c.doc_id,
          LEAST(c.doc_id, COALESCE(m.mn, c.doc_id)) AS canonico
        FROM corpus c
        LEFT JOIN (SELECT a, MIN(b) AS mn FROM reach GROUP BY a) m
          ON c.doc_id = m.a)"""

  private val simhash32Sql: String = {
    val hex32 = (0 until 8).map { i =>
      s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")
    val votes = (0 until 32).map(i =>
      s"SUM(CASE WHEN (h // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val assemble = (0 until 32).map(i =>
      s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""(SELECT doc_id, CAST($assemble AS BIGINT) AS simhash
        FROM (
          SELECT doc_id, $votes
          FROM (SELECT doc_id, $hex32 AS h
                FROM (SELECT doc_id, substring(md5(tok), 1, 8) AS hx
                      FROM (SELECT doc_id,
                              unnest(list_distinct(
                                regexp_split_to_array(trim(text), '\\s+'))) AS tok
                            FROM $corpusSql
                            WHERE doc_id % 1000000 < 200)))
          GROUP BY doc_id))"""
  }

  /** DuckDB rebuild of [[graft.multimodal.Multimodal.dHash64]]: row
    * i's nine pixels are the first nine bytes of md5(text ∥ ':i')
    * (DuckDB's md5(VARCHAR) hashes the same UTF-8 bytes the Spark
    * side digests), each byte from two hex nibbles (the x17 idiom);
    * bit i·8+j = [px(i,j) > px(i,j+1)], two's-complement assembly as
    * simhash64Sql. */
  private val dhashSql: String = {
    def px(i: Int, j: Int): String = {
      def nib(p: Int) =
        s"(strpos('0123456789abcdef', substring(h$i, $p, 1)) - 1)"
      s"(16 * ${nib(2 * j + 1)} + ${nib(2 * j + 2)})"
    }
    val hs = (0 until 8).map(i => s"md5(text || ':$i') AS h$i")
      .mkString(", ")
    val bits62 = (for { i <- 0 until 8; j <- 0 until 8; if i * 8 + j < 63 }
      yield s"CASE WHEN ${px(i, j)} > ${px(i, j + 1)} THEN ${1L << (i * 8 + j)} ELSE 0 END")
      .mkString(" + ")
    val bit63 =
      s"CASE WHEN ${px(7, 7)} > ${px(7, 8)} THEN -9223372036854775807 - 1 ELSE 0 END"
    s"""(SELECT doc_id, CAST($bits62 + $bit63 AS BIGINT) AS dhash
         FROM (SELECT doc_id, $hs
               FROM $corpusSql
               WHERE doc_id % 1000000 < 200))"""
  }

  /** 64-bit signatures: per-token hi/lo 32-bit md5-prefix parses vote
    * separately (bit i<32 from lo, bit i>=32 from hi — avoids any
    * 64-bit positional arithmetic), then two's-complement assembly:
    * bits 0..62 sum positively, a set bit 63 contributes -2^63,
    * landing on the same signed value Spark's bitwise-OR builds. */
  private val simhash64Sql: String = {
    def hexVal(start: Int): String = (0 until 8).map { i =>
      s"(strpos('0123456789abcdef', substring(hx, ${start + i}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")
    val votes = ((0 until 32).map(i =>
      s"SUM(CASE WHEN (lo // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END) AS v$i") ++
      (32 until 64).map(i =>
        s"SUM(CASE WHEN (hi // ${1L << (i - 32)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$i"))
      .mkString(", ")
    val asm62 = (0 until 63).map(i =>
      s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""(SELECT doc_id, CAST($asm62
          + CASE WHEN v63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END
          AS BIGINT) AS simhash
        FROM (
          SELECT doc_id, $votes
          FROM (SELECT doc_id, ${hexVal(1)} AS hi, ${hexVal(9)} AS lo
                FROM (SELECT doc_id, substring(md5(tok), 1, 16) AS hx
                      FROM (SELECT doc_id,
                              unnest(list_distinct(
                                regexp_split_to_array(trim(text), '\\s+'))) AS tok
                            FROM $corpusSql
                            WHERE doc_id % 1000000 < 200)))
          GROUP BY doc_id))"""
  }

  /** Shared x22/x29 oracle: the exact incremental-dedup result (the
    * Bloom path must reproduce it bit-identically). */
  private lazy val incrementalDedupSql = s"""
      WITH corpus AS (SELECT doc_id, text FROM $corpusSql),
      existing AS (SELECT DISTINCT md5(lower(trim(text))) AS fp
                   FROM corpus WHERE doc_id < 1000000)
      SELECT doc_id, md5(lower(trim(text))) AS fp
      FROM corpus
      WHERE doc_id >= 1000000
        AND md5(lower(trim(text))) NOT IN (SELECT fp FROM existing)
      ORDER BY doc_id"""

  /** `sh(doc_id, sh)`: the distinct word 3-gram shingles of each doc
    * of a `corpus(doc_id, text)` CTE, one row per shingle. */
  private def shingleRowsCte: String = s"""sh AS (
        SELECT doc_id, unnest($sqlShingles3) AS sh
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM corpus))"""

  /** [[shingleRowsCte]] by way of `docs(doc_id, shs)`, the shingle list
    * per doc, for the oracles that also need its length. */
  private def shingleSetCtes: String = s"""docs AS (
        SELECT doc_id, $sqlShingles3 AS shs
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM corpus)),
      sh AS (SELECT doc_id, unnest(shs) AS sh FROM docs)"""

  /** DuckDB mirror of [[graft.dedup.NearDup.minhashLshPairs]]'s
    * banding over `sh(doc_id, sh)`: 16 minhashes → 4 bands × 4 rows, as
    * the CTEs `hs`, `minh` and `bands(doc_id, band, key)` (no leading
    * WITH, no trailing comma). */
  private def minhashBandCtes: String = {
    val params = graft.dedup.NearDup.minhashParams(16).zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""hs AS (SELECT doc_id, ${md5Hash32Sql("sh")} AS h FROM sh),
      minh AS (
        SELECT doc_id, params.j,
          MIN((h * params.a + params.b) % ${graft.dedup.NearDup.minhashPrime}) AS mh
        FROM hs, (VALUES $params) AS params(j, a, b)
        GROUP BY doc_id, params.j),
      bands AS (
        SELECT doc_id, j // 4 AS band,
          string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS key
        FROM minh GROUP BY doc_id, j // 4)"""
  }

  /** DuckDB mirror of [[lshEvalCorpus]]: the dup-corpus sliver plus its
    * 50%- and 75%-prefix copies (+3M/+4M ids), as a (doc_id, text)
    * query body. */
  private def lshEvalCorpusSql: String = s"""
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200
        UNION ALL
        SELECT doc_id + 3000000,
          array_to_string(list_slice(toks, 1,
            CAST(FLOOR(len(toks) * 0.5) AS BIGINT)), ' ')
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id % 1000000 < 200)
        UNION ALL
        SELECT doc_id + 4000000,
          array_to_string(list_slice(toks, 1,
            CAST(FLOOR(len(toks) * 0.75) AS BIGINT)), ' ')
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id % 1000000 < 200)"""

  val oracles: Map[String, String] = Map(
    "x116_cdc_chunks" -> {
      val winSql = "toks[i-3] || ' ' || toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i]"
      s"""
      WITH tk AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      t AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
      b AS (SELECT doc_id, toks, n,
          list_filter(range(4, GREATEST(n, 4) + 1), i ->
            i <= n AND (${md5Hash32Sql(winSql)}) % 16 = 0) AS bpos
        FROM t),
      e AS (SELECT doc_id, toks, n,
          CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
            ELSE list_append(bpos, n) END AS ends
        FROM b),
      st AS (SELECT doc_id, toks, ends,
          list_transform(ends, (x, j) ->
            CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END) AS starts
        FROM e),
      chunks AS MATERIALIZED (SELECT doc_id, k - 1 AS ci,
          md5(array_to_string(list_slice(toks, starts[k],
            ends[k]), ' ')) AS fp,
          CAST(ends[k] - starts[k] + 1 AS BIGINT) AS tok_len
        FROM st, unnest(range(1, len(ends) + 1)) AS u(k)),
      occ AS (SELECT fp, COUNT(*) AS occ FROM chunks GROUP BY fp)
      SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup,
        CAST(SUM(c.tok_len) AS BIGINT) AS n_tok,
        CAST(SUM(CASE WHEN o.occ >= 2 THEN c.tok_len ELSE 0 END) AS BIGINT)
          AS dup_tok,
        CAST(((2 * SUM(CASE WHEN o.occ >= 2 THEN c.tok_len ELSE 0 END)
            * 10000 + SUM(c.tok_len))
          // (2 * SUM(c.tok_len))) AS DOUBLE) / 1e4 AS dedup_frac
      FROM chunks c JOIN occ o USING (fp)
      GROUP BY c.doc_id ORDER BY c.doc_id"""
    },
    // x178: x14's pair/label CTEs + 10 unrolled integer PageRank
    // iterations (every step CTE MATERIALIZED — the x146 lesson).
    "x178_pagerank_canonical" -> {
      val iters = (1 to 10).map { k => s""",
      s$k AS MATERIALIZED (SELECT e.b AS doc_id,
          CAST(SUM(r.r // r.dg) AS BIGINT) AS sq
        FROM edges2 e JOIN r${k - 1} r ON r.doc_id = e.a GROUP BY e.b),
      r$k AS MATERIALIZED (SELECT n.doc_id, n.dg,
          t.a + (2 * 85 * COALESCE(s.sq, 0) + 100) // 200 AS r
        FROM nodes n LEFT JOIN s$k s USING (doc_id) CROSS JOIN tele t)"""
      }.mkString
      s"""$dedupClusterCtes,
      deg AS (SELECT a AS doc_id, CAST(COUNT(*) AS BIGINT) AS dg
        FROM edges2 GROUP BY a),
      nodes AS (SELECT c.doc_id, COALESCE(d.dg, 0) AS dg
        FROM corpus c LEFT JOIN deg d USING (doc_id)),
      nct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      tele AS (SELECT (2 * 15 * CAST(1000000000 AS BIGINT) + 100 * n) // (2 * 100 * n)
          AS a FROM nct),
      r0 AS MATERIALIZED (SELECT doc_id, dg,
          (2 * CAST(1000000000 AS BIGINT) + n) // (2 * n) AS r
        FROM nodes, nct)$iters,
      fam AS (SELECT l.canonico AS cluster, l.doc_id, r.r
        FROM labels l JOIN r10 r USING (doc_id)),
      sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size
        FROM fam GROUP BY cluster),
      pk AS (SELECT cluster, doc_id AS pr_canonical, r FROM (
          SELECT cluster, doc_id, r, ROW_NUMBER() OVER
            (PARTITION BY cluster ORDER BY r DESC, doc_id) AS rk
          FROM fam)
        WHERE rk = 1)
      SELECT s.cluster, s.size, k.pr_canonical,
        CAST(k.r AS DOUBLE) / 1e9 AS pr_rank,
        (k.pr_canonical = s.cluster) AS agree
      FROM sz s JOIN pk k USING (cluster)
      WHERE s.size >= 2 ORDER BY s.cluster"""
    },
    "x137_exact_substring" -> """
      WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim('portal ' || source
            || ' official mirror terms of service apply'
            || ' all rights reserved contact webmaster ' || text),
            '\s+') AS toks
        FROM documents),
      g AS (SELECT doc_id, r.i - 1 AS gi,
          md5(array_to_string(list_slice(toks, CAST(r.i AS INT),
            CAST(r.i + 4 AS INT)), ' ')) AS fp
        FROM t, unnest(range(1, len(toks) - 3)) AS r(i)),
      dup AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) >= 2),
      ds AS (SELECT g.doc_id, g.gi FROM g JOIN dup USING (fp)),
      tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok, r.j AS j,
          toks[CAST(r.j + 1 AS INT)] AS tk
        FROM t, unnest(range(0, len(toks))) AS r(j)),
      mk AS (SELECT tok.*, CASE WHEN ds.gi IS NOT NULL THEN 1 ELSE 0 END
          AS isd
        FROM tok LEFT JOIN ds ON ds.doc_id = tok.doc_id AND ds.gi = tok.j),
      cv AS (SELECT *, MAX(CASE WHEN isd = 1 THEN j + 4 END)
          OVER (PARTITION BY doc_id ORDER BY j ROWS UNBOUNDED PRECEDING)
          AS reach
        FROM mk),
      cf AS MATERIALIZED (SELECT *,
          (reach IS NOT NULL AND reach >= j) AS covered,
          CASE WHEN (reach IS NOT NULL AND reach >= j)
            AND NOT COALESCE(LAG(reach IS NOT NULL AND reach >= j)
              OVER (PARTITION BY doc_id ORDER BY j), FALSE)
            THEN 1 ELSE 0 END AS st
        FROM cv),
      ci AS MATERIALIZED (SELECT *, SUM(st)
          OVER (PARTITION BY doc_id ORDER BY j ROWS UNBOUNDED PRECEDING)
          AS isl
        FROM cf),
      sp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(MAX(slen) AS BIGINT) AS max_span,
          CAST(SUM(slen) AS BIGINT) AS n_dup_tok
        FROM (SELECT doc_id, isl, COUNT(*) AS slen FROM ci
          WHERE covered GROUP BY doc_id, isl)
        GROUP BY doc_id),
      cl AS (SELECT doc_id, MAX(n_tok) AS n_tok,
          COALESCE(array_to_string(list(tk ORDER BY j)
            FILTER (WHERE NOT covered), ' '), '') AS clean
        FROM ci GROUP BY doc_id)
      SELECT cl.doc_id, CAST(cl.n_tok AS BIGINT) AS n_tok,
        COALESCE(sp.n_dup_tok, 0) AS n_dup_tok,
        CAST(((2 * COALESCE(sp.n_dup_tok, 0) * 10000 + cl.n_tok)
          // (2 * cl.n_tok)) AS DOUBLE) / 1e4 AS dup_rate,
        COALESCE(sp.n_spans, 0) AS n_spans,
        COALESCE(sp.max_span, 0) AS max_span,
        md5(clean) AS clean_md5,
        CASE WHEN length(clean) = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(len(regexp_split_to_array(clean, '\s+')) AS BIGINT) END
          AS clean_n_tok
      FROM cl LEFT JOIN sp USING (doc_id) ORDER BY cl.doc_id""",
    "x112_firstocc_dedup" -> """
      WITH t AS (SELECT doc_id,
          regexp_split_to_array(trim('portal ' || source
            || ' official mirror terms of service apply'
            || ' all rights reserved contact webmaster ' || text),
            '\s+') AS toks
        FROM documents),
      b AS (SELECT doc_id, toks,
          unnest(range(0, (len(toks) + 7) // 8)) AS g FROM t),
      seg AS (SELECT doc_id, g,
          array_to_string(list_slice(toks, g * 8 + 1, g * 8 + 8), ' ')
            AS segtxt
        FROM b),
      sf AS (SELECT doc_id, g, segtxt, md5(segtxt) AS fp FROM seg),
      fo AS (SELECT fp, doc_id AS fdoc, g AS fg FROM (
          SELECT fp, doc_id, g,
            ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, g) AS rk
          FROM sf)
        WHERE rk = 1),
      agg AS (SELECT s.doc_id, COUNT(*) AS n_seg,
          SUM(CASE WHEN s.doc_id = f.fdoc AND s.g = f.fg
            THEN 0 ELSE 1 END) AS n_drop,
          COALESCE(array_to_string(list(s.segtxt ORDER BY s.g)
            FILTER (WHERE s.doc_id = f.fdoc AND s.g = f.fg), ' '), '')
            AS clean
        FROM sf s JOIN fo f USING (fp) GROUP BY s.doc_id)
      SELECT doc_id, CAST(n_seg AS BIGINT) AS n_seg,
        CAST(n_drop AS BIGINT) AS n_drop,
        md5(clean) AS clean_md5,
        CASE WHEN length(clean) = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(len(regexp_split_to_array(clean, '\s+')) AS BIGINT) END
          AS clean_n_tok
      FROM agg ORDER BY doc_id""",
    "x77_soft_dedup_weights" -> s"""
      $dedupClusterCtes,
      fam AS (SELECT canonico, COUNT(*) AS peso FROM labels
        GROUP BY canonico)
      SELECT l.doc_id, CAST(s.peso AS BIGINT) AS peso,
        CAST(ROUND(LN(CAST(s.peso AS DOUBLE) + 1) * 1e6, 0) AS DOUBLE) / 1e6
          AS log_peso
      FROM labels l JOIN fam s ON l.canonico = s.canonico
      WHERE l.doc_id = l.canonico
      ORDER BY l.doc_id""",
    "x73_dup_graph_stats" -> s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200
        UNION ALL
        SELECT doc_id + 3000000,
          array_to_string(list_slice(toks, 1, (3 * len(toks)) // 5), ' ')
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id % 1000000 < 200)),
      $shingleRowsCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      p AS (
        SELECT id_a, id_b
        FROM inter
        JOIN (SELECT doc_id AS id_a, n AS na FROM sizes) USING (id_a)
        JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) USING (id_b)
        WHERE ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5),
      $reachCtes,
      labels AS (
        SELECT c.doc_id,
          LEAST(c.doc_id, COALESCE(m.mn, c.doc_id)) AS canonico
        FROM corpus c
        LEFT JOIN (SELECT a, MIN(b) AS mn FROM reach GROUP BY a) m
          ON c.doc_id = m.a),
      deg AS (SELECT doc_id, COUNT(*) AS k FROM (
          SELECT id_a AS doc_id FROM p
          UNION ALL SELECT id_b FROM p) GROUP BY doc_id),
      dh AS (SELECT 'degree' AS stat, k, COUNT(*) AS n FROM deg GROUP BY k),
      cs AS (SELECT canonico, COUNT(*) AS sz FROM labels GROUP BY canonico),
      ch AS (SELECT 'component' AS stat, sz AS k, COUNT(*) AS n
        FROM cs WHERE sz >= 2 GROUP BY sz)
      SELECT stat, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n
      FROM (SELECT * FROM dh UNION ALL SELECT * FROM ch)
      ORDER BY stat, k""",
    "x71_split_leakage" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200),
      splits AS (SELECT doc_id,
          CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
        FROM (SELECT doc_id,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
              % 100 AS b
          FROM corpus)),
      $shingleRowsCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      p AS (
        SELECT id_a, id_b
        FROM inter
        JOIN (SELECT doc_id AS id_a, n AS na FROM sizes) USING (id_a)
        JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) USING (id_b)
        WHERE ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5),
      cross_p AS (
        SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b
        FROM p
        JOIN splits sa ON p.id_a = sa.doc_id
        JOIN splits sb ON p.id_b = sb.doc_id
        WHERE sa.split <> sb.split),
      leaked AS (SELECT split, COUNT(*) AS n_leaked FROM (
          SELECT DISTINCT doc_id, split FROM (
            SELECT id_a AS doc_id, split_a AS split FROM cross_p
            UNION ALL SELECT id_b, split_b FROM cross_p))
        GROUP BY split),
      tot AS (SELECT split, COUNT(*) AS n_docs FROM splits GROUP BY split)
      SELECT t.split, CAST(t.n_docs AS BIGINT) AS n_docs,
        CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
        CAST((2 * COALESCE(l.n_leaked, 0) * 10000 + t.n_docs)
          // (2 * t.n_docs) AS DOUBLE) / 1e4 AS leak_frac
      FROM tot t LEFT JOIN leaked l USING (split)
      ORDER BY t.split""",
    "x72_edit_verify" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200),
      $shingleRowsCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      p AS (
        SELECT id_a, id_b,
          ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
        FROM inter
        JOIN (SELECT doc_id AS id_a, n AS na FROM sizes) USING (id_a)
        JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) USING (id_b)
        WHERE ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.3),
      v AS (
        SELECT p.id_a, p.id_b, p.jaccard,
          CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS lev,
          CAST(GREATEST(length(ca.text), length(cb.text)) AS BIGINT)
            AS max_len
        FROM p
        JOIN corpus ca ON p.id_a = ca.doc_id
        JOIN corpus cb ON p.id_b = cb.doc_id)
      SELECT id_a, id_b, jaccard, lev, max_len,
        CAST((2 * lev * 10000 + max_len) // (2 * max_len) AS DOUBLE) / 1e4
          AS rel_edit,
        (CAST((2 * lev * 10000 + max_len) // (2 * max_len) AS DOUBLE) / 1e4)
          <= 0.2 AS confirmed
      FROM v ORDER BY id_a, id_b""",
    "x60_signature_store" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 1000000 < 200
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
        WHERE doc_id % 1000000 < 200
        UNION ALL
        SELECT doc_id + 2000000, text || ' extra' FROM documents
        WHERE doc_id % 1000000 < 200),
      $shingleSetCtes,
      $minhashBandCtes,
      cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o ON n.band = o.band AND n.key = o.key
        WHERE n.doc_id >= 1000000 AND o.doc_id < 1000000),
      sizes AS (SELECT doc_id, len(shs) AS n FROM docs),
      inter AS (
        SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh
        WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
        GROUP BY 1, 2)
      SELECT c.new_id, c.old_id,
        ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.nb - i.inter), 4) AS jaccard
      FROM cand c
      JOIN inter i USING (new_id, old_id)
      JOIN (SELECT doc_id AS new_id, n FROM sizes) sa USING (new_id)
      JOIN (SELECT doc_id AS old_id, n AS nb FROM sizes) sb USING (old_id)
      WHERE ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.nb - i.inter), 4) >= 0.5
      ORDER BY new_id, old_id""",
    "x134_source_run_overlap" -> s"""
      WITH ${winnowCtesSql("SELECT doc_id, text FROM documents")},
      fs AS (
        SELECT DISTINCT d.source, u.fp
        FROM wf JOIN documents d USING (doc_id),
          unnest(wf.fps) AS u(fp)),
      tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nf
        FROM fs GROUP BY source),
      pr AS (
        SELECT a.source AS source_a, b.source AS source_b,
          CAST(COUNT(*) AS BIGINT) AS shared
        FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2)
      SELECT pr.source_a, pr.source_b, pr.shared,
        CAST(((2 * pr.shared * 10000 + LEAST(ta.nf, tb.nf))
          // (2 * LEAST(ta.nf, tb.nf))) AS DOUBLE) / 1e4 AS overlap_coef
      FROM pr
      JOIN tot ta ON ta.source = pr.source_a
      JOIN tot tb ON tb.source = pr.source_b
      ORDER BY source_a, source_b""",
    "x132_pagination_stitch" -> """
      WITH base AS (SELECT doc_id, text,
          regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      pag AS (
        SELECT doc_id, text FROM base
        WHERE NOT (doc_id % 5 = 2 AND len(toks) >= 24)
        UNION ALL
        SELECT doc_id, array_to_string(list_slice(toks, 1, 16), ' ')
        FROM base WHERE doc_id % 5 = 2 AND len(toks) >= 24
        UNION ALL
        SELECT doc_id + 4000000,
          array_to_string(list_slice(toks, 9, len(toks)), ' ')
        FROM base WHERE doc_id % 5 = 2 AND len(toks) >= 24),
      hf AS (
        SELECT doc_id,
          md5(array_to_string(list_slice(t2, 1, 8), ' ')) AS head_fp,
          md5(array_to_string(list_slice(t2, len(t2) - 7, len(t2)), ' '))
            AS tail_fp
        FROM (SELECT doc_id,
            regexp_split_to_array(trim(text), '\s+') AS t2
          FROM pag)
        WHERE len(t2) >= 8)
      SELECT a.doc_id AS prev_id, b.doc_id AS next_id
      FROM hf a JOIN hf b
        ON a.tail_fp = b.head_fp AND a.doc_id <> b.doc_id
      ORDER BY prev_id, next_id""",
    "x126_winnowing" -> s"""
      WITH ${winnowCtesSql("SELECT doc_id, text FROM documents")},
      ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
      nbr AS (SELECT a.doc_id,
          CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_nbr
        FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id)
      SELECT w.doc_id, w.m, w.n_sel,
        CAST(((2 * w.n_sel * 10000 + w.m) // (2 * w.m)) AS DOUBLE) / 1e4
          AS density,
        CAST(COALESCE(n.n_nbr, 0) AS BIGINT) AS n_nbr
      FROM wf w LEFT JOIN nbr n USING (doc_id) ORDER BY doc_id""",
    "x124_bbit_minhash" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200),
      $shingleSetCtes,
      $minhashBandCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n FROM docs),
      inter AS (
        SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        GROUP BY 1, 2),
      ag AS (
        SELECT c.id_a, c.id_b,
          CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT)
            AS agree_full,
          CAST(SUM(CASE WHEN ma.mh % 16 = mb.mh % 16 THEN 1 ELSE 0 END)
            AS BIGINT) AS agree_b
        FROM cand c JOIN minh ma ON ma.doc_id = c.id_a
        JOIN minh mb ON mb.doc_id = c.id_b AND mb.j = ma.j
        GROUP BY 1, 2),
      p AS (
        SELECT c.id_a, c.id_b, COALESCE(i.inter, 0) AS inter,
          sa.n + sb.n - COALESCE(i.inter, 0) AS unn,
          ag.agree_full, ag.agree_b
        FROM cand c
        LEFT JOIN inter i USING (id_a, id_b)
        JOIN ag USING (id_a, id_b)
        JOIN (SELECT doc_id AS id_a, n FROM sizes) sa USING (id_a)
        JOIN (SELECT doc_id AS id_b, n FROM sizes) sb USING (id_b)),
      e AS (
        SELECT LEAST((inter * 10) // unn, 9) AS band, agree_full, agree_b,
          (2 * (ABS(agree_full * unn - inter * 16) * 10000) + 16 * unn)
            // (2 * 16 * unn) AS efq,
          (2 * (ABS((agree_b - 1) * unn - inter * 15) * 10000) + 15 * unn)
            // (2 * 15 * unn) AS ebq
        FROM p)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(agree_full) AS BIGINT) AS sum_agree_full,
        CAST(SUM(agree_b) AS BIGINT) AS sum_agree_b,
        CAST(((2 * SUM(efq) + COUNT(*)) // (2 * COUNT(*))) AS DOUBLE) / 1e4
          AS err_full,
        CAST(((2 * SUM(ebq) + COUNT(*)) // (2 * COUNT(*))) AS DOUBLE) / 1e4
          AS err_bbit
      FROM e GROUP BY band ORDER BY band""",
    "x105_threshold_sweep" -> s"""
      WITH corpus AS (
        $lshEvalCorpusSql),
      $shingleSetCtes,
      sizes AS (SELECT doc_id, len(shs) AS n FROM docs),
      $minhashBandCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jc AS (
        SELECT c.id_a, c.id_b,
          ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.nb - i.inter), 4)
            AS jaccard
        FROM cand c
        JOIN inter i USING (id_a, id_b)
        JOIN (SELECT doc_id AS id_a, n FROM sizes) sa USING (id_a)
        JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) sb USING (id_b)
        WHERE ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.nb - i.inter), 4)
          >= 0.3),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM corpus),
      ex AS (SELECT unnest([id_a, id_b]) AS doc_id, jaccard FROM jc),
      sweep AS (
        SELECT u.t10, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_dup
        FROM ex, UNNEST(range(3, 10)) AS u(t10)
        WHERE ex.jaccard >= CAST(u.t10 AS DOUBLE) / 10
        GROUP BY u.t10)
      SELECT CAST(t10 AS DOUBLE) / 10 AS threshold, n_docs_dup, n_total,
        CAST((2 * n_docs_dup * 10000 + n_total) // (2 * n_total) AS DOUBLE)
          / 1e4 AS share
      FROM sweep, tot ORDER BY threshold""",
    "x91_lsh_precision" -> s"""
      WITH corpus AS (
        $lshEvalCorpusSql),
      $shingleSetCtes,
      sizes AS (SELECT doc_id, len(shs) AS n FROM docs),
      $minhashBandCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jc AS (
        SELECT LEAST(FLOOR(ROUND(CAST(i.inter AS DOUBLE)
            / (sa.n + sb.nb - i.inter), 4) * 10) / 10, 0.9) AS band
        FROM cand c
        JOIN inter i USING (id_a, id_b)
        JOIN (SELECT doc_id AS id_a, n FROM sizes) sa USING (id_a)
        JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) sb USING (id_b)
        WHERE ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.nb - i.inter), 4) > 0),
      g AS (SELECT band, COUNT(*) AS n_cand FROM jc GROUP BY band),
      tot AS (SELECT band, n_cand, SUM(n_cand) OVER () AS n_total FROM g)
      SELECT band, CAST(n_cand AS BIGINT) AS n_cand,
        CAST((2 * n_cand * 10000 + n_total) // (2 * n_total) AS DOUBLE) / 1e4
          AS share,
        band < 0.5 AS below_threshold
      FROM tot ORDER BY band""",
    "x62_lsh_eval" -> s"""
      WITH corpus AS (
        $lshEvalCorpusSql),
      $shingleSetCtes,
      sizes AS (SELECT doc_id, len(shs) AS n FROM docs),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT id_a, id_b,
          ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
        FROM inter
        JOIN (SELECT doc_id AS id_a, n AS na FROM sizes) USING (id_a)
        JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) USING (id_b)
        WHERE ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.3),
      $minhashBandCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id),
      det AS (
        SELECT t.jaccard,
          CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM truth t LEFT JOIN cand c USING (id_a, id_b)),
      g AS (
        SELECT LEAST(FLOOR(jaccard * 10) / 10, 0.9) AS band,
          CAST(COUNT(*) AS BIGINT) AS n_truth,
          CAST(SUM(hit) AS BIGINT) AS n_found
        FROM det GROUP BY 1),
      mm AS (SELECT band, n_truth, n_found,
        (band + 0.05) * (band + 0.05) AS m2 FROM g),
      m4t AS (SELECT band, n_truth, n_found, m2 * m2 AS m4 FROM mm),
      ms AS (SELECT band, n_truth, n_found,
        (1.0 - m4) * (1.0 - m4) AS miss2 FROM m4t)
      SELECT band, n_truth, n_found,
        CAST((2 * abs(n_found * 10000) + n_truth) // (2 * n_truth)
          AS DOUBLE) / 1e4 AS recall,
        ROUND((1.0 - miss2 * miss2) * 1e4, 0) / 1e4 AS recall_model
      FROM ms ORDER BY band""",
    "x58_containment_dedup" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200
        UNION ALL
        SELECT doc_id + 3000000,
          array_to_string(list_slice(
            regexp_split_to_array(trim(text), '\\s+'), 1, 12), ' ')
        FROM documents WHERE doc_id % 1000000 < 200),
      $shingleRowsCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
        ROUND(CAST(inter AS DOUBLE) / LEAST(na, nb), 4) AS containment,
        ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
      FROM inter
      JOIN (SELECT doc_id AS id_a, n AS na FROM sizes) USING (id_a)
      JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) USING (id_b)
      WHERE ROUND(CAST(inter AS DOUBLE) / LEAST(na, nb), 4) >= 0.9
      ORDER BY id_a, id_b""",
    "x59_dedup_mass" -> s"""
      $dedupClusterCtes,
      toks AS (SELECT c.doc_id, c.doc_id % 1000000 AS base_id,
        len(regexp_split_to_array(trim(c.text), '\\s+')) AS tok
        FROM corpus c),
      kept AS (SELECT doc_id FROM labels WHERE doc_id = canonico)
      SELECT d.source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(SUM(t.tok) AS BIGINT) AS tok_total,
        CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN t.tok ELSE 0 END)
          AS BIGINT) AS tok_kept,
        CAST((2 * abs(CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN t.tok
              ELSE 0 END) AS BIGINT) * 10000) + CAST(SUM(t.tok) AS BIGINT))
            // (2 * CAST(SUM(t.tok) AS BIGINT)) AS DOUBLE) / 1e4
          AS kept_frac
      FROM toks t
      LEFT JOIN kept k ON k.doc_id = t.doc_id
      JOIN documents d ON d.doc_id = t.base_id
      GROUP BY d.source ORDER BY d.source""",
    "x98_staged_dedup" -> s"""
      $dedupClusterCtes,
      fam AS (SELECT canonico, COUNT(*) AS fs FROM labels GROUP BY canonico)
      SELECT l.doc_id, l.canonico, l.doc_id = l.canonico AS sobrevivente,
        CAST(f.fs AS BIGINT) AS family_size
      FROM labels l JOIN fam f USING (canonico)
      ORDER BY l.doc_id""",
    "x93_intradoc_dedup" -> """
      WITH corpus AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0
              AND len(regexp_split_to_array(trim(text), '\s+')) >= 8
            THEN array_to_string(list_slice(
                regexp_split_to_array(trim(text), '\s+'), 1, 8), ' ')
              || ' ' || text
            ELSE text END AS text
        FROM documents),
      t AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus),
      se AS (SELECT doc_id,
          list_transform(range(0, (len(toks) + 7) // 8), g ->
            array_to_string(list_slice(toks, g * 8 + 1, g * 8 + 8), ' '))
            AS segs
        FROM t WHERE len(toks) > 0),
      k AS (SELECT doc_id, segs,
          list_filter(segs, (s, i) ->
            list_position(list_transform(segs, x -> md5(x)), md5(s)) = i)
            AS kept
        FROM se)
      SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_seg,
        CAST(len(segs) - len(kept) AS BIGINT) AS n_dup,
        md5(array_to_string(kept, ' ')) AS clean_md5,
        CASE WHEN length(array_to_string(kept, ' ')) = 0
          THEN CAST(0 AS BIGINT)
          ELSE CAST(len(regexp_split_to_array(
            array_to_string(kept, ' '), '\s+')) AS BIGINT) END AS clean_n_tok
      FROM k ORDER BY doc_id""",
    "x88_quality_survivors" -> s"""
      $dedupClusterCtes,
      q AS (
        SELECT doc_id,
          ROUND(LEAST(n_tok / 50.0, 1.0) * 0.4
            + (1.0 - LEAST(punct_ratio * 5.0, 1.0)) * 0.3
            + LEAST(stop_ratio * 10.0, 1.0) * 0.3, 4) AS quality
        FROM (
          SELECT doc_id, len(toks) AS n_tok,
            CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
              AS DOUBLE) / GREATEST(length(text), 1) AS punct_ratio,
            CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS DOUBLE)
              / GREATEST(len(toks), 1) AS stop_ratio
          FROM (SELECT doc_id, text,
                  regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM corpus))),
      j AS (SELECT l.doc_id, l.canonico, q.quality,
          ROW_NUMBER() OVER (PARTITION BY l.canonico
            ORDER BY q.quality DESC, l.doc_id) AS rk
        FROM labels l JOIN q ON q.doc_id = l.doc_id)
      SELECT doc_id, canonico, quality, rk = 1 AS kept_best
      FROM j ORDER BY doc_id""",
    "x62b_lsh_tuner" -> {
      // one SELECT per grid config; each rebuilds the S-curve points
      // from the exact decimal rendering of the Scala-side doubles
      // (round-trip exact) with the identical left-assoc product
      // chain, so FLOOR lands on bit-identical values
      def missStr(r: Int, t: Double): String = {
        var tp = 1.0; var i = 0
        while (i < r) { tp *= t; i += 1 }
        new java.math.BigDecimal(1.0 - tp).toPlainString
      }
      def chain(name: String, b: Int) = Seq.fill(b)(name).mkString(" * ")
      val branches = lshTunerGrid.map { case (b, r) =>
        s"""SELECT CAST(${b * r} AS BIGINT) AS num_hashes,
          CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
          FLOOR((1.0 - ${chain("mhi", b)}) * 1e4) / 1e4 AS recall_hi,
          FLOOR((1.0 - ${chain("mlo", b)}) * 1e4) / 1e4 AS catch_lo,
          CAST(${b * r + b} AS BIGINT) AS cost
        FROM (SELECT CAST(${missStr(r, 0.5)} AS DOUBLE) AS mhi,
          CAST(${missStr(r, 0.3)} AS DOUBLE) AS mlo)"""
      }.mkString("\n UNION ALL ")
      s"""
      WITH grid AS ($branches),
      rk AS (SELECT *, recall_hi >= 0.9 AS ok,
          ROW_NUMBER() OVER (PARTITION BY recall_hi >= 0.9
            ORDER BY catch_lo, cost, rows_per_band, bands) AS rn
        FROM grid)
      SELECT num_hashes, bands, rows_per_band, recall_hi, catch_lo, cost,
        (ok AND rn = 1) AS chosen
      FROM rk ORDER BY rows_per_band, bands"""
    },
    "x84_perceptual_hash" -> s"""
      SELECT doc_id, dhash FROM $dhashSql ORDER BY doc_id""",
    "x92_dhash_store" -> s"""
      WITH sigs AS (SELECT * FROM $dhashSql),
      store AS (SELECT doc_id, dhash FROM sigs WHERE doc_id < 1000000),
      batch AS (SELECT doc_id, dhash FROM sigs WHERE doc_id >= 1000000)
      SELECT b.doc_id AS new_id, s.doc_id AS old_id,
        CAST(bit_count(xor(b.dhash, s.dhash)) AS INT) AS hamming
      FROM batch b JOIN store s
        ON bit_count(xor(b.dhash, s.dhash)) <= 3
      ORDER BY new_id, old_id""",
    "x85_dhash_neardup" -> s"""
      WITH sigs AS (SELECT * FROM $dhashSql)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
      ORDER BY id_a, id_b""",
    "x23_simhash64_dedup" -> s"""
      WITH sigs AS (SELECT * FROM $simhash64Sql)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY id_a, id_b""",
    "x22_incremental_dedup" -> incrementalDedupSql,
    // x29 is the Bloom-prefiltered physical strategy for the SAME
    // logical result — no false negatives + exact verify of positives
    // means the output is bit-identical to x22's (EngineSpec asserts
    // the DataFrame equality; the shared oracle proves it vs DuckDB).
    "x29_bloom_dedup" -> incrementalDedupSql,
    "x2_dedup_minhash" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200),
      $shingleSetCtes,
      $minhashBandCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, len(shs) AS n FROM docs),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT c.id_a, c.id_b,
        ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.nb - i.inter), 4) AS jaccard
      FROM cand c
      JOIN inter i USING (id_a, id_b)
      JOIN (SELECT doc_id AS id_a, n FROM sizes) sa USING (id_a)
      JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) sb USING (id_b)
      WHERE ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.nb - i.inter), 4) >= 0.5
      ORDER BY id_a, id_b""",
    "x15_simhash_dedup" -> s"""
      WITH sigs AS (SELECT * FROM $simhash32Sql)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY id_a, id_b""",
    "x14_dedup_clusters" -> s"""
      $dedupClusterCtes
      SELECT doc_id, canonico, doc_id = canonico AS sobrevivente
      FROM labels ORDER BY doc_id""",
    "x24_dedup_survivors" -> s"""
      $dedupClusterCtes
      SELECT l.doc_id, c.text
      FROM labels l JOIN corpus c ON l.doc_id = c.doc_id
      WHERE l.doc_id = l.canonico
      ORDER BY l.doc_id""",
    "x152_quality_survivor" -> s"""
      $dedupClusterCtes,
      q AS (SELECT doc_id, CAST(ROUND(ROUND(
          LEAST(len(toks) / 50.0, 1.0) * 0.4
          + (1.0 - LEAST(CAST(length(text) - length(regexp_replace(text,
                '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
              / GREATEST(length(text), 1) * 5.0, 1.0)) * 0.3
          + LEAST(CAST(len(list_filter(toks,
                t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
              / GREATEST(len(toks), 1) * 10.0, 1.0) * 0.3, 4) * 1e4, 0)
          AS BIGINT) AS q4
        FROM (SELECT doc_id, text,
            regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM corpus)),
      mem AS (SELECT l.canonico, l.doc_id, q.q4
        FROM labels l JOIN q USING (doc_id)),
      sz AS (SELECT canonico, CAST(COUNT(*) AS BIGINT) AS n_membros
        FROM mem GROUP BY canonico),
      keep AS (SELECT canonico, doc_id AS keeper, q4 AS keeper_q4 FROM (
          SELECT canonico, doc_id, q4, ROW_NUMBER() OVER (
            PARTITION BY canonico ORDER BY q4 DESC, doc_id) AS rk
          FROM mem)
        WHERE rk = 1)
      SELECT k.canonico, s.n_membros, k.keeper,
        CAST(k.keeper_q4 AS DOUBLE) / 1e4 AS keeper_q,
        k.keeper <> k.canonico AS policy_differs
      FROM keep k JOIN sz s USING (canonico)
      WHERE s.n_membros >= 2
      ORDER BY k.canonico""",
    "x10_fingerprint" -> """
      SELECT doc_id, md5(lower(trim(text))) AS fp,
        substring(md5(lower(trim(text))), 1, 16) AS fp_short
      FROM documents ORDER BY doc_id""",
    "x1_dedup_exact" -> s"""
      SELECT md5(lower(trim(text))) AS fp, MIN(doc_id) AS doc_id_mantido,
        COUNT(*) AS n_copias
      FROM $corpusSql
      GROUP BY 1 ORDER BY doc_id_mantido""",
    "x4_ngram_jaccard" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200),
      $shingleRowsCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
        ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
      FROM inter
      JOIN (SELECT doc_id AS id_a, n AS na FROM sizes) USING (id_a)
      JOIN (SELECT doc_id AS id_b, n AS nb FROM sizes) USING (id_b)
      WHERE ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5
      ORDER BY id_a, id_b""",
    "x3_simhash" -> {
      val votes = (0 until 16).map(i =>
        s"SUM(CASE WHEN (h // ${1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS v$i")
        .mkString(", ")
      val assemble = (0 until 16).map(i =>
        s"CASE WHEN v$i > 0 THEN ${1 << i} ELSE 0 END").mkString(" + ")
      s"""
      SELECT doc_id, CAST($assemble AS INT) AS simhash
      FROM (
        SELECT doc_id, $votes
        FROM (SELECT doc_id, ${hex16("substring(md5(tok), 1, 4)")} AS h
              FROM (SELECT doc_id,
                      unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                        AS tok
                    FROM documents))
        GROUP BY doc_id)
      ORDER BY doc_id"""
    },
    "x33_substring_dedup" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200),
      wins AS (
        SELECT DISTINCT doc_id, md5(substring(text, CAST(i AS INT) * 32 + 1, 64)) AS wh
        FROM corpus, UNNEST(range(0, (length(text) - 64) // 32 + 1)) AS t(i)
        WHERE length(text) >= 64),
      keep AS (
        SELECT wh FROM (SELECT wh, COUNT(*) AS df FROM wins GROUP BY wh)
        WHERE df <= 50),
      p AS (SELECT w.doc_id, w.wh FROM wins w JOIN keep USING (wh))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(COUNT(*) AS BIGINT) AS janelas
      FROM p a JOIN p b ON a.wh = b.wh AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
      ORDER BY id_a, id_b""")
}
