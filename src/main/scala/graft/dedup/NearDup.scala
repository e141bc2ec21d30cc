package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import graft.functions.Md5Hash32
import graft.text.TextFunctions._

/** The near-duplicate detection stack as a reusable library facade —
  * every operator takes a generic `docs` DataFrame with `doc_id` +
  * `text` (any source), so a user runs the same pipeline the x*
  * benchmark queries prove out, on their own corpus:
  *
  *   exact fingerprints → [[exactDedup]]
  *   candidate pairs    → [[minhashLshPairs]] (bucketed, linear-ish)
  *                        [[ngramJaccardPairs]] (exact, the verifier)
  *   clustering         → [[clusters]] (connected components,
  *                        canonical survivor per component)
  *   survivors          → [[survivors]]
  *
  * Everything is deterministic and engine-portable (md5-derived hash
  * families), which is what makes the x1/x2/x4/x14 DuckDB oracles
  * possible — the queries in [[graft.queries.TrainingData]] delegate
  * here, so the oracle checks cover THIS code.
  *
  * Scale shapes (see PLANS.md): signatures are per-row array folds
  * (no explode shuffle), candidates come from band-bucket self-joins
  * (never all-pairs), exact verification runs only inside buckets,
  * and clustering is O(log diameter) pointer-doubling CC.
  */
object NearDup {

  /** Hex digits start..start+7 (1-based) of md5(c) as a 32-bit value,
    * null in, null out — the ONE hash every md5-derived bucket in the
    * engine builds on (cross-engine oracle contract: the DuckDB
    * mirrors parse the same positions). */
  private[graft] def md5Hash32(c: Column, start: Int = 1): Column = {
    require(start >= 1 && start <= 25, s"md5 hex offset $start is not in 1..25")
    GraftBridge.toColumn(Md5Hash32(GraftBridge.toExpression(c), start))
  }

  /** Exact dedup: hash-groupBy on the normalized-text fingerprint,
    * keep the minimum id (`ETL`-style first-wins). Shuffles only
    * (fp, id) pairs, never text bodies. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id_mantido"),
        count(lit(1)).as("n_copias"))

  /** Exact n-gram Jaccard pairs via inverted-index self-join on the
    * shingle — the verification primitive. Quadratic only within
    * shingle postings, never across the corpus. */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame =
    shingleOverlaps(docs, shingleN)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Asymmetric n-gram containment pairs: C = |S_A ∩ S_B| /
    * min(|S_A|, |S_B|) — catches quote / expansion / truncation
    * duplicates where the smaller doc sits inside the larger one but
    * symmetric Jaccard stays low (for A ⊂ B, J = |A|/|B| shrinks with
    * the size gap while C stays 1). The Jaccard is reported alongside
    * so the caller can see exactly which pairs the symmetric
    * threshold would have missed. Same inverted-index shape as
    * [[ngramJaccardPairs]]: quadratic only within shingle postings,
    * never across the corpus. */
  def containmentPairs(docs: DataFrame, shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame =
    shingleOverlaps(docs, shingleN)
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("na"), col("nb")), 4))
      .withColumn("jaccard",
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"), col("jaccard"))

  /** (id_a, id_b, inter, na, nb): every pair id_a < id_b sharing at
    * least one distinct `shingleN`-gram, their shared count and both
    * shingle-set sizes, by an inverted-index self-join on the shingle. */
  private def shingleOverlaps(docs: DataFrame, shingleN: Int): DataFrame = {
    val sh = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesOfToks(col("toks"), shingleN)).as("sh"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
  }

  private[graft] val minhashPrime = 4294967311L // smallest prime > 2^32

  /** Affine minwise-permutation family h_j(x) = (a_j·x + b_j) mod p
    * over the md5 base hash: ONE md5 per shingle, k cheap arithmetic
    * rehashes — bit-identical in any engine with 64-bit integers
    * (a < 2^28 keeps a·x below 2^60). */
  private[graft] def minhashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { j =>
      def h32(sd: String): Long = {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$sd$j".getBytes("UTF-8"))
        (0 until 4).map(i => (h(i) & 0xffL) << (8 * (3 - i))).sum
      }
      ((h32("a") >> 4) | 1L, h32("b") % minhashPrime)
    }

  /** Per-doc MinHash signature table: (doc_id, shs, n, h0..h{k-1}) —
    * the shared signature builder behind [[minhashLshPairs]] and the
    * persisted [[saveSignatureStore]]. Per-row array folds only, no
    * shuffle. */
  private def sigTable(docs: DataFrame, numHashes: Int,
      shingleN: Int): DataFrame = {
    val params = minhashParams(numHashes)
    val hcols = params.zipWithIndex.map { case ((a, b), j) =>
      array_min(transform(col("hs"),
        h => (h * lit(a) + lit(b)) % lit(minhashPrime))).as(s"h$j")
    }
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesOfToks(col("toks"), shingleN).as("shs"))
      .withColumn("hs", transform(col("shs"), x => md5Hash32(x)))
      .select(col("doc_id") +: col("shs") +: size(col("shs")).as("n") +: hcols: _*)
  }

  /** Explode a signature table to its LSH band rows (doc_id,
    * [carry...,] band, key). `carry` columns ride through for callers
    * that verify inside the bucket join (the self-join path). */
  private def bandTable(sig: DataFrame, numHashes: Int, bandRows: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val bandCols = (0 until numHashes / bandRows).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until bandRows).map(r => col(s"h${b * bandRows + r}")): _*)
          .as("key"))
    }
    sig
      .select((col("doc_id") +: carry.map(col)) :+
        explode(array(bandCols: _*)).as("bk"): _*)
      .select((col("doc_id") +: carry.map(col)) :+
        col("bk.band").as("band") :+ col("bk.key").as("key"): _*)
  }

  /** MinHash+LSH near-dup pairs: shingle → k minhashes (per-row array
    * fold, no shuffle) → bands → bucket self-join → exact Jaccard
    * verify INSIDE buckets only. Threshold-tuning: the S-curve
    * midpoint is ≈ (1/bands)^(1/bandRows). */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 16,
      bandRows: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame =
    lshCandidateJaccard(docs, numHashes, bandRows, shingleN)
      .filter(col("jaccard") >= threshold)

  /** The PRE-threshold view of [[minhashLshPairs]]: every band-join
    * candidate with its exact verified Jaccard, nothing filtered.
    * This is the precision/cost side of the tuning loop (x91): the
    * candidates BELOW the production threshold are pure wasted
    * verification work, and their volume is what the x62b model's
    * `catch_lo` prices. Same plan as the thresholded path — bucket
    * self-join within bands only, shingle verify inline. */
  def lshCandidateJaccard(docs: DataFrame, numHashes: Int = 16,
      bandRows: Int = 4, shingleN: Int = 3): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    val sig = sigTable(docs, numHashes, shingleN)
    val buckets = bandTable(sig, numHashes, bandRows, Seq("shs", "n"))
    buckets.as("a").join(buckets.as("b"), Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.shs").as("sa"), col("b.shs").as("sb"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** x124's pair table: every banded-LSH candidate pair with its
    * exact Jaccard numerator/denominator AND two slot-agreement
    * counts over the k minhash values — full 32-bit slots vs only
    * the low `bBits` bits of each slot (Li & König's b-bit minwise
    * hashing: 8× signature compression at b=4, paid for in estimator
    * variance — this table is what prices that trade). Same plan as
    * [[lshCandidateJaccard]] (bucket self-join within bands, verify
    * on the colliding sliver only); the signature arrays ride the
    * band join as row payload, never a separate shuffle. Structural
    * invariant: equal full slots have equal low bits, so
    * agree_b ≥ agree_full on every pair. */
  def bbitCandidateAgreement(docs: DataFrame, numHashes: Int = 16,
      bandRows: Int = 4, shingleN: Int = 3, bBits: Int = 4): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    val m = 1L << bBits
    // Guard (ADVICE r9): a doc with fewer than shingleN tokens has an
    // empty shingle set — every minhash slot NULL, so concat_ws would
    // collapse all its band keys to the same empty string (pairing all
    // such docs with each other) and unn = 0 would divide by zero in
    // x124's estimator quotients. Dropping n = 0 rows HERE matches the
    // oracle's relational shape exactly: its unnest(shs) emits no rows
    // for an empty set, so such docs never reach minh/bands either.
    val sig = sigTable(docs, numHashes, shingleN)
      .filter(col("n") > 0)
      .withColumn("hv", array((0 until numHashes).map(j => col(s"h$j")): _*))
    val buckets = bandTable(sig, numHashes, bandRows, Seq("shs", "n", "hv"))
    def agrees(f: Column => Column) =
      size(filter(sequence(lit(1), lit(numHashes)), i =>
        f(element_at(col("ha"), i)) === f(element_at(col("hb"), i))))
        .cast("long")
    buckets.as("a").join(buckets.as("b"), Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.shs").as("sa"), col("b.shs").as("sb"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.hv").as("ha"), col("b.hv").as("hb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("na").cast("long") + col("nb") - col("inter")).as("unn"),
        agrees(identity).as("agree_full"),
        agrees(h => pmod(h, lit(m))).as("agree_b"))
  }

  /** Winnowed k-gram fingerprint selection (Schleimer, Wilkerson &
    * Aiken 2003 — MOSS's index): per doc, the POSITIONAL k-gram hash
    * sequence and the rightmost-minimum index of every w-hash window;
    * the distinct selected indices are the doc's fingerprints. The
    * winnowing guarantees (both pinned in EngineSpec): any two docs
    * sharing a run of ≥ w+k−1 tokens share a selected fingerprint,
    * and every w consecutive k-grams contain a selection (gap < w) —
    * so the index shrinks ~(w+1)/2× versus every-k-gram with ZERO
    * recall loss on long matches, which is why it beats both strided
    * windows (x33 — fixed stride misses unaligned runs) and plain
    * MinHash (x2 — whole-doc similarity, not shared-run detection)
    * as the plagiarism/clone-detection primitive. Entirely row-local
    * array expressions over a PROJECTED token array; short docs
    * (m < w) winnow one full-array window. Columns: doc_id, m,
    * sel (ascending), fps (sorted distinct selected hashes). */
  def winnowedFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    // The hash array and the selection are REUSED many times below; a
    // withColumn projection is NOT enough to pin them — CollapseProject
    // happily inlines a projected expression into a downstream
    // Generate/Project, turning each window's slice into a full O(m)
    // md5 recompute (measured: the x126 carrier went from 575 s to
    // ~2 s when this binding landed). Binding via a single-element
    // `transform` makes them LAMBDA VARIABLES, which survive any plan
    // rewrite as evaluate-once-per-row by construction.
    val hv0 = transform(
      allShinglesOfToks(wsTokens(col("text")), k), x => md5Hash32(x))
    val res = element_at(transform(array(hv0), hv => {
      val m = size(hv)
      // Flat scalar window: out-of-bounds element_at is NULL, and
      // least()/the when-chain skip NULLs, so the tail windows
      // truncate themselves — no slice, no inner lambda (a nested
      // filter-with-array_min re-evaluated the window min per
      // position: measured 4.8x the wall on the corpus-wide x134).
      val sel0 = sort_array(array_distinct(
        transform(sequence(lit(1), greatest(m - (w - 1), lit(1))), j => {
          val cands = (0 until w).map(o => element_at(hv, j + o))
          val mn = least(cands: _*)
          var pick: Column = j
          for (o <- 1 until w)
            pick = when(element_at(hv, j + o) === mn, j + o).otherwise(pick)
          pick
        })))
      element_at(transform(array(sel0), sel =>
        struct(m.cast("long").as("m"), sel.as("sel"),
          sort_array(array_distinct(transform(sel, i => element_at(hv, i))))
            .as("fps"))), 1)
    }), 1)
    docs.select(col("doc_id"), res.as("r"))
      .select(col("doc_id"), col("r.m").as("m"), col("r.sel").as("sel"),
        col("r.fps").as("fps"))
      .filter(col("m") > 0)
  }

  /** Persist a MinHash signature store for incremental near-dup
    * checks: `path/bands` = (doc_id, band, key) — the LSH candidate
    * index, the ONLY table a new batch's band join touches — and
    * `path/sigs` = (doc_id, n, shs) — the verification payload,
    * fetched doc-keyed for the candidate sliver alone. This is the
    * near-dup analog of the exact fingerprint store (x22/x29) and of
    * [[graft.ml.IvfIndex]]'s build-once/probe-many contract: at
    * 100 TB the corpus signatures are computed once at ingest, and a
    * daily batch pays bands(batch) ⋈ bands(store) — key-sized rows —
    * plus shingle verification on only the colliding pairs, never a
    * corpus rescan. */
  def saveSignatureStore(docs: DataFrame, path: String,
      numHashes: Int = 16, bandRows: Int = 4, shingleN: Int = 3): Unit = {
    val sig = sigTable(docs, numHashes, shingleN)
    sig.select(col("doc_id"), col("n"), col("shs"))
      .write.mode("overwrite").parquet(s"$path/sigs")
    bandTable(sig, numHashes, bandRows)
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Near-dup pairs of a NEW batch against a persisted
    * [[saveSignatureStore]] — batch signatures are computed fresh
    * (per-row folds), candidates come from the batch-bands ⋈
    * store-bands join, and the exact-Jaccard verify joins each side's
    * shingles DOC-KEYED (the candidate sliver only). The store is
    * never rebuilt and the old corpus never rescanned. Same
    * (numHashes, bandRows, shingleN) must be used as at store build
    * time — the band keys are raw minhash concatenations. */
  def incrementalNearDupPairs(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, numHashes: Int = 16,
      bandRows: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val bsig = sigTable(batch, numHashes, shingleN)
    val cand = bandTable(bsig, numHashes, bandRows).as("n")
      .join(spark.read.parquet(s"$path/bands").as("o"), Seq("band", "key"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .dropDuplicates("new_id", "old_id")
    cand
      .join(bsig.select(col("doc_id").as("new_id"),
        col("shs").as("sa"), col("n").as("na")), Seq("new_id"))
      .join(spark.read.parquet(s"$path/sigs").select(col("doc_id").as("old_id"),
        col("shs").as("sb"), col("n").as("nb")), Seq("old_id"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** Cluster near-dup pairs into components and pick the canonical
    * survivor (minimum doc_id) per component — the stage after pair
    * generation: pair relations chain (A~B, B~C but A!~C), and only
    * a transitive closure says which doc to keep. O(log diameter)
    * rounds via [[graft.plans.ConnectedComponents]]. */
  def clusters(docs: DataFrame, pairs: DataFrame): DataFrame =
    graft.plans.ConnectedComponents.minLabel(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as("doc_id"), col("label").as("canonico"),
        (col("id") === col("label")).as("sobrevivente"))

  /** The deduplicated corpus: survivors of [[clusters]] joined back
    * to their text. */
  def survivors(docs: DataFrame, pairs: DataFrame): DataFrame =
    clusters(docs, pairs).filter(col("sobrevivente"))
      .select(col("doc_id"))
      .join(docs, Seq("doc_id"))

  /** Exact SUBSTRING-level duplicate pairs — the "dedup repeated
    * substrings" motif (Lee et al., *Deduplicating Training Data
    * Makes Language Models Better*) at document-pair granularity:
    * fixed-`win`-char windows at `stride`-char steps are hashed per
    * doc, and docs sharing a window hash are emitted with the count
    * of shared distinct windows. Catches PARTIAL duplication —
    * a copied paragraph inside an otherwise-new doc — that doc-level
    * fingerprints ([[exactDedup]]) and whole-doc Jaccard
    * ([[ngramJaccardPairs]]) both miss.
    *
    * Scale shape: the corpus shuffles only (window_hash, doc_id)
    * pairs; the self-join is an inverted index over window postings,
    * quadratic only within a posting. Windows occurring in more than
    * `maxDf` docs are dropped BEFORE the join — boilerplate/template
    * suppression, which is also the posting-size skew ceiling at
    * 100 TB (a site template shared by a million pages never reaches
    * the join). Windows are CHARACTER-positional in both engines
    * (Spark `substr` and DuckDB `substring`), so the DuckDB oracle
    * is byte-safe with no encoding assumption. Docs shorter than
    * `win` have no window (guarded — a negative sequence bound would
    * otherwise generate descending ranges). */
  def substringDupPairs(docs: DataFrame, win: Int = 64, stride: Int = 32,
      maxDf: Int = 50): DataFrame = {
    val wins = docs
      .filter(length(col("text")) >= win)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0),
            floor((length(col("text")) - win) / stride).cast("int")),
          i => md5(col("text").substr(i * stride + 1, lit(win)))))).as("wh"))
    val keep = wins.groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("wh"))
    val pruned = wins.join(keep, Seq("wh"))
    pruned.select(col("wh"), col("doc_id").as("id_a"))
      .join(pruned.select(col("wh"), col("doc_id").as("id_b")), Seq("wh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("janelas"))
  }

  /** Inter-source corpus overlap: estimated shingle-set Jaccard for
    * every pair of sources via source-level MinHash — the dataset
    * governance audit ("how much of source B is already in A?") that
    * prices cross-source dedup and catches benchmark contamination
    * between corpus components. The MinHash of a UNION is the min of
    * the members' mins, so the source signature is one map-side-
    * combinable aggregation: per-row k-min array folds (no explode
    * shuffle) → `groupBy(source)` onto |sources|×k cells regardless
    * of corpus size. The tiny signature table is pinned driver-local
    * ([[graft.ml.IvfIndex]] centroid pattern — a lazy self-join would
    * re-run the corpus pass per side) and the pairwise slot-agreement
    * compare runs on |sources|² signature rows, never on data.
    * `est_jaccard` = matching slots / k (k a power of two keeps the
    * quotient binary-exact for the cross-engine oracle). */
  def sourceMinhashOverlap(docs: DataFrame, numHashes: Int = 16,
      shingleN: Int = 3): DataFrame = {
    val params = minhashParams(numHashes)
    // base hash in a flat codegen'd Project over the row-local
    // explode; the shuffle is only the map-side-combined |sources|×k
    // partial mins
    val hcols = params.zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * lit(a) + lit(b)) % lit(minhashPrime)).as(s"h$j")
    }
    val sigDf = docs
      .select(col("source"), wsTokens(col("text")).as("toks"))
      .select(col("source"), explode(shinglesOfToks(col("toks"), shingleN)).as("sh"))
      .withColumn("h", md5Hash32(col("sh")))
      .groupBy(col("source")).agg(hcols.head, hcols.tail: _*)
    val sig = graft.core.Pin(sigDf)
    val a = sig.select(col("source").as("source_a") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"a$j")): _*)
    val b = sig.select(col("source").as("source_b") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"b$j")): _*)
    val matching = (0 until numHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        matching.as("matching_slots"),
        (matching.cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }
}
