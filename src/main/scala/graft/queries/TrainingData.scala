package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Store, Tables}
import graft.functions.VectorExpressions.{dec24, enc24}
import graft.text.TextFunctions._

/** Large-scale training-data pipeline operators (beyond-reference
  * extensions, BASELINE.json north star) over the `documents` /
  * `embeddings` tables, split by family:
  * [[TrainingDataDedup]] (exact, near-dup and staged dedup),
  * [[TrainingDataAnn]] (vector search and embedding analytics),
  * [[TrainingDataLm]] (tokenizers and n-gram language models),
  * [[TrainingDataClassifier]] (the quality classifier and its
  * consumers), [[TrainingDataMixture]] (mixture weights and data
  * selection) and [[TrainingDataQuality]] (text-quality filters and
  * audits). Each family object holds its queries, its `ensure*`
  * persisted stores and its DuckDB oracle SQL; this object keeps the
  * helpers more than one family uses and [[prebuildCaches]].
  *
  * Shared numeric stages have one definition per engine. The vector
  * Column stages (literal-vector dot, squared L2, float residual, the
  * exact 2^24 mean's encode/decode pair) live in
  * [[graft.functions.VectorExpressions]]; the Lloyd mean of the IVF and
  * PQ quantizers is [[graft.ml.IvfIndex.recenter]]. This object holds
  * the held-out add-one bigram model ([[AddOneBigram]]), the per-label
  * centroids ([[labelCentroids]]) and the DuckDB mirrors of both and
  * of the 2^24 pair ([[enc24Sql]], [[dec24Sql]]).
  *
  * Scale design:
  * - exact dedup = hash-groupBy on a fingerprint (one shuffle of
  *   (fp, id), never the text bodies);
  * - near-dup = MinHash-LSH: shingle → k minhashes → bands → bucket
  *   join, so candidate generation is linear-ish, with exact Jaccard
  *   verification only inside buckets;
  * - ANN = brute-force cosine as correctness baseline, LSH-bucketed
  *   variant as the 100 TB path (both avoid materializing the full
  *   n² matrix: the query side is small/broadcast).
  */
object TrainingData {

  type Q = (SparkSession, String) => DataFrame

  /** The fixture tables are single parquet files → ONE scan partition,
    * which would run every downstream per-row stage (sketches, n²
    * similarity) single-threaded. Spread them across the cores first —
    * at production scale the scan already yields many splits and this
    * repartition disappears; here it is the difference between 1 and
    * 32 concurrent tasks in the compute-bound stages. */
  private[queries] def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Half-away-from-zero rounding of the exact rational s/n in PURE
    * BIGINT arithmetic: sign(s)·((2·|s| + n) div (2·n)), n > 0.
    * Replaces `round(CAST(s AS DOUBLE)/n, 0)` wherever s and n are
    * exact integers: such a ratio lands on exactly .5 whenever
    * s mod n = n/2 (≈ one doc in n_tok — 7 live boundary docs were
    * measured in x42 and 5 in x39 at sf0.01), and exact-.5
    * DOUBLE rounding is engine- and version-dependent (half-away vs
    * half-even). With integer `div` no double ever carries a .5; the
    * DuckDB twin is `sign·((2·abs(s) + n) // (2·n))` — both division
    * operands are positive, so truncation ≡ floor and the engines
    * agree bit-for-bit. The retained INNER quantizations
    * round(ln(·)·1e4) are out of hazard scope: a transcendental's
    * double hits an exact .5 with probability ~2⁻⁵² per value, vs the
    * systematic 1/n rate of small-denominator rationals.
    * PropertySpec pins ≡ BigDecimal HALF_UP incl. those
    * boundary docs. */
  private[graft] def intRoundHalfAway(s: Column, n: Column): Column =
    when(s < 0, lit(-1L)).otherwise(lit(1L)) *
      call_function("div", lit(2L) * abs(s) + n, lit(2L) * n)

  private[graft] val stopwords = Seq("the", "a", "of", "and")

  /** Documents plus synthesized duplicates (exact copies, id+1M) and
    * near-duplicates (one token appended, id+2M) — the corpus the
    * dedup operators act on, since the generated table has no dupes. */
  private[queries] def corpusWithDupes(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val exact = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val near = docs.select((col("doc_id") + 2000000L).as("doc_id"),
      concat(col("text"), lit(" extra")).as("text"))
    docs.unionByName(exact).unionByName(near)
  }

  private[queries] def corpusSql: String =
    """(SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 1000000, text FROM documents
       UNION ALL SELECT doc_id + 2000000, text || ' extra' FROM documents)"""

  /** The [[corpusSql]] sliver of the first 200 base docs and their
    * copies, as a (doc_id, text) query body: the population of the
    * pair-reference and CC-cluster oracles, whose recursive closure
    * cost explodes past a few hundred docs. */
  private[queries] def sliverCorpusSql: String =
    s"SELECT doc_id, text FROM $corpusSql WHERE doc_id % 1000000 < 200"

  /** Every persisted store a first caller would otherwise build inside
    * a timed query. [[graft.Bench]] calls this from its UNTIMED warmup
    * so no timed pass conflates build cost with query cost (an
    * earlier bench stamped x60 at 10.98 s vs a 0.90 s isolated
    * timing). A store already built costs one stat call. */
  def prebuildCaches(s: SparkSession, d: String): Unit = {
    import TrainingDataAnn._, TrainingDataClassifier._, TrainingDataDedup._
    Seq[(SparkSession, String) => String](
      ensureIvfIndex, ensureSigStore, TrainingDataQuality.ensureCuratedStaged,
      ensureDHashStore, ensureDedupLabels, ensureIvfPqStore,
      ensureIvfBaseStore, ensureIvfPqBase,
      ensurePlantedFixtures,
      ensureOpqPqStore, ensureClfModel,
      ensureWinnowStore).foreach(_(s, d))
  }

  /** Stage the synthetic failure-mode fixtures that rounds ≤8 planted
    * INLINE in three carriers:
    * the testdata is read-only, so the "fixture generator"
    * is this derived-parquet staging — x93's corpus with a repeated
    * leading segment every third doc, x97's training corpus with
    * re-cased eval copies, and x104's paired-vector id table with a
    * hash-spread coverage hole. The carriers now read these staged
    * tables and run purely operational code; each ORACLE still
    * recomputes its plant from the base tables, so the staging is
    * re-proven bit-identical on every correctness run. Prebuilt
    * untimed ([[prebuildCaches]]); keyed by the fixture
    * fingerprints. */
  private[graft] def ensurePlantedFixtures(s: SparkSession, d: String): String =
    Store.materialize("planted", "v1", d, "documents", "embeddings") { path =>
      val docs = Tables.documents(s, d)
      val base = wsTokens(col("text"))
      docs.select(col("doc_id"),
          when(col("doc_id") % 3 === 0 && size(base) >= 8,
            concat(array_join(slice(base, 1, 8), " "), lit(" "), col("text")))
            .otherwise(col("text")).as("text"))
        .write.mode("overwrite").parquet(s"$path/docs_intradup")
      docs.filter(col("doc_id") >= 50).select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            concat(upper(col("text")), lit(" , .")).as("text")))
        .write.mode("overwrite").parquet(s"$path/docs_canon_train")
      Tables.embeddings(s, d)
        .filter(pmod(graft.dedup.NearDup.md5Hash32(
          col("vec_id").cast("string")), lit(10L)) =!= 7)
        .select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$path/vecs_holed")
      // x128's paired-feature table: every dedup-corpus doc (base +
      // exact copy + near copy, for base ids that HAVE an embedding)
      // with the md5 checksum of its paired vector's 1e6-rounded
      // components. The pairing pipeline SHOULD assign a re-crawled
      // exact copy the same vector as its original; a deterministic
      // hash-selected slice of the copies (md5₃₂(doc_id) % 13 = 5)
      // instead carries a divergent checksum (the rounded list with a
      // marker appended — different by construction) — the planted
      // inconsistency x128 must surface exactly.
      val vfp = md5(array_join(transform(col("embedding"),
        x => round(x.cast("double") * 1e6, 0).cast("long").cast("string")),
        ","))
      val baseV = Tables.embeddings(s, d)
        .filter(col("vec_id") < 200).select(col("vec_id"), vfp.as("s0"))
      baseV.select(col("vec_id").as("doc_id"), col("s0").as("vfp"))
        .unionByName(baseV.select((col("vec_id") + 1000000L).as("doc_id"),
          when(pmod(graft.dedup.NearDup.md5Hash32(
              (col("vec_id") + 1000000L).cast("string")), lit(13L)) === 5,
            md5(concat(col("s0"), lit("x"))))
            .otherwise(col("s0")).as("vfp")))
        .unionByName(baseV.select((col("vec_id") + 2000000L).as("doc_id"),
          col("s0").as("vfp")))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/vecs_paired")
      // x132's paginated corpus: every 5th long doc is split the way
      // a crawled article splits across pages — part 1 = tokens 1-16,
      // part 2 = tokens 9-n (pages share the 8-token overlap a
      // pagination template repeats) — everything else passes through
      // unchanged. The stitch detector must recover exactly the
      // (part1, part2) continuations.
      val longSplit = col("doc_id") % 5 === 2 && size(base) >= 24
      docs.filter(!longSplit).select(col("doc_id"), col("text"))
        .unionByName(docs.filter(longSplit).select(col("doc_id"),
          array_join(slice(base, 1, 16), " ").as("text")))
        .unionByName(docs.filter(longSplit).select(
          (col("doc_id") + 4000000L).as("doc_id"),
          array_join(slice(base, lit(9), size(base) - 8), " ").as("text")))
        .write.mode("overwrite").parquet(s"$path/docs_paginated")
    }

  /** x66/x87/x112's segments: each doc behind its source's portal
    * boilerplate, cut into consecutive 8-token segments
    * (doc_id, g, segtxt, fp = md5(segtxt)). */
  private[queries] def boilerSegments(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        wsTokens(concat(lit("portal "), col("source"),
          lit(" official mirror terms of service apply"
            + " all rights reserved contact webmaster "),
          col("text"))).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          call_function("div", size(col("toks")).cast("long") + 7L, lit(8L))
            - 1)).as("g"))
      .select(col("doc_id"), col("g"),
        array_join(slice(col("toks"), (col("g") * 8 + 1).cast("int"),
          lit(8)), " ").as("segtxt"))
      .withColumn("fp", md5(col("segtxt")))

  /** [[boilerSegments]]'s tokens in DuckDB: `t(doc_id, toks)`, each
    * doc behind its source's portal boilerplate. */
  private[queries] def boilerToksCte: String = """t AS (SELECT doc_id,
          regexp_split_to_array(trim('portal ' || source
            || ' official mirror terms of service apply'
            || ' all rights reserved contact webmaster ' || text),
            '\s+') AS toks
        FROM documents)"""

  /** [[boilerToksCte]] and `b(doc_id, toks, g)`, one row per 8-token
    * segment index g. */
  private[queries] def boilerBlocksCtes: String = s"""$boilerToksCte,
      b AS (SELECT doc_id, toks,
          unnest(range(0, (len(toks) + 7) // 8)) AS g FROM t)"""

  /** [[boilerSegments]] in DuckDB: [[boilerBlocksCtes]], the segment
    * text `seg(doc_id, g, segtxt)` and `sf`, the same with
    * `fp = md5(segtxt)`. */
  private[queries] def boilerSegmentCtes: String = s"""$boilerBlocksCtes,
      seg AS (SELECT doc_id, g,
          array_to_string(list_slice(toks, g * 8 + 1, g * 8 + 8), ' ')
            AS segtxt
        FROM b),
      sf AS (SELECT doc_id, g, segtxt, md5(segtxt) AS fp FROM seg)"""

  /** The cleaned-text digest and token count of a `clean` column. */
  private[queries] def cleanStatsSql: String = """md5(clean) AS clean_md5,
        CASE WHEN length(clean) = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(len(regexp_split_to_array(clean, '\s+')) AS BIGINT) END
          AS clean_n_tok"""

  /** [[graft.text.TextFunctions.wsTokens]] of `text` in DuckDB. */
  private[queries] def wsToksSql(text: String): String =
    s"regexp_split_to_array(trim($text), '\\s+')"

  /** [[graft.text.TextFunctions.punctRatio]] of a row's `text` in DuckDB. */
  private[queries] def punctRatioSql: String =
    """CAST(length(text) - length(regexp_replace(text,
            '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / GREATEST(length(text), 1)"""

  /** The [[stopwords]] as DuckDB string literals, comma-separated. */
  private[queries] def stopwordsSql: String =
    stopwords.map(w => s"'$w'").mkString(", ")

  /** [[graft.text.TextFunctions.stopwordRatio]] of a row's `text` over
    * the [[stopwords]] in DuckDB. */
  private[queries] def stopRatioSql: String = {
    val toks = wsToksSql("text")
    s"""CAST(len(list_filter($toks,
            t -> t IN ($stopwordsSql))) AS DOUBLE)
            / GREATEST(len($toks), 1)"""
  }

  /** [[graft.text.TextFunctions.qualitySignals]] of a row's `text` in
    * DuckDB: length band, low punctuation and stopword presence. */
  private[queries] def qualitySignalsSql: Seq[String] = Seq(
    s"LEAST(len(${wsToksSql("text")}) / 50.0, 1.0)",
    s"(1.0 - LEAST($punctRatioSql * 5.0, 1.0))",
    s"LEAST($stopRatioSql * 10.0, 1.0)")

  /** [[graft.text.TextFunctions.qualityScore]]'s rounded mix of the
    * three signal expressions `sig` ([[qualitySignalsSql]]). */
  private[queries] def qualityMixSql(sig: Seq[String]): String =
    s"ROUND(${sig(0)} * 0.4 + ${sig(1)} * 0.3 + ${sig(2)} * 0.3, 4)"

  /** [[graft.text.TextFunctions.qualityScore]] of a row's `text` in DuckDB. */
  private[queries] def qualitySql: String = qualityMixSql(qualitySignalsSql)

  /** [[graft.text.TextFunctions.qualityQ4]] of a row's `text` in DuckDB. */
  private[queries] def qualityQ4Sql: String =
    s"CAST(ROUND($qualitySql * 1e4, 0) AS BIGINT)"

  /** The global nearest-rank cut over `df`'s column `v`: the least
    * value whose running count `cum` over the (v, cnt) histogram
    * meets `cond(cum, n)`, n the row count, as the one-row `name`.
    * The histogram has one row per distinct value, never per doc (the
    * x32/x130 method); [[cutCtes]] is the DuckDB mirror. */
  private[queries] def nearestRankCut(df: DataFrame, v: String, name: String)(
      cond: (Column, Column) => Column): DataFrame = {
    val hist = df.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("n"))
    hist
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col(v))))
      .crossJoin(broadcast(tot))
      .filter(cond(col("cum"), col("n")))
      .agg(min(col(v)).as(name))
  }

  /** [[nearestRankCut]] over `sc`'s column `v` in DuckDB: its histogram
    * `h`, total `tt`, cumulative counts `c` and `cut(<name>)`, the least
    * value whose cumulative count satisfies `cond`. */
  private[queries] def cutCtes(v: String, name: String, cond: String): String =
    s"""h AS (SELECT $v, CAST(COUNT(*) AS BIGINT) AS cnt FROM sc GROUP BY $v),
      tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
      c AS (SELECT $v, CAST(SUM(cnt) OVER (ORDER BY $v) AS BIGINT) AS cum
        FROM h),
      cut AS (SELECT MIN($v) AS $name FROM c, tt WHERE $cond)"""

  /** Deterministic hash sub-shard in [0, n): the first 16 bits of
    * md5(doc_id), reproducible bit-for-bit in DuckDB as
    * `('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % n`.
    * This is the skew splitter for the packing/mixture windows: a
    * skewed source (one web crawl = most of the corpus) spreads over
    * `n` independent window partitions instead of one task's sort. */
  private[queries] def subShard(n: Int): Column =
    splitBalde(col("doc_id"), n).cast("int")

  /** x36's hash bucket (16-bit md5 prefix mod `n`, 100 by default) —
    * the split arithmetic shared by every held-out consumer. */
  private[queries] def splitBalde(id: Column, n: Long = 100L): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 4), 16, 10)
      .cast("long"), lit(n))

  /** x39's per-doc mean unigram NLL kept in INTEGER 1e-4 units
    * (shared with x149's reducible-loss difference, which must
    * subtract the two model scores before any double conversion). */
  private[graft] def uniDocNllQ(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
    val cnt = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
    // corpus token total = Σ vocabulary counts — derived from `cnt`
    // instead of a THIRD tokenize+explode pass over the corpus (each
    // DataFrame reference re-executes its plan; same value exactly)
    val tot = cnt.agg(sum(col("c")).as("n"))
    tok.join(cnt, Seq("token"))
      .crossJoin(broadcast(tot))
      .withColumn("lp_q",
        round(-log(col("c").cast("double") / col("n")) * 1e4, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_q")).as("s_lp"))
      .select(col("doc_id"), col("n_tok"),
        intRoundHalfAway(col("s_lp"), col("n_tok")).as("u_q"))
  }

  /** The held-out add-one (Laplace) bigram reference model of x149,
    * x166 and x171, trained on the token arrays `toks` of a train
    * split `tr`: `uni(w1, c1)` unigram counts, `scal(nn, v)` the token
    * total and V + 1, and `cnt2(g, c2)` bigram counts.
    * p(w₂|w₁) = (c₂+1)/(c₁+V+1) is defined for unseen grams; [[lp]] is
    * its −ln in integer 1e-4 nats. [[addOneUniCte]], [[addOneCnt2Cte]]
    * and [[addOneLpSql]] are the DuckDB mirror. */
  private[queries] final class AddOneBigram(tr: DataFrame) {
    val uni: DataFrame = tr.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val scal: DataFrame = uni.agg(sum(col("c1")).as("nn"),
      (count(lit(1)) + 1L).as("v"))
    val cnt2: DataFrame = tr
      .select(explode(allShinglesOfToks(col("toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))

    /** −ln p(w₂|w₁) in 1e-4 units over the joined `c2`, `c1` and `v`. */
    def lp: Column = round(-log(
        (coalesce(col("c2"), lit(0L)).cast("double") + 1.0) /
        (coalesce(col("c1"), lit(0L)).cast("double")
          + col("v").cast("double"))) * 1e4, 0).cast("long")

    /** `bi`, rows of a held-out bigram `g` and its first token `w1`,
      * with the train counts, the scalars and `lp`. */
    def score(bi: DataFrame): DataFrame =
      bi.join(cnt2, Seq("g"), "left").join(uni, Seq("w1"), "left")
        .crossJoin(broadcast(scal))
        .withColumn("lp", lp)
  }

  /** [[AddOneBigram.uni]] over the token-array CTE `tr(toks)`. */
  private[queries] def addOneUniCte: String =
    """uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(toks) AS w1 FROM tr) GROUP BY w1)"""

  /** [[AddOneBigram.cnt2]] over the token-array CTE `tr(toks)`. */
  private[queries] def addOneCnt2Cte: String =
    """cnt2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
          SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 0)
            + 1), i -> toks[i] || ' ' || toks[i+1])) AS g FROM tr)
        GROUP BY g)"""

  /** [[AddOneBigram.lp]] over the joined `c2`, `c1` and `v`. */
  private[queries] def addOneLpSql: String =
    """CAST(ROUND(-LN(
            (CAST(COALESCE(c2, 0) AS DOUBLE) + 1.0)
            / (CAST(COALESCE(c1, 0) AS DOUBLE) + CAST(v AS DOUBLE)))
            * 1e4, 0) AS BIGINT)"""

  /** x28/x143's per-label centroids over `emb`'s `embedding`:
    * (label, pos, comp, n), comp the element-wise exact mean from
    * integer 2^24-scaled sums (`enc24`/`dec24`, order-free). */
  private[queries] def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(enc24(col("v"))).as("sv"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), dec24(col("sv"), col("n")).as("comp"),
        col("n"))

  /** [[graft.functions.VectorExpressions.enc24]] of `x` in DuckDB. */
  private[queries] def enc24Sql(x: String): String =
    s"FLOOR(CAST($x AS DOUBLE) * 16777216)"

  /** [[graft.functions.VectorExpressions.dec24]] of the sum `sv` of
    * `n` values in DuckDB. */
  private[queries] def dec24Sql(sv: String, n: String): String =
    s"CAST($sv AS DOUBLE) / (CAST($n AS DOUBLE) * 16777216)"

  /** Spark's `round(x, 0).cast("long")` on a double, replicated for
    * the trainer's task-side fold: Round on DoubleType evaluates
    * BigDecimal(d).setScale(0, HALF_UP).toDouble (NaN/Inf pass
    * through), and the long cast truncates — the same integers the
    * SQL chain produced, asserted against it in EngineSpec and by the
    * DuckDB oracle on every trained-weight consumer. */
  private[graft] def rndQ(v: Double): Long =
    if (v.isNaN || v.isInfinite) v.toLong
    else if (math.abs(v) >= 4.503599627370496e15) v.toLong // ≥2^52: integral
    else {
      // branch-free HALF_UP without the BigDecimal allocation (this
      // sits inside every trainer/consumer fold's
      // per-element hot path). Exactness argument, pinned by the
      // EngineSpec property test against the BigDecimal reference:
      // for |v| < 2^52, floor(|v|) is exact and |v| − floor(|v|) is
      // exact by Sterbenz (f ≤ |v| ≤ f+1 < 2f for f ≥ 1; trivial at
      // f = 0), so comparing the true fractional part against 0.5 —
      // which is what BigDecimal(v).setScale(0, HALF_UP) does on the
      // exact binary value of v — is this same comparison; ties round
      // away from zero via the sign re-application, f + 1.0 stays
      // exact below 2^52, and the final toLong truncation matches
      // BigDecimal.toDouble.toLong.
      val a = math.abs(v)
      val f = math.floor(a)
      val r = if (a - f >= 0.5) f + 1.0 else f
      (if (v < 0) -r else r).toLong
    }

  /** One step of a task-side trainer (the GD classifier, the EM
    * interpolation): a single RDD aggregate whose tasks add `k`
    * order-free BIGINT sums per row through `add`, plus the row count
    * in one more slot, and return them to the driver with no exchange.
    * Returns (sums, rows), so a trainer's first step also gives it the
    * row count it divides by, with no separate `count()`. */
  private[graft] def foldStep[T](rows: org.apache.spark.rdd.RDD[T], k: Int)(
      add: (Array[Long], T) => Unit): (Array[Long], Long) = {
    val acc = rows.aggregate(new Array[Long](k + 1))((a, r) => {
      add(a, r); a(k) += 1L; a
    }, (a, b) => {
      var i = 0
      while (i <= k) { a(i) += b(i); i += 1 }
      a
    })
    (java.util.Arrays.copyOf(acc, k), acc(k))
  }

  /** The oracles' connected components over an undirected edge CTE
    * `p(id_a, id_b)`: `edges2`, both orientations, and the recursive
    * transitive closure `reach(a, b)` (the query needs WITH RECURSIVE;
    * no trailing comma). */
  private[queries] def reachCtes: String = """edges2 AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach(a, b) AS (
        SELECT a, b FROM edges2
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges2 e ON r.b = e.a)"""

  /** The canonical label of `id` over [[reachCtes]]: the least id in
    * its component, reading `m.mn` from [[reachMinJoinSql]]. */
  private[queries] def reachMinSql(id: String): String =
    s"LEAST($id, COALESCE(m.mn, $id))"

  /** Joins `m(a, mn)`, each node's least reachable id, on `id`. */
  private[queries] def reachMinJoinSql(id: String): String =
    s"""LEFT JOIN (SELECT a, MIN(b) AS mn FROM reach GROUP BY a) m
        ON $id = m.a"""

  /** The oracles' power-iteration eigensolver ([[graft.ml.Opq]]'s
    * eigensolve) for eigenpair `c` of the matrix CTE `src(m)`: `it<c>`
    * runs 50 max-abs-normalized iterations from the all-ones vector
    * (cast: a bare 1.0 is DECIMAL in DuckDB and would run the whole
    * iteration in decimal arithmetic) and `uvec<c>` is the unit
    * eigenvector. The query needs WITH RECURSIVE; no leading or
    * trailing comma. */
  private[queries] def powerIterCtes(c: String, src: String): String = s"""it$c(k, v) AS (
        SELECT 0, list_transform(m[1], x -> CAST(1.0 AS DOUBLE)) FROM $src
        UNION ALL
        SELECT k + 1, list_transform(w, x ->
            x / list_max(list_transform(w, y -> abs(y))))
        FROM (SELECT k, list_transform(range(1, len(m) + 1), i ->
            list_sum(list_transform(list_zip(m[i], v), p -> p[1] * p[2]))) AS w
          FROM it$c, $src WHERE k < 50)),
      uvec$c AS (SELECT list_transform(v, x ->
          x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
        FROM it$c WHERE k = 50)"""

  /** `lamt<c>(lam)`: the Rayleigh eigenvalue of [[powerIterCtes]]'s
    * `uvec<c>` in the matrix CTE `src(m)`. */
  private[queries] def rayleighCte(c: String, src: String): String = s"""lamt$c AS (SELECT
          list_sum(list_transform(list_zip(u, w), p -> p[1] * p[2])) AS lam
        FROM (SELECT u, list_transform(range(1, len(m) + 1), i ->
            list_sum(list_transform(list_zip(m[i], u), p -> p[1] * p[2]))) AS w
          FROM uvec$c, $src))"""

  /** `out(m)`: `src` with eigenpair `c` deflated away. */
  private[queries] def deflateCte(out: String, src: String, c: String): String = s"""$out AS (
        SELECT list_transform(range(1, len(m) + 1), i ->
            list_transform(range(1, len(m) + 1), j ->
              m[i][j] - lam * u[i] * u[j])) AS m
        FROM $src, uvec$c, lamt$c)"""

  /** The top `n` eigenpairs of `mat0(m)` by power iteration and
    * deflation (mat0 → mat1 → … → mat<n-1>), each block led by a
    * comma, then `lams(c, lam)` unioning the eigenvalues. */
  private[queries] def eigenCtes(n: Int): String =
    (0 until n).map { c =>
      s""",
      ${powerIterCtes(s"$c", s"mat$c")},
      ${rayleighCte(s"$c", s"mat$c")}""" + (if (c < n - 1) s""",
      ${deflateCte(s"mat${c + 1}", s"mat$c", s"$c")}""" else "")
    }.mkString +
      (0 until n).map(c =>
        s"SELECT $c AS c, (SELECT lam FROM lamt$c) AS lam FROM uvec$c")
        .mkString(""",
      lams AS (""", " UNION ALL ", ")")

  /** The rows of `docs` with a non-empty lower-cased token, plus
    * `cnt`, their 64 md5-bucket counts: x108's and x111's shared bucket
    * contract. Tested on the text (non-empty token ⇔ a non-`\s` char)
    * BEFORE the kernel: a filter on `cnt` would be pushed below the
    * projection as a second kernel call. */
  private[queries] def hashedBowRows(docs: DataFrame): DataFrame =
    docs.filter(col("text").rlike("\\S"))
      .withColumn("cnt", graft.functions.TextHashExpressions.hashedBow(
        wsTokens(lower(col("text")))))

  /** DuckDB mirror of md5Hash32: positional hex parse of the md5
    * prefix — 8 chars → 32-bit value in BIGINT arithmetic. */
  private[queries] def md5Hash32Sql(expr: String): String =
    (0 until 8).map { i =>
      s"(strpos('0123456789abcdef', substring(md5($expr), ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")

  private[queries] def sqlShingles3: String =
    """list_distinct(list_transform(
         range(1, greatest(len(toks) - 2, 0) + 1),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"""
}
