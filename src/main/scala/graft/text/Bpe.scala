package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer induction (Gage 1994; Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the vocabulary-LEARNING counterpart of the fixed-vocab
  * measurements in x9/x44/x54: train K merges by iterated
  * most-frequent-adjacent-pair counting over a word-frequency table,
  * then segment any word by replaying the merges in order.
  *
  * Scale contract: classic BPE trainers never touch the corpus per
  * iteration — they iterate over the WORD-FREQUENCY table (one corpus
  * scan, map-side-combinable `(word, count)` aggregation), capped here
  * to the top-V words by `(freq DESC, word ASC)` so the training
  * relation is dimension-bounded (V rows) by construction and the
  * merge loop is driver-side integer arithmetic on it (the m1-knotScan
  * precedent: per-iteration Spark jobs over a V-row relation would be
  * pure scheduling overhead). Segmentation at corpus scale is a
  * DICTIONARY computation: replay merges once per distinct word (a
  * Scala function column running [[segmentWord]] — no shuffle), then
  * join the dictionary back to per-source word counts; text itself
  * never moves.
  *
  * Determinism contract: all counts are exact BIGINTs; the argmax
  * tie-break is (count DESC, left ASC, right ASC) under UTF-8 byte
  * order (Spark UTF8String ordering ≡ DuckDB binary collation; the
  * driver replica compares UTF-8 bytes explicitly); characters are
  * Unicode codepoints on every side (DuckDB `substring`, Scala
  * `codePointAt` through [[codepoints]]). Greedy left-to-right merge application has one
  * Scala definition, [[applyMerge]], shared by the trainers and the
  * segmenters; the oracle SQL expresses it closed-form via run parity,
  * and both agree on the overlapping-pair case (merge (a,a) on "aaa" →
  * ["aa","a"], never ["a","aa"]).
  */
object Bpe {

  /** One learned merge: at `step`, the adjacent pair (lhs, rhs) had
    * the highest frequency-weighted count `pairFreq` and is rewritten
    * to the single symbol lhs+rhs from that step on. */
  final case class Merge(step: Int, lhs: String, rhs: String, pairFreq: Long)

  /** UTF-8 byte order — Spark UTF8String / DuckDB binary collation. */
  private[graft] def byteLt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Codepoint split (≡ SQL `substring(w, i, 1)` for i = 1..length). */
  private[graft] def codepoints(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Greedy left-to-right single-merge application: the one definition
    * the trainers and the dictionary segmenters replay (the oracle's
    * run-parity SQL is its independent counterpart). */
  private[graft] def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Replay a full merge sequence over one word. */
  private[graft] def segmentWord(w: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(codepoints(w)) { case (s, (a, b)) => applyMerge(s, a, b) }

  /** Train up to `k` merges on a word-frequency vocabulary. Pure
    * integer arithmetic over the (dimension-bounded) vocab; stops
    * early when no adjacent pair remains (every word fully merged).
    * Pair counts are naive adjacent-slot counts (one per position,
    * overlapping occurrences each counted — the Sennrich reference
    * counter), weighted by word frequency. */
  def trainOnVocab(vocab0: Seq[(String, Long)], k: Int): Seq[Merge] = {
    var vocab = vocab0.map { case (w, f) => (codepoints(w), f) }
    val merges = Seq.newBuilder[Merge]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          pc.update(key, pc.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val best = pc.foldLeft(Option.empty[((String, String), Long)]) {
          case (None, kv) => Some(kv)
          case (Some(cur), kv) =>
            val better = kv._2 > cur._2 ||
              (kv._2 == cur._2 && (byteLt(kv._1._1, cur._1._1) ||
                (kv._1._1 == cur._1._1 && byteLt(kv._1._2, cur._1._2))))
            Some(if (better) kv else cur)
        }.get
        val (a, b) = best._1
        merges += Merge(step, a, b, best._2)
        vocab = vocab.map { case (syms, f) => (applyMerge(syms, a, b), f) }
        step += 1
      }
    }
    merges.result()
  }

  /** One learned WordPiece merge: at `step`, the adjacent pair
    * (lhs, rhs) maximized the likelihood-ratio score
    * count(lhs·rhs) / (count(lhs)·count(rhs)) (Schuster & Nakajima
    * 2012; the BERT trainer's selection rule). `scoreQ` is the exact
    * integer floor-quotient count·10¹² / (ca·cb) both engines rank
    * by. */
  final case class WpMerge(step: Int, lhs: String, rhs: String,
      pairFreq: Long, lhsFreq: Long, rhsFreq: Long, scoreQ: Long)

  /** Fixed-point scale for the WordPiece likelihood score: the score
    * cnt/(ca·cb) is ≤ 1, so the quotient fits a BIGINT and its double
    * image is exact (< 2⁵³). */
  val wpScale: Long = 1000000000000L

  /** Train up to `k` WordPiece merges on a word-frequency vocabulary.
    * Same greedy left-to-right application and exhaustion contract as
    * [[trainOnVocab]]; the SELECTION rule differs: argmax of the
    * exact integer quotient cnt·wpScale / (ca·cb) (floor division —
    * deterministic on both engines), ties broken by
    * (cnt DESC, lhs ASC, rhs ASC) under UTF-8 byte order. Unit counts
    * ca/cb are frequency-weighted symbol occurrences in the CURRENT
    * segmentation state, recomputed per iteration — the quantity the
    * published score divides by. */
  def trainWordPieceOnVocab(vocab0: Seq[(String, Long)], k: Int): Seq[WpMerge] = {
    var vocab = vocab0.map { case (w, f) => (codepoints(w), f) }
    val merges = Seq.newBuilder[WpMerge]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val uc = scala.collection.mutable.HashMap.empty[String, Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length) {
          uc.update(syms(i), uc.getOrElse(syms(i), 0L) + f)
          if (i < syms.length - 1) {
            val key = (syms(i), syms(i + 1))
            pc.update(key, pc.getOrElse(key, 0L) + f)
          }
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        def quot(cnt: Long, ca: Long, cb: Long): Long =
          (BigInt(cnt) * wpScale / (BigInt(ca) * BigInt(cb))).toLong
        val best = pc.iterator.map { case ((a, b), cnt) =>
          (a, b, cnt, uc(a), uc(b), quot(cnt, uc(a), uc(b)))
        }.foldLeft(Option.empty[(String, String, Long, Long, Long, Long)]) {
          case (None, kv) => Some(kv)
          case (Some(cur), kv) =>
            val better = kv._6 > cur._6 ||
              (kv._6 == cur._6 && (kv._3 > cur._3 ||
                (kv._3 == cur._3 && (byteLt(kv._1, cur._1) ||
                  (kv._1 == cur._1 && byteLt(kv._2, cur._2))))))
            Some(if (better) kv else cur)
        }.get
        merges += WpMerge(step, best._1, best._2, best._3, best._4,
          best._5, best._6)
        vocab = vocab.map { case (syms, f) =>
          (applyMerge(syms, best._1, best._2), f) }
        step += 1
      }
    }
    merges.result()
  }

  /** Segment the distinct-word dictionary `df` (column `w`, non-empty
    * words): one (w, syms) row per word, `syms` its subword sequence
    * under `merges` replayed in order ([[segmentWord]]). At 100 TB this
    * runs once per DISTINCT word (dictionary-sized, not corpus-sized)
    * and the result joins back to word counts. The replay is a column
    * of the projection, so a consumer that never reads `syms` prunes it
    * (a typed `map` would be opaque to that). */
  def segmentDict(df: DataFrame, merges: Seq[(String, String)]): DataFrame =
    df.select(col("w"),
      udf((w: String) => segmentWord(w, merges)).apply(col("w")).as("syms"))

  /** [[segmentDict]] with per-word subword counts SNAPSHOTTED at the
    * given merge depths (`stages`): ONE replay of the full merge
    * sequence per word yields the whole vocabulary-size scaling curve,
    * since merge sequences are prefix-nested. A stage deeper than the
    * learned sequence (early exhaustion) snapshots the final state:
    * merges past exhaustion are identity, exactly the trainer's
    * exhaustion-safe contract. Output: `w` + one `ns_<k>` count per
    * stage. */
  def segmentDictStaged(df: DataFrame, merges: Seq[(String, String)],
      stages: Seq[Int]): DataFrame = {
    val counts = udf { (w: String) =>
      // sizes(i): the symbol count after the first i merges
      val sizes = merges.scanLeft(codepoints(w)) { case (s, (a, b)) =>
        applyMerge(s, a, b) }.map(_.size.toLong)
      stages.map(k => sizes(math.min(k, merges.size)))
    }
    df.select(col("w"), counts(col("w")).as("ns"))
      .select(col("w") +: stages.zipWithIndex.map { case (k, i) =>
        col("ns")(i).as(s"ns_$k") }: _*)
  }
}
