package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.TextFunctions._

/** Degenerate-input hardening for the library facades a user calls on
  * their OWN corpora (where empty documents, whitespace-only text,
  * sub-shingle-length docs, and unicode are all routine): every call
  * must complete without throwing and return semantically sane rows —
  * the fixture-driven oracle gate can't see these shapes because the
  * generated tables never contain them. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, ""),                        // empty
    (2L, "   "),                     // whitespace only
    (3L, "uma"),                     // single token (< shingle n)
    (4L, "uma duas"),                // below 3-gram length
    (5L, "uma duas tres"),           // exactly one 3-shingle
    (6L, "café açaí 日本語 emoji 🚀 test"), // unicode + emoji
    (7L, "uma duas tres"),           // exact duplicate of 5
    (8L, ("tok " * 5000).trim))      // very long doc
    .toDF("doc_id", "text")

  test("text scalar functions stay total and bounded on degenerate docs") {
    val out = corpus.select(col("doc_id"),
      tokenCount(col("text")).as("n"),
      bpeishCount(col("text")).as("nb"),
      qualityScore(col("text"), Seq("the", "a")).as("q"),
      punctRatio(col("text")).as("p"),
      fingerprint(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getString(5)))
    assert(out.length == 8)
    out.foreach { case (id, n, nb, q, p, fp) =>
      assert(n >= 0 && nb >= 0, s"doc $id counts")
      assert(q >= 0.0 && q <= 1.0, s"doc $id quality in [0,1]: $q")
      assert(p >= 0.0 && p <= 1.0, s"doc $id punct ratio: $p")
      assert(fp.length == 32, s"doc $id fingerprint")
    }
    // identical text ⇒ identical fingerprint; distinct ⇒ distinct here
    val fps = out.map(t => t._1 -> t._6).toMap
    assert(fps(5L) == fps(7L) && fps(1L) != fps(5L))
  }

  test("shingle generators emit nothing (not nulls) below n tokens") {
    val sh = corpus.select(col("doc_id"),
      size(shinglesOfToks(wsTokens(col("text")), 3)).as("k")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sh(3L) == 0 && sh(4L) == 0, "sub-length docs have no 3-shingles")
    assert(sh(5L) == 1 && sh(7L) == 1)
    assert(sh(8L) == 1, "a repeated-token doc has ONE distinct shingle")
  }

  test("exact dedup and near-dup pair generation survive degenerate docs") {
    val exact = graft.dedup.NearDup.exactDedup(corpus).collect()
    // 5 and 7 collapse; every other text is distinct (incl. "" vs "   "
    // which normalize equal — trim — so they ALSO collapse)
    assert(exact.length == 6, s"got ${exact.length} fingerprint groups")
    val pairs = graft.dedup.NearDup.ngramJaccardPairs(corpus)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((5L, 7L)),
      "only the true duplicate pair may appear — no empty-doc pairs")
    val surv = graft.dedup.NearDup.survivors(corpus, pairs)
    assert(surv.count() == 7, "one of the duplicate twins is dropped")
  }

  test("near-dup admission and curation pass degenerate docs through") {
    val curated = graft.streaming.DocStream.curate(
      corpus, minQuality = 0.0, stopwords = Seq("the"))
    assert(curated.count() == 8, "threshold 0 keeps everything, no throw")
    val redacted = corpus.select(redactPii(col("text")).as("t")).count()
    assert(redacted == 8)
  }

  test("round-8 facades stay total on degenerate inputs") {
    // KN with an EMPTY training corpus: every count table is empty,
    // the scalar totals go null — scores degrade to null rows, no
    // throw (the CCNet shape with a misconfigured train filter)
    val emptyTrain = corpus.filter(col("doc_id") < 0)
    val kn = graft.queries.TrainingDataLm
      .knTrigramScores(corpus, emptyTrain).collect()
    assert(kn.forall(r => r.isNullAt(2) || r.getDouble(2) >= 0.0))
    // KN scoring an empty corpus: no steps, empty output
    assert(graft.queries.TrainingDataLm
      .knTrigramScores(emptyTrain, corpus).count() == 0)
    // dHash / energy trim on empty payloads and empty frames
    val wp = graft.multimodal.Multimodal.withBinaryPayload(corpus)
    val dh = graft.multimodal.Multimodal.dHash64(spark, wp).collect()
    assert(dh.length == 8, "every payload (even empty) hashes")
    val et = graft.multimodal.Multimodal.energyTrim(spark, wp).collect()
    assert(et.forall(t => t.n_kept <= t.n_frames && t.n_frames > 0),
      "sub-frame docs drop out; emitted rows are consistent")
    // banded dHash pairs on a tiny corpus: the two identical docs
    // ("uma duas tres" twins) collide at hamming 0; nothing throws
    val sigs = graft.multimodal.Multimodal.dHash64(spark, wp)
      .toDF().select(col("doc_id"), col("dhash").as("simhash"))
    val pairs = graft.queries.TrainingDataDedup
      .simhashBandedPairs(sigs, 16, 4, 3).collect()
    assert(pairs.exists(r =>
      r.getLong(0) == 5L && r.getLong(1) == 7L && r.getInt(2) == 0))
    // PQ training on an EMPTY embedding frame: empty codebook, empty
    // codes, no throw
    val emptyEmb = spark.range(0).selectExpr("id AS vec_id",
      "CAST(array() AS array<float>) AS embedding")
    val cents = graft.ml.PqIndex.trainCodebook(emptyEmb)
    assert(cents.count() == 0)
    assert(graft.ml.PqIndex.encode(emptyEmb, cents).count() == 0)
  }

  test("packing and chunking handle empty and sub-budget docs") {
    val rows = corpus.select(col("doc_id"), lit("s").as("source"),
      tokenCount(col("text")).cast("long").as("n_tok"))
    val packed = graft.queries.TrainingDataQuality
      .packSequences(rows, b = 16, subShards = 1).collect()
    // zero-token docs are excluded; token mass is conserved
    val totalTok = rows.agg(sum(col("n_tok"))).head().getLong(0)
    assert(packed.map(_.getLong(4)).sum == totalTok, "token conservation")
    assert(packed.forall(_.getLong(4) <= 16), "no sequence over budget")
  }
}
