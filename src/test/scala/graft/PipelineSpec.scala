package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.dedup.NearDup
import graft.queries.TrainingDataQuality
import graft.streaming.DocStream
import graft.text.TextFunctions

/** End-to-end composition of the training-data operator family: the
  * same library calls a production curation job would chain, run as
  * one integration flow with row/token accounting at every stage —
  * curate (quality + PII) → near-dup dedup (LSH candidates, exact
  * verify, CC survivors) → sequence packing. Each stage is
  * individually oracle-checked elsewhere; this spec pins that they
  * COMPOSE (schemas line up, invariants hold across stage
  * boundaries). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  private val stop = Seq("the", "a", "of", "and")

  test("curate -> dedup -> pack composes with exact row/token accounting") {
    // corpus with synthetic exact + near duplicates (the x1/x2 shape)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dupes = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val corpus = docs.unionByName(dupes)
      .withColumn("source", (col("doc_id") % 4).cast("string"))
    val total = corpus.count()

    // stage 1: curation — stateless quality filter + redaction
    val curated = DocStream.curate(
      corpus.select(col("doc_id"), col("text"), col("source")), 0.3, stop)
    val nCurated = curated.count()
    assert(nCurated > 0 && nCurated <= total)

    // stage 2: near-dup removal via the facade (candidates → verify →
    // connected components → survivors). Every synthetic dupe must go.
    val pairs = NearDup.minhashLshPairs(curated.select(col("doc_id"), col("text")))
    val clean = NearDup.survivors(curated.select(col("doc_id"), col("text")), pairs)
      .join(curated.select(col("doc_id"), col("source"), col("n_tok")), Seq("doc_id"))
    val nClean = clean.count()
    assert(nClean > 0 && nClean < nCurated, "dedup must remove the synthetic copies")
    // an exact copy shares its fingerprint with the original: at most
    // one representative per fingerprint survives
    val dupFps = clean
      .groupBy(TextFunctions.fingerprint(col("text"))).count()
      .filter(col("count") > 1).count()
    assert(dupFps == 0, "exact duplicates survived dedup")

    // stage 3: packing — kept tokens land in training sequences exactly
    val packed = TrainingDataQuality.packSequences(
      clean.select(col("doc_id"), col("source"), col("n_tok")), b = 128)
    val keptTokens = clean.agg(sum(col("n_tok"))).collect()(0).getLong(0)
    val packedTokens = packed.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(packedTokens == keptTokens,
      s"packing lost tokens: $packedTokens != $keptTokens")
    // accounting across the funnel is monotone
    assert(total >= nCurated && nCurated > nClean)
  }
}
