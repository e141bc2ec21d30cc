package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.multimodal.Multimodal

/** Multimodal plumbing: stubbed decode/resize/frame-sample over the
  * binary payload column (schema, batch shape, row accounting). */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private lazy val withPayload =
    Multimodal.withBinaryPayload(Tables.documents(spark, sf))

  test("resize emits one thumb per asset with quarter dims in codec range") {
    val docs = withPayload.count()
    val thumbs = Multimodal.resize(spark, withPayload).collect()
    assert(thumbs.length == docs)
    thumbs.foreach { t =>
      assert(t.width >= 160 && t.width <= 640, t)
      assert(t.height >= 120 && t.height <= 480, t)
      assert(t.thumb_w == math.max(1, t.width / 4), t)
      assert(t.thumb_h == math.max(1, t.height / 4), t)
      assert(t.thumb_len <= 256 && t.thumb_checksum.length == 32, t)
    }
  }

  test("frame sampler emits every stride-th full frame") {
    // per doc: floor(len/32) frames, strided by 2 → ceil(n/2) sampled
    val perDoc = withPayload
      .select(col("doc_id"), (octet_length(col("payload")) / 32).cast("int").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1) + 1) / 2).toMap
    val frames = Multimodal.frameSample(spark, withPayload).collect()
    val byDoc = frames.groupBy(_.doc_id).view.mapValues(_.length).toMap
    perDoc.filter(_._2 > 0).foreach { case (id, n) =>
      assert(byDoc.getOrElse(id, 0) == n, s"doc $id")
    }
    assert(frames.forall(f => f.frame_no % 2 == 0 && f.frame_checksum.length == 32))
    // deterministic: same input → same checksums
    val again = Multimodal.frameSample(spark, withPayload).collect()
    assert(frames.map(f => (f.doc_id, f.frame_no, f.frame_checksum)).toSet ==
      again.map(f => (f.doc_id, f.frame_no, f.frame_checksum)).toSet)
  }

  test("x17/x18 slice checksums are byte-based: non-ASCII payloads agree") {
    // the slice-checksum contract is md5 over the lowercase-hex
    // rendering of the BYTE slice (see Multimodal.md5OfHex) — replay
    // it independently here on text whose frame boundaries cut
    // through multi-byte UTF-8 chars, so the old char-vs-byte slicing
    // ambiguity the ASCII fixture used to mask cannot return
    import spark.implicits._
    val text = "héllo wörld ça va — ação e coração, 日本語テキスト " * 4
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val wp = Multimodal.withBinaryPayload(docs)
    val bytes = text.getBytes("UTF-8")
    def expect(slice: Array[Byte]): String = {
      val hexed = slice.map("%02x".format(_)).mkString.getBytes("US-ASCII")
      java.security.MessageDigest.getInstance("MD5")
        .digest(hexed).map("%02x".format(_)).mkString
    }
    val frames = Multimodal.frameSample(spark, wp).collect()
    assert(frames.length == (bytes.length / 32 + 1) / 2)
    frames.foreach { f =>
      val slice = bytes.slice(f.frame_no * 32, (f.frame_no + 1) * 32)
      assert(f.frame_checksum == expect(slice), s"frame ${f.frame_no}")
    }
    val thumb = Multimodal.resize(spark, wp).collect().head
    assert(thumb.thumb_checksum == expect(bytes.take(256)))
    assert(thumb.thumb_len == math.min(bytes.length, 256))
  }

  test("energyTrim: byte-sum gating and kept-frame checksum replay") {
    import spark.implicits._
    // craft a payload with known frame energies: frame of 'z' (122)
    // → 3904 (kept at threshold 3000), frame of ' ' (32) → 1024
    // (trimmed); a 16-byte tail is not a full frame and never counts
    val text = "z" * 32 + " " * 32 + "z" * 32 + "q" * 16
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = Multimodal.energyTrim(spark,
      Multimodal.withBinaryPayload(docs)).collect().head
    assert(out.n_frames == 3 && out.n_kept == 2)
    assert(out.energy_total == 122L * 32 + 32L * 32 + 122L * 32)
    val keptBytes = ("z" * 32 + "z" * 32).getBytes("UTF-8")
    val hexed = keptBytes.map("%02x".format(_)).mkString.getBytes("US-ASCII")
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(hexed).map("%02x".format(_)).mkString
    assert(out.kept_checksum == expect)
    // no full frame → no row (the x18 inner-semantics contract)
    val short = Multimodal.energyTrim(spark,
      Multimodal.withBinaryPayload(Seq((2L, "tiny")).toDF("doc_id", "text")))
    assert(short.collect().isEmpty)
  }

  test("dHash64: bit semantics replay, copies collide, edits avalanche") {
    import spark.implicits._
    val docs = Seq((1L, "some image payload"), (2L, "some image payload"),
      (3L, "some image payload!")).toDF("doc_id", "text")
    val got = Multimodal.dHash64(spark, Multimodal.withBinaryPayload(docs))
      .collect().map(h => h.doc_id -> h.dhash).toMap
    // independent replay of the bit contract: row i's pixels are the
    // first 9 bytes of md5(payload ++ ":i"); bit i*8+j = px>next
    def replay(text: String): Long = {
      val bytes = text.getBytes("UTF-8")
      var h = 0L
      for (i <- 0 until 8) {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(bytes); md.update(s":$i".getBytes("US-ASCII"))
        val row = md.digest()
        for (j <- 0 until 8)
          if ((row(j) & 0xff) > (row(j + 1) & 0xff)) h |= 1L << (i * 8 + j)
      }
      h
    }
    assert(got(1L) == replay("some image payload"))
    assert(got(1L) == got(2L), "identical payloads must collide exactly")
    // stub decode is avalanche: a 1-char edit scatters ~half the bits
    val ham = java.lang.Long.bitCount(got(1L) ^ got(3L))
    assert(ham > 3, s"edited payload should exceed the near-dup radius: $ham")
  }

  test("x85 banded dHash pairs equal the n² Hamming scan (lossless blocking)") {
    val sigs = Multimodal.dHash64(spark, Multimodal.withBinaryPayload(
      Tables.documents(spark, sf).select(col("doc_id"), col("text"))))
      .toDF().select(col("doc_id"), col("dhash").as("simhash"))
    val banded = graft.queries.TrainingDataDedup.simhashBandedPairs(
      sigs, bandBits = 16, nBands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id"), col("b.doc_id"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute,
      s"pigeonhole blocking must be lossless at hamming<=3")
  }
}
