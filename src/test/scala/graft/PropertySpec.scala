package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.functions.BrFunctions._

/** Property tests (SURVEY §5.3): parse∘format identity and
  * rollup-total invariants over ScalaCheck-generated batches. Each
  * property evaluates its whole batch in ONE Spark job (not a job per
  * sample). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("property: parseBrlMoney(formatBrl(x)) == x for 2-decimal values") {
    val cents = Gen.choose(0L, 999999999L)
    val sample = Gen.listOfN(300, cents).sample.get.distinct
    val df = sample.toDF("cents")
      .withColumn("x", col("cents").cast("decimal(18,2)") / 100)
      .withColumn("back", parseBrlMoney(formatBrl(col("x"))))
    assert(df.filter(col("back") =!= col("x")).count() == 0)
  }

  test("property: month name/number roundtrip for all months") {
    val df = (1 to 12).toDF("m")
      .withColumn("name", monthNamePt(col("m")))
      .withColumn("back", monthNumberPt(col("name")))
    assert(df.filter(col("back") =!= col("m")).count() == 0)
  }

  test("property: rollup grand total equals sum of detail rows") {
    val rolled = graft.core.Tables.orders(spark, TestSpark.sf)
      .rollup(col("o_orderstatus"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("total"),
        grouping(col("o_orderstatus")).as("g"))
    val rows = rolled.collect()
    val grand = rows.filter(_.getAs[Byte]("g") == 1).map(_.getDecimal(1)).head
    val detail = rows.filter(_.getAs[Byte]("g") == 0).map(_.getDecimal(1))
      .reduce(_ add _)
    assert(grand.compareTo(detail) == 0)
  }

  test("property: TopKPerGroup equals window-rank on random data") {
    import org.apache.spark.sql.expressions.Window
    // random (group, value, id) rows WITH duplicate values — id is the
    // unique tiebreaker, so both formulations are total-ordered
    val rows = Gen.listOfN(500,
      Gen.zip(Gen.choose(0, 7), Gen.choose(0, 20))).sample.get
      .zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
    for (k <- Seq(1, 2, 5)) {
      val df = rows.toDF("g", "v", "id")
      val viaOp = graft.plans.TopK
        .perGroup(df, Seq("g"), Seq(("v", true), ("id", false)), k)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      val viaWin = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      assert(viaOp == viaWin, s"k=$k")
    }
  }

  test("property: TopKPerGroup matches window-rank null ordering (asc and desc)") {
    import org.apache.spark.sql.expressions.Window
    // ~1 in 4 order keys null: Spark's ORDER BY defaults are NULLS
    // FIRST ascending / NULLS LAST descending, and the heap comparator
    // must agree on both (round-2 advisor finding)
    val rows = Gen.listOfN(400,
      Gen.zip(Gen.choose(0, 5), Gen.option(Gen.choose(0, 10)))).sample.get
      .zipWithIndex.map { case ((g, v), i) =>
        (g, v.map(Integer.valueOf).orNull, i.toLong) }
    val df = rows.toDF("g", "v", "id")
    for (desc <- Seq(true, false); k <- Seq(1, 3)) {
      val viaOp = graft.plans.TopK
        .perGroup(df, Seq("g"), Seq(("v", desc), ("id", false)), k)
        .collect().map(r => (r.getInt(0), r.get(1), r.getLong(2))).toSet
      val ord = if (desc) col("v").desc else col("v").asc
      val w = Window.partitionBy(col("g")).orderBy(ord, col("id"))
      val viaWin = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .collect().map(r => (r.getInt(0), r.get(1), r.getLong(2))).toSet
      assert(viaOp == viaWin, s"desc=$desc k=$k")
    }
  }

  test("property: ConnectedComponents labels equal union-find on random graphs") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    for (seed <- 1 to 3) {
      val n = 40
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val nodes = (0 until n).map(_.toLong).toDF("id")
      val edf = edges.toDF("src", "dst")
      val got = graft.plans.ConnectedComponents.minLabel(nodes, edf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(n, edges), s"seed=$seed")
    }
  }

  test("property: pointer doubling converges in O(log n) rounds on a path") {
    // a 64-node path has diameter 63: plain single-hop min-label
    // propagation needs ~63 rounds; hooking+shortcutting must stay
    // logarithmic (the documented complexity claim, pinned here)
    val n = 64
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val path = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val (labels, rounds) =
      graft.plans.ConnectedComponents.minLabelWithRounds(nodes, path)
    assert(labels.collect().forall(_.getLong(1) == 0L))
    assert(rounds <= 16, s"expected O(log n) rounds, got $rounds")
  }

  test("property: 64-bit simhash banded blocking is lossless for hamming <= 3") {
    import graft.queries.TrainingDataDedup
    // production width: 64-bit signatures, 4 bands x 16 bits. Pigeonhole:
    // 3 differing bits cannot touch all 4 bands, so the banded plan must
    // return EXACTLY the n^2 scan's pairs.
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getInt(2))
    val banded = TrainingDataDedup.simhash64Dedup(spark, TestSpark.sf)
      .collect().map(key).toSet
    val brute = TrainingDataDedup
      .simhashBrutePairs(spark, TestSpark.sf, bits = 64, maxHamming = 3)
      .collect().map(key).toSet
    assert(banded == brute,
      s"banded ${banded.size} pairs != brute ${brute.size}")
    assert(brute.nonEmpty, "fixture dup corpus must produce near-dup pairs")
    // signatures use the full width: some doc's sign bit (bit 63) is
    // set, i.e. the signature is negative as a signed long — a mask
    // regression to 63 bits would fail here
    val negative = TrainingDataDedup.simhashSigs64(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("simhash") < 0).count()
    assert(negative > 0, "no signature has bit 63 set")
  }

  test("property: leadTimeHms roundtrip parses back to seconds") {
    val secs = Gen.choose(0L, 500000L)
    val sample = Gen.listOfN(200, secs).sample.get.distinct
    val df = sample.toDF("s")
      .withColumn("hms", leadTimeHms(col("s")))
      .withColumn("back",
        split(col("hms"), ":").getItem(0).cast("long") * 3600 +
        split(col("hms"), ":").getItem(1).cast("long") * 60 +
        split(col("hms"), ":").getItem(2).cast("long"))
    assert(df.filter(col("back") =!= col("s")).count() == 0)
  }

  test("property: redactPii scrubs ScalaCheck-generated emails and phones") {
    import graft.text.TextFunctions
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
    val email = for {
      u <- word; d <- word
      tld <- Gen.oneOf("com", "org", "net", "com.br")
    } yield s"$u@$d.$tld"
    val phone = for {
      dd <- Gen.choose(11, 99)
      p1 <- Gen.choose(1000, 99999)
      p2 <- Gen.choose(1000, 9999)
    } yield s"($dd) $p1-$p2"
    val doc = for {
      pre <- Gen.listOfN(5, word); mid <- Gen.listOfN(5, word)
      e <- email; p <- phone
      nE <- Gen.choose(0, 2); nP <- Gen.choose(0, 2)
    } yield (pre.mkString(" ") + (s" $e" * nE) + " " + mid.mkString(" ")
      + (s" $p" * nP), nE, nP)
    val sample = Gen.listOfN(200, doc).sample.get
    val df = sample.toDF("text", "n_e", "n_p")
      .withColumn("got_e", regexp_count(col("text"), lit(TextFunctions.emailPattern)))
      .withColumn("got_p", regexp_count(col("text"), lit(TextFunctions.phonePattern)))
      .withColumn("clean", TextFunctions.redactPii(col("text")))
      .withColumn("left_e", regexp_count(col("clean"), lit(TextFunctions.emailPattern)))
      .withColumn("left_p", regexp_count(col("clean"), lit(TextFunctions.phonePattern)))
    // counts match the injections; redaction is total
    assert(df.filter(col("got_e") =!= col("n_e") ||
      col("got_p") =!= col("n_p")).count() == 0)
    assert(df.filter(col("left_e") > 0 || col("left_p") > 0).count() == 0)
  }

  test("property: sequence packing conserves tokens on random corpora") {
    // random shards with random doc token lengths, including docs far
    // longer than the budget (span many sequences), 1-token docs, and
    // ZERO-token docs (must be dropped, never emit boundary rows)
    val rows = Gen.listOfN(300,
      Gen.zip(Gen.choose(0, 5), Gen.oneOf(Gen.choose(0L, 20L), Gen.choose(200L, 900L))))
      .sample.get.zipWithIndex
      .map { case ((src, n), i) => (i.toLong, s"s$src", n) }
    val df = rows.toDF("doc_id", "source", "n_tok")
    val b = 128
    val totals = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap

    // unsharded (subShards = 1): one sequence space per source
    val packed = graft.queries.TrainingDataQuality.packSequences(df, b).collect()
    for ((src, seqs) <- packed.groupBy(_.getString(0))) {
      // conservation: every token lands in exactly one sequence slot
      assert(seqs.map(_.getLong(4)).sum == totals(src), s"token loss in $src")
      // sequence ids are dense 0..floor((total-1)/b)
      val ids = seqs.map(_.getLong(2)).sorted
      assert(ids.sameElements(0L to (totals(src) - 1) / b), s"gap in $src")
      // interior sequences are exactly full
      val interior = seqs.filter(_.getLong(2) < ids.last)
      assert(interior.forall(_.getLong(4) == b), s"underfull interior seq in $src")
    }

    // sharded (subShards = 4): independent sequence spaces per
    // (source, sub_shard); sharded ≡ unsharded on token conservation
    val sharded = graft.queries.TrainingDataQuality.packSequences(df, b, 4).collect()
    val shardedTotals = sharded.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(4)).sum).toMap
    assert(shardedTotals == totals.filter(_._2 > 0),
      "sub-sharding changed a source's packed token total")
    for (((src, shard), seqs) <- sharded.groupBy(r => (r.getString(0), r.getInt(1)))) {
      val shardTotal = seqs.map(_.getLong(4)).sum
      val ids = seqs.map(_.getLong(2)).sorted
      assert(ids.sameElements(0L to (shardTotal - 1) / b), s"gap in $src/$shard")
      val interior = seqs.filter(_.getLong(2) < ids.last)
      assert(interior.forall(_.getLong(4) == b),
        s"underfull interior seq in $src/$shard")
    }
  }

  test("property: domain mixture pro-rated quotas sum to the budget") {
    // skewed corpus: source s0 holds ~90% of the tokens
    val rows = Gen.listOfN(400,
      Gen.zip(Gen.frequency(9 -> Gen.const(0), 1 -> Gen.choose(1, 3)),
        Gen.choose(1L, 50L)))
      .sample.get.zipWithIndex
      .map { case ((src, n), i) => (i.toLong, s"s$src", n) }
    val budget = 300L
    val base = rows.toDF("doc_id", "source", "n_tok")
      .withColumn("amostra_chave", md5(col("doc_id").cast("string")))
    val one = graft.queries.TrainingDataMixture.domainMixture(base, budget, 1).collect()
    val four = graft.queries.TrainingDataMixture.domainMixture(base, budget, 4).collect()
    val totals = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // subShards=1 degenerates to the plain greedy prefix: quota == budget
    assert(one.forall(_.getLong(5) == budget))
    for ((src, sel) <- four.groupBy(_.getString(0))) {
      // quotas sum to within one floor-rounding per shard of the budget
      val quotas = sel.map(r => r.getInt(1) -> r.getLong(5)).distinct
      val qsum = quotas.map(_._2).sum
      assert(qsum <= budget && qsum > budget - quotas.length,
        s"$src: quotas $quotas sum to $qsum vs budget $budget")
      // each shard's greedy prefix fills its quota or exhausts the shard
      for ((shard, q) <- quotas) {
        val kept = sel.filter(_.getInt(1) == shard).map(_.getLong(3)).sum
        val shardTotal = rows.filter(r => r._2 == src &&
          subShardOf(r._1, 4) == shard).map(_._3).sum
        assert(kept >= math.min(q, shardTotal),
          s"$src/$shard kept $kept < min(quota $q, shard $shardTotal)")
      }
    }
  }

  test("property: substring windows are exact and bounded on random docs") {
    // random docs assembled from a small alphabet of 32-char segments:
    // shared windows arise exactly where two docs picked the same
    // segment sequence at the same aligned offset
    val segs = Vector("a", "b", "c", "d").map(_ * 32)
    val rows = Gen.listOfN(40, Gen.listOfN(6, Gen.choose(0, 3)))
      .sample.get.zipWithIndex
      .map { case (picks, i) => (i.toLong, picks.map(segs).mkString) }
    val df = rows.toDF("doc_id", "text")
    val out = graft.dedup.NearDup
      .substringDupPairs(df, win = 64, stride = 32, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // independent replay: per-doc distinct aligned 64-char windows
    val winsOf = rows.map { case (id, t) =>
      id -> (0 to (t.length - 64) / 32)
        .map(p => t.substring(p * 32, p * 32 + 64)).toSet
    }.toMap
    for {
      (ia, wa) <- winsOf; (ib, wb) <- winsOf if ia < ib
    } {
      val shared = (wa & wb).size.toLong
      assert(out.getOrElse((ia, ib), 0L) == shared,
        s"pair ($ia,$ib): got ${out.getOrElse((ia, ib), 0L)}, want $shared")
    }
    // symmetry-free output: no (b, a) duplicates ever appear
    assert(out.keys.forall { case (a, b) => a < b })
  }

  test("property: signature-store incremental pairs equal a fresh run on random corpora") {
    // random word-soup docs over a small vocabulary: band collisions
    // arise naturally at many similarity levels. The persisted-store
    // path must produce EXACTLY the cross pairs of a fresh two-sided
    // LSH run — same candidates, same verified Jaccard — on every
    // corpus, not just the fixture.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val doc = Gen.listOfN(12, Gen.choose(0, vocab.size - 1))
      .map(_.map(vocab).mkString(" "))
    val oldRows = Gen.listOfN(30, doc).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    // batch: mutated copies of old docs (one word appended) + fresh docs
    val batchRows = oldRows.take(15)
      .map { case (id, t) => (id + 1000L, t + " omega") } ++
      Gen.listOfN(15, doc).sample.get.zipWithIndex
        .map { case (t, i) => (2000L + i, t) }
    val oldDf = oldRows.toDF("doc_id", "text")
    val batchDf = batchRows.toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("sig_prop").toString
    graft.dedup.NearDup.saveSignatureStore(oldDf, store)
    val inc = graft.dedup.NearDup
      .incrementalNearDupPairs(spark, store, batchDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = graft.dedup.NearDup
      .minhashLshPairs(oldDf.unionByName(batchDf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 1000L && b >= 1000L }
      .map { case (a, b, j) => (b, a, j) }.toSet
    assert(inc == fresh, s"store ${inc.size} pairs vs fresh ${fresh.size}")
    assert(inc.nonEmpty, "mutated copies must produce near-dup hits")
  }

  test("property: intRoundHalfAway == BigDecimal HALF_UP with no double .5") {
    import graft.queries.TrainingData.intRoundHalfAway
    // the round-6 judge's live boundary docs (exact-.5 means in x42 at
    // sf0.01: −254.5, 4.5, 20.5, …) plus a random sweep including every
    // s ≡ n/2 (mod n) boundary the generator can hit
    val boundary = Seq((-509L, 2L), (9L, 2L), (41L, 2L), (-2545L, 10L),
      (45L, 10L), (205L, 10L), (0L, 7L), (Long.MinValue / 4, 3L))
    val rand = {
      val g = for {
        n <- Gen.choose(1L, 1000000L)
        s <- Gen.choose(-1000000000L, 1000000000L)
      } yield (s, n)
      Gen.listOfN(500, g).sample.get
    }
    val cases = (boundary ++ rand).distinct
    val df = cases.toDF("s", "n")
      .withColumn("got", intRoundHalfAway(col("s"), col("n")))
    val bad = df.collect().filter { r =>
      val (s, n, got) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val want = BigDecimal(s)
        .bigDecimal.divide(java.math.BigDecimal.valueOf(n), 0,
          java.math.RoundingMode.HALF_UP).longValueExact()
      got != want
    }
    assert(bad.isEmpty, s"half-away mismatch: ${bad.take(3).mkString(",")}")
  }

  /** JVM-side replay of TrainingData.subShard for test bookkeeping. */
  private def subShardOf(docId: Long, n: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 4)
    (java.lang.Long.parseLong(hex, 16) % n).toInt
  }
}
