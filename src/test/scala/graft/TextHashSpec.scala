package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HashedBow, TextHashExpressions}
import graft.queries.TrainingDataClassifier
import graft.text.TextFunctions.{qualityScore, qualitySignals, wsTokens}

/** The native md5-prefix hash and the hashed bag-of-words kernel,
  * each against the Column-expression shape it replaced (kept here
  * only as the reference). */
class TextHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** md5 hex digits start..start+7 parsed by 8 substring + instr calls. */
  private def md5Hash32AtRef(c: Column, start: Int): Column = {
    val hex = substring(md5(c), start, 8)
    (0 until 8).map { i =>
      (instr(lit("0123456789abcdef"), substring(hex, i + 1, 1)) - 1)
        .cast("long") * lit(1L << (4 * (7 - i)))
    }.reduce(_ + _)
  }

  /** Per doc, the bucket → count map and token total of the
    * explode → groupBy(doc, bucket) → groupBy(doc) featurizer; docs
    * with no non-empty token have no row. */
  private def bowRef(docs: DataFrame): Map[Long, (Map[Long, Long], Long)] =
    docs.select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), pmod(md5Hash32AtRef(col("w"), 1), lit(64L)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt")))).as("m"),
        sum(col("cnt")).as("n_tok"))
      .collect()
      .map(r => r.getLong(0) -> (r.getMap[Long, Long](1).toMap, r.getLong(2)))
      .toMap

  private lazy val edgeDocs: DataFrame = {
    val rnd = new scala.util.Random(11)
    val vocab = Array.fill(500)(rnd.alphanumeric.take(1 + rnd.nextInt(9)).mkString)
    val long = Seq.fill(10000)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "   "), (4L, "\t\n \t"),
      (5L, "a\tb\nc\r\nd"), (6L, "\tleading tab and newline\n"),
      (7L, "   leading and trailing spaces   "),
      (8L, "the the the cat THE The cat"),
      (9L, "ação Über 東京 naïve ÇÃO coração 🙂 façade"),
      (10L, long), (11L, "one"))
      .toDF("doc_id", "text")
  }

  test("hashed_bow equals the explode/groupBy bucket counts on edge-case docs") {
    val ref = bowRef(edgeDocs)
    val got = edgeDocs
      .select(col("doc_id"), TextHashExpressions.hashedBow(
        wsTokens(lower(col("text")))).as("cnt"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(got(1L).isEmpty, "null text gives a null count array")
    for ((id, cnt) <- got; c <- cnt) {
      assert(c.length == 64, s"doc $id")
      ref.get(id) match {
        case Some((m, nTok)) =>
          assert(c == (0L until 64L).map(b => m.getOrElse(b, 0L)), s"doc $id")
          assert(c.sum == nTok, s"doc $id")
        case None => assert(c.forall(_ == 0L), s"doc $id has no non-empty token")
      }
    }
    assert(ref.keySet == Set(5L, 6L, 7L, 8L, 9L, 10L, 11L))
    assert(ref(10L)._2 == 10000L)
  }

  test("clfFeatures keeps the former bucket features and drops the same docs") {
    for (docs <- Seq(edgeDocs, graft.core.Tables.documents(spark, TestSpark.sf))) {
      val ref = bowRef(docs).map { case (id, (m, nTok)) =>
        id -> (0L until 64L).map(b => m.getOrElse(b, 0L).toDouble / nTok.toDouble) }
      val tf = TrainingDataClassifier.clfFeatures(docs)
      val got = tf.collect().map(r => r.getLong(0) -> r.getSeq[Double](2))
      assert(got.length == ref.size && got.map(_._1).toSet == ref.keySet)
      for ((id, xs) <- got) {
        assert(xs.length == 68)
        assert(xs.take(64) == ref(id), s"doc $id")
      }
    }
    // xs(64..66) are the shared quality signals and y is the score's
    // 0.5 gate, on the same edge-case docs
    val stop = graft.queries.TrainingData.stopwords
    val sig = edgeDocs.select(col("doc_id") +: qualitySignals(col("text"), stop) :+
        (qualityScore(col("text"), stop) >= 0.5).cast("long"): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val feats = TrainingDataClassifier.clfFeatures(edgeDocs).collect()
    assert(feats.nonEmpty)
    for (r <- feats) {
      val (xs, want) = (r.getSeq[Double](2), sig(r.getLong(0)))
      assert(xs.slice(64, 67) == want.take(3), s"doc ${r.getLong(0)}")
      assert(r.getLong(1) == want(3), s"doc ${r.getLong(0)}")
    }
    // one projection over the scan: the kernel runs once per row, not
    // once more in a pushed-down filter
    val tf = TrainingDataClassifier.clfFeatures(
      graft.core.Tables.documents(spark, TestSpark.sf))
    val plan = tf.queryExecution.optimizedPlan
    assert(plan.flatMap(_.expressions.flatMap(
      _.collect { case h: HashedBow => h })).size == 1, plan.toString)
  }

  test("native md5Hash32 equals the substring/instr chain at offsets 1 and 9") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcxyzABC019 ,.-áçãõéüñ東京€".toCharArray
    val strs: Seq[String] = Seq("", " ", "ação", "🙂", "\u0000") ++
      Seq.fill(10000 - 5)(Seq.fill(rnd.nextInt(24))(
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (strs.map(Option(_)) :+ None).toDF("s")
    val cols = Seq(1, 9).flatMap(k => Seq(
      graft.dedup.NearDup.md5Hash32(col("s"), k), md5Hash32AtRef(col("s"), k)))
    val rows = df.select(cols: _*).collect()
    assert(rows.length == 10001)
    rows.init.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(2))
      assert(r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3), r.toString)
      assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 32))
    }
    assert((0 until 4).forall(rows.last.isNullAt), "null in, null out")
    assert(rows.init.map(_.getLong(0)).distinct.length > 5000)
  }
}
