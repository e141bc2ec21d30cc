package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.streaming.EventStream

/** Structured Streaming smoke: the file source over the static events
  * parquet drives the same plan a Kafka source would. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("windowed streaming aggregation matches the batch equivalent") {
    // stream side: copy events (µs ts) to a stream-readable dir
    val tmp = java.nio.file.Files.createTempDirectory("events_stream").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(tmp)
    val stream = EventStream.readEventStream(spark, tmp)
    assert(stream.isStreaming)
    val result = EventStream.runToMemory(spark,
      EventStream.windowedCounts(stream), "windowed_counts", OutputMode.Complete)

    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(result.count() == batch.count())
    val streamTotal = result.agg(sum("n")).collect()(0).getLong(0)
    assert(streamTotal == Tables.events(spark, sf).count())
  }

  test("event-time sessionization closes sessions behind the watermark") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("events_evtime").toString
    // one file per user chunk → several micro-batches under
    // maxFilesPerTrigger, so the watermark advances and closes sessions
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .repartition(8)
      .write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "2")
      .parquet(tmp)
      .as[EventStream.Event]
    val sessions = EventStream.sessionizeEventTime(spark, stream, gapMinutes = 10)
    val out = EventStream.runToMemory(spark, sessions.toDF(), "evtime_sessions")
    // every emitted session respects the gap invariant: fim = lastTs + gap
    assert(out.filter(col("fim") <= col("inicio")).count() == 0)
    // emitted (closed) sessions must never exceed a user's total events
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
    val sums = out.groupBy("user_id").agg(sum("n_events").as("emitted"))
      .join(perUser, Seq("user_id"))
    assert(sums.filter(col("emitted") > col("count")).count() == 0)
    assert(out.count() > 0, "expected at least one closed session")
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    val tmp = java.nio.file.Files.createTempDirectory("events_dup").toString
    val ev = Tables.events(spark, sf)
    // simulate at-least-once delivery: every event arrives twice
    ev.unionByName(ev).write.mode("overwrite").parquet(tmp)
    val stream = EventStream.readEventStream(spark, tmp)
    val out = EventStream.runToMemory(spark,
      EventStream.dedupedStream(stream), "deduped")
    assert(out.count() == ev.count())
    assert(out.select("event_id").distinct().count() == ev.count())
  }

  test("stream-stream click→purchase join matches the batch equivalent") {
    val tmp = java.nio.file.Files.createTempDirectory("events_ssj").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(tmp)
    val stream = EventStream.readEventStream(spark, tmp)
    val out = EventStream.runToMemory(spark,
      EventStream.clickPurchaseJoin(stream), "ss_join")
    // same function over the batch table: withWatermark is a no-op in
    // batch, so this is the exact batch-join oracle
    val batch = EventStream.clickPurchaseJoin(Tables.events(spark, sf))
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(out).count() == 0)
  }

  test("stateful sessionization accumulates per-user counts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("events_sess").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(tmp)
      .as[EventStream.Event]
    val sessions = EventStream.sessionize(spark, stream)
    // the processing-time timeout asks for a no-data batch after every
    // batch, so AvailableNow would never finish without this
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    val out = try EventStream.runToMemory(spark, sessions.toDF(), "sessions",
      OutputMode.Update) finally spark.conf.unset(key)
    // one open session per user, counting every event of that user
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
    val joined = out.as("s").join(perUser.as("b"), Seq("user_id"))
    assert(joined.filter(col("s.n_events") =!= col("b.count")).count() == 0)
    assert(out.filter(col("closed_by_timeout")).count() == 0)
  }

  test("stream-static incremental dedup admits only never-seen documents") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    // arriving batch: half re-deliveries of corpus docs (shifted ids,
    // same text → same fingerprint), half genuinely new docs
    val redelivered = corpus.filter(col("doc_id") < 150)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") >= 300)
    val tmp = java.nio.file.Files.createTempDirectory("docs_stream").toString
    fresh.unionByName(redelivered).write.mode("overwrite").parquet(tmp)
    val stream = graft.streaming.DocStream.readDocStream(spark, tmp)
    val out = EventStream.runToMemory(spark,
      graft.streaming.DocStream.incrementalDedup(stream, corpus), "inc_dedup")
    // the same stateless plan over the batch input is the oracle
    val batch = graft.streaming.DocStream.incrementalDedup(
      spark.read.parquet(tmp), corpus)
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    // every re-delivered doc was dropped; every fresh doc admitted
    assert(out.filter(col("doc_id") >= 5000000L).count() == 0)
    assert(out.count() == fresh.count())
    // admitted docs carry their text — directly ingestible downstream
    assert(out.columns.contains("text"))
  }

  test("near-dup admission: stream via foreachBatch equals the batch run") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpusDocs = docs.filter(col("doc_id") < 300)
    val store = java.nio.file.Files.createTempDirectory("sig_store").toString
    graft.dedup.NearDup.saveSignatureStore(corpusDocs, store)
    // arriving batch: near-copies of corpus docs (suffix edit → J≈0.9,
    // NOT byte-identical, so the exact-fp path would admit them) and
    // genuinely new docs
    val nearCopies = corpusDocs.filter(col("doc_id") < 150)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val fresh = docs.filter(col("doc_id") >= 300)
    val tmp = java.nio.file.Files.createTempDirectory("docs_neardup").toString
    nearCopies.unionByName(fresh).write.mode("overwrite").parquet(tmp)
    val outDir = java.nio.file.Files.createTempDirectory("neardup_out").toString
    val q = graft.streaming.DocStream.readDocStream(spark, tmp)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.DocStream.admitNearDups(spark, b, store)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", outDir + "_chk")
      .start()
    q.awaitTermination(120000L); q.stop()
    val out = spark.read.parquet(outDir)
    val batch = graft.streaming.DocStream.admitNearDups(
      spark, spark.read.parquet(tmp), store)
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
    assert(out.filter(col("doc_id") >= 5000000L).count() == 0,
      "near-copies must be rejected by the signature store")
    // the raw fixture contains a handful of intrinsic near-dups across
    // the corpus boundary (legitimately rejected — the batch oracle
    // rejects the same ones); the bulk of genuinely new docs admits
    assert(out.count() >= fresh.count() * 9 / 10, "bulk of fresh docs admitted")
  }

  test("image admission: dHash store drops exact copies on-stream, batch-equal") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpusDocs = docs.filter(col("doc_id") < 300)
    val store = java.nio.file.Files.createTempDirectory("dhash_store").toString
    graft.multimodal.Multimodal.saveDHashStore(spark,
      graft.multimodal.Multimodal.withBinaryPayload(corpusDocs), store)
    // arriving: exact payload copies (same bytes → same dHash →
    // hamming 0, rejected) and genuinely new assets (admitted — the
    // stub codec is avalanche, so no false collisions)
    val copies = corpusDocs.filter(col("doc_id") < 150)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") >= 300)
    val tmp = java.nio.file.Files.createTempDirectory("assets_stream").toString
    copies.unionByName(fresh).write.mode("overwrite").parquet(tmp)
    val outDir = java.nio.file.Files.createTempDirectory("img_admit").toString
    val q = graft.streaming.DocStream.readDocStream(spark, tmp)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.multimodal.Multimodal.admitImageDups(spark,
          graft.multimodal.Multimodal.withBinaryPayload(b), store)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", outDir + "_chk")
      .start()
    q.awaitTermination(120000L); q.stop()
    val out = spark.read.parquet(outDir)
    val batch = graft.multimodal.Multimodal.admitImageDups(spark,
      graft.multimodal.Multimodal.withBinaryPayload(spark.read.parquet(tmp)),
      store)
    assert(out.count() == batch.count())
    assert(out.select("doc_id").exceptAll(batch.select("doc_id")).count() == 0)
    assert(out.filter(col("doc_id") >= 5000000L).count() == 0,
      "exact payload copies must be rejected by the dHash store")
    assert(out.count() == fresh.count(), "every fresh asset admitted")
  }

  test("stateless curation runs unchanged on a stream (quality + redaction)") {
    val stop = Seq("the", "a", "of", "and")
    // inject PII into some docs so redaction is exercised on-stream
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 5 === 0,
        lit(" escreva: alguem@exemplo.com")).otherwise(lit(""))).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("docs_curate").toString
    docs.write.mode("overwrite").parquet(tmp)
    val out = EventStream.runToMemory(spark,
      graft.streaming.DocStream.curate(
        graft.streaming.DocStream.readDocStream(spark, tmp), 0.3, stop),
      "curated")
    val batch = graft.streaming.DocStream.curate(docs, 0.3, stop)
    assert(out.count() == batch.count() && out.count() > 0)
    assert(out.exceptAll(batch).count() == 0)
    // every injected email was scrubbed in-flight
    assert(out.filter(col("text").contains("@")).count() == 0)
    assert(out.filter(col("doc_id") % 5 === 0)
      .filter(!col("text").contains("[EMAIL]")).count() == 0)
  }

  test("dedupWithin drops stream-side re-deliveries ahead of the corpus refresh") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    // the same new doc delivered twice INSIDE the stream (same text →
    // same fingerprint, different ids): the corpus anti-join alone
    // cannot drop it; the watermark dedup must
    val redelivered = fresh.filter(col("doc_id") < 350)
      .select((col("doc_id") + 7000000L).as("doc_id"), col("text"))
    val arriving = fresh.unionByName(redelivered)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val tmp = java.nio.file.Files.createTempDirectory("docs_wind").toString
    arriving.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(tmp)
    val out = EventStream.runToMemory(spark,
      graft.streaming.DocStream.incrementalDedup(stream, corpus,
        dedupWithin = Some(("ts", "10 minutes"))), "inc_dedup_w")
    assert(out.count() == fresh.count(), "one admission per fingerprint")
    assert(out.select("fp").distinct().count() == out.count())
  }

  test("streaming quality drift: windowed PSI equals the batch computation") {
    import graft.streaming.DocStream
    val stop = Seq("the", "a", "of", "and")
    // synthetic event time: one doc per minute → "1 hour" windows of
    // 60 docs each; deterministic, replay-stable
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .withColumn("ts", (col("doc_id") * 60).cast("timestamp"))
    val tmp = java.nio.file.Files.createTempDirectory("docs_drift").toString
    docs.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "2").parquet(tmp)
    val streamCounts = EventStream.runToMemory(spark,
      DocStream.windowedQualityCounts(stream, "ts", "1 hour", "30 minutes",
        stop), "drift_counts", OutputMode.Complete)
    // identical code on the batch frame (watermark node eliminated)
    val batchCounts = DocStream.windowedQualityCounts(
      spark.read.parquet(tmp), "ts", "1 hour", "30 minutes", stop)
    assert(streamCounts.count() == batchCounts.count())
    assert(streamCounts.exceptAll(batchCounts).count() == 0)
    // reference histogram = the corpus snapshot's own bins; PSI of the
    // corpus windows against their own corpus stays calm
    val ref = docs.select(DocStream.qualityBin(col("text"), stop).as("bin"))
      .groupBy("bin").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val psiStream = DocStream.qualityPsi(streamCounts, ref)
      .orderBy(col("window")).collect()
    val psiBatch = DocStream.qualityPsi(batchCounts, ref)
      .orderBy(col("window")).collect()
    assert(psiStream.toSeq == psiBatch.toSeq, "stream PSI must equal batch")
    assert(psiStream.nonEmpty)
    psiStream.foreach { r =>
      val psi = r.getDouble(2)
      assert(psi >= 0.0 && psi < 1.0,
        s"window vs own corpus should not alarm: $psi")
    }
  }

  test("streaming HLL: windowed registers equal batch; max-merge of windows equals the whole-slice sketch") {
    import graft.streaming.DocStream
    val arriving = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 3).select("doc_id", "text")
      .withColumn("ts", (col("doc_id") * 60).cast("timestamp"))
    val tmp = java.nio.file.Files.createTempDirectory("docs_hll").toString
    arriving.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "2").parquet(tmp)
    val streamRegs = EventStream.runToMemory(spark,
      DocStream.windowedHllRegisters(stream, "ts", "1 hour", "30 minutes"),
      "hll_regs", OutputMode.Complete)
    val batchRegs = DocStream.windowedHllRegisters(
      spark.read.parquet(tmp), "ts", "1 hour", "30 minutes")
    assert(streamRegs.count() == batchRegs.count())
    assert(streamRegs.exceptAll(batchRegs).count() == 0 &&
      batchRegs.exceptAll(streamRegs).count() == 0,
      "drained stream registers must equal the batch sketch")
    assert(streamRegs.select("window").distinct().count() > 1,
      "merge law needs multiple windows to say anything")
    // HLL's defining MERGE law: register-wise max over the per-window
    // sketches == the sketch of the whole slice, computed from text
    val merged = streamRegs.groupBy(col("j"))
      .agg(org.apache.spark.sql.functions.max(col("m")).as("m"))
    val whole = spark.read.parquet(tmp)
      .select(explode(graft.text.TextFunctions.wsTokens(col("text")))
        .as("w"))
      .select(graft.queries.TrainingDataMixture.hllJ(col("w")).as("j"),
        graft.queries.TrainingDataMixture.hllRho(col("w")).as("rho"))
      .groupBy(col("j"))
      .agg(org.apache.spark.sql.functions.max(col("rho")).as("m"))
    assert(merged.exceptAll(whole).count() == 0 &&
      whole.exceptAll(merged).count() == 0,
      "union of windows must equal register-wise max (sketch merge)")
  }

  test("streaming CMS: windowed cells equal batch; estimates dominate exact per-window counts") {
    import graft.streaming.DocStream
    val arriving = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 3).select("doc_id", "text")
      .withColumn("ts", (col("doc_id") * 60).cast("timestamp"))
    val tmp = java.nio.file.Files.createTempDirectory("docs_cms").toString
    arriving.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "2").parquet(tmp)
    val streamCells = EventStream.runToMemory(spark,
      DocStream.windowedCmsCells(stream, "ts", "1 hour", "30 minutes"),
      "cms_cells", OutputMode.Complete)
    val batchCells = DocStream.windowedCmsCells(
      spark.read.parquet(tmp), "ts", "1 hour", "30 minutes")
    assert(streamCells.count() == batchCells.count())
    assert(streamCells.exceptAll(batchCells).count() == 0,
      "drained stream cells must equal the batch CMS")
    // one-sided sketch guarantee per window: estimate ≥ exact for
    // EVERY (window, token) the slice contains
    val exact = spark.read.parquet(tmp)
      .select(col("ts"), explode(
        graft.text.TextFunctions.wsTokens(col("text"))).as("w"))
      .groupBy(window(col("ts"), "1 hour"), col("w"))
      .agg(count(lit(1)).as("c_exact"))
    val cand = exact.select("w").distinct().collect().map(_.getString(0))
    val est = DocStream.cmsEstimate(streamCells, cand.toSeq)
    val joined = exact.join(est, Seq("window", "w")).collect()
    assert(joined.length == exact.count(),
      "every live (window, token) must get an estimate")
    joined.foreach { r =>
      assert(r.getAs[Long]("c_cms") >= r.getAs[Long]("c_exact"),
        s"CMS must never undercount: $r")
    }
    // a token the slice never saw still gets one row PER WINDOW (the
    // ADVICE-r10 fix: all-absent cells no longer drop the candidate),
    // estimating 0 unless all 4 of its buckets collide
    val nWindows = streamCells.select("window").distinct().count()
    val ghost = DocStream.cmsEstimate(streamCells,
      Seq("zz-never-in-any-fixture-zz")).collect()
    assert(ghost.length == nWindows,
      s"ghost token must estimate in all $nWindows windows, got ${ghost.length}")
    ghost.foreach(r => assert(r.getAs[Long]("c_cms") >= 0))
  }

  test("streaming OOV drift: windowed counts equal batch, totals reconcile with a direct count") {
    import graft.streaming.DocStream
    // the frozen vocabulary: base-slice training words (x115's
    // contract — the batch slice doc_id % 10 = 7 is the "arriving"
    // data the monitor watches)
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 10 =!= 7)
    val vocab = graft.queries.TrainingDataLm.bpeVocab(base, 16).map(_._1)
    val arriving = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 7).select("doc_id", "text")
      .withColumn("ts", (col("doc_id") * 60).cast("timestamp"))
    val tmp = java.nio.file.Files.createTempDirectory("docs_oov").toString
    arriving.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "2").parquet(tmp)
    val streamCounts = EventStream.runToMemory(spark,
      DocStream.windowedOovCounts(stream, "ts", "1 hour", "30 minutes",
        vocab), "oov_counts", OutputMode.Complete)
    val batchCounts = DocStream.windowedOovCounts(
      spark.read.parquet(tmp), "ts", "1 hour", "30 minutes", vocab)
    assert(streamCounts.count() == batchCounts.count())
    assert(streamCounts.exceptAll(batchCounts).count() == 0,
      "stream windows must equal the batch computation")
    // window totals reconcile with a direct whole-slice count
    val got = streamCounts
      .agg(org.apache.spark.sql.functions.sum("n_tok"),
        org.apache.spark.sql.functions.sum("n_oov"))
      .collect()(0)
    val vset = vocab.toSet
    val want = arriving.select(col("text")).collect().map { r =>
      val ws = r.getString(0).trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (ws.length.toLong, ws.count(w => !vset.contains(w)).toLong)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert((got.getLong(0), got.getLong(1)) == want,
      "windowed totals must reconcile with the direct count")
    assert(got.getLong(1) > 0 && got.getLong(1) < got.getLong(0),
      "a 16-word frozen vocab must see OOV without drowning in it")
  }

  test("model-gate admission: stream ≡ batch ≡ x122's kept counts") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source", "text")
    val weights = graft.queries.TrainingDataClassifier.ensureClfWeights(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("docs_gate").toString
    docs.write.mode("overwrite").parquet(tmp)
    val outDir = java.nio.file.Files.createTempDirectory("gate_out").toString
    val q = graft.streaming.DocStream.readDocStream(spark, tmp)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.DocStream.admitQuality(spark, b, weights)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", outDir + "_chk")
      .start()
    q.awaitTermination(120000L); q.stop()
    val out = spark.read.parquet(outDir)
    val batch = graft.streaming.DocStream.admitQuality(
      spark, spark.read.parquet(tmp), weights)
    assert(out.count() == batch.count())
    assert(out.select("doc_id").exceptAll(batch.select("doc_id")).count() == 0)
    // the stream admits exactly the population x122 reports as kept
    val x122Kept = SparkEntry.queries("x122_clf_filter")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).collect()(0).getLong(0)
    assert(out.count() == x122Kept,
      s"stream admitted ${out.count()} vs x122 kept $x122Kept")
  }

  test("winnow ingest: streamed fingerprint store ≡ batch-computed, admitted docs only") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    val tmp = java.nio.file.Files.createTempDirectory("docs_winnow").toString
    docs.write.mode("overwrite").parquet(tmp)
    val storeDir = java.nio.file.Files.createTempDirectory("winnow_ing").toString + "/store"
    val q = graft.streaming.DocStream.readDocStream(spark, tmp)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.DocStream.winnowIngest(b, storeDir)
      }
      .option("checkpointLocation", storeDir + "_chk")
      .start()
    q.awaitTermination(120000L); q.stop()
    val streamed = spark.read.parquet(storeDir)
    val batch = graft.dedup.NearDup.winnowedFingerprints(docs)
      .select(col("doc_id"), col("m"),
        org.apache.spark.sql.functions.size(col("sel")).cast("long")
          .as("n_sel"), col("fps"))
    assert(streamed.count() == docs.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed store must equal the batch fingerprints row-for-row")
    // at-least-once replay (ADVICE r10): re-delivering the same batch
    // must append nothing — the store is doc_id-idempotent
    graft.streaming.DocStream.winnowIngest(docs, storeDir)
    assert(spark.read.parquet(storeDir).count() == docs.count(),
      "a replayed micro-batch must leave the store unchanged")
  }

  test("end-to-end curation pipeline: stream ≡ batch, funnel reconciles per stage") {
    val stop = Seq("the", "a", "of", "and")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the corpus snapshot holds CURATED text — this pipeline's own
    // output — so re-deliveries re-curate to the identical fingerprint
    val corpusRaw = docs.filter(col("doc_id") < 300)
    val corpus = graft.streaming.DocStream.curate(corpusRaw, 0.0, stop)
      .select("doc_id", "text").localCheckpoint()
    val store = java.nio.file.Files.createTempDirectory("e2e_sig").toString
    graft.dedup.NearDup.saveSignatureStore(corpus, store)
    val weights = graft.queries.TrainingDataClassifier.ensureClfWeights(spark, sf)
    // arriving: exact re-deliveries (die at the fingerprint gate),
    // near-copies (die at the signature gate), and genuinely new docs
    val redelivered = corpusRaw.filter(col("doc_id") < 100)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val nearCopies = corpusRaw
      .filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") + 6000000L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val arriving = docs.filter(col("doc_id") >= 300)
      .unionByName(redelivered).unionByName(nearCopies).localCheckpoint()
    val tmp = java.nio.file.Files.createTempDirectory("docs_e2e").toString
    arriving.write.mode("overwrite").parquet(tmp)
    val outDir = java.nio.file.Files.createTempDirectory("e2e_out").toString
    val funnelDir = java.nio.file.Files.createTempDirectory("e2e_funnel").toString
    val q = graft.streaming.DocStream.readDocStream(spark, tmp)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val stages = graft.streaming.DocStream.curateStages(
          spark, b, corpus, store, weights, 0.3, stop)
        stages.last._2.write.mode("append").parquet(outDir)
        spark.createDataFrame(stages.map { case (n, df) => (n, df.count()) })
          .toDF("etapa", "linhas")
          .coalesce(1).write.mode("append").parquet(funnelDir)
      }
      .option("checkpointLocation", outDir + "_chk")
      .start()
    q.awaitTermination(180000L); q.stop()
    val out = spark.read.parquet(outDir)
    val batchStages = graft.streaming.DocStream.curateStages(
      spark, spark.read.parquet(tmp), corpus, store, weights, 0.3, stop)
    val batchOut = batchStages.last._2
    // stream ≡ batch on the final admitted set
    assert(out.count() == batchOut.count() && out.count() > 0)
    assert(out.select("doc_id").exceptAll(batchOut.select("doc_id"))
      .count() == 0)
    // per-stage funnel: stream-side counts (summed over micro-batches;
    // every gate is batch-additive) ≡ the batch funnel, x21/x37's
    // row-delta audit discipline on the streaming path
    val fsum = spark.read.parquet(funnelDir)
      .groupBy(col("etapa")).agg(org.apache.spark.sql.functions
        .sum(col("linhas")).as("linhas"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    batchStages.foreach { case (n, df) =>
      assert(fsum(n) == df.count(), s"stage $n: stream ${fsum(n)} vs batch")
    }
    assert(fsum("bruto") == arriving.count())
    val order = Seq("bruto", "qualidade", "dedup_exato", "dedup_aprox", "modelo")
    order.sliding(2).foreach { case scala.collection.Seq(a, b) =>
      assert(fsum(a) >= fsum(b), s"funnel not monotone at $a -> $b")
    case _ => () }
    // planted populations die at their designated gates
    assert(batchOut.filter(col("doc_id") >= 5000000L
      && col("doc_id") < 6000000L).count() == 0, "re-delivery survived")
    assert(batchOut.filter(col("doc_id") >= 6000000L).count() == 0,
      "near-copy survived")
    // the model stage reconciles with x122's scoring methodology on
    // exactly the population that reached it
    val nd = batchStages(3)._2
    val kept = graft.queries.TrainingDataClassifier.clfScores(
        graft.queries.TrainingDataClassifier.clfFeatures(nd.select("doc_id", "text")),
        spark.read.parquet(weights))
      .filter(col("pq") >= 500000L).count()
    assert(fsum("modelo") == kept,
      s"model gate ${fsum("modelo")} vs x122-method recount $kept")
  }
}
