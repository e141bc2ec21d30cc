package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table shape (beyond-
  * reference extension — the reference is batch-only, SURVEY §2.10).
  *
  * Tumbling-window aggregation with watermark (late-data bound) and a
  * stateful sessionization via `mapGroupsWithState`. Local tests drive
  * these with the file source over the testdata parquet + memory sink
  * (`processAllAvailable`), which is exactly the production topology
  * minus the Kafka source swap.
  */
object EventStream {

  /** Schema of the events stream (ts as µs timestamp — see
    * [[graft.core.Tables.events]] for the ns caveat on the static
    * table). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-hour windows per event type: count + decimal-exact
    * value sum; 30-minute watermark bounds state. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("window.start").as("janela_inicio"),
        col("window.end").as("janela_fim"), col("event_type"),
        col("n"), col("total"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long, total: Double,
      closed_by_timeout: Boolean)

  /** Stateful sessionization: per-user running session closed after
    * 30 min idle (processing-time timeout for the demo; event-time
    * sessions would use `flatMapGroupsWithState` + event-time
    * timeout). */
  def sessionize(spark: SparkSession, events: Dataset[Event]): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(userId, s.nEvents, s.total, closed_by_timeout = true)
          } else {
            val evs = batch.toSeq
            val prev = state.getOption.getOrElse(SessionState(0, 0.0, 0L))
            val next = SessionState(
              prev.nEvents + evs.size,
              prev.total + evs.map(_.value).sum,
              math.max(prev.lastTs, evs.map(_.ts.getTime).foldLeft(0L)(math.max)))
            state.update(next)
            state.setTimeoutDuration("30 minutes")
            SessionOut(userId, next.nEvents, next.total, closed_by_timeout = false)
          }
      }
  }

  final case class EvSession(user_id: Long, inicio: java.sql.Timestamp,
      fim: java.sql.Timestamp, n_events: Long, total: Double)

  /** Event-time sessionization via `flatMapGroupsWithState`: sessions
    * close when the WATERMARK passes last-event + gap (not processing
    * time) — late events within the watermark still extend their
    * session. Emits closed sessions only (Append). */
  def sessionizeEventTime(spark: SparkSession, events: Dataset[Event],
      gapMinutes: Int = 10): Dataset[EvSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(EvSession(userId,
              new java.sql.Timestamp(s.lastTs - 0), // start tracked via lastTs only in this demo
              new java.sql.Timestamp(s.lastTs + gapMs), s.nEvents, s.total))
          } else {
            val evs = batch.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.getOrElse(SessionState(0, 0.0, 0L))
            val closed = scala.collection.mutable.ArrayBuffer.empty[EvSession]
            evs.foreach { e =>
              if (st.nEvents > 0 && e.ts.getTime - st.lastTs > gapMs) {
                closed += EvSession(userId, new java.sql.Timestamp(st.lastTs),
                  new java.sql.Timestamp(st.lastTs + gapMs), st.nEvents, st.total)
                st = SessionState(0, 0.0, 0L)
              }
              st = SessionState(st.nEvents + 1, st.total + e.value,
                math.max(st.lastTs, e.ts.getTime))
            }
            state.update(st)
            // out-of-order file arrival can put lastTs+gap behind the
            // already-advanced watermark — timeouts must sit above it
            state.setTimeoutTimestamp(
              math.max(st.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  /** Streaming exact dedup: drop re-deliveries of the same event_id
    * arriving within the watermark horizon — the ingestion-dedup stage
    * of a training-data pipeline (at-least-once source → effectively-
    * once downstream). `dropDuplicatesWithinWatermark` bounds the
    * dedup state by the watermark instead of growing forever, which is
    * what makes it viable on an unbounded 100 TB/day stream. */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: attribute each purchase to the
    * clicks of the same user in the preceding 30 minutes. Watermarks
    * on BOTH sides plus the time-range join condition let Spark expire
    * buffered rows — without them a stream-stream join would hold
    * state forever. Inner join → Append mode works and emits as soon
    * as both sides are past the watermark. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      expr("""user_id = c_user AND
              click_ts BETWEEN purchase_ts - INTERVAL 30 MINUTES
                           AND purchase_ts"""))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("value"), col("click_id"), col("click_ts"))
  }

  /** File-source stream over a directory of parquet events (test/demo
    * entry; production swaps in Kafka with the same downstream plan). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Drive a streaming query to completion against a static directory:
    * memory sink + Trigger.AvailableNow — process everything available,
    * then terminate; throws if the query is still running after 120 s.
    * A processing-time timeout asks for a no-data batch after every
    * batch, so such a query terminates only with
    * `spark.sql.streaming.noDataMicroBatches.enabled=false`. */
  def runToMemory(spark: SparkSession, src: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): DataFrame = {
    // Aggregations over a static directory need Complete mode: Append
    // only emits once the watermark passes a window, which never
    // happens in a single catch-up batch.
    val q = src.writeStream.outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(name).start()
    val done = q.awaitTermination(120000L)
    q.stop()
    if (!done) throw new IllegalStateException(
      s"streaming query '$name' did not terminate within 120 s")
    spark.table(name)
  }
}
