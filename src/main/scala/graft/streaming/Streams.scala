package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.engine.{DocOut, PageSlim, Pipeline}

/** Structured Streaming surface of the engine.
  *
  * The reference is batch-only (SURVEY.md §2.G), so these are additive
  * capabilities, built the Spark-native way:
  *  - a streaming ingest path for the extraction pipeline (file-source ->
  *    the same narrow mapPartitions kernel as batch — extraction is
  *    stateless per document, so micro-batches scale exactly like batch
  *    partitions on a real cluster),
  *  - watermarked hourly windowed aggregation over an event stream,
  *  - session windows via flatMapGroupsWithState (event-time sessionization
  *    with an inactivity gap), the KeyValueGroupedDataset custom-state path.
  */
object Streams {

  final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** `sum_vmilli` accumulates floor(value*1000) as a LONG: integer addition
    * is order-independent and exact, so the batch replay hashes identically
    * to a relational oracle regardless of per-group evaluation order (a
    * Double sum would differ in the last bits across fold orders).
    */
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_vmilli: Long)

  /** Per-user session accumulator (public: encoder codegen instantiates it). */
  final case class SessionState(start: Long, last: Long, n: Long, vmilli: Long)

  /** Streaming extraction: file-source over page parquet -> the batch
    * kernel, unchanged. Caller attaches writeStream (parquet/iceberg sink
    * with checkpointLocation for exactly-once file sinks — StreamsSpec
    * drives that path through a stop + restart and asserts no dupes/loss
    * vs the batch result). `sourceOptions` passes file-source knobs
    * (e.g. maxFilesPerTrigger for bounded micro-batches). The source
    * declares the [[PageSlim]] schema, as [[Pipeline.readPages]] does: no
    * Spark job infers it, and the stream can start over an empty landing
    * directory.
    */
  def extractStream(spark: SparkSession, pagesDir: String,
      buckets: Int = Pipeline.DefaultBuckets,
      sourceOptions: Map[String, String] = Map.empty): Dataset[DocOut] = {
    val pages = spark.readStream.options(sourceOptions)
      .schema(Encoders.product[PageSlim].schema).parquet(pagesDir)
    Pipeline.extract(pages, buckets)
  }

  /** Watermarked tumbling-window counts per event type. Late events beyond
    * 10 minutes are dropped; state is bounded by (watermark horizon x
    * event types), so it holds at any input rate.
    */
  def hourlyEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_vmilli"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_vmilli"))

  /** Watermarked stream-stream interval join: each probe event matched to
    * the same user's quote events within the trailing `lagMinutes` window
    * (attribution: which views led to this click). BOTH sides carry
    * watermarks and the join condition bounds the event-time range, so
    * Spark can GC buffered state on both sides — the requirements for an
    * unbounded-input stream-stream join to hold at 10^12-event rates. The
    * quote watermark trails by the interval width (a quote must stay
    * buffered until no in-range probe can still arrive).
    */
  def intervalJoinStream(probes: DataFrame, quotes: DataFrame,
      lagMinutes: Int = 10, delayMinutes: Int = 5): DataFrame = {
    val p = probes
      .select(col("event_id").as("probe_id"), col("user_id").as("p_user"),
        col("ts").as("probe_ts"))
      .withWatermark("probe_ts", s"$delayMinutes minutes")
    val q = quotes
      .select(col("event_id").as("quote_id"), col("user_id").as("q_user"),
        col("ts").as("quote_ts"))
      .withWatermark("quote_ts", s"${delayMinutes + lagMinutes} minutes")
    intervalJoinOn(p, q, lagMinutes)
  }

  /** The join condition + output projection shared by the streaming and
    * one-shot batch paths — ONE definition, so the DuckDB inequality-join
    * oracle on the batch surface (q13) checks exactly the semantics the
    * stream runs.
    */
  private def intervalJoinOn(p: DataFrame, q: DataFrame, lagMinutes: Int): DataFrame =
    p.join(q, expr(
      s"""p_user = q_user AND
         |quote_ts >= probe_ts - INTERVAL $lagMinutes MINUTES AND
         |quote_ts <= probe_ts""".stripMargin))
      .select(col("probe_id"), col("quote_id"), col("p_user").as("user_id"),
        col("probe_ts"), col("quote_ts"))

  /** One-shot batch surface of [[intervalJoinStream]]: the SAME projection
    * and range condition, minus the watermarks (batch buffers no state).
    * Scale shape: an equi-join on user_id with the time range as a join
    * residual — the key bounds the match set per user, so nothing
    * resembling a time-cross-product ever materializes; AQE splits user
    * skew. This is the oracle-checkable face of the interval-join family
    * (CORRECTNESS q13).
    */
  def intervalJoinOneShot(events: DataFrame, probeType: String = "click",
      quoteType: String = "view", lagMinutes: Int = 10): DataFrame = {
    val ev = events.select(col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"))
    val p = ev.filter(col("event_type") === probeType)
      .select(col("event_id").as("probe_id"), col("user_id").as("p_user"),
        col("ts").as("probe_ts"))
    val q = ev.filter(col("event_type") === quoteType)
      .select(col("event_id").as("quote_id"), col("user_id").as("q_user"),
        col("ts").as("quote_ts"))
    intervalJoinOn(p, q, lagMinutes).orderBy("probe_id", "quote_id")
  }

  def intervalJoinOneShotSql(table: String, probeType: String = "click",
      quoteType: String = "view", lagMinutes: Int = 10): String =
    s"""SELECT p.event_id AS probe_id, q.event_id AS quote_id,
       |  p.user_id AS user_id, p.ts AS probe_ts, q.ts AS quote_ts
       |FROM $table p JOIN $table q
       |  ON p.user_id = q.user_id
       |  AND q.ts >= p.ts - INTERVAL $lagMinutes MINUTE
       |  AND q.ts <= p.ts
       |WHERE p.event_type = '$probeType' AND q.event_type = '$quoteType'
       |ORDER BY probe_id, quote_id""".stripMargin

  /** Stream-static enrichment join: each micro-batch of the event stream
    * joins a STATIC dimension (slowly-changing user/host metadata),
    * broadcast-hinted so at 10^12-event rates the stream side never
    * shuffles — only the dimension ships to executors, and Spark re-reads
    * it per batch so out-of-band dimension updates surface without
    * restarting the query. Left join: events without dimension rows pass
    * through with nulls (an inner join would silently drop them).
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup over a document stream: first-seen wins within
    * the watermark horizon. `dropDuplicatesWithinWatermark` bounds the
    * dedup state by the watermark (an unbounded-horizon streaming dedup is
    * impossible at 10^12 docs; cross-horizon dedup belongs to the batch
    * `Dedup.exact`/`dedupComponents` pass).
    */
  def dedupStream(docs: DataFrame, eventTimeCol: String = "ts",
      delay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_h", md5(col("text")))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("text_h")
      .drop("text_h")

  /** The per-key session fold shared by the streaming and one-shot batch
    * paths — ONE kernel, so the DuckDB gaps-and-islands oracle on the batch
    * replay (q7_sessions) checks exactly the logic the stream runs.
    * `streaming = false` skips the event-time timeout registration (batch
    * execution has no watermark clock; timeouts never fire there).
    */
  /** Timestamps fold as epoch MICROS (event timestamps carry microsecond
    * precision; java.sql.Timestamp.getTime alone would truncate session
    * bounds to millis). The inactivity-gap test compares ms-TRUNCATED
    * values — exactly the `epoch_ms(ts) - epoch_ms(lag(ts)) > gap` algebra
    * of the relational oracle, so boundary events within the same
    * microsecond-of-millisecond land identically.
    */
  private def epochMicros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  private def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** NOTE on the one-shot surface: in batch execution Spark hands this
    * fold ALL of one user's rows in a single call, so `rows.toVector.sortBy`
    * buffers one user's full history in memory. That is acceptable for the
    * oracle surface only (per-user history is human-scale); the STREAMING
    * path sorts per micro-batch, which the watermark bounds — the scale
    * claim belongs to that path.
    */
  private def sessionUpdate(gapMs: Long, streaming: Boolean)(
      userId: Long, rows: Iterator[EventRow],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    val out = Vector.newBuilder[SessionOut]
    if (state.hasTimedOut) {
      val s = state.get
      out += SessionOut(userId, microsTs(s.start), microsTs(s.last), s.n, s.vmilli)
      state.remove()
    } else {
      // event-time order within a micro-batch is not guaranteed
      val sorted = rows.toVector.sortBy(e => epochMicros(e.ts))
      var st = state.getOption.getOrElse(
        SessionState(Long.MaxValue, Long.MinValue, 0L, 0L))
      sorted.foreach { e =>
        val t = epochMicros(e.ts)
        val v = math.floor(e.value * 1000).toLong
        if (st.n > 0 && t / 1000L - st.last / 1000L > gapMs) {
          out += SessionOut(userId, microsTs(st.start), microsTs(st.last), st.n, st.vmilli)
          st = SessionState(t, t, 1L, v)
        } else {
          st = SessionState(math.min(st.start, t), math.max(st.last, t),
            st.n + 1, st.vmilli + v)
        }
      }
      state.update(st)
      if (streaming) state.setTimeoutTimestamp(st.last / 1000L + gapMs)
    }
    out.result().iterator
  }

  /** Event-time sessionization with an inactivity gap: emits one row per
    * closed session. State per user is O(1); sessions close via event-time
    * timeout as the watermark passes lastTs + gap.
    */
  def sessionize(events: Dataset[EventRow], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionUpdate(gapMinutes * 60000L, streaming = true))
  }

  /** One-shot batch replay of [[sessionize]] through the SAME
    * flatMapGroupsWithState fold (batch execution calls the function once
    * per key with all of its rows). Batch never fires event-time timeouts,
    * so each user's final open session would stay in (discarded) state; a
    * per-user flush sentinel one tick past the inactivity gap forces it to
    * emit exactly as the watermark would in a stream — the sentinel's own
    * one-event session is the only state left behind. This is the
    * DuckDB-oracle-checkable surface for the sessionization operator
    * (CORRECTNESS q7_sessions).
    */
  def sessionizeOneShot(events: Dataset[EventRow], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    val sentinels = events.toDF()
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("mts"))
      .select(lit(-1L).as("event_id"),
        timestamp_millis(unix_millis(col("mts")) + gapMs + 1L).as("ts"),
        col("user_id"), lit("__flush__").as("event_type"), lit(0.0).as("value"))
      .as[EventRow]
    events.unionByName(sentinels)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        sessionUpdate(gapMs, streaming = false))
  }
}
