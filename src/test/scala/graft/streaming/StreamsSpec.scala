package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.app.Corpus
import graft.engine.PageSlim
import graft.streaming.Streams.EventRow
import graft.synth.CorpusGen

class StreamsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("streams-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:${minute / 60}%02d:${minute % 60}%02d")
      .ensuring(_ != null)

  private def tsAt(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("streaming extraction over a file source matches batch output") {
    val sfDir = "/root/testdata/sf0.001"
    Corpus.ensure(spark, sfDir)
    val q = Streams.extractStream(spark, Corpus.pagesPath(sfDir))
      .toDF().select("url", "text")
      .writeStream.format("memory").queryName("sx").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT url, text FROM sx").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val batch = graft.engine.Pipeline
      .extract(spark.read.parquet(Corpus.pagesPath(sfDir)))
      .toDF().select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed == batch)
  }

  test("streaming extraction starts over an empty landing directory") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-empty-landing").toString
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    val q = Streams.extractStream(spark, inDir)
      .toDF().select("url", "text")
      .writeStream.format("memory").queryName("sempty").outputMode("append").start()
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM sempty").count() == 0L)
    // one wave, landed as an atomic single-file drop
    val wave = (0L until 40L).map { i =>
      val p = CorpusGen.pageFor(i)._2
      PageSlim(p.url, p.html, p.lang)
    }
    wave.toDS().coalesce(1).write.parquet(s"$base/stage")
    val part = new java.io.File(s"$base/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$inDir/wave0.parquet"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT url, text FROM sempty").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val batch = graft.engine.Pipeline.extract(spark.read.parquet(s"$inDir/wave0.parquet"))
      .toDF().select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(batch.length == 40)
    assert(streamed.length == batch.length && streamed.toMap == batch.toMap)
  }

  test("watermarked hourly window aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streams.hourlyEventCounts(mem.toDF())
      .writeStream.format("memory").queryName("hw").outputMode("complete").start()
    mem.addData(
      EventRow(1, tsAt(10, 5), 1, "click", 1.5),
      EventRow(2, tsAt(10, 50), 2, "click", 2.25),
      EventRow(3, tsAt(11, 1), 1, "view", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM hw ORDER BY hour, event_type").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2L)
    assert(rows(0).getAs[Long]("sum_vmilli") == 1500L + 2250L)
    assert(rows(1).getAs[String]("event_type") == "view")
  }

  test("stream-stream interval join: in-window quotes matched, out-of-window dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val probes = MemoryStream[EventRow]
    val quotes = MemoryStream[EventRow]
    val q = Streams.intervalJoinStream(probes.toDF(), quotes.toDF(), lagMinutes = 10)
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    quotes.addData(
      EventRow(10, tsAt(10, 0), 1, "view", 0.0),  // 5 min before probe: in window
      EventRow(11, tsAt(9, 50), 1, "view", 0.0),  // 15 min before: out of window
      EventRow(12, tsAt(10, 6), 1, "view", 0.0),  // 1 min AFTER probe: out
      EventRow(13, tsAt(10, 1), 2, "view", 0.0))  // other user
    probes.addData(EventRow(1, tsAt(10, 5), 1, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT probe_id, quote_id FROM ivj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 10L)))
  }

  test("stream-static enrichment join: broadcast dim, left-join pass-through") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = Streams.enrichStream(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    mem.addData(
      EventRow(1, tsAt(10, 0), 1, "click", 1.0),
      EventRow(2, tsAt(10, 1), 2, "view", 2.0),
      EventRow(3, tsAt(10, 2), 99, "click", 3.0)) // no dim row -> null tier
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT event_id, tier FROM enr").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
    // the batch shape of the same join must be a broadcast hash join
    val p = Streams.enrichStream(
      Seq(EventRow(1, tsAt(10, 0), 1, "click", 1.0)).toDS().toDF(), dim)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dim must broadcast:\n$p")
  }

  test("streaming dedup drops duplicate texts within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.dedupStream(
        mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    mem.addData(
      (1L, tsAt(10, 0), "same text"),
      (2L, tsAt(10, 1), "same text"),   // dup within watermark -> dropped
      (3L, tsAt(10, 2), "other text"))
    q.processAllAvailable()
    mem.addData((4L, tsAt(10, 3), "same text")) // still within horizon -> dropped
    q.processAllAvailable()
    q.stop()
    val ids = spark.sql("SELECT doc_id FROM dd ORDER BY doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 3L))
  }

  test("flatMapGroupsWithState sessionization closes on gap and watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // session A: two events 5 min apart; then a 2-hour-later event both
    // closes A by in-batch gap logic and advances the watermark past it
    mem.addData(
      EventRow(1, tsAt(10, 0), 7, "click", 1.0),
      EventRow(2, tsAt(10, 5), 7, "click", 2.0))
    q.processAllAvailable()
    mem.addData(EventRow(3, tsAt(12, 0), 7, "click", 4.0))
    q.processAllAvailable()
    mem.addData(EventRow(4, tsAt(14, 0), 8, "view", 0.5))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.sql("SELECT * FROM sess ORDER BY session_start").collect()
    assert(sessions.nonEmpty, "first session must have been emitted")
    val first = sessions(0)
    assert(first.getAs[Long]("user_id") == 7L)
    assert(first.getAs[Long]("n_events") == 2L)
    assert(first.getAs[Long]("sum_vmilli") == 3000L)
    assert(first.getAs[Timestamp]("session_end") == tsAt(10, 5))
  }

  test("hourly agg, multi-batch: a genuinely late row is dropped and finalized windows never change") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streams.hourlyEventCounts(mem.toDF())
      .writeStream.format("memory").queryName("hwlate").outputMode("append").start()
    // batch 1: two clicks inside [10:00, 11:00)
    mem.addData(
      EventRow(1, tsAt(10, 5), 1, "click", 1.0),
      EventRow(2, tsAt(10, 40), 2, "click", 2.0))
    q.processAllAvailable()
    // batch 2: an 11:30 event -> watermark advances to 11:20, past the
    // 10:00 window's end -> that window finalizes and emits with n=2
    mem.addData(EventRow(3, tsAt(11, 30), 1, "click", 4.0))
    q.processAllAvailable()
    // batch 3: a LATE click at 10:20 (event time far below the 11:20
    // watermark) -> the watermark drops it; the emitted window must not
    // change (append mode cannot retract)
    mem.addData(EventRow(4, tsAt(10, 20), 3, "click", 8.0))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsDroppedByWatermark).sum
    q.stop()
    val rows = spark.sql("SELECT * FROM hwlate ORDER BY hour, event_type").collect()
    assert(rows.length == 1, s"only the finalized 10:00 window emits: ${rows.mkString}")
    assert(rows(0).getAs[Timestamp]("hour") == tsAt(10, 0))
    assert(rows(0).getAs[Long]("n_events") == 2L, "the late row must NOT be counted")
    assert(rows(0).getAs[Long]("sum_vmilli") == 3000L)
    assert(dropped >= 1L, s"the watermark must report the dropped late row, got $dropped")
  }

  test("streaming dedup, multi-batch: late dup dropped, state evicted past the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.dedupStream(mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("ddlate").outputMode("append").start()
    mem.addData((1L, tsAt(10, 0), "A"))              // batch 1: emits
    q.processAllAvailable()
    mem.addData((2L, tsAt(11, 0), "B"))              // batch 2: watermark -> 10:50,
    q.processAllAvailable()                           // "A"@10:00 state (horizon 10:10) evicted
    mem.addData((3L, tsAt(10, 5), "A"))              // batch 3: LATE (< 10:50) -> dropped
    q.processAllAvailable()
    mem.addData((4L, tsAt(11, 5), "A"))              // batch 4: fresh "A", state gone -> emits
    q.processAllAvailable()
    val state = q.lastProgress.stateOperators
    val rowsInState = if (state.isEmpty) -1L else state.map(_.numRowsTotal).sum
    q.stop()
    val ids = spark.sql("SELECT doc_id FROM ddlate ORDER BY doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L, 4L),
      s"late dup dropped, re-seen text past the horizon re-emits (state bounded): $ids")
    assert(rowsInState >= 0 && rowsInState <= 2,
      s"dedup state must hold only in-horizon keys, got $rowsInState")
  }

  test("interval join, multi-batch: expired probe state is GC'd and a late quote never matches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val probes = MemoryStream[EventRow]
    val quotes = MemoryStream[EventRow]
    val q = Streams.intervalJoinStream(probes.toDF(), quotes.toDF(),
        lagMinutes = 10, delayMinutes = 5)
      .writeStream.format("memory").queryName("ivjlate").outputMode("append").start()
    // batch 1: an unmatched probe at 11:00, plus 13:00 traffic on another
    // user that advances both watermarks (probe wm -> 12:55, quote wm -> 12:45)
    probes.addData(
      EventRow(1, tsAt(11, 0), 1, "click", 0.0),
      EventRow(2, tsAt(13, 0), 2, "click", 0.0))
    quotes.addData(EventRow(20, tsAt(13, 0), 2, "view", 0.0))
    q.processAllAvailable()
    // batch 2: a quote at 10:58 — inside probe 1's event-time range, but
    // far below the quote watermark: the join must NOT emit a pair (probe 1
    // was GC'd and the quote is dropped as late)
    quotes.addData(EventRow(10, tsAt(10, 58), 1, "view", 0.0))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsDroppedByWatermark).sum
    q.stop()
    val pairs = spark.sql("SELECT probe_id, quote_id FROM ivjlate").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 20L)),
      s"late quote must not resurrect an expired probe: $pairs")
    assert(dropped >= 1L, s"the late quote must be dropped by the watermark, got $dropped")
  }

  test("extractStream: checkpointed file sink resumes exactly-once (no dupes, no loss)") {
    import org.apache.spark.sql.functions.{col, crc32, pmod}
    // The streaming analogue of the batch A8 resume test: run the
    // extraction stream into a parquet sink with a checkpoint, STOP the
    // query while unprocessed input remains, restart from the same
    // checkpoint, and assert the sink holds the batch answer exactly —
    // committed batches are not re-emitted (the sink's _spark_metadata
    // transaction log) and the input that arrived across the outage is
    // not lost (the checkpointed source offsets).
    val sfDir = "/root/testdata/sf0.001"
    Corpus.ensure(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft-exactly-once").toString
    val inDir = s"$base/in"; val sinkDir = s"$base/sink"; val cpDir = s"$base/cp"
    new java.io.File(inDir).mkdirs()
    val pages = spark.read.parquet(Corpus.pagesPath(sfDir))
      .select("url", "warc_ts", "html", "lang")
    // three disjoint input waves, landed as atomic single-file drops
    def addWave(i: Int): Unit = {
      val stage = s"$base/stage$i"
      pages.filter(pmod(crc32(col("url")), org.apache.spark.sql.functions.lit(3)) === i)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/wave$i.parquet"))
    }
    def startQuery() = Streams
      .extractStream(spark, inDir, sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      .toDF().select("url", "text")
      .writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", cpDir)
      .outputMode("append").start()
    addWave(0)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // outage: wave0 committed, nothing else seen yet
    addWave(1); addWave(2) // input keeps arriving while the query is down
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(q2.lastProgress.batchId >= 1L,
      "the restarted query must resume at a later batch id, not restart at 0")
    q2.stop()
    // a third restart with no new input must emit nothing new (idempotence)
    val q3 = startQuery()
    q3.processAllAvailable()
    q3.stop()
    val sunk = spark.read.parquet(sinkDir).collect()
      .map(r => r.getString(0) -> r.getString(1))
    val batch = graft.engine.Pipeline
      .extract(spark.read.parquet(Corpus.pagesPath(sfDir)))
      .toDF().select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(sunk.length == batch.length,
      s"exactly-once violated: sink has ${sunk.length} rows, batch ${batch.length}")
    assert(sunk.toMap == batch.toMap)
  }

  test("one-shot batch sessionize replays the same fold and closes all real sessions") {
    import spark.implicits._
    // user 7: two sessions (gap 115 min); user 8: one single-event session
    val events = Seq(
      EventRow(1, tsAt(10, 0), 7, "click", 1.0),
      EventRow(2, tsAt(10, 5), 7, "click", 2.0),
      EventRow(3, tsAt(12, 0), 7, "click", 4.0),
      EventRow(4, tsAt(14, 0), 8, "view", 0.5)).toDS()
    val out = Streams.sessionizeOneShot(events, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(out.length == 3)
    assert(out(0) == Streams.SessionOut(7, tsAt(10, 0), tsAt(10, 5), 2, 3000L))
    assert(out(1) == Streams.SessionOut(7, tsAt(12, 0), tsAt(12, 0), 1, 4000L))
    assert(out(2) == Streams.SessionOut(8, tsAt(14, 0), tsAt(14, 0), 1, 500L))
  }
}
