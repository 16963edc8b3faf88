package graftbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import graft.sources.{Connectors, JdbcUpsertSink}
import graft.streaming.{CovidStreamPipeline, ParquetUpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** A run of messages offered to the source in one `addData` call: the
  * source offset it got, the message index range it holds, and when it
  * was handed over.
  */
final case class Chunk(offset: Long, from: Int, until: Int, sentNs: Long)

/** What the engine reported for one micro-batch: the source offsets it
  * consumed, `(start, end]` (start -1 for the first batch), and the
  * watermark it ran under (epoch ms).
  */
final case class BatchInfo(batchId: Long, start: Long, end: Long,
    watermarkMs: Long)

object BatchInfo {
  private def offset(s: String): Long =
    if (s == null || s == "null") -1L else s.trim.toLong

  def of(p: StreamingQueryProgress): BatchInfo = BatchInfo(p.batchId,
    offset(p.sources(0).startOffset), offset(p.sources(0).endOffset),
    Option(p.eventTime.get("watermark"))
      .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L))
}

/** Pure derivations over the send log and the engine's progress records;
  * the self-test pins each of them.
  */
object Derive {
  private val MinuteMs = 60000L

  /** End of the 1-minute window holding midnight of `day`. */
  def windowEndMs(day: Int): Long =
    Gen.BaseDay.plusDays(day.toLong).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli + MinuteMs

  /** The micro-batch that consumed source offset `offset`. */
  def batchOf(batches: Seq[BatchInfo], offset: Long): Option[BatchInfo] =
    batches.find(b => b.start < offset && offset <= b.end)

  /** Watermark the windowed aggregate uses to drop late rows in each
    * batch. Spark keeps two watermarks per stateful operator: eviction
    * uses the batch's own (the one its progress reports), late-row
    * filtering uses the previous batch's (WatermarkPropagator), so a
    * row is late when its window ended at or before the watermark the
    * previous batch ran under. The first batch drops nothing.
    */
  def lateWatermarks(batches: Seq[BatchInfo]): Map[Long, Long] = {
    val byId = batches.map(b => b.batchId -> b.watermarkMs).toMap
    batches.map(b => b.batchId -> byId.getOrElse(b.batchId - 1, 0L)).toMap
  }

  /** Messages the engine drops as late: a dated message whose window
    * end is at or before the late-row watermark of the batch carrying it.
    */
  def dropped(msgs: IndexedSeq[Msg], chunks: Seq[Chunk],
      batches: Seq[BatchInfo]): Set[Int] = {
    val late = lateWatermarks(batches)
    chunks.flatMap { c =>
      val wm = batchOf(batches, c.offset).map(b => late(b.batchId))
        .getOrElse(0L)
      (c.from until c.until).filter { i =>
        msgs(i).day >= 0 && windowEndMs(msgs(i).day) <= wm
      }
    }.toSet
  }

  /** Per-message latency in ms, measured from each message's due time
    * to the return of the foreachBatch call whose batch carried it.
    * Messages whose batch has no recorded return are left out (and
    * counted by the caller as not drained).
    */
  def latenciesMs(chunks: Seq[Chunk], dueNs: Int => Long,
      batches: Seq[BatchInfo], returnNs: Long => Option[Long]): Seq[Double] =
    chunks.flatMap { c =>
      batchOf(batches, c.offset).flatMap(b => returnNs(b.batchId)) match {
        case Some(r) => (c.from until c.until).map(i => (r - dueNs(i)) / 1e6)
        case None => Nil
      }
    }
}

/** One streaming query of the flagship pipeline over a MemoryStream, with
  * the bench's foreachBatch wrapper around the sink under test. The
  * wrapper records when each call returns; when traced it also
  * materialises the batch (the parse/aggregate/enrich work) before the
  * sink call, so the two are timed apart, and reads the cumulative
  * counters `written` returns before and after the sink call.
  */
final class StreamRun(spark: SparkSession, dim: DataFrame, ckpt: Path,
    trigger: Trigger, sink: (DataFrame, Long) => Unit, tracer: Tracer,
    written: () => Map[String, Double] = () => Map.empty) {
  import spark.implicits._

  val source: MemoryStream[String] = MemoryStream[String](spark)
  val returns = new ConcurrentHashMap[Long, Long]()
  /** Traced runs only: per batch id, the materialisation and sink times,
    * the batch's row count and how much each `written` counter grew
    * during the sink call.
    */
  val calls = new ConcurrentHashMap[Long, Map[String, Double]]()
  val chunks = ArrayBuffer.empty[Chunk]
  @volatile private var lastOffset = -1L

  private val body: (DataFrame, Long) => Unit = (batch, id) => {
    val g = id.toString
    tracer.span("foreach_batch", "trigger", g) {
      if (tracer.enabled) {
        batch.persist()
        val t0 = System.nanoTime()
        val n = tracer.span("transform", "foreach_batch", g)(batch.count())
        val w0 = written()
        val t1 = System.nanoTime()
        tracer.span("sink", "foreach_batch", g)(sink(batch, id))
        val t2 = System.nanoTime()
        val w1 = written()
        batch.unpersist()
        calls.put(id, w1.map { case (k, v) => k -> (v - w0.getOrElse(k, 0.0)) } ++
          Map("transform_ms" -> (t1 - t0) / 1e6,
          "sink_ms" -> (t2 - t1) / 1e6, "rows" -> n.toDouble))
      } else sink(batch, id)
    }
    returns.put(id, System.nanoTime())
  }

  /** One traced figure over the given batches (those with a record). */
  def callValues(ids: Seq[Long], key: String): Seq[Double] =
    ids.flatMap(id => Option(calls.get(id)).flatMap(_.get(key)))

  val query: StreamingQuery = CovidStreamPipeline.transform(dim)(source.toDF())
    .writeStream
    .outputMode("update")
    .foreachBatch(body)
    .option("checkpointLocation", ckpt.toString)
    .trigger(trigger)
    .start()

  /** Hand messages `[from, until)` of `msgs` to the source. */
  def offer(msgs: IndexedSeq[Msg], from: Int, until: Int): Chunk = {
    val off = source.addData((from until until).map(msgs(_).json)).json.toLong
    lastOffset = off
    val c = Chunk(off, from, until, System.nanoTime())
    chunks += c
    c
  }

  /** Offer `msgs` on an open-loop schedule: message i is due at
    * `t0 + i / rate`; every `tickNs` the generator hands over all
    * messages that have come due. Returns each message's due time.
    */
  def pace(msgs: IndexedSeq[Msg], rate: Double, tickNs: Long): Array[Long] = {
    val t0 = System.nanoTime()
    val due = Array.tabulate(msgs.size)(i => t0 + (i * 1e9 / rate).toLong)
    var next = 0
    var tick = 1L
    while (next < msgs.size) {
      val at = t0 + tick * tickNs
      val wait = at - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      var until = next
      while (until < msgs.size && due(until) <= now) until += 1
      if (until > next) { offer(msgs, next, until); next = until }
      tick = math.max(tick + 1, (now - t0) / tickNs + 1)
    }
    due
  }

  /** Wait until every offered message is in a committed batch whose
    * foreachBatch call returned; false on timeout or query failure.
    */
  def awaitDrained(timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def done = Option(query.lastProgress).exists { p =>
      val b = BatchInfo.of(p)
      b.end >= lastOffset && returns.containsKey(b.batchId)
    } || lastOffset < 0
    while (!done && query.isActive && System.nanoTime() < deadline)
      Thread.sleep(2)
    done
  }

  def batches: Seq[BatchInfo] =
    query.recentProgress.toSeq.map(BatchInfo.of)

  def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

  /** Stops the query and waits for its thread; a failure stays readable
    * in `query.exception`.
    */
  def stop(): Unit = query.stop()
}

/** The flagship stream workloads: an open-loop steady stream into the
  * JDBC upsert sink, and a closed-loop backlog drain into the parquet
  * upsert sink.
  */
object Streams {
  val SteadyLocations = 250
  val SteadyRate = 2000.0
  val SteadyDaySeconds = 3.0
  val SteadyWarmSeconds = 6.0
  /** A fixed one-second trigger: each micro-batch carries one second of
    * messages. With back-to-back triggers (`ProcessingTime(0)`) the loop
    * keeps every core busy at this rate and latency follows whatever else
    * runs: over four alternating pairs on a 4-core host, p50 ranged
    * 769-920 ms back-to-back and 1201-1338 ms with this trigger.
    */
  val SteadyTrigger: Trigger = Trigger.ProcessingTime(1000)
  val TickNs = 10000000L
  /** The steady stream's latency limit at p99, and how long after the
    * generator stops the backlog may take to drain.
    */
  val LatencyLimitMs = 10000.0
  val DrainTimeoutMs = 10000L
  val BackfillLocations = 2000
  val BackfillBatch = 100000
  val BackfillWarm = 20000
  /** Backlog size in batches per requested second of measurement. */
  val BackfillBatchesPerSecond = 0.5
  val MalformedShare = 0.01
  val LateShare = 0.01
  val SetupReps = 3
  private val Varchars = "location VARCHAR(64), continent VARCHAR(32)"
  private val Key = Seq("window_start", "location")

  /** Cast every column but processing_time to string, rows sorted. */
  def canonical(df: DataFrame): Seq[String] = {
    val cols = df.columns.filter(_ != "processing_time").sorted
    df.selectExpr(cols.map(c => s"CAST(`$c` AS STRING) AS `$c`").toSeq: _*)
      .collect().map(_.mkString("|")).sorted.toSeq
  }

  /** Batch run of the same pipeline over the messages the stream kept. */
  def expected(spark: SparkSession, dim: DataFrame, msgs: IndexedSeq[Msg],
      dropped: Set[Int]): DataFrame = {
    import spark.implicits._
    val kept = msgs.indices.filterNot(dropped).map(msgs(_).json)
    CovidStreamPipeline.transform(dim)(kept.toDF("value"))
  }

  /** Multiset equality of the canonical rows; the detail names the first
    * differences.
    */
  def compare(expected: DataFrame, actual: DataFrame): (Boolean, Map[String, Any]) = {
    val e = canonical(expected)
    val a = canonical(actual)
    (e == a, Map("expected_rows" -> e.size, "actual_rows" -> a.size,
      "missing" -> e.diff(a).take(3), "unexpected" -> a.diff(e).take(3)))
  }

  /** Batches that consumed at least one of `chunks`. */
  private def carrying(batches: Seq[BatchInfo], chunks: Seq[Chunk]): Seq[BatchInfo] =
    batches.filter(b => chunks.exists(c => b.start < c.offset && c.offset <= b.end))

  def steady(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tStart = System.nanoTime()
    val dimension = Gen.dimension(ctx.seed, SteadyLocations)
    val dim = dimension.toDF(spark)
    val perDay = (SteadyRate * SteadyDaySeconds).toLong
    val nWarm = (SteadyRate * SteadyWarmSeconds).toInt
    val nTimed = (SteadyRate * ctx.seconds).toInt
    val warm = Gen.stream(ctx.seed, 2, dimension, 0, nWarm, perDay,
      MalformedShare, LateShare).toIndexedSeq
    val timed = Gen.stream(ctx.seed, 3, dimension, nWarm, nTimed, perDay,
      MalformedShare, LateShare).toIndexedSeq
    val all = warm ++ timed
    val genS = (System.nanoTime() - tStart) / 1e9
    // A set-up repetition stands the pipeline up from nothing: a fresh
    // Derby database and checkpoint, the query started and a first batch
    // of warm-up messages committed. The last repetition's query then
    // runs the rest of the warm-up on the open-loop schedule.
    val nFirst = nWarm / 4
    var url = ""
    var run: StreamRun = null
    val reps = (1 to SetupReps).map { rep =>
      if (run != null) run.stop()
      val t0 = System.nanoTime()
      url = ctx.derbyUrl(s"steady$rep")
      val sink = new JdbcUpsertSink(url, "covid_aggregates", Key,
        driver = Connectors.DerbyDriver,
        createTableColumnTypes = Some(Varchars))
      run = new StreamRun(spark, dim, ctx.dir(s"ckpt-steady$rep"),
        SteadyTrigger, sink.upsert, ctx.tracer)
      run.offer(warm, 0, nFirst)
      run.query.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    run.pace(warm.slice(nFirst, nWarm), SteadyRate, TickNs)
    val warmDrained = run.awaitDrained(60000)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = ctx.sessionS + genS + Stats.median(reps) + warmS

    val nWarmChunks = run.chunks.size
    ctx.beginWindow()
    val t0 = System.nanoTime()
    val dueTimed = run.pace(timed, SteadyRate, TickNs)
    val genEnd = System.nanoTime()
    val drained = warmDrained && run.awaitDrained(DrainTimeoutMs)
    val tEnd = System.nanoTime()
    val window = ctx.endWindow()
    run.stop()
    val failure = run.query.exception.map(_.getMessage)

    val batches = run.batches
    val timedChunks = run.chunks.drop(nWarmChunks).toSeq
    val lat = Derive.latenciesMs(timedChunks, dueTimed(_), batches,
      id => Option(run.returns.get(id)))
    val lateMaxMs = timedChunks.map(c =>
      (c.sentNs - dueTimed(c.until - 1)) / 1e6).foldLeft(0.0)(math.max)
    // Chunk indices are per phase; shift the timed ones into `all`.
    val allChunks = run.chunks.take(1).toSeq ++
      run.chunks.slice(1, nWarmChunks).map(c =>
        c.copy(from = c.from + nFirst, until = c.until + nFirst)) ++
      timedChunks.map(c => c.copy(from = c.from + nWarm, until = c.until + nWarm))
    val drop = Derive.dropped(all, allChunks, batches)
    val (correct, detail) = compare(expected(spark, dim, all, drop),
      Connectors.jdbcDimReader(spark, url, "covid_aggregates", "", "",
        driver = Connectors.DerbyDriver).load())
    val data = carrying(batches, timedChunks).map(_.batchId)
    val targetRows = if (ctx.tracer.enabled) countRows(url) else 0L
    val p99 = Stats.quantile(lat, 0.99)
    val failed = (if (correct) 0 else 1) + (if (drained) 0 else 1) +
      (if (p99 <= LatencyLimitMs) 0 else 1) + failure.size
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.quantile(lat, 0.5),
      "latency_p99_ms" -> p99,
      "throughput_per_s" -> nTimed / ((tEnd - t0) / 1e9),
      "cpu_s" -> window.cpuS)
    val layer = streamLayers(ctx, run, data) ++ Map(
      "jdbc_sink.upsert_ms_p50" -> Stats.quantile(run.callValues(data, "sink_ms"), 0.5),
      "jdbc_sink.upsert_ms_p99" -> Stats.quantile(run.callValues(data, "sink_ms"), 0.99),
      "jdbc_sink.rows_per_call_p50" -> Stats.quantile(run.callValues(data, "rows"), 0.5),
      "jdbc_sink.target_rows_last" -> targetRows.toDouble,
      "pipeline.rows_rejected" -> rejected(ctx, timed),
      "gen.late_max_ms" -> lateMaxMs,
      "gen.events_sent" -> nTimed.toDouble)
    Result(correct, data.size, failed, e2e, layer, Map(
      "latency_samples" -> lat.size, "rate_per_s" -> SteadyRate,
      "locations" -> SteadyLocations, "events_timed" -> nTimed,
      "events_warm" -> nWarm, "setup_reps_s" -> reps, "warm_s" -> warmS,
      "generator_s" -> (genEnd - t0) / 1e9, "drained" -> drained,
      "drain_s" -> (tEnd - genEnd) / 1e9, "query_failure" -> failure,
      "trigger_ms" -> triggerMs(run, data),
      "check" -> detail, "late_dropped_events" -> drop.size), window)
  }

  def backfill(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tStart = System.nanoTime()
    val dimension = Gen.dimension(ctx.seed, BackfillLocations)
    val dim = dimension.toDF(spark)
    val nBatches = math.max(2, math.round(ctx.seconds * BackfillBatchesPerSecond).toInt)
    val warm = Gen.stream(ctx.seed, 4, dimension, 0, BackfillWarm,
      BackfillWarm, MalformedShare, LateShare)
    // Full-size batch k holds simulated day k + 1 (the small warm-up batch
    // is day 0); batch 0 is warm-up too, the timed ones are 1 to nBatches.
    val full = (0 to nBatches).map(k =>
      Gen.stream(ctx.seed, 10L + k, dimension, (k + 1).toLong * BackfillBatch,
        BackfillBatch, BackfillBatch, MalformedShare, LateShare))
    val all: IndexedSeq[Msg] = (warm ++ full.flatten).toIndexedSeq
    val timedFrom = BackfillWarm + BackfillBatch
    val genS = (System.nanoTime() - tStart) / 1e9
    var store: ParquetUpsertSink = null
    var run: StreamRun = null
    val reps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val s = new ParquetUpsertSink(ctx.dir(s"store$rep").resolve("covid").toString, Key)
      store = s
      // Traced runs also count the bytes and rows each sink call wrote.
      run = new StreamRun(spark, dim, ctx.dir(s"ckpt-backfill$rep"),
        Trigger.ProcessingTime(0), s.upsert, ctx.tracer,
        ctx.layers.map(l => () => l.written()).getOrElse(() => Map.empty))
      run.offer(all, 0, BackfillWarm)
      run.query.processAllAvailable()
      if (rep < SetupReps) run.stop()
      (System.nanoTime() - t0) / 1e9
    }
    // The last repetition's query also drains one full-size batch, so the
    // JIT has compiled the per-message path before the window opens.
    val w0 = System.nanoTime()
    run.offer(all, BackfillWarm, timedFrom)
    run.query.processAllAvailable()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = ctx.sessionS + genS + Stats.median(reps) + warmS

    val nWarmChunks = run.chunks.size
    ctx.beginWindow()
    val t0 = System.nanoTime()
    val perBatchMs = (0 until nBatches).map { k =>
      val b0 = System.nanoTime()
      val from = timedFrom + k * BackfillBatch
      run.offer(all, from, from + BackfillBatch)
      run.query.processAllAvailable()
      (System.nanoTime() - b0) / 1e6
    }
    val tEnd = System.nanoTime()
    val window = ctx.endWindow()
    run.stop()
    val failure = run.query.exception.map(_.getMessage)

    val batches = run.batches
    val drop = Derive.dropped(all, run.chunks.toSeq, batches)
    val (correct, detail) = compare(expected(spark, dim, all, drop), store.read(spark))
    val data = carrying(batches, run.chunks.drop(nWarmChunks).toSeq).map(_.batchId)
    val events = nBatches.toLong * BackfillBatch
    val failed = (if (correct) 0 else 1) + failure.size
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.quantile(perBatchMs, 0.5),
      "latency_p99_ms" -> Stats.quantile(perBatchMs, 0.99),
      "throughput_per_s" -> events / ((tEnd - t0) / 1e9),
      "cpu_s" -> window.cpuS)
    val storeRows = if (ctx.tracer.enabled) store.read(spark).count() else 0L
    val rowsWritten = run.callValues(data, "rows_written")
    val layer = streamLayers(ctx, run, data) ++ Map(
      "parquet_sink.upsert_ms_p50" -> Stats.quantile(run.callValues(data, "sink_ms"), 0.5),
      "parquet_sink.bytes_written_per_call" -> Stats.median(run.callValues(data, "bytes_written")),
      "parquet_sink.rows_written_per_call" -> Stats.median(rowsWritten),
      "parquet_sink.store_rows_last" -> storeRows.toDouble,
      "parquet_sink.rewrite_ratio" -> Stats.median(rowsWritten.zip(run.callValues(data, "rows"))
        .collect { case (w, n) if n > 0 => w / n }),
      "pipeline.rows_rejected" -> rejected(ctx, all.drop(timedFrom)),
      "gen.events_sent" -> events.toDouble)
    Result(correct, nBatches, failed, e2e, layer, Map(
      "latency_samples" -> perBatchMs.size, "batch_events" -> BackfillBatch,
      "batches" -> nBatches, "locations" -> BackfillLocations,
      "per_batch_ms" -> perBatchMs, "setup_reps_s" -> reps, "warm_s" -> warmS,
      "trigger_ms" -> triggerMs(run, data),
      "query_failure" -> failure, "check" -> detail,
      "late_dropped_events" -> drop.size), window)
  }

  /** Per-layer figures both streams share, over the timed data batches:
    * the engine's per-trigger durations and state-store numbers from its
    * progress records (rows dropped late are the stateful operator's own
    * count), and the pipeline's materialisation time. Traced
    * runs also turn each progress record into a trigger span.
    */
  private def streamLayers(ctx: Ctx, run: StreamRun, ids: Seq[Long]): Map[String, Double] = {
    val idSet = ids.toSet
    // Traced runs read the bench's own StreamingQueryListener; the query's
    // recent-progress buffer holds the same records.
    val all = ctx.layers.map(_.stream.progress.filter(_.id == run.query.id))
      .getOrElse(run.progress)
    val prog = all.filter(p => idSet(p.batchId))
    def dur(k: String) = prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    val state = prog.flatMap(_.stateOperators.headOption)
    if (ctx.tracer.enabled) prog.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp)
      val startNs = s.getEpochSecond * 1000000000L + s.getNano
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      ctx.tracer.add(Span("trigger", "", p.batchId.toString, startNs, startNs + d * 1000000L))
    }
    Map(
      "microbatch.trigger_ms_p50" -> Stats.quantile(dur("triggerExecution"), 0.5),
      "microbatch.trigger_ms_p99" -> Stats.quantile(dur("triggerExecution"), 0.99),
      "microbatch.add_batch_ms_p50" -> Stats.quantile(dur("addBatch"), 0.5),
      "microbatch.query_planning_ms_p50" -> Stats.quantile(dur("queryPlanning"), 0.5),
      "microbatch.wal_commit_ms_p50" -> Stats.quantile(dur("walCommit"), 0.5),
      "microbatch.commit_offsets_ms_p50" -> Stats.quantile(dur("commitOffsets"), 0.5),
      "microbatch.count" -> prog.size.toDouble,
      "state.rows_total_last" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes_last" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms_p50" -> Stats.quantile(state.map(_.commitTimeMs.toDouble), 0.5),
      "state.rows_updated_sum" -> state.map(_.numRowsUpdated.toDouble).sum,
      "pipeline.rows_dropped_late" -> state.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "pipeline.transform_ms_p50" -> Stats.quantile(run.callValues(ids, "transform_ms"), 0.5))
  }

  /** Each batch's trigger and addBatch durations, from its progress record. */
  private def triggerMs(run: StreamRun, ids: Seq[Long]): Seq[Seq[Long]] = {
    val idSet = ids.toSet
    run.progress.filter(p => idSet(p.batchId)).map(p => Seq(p.batchId,
      p.numInputRows) ++ Seq("triggerExecution", "addBatch").map(k =>
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(-1L)))
  }

  /** Of the timed messages, those the pipeline's parse stage rejects
    * (malformed input); traced runs only.
    */
  private def rejected(ctx: Ctx, msgs: IndexedSeq[Msg]): Double =
    if (!ctx.tracer.enabled) 0.0
    else {
      import ctx.spark.implicits._
      val parsed = CovidStreamPipeline.parse(msgs.map(_.json).toDF("value")).count()
      (msgs.size - parsed).toDouble
    }

  private def countRows(url: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM covid_aggregates")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally c.close()
  }
}
