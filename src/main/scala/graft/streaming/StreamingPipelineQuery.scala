package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.{QuerySpec, Tables}
import graft.operators.EventPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The reference's ENTIRE streaming consumer as one oracle-checked query
  * (VERDICT r11 #1): Kafka-shaped source → parse → null-reject →
  * watermark → tumbling-window multi-agg (update mode) → foreachBatch
  * keyed upsert → enrichment join over the upserted table
  * (spark_consumer_kafka.py:55-157). Everything upstream of the final
  * read runs as a real Structured Streaming query — MemoryStream
  * standing in for the Kafka socket (no broker in the sandbox; the
  * option surface is pinned by KafkaSurfaceSpec), ParquetUpsertSink
  * standing in for the MySQL PK table with the upsert semantics the
  * reference claims.
  *
  * The run is deliberately TWO AvailableNow executions over one
  * checkpoint: the second restarts from the first's offsets/state
  * (S7 checkpoint recovery on the oracle path, not just in specs), and
  * windows straddling the split are re-emitted by the second run and
  * REPLACED in the sink — exercising genuine keyed upsert, not blind
  * append. The replay is event-time-ordered, so the 10-minute
  * watermark (T1) drops nothing and the converged sink equals the
  * batch aggregate — which is why `join_enrich`'s oracle SQL applies
  * verbatim (stream/batch parity is additionally spec-proven in
  * StreamBatchParitySpec).
  *
  * Scale shape: identical to the batch flagship — ONE shuffle of
  * partial aggregates per micro-batch, state keyed by
  * (window, event_type), dim broadcast at the final join; the sink
  * merge is a left-anti join against the (small) changed-key set.
  */
object StreamingPipelineQuery {

  /** Top-level for the Spark encoder (executor deserialization has no
    * test/query outer scope).
    */
  final case class E(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Stateful streaming cost scales with shuffle partitions in a way
    * batch does not: every micro-batch loads/commits one state store
    * PER PARTITION (×4 store instances for a stream-stream join), so
    * 32 partitions over a fixture-sized replay is pure per-batch
    * overhead — measured 18.6 s → ~5 s on streaming_join at sf0.1.
    * The declared streaming queries right-size to 4 for the run
    * (8 until r18 — see the re-measurement below); at production
    * scale the partition count is the state-throughput lever and is
    * sized UP with the key space, exactly like the reference's
    * shuffle.partitions submit knob (AqeSpec pins the batch side of
    * that story).
    *
    * r18 re-measurement (interleaved width A/B, two rounds, plus a
    * per-batch listener decomposition — plans/r18): at fixture state
    * sizes the summed per-partition state-commit latency scales
    * ~linearly with width (8→4 cut it 2-4× on every RocksDB replay;
    * streaming_dedup_bounded 17.5→2.8 s summed, wall 11.6→8.7 s under
    * the same load regime) while the data-processing side is nowhere
    * near parallelism-bound, so every replay now right-sizes to 4;
    * width 2 measured within noise of 4 (commit keeps shrinking, wall
    * flat) — 4 keeps processing headroom. The production direction is
    * unchanged: size UP with the key space.
    *
    * The overrides land on a CHILD session (`spark.newSession()`:
    * shared context/catalog, isolated SQL conf + function registry) —
    * the caller's session is never mutated, so concurrent harnesses
    * cannot observe a replay's transient conf (the mutate-and-restore
    * form this replaces was safe only under sequential runners —
    * VERDICT r14 carried minor). Child sessions inherit the
    * builder-level confs (ANSI, timezone, RocksDB provider) and the
    * session extensions (the graft functions), so only the
    * replay-specific pairs are passed here.
    */
  private def withReplaySession[A](spark: SparkSession,
      confs: (String, String)*)(body: SparkSession => A): A = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    body(s)
  }

  /** Replay state-partition width, fixture-only: every replay runs at 4
    * (see the scaladoc above — the production lever is sized UP with
    * the key space).
    */
  private val ReplayWidth: (String, String) =
    "spark.sql.shuffle.partitions" -> "4"

  /** The session default is RocksDB (GraftConf — transformWithState
    * requires it), but the window-agg and join state here is KB-sized
    * HashMap territory, and a RocksDB instance OPEN per partition per
    * store per micro-batch (×4 store instances for a stream-stream
    * join) is the dominant fixed cost of a small replay. The two
    * queries whose operators don't need RocksDB pin the HDFS-backed
    * provider for their run; streaming_quantiles keeps RocksDB
    * (required). Production sizing goes the other way: GB-scale state
    * wants RocksDB regardless of open cost.
    */
  private val HdfsStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider")

  /** MemoryStream feeds collect the source table to the driver — the
    * declared streaming replays are sandbox stand-ins for the Kafka
    * reader (no broker jar), and a driver-side feed is inherent to
    * MemoryStream. Fine at fixture scale (≤ 100k rows at sf0.1) but a
    * driver-memory cliff on a real corpus, so the feed REFUSES
    * anything beyond an explicit ceiling instead of OOMing mid-bench
    * (ADVICE r12); production swaps in the pinned Kafka source
    * (DEPLOY.md) and never collects.
    */
  private[streaming] val MaxReplayRows = 2000000

  private[streaming] def boundedFeed[T](rows: Seq[T],
      what: String): Seq[T] = {
    require(rows.size <= MaxReplayRows,
      s"streaming fixture replay of $what is ${rows.size} rows — over " +
        s"the $MaxReplayRows-row driver-collect ceiling; the " +
        "MemoryStream feed is a sandbox stand-in, not a production " +
        "source")
    rows
  }

  /** No-data micro-batches are OFF for this replay (r18, guide §1.2
    * "fix the algorithm's passes"): each AvailableNow execution
    * appended a trailing no-data batch after its single data batch —
    * a full state-store load/commit cycle per partition (~1.2 s wall
    * here) that, in UPDATE output mode, can emit nothing (update-mode
    * window aggregation emits only on arriving data; the no-data
    * batch's sole job is watermark-driven state eviction, which is
    * invisible to the sink). The event-time-ordered feed means no
    * late data exists for delayed eviction to misclassify, so the
    * upserted store converges identically — oracle hash-gated.
    */
  private def run(spark0: SparkSession, dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth, HdfsStateStore,
      NoDataBatchesOff) { spark =>
    import spark.implicits._
    val rows = boundedFeed(Tables.t(spark, dir, "events").as[E]
      .collect().sortBy(_.ts.getTime).toSeq, "events")
    val split = rows.size * 2 / 3
    val work = Files.createTempDirectory("graft-streampipe").toString
    val sink = new ParquetUpsertSink(s"$work/store",
      Seq("window_start", "event_type"))
    val source = MemoryStream[E](spark)

    def drain(): Unit = {
      val q = EventPipeline.windowAgg(
        EventPipeline.rejectNulls(
          EventPipeline.parse(Tables.eventPropsSchema)(source.toDF()))
          .withWatermark("ts", "10 minutes"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.upsert _)
        .start()
      q.awaitTermination()
    }

    source.addData(rows.take(split): _*)
    drain()
    source.addData(rows.drop(split): _*)
    drain() // restart from the checkpoint; straddling windows upsert

    EventPipeline.enrich(Tables.eventTypeDim(spark))(sink.read(spark))
      .orderBy("window_start", "event_type")
  }

  /** Streamed KLL per-key quantiles on the oracle path (VERDICT r11
    * #7): StatefulOps.keyQuantiles — one KLL sketch per source as
    * transformWithState ValueState on RocksDB — driven over the
    * documents corpus in TWO rounds split on doc_id mod 3 ({0} then
    * {1,2} — each side covers every source), with the per-trigger
    * update-mode emissions
    * upserted by key so the converged table is each source's summary
    * over EVERYTHING streamed. Two AvailableNow executions over one
    * checkpoint put RocksDB state recovery on the oracle path too.
    * Exact vs percentile_disc because every fixture source holds ≤ k
    * values (the sketch never compacts) — the same regime
    * kll_quantiles' oracle relies on, shared verbatim.
    */
  private def runQuantiles(spark0: SparkSession,
      dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = boundedFeed(Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("double").as("value"))
      .as[(Long, String, Double)].collect().toSeq, "documents")
    val work = Files.createTempDirectory("graft-streamkll").toString
    val sink = new ParquetUpsertSink(s"$work/store", Seq("key"))
    val source = MemoryStream[(Long, String, Double)](spark)

    def drain(): Unit = {
      val q = StatefulOps.keyQuantiles(
        source.toDF().toDF("doc_id", "key", "value")
          .select(col("key"), col("value"))
          .as[StatefulOps.KeyedValue])
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.upsert _)
        .start()
      q.awaitTermination()
    }

    source.addData(rows.filter(_._1 % 3 == 0): _*)
    drain()
    source.addData(rows.filter(_._1 % 3 != 0): _*)
    drain() // restart from the checkpoint; sketches merge in state

    sink.read(spark)
      .select(col("key").as("source"), col("p25"), col("p50"),
        col("p75"), col("p95"), col("nVals").as("n_vals"))
      .orderBy("source")
  }

  /** Streaming per-source distinct-term cardinality on the oracle path
    * — the cardinality sibling of [[runQuantiles]]: documents stream
    * in two chunk rounds across two AvailableNow executions of one
    * checkpoint (serialized HLL state in RocksDB must recover
    * mid-line), tokenization and the (source, term) explode run INSIDE
    * the stream (the feed stays docs-sized), each term also feeds a
    * `__all__` key so the corpus-global row of the batch query exists
    * here too, and emissions upsert by key — the final store row per
    * key is the cardinality over everything streamed. Oracle is
    * hll_distinct's COUNT(DISTINCT) SQL verbatim: stream, batch, and
    * oracle agree exactly in the HLL coupon regime the fixtures sit in.
    */
  private def runDistinct(spark0: SparkSession, dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = boundedFeed(Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect().toSeq, "documents")
    val work = Files.createTempDirectory("graft-streamhll").toString
    val sink = new ParquetUpsertSink(s"$work/store", Seq("key"))
    val source = MemoryStream[(Long, String, String)](spark)

    def drain(): Unit = {
      val terms = source.toDF().toDF("doc_id", "source", "text")
        .select(col("source"),
          explode(expr("norm_tokens(text)")).as("term"))
        .select(explode(array(col("source"), lit("__all__")))
          .as("key"), col("term"))
        .as[StatefulOps.KeyedTerm]
      val q = StatefulOps.keyDistinct(terms)
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.upsert _)
        .start()
      q.awaitTermination()
    }

    source.addData(rows.filter(_._1 % 3 == 0): _*)
    drain()
    source.addData(rows.filter(_._1 % 3 != 0): _*)
    drain() // restart from the checkpoint; HLL state merges in place

    sink.read(spark)
      .select(col("key").as("source"), col("distinct_terms"))
      .orderBy("source")
  }

  /** Stream-stream interval join on the oracle path: view events
    * joined to click events of the same user within 60 minutes
    * (StreamOps.intervalJoin — watermarked state on BOTH sides, the
    * time-range predicate bounding what Spark must buffer). The replay
    * is event-time-ordered in two chunk rounds across two AvailableNow
    * executions of one checkpoint, so cross-chunk pairs (a view in
    * round 1 matching a click in round 2) must survive the join-state
    * checkpoint restart to reach the sink; matches upsert by
    * (view_id, click_id), so a replayed batch is idempotent. Oracle is
    * the plain batch interval join — inner stream-stream join emission
    * is exactly the match set when nothing is late (ordered feed under
    * a 2-hour delay).
    */
  /** No-data micro-batches OFF (r18, see [[run]]'s rationale): an
    * INNER stream-stream join emits matches only while processing
    * arriving rows — the trailing no-data batch per execution only
    * evicts buffered state below the watermark and emits nothing
    * (outer joins would be different). The feed is event-time-ordered
    * and split at a timestamp cut, so no drain-2 row is ever below
    * drain-1's final watermark — delayed eviction cannot admit or
    * drop a match. Digest-identical, oracle-gated.
    */
  private def runJoin(spark0: SparkSession, dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth, HdfsStateStore,
      NoDataBatchesOff) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = boundedFeed(Tables.t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"))
      .as[(Long, Timestamp, Long, String)].collect().toSeq
      .sortBy(e => (e._2.getTime, e._1)), "events")
    val cut = {
      val ts = ev.map(_._2.getTime).sorted
      ts(ts.size * 2 / 3)
    }
    val work = Files.createTempDirectory("graft-streamjoin").toString
    val sink = new ParquetUpsertSink(s"$work/store",
      Seq("view_id", "click_id"))
    val vsrc = MemoryStream[(Long, Timestamp, Long)](spark)
    val csrc = MemoryStream[(Long, Timestamp, Long)](spark)

    def drain(): Unit = {
      val joined = StreamOps.intervalJoin(
        vsrc.toDF().toDF("view_id", "vts", "vuid"),
        csrc.toDF().toDF("click_id", "cts", "cuid"),
        "vuid", "cuid", "vts", "cts",
        within = "60 MINUTES", delay = "2 hours")
      val q = joined
        .select(col("view_id"), col("click_id"),
          col("vuid").as("user_id"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.upsert _)
        .start()
      q.awaitTermination()
    }

    def feed(p: ((Long, Timestamp, Long, String)) => Boolean): Unit = {
      val views = ev.filter(e => e._4 == "view" && p(e))
        .map(e => (e._1, e._2, e._3))
      val clicks = ev.filter(e => e._4 == "click" && p(e))
        .map(e => (e._1, e._2, e._3))
      if (views.nonEmpty) vsrc.addData(views: _*): Unit
      if (clicks.nonEmpty) csrc.addData(clicks: _*): Unit
    }

    feed(_._2.getTime <= cut)
    drain()
    feed(_._2.getTime > cut)
    drain() // restart; round-1 view state must match round-2 clicks

    sink.read(spark).orderBy("view_id", "click_id")
  }

  /** Streaming rolling z-score on the oracle path (VERDICT r12 #4):
    * StatefulOps.zScores — one bounded ValueState ring (≤ frame−1
    * quantized Longs) per user on RocksDB via transformWithState —
    * replayed over the events table in (ts, event_id) order across
    * TWO AvailableNow executions of one checkpoint, each event's
    * emission upserted by event_id. On an in-order feed the streamed
    * per-event z-scores equal the batch window query exactly
    * (StreamingZScoreSpec pins row parity; the ring state restored
    * from the checkpoint carries users' rolling moments across the
    * split), so `anomaly_zscore`'s oracle SQL applies verbatim.
    */
  private def runZScore(spark0: SparkSession,
      dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = boundedFeed(Tables.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Long, Double)].collect().toSeq
      .sortBy(e => (e._3, e._1))
      .map(e => StatefulOps.ZEvent(e._1, e._2, e._3, e._4)), "events")
    val split = rows.size * 2 / 3
    val work = Files.createTempDirectory("graft-streamz").toString
    val sink = new ParquetUpsertSink(s"$work/store", Seq("event_id"))
    val source = MemoryStream[StatefulOps.ZEvent](spark)

    def drain(): Unit = {
      val q = StatefulOps.zScores(source.toDS())
        .toDF()
        .select(col("eventId").as("event_id"),
          col("userId").as("user_id"), col("nW").as("n_w"),
          col("zMicro").as("z_micro"),
          col("isAnomaly").as("is_anomaly"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.upsert _)
        .start()
      q.awaitTermination()
    }

    source.addData(rows.take(split): _*)
    drain()
    source.addData(rows.drop(split): _*)
    drain() // restart; ring state carries rolling moments over the split

    sink.read(spark).orderBy("event_id")
  }

  /** Streaming exact dedup on the oracle path: canonical-keeper
    * election ([[StatefulOps.canonicalKeepers]] — min doc_id per
    * content key as ValueState, the DETERMINISTIC form of streaming
    * dedup; see its scaladoc for why dropDuplicatesWithinWatermark's
    * keep-first-delivered is replay-unstable) over the documents
    * corpus replayed in doc_id order across TWO AvailableNow
    * executions of one checkpoint. The content key (md5 of the
    * 60-char normalized prefix — dedup_content's boilerplate-prefix
    * key, duplicated at EVERY SF so the election is exercised at
    * every gate) is computed INSIDE the streamed plan; ~10 duplicate
    * groups straddle the 2/3 split at each SF, so round-2 duplicates
    * of round-1 keepers prove the election state recovered from the
    * checkpoint. Per-trigger emissions upsert by key; the converged
    * store equals the batch min-per-key rule, which is the oracle.
    */
  private def runDedup(spark0: SparkSession, dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = boundedFeed(Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1), "documents")
    val split = rows.size * 2 / 3
    val work = Files.createTempDirectory("graft-streamdedup").toString
    val sink = new ParquetUpsertSink(s"$work/store", Seq("h"))
    val source = MemoryStream[(Long, String)](spark)

    def drain(): Unit = {
      val keyed = source.toDF().toDF("doc_id", "text")
        .selectExpr("md5(substring(norm_text(text), 1, 60)) AS h",
          "doc_id AS docId")
        .as[StatefulOps.DocKey]
      val q = StatefulOps.canonicalKeepers(keyed)
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.upsert _)
        .start()
      q.awaitTermination()
    }

    source.addData(rows.take(split): _*)
    drain()
    source.addData(rows.drop(split): _*)
    drain() // restart; recovered elections suppress round-2 duplicates

    sink.read(spark).orderBy("h")
  }

  /** The cross-site/DR story on the oracle path (VERDICT r16 #3): a
    * ledger-FREE replica of the keeper election's epoch-min store, fed
    * exclusively by a [[ManifestSubscription]] tail of the primary's
    * version line — the second-region / read-optimized-serving-copy
    * shape KeeperReplicaSpec pins at fixture scale. What makes the
    * replica sound with no coordination and no ledger:
    *
    *  - folds only RESTATE (the publishCompact contract), so the
    *    subscription's op-tag walk skipping them loses nothing;
    *  - min-merge is idempotent and associative (the CRDT argument),
    *    so at-least-once delivery suffices — a re-delivered crash
    *    window merges to the same state. This run PROVES that the
    *    hard way: the last delivered range is re-appended under a
    *    FRESH epoch id, so the replica's own epoch ledger cannot
    *    absorb it — only the merge semantics can.
    *
    * Drive: two AvailableNow executions of the canonical keeper
    * election over one checkpoint (restart on the path) append epochs
    * to the PRIMARY EpochMinStore with the in-loop fold armed; the
    * replica bootstraps from one full snapshot, then consumes only
    * subscription deltas — crossing the primary's fold+GC mid-line —
    * into its own epoch-min store (its own folds armed too). The
    * emitted rows are the REPLICA's converged read, digested against
    * the same batch keep-lowest-doc_id oracle as `streaming_dedup`:
    * green means source elections → manifest tail → ledger-free
    * min-merge replication reproduces the batch rule exactly.
    *
    * Scale: each poll moves O(new data) (manifest-line KBs + the
    * range's delta parquet); the replica never rescans the primary,
    * and its per-delta append cost is ∝ the delta's distinct keys —
    * the same write shape as the primary's own triggers.
    */
  private def runDedupReplica(spark0: SparkSession,
      dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = boundedFeed(Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1), "documents")
    val split = rows.size * 2 / 3
    val work = Files.createTempDirectory("graft-streamdeduprep").toString
    val primary = new EpochMinStore(s"$work/primary", Seq("h"),
      scope = "keeper", compactOver = 2)
    val replica = new EpochMinStore(s"$work/replica", Seq("h"),
      scope = "replica", compactOver = 2)
    val source = MemoryStream[(Long, String)](spark)

    def drain(): Unit = {
      val keyed = source.toDF().toDF("doc_id", "text")
        .selectExpr("md5(substring(norm_text(text), 1, 60)) AS h",
          "doc_id AS docId")
        .as[StatefulOps.DocKey]
      val q = StatefulOps.canonicalKeepers(keyed)
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(primary.append _)
        .start()
      q.awaitTermination()
    }

    // Execution 1 → the primary's first epoch publishes its manifest.
    source.addData(rows.take(split): _*)
    drain()
    // Replica bootstrap: one full snapshot at the observed version,
    // subscription strictly after it (the class contract).
    val v0 = graft.operators.StoreManifest
      .currentVersion(spark, primary.path)
      .getOrElse(throw new IllegalStateException(
        "execution 1 published no primary manifest"))
    replica.append(graft.operators.StoreManifest
      .snapshotReadAsOf(spark, primary.path, v0)
      .select("h", "keeper"), 0L)
    val sub = new ManifestSubscription(primary.path,
      s"$work/cursor/replica-1")
    require(sub.subscribe(spark, v0) == v0)
    var nextEpoch = 1L
    var lastRange = Option.empty[(Long, Long)]
    def pump(): Unit = {
      var drained = false
      while (!drained) {
        val r = sub.poll(spark) { (d, _, _) =>
          replica.append(d.select("h", "keeper"), nextEpoch)
          nextEpoch += 1
        }
        r.foreach(x => lastRange = Some(x))
        drained = r.isEmpty
      }
    }
    pump()
    // Execution 2 (checkpoint restart): recovered elections suppress
    // round-2 duplicates; the primary's in-loop fold + GC land
    // mid-line and the subscription crosses them without error.
    source.addData(rows.drop(split): _*)
    drain()
    pump()
    require(graft.operators.StoreManifest
      .currentVersion(spark, primary.path).exists(_ >= 3),
      "the primary's min-merge fold never ran — the replica never " +
        "crossed a compaction window")
    // The crash window, adversarially: re-deliver the LAST range under
    // a FRESH epoch id — the replica's ledger reads it as new work, so
    // only min-merge idempotence keeps the state right. Vacuous if the
    // range appended nothing; require it bites.
    val (rf, rt) = lastRange.getOrElse(throw new IllegalStateException(
      "the subscription never delivered a range — nothing replicated"))
    val redelivered = graft.operators.StoreManifest
      .deltaRead(spark, primary.path, rf, rt)
    require(!redelivered.isEmpty,
      s"re-delivered range v$rf..v$rt is empty — the crash-window " +
        "claim would green vacuously")
    replica.append(redelivered.select("h", "keeper"), nextEpoch)

    replica.read(spark).orderBy("h")
  }

  /** [[runDedup]] with BOUNDED election state (VERDICT r13 #4): the
    * KeeperProcessor's ValueState carries a processing-time TTL, so
    * stream state holds only the hot arrival window — never one entry
    * per content key the stream has ever seen — and the at-rest store
    * becomes the source of truth through MIN-MERGE semantics (see
    * canonicalKeepersBounded's safety argument: the min over all
    * emissions equals the global min regardless of evictions, because
    * every emission is the min of a subset and every row is covered by
    * its batch's emission).
    *
    * The store is [[EpochMinStore]] (VERDICT r14 #1): each trigger
    * APPENDS its batch-sized per-key minima as a ledgered epoch —
    * per-trigger write volume ∝ batch, never ∝ the content-key-sized
    * index the old rewrite-per-batch upsert paid — the min-merge fold
    * runs as snapshot COMPACTION (triggered mid-run here, so the LSM
    * fold is on the oracle path), and the final read resolves
    * min-at-read across the resident epochs.
    *
    * Three executions over one checkpoint, with sleeps longer than the
    * TTL between them so earlier windows genuinely expire. Execution 3
    * re-delivers execution 1's documents under salted ids (offset =
    * max(doc_id)+1 — same text, same content key, ids that never win a
    * min at ANY corpus size, so the batch oracle over `documents` is
    * untouched): the evicted keys re-elect LOCALLY and emit salted
    * keepers — `require`d to happen, else the run proves nothing —
    * and the store-side min re-canonicalizes every one of them against
    * the resident value. Green = eviction + recurrence + restart
    * replay + epoch fold still converge to the batch
    * keep-lowest-doc_id rule. See [[KeeperTtl]] for the TTL.
    */
  /** Keeper TTL for streaming_dedup_bounded, fixture-only: 200 ms keeps
    * the three-execution replay short, and the sleeps between executions
    * are 5× the TTL, so eviction never races the drain.
    */
  private val KeeperTtl = java.time.Duration.ofMillis(200)

  private def runDedupBounded(spark0: SparkSession,
      dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth, NoDataBatchesOff) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = boundedFeed(Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1), "documents")
    val split = rows.size * 2 / 3
    // Salt ABOVE every real id, derived from the data (ADVICE r14: a
    // constant offset silently breaks on a corpus whose ids reach it).
    val salt = rows.map(_._1).max + 1L
    val work = Files.createTempDirectory("graft-streamdedupb").toString
    val store = new EpochMinStore(s"$work/store", Seq("h"),
      scope = "keeper", compactOver = 2)
    val source = MemoryStream[(Long, String)](spark)
    val saltedEmissions = new java.util.concurrent.atomic.AtomicLong

    def drain(): Unit = {
      val keyed = source.toDF().toDF("doc_id", "text")
        .selectExpr("md5(substring(norm_text(text), 1, 60)) AS h",
          "doc_id AS docId")
        .as[StatefulOps.DocKey]
      val q = StatefulOps.canonicalKeepersBounded(keyed, KeeperTtl)
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          saltedEmissions.addAndGet(
            b.filter(col("keeper") >= salt).count()): Unit
          store.append(b, id)
        }
        .start()
      q.awaitTermination()
    }

    source.addData(rows.take(split): _*)
    drain()
    Thread.sleep(KeeperTtl.toMillis * 5)
    source.addData(rows.drop(split): _*)
    drain() // restart; execution-1 window expired
    Thread.sleep(KeeperTtl.toMillis * 5)
    // Re-deliver execution 1's documents under salted ids: duplicates
    // of COLD keys, arriving after their election state expired.
    source.addData(rows.take(split).map { case (id, txt) =>
      (id + salt, txt) }: _*)
    drain()
    // The bounded-state claim is only tested if eviction actually
    // bit: every execution-3 key was elected in execution 1, so with
    // live state NO emission could carry a salted keeper.
    require(saltedEmissions.get() > 0,
      "no evicted key re-elected a salted keeper — the TTL never " +
        "fired and the run proved nothing about bounded state")
    // The LSM fold must have run on the declared path (compactOver = 2
    // with three epochs guarantees it) — otherwise the "epoch-append +
    // fold-at-compaction" claim would green on appends alone.
    require(graft.operators.StoreManifest
      .currentVersion(spark, s"$work/store").exists(_ >= 4),
      "the min-merge compaction never ran — the fold is off the path")

    store.read(spark).orderBy("h")
  }

  /** [[runDedupBounded]] under EVENT-TIME (watermark) eviction — the
    * reference's streaming-state semantics (SURVEY §2.7) on the oracle
    * path: [[StatefulOps.canonicalKeepersEventTime]] drops a key's
    * election state when the watermark passes its last-seen event time
    * + 5 s (event-time timers, re-registered per arrival), and the
    * same [[EpochMinStore]] re-canonicalizes any post-eviction local
    * re-election. Synthetic event times drive the clock
    * deterministically — no wall-clock sleeps, no TTL races:
    *
    *  - execution 1: the first split at t=1000 s (timers land at
    *    1005; the 10 s watermark delay leaves wm=990 — nothing fires);
    *  - execution 2 (checkpoint restart): the second split at
    *    t=2000 s — opens at wm=990, so execution-1 elections are
    *    STILL LIVE and suppress this split's duplicates of them; wm
    *    advances to 1990 after;
    *  - execution 3a: ONE salted doc at t=3000 s — its batch opens at
    *    wm=1990 ≥ 1005, firing every execution-1 timer (the salted
    *    advance row reuses a corpus content key, so the store gains
    *    no key the oracle lacks); wm → 2990;
    *  - execution 3b: the REST of split 1 salted at t=3100 s — opens
    *    at wm=2990 ≥ 2005 (execution-2 timers fire too); the evicted
    *    keys re-elect LOCALLY and emit salted keepers, `require`d —
    *    the watermark-eviction witness — and min-at-read over the
    *    epoch store restores the batch keep-lowest rule.
    *
    * Event-time no-data batches cannot self-schedule (the watermark
    * only advances with data), so AvailableNow terminates without the
    * ProcessingTime livelock workaround. Same oracle as
    * streaming_dedup: bounding state by watermark must not change
    * what the store converges to.
    */
  private def runDedupEventTime(spark0: SparkSession,
      dir: String): DataFrame =
    // No-data micro-batches OFF (r18): each of the FOUR executions ran
    // its data batch plus a trailing no-data batch — 8 full state
    // load/commit cycles where 4 carry the data. Event-time timers
    // fire on the watermark regardless of batch kind; without no-data
    // batches an eviction that would have landed in execution N's
    // trailing batch lands at the OPEN of execution N+1's data batch
    // instead — before that batch's input is processed — so the 3a/3b
    // schedule below is unchanged (3a opens at wm=1990 and fires the
    // execution-1 timers; 3b opens at wm=2990 and fires execution-2's
    // before its salted re-deliveries are handled). The salted-
    // emission `require` below is the in-run witness that eviction +
    // re-election still happen; the min-merge store is eviction-
    // timing-agnostic by construction (canonicalKeepersBounded's
    // safety argument), and the oracle hash gates the converged rows.
    // The FINAL execution has no N+1: its last timers never fire and
    // below-watermark state stays in the checkpoint. That is harmless
    // because nothing re-delivers after it and the query's output is
    // the converged min-merge store, not the operator's state — an
    // unfired eviction can only withhold a re-election, never change
    // a key's minimum.
    withReplaySession(spark0, ReplayWidth, NoDataBatchesOff) { spark =>
    // This replay right-sized to 4 a round before the others: FOUR
    // AvailableNow executions pay RocksDB load/commit per (partition ×
    // batch) with timer column families on top. Since r18 every replay
    // runs at 4 (see ReplayWidth's re-measurement note); the production
    // lever still scales partitions UP with the key space.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = boundedFeed(Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1), "documents")
    val split = rows.size * 2 / 3
    val salt = rows.map(_._1).max + 1L
    val work = Files.createTempDirectory("graft-streamdedupet").toString
    val store = new EpochMinStore(s"$work/store", Seq("h"),
      scope = "keeper-et", compactOver = 2)
    val source = MemoryStream[(Long, String, Long)](spark)
    val saltedEmissions = new java.util.concurrent.atomic.AtomicLong

    def drain(): Unit = {
      val keyed = source.toDF().toDF("doc_id", "text", "sec")
        .selectExpr("md5(substring(norm_text(text), 1, 60)) AS h",
          "doc_id AS docId", "cast(sec as timestamp) AS ts")
        .as[StatefulOps.DocKeyT]
        .withWatermark("ts", "10 seconds")
      val q = StatefulOps.canonicalKeepersEventTime(keyed,
          delayMs = 5000L)
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          saltedEmissions.addAndGet(
            b.filter(col("keeper") >= salt).count()): Unit
          store.append(b, id)
        }
        .start()
      q.awaitTermination()
    }

    source.addData(rows.take(split).map { case (id, t) =>
      (id, t, 1000L) }: _*)
    drain()
    source.addData(rows.drop(split).map { case (id, t) =>
      (id, t, 2000L) }: _*)
    drain() // restart; execution-1 elections still live at wm=990
    // 3a: watermark mover — one salted doc fires execution-1's timers.
    source.addData(rows.take(1).map { case (id, t) =>
      (id + salt, t, 3000L) }: _*)
    drain()
    // 3b: cold-key re-delivery AFTER the eviction batch.
    source.addData(rows.take(split).drop(1).map { case (id, t) =>
      (id + salt, t, 3100L) }: _*)
    drain()
    // The re-election witness needs an ELIGIBLE key: a split-1 content
    // key other than rows.head's (the 3a mover refreshes that one)
    // that does not recur in split 2 (a split-2 re-registration can
    // keep its state live through 3b's wall, suppressing the salted
    // election). A tiny or heavily-duplicated corpus may have none —
    // then the require would fail SPURIOUSLY, proving nothing about
    // eviction (ADVICE r15); the oracle compare still gates what the
    // store converges to, so the witness softens rather than lies.
    val keyOf = rows.toDF("doc_id", "text")
      .selectExpr("doc_id",
        "md5(substring(norm_text(text), 1, 60)) AS h")
      .as[(Long, String)].collect().toMap
    val split2Keys = rows.drop(split).map(r => keyOf(r._1)).toSet
    val headKey = keyOf(rows.head._1)
    val eligible = rows.take(split).drop(1).map(r => keyOf(r._1))
      .exists(h => h != headKey && !split2Keys.contains(h))
    if (eligible) require(saltedEmissions.get() > 0,
      "no watermark-evicted key re-elected a salted keeper — the " +
        "event-time timers never fired and the run proved nothing")
    else System.err.println("[streaming_dedup_eventtime] corpus shape " +
      "has no eviction-eligible split-1 key; re-election witness " +
      "skipped (oracle compare still gates convergence)")
    require(graft.operators.StoreManifest
      .currentVersion(spark, s"$work/store").exists(_ >= 4),
      "the min-merge compaction never ran — the fold is off the path")

    store.read(spark).orderBy("h")
  }

  /** Under TimeMode.ProcessingTime, every TTL-cleanup no-data batch
    * advances the processing-time clock, which schedules ANOTHER
    * cleanup batch — Trigger.AvailableNow never terminates (observed:
    * 100+ empty commits). Disabling no-data batches for the run is
    * safe for the bounded keeper: TTL reads already filter expired
    * values (eviction is lazy-on-access), and the store-side min-merge
    * is correct under ANY eviction timing by construction.
    */
  private val NoDataBatchesOff: (String, String) =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** Streaming at-rest store intake on the oracle path (VERDICT r12
    * #3): the documents corpus arrives at a TermStatsStore as three
    * MemoryStream micro-batches through a REAL foreachBatch query
    * running [[StoreIntake.termStatsIntakeBatch]] under the
    * exactly-once epoch ledger — with a checkpoint restart AND a
    * genuinely REPLAYED epoch: batch 0's commit record is deleted
    * between executions, so the engine re-delivers it (foreachBatch's
    * documented at-least-once semantics) and the ledger must skip the
    * applied epoch instead of double-appending. The manifest is
    * adopted after epoch 0 (compositional publish + replay heal from
    * then on) and the in-loop LSM fold compacts the partial log
    * mid-stream. The emitted rows are the SNAPSHOT read of the folded
    * store — `term_store_stats`' from-scratch oracle applies verbatim,
    * and is only green if stage → ledger → replay-skip → manifest →
    * fold reproduces a single batch tokenize exactly.
    */
  private def runIntake(spark0: SparkSession, dir: String): DataFrame =
    withReplaySession(spark0, ReplayWidth) { spark =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = boundedFeed(Tables.t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect().toSeq, "documents")
    val work = Files.createTempDirectory("graft-streamintake").toString
    val store = s"$work/ts"
    val source = MemoryStream[(Long, String, String)](spark)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]

    def drain(): Unit = {
      val q = source.toDF().toDF("doc_id", "text", "source")
        .writeStream
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          delivered += id
          graft.streaming.StoreIntake
            .termStatsIntakeBatch(store, "si", compactOver = 3)(b, id)
        }
        .start()
      q.awaitTermination()
    }

    source.addData(docs.filter(_._1 % 3 == 0): _*)
    drain() // epoch 0 staged + applied under the ledger
    graft.operators.TermStatsStore.publishManifest(spark, store): Unit
    // Kill-window injection: with batch 0's commit record gone, the
    // next execution re-delivers batch 0 before new data — the
    // replayed epoch must read as applied and skip.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$work/ckpt/commits/0"))
    // The local ChecksumFileSystem keeps a .crc sidecar per commit
    // file; left behind it blocks the replayed batch's commit rename.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$work/ckpt/commits/.0.crc")): Unit
    source.addData(docs.filter(_._1 % 3 == 1): _*)
    drain() // restart: epoch 0 REPLAYED (ledger no-op), epoch 1 applied
    source.addData(docs.filter(_._1 % 3 == 2): _*)
    drain() // epoch 2; crossing compactOver folds the partial log

    // The exactly-once claim is only tested if the replay actually
    // happened: batch 0 must have been DELIVERED twice (original +
    // re-delivery after its commit record was dropped) — if engine
    // behavior ever changes to skip the re-delivery, fail loudly
    // rather than greening a vacuous claim.
    require(delivered.count(_ == 0L) == 2 && delivered.size == 4,
      s"expected batch 0 delivered twice then 1,2 — got $delivered")

    graft.operators.TermStatsStore.termStats(spark, store)
      .withColumn("n_docs",
        lit(graft.operators.TermStatsStore.docsCount(spark, store)))
      .orderBy("term")
  }

  val all: Seq[QuerySpec] = Seq(
    QuerySpec.replay("streaming_pipeline",
      graft.operators.FlagshipQueries.joinEnrichSql)(run),
    QuerySpec.replay("streaming_quantiles",
      graft.operators.CorpusQueries.kllQuantilesSql)(runQuantiles),
    // Identical oracle to hll_distinct — tracking the cardinality as
    // streaming HLL state must not change WHAT it converges to.
    QuerySpec.replay("streaming_distinct",
      graft.operators.CorpusQueries.hllDistinctSql)(runDistinct),
    QuerySpec.replay("streaming_join",
      """SELECT v.event_id AS view_id, c.event_id AS click_id,
        |       v.user_id AS user_id
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 60 minutes
        |ORDER BY view_id, click_id""".stripMargin)(runJoin),
    QuerySpec.replay("streaming_zscore",
      graft.operators.AnalyticQueries.anomalyZscoreSql)(runZScore),
    QuerySpec.replay("streaming_intake",
      graft.operators.PipelineQueries.termStoreStatsSql)(runIntake),
    QuerySpec.replay("streaming_dedup",
      s"""SELECT md5(substring(${graft.operators.TextOps.normD}, 1, 60))
         |         AS h,
         |       MIN(doc_id) AS keeper
         |FROM documents WHERE text IS NOT NULL
         |GROUP BY 1 ORDER BY h""".stripMargin)(runDedup),
    // Identical oracle to streaming_dedup — replication through a
    // manifest-subscription tail into a ledger-free min-merge replica
    // must not change WHAT converges, only where it is readable.
    QuerySpec.replay("streaming_dedup_replica",
      s"""SELECT md5(substring(${graft.operators.TextOps.normD}, 1, 60))
         |         AS h,
         |       MIN(doc_id) AS keeper
         |FROM documents WHERE text IS NOT NULL
         |GROUP BY 1 ORDER BY h""".stripMargin)(runDedupReplica),
    // Identical oracle to streaming_dedup — bounding the election
    // state must not change WHAT the store converges to, only how
    // much of the key space lives in RocksDB.
    QuerySpec.replay("streaming_dedup_bounded",
      s"""SELECT md5(substring(${graft.operators.TextOps.normD}, 1, 60))
         |         AS h,
         |       MIN(doc_id) AS keeper
         |FROM documents WHERE text IS NOT NULL
         |GROUP BY 1 ORDER BY h""".stripMargin)(runDedupBounded),
    // Watermark-bounded election, same oracle again: the eviction
    // CLOCK (event time vs processing time) must not change what the
    // store converges to either.
    QuerySpec.replay("streaming_dedup_eventtime",
      s"""SELECT md5(substring(${graft.operators.TextOps.normD}, 1, 60))
         |         AS h,
         |       MIN(doc_id) AS keeper
         |FROM documents WHERE text IS NOT NULL
         |GROUP BY 1 ORDER BY h""".stripMargin)(runDedupEventTime)
  )
}
