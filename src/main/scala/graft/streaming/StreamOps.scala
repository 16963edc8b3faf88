package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming operators beyond the reference's windowed-aggregate core:
  * watermark-bounded deduplication, stream-stream interval joins, and
  * timeout-driven sessionization via flatMapGroupsWithState — the three
  * stateful shapes a production event pipeline reaches for next. Each is
  * exercised end-to-end by StreamOpsSpec over MemoryStream input.
  *
  * Scale notes: all three keep state partition-local behind a shuffle on
  * the key (RocksDB/HDFS-backed state stores on a real cluster), and all
  * three bound state with the watermark — unbounded state is the failure
  * mode that kills long-running streams at 100 TB/day.
  */
object StreamOps {

  /** Exactly-once-per-key emission bounded by the watermark: duplicates
    * arriving within `delay` of the first sighting are dropped; state for
    * a key is freed once the watermark passes its event time (unlike
    * plain dropDuplicates, whose state grows forever).
    */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String], tsCol: String,
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner interval join: each left row matches right rows
    * with the same key whose event time lies in
    * [left.ts, left.ts + within]. Both sides are watermarked so the
    * join's buffered state expires; the time-range predicate is what
    * lets Spark compute that bound (an unconstrained stream-stream
    * equi-join would buffer forever).
    *
    * Column contract: the two sides use disjoint column names (rename
    * before calling); the join condition references them directly.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, lts: String, rts: String, within: String,
      delay: String): DataFrame =
    left.withWatermark(lts, delay).join(
      right.withWatermark(rts, delay),
      expr(s"$leftKey = $rightKey AND $rts >= $lts " +
        s"AND $rts <= $lts + INTERVAL $within"))

  /** Streaming incremental near-dup detection — the intake-time dedup
    * gate of a corpus pipeline: a stream of incoming documents
    * (doc_id, text) is checked against a STATIC banded corpus, each
    * micro-batch through the exact batch operator
    * (Dedup.incrementalNearDupPairs) via foreachBatch, so stream and
    * batch semantics are identical by construction (the spec asserts
    * union-of-batches ≡ one batch run). `onMatches` receives each
    * batch's verified (new_id, corpus_id, jaccard) pairs — production
    * would anti-join intake on it before admitting documents.
    *
    * foreachBatch (not a streaming join) is the right tool: candidate
    * dedup + the jaccard-verify aggregate are multi-shuffle batch
    * shapes that streaming append mode cannot express without
    * watermark-bounded state it does not need — the corpus side is
    * static and each micro-batch is self-contained.
    */
  def streamingNearDup(incoming: DataFrame, corpusShingles: DataFrame,
      p: Int, q: Int, checkpointDir: String,
      corpusBands: DataFrame = null)(
      onMatches: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Band the static corpus ONCE (persisted for the life of the
    // session; callers wanting earlier release pass their own
    // corpusBands — a memoized Dedup.bandSignatures slice or a
    // signatureStore read — which takes precedence): every micro-batch
    // probes the same signatures, and at scale they are a precomputed
    // table anyway. The default persist goes through Memo's KEYLESS
    // path so clearCaches can release it — a bare .persist() here
    // escaped every release path, accumulating one corpus band table
    // per restarted stream for the session lifetime.
    val bands = Option(corpusBands).getOrElse(
      graft.operators.Memo.memo("bands",
        corpusShingles.sparkSession, "", persistIt = true) {
        graft.operators.Dedup.bandSignatures(corpusShingles)
      })
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val batchShingles = batch
          .withColumn("sh", expr("shingles3(norm_tokens(text))"))
          .select(col("doc_id"), col("sh"))
          .filter(size(col("sh")) > 0)
        onMatches(graft.operators.Dedup.incrementalNearDupPairs(
          corpusShingles, batchShingles, p, q,
          // Micro-batches are small by construction — pin broadcast
          // instead of paying a count job per batch.
          broadcastIncoming = Some(true),
          corpusBands = bands), batchId)
      }
      .start()
  }

  /** Streaming incremental corpus term stats — the intake-time
    * counterpart of the memoized batch term table (Pipeline.docTerms)
    * that token_freq / tfidf_topk / vocab_stats read: each micro-batch
    * of (doc_id, text) documents runs the SAME batch tokenize+count
    * plan (Pipeline.docTermsPlan) via foreachBatch, so stream and
    * batch semantics are identical by construction (StreamOpsSpec
    * asserts union-of-batches ≡ one batch docTerms run — intake
    * doc_ids are unique, so per-doc term counts concatenate). `onBatch`
    * receives each batch's (doc_id, term, tf); production MERGEs it
    * into the persisted term table, the incremental-corpus-stats shape
    * at 100 TB (df/N aggregates refresh from the table, never by
    * re-tokenizing the corpus).
    */
  def streamingDocTerms(incoming: DataFrame, checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.operators.Pipeline.docTermsPlan(batch), batchId)
      }
      .start()

  /** Native gap-session aggregation — the streaming twin of the batch
    * `session_window` query (FlagshipQueries), same plan both ways: in
    * batch the watermark is a no-op and every session closes; in
    * streaming (append mode) a session emits once the event-time
    * watermark passes session end + nothing can extend it, and its
    * state row is evicted — the watermark-bounded state contract
    * StreamSoak's fourth pipeline pins flat over O(100) batches.
    *
    * This is the declarative counterpart of [[sessionize]] (which is
    * the custom-state formulation for when the per-session output needs
    * a state machine): Spark's session store keeps a session LIST per
    * key, so unlike sessionize it also merges a late in-watermark event
    * into an already-split earlier run.
    */
  def sessionWindowAgg(df: DataFrame, tsCol: String, keyCol: String,
      gap: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  final case class SessionEvent(key: String, ts: java.sql.Timestamp)

  final case class SessionSummary(key: String, start: java.sql.Timestamp,
    end: java.sql.Timestamp, n: Long)

  /** Internal session accumulator (public: the state encoder's codegen
    * must be able to construct it).
    */
  final case class SessionState(start: Long, end: Long, n: Long)

  /** Timeout-driven sessionization: a session closes (and is emitted)
    * only when the event-time watermark passes last-event + gap — the
    * flatMapGroupsWithState formulation of session_window, needed when
    * the per-session output must be computed from custom state (here a
    * summary; in production e.g. a funnel state machine).
    *
    * Semantics match session_window: a session spans
    * [start, last + gap) with the end EXCLUSIVE — an event at exactly
    * last + gap starts a new session — and an event's interval
    * [t, t + gap) merges every session it overlaps (so an in-watermark
    * late event EARLIER than the open session either extends it
    * backward, bridges into it, or forms its own session — it is never
    * silently absorbed without moving `start`). State keeps only the
    * trailing open session; runs closed by a later event emit
    * immediately (an even-later cross-batch arrival inside the
    * watermark that would have re-opened an emitted run starts a fresh
    * session instead — the single-open-session trade; Spark's own
    * session_window keeps a session LIST per key to cover that).
    *
    * The caller must set a watermark on the event-time column BEFORE
    * converting to Dataset[SessionEvent] — EventTimeTimeout requires it.
    */
  def sessionize(ds: Dataset[SessionEvent], gapMs: Long)
      : Dataset[SessionSummary] = {
    import ds.sparkSession.implicits._
    // State tracks EPOCH MICROS, matching session_window's resolution
    // — Timestamp.getTime alone truncates to millis, so two events a
    // few hundred microseconds beyond the gap would merge here yet
    // split in session_window (and emitted boundaries silently lost
    // their sub-ms digits).
    val gapUs = gapMs * 1000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def summary(key: String, s: SessionState): SessionSummary =
      SessionSummary(key, tsOf(s.start), tsOf(s.end + gapUs), s.n)

    def fn(key: String, rows: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[SessionSummary] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(summary(key, s))
      } else {
        // Sorted walk over a transient DISJOINT session list seeded
        // from state: each event interval [t, t+gap) merges every
        // session it overlaps (strict bounds — end-exclusive). Sorted
        // order means once an event lands strictly after a session,
        // no later event can touch that session, so after the walk
        // everything but the latest session is closed: emit those now,
        // keep the trailing one (its close is the event-time timeout).
        var sessions = state.getOption.toList
        rows.map(e => micros(e.ts)).toSeq.sorted.foreach { t =>
          val (ov, dis) = sessions.partition(s =>
            t < s.end + gapUs && s.start < t + gapUs)
          val merged = ov.foldLeft(SessionState(t, t, 1L)) { (a, s) =>
            SessionState(math.min(a.start, s.start),
              math.max(a.end, s.end), a.n + s.n)
          }
          sessions = merged :: dis
        }
        val ordered = sessions.sortBy(_.start)
        // A single-batch watermark jump larger than the gap (backfill,
        // catch-up after downtime) can leave the trailing session
        // ALREADY past the current eviction watermark — and Spark
        // validates setTimeoutTimestamp against the CURRENT batch's
        // watermark even though the event passed the PREVIOUS batch's
        // late filter: registering the stale timeout throws and kills
        // the query. Such a session is closed by watermark semantics
        // anyway — emit it now instead of registering its timeout.
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val keepOpen = ordered.lastOption.filter(_.end + gapUs > wmUs)
        keepOpen match {
          case Some(s) =>
            state.update(s)
            // Timeout API is millis; round UP so the timer never fires
            // before end+gap at micro resolution.
            state.setTimeoutTimestamp((s.end + gapUs + 999L) / 1000L)
          case None => if (state.exists) state.remove()
        }
        (if (keepOpen.isDefined) ordered.dropRight(1) else ordered)
          .map(summary(key, _)).iterator
      }
    }

    ds.groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
