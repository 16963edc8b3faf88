package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-execution/per-batch event collector for [[ProfileReplay]] —
  * registered through the static conf
  * `spark.sql.streaming.streamingQueryListeners`, so every replay's
  * CHILD session (StreamingPipelineQuery.withReplaySession) registers
  * its own instance while the events accumulate here. Scratch tooling
  * only; never on a declared query path.
  */
object ReplayProbe {
  final case class Exec(runId: String, startMs: Long,
      var endMs: Long = -1L)
  final case class Batch(runId: String, batchId: Long, triggerMs: Long,
      addBatchMs: Long, stateCommitMs: Long, stateRows: Long)
  val execs = new java.util.concurrent.CopyOnWriteArrayList[Exec]
  val batches = new java.util.concurrent.CopyOnWriteArrayList[Batch]
  def clear(): Unit = { execs.clear(); batches.clear() }
}

class ReplayProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    ReplayProbe.execs.add(ReplayProbe.Exec(e.runId.toString,
      System.currentTimeMillis())): Unit
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def dm(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val st = p.stateOperators
    ReplayProbe.batches.add(ReplayProbe.Batch(p.runId.toString,
      p.batchId, dm("triggerExecution"), dm("addBatch"),
      if (st == null || st.isEmpty) 0L else st.map(_.commitTimeMs).sum,
      if (st == null || st.isEmpty) 0L
      else st.map(_.numRowsTotal).sum)): Unit
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val it = ReplayProbe.execs.iterator()
    while (it.hasNext) {
      val x = it.next()
      if (x.runId == e.runId.toString && x.endMs < 0)
        x.endMs = System.currentTimeMillis()
    }
  }
}

/** Scratch replay-cost decomposition (VERDICT r17 next-round #2; not a
  * declared query — run manually while tuning):
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.ProfileReplay [query...]"
  *
  * For each replay-tagged query (or the named ones) it runs the query
  * cold exactly like Bench and decomposes the wall clock into:
  *
  *  - n_exec   — streaming-query executions (the contractual
  *               multi-execution replay drives)
  *  - exec_s   — sum of execution windows (start → terminated)
  *  - batches  — micro-batches across all executions
  *  - trig_s   — sum of triggerExecution (the engine's own per-batch
  *               accounting: planning + state load + addBatch + commit)
  *  - commit_s — state-store commit portion (RocksDB/HDFS commit)
  *  - start_s  — exec_s − trig_s: per-execution fixed cost outside any
  *               batch (checkpoint resolution, offset WAL, state store
  *               acquisition, stream thread setup/teardown)
  *  - driver_s — wall − exec_s: everything outside stream executions
  *               (source collect+sort feed, store publishes/reads,
  *               contractual sleeps, the final count)
  */
object ProfileReplay {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("sf0.1")
    val spark = Harness.session(Harness.cpus(32),
      "spark.sql.streaming.streamingQueryListeners" -> "graft.ReplayProbe")
    val wanted =
      if (args.nonEmpty) SparkEntry.specs.filter(s => args.contains(s.name))
      else SparkEntry.specs.filter(_.category == "replay")
    println(f"${"query"}%-28s ${"wall"}%7s ${"n_ex"}%5s ${"exec"}%7s " +
      f"${"nb"}%3s ${"trig"}%7s ${"addB"}%7s ${"commit"}%7s " +
      f"${"start"}%7s ${"driver"}%7s rows")
    for (spec <- wanted) {
      ReplayProbe.clear()
      val t0 = System.nanoTime()
      val rows = spec.fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val execs = ReplayProbe.execs.toArray(Array.empty[ReplayProbe.Exec])
      val batches =
        ReplayProbe.batches.toArray(Array.empty[ReplayProbe.Batch])
      val execS = execs.map(x => math.max(0L,
        (if (x.endMs < 0) System.currentTimeMillis() else x.endMs) -
          x.startMs)).sum / 1e3
      val trigS = batches.map(_.triggerMs).sum / 1e3
      val addS = batches.map(_.addBatchMs).sum / 1e3
      val commitS = batches.map(_.stateCommitMs).sum / 1e3
      println(f"${spec.name}%-28s $wall%7.2f ${execs.length}%5d " +
        f"$execS%7.2f ${batches.length}%3d $trigS%7.2f $addS%7.2f " +
        f"$commitS%7.2f ${execS - trigS}%7.2f ${wall - execS}%7.2f $rows")
    }
    spark.stop()
  }
}
