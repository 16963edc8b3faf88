package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSession

/** Graft-recommended session tuning, applied by every entry point
  * (Bench/Verify/Soak/Smoke/PlanAudit/tests) so timings, correctness
  * runs, and specs all exercise the same execution configuration. A
  * library user applies the same settings via `GraftConf.tune(builder)`
  * and overrides any of them with a later `.config(key, value)`.
  */
object GraftConf {

  /** ObjectHashAggregateExec (collect_list/collect_set and other
    * TypedImperativeAggregates) falls back to SORT-BASED aggregation
    * once its in-memory map exceeds this many groups — and the Spark
    * default is 128, so every bucket-grouping stage in the dedup chain
    * (inverted-index buckets, LSH (band,sig) buckets, token tables)
    * was sorting its full input. 256k groups bounds the map instead:
    * with df-capped buckets (≤ DfCap structs of ~12 B) that is ≤ ~75 MB
    * per task worst-case — the right trade on any executor sized for
    * shuffle work, while keeping the sort fallback as the pressure
    * valve (the threshold is per aggregation operator per task; past
    * it Spark still degrades gracefully to sort+merge, it never OOMs
    * by design). Measured at sf0.1: ngram_jaccard bucket stage
    * ~2.4 s → ~0.6 s steady-state.
    */
  val ObjAggFallbackGroups = 262144

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    // The graft functions resolve by name in every session built here
    // and in its newSession() and streaming children.
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        ObjAggFallbackGroups.toString)
      // RocksDB state store: required by transformWithState (the
      // arbitrary-stateful operator StatefulOps builds on) and the
      // recommended provider for production streaming state anyway —
      // off-heap (state size no longer bounded by executor heap) with
      // incremental changelog checkpointing. Deployments that cannot
      // run RocksDB override the provider after `tune` (DEPLOY.md §1)
      // and use StatefulOps' mapGroupsWithState fallback.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      // Changelog checkpointing (r17): by default RocksDB uploads a
      // FULL state snapshot into the checkpoint at every micro-batch
      // commit; with changelog checkpointing each commit persists only
      // the batch's changed key-values (write ∝ batch, the EpochMinStore
      // argument) and snapshots happen asynchronously in the
      // maintenance thread. The production recommendation for any
      // nontrivial state size, and measured locally it cuts the
      // checkpoint-replay fixed cost per trigger. Recovery replays
      // snapshot+changelog, so restart-from-checkpoint semantics are
      // unchanged (CheckpointRecoverySpec and the nine declared replay
      // queries gate that on the oracle path).
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
      // The events table carries INT64 TIMESTAMP(NANOS); reading it
      // requires this legacy flag (Tables.t also sets it defensively,
      // but setting it at session build makes the policy uniform from
      // the first read instead of order-dependent on which table
      // loaded first).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
