package graft

import graft.operators.{Dedup, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `sbt test` gate for the curation chain's scale invariants — the
  * plan shapes ChainSoak `require`s at 100× amplification, pinned here
  * at fixture scale so a regression (an operator rewrite that sneaks
  * in a corpus shuffle-join, a whole-language window, or a
  * corpus-sized broadcast) goes red in the unit suite instead of
  * surfacing rounds later in a soak run. Uses the soaks' own
  * tree-walk helpers in Harness (planNodes descends AQE stages and
  * stops at cache boundaries — string checks re-see upstream plans
  * inside Spark 4's printed InMemoryRelations, which is exactly the
  * false-positive this spec must not have).
  *
  * The amplified corpus is ChainSoak's mixed profile
  * (Harness.amplifiedDocs) in miniature: 4 copies per base doc — 2
  * verbatim (an exact-dup pair per base doc) and 2 salted with
  * length-proportional distinct
  * tokens (Jaccard vs base ≈ 0.5: candidate-generating hard negatives
  * that must SURVIVE dedup).
  */
class ChainInvariantsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val N = 4
  private val Dup = 2
  private val key = "chain-invariants-spec"

  private lazy val docs: DataFrame = {
    val base = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    Harness.amplifiedDocs(base, N, Dup).persist()
  }

  private def nodes(df: DataFrame) =
    Harness.planNodes(df.queryExecution.executedPlan)

  private def assertBounded(df: DataFrame, name: String): Unit = {
    val ns = nodes(df)
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"$name planned an unbounded join")
    val big = Harness.broadcastSizes(df.queryExecution.executedPlan)
      .filter(_ > Harness.MaxBroadcastBytes)
    assert(big.isEmpty, s"$name broadcast over the ceiling: $big bytes")
  }

  test("chain: dedup front reads memoized caches, no unbounded joins") {
    val nBase = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .count()
    val sh = Dedup.docShingles(docs, cacheKey = key)
    sh.count()
    val pairs = Dedup.minhashNearDupPairs(sh, 4, 5, cacheKey = key)
    val nPairs = pairs.count()
    // Every base doc contributes at least its exact-copy pair.
    assert(nPairs >= nBase, s"expected >= $nBase pairs, got $nPairs")
    val audit = Dedup.minhashPairsPlan(sh, 4, 5, key)
    val ns = nodes(audit)
    assert(ns.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "candidate generation must read the memoized shingles/bands")
    assert(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "candidate generation planned an unbounded join")
  }

  test("chain: salted hard negatives survive dedupKeep; exact collapse") {
    val sh = Dedup.docShingles(docs, cacheKey = key)
    val clusters = Dedup.clusters(sh, 4, 5, cacheKey = key)
    val dupes = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val kept = docs.join(dupes, Seq("doc_id"), "left_anti")
    assertBounded(kept, "dedup_keep")
    val nBase = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .count()
    // All salted copies (ids >= Dup*10M) are below the 0.8 threshold
    // against everything — dedup must keep every one of them.
    val saltedKept = kept.filter(col("doc_id") >= Dup * 10000000L).count()
    assert(saltedKept == (N - Dup) * nBase,
      s"salted survivors: $saltedKept != ${(N - Dup) * nBase}")
    // Verbatim copies collapse: at most one survivor per base doc.
    val exactKept = kept.filter(col("doc_id") < Dup * 10000000L).count()
    assert(exactKept <= nBase, s"exact-copy survivors $exactKept > $nBase")
  }

  test("chain: curation stages keep their scale shapes composed") {
    val sh = Dedup.docShingles(docs, cacheKey = key)
    val clusters = Dedup.clusters(sh, 4, 5, cacheKey = key)
    val kept = docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id"), Seq("doc_id"), "left_anti").persist()
    kept.count()

    val redacted = Pipeline.redactPii(kept)
    val redQe = redacted.queryExecution
    redQe.toRdd.count()
    assert(!Harness.planNodes(redQe.executedPlan)
      .exists(_.isInstanceOf[ShuffleExchangeLike]),
      "pii scrub must stay per-row")

    val redCached = redacted.persist()
    redCached.count()
    val budget = redCached.agg(sum("n_chars")).head.getLong(0) / 10
    val selected = Pipeline.budgetSelectDocs(redCached, budget)
    val selQe = selected.queryExecution
    val nSel = selQe.toRdd.count()
    assert(nSel > 0)
    val selNs = Harness.planNodes(selQe.executedPlan)
    assert(!selNs.exists(_.isInstanceOf[SortMergeJoinExec]),
      "budget selection must not shuffle-join the corpus")
    assert(!selNs.exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.size == 1 &&
          w.partitionSpec.head.references.exists(_.name == "lang") &&
          w.orderSpec.exists(_.child.references.exists(_.name == "doc_id"))
      case _ => false
    }, "budget selection plans a corpus-wide per-language window")

    val selCached = selected.persist()
    selCached.count()
    val sampled = Pipeline.mixtureSample(selCached)
    val samQe = sampled.queryExecution
    samQe.toRdd.count()
    val samNs = Harness.planNodes(samQe.executedPlan)
    assert(!samNs.exists(_.isInstanceOf[SortMergeJoinExec]),
      "mixture must broadcast its weights")
    assert(samNs.exists {
      case s: ShuffleExchangeLike =>
        s.outputPartitioning.toString.contains("source")
      case _ => false
    }, "mixture's one corpus shuffle is the source groupBy")

    Seq(selCached, redCached, kept).foreach(_.unpersist(blocking = false))
  }
}
