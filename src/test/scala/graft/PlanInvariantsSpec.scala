package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation,
  ResolvedHint}
import org.apache.spark.sql.execution.{BaseLimitExec, CollectLimitExec,
  FileSourceScanExec, LocalTableScanExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide plan-invariant gate (VERDICT r9 #2): EVERY declared query
  * is executed at fixture scale and its plans walked for the
  * anti-patterns that turn into scale-killers at 100 TB. ChainSoak
  * `require`s runtime invariants (the 64 MB broadcast byte ceiling,
  * zero-exchange scrub) on the composed chain at 100× amplification —
  * runtime byte ceilings only mean something at amplified scale, since
  * at fixture scale a one-row hash relation still preallocates a 64 MB
  * page on a large heap. This spec pins the STRUCTURAL shapes for the
  * whole declared surface, so a future edit that regresses a plan (a
  * corpus cross-join, an explicit broadcast hint on an unbounded frame,
  * a single-reducer global window or sort) fails `sbt test` NAMING the
  * query instead of surfacing as a bench blip rounds later.
  *
  * Invariants per query:
  *  1. No CartesianProductExec, ever.
  *  2. Every BroadcastNestedLoopJoin's build side must be bounded by
  *     construction (aggregate / limit / literal table) or a SELECTED
  *     slice (every fact scan under it carries pushed data filters) —
  *     never a raw corpus scan. The legitimate uses here are
  *     crossJoin(broadcast(scalar-stats)), literal codebook joins, and
  *     filtered query-vector slices.
  *  3. Every EXPLICIT broadcast hint in the analyzed logical plan wraps
  *     a subtree bounded the same way. (Catalyst's own size-based
  *     broadcast choices are exempt: they self-correct at scale via
  *     stats/AQE; a hint we hard-coded does not.)
  *  4. No WindowExec with an EMPTY partition spec over an unbounded
  *     input (a global window funnels everything through one task at
  *     any scale).
  *  5. No SinglePartition shuffle feeding a Sort over an unbounded
  *     input (global one-reducer sort; TakeOrderedAndProject or range
  *     partitioning are the acceptable forms).
  */
class PlanInvariantsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def subtree(p: SparkPlan): Seq[SparkPlan] = Harness.planNodes(p)

  /** Column names that key corpus-sized tables: an aggregate GROUPED
    * on one of these has corpus-scale cardinality and must not count
    * as bounded (a blanket aggregate rule would wave
    * `broadcast(docs.groupBy("doc_id").agg(...))` straight through —
    * the exact regression this gate exists to name). Aggregates on
    * anything else (lang, source, band, cell, score bucket…) are the
    * bounded model/boundary tables the operators broadcast on purpose.
    */
  private val corpusKeys = Set("doc_id", "vec_id", "q_id", "n_id",
    "new_id", "corpus_id", "cluster_id", "event_id", "user_id", "fp",
    "fp64", "da", "db")

  /** Bounded-by-construction: some node in the physical subtree
    * guarantees a row count independent of corpus size.
    */
  private def bounded(p: SparkPlan): Boolean = subtree(p).exists {
    case a: BaseAggregateExec =>
      !a.groupingExpressions.exists(
        _.references.exists(r => corpusKeys(r.name)))
    case _: LocalTableScanExec => true
    case _: BaseLimitExec | _: CollectLimitExec |
        _: TakeOrderedAndProjectExec => true
    case _ => false
  }

  /** Acceptable broadcast/build subtree: bounded, or every file scan in
    * it is a selected slice (pushed data filters — the query-vector /
    * intake-slice pattern, whose size is governed by the predicate, not
    * the corpus).
    */
  private def boundedOrSelected(p: SparkPlan): Boolean =
    bounded(p) || {
      val scans = subtree(p).collect { case s: FileSourceScanExec => s }
      scans.nonEmpty && scans.forall(_.dataFilters.nonEmpty)
    }

  /** Logical-side boundedness for hint auditing (pre-physical, so
    * hinted subtrees are still visible).
    */
  private def logicalBounded(p: LogicalPlan): Boolean =
    p.collectFirst {
      case a: Aggregate if !a.groupingExpressions.exists(
          _.references.exists(r => corpusKeys(r.name))) => ()
      case _: GlobalLimit => ()
      case _: LocalLimit => ()
      case _: LocalRelation => ()
      case _: OneRowRelation => ()
      // A filter bounds a hinted subtree only when it is a KEY-RANGE
      // slice (references a corpus key, compares against literals) —
      // the query-vector / intake-split pattern, whose size the
      // predicate governs. A content predicate (length(text) > 0,
      // lang = 'en') keeps corpus scale and must not qualify.
      case f: Filter if f.condition.deterministic &&
          f.condition.references.exists(r => corpusKeys(r.name)) &&
          f.condition.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.Literal]) => ()
    }.isDefined

  test("gate heuristics reject corpus-scale subtrees (negative cases)") {
    import org.apache.spark.sql.functions.{col, count, length, lit}
    val docs = Tables.t(spark, dir, "documents")
    // Content predicates keep corpus scale — must NOT bound a hint.
    assert(!logicalBounded(
      docs.filter(length(col("text")) > 0).queryExecution.analyzed))
    // Aggregates grouped on a corpus key are corpus-sized.
    val keyAgg = docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
    assert(!logicalBounded(keyAgg.queryExecution.analyzed))
    assert(!bounded(keyAgg.queryExecution.executedPlan))
    // Key-range slices and small-domain aggregates stay admissible.
    assert(logicalBounded(
      docs.filter(col("doc_id") < 100).queryExecution.analyzed))
    val srcAgg = docs.groupBy("source").agg(count(lit(1)).as("c"))
    assert(logicalBounded(srcAgg.queryExecution.analyzed))
    assert(bounded(srcAgg.queryExecution.executedPlan))
  }

  SparkEntry.specs.foreach { spec =>
    test(s"plan invariants: ${spec.name}") {
      val df = spec.fn(spark, dir)
      val qe = df.queryExecution

      // 3. Hint audit on the analyzed plan (before hints are consumed).
      qe.analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.exists(
            _.toString.contains("BROADCAST")) =>
          assert(logicalBounded(h.child),
            s"${spec.name}: explicit broadcast() hint on an unbounded " +
              s"subtree:\n${h.child}")
        case _ =>
      }

      qe.toRdd.count() // execute so AQE finalizes the physical plan
      val plan = qe.executedPlan
      val ns = subtree(plan)

      assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
        s"${spec.name} planned a CartesianProduct:\n$plan")

      ns.foreach {
        case j: BroadcastNestedLoopJoinExec =>
          val build = j.buildSide match {
            case BuildLeft => j.left
            case BuildRight => j.right
          }
          assert(boundedOrSelected(build),
            s"${spec.name}: BroadcastNestedLoopJoin build side is a " +
              s"raw unbounded scan:\n$build")
        case w: WindowExec if w.partitionSpec.isEmpty =>
          assert(bounded(w.child),
            s"${spec.name}: global (unpartitioned) window over an " +
              s"unbounded input:\n$w")
        case s: org.apache.spark.sql.execution.SortExec =>
          val singleShuffle = subtree(s.child).exists {
            case e: ShuffleExchangeLike =>
              e.outputPartitioning == SinglePartition
            case _ => false
          }
          if (singleShuffle)
            assert(bounded(s.child),
              s"${spec.name}: global sort through a single-partition " +
                s"exchange over an unbounded input:\n$s")
        case _ =>
      }
    }
  }
}
