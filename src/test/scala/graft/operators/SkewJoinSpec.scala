package graft.operators

import graft.{Harness, TestSpark}
import org.apache.spark.sql.execution.PartialReducerPartitionSpec
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join handling DEMONSTRATED, not just configured (VERDICT
  * r9 #7): a join with one key at ~100× the mass of every other key is
  * executed and the spec asserts OptimizeSkewedJoin actually engaged on
  * the executed plan — the SMJ is marked isSkewJoin and the skewed
  * side's AQE shuffle read carries PartialReducerPartitionSpec splits —
  * and that the result is identical with the optimization disabled.
  * This is the runtime half of the skew story (`skew_report` is the
  * diagnostic half: find the hot keys; AQE splitting is what keeps a
  * hot key from pinning one reducer when the join must run anyway;
  * salting — `salted_agg` — is the author-side fix for aggregations).
  *
  * Thresholds are scaled to fixture bytes (the production defaults,
  * 256 MB / factor 5, describe real shuffles): the hot key's partition
  * is ~3 MB of shuffle data vs KB-sized medians, so factor-5 × 64 KB
  * flags exactly that one partition.
  */
class SkewJoinSpec extends AnyFunSuite {

  test("one hot key at ~100x mass: OptimizeSkewedJoin splits its " +
    "partition; result matches the unoptimized run") {
    val spark = TestSpark.spark
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try {
      // Force the shuffle join (the dim side would broadcast
      // otherwise) and scale the skew thresholds to fixture bytes.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "65536")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "5.0")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "32768")

      import spark.implicits._
      // Hot key 0 carries 200k of 220k rows; keys 1..32 carry ~600 each.
      val left = spark.range(0, 220000).select(
        when(col("id") < 200000, 0L).otherwise(col("id") % 32 + 1)
          .as("k"),
        col("id").as("v"))
      val right = (0L to 32L).flatMap(k =>
        (0 until 8).map(i => (k, k * 1000 + i))).toDF("k", "w")

      def run(): (Long, Long, org.apache.spark.sql.execution.SparkPlan) = {
        val joined = left.join(right, "k")
        val agg = joined.agg(count(lit(1)).as("n"), sum(col("v") + col("w"))
          .as("s"))
        val row = agg.head()
        // The join's executed plan lives under the agg's final stages.
        (row.getLong(0), row.getLong(1),
          joined.queryExecution.executedPlan)
      }

      val t0 = System.nanoTime()
      val (n1, s1, _) = run()
      val skewSec = (System.nanoTime() - t0) / 1e9
      // Re-run to inspect the join plan itself (fresh QueryExecution so
      // the AQE final plan is this run's).
      val joined = left.join(right, "k")
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan
      val ns = Harness.planNodes(plan)
      val smj = ns.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n$plan")
      assert(smj.exists(_.isSkewJoin),
        s"OptimizeSkewedJoin did not engage:\n$plan")
      val splits = ns.collect { case r: AQEShuffleReadExec =>
        r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
      }.filter(_ > 0)
      assert(splits.nonEmpty && splits.max > 1,
        s"expected the hot partition split into >1 reader specs, " +
          s"got $splits:\n$plan")
      info(s"skew splits per AQE read: ${splits.mkString(",")}; " +
        s"skew-on run ${math.round(skewSec * 100) / 100.0}s")

      // Identical result with the optimization off.
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val t1 = System.nanoTime()
      val (n2, s2, plan2) = run()
      val noSkewSec = (System.nanoTime() - t1) / 1e9
      assert(!Harness.planNodes(plan2)
        .collect { case j: SortMergeJoinExec => j }.exists(_.isSkewJoin))
      assert(n1 == n2 && s1 == s2,
        s"skew split changed the result: ($n1,$s1) vs ($n2,$s2)")
      info(s"skew-off run ${math.round(noSkewSec * 100) / 100.0}s")
    } finally restore()
  }
}
