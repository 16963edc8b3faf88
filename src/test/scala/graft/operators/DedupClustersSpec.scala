package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class DedupClustersSpec extends AnyFunSuite {

  test("min-label propagation finds components: chain, triangle, pair") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("da", "db")
    val out = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("CC never touches the session shuffle width, and the loop width " +
    "is pinned by explicit repartition instead") {
    val spark = TestSpark.spark
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    Dedup.nearDupClusters(pairs).count()
    assert(spark.conf.get(key) === before, "conf written on success path")
    // maxIters = 0 exits the loop unconverged → the guard throws; the
    // conf must remain untouched on that path too.
    intercept[IllegalStateException] {
      Dedup.nearDupClusters(pairs, maxIters = 0)
    }
    assert(spark.conf.get(key) === before, "conf written on throw path")
    // The width pin itself: propagateStep(width = w) must end in a
    // w-wide exchange regardless of the session conf.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("id", "lbl")
    assert(Dedup.propagateStep(edges, labels, 0, 3)
      .rdd.getNumPartitions === 3)
  }

  test("reliable-checkpoint mode produces identical labels " +
    "(spark.graft.reliableCheckpoint)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("da", "db")
    val local = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // Missing checkpoint dir must fail loudly, not fall back silently.
    // Guarded: only assertable if no earlier suite in this shared JVM
    // already set a checkpoint dir (suite-order independence).
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt")
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        intercept[IllegalArgumentException] {
          Dedup.nearDupClusters(pairs).count()
        }
      }
      spark.sparkContext.setCheckpointDir(dir.toString)
      val reliable = Dedup.nearDupClusters(pairs)
        .as[(Long, Long)].collect().toMap
      assert(reliable == local,
        "reliable-checkpoint CC diverged from localCheckpoint CC")
      // Auto-detect: with the conf UNSET, a configured checkpoint dir
      // alone selects the reliable path — observable as checkpoint
      // files landing under a fresh dir.
      spark.conf.unset("spark.graft.reliableCheckpoint")
      val dir2 = java.nio.file.Files.createTempDirectory("graft-cc-auto")
      try {
        spark.sparkContext.setCheckpointDir(dir2.toString)
        val auto = Dedup.nearDupClusters(pairs)
          .as[(Long, Long)].collect().toMap
        assert(auto == local, "auto-detected reliable CC diverged")
        assert(Option(dir2.toFile.listFiles()).exists(_.nonEmpty),
          "checkpoint dir set + conf unset must auto-select reliable " +
            "checkpointing (no files were written)")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(dir2.toFile)
      }
    } finally {
      spark.conf.unset("spark.graft.reliableCheckpoint")
      // Restore the pristine no-checkpoint-dir state on the SHARED
      // context (there is no public unset; the var is public in
      // bytecode — same out-of-package access as Harness.drainListeners'
      // listenerBus). Leaving a deleted dir configured would silently
      // flip every later suite's CC runs to the reliable path.
      val sc = spark.sparkContext
      sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, None)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("incremental dedup equals the cross-split restriction of the " +
    "full pair scan") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val sh = Dedup.docShingles(graft.Tables.t(spark,
      "/root/testdata/sf0.001", "documents"))
    val inc = Dedup.incrementalNearDupPairs(
      corpus = sh.filter(col("doc_id") % 5 =!= 0),
      incoming = sh.filter(col("doc_id") % 5 === 0), 4, 5)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashNearDupPairs(sh, 4, 5)
      .select("da", "db").as[(Long, Long)].collect()
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }.toSet
    assert(inc == full && inc.nonEmpty)
  }

  test("a long chain converges within the iteration cap") {
    val spark = TestSpark.spark
    import spark.implicits._
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("da", "db")
    val out = Dedup.nearDupClusters(chain).as[(Long, Long)].collect()
    assert(out.length == 31 && out.forall(_._2 == 0L))
  }
}
