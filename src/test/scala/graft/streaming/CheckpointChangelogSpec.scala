package graft.streaming

import java.nio.file.{Files, Path}

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** RocksDB changelog checkpointing is ASSERTED by one GraftConf line
  * (VERDICT r17 "what's wrong" #4): a typo'd key would silently revert
  * every commit to a full snapshot upload and everything else would
  * stay green. This spec makes the flag observable: after a committed
  * batch of a transformWithState query on the GraftConf session, the
  * checkpoint's state directory must contain `<version>.changelog`
  * files — the O(batch) commit artifact — not only `.zip` full
  * snapshots.
  */
class CheckpointChangelogSpec extends AnyFunSuite {

  private def filesUnder(root: Path): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.forEach(p => if (Files.isRegularFile(p)) b += p.toString: Unit)
      finally s.close()
    }
    b.result()
  }

  test("a committed RocksDB batch writes changelog files into the " +
    "checkpoint (GraftConf's changelogCheckpointing key is live)") {
    val spark = TestSpark.spark
    import spark.implicits._

    // The conf must be ON in the session under test — if GraftConf's
    // key ever drifts (or is unset), this check fails the spec by name
    // instead of the file assertion failing obscurely.
    val key = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    assert(spark.conf.getOption(key).contains("true"),
      s"$key is ${spark.conf.getOption(key)} in the GraftConf session")

    val ckpt = Files.createTempDirectory("graft-ckpt-changelog")
    try {
      val source = MemoryStream[StatefulOps.DocKey](spark)
      // Feed BEFORE start: AvailableNow pins its end offsets at query
      // start, so later addData would leave the run with zero batches
      // (and this spec would fail vacuously on an empty state dir).
      source.addData(StatefulOps.DocKey("k1", 7L),
        StatefulOps.DocKey("k2", 3L))
      val q = StatefulOps.canonicalKeepers(source.toDS())
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            StatefulOps.Keeper], _: Long) =>
          b.collect(): Unit
        }
        .start()
      q.awaitTermination()

      val state = filesUnder(ckpt.resolve("state"))
      val changelogs = state.filter(_.endsWith(".changelog"))
      assert(changelogs.nonEmpty,
        s"no .changelog files under ${ckpt.resolve("state")} — commits " +
          "are uploading full snapshots; the changelogCheckpointing " +
          s"conf is not reaching RocksDB (state files: " +
          s"${state.take(10).mkString(", ")})")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
  }
}
