package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.chaining._

import graft.GraftConf
import graft.streaming.ParquetUpsertSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Tiny-size checks of the harness's own logic: input generation, the
  * quantile estimator, the latency clock and the late-row derivation the
  * stream correctness check rests on.
  */
class SelfSpec extends AnyFunSuite {

  private lazy val work: Path = {
    val p = Paths.get("target", "selftest").toAbsolutePath
    Files2.deleteTree(p)
    Files.createDirectories(p)
  }

  private lazy val spark: SparkSession = GraftConf.tune(SparkSession.builder())
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
    .tap(_.sparkContext.setLogLevel("ERROR"))

  test("the generator is a pure function of the seed") {
    val dim = Gen.dimension(7, 40)
    assert(dim == Gen.dimension(7, 40))
    assert(dim != Gen.dimension(8, 40))
    val a = Gen.stream(7, 3, dim, 0, 2000, 500, 0.05, 0.05)
    assert(a.toSeq == Gen.stream(7, 3, dim, 0, 2000, 500, 0.05, 0.05).toSeq)
    assert(a.toSeq != Gen.stream(8, 3, dim, 0, 2000, 500, 0.05, 0.05).toSeq)
    // Days advance every 500 messages; late messages are two days old and
    // only appear once the stream is two days in.
    assert(a.map(_.day).max == 3)
    assert(a.exists(_.kind == Msg.Malformed) && a.exists(_.kind == Msg.Late))
    assert(a.zipWithIndex.forall { case (m, i) =>
      m.kind match {
        case Msg.Ok => m.day == i / 500
        case Msg.Late => m.day == i / 500 - 2
        case _ => m.day == -1
      }
    })
  }

  test("quantiles weigh every order statistic") {
    assert(Stats.quantile(Nil, 0.5).isNaN)
    assert(Stats.quantile(Seq(4.0), 0.99) == 4.0)
    // Symmetric sample: the median is its centre, whatever the order.
    assert(math.abs(Stats.median(Seq(5.0, 1.0, 3.0, 2.0, 4.0)) - 3.0) < 1e-9)
    // Moving the middle value moves the median by less than the move.
    val m = Stats.median(Seq(1.0, 2.0, 3.5, 4.0, 5.0))
    assert(m > 3.0 && m < 3.5)
    val big = (1 to 20000).map(_.toDouble)
    assert(math.abs(Stats.quantile(big, 0.5) - 10000.5) < 1.0)
    assert(math.abs(Stats.quantile(big, 0.99) - 19800.0) < 20.0)
  }

  test("latency is counted from the due time, not the send time") {
    // Messages 0-9 are due 1 ms apart but the generator only sends them
    // at 50 ms; the batch carrying them returns at 100 ms.
    val chunks = Seq(Chunk(0, 0, 10, sentNs = 50000000L),
      Chunk(1, 10, 12, sentNs = 120000000L))
    val batches = Seq(BatchInfo(0, -1, 0, 0), BatchInfo(1, 0, 1, 0))
    val returns = Map(0L -> 100000000L, 1L -> 130000000L)
    val lat = Derive.latenciesMs(chunks, i => i * 1000000L, batches, returns.get)
    assert(lat.take(10) == (0 until 10).map(i => 100.0 - i))
    assert(lat.drop(10) == Seq(120.0, 119.0))
    // A batch with no recorded return leaves its messages out.
    assert(Derive.latenciesMs(chunks, _ => 0L, batches, Map(0L -> 1L).get).size == 10)
  }

  test("the late-row derivation matches what the engine keeps") {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val dimension = Gen.dimension(3, 3)
      val dim = dimension.toDF(spark)
      def msg(day: Int, loc: Int, n: Int) = Msg(day, Msg.Ok, loc,
        s"""{"date": "${Gen.date(day)}", "location": "${dimension.names(loc)}", "new_cases": $n, "total_cases": ${n * 10}}""")
      // One chunk per micro-batch. Batch 1 carries day 2, so batch 2 runs
      // under a day-2 watermark but still filters late rows with batch 1's
      // (day 0): its day-0 and day-1 messages count. Batch 3 filters with
      // the day-2 watermark and drops its day-0 and day-1 messages.
      val chunks = Seq(
        Seq(msg(0, 0, 1), msg(0, 1, 2)),
        Seq(msg(2, 0, 3)),
        Seq(msg(0, 0, 4), msg(1, 2, 5), msg(2, 1, 6)),
        Seq(msg(0, 1, 7), msg(1, 2, 8), msg(2, 2, 9)))
      val all = chunks.flatten.toIndexedSeq
      val sink = new ParquetUpsertSink(work.resolve("store").resolve("t").toString,
        Seq("window_start", "location"))
      val run = new StreamRun(spark, dim, work.resolve("ckpt"),
        Trigger.ProcessingTime(0), sink.upsert, new Tracer(false))
      var from = 0
      chunks.foreach { c =>
        run.offer(all, from, from + c.size)
        run.query.processAllAvailable()
        from += c.size
      }
      run.stop()
      val dropped = Derive.dropped(all, run.chunks.toSeq, run.batches)
      assert(dropped == Set(6, 7))
      val (ok, detail) = Streams.compare(
        Streams.expected(spark, dim, all, dropped), sink.read(spark))
      assert(ok, detail)
      // Filtering batch 2 with its own watermark would have dropped its
      // day-0 and day-1 messages too; the engine kept them.
      val byOwn = run.chunks.flatMap { c =>
        val wm = Derive.batchOf(run.batches, c.offset).get.watermarkMs
        (c.from until c.until).filter(i => Derive.windowEndMs(all(i).day) <= wm)
      }.toSet
      assert(byOwn == Set(3, 4, 6, 7))
    } finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
  }
}
