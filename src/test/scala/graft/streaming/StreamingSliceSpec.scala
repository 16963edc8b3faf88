package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{Harness, TestSpark}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming slice test (SURVEY.md §5.2): the full reference-analog
  * plan fed by a MemoryStream, asserting watermark semantics —
  * late-but-inside-watermark rows merge, beyond-watermark rows drop —
  * and the keyed-upsert sink contract under update output mode.
  *
  * Event times are day-granular (the reference parses 'yyyy-MM-dd',
  * spark_consumer_kafka.py:69), so a row one day behind the max observed
  * event time is far beyond the 10-minute watermark.
  */
class StreamingSliceSpec extends AnyFunSuite {

  private def row(date: String, loc: String, newCases: Int,
      total: Int): String =
    s"""{"date": "$date", "location": "$loc", "new_cases": $newCases, "total_cases": $total}"""

  test("watermarked pipeline merges in-watermark rows, drops late rows, " +
    "rejects nulls and malformed JSON, and upserts on the window key") {
    val spark = TestSpark.spark
    import spark.implicits._

    val source = MemoryStream[String](spark)
    val sinkDir = Files.createTempDirectory("graft-sink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val sink = new ParquetUpsertSink(sinkDir,
      Seq("window_start", "location"))

    val query = CovidStreamPipeline.start(
      source.toDF(), CovidStreamPipeline.countriesDim(spark), sink, ckpt,
      trigger = Trigger.ProcessingTime(0))

    // Batch 1: two locations on 2021-03-01. Watermark after this batch:
    // 2021-03-01 00:00 - 10 min.
    source.addData(
      row("2021-03-01", "New Zealand", 5, 100),
      row("2021-03-01", "New Zealand", 7, 107),
      row("2021-03-01", "United States", 40, 1000))
    query.processAllAvailable()

    val afterB1 = sink.read(spark)
      .select("location", "total_new_cases_in_window",
        "max_new_cases_in_window")
      .as[(String, Long, Int)].collect()
      .map { case (l, t, m) => l -> ((t, m)) }.toMap
    assert(afterB1("New Zealand") == ((12L, 7)))
    assert(afterB1("United States") == ((40L, 40)))

    // Batch 2: an in-watermark update for NZ (same event date as the max
    // seen → 0 delay, merged); a beyond-watermark US row (2 days earlier
    // → dropped); a null location; malformed JSON.
    source.addData(
      row("2021-03-01", "New Zealand", 3, 110),
      row("2021-02-27", "United States", 999, 9999),
      """{"date": "2021-03-01", "location": null, "new_cases": 1, "total_cases": 1}""",
      "{not json at all",
      // Malformed DATE in valid JSON: must reject at the parse stage —
      // under ANSI (the session default here) a plain to_timestamp
      // would throw and kill the query instead.
      row("2021/03/01", "New Zealand", 50, 500))
    query.processAllAvailable()
    query.stop()

    val rows = sink.read(spark)
    val byKey = rows
      .select("location", "total_new_cases_in_window",
        "max_new_cases_in_window", "total_cases_sum_in_window")
      .as[(String, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    // NZ merged: 5+7+3; US unchanged; the 02-27 window never appears.
    assert(rows.count() == 2)
    assert(byKey("New Zealand") == ((15L, 7, 317L)))
    assert(byKey("United States") == ((40L, 40, 1000L)))

    // Enrichment joined the right dim rows and derived the metric.
    val nz = rows.filter($"location" === "New Zealand")
      .select("population", "continent",
        "new_cases_per_million_in_window")
      .as[(Long, String, BigDecimal)].head()
    assert(nz._1 == 5120000L)
    assert(nz._2 == "Oceania")
    assert(nz._3 == BigDecimal("2.9297")) // 15 * 1e6 / 5120000 = 2.9296875
  }

  test("a trigger of 40 source blocks parses in at most one task per " +
    "core and sinks the rows the batch transform gives") {
    val spark = TestSpark.spark
    import spark.implicits._

    val blocks = (0 until 40).map { b =>
      val day = f"2021-03-${1 + b % 3}%02d"
      Seq(row(day, "New Zealand", b, 100 + b),
        row(day, if (b % 2 == 0) "India" else "Germany", 2 * b, 1000 + b)) ++
        (if (b % 10 == 0) Seq("{not json") else Nil)
    }
    val dim = CovidStreamPipeline.countriesDim(spark)
    def sorted(df: DataFrame): Seq[Row] =
      df.drop("processing_time").orderBy("window_start", "location")
        .collect().toSeq

    val source = MemoryStream[String](spark)
    blocks.foreach(b => source.addData(b))
    val sink = new ConcurrentLinkedQueue[Row]()
    val sourceStageTasks = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
          sourceStageTasks.add(e.stageInfo.numTasks)
    }
    val ckpt = Files.createTempDirectory("graft-ckpt-width")
    spark.sparkContext.addSparkListener(listener)
    try {
      val query = CovidStreamPipeline.transform(dim)(source.toDF())
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(sink.add)
        }
        .start()
      query.awaitTermination()
      Harness.drainListeners(spark)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }

    val cores = spark.sparkContext.defaultParallelism
    val widths = sourceStageTasks.asScala.map(_.intValue).toSeq
    assert(cores < blocks.size)
    assert(widths.nonEmpty, "no stage read the MemoryStream")
    assert(widths.forall(_ <= cores),
      s"source stages ran $widths tasks on $cores cores")

    val batch = sorted(CovidStreamPipeline.transform(dim)(
      blocks.flatten.toDF("value")))
    val streamed = sorted(spark.createDataFrame(sink.asScala.toSeq.asJava,
      sink.peek().schema))
    assert(batch.size == 9)
    assert(streamed == batch)
  }
}
