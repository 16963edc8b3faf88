package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Runnable demo of the streaming pipeline: JSON rows → watermarked
  * window aggregate → dim join → keyed-upsert parquet sink, fed by a
  * MemoryStream (Kafka in production — see
  * CovidStreamPipeline.kafkaReader). Prints the sink store after a
  * two-batch run that exercises the late-data paths.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(4)
    import spark.implicits._

    val source = MemoryStream[String](spark)
    val sinkDir = Files.createTempDirectory("demo-sink").toString + "/out"
    val ckpt = Files.createTempDirectory("demo-ckpt").toString
    val sink = new ParquetUpsertSink(sinkDir,
      Seq("window_start", "location"))

    val query = CovidStreamPipeline.start(
      source.toDF(), CovidStreamPipeline.countriesDim(spark), sink, ckpt,
      trigger = Trigger.ProcessingTime(0))

    def j(d: String, l: String, n: Int, t: Int) =
      s"""{"date": "$d", "location": "$l", "new_cases": $n, "total_cases": $t}"""

    source.addData(
      j("2021-03-01", "New Zealand", 5, 100),
      j("2021-03-01", "New Zealand", 7, 107),
      j("2021-03-01", "United States", 40, 1000))
    query.processAllAvailable()
    println("=== after batch 1 ===")
    sink.read(spark).orderBy("location").show(false)

    source.addData(
      j("2021-03-01", "New Zealand", 3, 110), // in-watermark update
      j("2021-02-27", "United States", 999, 9999), // beyond watermark
      """{"date": "2021-03-01", "location": null, "new_cases": 1, "total_cases": 1}""",
      "{not json at all")
    query.processAllAvailable()
    query.stop()
    println("=== after batch 2 (late-data update applied, drops filtered) ===")
    sink.read(spark).orderBy("location").show(false)

    // Custom keyed state: running totals across the stream's lifetime
    // (mapGroupsWithState — state beyond windowed aggregation).
    val kv = MemoryStream[StatefulOps.KeyedValue](spark)
    val rt = StatefulOps.runningTotals(kv.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("demo_running").start()
    kv.addData(StatefulOps.KeyedValue("clicks", 2.0),
      StatefulOps.KeyedValue("views", 1.0))
    rt.processAllAvailable()
    kv.addData(StatefulOps.KeyedValue("clicks", 5.0))
    rt.processAllAvailable()
    rt.stop()
    println("=== running totals (state persists across batches) ===")
    spark.table("demo_running").orderBy("key", "n").show(false)
    spark.stop()
  }
}
