package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference streaming consumer rebuilt source-agnostically
  * (reference: airflow_home/scripts/spark_consumer_kafka.py:55-159).
  *
  * Every stage is `DataFrame => DataFrame`, so the identical plan runs
  * over a Kafka source in production, a MemoryStream in tests, and a batch
  * DataFrame for oracle checks — same-plan-both-ways is itself a
  * correctness check (SURVEY.md §7.2.3).
  *
  * Scale notes: the windowed aggregate shuffles once on
  * (window, location) with partial aggregation before the exchange; state
  * is bounded by the watermark (T1); the dimension join broadcasts. At
  * 1000 executors the only scaling knobs are Kafka partitions (source
  * parallelism) and shuffle partitions — the plan itself has no
  * driver-side loops or unbounded state. The parse stage runs at most
  * `defaultParallelism` tasks (one per core): `parse` coalesces its input,
  * a narrow merge with no shuffle, so a source that hands a trigger many
  * tiny partitions (about 100 MemoryStream blocks per second in the
  * benchmark) no longer pays one task per partition, and a source with
  * fewer partitions than cores is left as it is.
  */
object CovidStreamPipeline {

  /** Parse the JSON wire format with the declared schema — PERMISSIVE
    * parse, then null rejection (spark_consumer_kafka.py:65-74). Input
    * must have a string column `value` (Kafka's payload after
    * CAST(value AS STRING), or the raw MemoryStream string).
    *
    * The date parse is try_to_timestamp + explicit rejection: a plain
    * to_timestamp THROWS on a malformed date string under ANSI mode
    * (the library's default) — one bad producer message would kill the
    * StreamingQuery permanently — and under pre-ANSI it produced a
    * null event_time that slipped past the declared rejection stage
    * only to be dropped silently inside the window expansion.
    * Malformed dates now reject with the other malformed fields, in
    * both modes (StreamingSliceSpec covers a bad-date message).
    *
    * The input is first coalesced to at most one partition per core
    * (Scale notes above).
    */
  def parse(raw: DataFrame): DataFrame =
    raw.coalesce(raw.sparkSession.sparkContext.defaultParallelism)
      .selectExpr("CAST(value AS STRING) AS json_value")
      .withColumn("data", from_json(col("json_value"),
        Tables.covidMessageSchema))
      .select(
        col("data.date").as("date"),
        col("data.location").as("location"),
        col("data.new_cases").as("new_cases"),
        col("data.total_cases").as("total_cases"))
      .withColumn("event_time",
        expr("try_to_timestamp(date, 'yyyy-MM-dd')"))
      .filter(col("location").isNotNull && col("new_cases").isNotNull &&
        col("total_cases").isNotNull && col("event_time").isNotNull)

  /** Watermarked 1-minute tumbling-window 5-aggregate
    * (spark_consumer_kafka.py:77-99), column names matching the
    * covid_aggregates DDL (reference README.md:74-82).
    */
  def aggregate(df: DataFrame): DataFrame =
    df.withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("location"))
      .agg(
        sum(col("new_cases")).as("total_new_cases_in_window"),
        avg(col("new_cases")).as("avg_new_cases_per_entry"),
        max(col("new_cases")).as("max_new_cases_in_window"),
        sum(col("total_cases")).as("total_cases_sum_in_window"),
        avg(col("total_cases")).as("avg_total_cases_per_entry"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("location"),
        col("total_new_cases_in_window"),
        col("avg_new_cases_per_entry"),
        col("max_new_cases_in_window"),
        col("total_cases_sum_in_window"),
        col("avg_total_cases_per_entry"))

  /** Static-dimension enrichment + derived per-million metric
    * (spark_consumer_kafka.py:102-128). `dim` is the countries table
    * (country_name, population, continent) — cached and broadcast like
    * the reference's 8-row MySQL dim.
    */
  def enrich(dim: DataFrame)(df: DataFrame): DataFrame =
    df.join(broadcast(dim),
        df("location") === dim("country_name"), "inner")
      .drop("country_name")
      .withColumn("new_cases_per_million_in_window",
        (col("total_new_cases_in_window") * lit(1000000.0) /
          col("population")).cast(DecimalType(20, 4)))
      .withColumn("processing_time", current_timestamp())

  /** Full transform: parse → watermark+window agg → enrich. */
  def transform(dim: DataFrame)(raw: DataFrame): DataFrame =
    enrich(dim)(aggregate(parse(raw)))

  /** The 8-row countries fixture (reference README.md:88-92) as the test
    * dimension, normalized like spark_consumer_kafka.py:37-41.
    */
  def countriesDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("New Zealand", 5120000L, "Oceania"),
      ("United States", 331900000L, "North America"),
      ("India", 1400000000L, "Asia"),
      ("Germany", 83200000L, "Europe"),
      ("Brazil", 215000000L, "South America"),
      ("Australia", 26000000L, "Oceania"),
      ("United Kingdom", 67000000L, "Europe"),
      ("Canada", 38000000L, "North America")
    ).toDF("country_name", "population", "continent").cache()
  }

  /** Start the streaming query with the keyed-upsert foreachBatch sink.
    * Update output mode re-emits a (window, location) row whenever late
    * data changes it; the sink must therefore UPSERT on the primary key —
    * the reference appends into a PK'd table instead, which fails on the
    * first late update (spark_consumer_kafka.py:131-157, SURVEY.md
    * §4.4.2). The empty-batch guard (A7) lives in the sink.
    */
  def start(raw: DataFrame, dim: DataFrame, sink: ParquetUpsertSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery = {
    val upsert: (DataFrame, Long) => Unit =
      (batch, batchId) => sink.upsert(batch, batchId)
    transform(dim)(raw)
      .writeStream
      .outputMode("update")
      .foreachBatch(upsert)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Kafka source surface, mirroring spark_consumer_kafka.py:55-62.
    * Construct-only in this offline environment (no spark-sql-kafka jar):
    * returns the configured reader; `.load()` requires the connector on
    * the classpath.
    */
  def kafkaReader(spark: SparkSession, bootstrapServers: String,
      topic: String): DataStreamReader =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(bootstrapServers, topic))

  /** The exact Kafka-source option map, as DATA: the reader above
    * consumes it verbatim and KafkaSurfaceSpec pins it golden, so
    * option drift (the one reference surface that cannot EXECUTE in
    * this offline environment — no spark-sql-kafka jar) fails
    * `sbt test` instead of surfacing on a production broker.
    * Reference parity: subscribe + earliest + failOnDataLoss=false
    * (spark_consumer_kafka.py:55-62); DEPLOY.md documents the
    * one-line MemoryStream → kafkaReader swap.
    */
  def kafkaSourceOptions(bootstrapServers: String,
      topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest",
    "failOnDataLoss" -> "false")
}
