package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders + declared schemas for the engine.
  *
  * Schemas are declared explicitly (never inferred) following the reference's
  * practice of a hardcoded StructType for its stream
  * (reference: airflow_home/scripts/spark_consumer_kafka.py:47-52) and a
  * select/alias/cast normalization of its JDBC dimension
  * (spark_consumer_kafka.py:37-41).
  */
object Tables {

  /** Parquet loader for a driver-generated testdata table.
    *
    * `events.ts` has shipped in two physical encodings across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 can only read as
    * raw nanos via the legacy conf) and plain `timestamp[us]`
    * (isAdjustedToUTC=false → TIMESTAMP_NTZ). The loader reads the schema
    * it is actually handed and normalizes either encoding to a session-TZ
    * TimestampType column:
    *   - LongType (nanos fixture): truncate to micros with *integer*
    *     division (`div` — double division loses precision above 2^53,
    *     and epoch-nanos are ~1.7e18), matching DuckDB's TIMESTAMP_NS →
    *     TIMESTAMP(µs) truncation.
    *   - TimestampNTZType: cast to TimestampType. All graft sessions pin
    *     spark.sql.session.timeZone=UTC, so the cast preserves the wall
    *     clock and the DuckDB oracle's naive-UTC comparison holds.
    *   - TimestampType: pass through.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // SESSION-WIDE side effect, deliberate: with the conf set, INT64
      // TIMESTAMP(NANOS) columns load as BIGINT instead of Spark 4's
      // unsupported-type error. Harmless for micros data (the conf only
      // affects nanos-annotated columns), and it must be set BEFORE the
      // read — dtype detection requires a successful schema load, and
      // reading a nanos file without it throws. Scoping it per-read is
      // unsafe (the conf is consulted again at EXECUTION, which may
      // happen after a restore), so the policy is session-global.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      val F = org.apache.spark.sql.functions
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        case _: TimestampNTZType =>
          raw.withColumn("ts", F.col("ts").cast(TimestampType))
        case _ => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Schema of the reference's Kafka JSON message
    * (spark_consumer_kafka.py:47-52): one fact row per message.
    */
  val covidMessageSchema: StructType = StructType(Seq(
    StructField("date", StringType),
    StructField("location", StringType),
    StructField("new_cases", IntegerType),
    StructField("total_cases", IntegerType)
  ))

  /** Schema of the `props` JSON payload carried by the `events` table —
    * the testdata analog of the reference's JSON-on-the-wire fact row.
    */
  val eventPropsSchema: StructType = StructType(Seq(
    StructField("k", IntegerType)
  ))

  /** Static enrichment dimension keyed by event_type — the testdata analog of
    * the reference's 8-row `countries` MySQL dimension
    * (reference README.md:84-92): a small static table with a population-like
    * weight used for the derived per-million metric
    * (spark_consumer_kafka.py:109-112) and a continent-like category.
    *
    * Kept tiny by design so Catalyst auto-broadcasts it, exactly as the 8-row
    * countries dim broadcasts in the reference's stream-static join
    * (spark_consumer_kafka.py:102-106).
    */
  val eventTypeDimRows: Seq[(String, Long, String)] = Seq(
    ("click", 331900000L, "engagement"),
    ("view", 1400000000L, "engagement"),
    ("purchase", 5120000L, "revenue"),
    ("signup", 83200000L, "growth"),
    ("error", 215000000L, "ops")
  )

  /** The same dim as a VALUES clause for the DuckDB oracle. */
  val eventTypeDimSql: String = dimSql(eventTypeDimRows)

  /** One VALUES-clause builder for both dim variants — a dim schema
    * change edits one template.
    */
  private def dimSql(rows: Seq[(String, Long, String)]): String =
    rows.map { case (et, w, c) => s"('$et', CAST($w AS BIGINT), '$c')" }
      .mkString("(VALUES ", ", ", ") AS dim(event_type, weight, category)")

  /** Left-join variant: dim with one key deliberately absent ('view'), to
    * exercise the documented left-join alternative of the reference
    * (spark_consumer_kafka.py:105 comment).
    */
  val eventTypeDimPartialRows: Seq[(String, Long, String)] =
    eventTypeDimRows.filterNot(_._1 == "view")

  val eventTypeDimPartialSql: String = dimSql(eventTypeDimPartialRows)

  def eventTypeDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    eventTypeDimRows.toDF("event_type", "weight", "category")
  }

  def eventTypeDimPartial(spark: SparkSession): DataFrame = {
    import spark.implicits._
    eventTypeDimPartialRows.toDF("event_type", "weight", "category")
  }
}
