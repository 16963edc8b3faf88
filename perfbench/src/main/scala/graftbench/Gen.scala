package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generated wire message. `day` is the simulated day its `date`
  * field names (-1 when the message carries no parseable date); `kind`
  * says what the generator meant it to be.
  */
final case class Msg(day: Int, kind: Int, location: Int, json: String)

object Msg {
  val Ok = 0
  /** Broken JSON, a missing field, a non-numeric count or an invalid date. */
  val Malformed = 1
  /** Dated two days before the stream's current day, so older than the
    * watermark once the stream has moved past it.
    */
  val Late = 2
}

/** The generated countries dimension: ~OWID-sized set of locations with
  * a population and a continent each.
  */
final case class Dimension(names: IndexedSeq[String],
    population: IndexedSeq[Long], continent: IndexedSeq[String]) {
  def size: Int = names.size

  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    names.indices.map(i => (names(i), population(i), continent(i)))
      .toDF("country_name", "population", "continent").cache()
  }
}

/** Seeded input generator. Every stream of messages is a pure function
  * of (seed, stream tag, parameters); the program only ever sees the
  * generated JSON strings.
  */
object Gen {
  val BaseDay: java.time.LocalDate = java.time.LocalDate.of(2021, 1, 1)

  private val Continents = IndexedSeq("Africa", "Asia", "Europe",
    "North America", "Oceania", "South America")
  private val Syllables = IndexedSeq("ka", "lo", "mi", "ra", "su", "ten",
    "vo", "ba", "ne", "dor", "ia", "stan", "gu", "ve", "lia", "po")

  def rng(seed: Long, tag: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + tag)

  def dimension(seed: Long, n: Int): Dimension = {
    val r = rng(seed, 1)
    val names = (0 until n).map { i =>
      val word = (0 until 2 + r.nextInt(3))
        .map(_ => Syllables(r.nextInt(Syllables.size))).mkString
      f"${word.capitalize} $i%04d"
    }
    Dimension(names,
      names.map(_ => 100000L + r.nextLong(1400000000L)),
      names.map(_ => Continents(r.nextInt(Continents.size))))
  }

  def date(day: Int): String = BaseDay.plusDays(day.toLong).toString

  private def json(date: String, loc: String, newCases: String,
      totalCases: String): String =
    s"""{"date": "$date", "location": "$loc", "new_cases": $newCases, "total_cases": $totalCases}"""

  /** One message for simulated day `day`: malformed with probability
    * `malformed`, late (two days old) with probability `late` once the
    * stream is two days in, otherwise a well-formed current message.
    */
  def message(r: SplittableRandom, dim: Dimension, day: Int,
      malformed: Double, late: Double): Msg = {
    val loc = r.nextInt(dim.size)
    val name = dim.names(loc)
    val nc = r.nextInt(500).toString
    val tc = r.nextInt(1000000).toString
    val u = r.nextDouble()
    if (u < malformed) {
      val d = date(day)
      val body = r.nextInt(4) match {
        case 0 => json(d, name, nc, tc).dropRight(7)
        case 1 => s"""{"date": "$d", "new_cases": $nc, "total_cases": $tc}"""
        case 2 => json(d, name, "\"n/a\"", tc)
        case _ => json("2021-02-30", name, nc, tc)
      }
      Msg(-1, Msg.Malformed, loc, body)
    } else if (u < malformed + late && day >= 2)
      Msg(day - 2, Msg.Late, loc, json(date(day - 2), name, nc, tc))
    else Msg(day, Msg.Ok, loc, json(date(day), name, nc, tc))
  }

  /** `n` messages for consecutive indices starting at `from`, with the
    * day advancing every `perDay` messages.
    */
  def stream(seed: Long, tag: Long, dim: Dimension, from: Long, n: Int,
      perDay: Long, malformed: Double, late: Double): Array[Msg] = {
    val r = rng(seed, tag)
    Array.tabulate(n)(i =>
      message(r, dim, ((from + i) / perDay).toInt, malformed, late))
  }
}
