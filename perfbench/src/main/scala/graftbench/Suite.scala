package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.{QuerySpec, SparkEntry, Tables}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a query result over every output column:
  * the row count plus two sums of per-row hashes of the string-cast
  * columns, taken in column-name order (the order the oracle compare
  * uses). Evaluating it reads every column, so no column can be pruned
  * from the timed execution.
  */
object Digest {
  def of(df: DataFrame): String = {
    val names = df.columns.toSeq
    val byName = names.zipWithIndex.sortBy(_._1).map(_._2)
    val pos = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cells: Seq[Column] = byName.map(i =>
      coalesce(col(s"c$i").cast("string"), lit("\u0001null")))
    val row = pos
      .select(xxhash64(cells: _*).cast("decimal(38,0)").as("h1"),
        hash(cells: _*).cast("long").as("h2"))
      .agg(count(lit(1)), coalesce(sum("h1"), lit(BigDecimal(0))),
        coalesce(sum("h2"), lit(0L)))
      .head()
    val cols = java.lang.Integer.toHexString(byName.map(names).mkString(",").hashCode)
    s"${row.getLong(0)}:${row.get(1)}:${row.get(2)}:$cols"
  }
}

/** The batch suite: the declared `query` and `build` specs, run once each
  * (cold) in one session, each timed around building its DataFrame and
  * evaluating its digest.
  */
object Suite {
  /** The objects that declare the specs, by name (the `family.*` metrics). */
  val Families: Seq[(String, Seq[QuerySpec])] = Seq(
    "CoreQueries" -> CoreQueries.all, "FlagshipQueries" -> FlagshipQueries.all,
    "AnalyticQueries" -> AnalyticQueries.all,
    "RelationalQueries" -> RelationalQueries.all,
    "FunctionQueries" -> FunctionQueries.all, "TextQueries" -> TextQueries.all,
    "DedupQueries" -> DedupQueries.all, "SimilarityQueries" -> SimilarityQueries.all,
    "PipelineQueries" -> PipelineQueries.all, "CorpusQueries" -> CorpusQueries.all,
    "ChainQueries" -> ChainQueries.all, "MultimodalQueries" -> MultimodalQueries.all,
    "ScaleQueries" -> ScaleQueries.all)

  private val familyOf: Map[String, String] =
    Families.flatMap { case (f, specs) => specs.map(_.name -> f) }.toMap

  /** Every declared query- and build-category spec, in declared order. */
  def declared: Seq[QuerySpec] =
    SparkEntry.specs.filter(s => s.category == "query" || s.category == "build")

  /** A run times every `Stride`-th query/build spec of each declaring
    * object: the full pass does not fit one run's time budget.
    */
  val Stride = 10

  /** The specs a run times, in declared order: within each declaring
    * object, every `Stride`-th of its query and build specs, starting
    * with its first, so every family is represented.
    */
  def selected: Seq[QuerySpec] = {
    val keep = declared.groupBy(s => familyOf.getOrElse(s.name, "other"))
      .values.flatMap(_.zipWithIndex.collect { case (s, i) if i % Stride == 0 => s.name })
      .toSet
    declared.filter(s => keep(s.name))
  }

  def readGolden(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  /** Digests of a graft.Verify dump (one parquet directory per query),
    * the golden file's source once the dump passes the oracle compare.
    */
  def recordGolden(spark: SparkSession, dump: Path, out: Path): Unit = {
    val lines = declared.map { s =>
      s.name + "\t" + (if (s.oracle.isEmpty) Unchecked
        else Digest.of(spark.read.parquet(dump.resolve(s.name).toString)))
    }
    Files.write(out, (Seq(
      "# name\tdigest (rows:xxhash64 sum:hash sum:column names)",
      s"# $Unchecked: no oracle SQL, so no checked golden (e.g. wall-clock output)")
      ++ lines).mkString("", "\n", "\n").getBytes)
  }

  /** Golden entry of a spec the oracle does not cover: timed, not compared. */
  val Unchecked = "*"

  /** Session-wide warm-up of the machinery many specs share, never a
    * timed spec: the engine's functions, a shuffle, every fixture table,
    * tokenizing with a window, the shingle/minhash and pair-expansion
    * expressions and the vector functions (the paths `graft.Bench` warms
    * before its cold pass).
    */
  private def warm(spark: SparkSession, sf: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    spark.range(200000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      Digest.of(Tables.t(spark, sf, t).limit(50))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
      .withColumn("toks", expr(TextOps.toksS))
      .withColumn("sh", expr("shingles3(toks)"))
    docs.select(explode_outer(col("toks")).as("tok")).groupBy("tok").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
          .orderBy(col("count"))))
      .count()
    docs.selectExpr("size(minhash_bands16x2(sh)) AS n").agg(sum(col("n"))).collect()
    docs.select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("h"))
      .groupBy("h").agg(collect_list(struct(col("doc_id"), col("sz"))).as("ids"))
      .select(expr("pair_expand_sz(ids, 3, 10)")).count()
    spark.read.parquet(s"$sf/embeddings.parquet").limit(20)
      .selectExpr("cast(embedding as array<double>) as v")
      .selectExpr("array_dot(v, v) as d", "simhash63(array(1L, 2L)) as s")
      .count()
  }

  def run(ctx: Ctx, sf: String, golden: Map[String, String]): Result = {
    val spark = ctx.spark
    require(Files.isDirectory(java.nio.file.Paths.get(sf)), s"fixture directory $sf not found")
    val reps = (1 to Streams.SetupReps).map { _ =>
      val t0 = System.nanoTime(); warm(spark, sf); (System.nanoTime() - t0) / 1e9
    }
    val setupS = ctx.sessionS + Stats.median(reps)
    val specs = selected
    Dedup.clearCaches(spark)

    ctx.beginWindow()
    val t0 = System.nanoTime()
    val rows = specs.map { spec =>
      val c0 = Cpu.processSeconds()
      val q0 = System.nanoTime()
      val digest = try Right(ctx.tracer.span("query", "", spec.name) {
        val df = ctx.tracer.span("query_fn", "query", spec.name)(spec.fn(spark, sf))
        ctx.tracer.span("query_action", "query", spec.name)(Digest.of(df))
      }) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] ${spec.name} FAILED: ${e.getMessage}")
          Left(String.valueOf(e.getMessage).take(300))
      }
      val wall = (System.nanoTime() - q0) / 1e9
      (spec.name, wall, Cpu.processSeconds() - c0, digest)
    }
    val suiteS = (System.nanoTime() - t0) / 1e9
    val window = ctx.endWindow()
    Dedup.clearCaches(spark)

    val mismatches = rows.collect {
      case (n, _, _, Right(d))
          if !golden.get(n).exists(g => g == d || g == Unchecked) =>
        n -> s"got $d, golden ${golden.getOrElse(n, "missing")}"
    }
    val errors = rows.collect { case (n, _, _, Left(e)) => n -> e }
    val failed = mismatches.size + errors.size
    val lat = rows.map(_._2 * 1000)
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.quantile(lat, 0.5),
      "latency_p99_ms" -> Stats.quantile(lat, 0.99),
      "throughput_per_s" -> specs.size / suiteS,
      "cpu_s" -> window.cpuS)
    val byFamily = rows.groupBy(r => familyOf.getOrElse(r._1, "other"))
    val layer = Families.flatMap { case (f, _) =>
      val rs = byFamily.getOrElse(f, Nil)
      Seq(s"family.$f.wall_s" -> rs.map(_._2).sum,
        s"family.$f.cpu_ms" -> rs.map(_._3).sum * 1000)
    }.toMap
    Result(failed == 0, specs.size, failed, e2e, layer, Map(
      "sf_dir" -> sf, "stride" -> Stride, "specs" -> specs.size,
      "declared" -> declared.size, "suite_s" -> suiteS,
      "latency_samples" -> lat.size, "setup_reps_s" -> reps,
      "unchecked" -> specs.map(_.name).filter(n => golden.get(n).contains(Unchecked)),
      "per_query_s" -> rows.map(r => Seq(r._1, r._2)),
      "mismatches" -> mismatches.toMap, "errors" -> errors.toMap), window)
  }
}
