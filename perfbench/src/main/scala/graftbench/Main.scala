package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.{BenchLoad, GraftConf}
import org.apache.spark.sql.SparkSession

/** Process CPU, wall time, the JVM's JIT-compile and GC time, ambient
  * load and (traced runs) layer counters over one workload's timed
  * window.
  */
final case class Window(cpuS: Double, wallS: Double, jitMs: Double, gcMs: Double,
    ambientCores: Double, layers: Map[String, Long])

/** A workload's outcome: correctness, operations attempted and failed,
  * the end-to-end and per-layer figures, and detail for the artifact.
  */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    e2e: Map[String, Double], layer: Map[String, Double],
    detail: Map[String, Any], window: Window)

/** What a workload needs from the harness: the session, its inputs'
  * seed and size, a private work directory and the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val cores: Int, val work: Path, val tracer: Tracer,
    val layers: Option[Layers], val sessionS: Double) {

  /** A fresh, empty directory under the run's work directory. */
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files2.deleteTree(p)
    Files.createDirectories(p)
  }

  def derbyUrl(name: String): String = {
    val p = work.resolve("derby").resolve(name)
    Files2.deleteTree(p)
    s"jdbc:derby:$p;create=true"
  }

  private var cpu0 = 0.0
  private var wall0 = 0L
  private var jit0, gc0 = 0.0
  private var ticks0: Option[(Long, Long)] = None

  def beginWindow(): Unit = {
    layers.foreach { l => l.reset(); l.markStart() }
    tracer.clear()
    ticks0 = BenchLoad.cpuTicks()
    cpu0 = Cpu.processSeconds()
    jit0 = Cpu.jitMs()
    gc0 = Cpu.gcMs()
    wall0 = System.nanoTime()
  }

  def endWindow(): Window = {
    val wall = (System.nanoTime() - wall0) / 1e9
    val cpu = Cpu.processSeconds() - cpu0
    val jit = Cpu.jitMs() - jit0
    val gc = Cpu.gcMs() - gc0
    val amb = BenchLoad.ambientCores(ticks0, BenchLoad.cpuTicks(), wall)
    Window(cpu, wall, jit, gc, amb, layers.map(_.snapshot()).getOrElse(Map.empty))
  }
}

/** Harness entry point; one workload per JVM. Writes the result (figures,
  * run stamp, detail and, when traced, the spans) as JSON to `--out`.
  *
  * {{{
  * --workload stream_steady|stream_backfill|batch_suite --seed N
  * --seconds S --trace 0|1 --cores K --work DIR --out FILE
  * [--golden FILE] [--sf DIR] [--record-golden DUMP_DIR]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    System.setProperty("derby.system.home", work.resolve("derby").toString)
    // Derby still writes its database and log under the work directory,
    // but without forcing each commit to disk: an fsync on a shared host
    // disk costs ~100 ms and varies with its neighbours, which would make
    // the JDBC sink's figures measure the disk rather than the sink.
    System.setProperty("derby.system.durability", "test")
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val traced = opts.get("trace").contains("1")

    val t0 = System.nanoTime()
    val spark = GraftConf.tune(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val layers = if (traced) Some(new Layers(spark)) else None
    layers.foreach(_.register())
    val sessionS = (System.nanoTime() - t0) / 1e9

    opts.get("record-golden") match {
      case Some(dump) =>
        Suite.recordGolden(spark, Paths.get(dump), Paths.get(opt("golden")))
        Files.writeString(Paths.get(opt("out")), Json.render(Map("golden" -> opt("golden"))))
        spark.stop()
        return
      case None =>
    }

    val workload = opt("workload")
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toInt, cores,
      work, new Tracer(traced), layers, sessionS)
    val r = workload match {
      case "stream_steady" => Streams.steady(ctx)
      case "stream_backfill" => Streams.backfill(ctx)
      case "batch_suite" => Suite.run(ctx, opt("sf"),
        Suite.readGolden(Paths.get(opt("golden"))))
      case w => sys.error(s"unknown workload $w")
    }
    val layer = if (traced) r.layer ++ engineLayers(r.window, cores) ++
      ctx.tracer.selfTimesMs.map { case (k, v) => s"self.${k}_ms" -> v }
    else Map.empty[String, Double]
    val conf = spark.conf
    val stamp = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "traced" -> traced, "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> cores, "ambient_cores" -> r.window.ambientCores,
      "window_wall_s" -> r.window.wallS, "window_jit_ms" -> r.window.jitMs,
      "window_gc_ms" -> r.window.gcMs, "session_s" -> sessionS,
      "spark" -> Seq("spark.sql.shuffle.partitions", "spark.sql.ansi.enabled",
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
        .map(k => k -> conf.getOption(k).getOrElse("")).toMap,
      "inputs" -> r.detail.filter { case (k, _) => Set("rate_per_s", "locations",
        "events_timed", "batch_events", "batches", "specs", "stride",
        "latency_samples")(k) },
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    val out = Map(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> r.e2e, "layer" -> layer, "stamp" -> stamp, "detail" -> r.detail,
      "spans" -> (if (traced) ctx.tracer.all.size else 0))
    Files.writeString(Paths.get(opt("out")), Json.render(out))
    if (traced) Files.writeString(
      Paths.get(opt("out") + ".spans.json"), ctx.tracer.toJson)
    spark.stop()
  }

  /** Driver, scheduler, executor, shuffle and I/O figures from the
    * traced run's listeners and the codegen counters, and the JVM's JIT
    * and GC time.
    */
  private def engineLayers(w: Window, cores: Int): Map[String, Double] = {
    def g(k: String) = w.layers.getOrElse(k, 0L).toDouble
    val execCpuMs = g("exec_cpu_ns") / 1e6
    Map(
      "driver.planning_ms" -> g("planning_ms"),
      "driver.codegen_compiles" -> g("codegen_compiles"),
      "driver.codegen_ms" -> g("codegen_ns") / 1e6,
      "driver.cpu_ms" -> math.max(0.0, w.cpuS * 1000 - execCpuMs),
      "sched.jobs" -> g("jobs"), "sched.stages" -> g("stages"),
      "sched.tasks" -> g("tasks"), "exec.cpu_ms" -> execCpuMs,
      "exec.gc_ms" -> g("gc_ms"),
      "exec.core_utilization" -> execCpuMs / 1000 / (w.wallS * cores),
      "shuffle.write_bytes" -> g("shuffle_write"),
      "shuffle.read_bytes" -> g("shuffle_read"),
      "spill.bytes" -> g("spill"), "io.files_written" -> g("files_written"),
      "jvm.jit_ms" -> w.jitMs, "jvm.gc_ms" -> w.gcMs,
      "stamp.ambient_cores" -> w.ambientCores)
  }
}
