package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec}
import org.apache.spark.sql.functions._

/** The one place the mains and the test session read their environment
  * and get their SparkSession.
  *
  * `SPARK_GRAFT_*` variables are parsed once, strictly: a value that does
  * not parse fails at startup naming the variable (a typo must not fall
  * back to a default silently), an unknown `SPARK_GRAFT_*` name gets one
  * stderr warning (a knob that no longer exists is not silently obeyed),
  * and the non-default values in effect print as one stderr line, so
  * every run's log records the configuration it ran under.
  */
object Harness {

  /** The kept knobs. `sfDir`/`cpus` are None when unset: each main has
    * its own default scale and parallelism.
    */
  final case class Config(
      sfDir: Option[String] = None,
      cpus: Option[Int] = None,
      ansi: Boolean = true,
      benchRepeat: Int = 1,
      benchOut: String = "target/bench.json",
      bpeK: Int = 256,
      bpeM: Int = 32,
      bpeAmp: Int = 1,
      chainN: Int = 100,
      faultN: Int = 20,
      incrEpochs: Int = 16,
      soakN: Int = 10,
      soakAnnN: Option[Int] = None,
      streamBatches: Int = 120,
      vectorN: Int = 100)

  private val Prefix = "SPARK_GRAFT_"

  /** Every variable [[parse]] reads. */
  val Known: Set[String] = Set("SF_DIR", "CPUS", "ANSI", "BENCH_REPEAT",
    "BENCH_OUT", "BPE_K", "BPE_M", "BPE_AMP", "CHAIN_N", "FAULT_N",
    "INCR_EPOCHS", "SOAK_N", "SOAK_ANN_N", "STREAM_BATCHES", "VECTOR_N")
    .map(Prefix + _)

  /** The configuration an environment describes; throws
    * IllegalArgumentException naming the first variable that does not
    * parse.
    */
  def parse(env: Map[String, String]): Config = {
    def typed[A](name: String, kind: String, p: String => Option[A]) =
      env.get(Prefix + name).map(v => p(v.trim).getOrElse(
        throw new IllegalArgumentException(
          s"$Prefix$name=$v is not a valid $kind")))
    def int(name: String) = typed(name, "integer", _.toIntOption)
    val d = Config()
    Config(
      sfDir = env.get(Prefix + "SF_DIR"),
      cpus = int("CPUS"),
      ansi = typed("ANSI", "boolean", _.toBooleanOption).getOrElse(d.ansi),
      benchRepeat = int("BENCH_REPEAT").getOrElse(d.benchRepeat),
      benchOut = env.getOrElse(Prefix + "BENCH_OUT", d.benchOut),
      bpeK = int("BPE_K").getOrElse(d.bpeK),
      bpeM = int("BPE_M").getOrElse(d.bpeM),
      bpeAmp = int("BPE_AMP").getOrElse(d.bpeAmp),
      chainN = int("CHAIN_N").getOrElse(d.chainN),
      faultN = int("FAULT_N").getOrElse(d.faultN),
      incrEpochs = int("INCR_EPOCHS").getOrElse(d.incrEpochs),
      soakN = int("SOAK_N").getOrElse(d.soakN),
      soakAnnN = int("SOAK_ANN_N"),
      streamBatches = int("STREAM_BATCHES").getOrElse(d.streamBatches),
      vectorN = int("VECTOR_N").getOrElse(d.vectorN))
  }

  /** `SPARK_GRAFT_*` names in `env` that [[parse]] does not read. */
  def unknown(env: Map[String, String]): Seq[String] =
    env.keys.filter(k => k.startsWith(Prefix) && !Known(k)).toSeq.sorted

  /** The known variables in `env` whose value changes the configuration. */
  def overrides(env: Map[String, String]): Seq[(String, String)] =
    env.toSeq.filter { case (k, v) =>
      Known(k) && parse(Map(k -> v)) != Config()
    }.sortBy(_._1)

  /** This process's configuration, parsed on first use. */
  lazy val conf: Config = {
    val env = sys.env
    val c = parse(env)
    unknown(env).foreach(k => System.err.println(
      s"[harness] WARNING: $k is not a graft setting and is ignored"))
    val o = overrides(env)
    if (o.nonEmpty) System.err.println(
      "[harness] " + o.map { case (k, v) => s"$k=$v" }.mkString(" "))
    c
  }

  /** Root of the generated fixture scales, `~/testdata` (TESTDATA.md) —
    * the same location perfbench/run.py reads.
    */
  private val Testdata = s"${sys.props("user.home")}/testdata"

  /** SPARK_GRAFT_SF_DIR, else the named fixture scale (e.g. "sf0.1"). */
  def sfDir(defaultScale: String): String =
    conf.sfDir.getOrElse(s"$Testdata/$defaultScale")

  /** SPARK_GRAFT_CPUS, else the caller's default. */
  def cpus(default: Int): Int = conf.cpus.getOrElse(default)

  /** The local session every main and the test suite run on:
    * [[GraftConf.tune]] plus `local[cpus]`, `cpus` shuffle partitions,
    * UTC, ANSI and no UI. `extraConfs` are applied last, so they
    * override (e.g. `"spark.master" -> "local[8,4]"` for task retries).
    *
    * ANSI is ON unless SPARK_GRAFT_ANSI=false: the recommended
    * production mode, and the whole declared surface is ANSI-clean
    * (ANSI.md; coercion queries use try_cast/PERMISSIVE from_json
    * explicitly, so reference pre-ANSI semantics are preserved
    * per-expression, not per-session: spark_consumer_kafka.py:65-74).
    * Bench, soaks and tests time and check the same mode the
    * correctness dump is graded under (ADVICE r5); false is the
    * reference-compat escape hatch.
    */
  def session(cpus: Int, extraConfs: (String, String)*): SparkSession = {
    val b = GraftConf.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", conf.ansi.toString)
      .config("spark.ui.enabled", "false")
    val s = extraConfs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Broadcast ceiling for the soak plan audits: bounded sides in the
    * chains (score-value tables, boundary id lists, per-source weights,
    * bucket offsets, dup-id lists under AQE's own threshold) are KB–MB;
    * the smallest corpus-sized side (the scrubbed text column at 100×)
    * is >100 MB. 64 MB cleanly separates the two.
    */
  val MaxBroadcastBytes: Long = 64L * 1024 * 1024

  /** Every node of an (executed) plan, descending through AQE's
    * materialized stages and reused exchanges (a plain `collect` stops
    * at QueryStageExec boundaries) but NOT into InMemoryRelation
    * children — a cache scan is the stage's input boundary; the plan
    * behind it was audited when its own stage ran.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(planNodes)
  }

  /** Every BroadcastExchange dataSize in an executed plan. */
  def broadcastSizes(p: SparkPlan): Seq[Long] =
    planNodes(p).collect {
      case b: BroadcastExchangeLike =>
        b.metrics.get("dataSize").map(_.value)
    }.flatten

  /** Timed, metered soak stages. Each stage prints one JSON line
    * (`{"metric":<metric>,"stage":<name>,…}`: rows, seconds, shuffle and
    * spill MB, peak task memory, then `extra`) and `require`s that no
    * broadcast in the plans the stage returns exceeds MaxBroadcastBytes.
    * Counters are snapshotted after a listener drain at stage entry and
    * exit, so jobs run BETWEEN stages (warm-up counts, driver-side
    * collects) are credited to none of them.
    */
  final class Stages(spark: SparkSession, metric: String)
      extends SparkListener {
    private val shuffleRead, shuffleWrite, memSpill, diskSpill,
      peakTaskMem = new AtomicLong
    spark.sparkContext.addSparkListener(this)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakTaskMem.updateAndGet(v => math.max(v, m.peakExecutionMemory))
        ()
      }
    }

    /** Shuffle read/write and memory/disk spill bytes so far. */
    def totals: (Long, Long, Long, Long) =
      (shuffleRead.get, shuffleWrite.get, memSpill.get, diskSpill.get)

    def apply(name: String, extra: String = "")(
        f: => (Long, Seq[SparkPlan])): Long = {
      drainListeners(spark)
      peakTaskMem.set(0L)
      val before = totals
      val t0 = System.nanoTime()
      val (rows, plans) = f
      val sec = (System.nanoTime() - t0) / 1e9
      drainListeners(spark)
      val after = totals
      plans.foreach { p =>
        val big = broadcastSizes(p).filter(_ > MaxBroadcastBytes)
        require(big.isEmpty,
          s"stage $name broadcast ${big.map(mb).mkString(",")} MB — a " +
            s"corpus-sized build side leaked under a broadcast:\n$p")
      }
      println(s"""{"metric":"$metric","stage":"$name",""" +
        s""""rows":$rows,"sec":${math.round(sec * 100) / 100.0},""" +
        s""""shuffle_read_mb":${mb(after._1 - before._1)},""" +
        s""""shuffle_write_mb":${mb(after._2 - before._2)},""" +
        s""""spill_mem_mb":${mb(after._3 - before._3)},""" +
        s""""spill_disk_mb":${mb(after._4 - before._4)},""" +
        s""""peak_task_mem_mb":${mb(peakTaskMem.get)}""" +
        extra + "}")
      rows
    }
  }

  def mb(bytes: Long): Double =
    math.round(bytes / 1024.0 / 1024.0 * 10) / 10.0

  /** Deterministic listener-bus drain for every soak that reads
    * SparkListener counters: waitUntilEmpty blocks until every queued
    * task-end event is delivered, so counter snapshots are exact
    * rather than racing async delivery. listenerBus is private[spark]
    * at the Scala level but public in bytecode — reflective call, the
    * standard out-of-package access.
    */
  def drainListeners(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L)): Unit
  }

  /** The soaks' mixed-duplication amplified corpus: of the `n` copies
    * of each base document, `dupCopies` share the text verbatim and the
    * rest append a deterministic per-copy token salt sized to ~0.85×
    * the document's own token count — hard negatives that inflate
    * candidate generation yet survive dedup.
    */
  def amplifiedDocs(base0: DataFrame, n: Int, dupCopies: Int): DataFrame = {
    require(n >= 1, s"amplification factor must be >= 1, got $n")
    val base = base0.select("doc_id", "text", "lang", "source")
    val salted = "concat(text, ' ', concat_ws(' ', " +
      "transform(sequence(1, greatest(8, length(text) div 8)), " +
      "i -> hex(hash(doc_id, i)))))"
    (0 until n).map { k =>
      val c = base.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
      if (k < dupCopies) c else c.withColumn("text", expr(salted))
    }.reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Soak corpora are GBs at 200× — don't leave them in the temp dir. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
