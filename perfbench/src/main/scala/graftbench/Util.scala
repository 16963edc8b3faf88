package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.math3.special.Beta

/** Small helpers shared by the workloads: order statistics, process CPU,
  * directory trees and JSON output.
  */
object Stats {

  /** Harrell-Davis estimate of the q-quantile (q in (0, 1)) of `xs`: the
    * mean of every order statistic, weighted by a Beta((n+1)q, (n+1)(1-q))
    * distribution over the ranks. On the small samples here (24 specs, 5
    * batches) it is steadier than the one or two order statistics the
    * plain quantile reads. NaN if empty.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val n = s.size
      val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
      val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, all threads. */
  def processSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Milliseconds of garbage collection so far, all collectors. */
  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)
      finally s.close()
    }
}

/** JSON output through Jackson (shipped with Spark). NaN and infinities,
  * which JSON cannot express, render as null.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case xs: Iterable[_] => xs.map(finite)
    case o: Option[_] => o.map(finite)
    case other => other
  }

  def render(v: Any): String = mapper.writeValueAsString(finite(v))
}
