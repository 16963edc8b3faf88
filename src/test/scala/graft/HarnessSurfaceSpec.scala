package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the harness the only place that reads the environment, builds
  * a session or registers the graft functions: each pattern may appear
  * in program code (comments excluded) only in its owner file under
  * src/main/scala.
  */
class HarnessSurfaceSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val owners = Seq(
    "sys.env" -> "graft/Harness.scala",
    "System.getenv" -> "graft/Harness.scala",
    "SparkSession.builder" -> "graft/Harness.scala",
    "GraftFunctions.register(" -> "graft/functions/GraftExtensions.scala")

  /** Code lines (scaladoc, block and line comments dropped) per file. */
  private def codeLines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex.flatMap {
      case (line, i) =>
        val t = line.trim
        if (t.startsWith("*") || t.startsWith("/*")) None
        else Some((line.split("//", 2)(0), i + 1))
    }

  test("environment, session builder and function registration each " +
    "have one owner file") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under $root")
    val strays = for {
      f <- files
      rel = root.relativize(f).toString
      (code, n) <- codeLines(f)
      (pattern, owner) <- owners
      if code.contains(pattern) && rel != owner
    } yield s"$rel:$n uses $pattern (owner: $owner)"
    assert(strays.isEmpty, strays.mkString("\n", "\n", ""))
  }
}
