package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Extra args = query names for a targeted run (like check.py);
    // no extras = full dump, the driver protocol. Unknown names fail
    // fast — a typo would otherwise filter to nothing and exit 0,
    // a vacuous green.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = Harness.session(Harness.cpus(4))
    new java.io.File(outDir).mkdirs()
    // A failed query must be a VISIBLE red row, not a silent absence:
    // round 7's 23 loader-broken queries surfaced in the driver's
    // correctness JSON only as missing keys (Verify printed to stderr and
    // wrote nothing). Collect failures and dump them as _errors.json next
    // to oracle_sql.json so the artifact itself records what broke.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Only a FULL run owns _errors.json: a targeted re-run of one query
    // would otherwise clobber the full run's failure record with "{}"
    // while the other failures' outputs are still stale — recreating
    // the silent-absence failure mode this file exists to fix.
    if (only.isEmpty) {
      val errJson = errors
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    }
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${
        if (errors.size == 1) "y" else "ies"} FAILED: ${
        errors.keys.mkString(", ")}")
    // Release memoized dedup intermediates (persisted DataFrames) —
    // CacheLifecycleSpec asserts no persistent RDDs survive this.
    operators.Dedup.clearCaches(spark)
    spark.stop()
  }
}
