package graft

import org.apache.spark.sql.functions._

/** Scratch stage profiler for the ngram_jaccard path (not a declared
  * query; run manually while tuning).
  */
object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("sf0.1")
    val spark = Harness.session(Harness.cpus(32))
    import operators.Dedup

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    val p = 3; val q = 10
    for (round <- 1 to 3) {
      println(s"=== round $round ===")
      operators.Memo.clearCaches(spark)
      val docs = Dedup.docShingles(
        Tables.t(spark, sfDir, "documents"), cacheKey = sfDir)
      time("shingles materialize")(docs.count())
      val inv = docs.select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("h"))
      val grouped = inv.groupBy("h")
        .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ids"))
        .filter(size(col("ids")).between(2, Dedup.DfCap))
      time("grouped buckets")(println("  buckets=" + grouped.count()))
      val expanded = grouped.select(expr(s"pair_expand_sz(ids, $p, $q)"))
      time("expanded (gen+ratio)")(println("  cand-multi=" + expanded.count()))
      time("distinct pairs")(println("  distinct=" +
        expanded.select("da", "db").distinct().count()))
      val candidates = expanded
        .groupBy("da", "db", "sa", "sb")
        .agg(count(lit(1)).as("c"))
        .filter(col("c") * (q + p) >= (col("sa") + col("sb")) * p)
        .select("da", "db")
      time("count-prefiltered cand")(println("  cand=" + candidates.count()))
      val full = Dedup.nearDupPairs(docs, p, q)
      time("full pipeline")(println("  pairs=" + full.count()))
      val mh = time("minhash pairs")(
        Dedup.minhashNearDupPairs(docs, 4, 5, cacheKey = sfDir))
      time("minhash pairs count")(println("  mh=" + mh.count()))
      time("CC clusters")(println("  labels=" +
        Dedup.nearDupClusters(mh).count()))
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      time("CC clusters narrow")(println("  labels=" +
        Dedup.nearDupClusters(mh).count()))
      spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
    operators.Memo.clearCaches(spark)
    spark.stop()
  }
}
