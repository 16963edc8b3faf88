package graft

/** Prints physical plans for scale-sensitive queries so the shapes can be
  * audited (broadcast vs shuffle join, TakeOrderedAndProject vs global
  * sort, pushed filters, single-shuffle aggregates).
  * Usage: runMain graft.PlanAudit [queryName ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val dir = Harness.sfDir("sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("join_enrich", "limit_head", "window_agg", "token_freq",
        "cosine_topk", "ngram_jaccard", "dedup_exact")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
