package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** End-to-end curation-chain soak at ≥100× amplification — the whole
  * training-data pipeline COMPOSED, not per-operator:
  *
  *   docShingles → minhash pairs → clusters → dedupKeep → spanScrubDocs
  *     → decontaminate → gopher admission → pii_redact
  *     → budgetSelectDocs → mixtureSample → packSequences
  *
  * The amplified corpus uses a MIXED duplication profile: of the N
  * copies of each base document, `dupCopies` share the text verbatim
  * (each base doc becomes an exact-dup cluster of that size — the
  * worst-case LSH bucket load), and the rest append a deterministic
  * per-copy token salt sized to ~0.85× the document's own token count,
  * pinning their Jaccard against the base near 0.55 — under the 0.8
  * threshold but close enough that most land in a shared minhash band
  * bucket. Those are HARD NEGATIVES: they inflate candidate generation
  * and the exact-Jaccard verify (the expensive stages) yet survive
  * dedup, so the downstream curation stages also run at ~half the
  * amplified scale instead of collapsing back to the base corpus.
  *
  * Beyond wall times, every stage reports SparkListener task metrics
  * (shuffle read/write bytes, memory/disk spill, peak task execution
  * memory) — the "would it survive 100×?" question answered with
  * measured shuffle volumes rather than plan-shape arguments — and the
  * chain asserts its scale invariants on the EXECUTED plans:
  *
  *   - candidate generation reads the memoized shingle cache (one
  *     materialize per memo table) and plans no CartesianProduct /
  *     BroadcastNestedLoopJoin;
  *   - the pii scrub stays per-row (zero Exchange);
  *   - budget selection never shuffle-joins the corpus and plans no
  *     corpus-wide per-language window (doc-granularity windows are
  *     (lang, bkt)-bounded);
  *   - the mixture stage's ONE corpus shuffle is the source groupBy;
  *   - no broadcast anywhere in the chain exceeds MaxBroadcastBytes —
  *     every broadcast side must be a bounded model/boundary table,
  *     never the corpus (a corpus-sized build side here would OOM the
  *     driver at 1000 executors).
  *
  *   SPARK_GRAFT_CHAIN_N=100 sbt "runMain graft.ChainSoak"
  */
object ChainSoak {

  def main(args: Array[String]): Unit = {
    import Harness._
    val srcDir = sfDir("sf0.1")
    val n = conf.chainN
    val dupCopies = n / 2
    val spark = session(cpus(32))
    val stage = new Stages(spark, "chain_stage")

    val soakDir = java.nio.file.Files
      .createTempDirectory("graft-chain-soak").toString
    val t0All = System.nanoTime()

    // ---- amplification: dupCopies exact copies + (n − dupCopies)
    // salted hard negatives per base doc; n_chars recomputed so the
    // budget/mix/pack math sees the salted lengths.
    amplifiedDocs(Tables.t(spark, srcDir, "documents"), n, dupCopies)
      .write.mode("overwrite").parquet(s"$soakDir/documents.parquet")

    // Invariants are asserted on the plan TREE, not its string form:
    // Spark 4 prints each InMemoryRelation's cached child plan inside
    // the scan node, so a string check would see every UPSTREAM stage's
    // exchanges and joins again. The tree stops naturally at the cache
    // boundary (InMemoryTableScanExec has no children) — each stage is
    // audited over exactly its own operators.
    def nodes(df: DataFrame): Seq[SparkPlan] = planNodes(
      df.queryExecution.executedPlan)
    def noUnbounded(ns: Seq[SparkPlan], name: String): Unit =
      require(!ns.exists(n => n.isInstanceOf[CartesianProductExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$name planned an unbounded join")
    def noSmj(ns: Seq[SparkPlan], name: String): Unit =
      require(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"$name must not shuffle-join the corpus")
    // A Window partitioned by lang ALONE whose sort touches doc_id is
    // the whole-language single-reducer formulation; the legitimate
    // windows here run over value/bucket tables or (lang, bkt) slices.
    def noCorpusLangWindow(ns: Seq[SparkPlan], name: String): Unit =
      require(!ns.exists {
        case w: WindowExec =>
          w.partitionSpec.size == 1 &&
            w.partitionSpec.head.references.exists(_.name == "lang") &&
            w.orderSpec.exists(
              _.child.references.exists(_.name == "doc_id"))
        case _ => false
      }, s"$name plans a corpus-wide per-language window")

    val docs = Tables.t(spark, soakDir, "documents")
    val nDocs = stage("shingle") {
      val c = operators.Dedup.docShingles(docs, cacheKey = soakDir).count()
      (c, Nil)
    }
    val sh = operators.Dedup.docShingles(docs, cacheKey = soakDir)

    val pairs = operators.Dedup.minhashNearDupPairs(sh, 4, 5,
      cacheKey = soakDir)
    val nPairs = stage("minhash_pairs") {
      val c = pairs.count()
      // One materialize per memo table: candidate generation must read
      // the persisted band/shingle caches, never re-shingle the corpus.
      // Audited on the UN-memoized twin — the memoized frame's own plan
      // is substituted by its InMemoryRelation and proves nothing.
      val ns = nodes(operators.Dedup.minhashPairsPlan(sh, 4, 5, soakDir))
      require(ns.exists(_.isInstanceOf[InMemoryTableScanExec]),
        "pairs must read the memoized shingles")
      noUnbounded(ns, "minhash_pairs")
      (c, Nil)
    }

    val clusters = operators.Dedup.clusters(sh, 4, 5, cacheKey = soakDir)
    val nClusters = stage("clusters") {
      (clusters.filter(col("doc_id") === col("cluster_id")).count(), Nil)
    }

    val dupes = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val kept = docs.join(dupes, Seq("doc_id"), "left_anti")
    val keptQe = kept.queryExecution
    val nKept = stage("dedup_keep") {
      val c = keptQe.toRdd.count()
      noUnbounded(planNodes(keptQe.executedPlan), "dedup_keep")
      (c, Seq(keptQe.executedPlan))
    }
    val keptCached = kept.persist()
    keptCached.count()

    // Span-level scrub over the survivors (the declared
    // curation_chain's transform stage, at amplification): winnowing
    // fingerprints of the kept docs, first-carrier attribution, one
    // codegen'd scrub pass per doc. The fp-keyed groupBy is an honest
    // corpus-sized shuffle of 8-byte longs (the span_dup_rate
    // contract); the scrub itself must plan no unbounded join. The
    // fps come off the memoized span_fps table restricted by one
    // semi-join. Under the mixed-dup profile the hard negatives share
    // most 8-char grams with their base doc, so roughly half the
    // surviving corpus gets materially scrubbed — downstream budget/
    // mix/pack run over genuinely post-scrub masses.
    val keptFps = operators.Corpus.docFps(docs, cacheKey = soakDir)
      .join(keptCached.select("doc_id"), Seq("doc_id"), "left_semi")
    val scrubbed = operators.Corpus.spanScrubDocs(keptCached, keptFps)
    val scrQe = scrubbed.queryExecution
    stage("span_scrub") {
      val c = scrQe.toRdd.count()
      noUnbounded(planNodes(scrQe.executedPlan), "span_scrub")
      (c, Seq(scrQe.executedPlan))
    }
    val scrCached = scrubbed.persist()
    scrCached.count()

    // Safety gates at amplification (the declared chain's
    // decontaminate + gopher admission — VERDICT r14 #7). The bench
    // slice uses a RARE modulus (%9973, not the fixture's %97):
    // contamination propagates along SHARED SHINGLES, and the
    // amplified profile shares them two ways — every copy of a base
    // holds the base's shingles, and every copy-index shares its
    // deterministic salt shingles ACROSS bases — so each bench doc
    // contaminates its whole base cluster AND its whole copy stratum.
    // Measured at 100×: ~50 bench docs drop ~half the survivors
    // (the stratum effect); %97 would have gutted everything. The
    // stage's scale shape is what's audited: bench shingles broadcast,
    // corpus streams once, no unbounded join.
    val contaminated = operators.Pipeline.decontaminate(sh,
      col("doc_id") % 9973 === 0, minOverlap = 5)
      .filter(col("contaminated")).select("doc_id")
    val clean = scrCached.filter(col("doc_id") % 9973 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val cleanQe = clean.queryExecution
    stage("decontaminate") {
      val c = cleanQe.toRdd.count()
      noUnbounded(planNodes(cleanQe.executedPlan), "decontaminate")
      (c, Seq(cleanQe.executedPlan))
    }
    val cleanCached = clean.persist()
    cleanCached.count()

    // Gopher admission off the memoized term table — one extra
    // corpus tokenize (docTerms) at amplification, the stage's honest
    // cost; the pass-list semi-join must stay bounded.
    val pass = operators.Pipeline.gopherRules(docs, cacheKey = soakDir)
      .filter(col("pass")).select("doc_id")
    val admitted = cleanCached.join(pass, Seq("doc_id"), "left_semi")
    val admQe = admitted.queryExecution
    val nAdmitted = stage("gopher_admit") {
      val c = admQe.toRdd.count()
      noUnbounded(planNodes(admQe.executedPlan), "gopher_admit")
      (c, Seq(admQe.executedPlan))
    }
    require(nAdmitted > 0,
      "gopher admission dropped the whole amplified corpus — the " +
        "downstream stages would soak nothing")
    val admCached = admitted.persist()
    admCached.count()

    val redacted = operators.Pipeline.redactPii(admCached)
    val redQe = redacted.queryExecution
    stage("pii_redact") {
      val c = redQe.toRdd.count()
      require(!planNodes(redQe.executedPlan)
        .exists(_.isInstanceOf[ShuffleExchangeLike]),
        "pii_redact must stay per-row at chain scale")
      (c, Nil)
    }
    val redCached = redacted.persist()
    redCached.count()

    // Per-language char budget sized to admit roughly half of each
    // language's surviving mass — the boundary machinery engages
    // everywhere instead of admitting or rejecting whole languages.
    val langStats = redCached.groupBy("lang")
      .agg(sum("n_chars").as("c")).collect()
    val budget = langStats.map(r => r.getLong(1)).min / 2
    val selected = operators.Pipeline.budgetSelectDocs(redCached, budget)
    val selQe = selected.queryExecution
    val nSel = stage("budget_select") {
      val c = selQe.toRdd.count()
      val ns = planNodes(selQe.executedPlan)
      noSmj(ns, "budget_select")
      noCorpusLangWindow(ns, "budget_select")
      (c, Seq(selQe.executedPlan))
    }
    val selCached = selected.persist()
    selCached.count()

    val sampled = operators.Pipeline.mixtureSample(selCached)
    val samQe = sampled.queryExecution
    val nSam = stage("mix_sample") {
      val c = samQe.toRdd.count()
      val ns = planNodes(samQe.executedPlan)
      noSmj(ns, "mix_sample")
      require(ns.exists {
        case s: ShuffleExchangeLike =>
          s.outputPartitioning.toString.contains("source")
        case _ => false
      }, "mixture expects exactly the source groupBy shuffle")
      (c, Seq(samQe.executedPlan))
    }
    val samCached = sampled.persist()
    samCached.count()

    // bucketWidth sized so the stage-2 per-language bucket window sees
    // ~thousands of rows (ids are copy-strided over 10M-wide ranges;
    // the fixture default of 4096 would make ~2-row buckets here).
    val packed = operators.Pipeline.packSequences(samCached, cap = 2048,
      bucketWidth = 65536L)
    val packQe = packed.queryExecution
    stage("seq_pack") {
      val c = packQe.toRdd.count()
      noCorpusLangWindow(planNodes(packQe.executedPlan), "seq_pack")
      (c, Seq(packQe.executedPlan))
    }
    val nBins = packed.select("lang", "bin").distinct().count()

    val secTotal = (System.nanoTime() - t0All) / 1e9
    val tot = stage.totals
    println(s"""{"metric":"chain_soak","n_copies":$n,""" +
      s""""dup_copies":$dupCopies,"docs":$nDocs,"pairs":$nPairs,""" +
      s""""clusters":$nClusters,"kept":$nKept,"selected":$nSel,""" +
      s""""sampled":$nSam,"bins":$nBins,""" +
      s""""sec_total":${math.round(secTotal * 10) / 10.0},""" +
      s""""shuffle_read_mb":${mb(tot._1)},""" +
      s""""shuffle_write_mb":${mb(tot._2)},""" +
      s""""spill_mem_mb":${mb(tot._3)},"spill_disk_mb":${mb(tot._4)}}""")

    Seq(samCached, selCached, redCached, admCached, cleanCached,
      scrCached, keptCached)
      .foreach(_.unpersist(blocking = false))
    operators.Dedup.clearCaches(spark)
    spark.stop()
    deleteRecursively(new java.io.File(soakDir))
  }
}
