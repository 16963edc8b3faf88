package graft

import org.apache.spark.sql.functions._

/** Scalability soak for the dedup chain: amplify the documents corpus
  * N× (each copy doc_id-offset so ids stay unique — every document
  * gains N−1 exact near-dup partners, a worst-case duplication profile
  * far denser than real corpora), write it as parquet, and run
  * shingling → banded candidate generation → exact-Jaccard verify →
  * connected components end-to-end with wall times per stage.
  *
  * What this demonstrates beyond the fixture-scale bench: the capped
  * bucket expansion under heavy duplication (every (band, sig) bucket
  * holds ≥ N docs), pair counts that grow as N²·docs (C(N,2) per
  * duplicate group), and CC convergence on a graph with ~corpus-many
  * components. Stage times should grow ~linearly in total pair count,
  * not quadratically in corpus size — if they don't, a shuffle is
  * misbehaving.
  *
  *   SPARK_GRAFT_SOAK_N=10 sbt "runMain graft.Soak"
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val srcDir = Harness.sfDir("sf0.1")
    val n = Harness.conf.soakN
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus)

    val soakDir = java.nio.file.Files
      .createTempDirectory("graft-soak").toString
    val base = Tables.t(spark, srcDir, "documents")
      .select("doc_id", "text", "lang", "n_chars", "source")
    (0 until n).map(k => base.withColumn("doc_id",
        col("doc_id") + lit(k * 10000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$soakDir/documents.parquet")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val docs = Tables.t(spark, soakDir, "documents")
    val (nDocs, tShingle) = timed {
      operators.Dedup.docShingles(docs, cacheKey = soakDir).count()
    }
    val sh = operators.Dedup.docShingles(docs, cacheKey = soakDir)
    val (nPairs, tPairs) = timed {
      operators.Dedup.minhashNearDupPairs(sh, 4, 5, cacheKey = soakDir)
        .count()
    }
    val (nClusters, tCC) = timed {
      operators.Dedup.clusters(sh, 4, 5, cacheKey = soakDir)
        .filter(col("doc_id") === col("cluster_id")).count()
    }
    println(s"""{"metric":"soak","n_copies":$n,"docs":$nDocs,""" +
      s""""pairs":$nPairs,"clusters":$nClusters,""" +
      s""""sec_shingle":$tShingle,"sec_pairs":$tPairs,"sec_cc":$tCC}""")

    // Signature-store soak: write the amplified corpus' band table
    // bucketed by (band, sig), then run the incremental probe (a 5%
    // intake slice vs the rest) against the STORE vs in-memory bands —
    // the at-rest layout the production intake path reads. Probe pins
    // the shuffle path (broadcast off) so both runs exercise the
    // (band, sig) join the bucketed layout exists for.
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val corpusSh = sh.filter(col("doc_id") % 20 =!= 0)
    val intakeSh = sh.filter(col("doc_id") % 20 === 0)
    val (_, tStoreWrite) = timed {
      operators.Dedup.writeSignatureStore(corpusSh,
        s"$soakDir/sig_store", "soak_sig_store", buckets = cpus)
    }
    val (nProbeStore, tProbeStore) = timed {
      operators.Dedup.incrementalNearDupPairs(corpusSh, intakeSh, 4, 5,
        broadcastIncoming = Some(false),
        corpusBands = operators.Dedup.signatureStore(spark,
          "soak_sig_store")).count()
    }
    val (nProbeMem, tProbeMem) = timed {
      operators.Dedup.incrementalNearDupPairs(corpusSh, intakeSh, 4, 5,
        broadcastIncoming = Some(false)).count()
    }
    spark.sql("DROP TABLE IF EXISTS soak_sig_store")
    println(s"""{"metric":"soak_store","n_copies":$n,""" +
      s""""probe_pairs_store":$nProbeStore,"probe_pairs_mem":$nProbeMem,""" +
      s""""sec_store_write":$tStoreWrite,"sec_probe_store":$tProbeStore,""" +
      s""""sec_probe_mem":$tProbeMem}""")

    // Curation-trio soak: pii_redact → token_budget → mix_weights
    // CHAINED on the amplified corpus — the per-row/one-shuffle claims
    // must hold composed, not just per-operator. Invariants asserted
    // on the executed plans: the scrub never exchanges; the chained
    // selection never sort-merge-joins the corpus and windows only the
    // value table / (lang, bkt)-bounded boundary slices (3 windows
    // total — never a per-language window over documents); the mix
    // groupBy is the chain's one corpus shuffle.
    val redacted = operators.Pipeline.redactPii(docs)
    // Time the scrub's OWN QueryExecution via toRdd: count() would
    // column-prune every regex projection and measure a bare parquet
    // row count (the r7 review caught exactly that — the published
    // numbers had the scrub cost silently landing in the next stage).
    val redQe = redacted.queryExecution
    val (nRed, tPii) = timed { redQe.toRdd.count() }
    val piiPlan = redQe.executedPlan.toString
    require(!piiPlan.contains("Exchange"),
      s"pii_redact must stay per-row at soak scale:\n$piiPlan")
    // Budget scales with amplification so the boundary machinery
    // engages per language instead of admitting everything.
    val selected = operators.Pipeline.budgetSelectDocs(
      redacted, budgetChars = 20000L * n)
    // Execute THIS QueryExecution (count() would plan a fresh one and
    // leave this plan un-finalized under AQE), then read the final plan.
    val selQe = selected.queryExecution
    val (nSel, tBudget) = timed { selQe.toRdd.count() }
    val selPlan = selQe.executedPlan.toString
      .split("== Initial Plan ==").head
    require(!selPlan.contains("SortMergeJoin"),
      s"budget selection must not shuffle-join the corpus:\n$selPlan")
    // No per-language window at DOCUMENT granularity: the naive
    // single-reducer formulation would show as a Window partitioned
    // [lang] alone with doc_id in its sort spec. The legitimate
    // windows either order the value table by score only (lang-only
    // partition, no doc_id) or rank boundary docs under a (lang, bkt)
    // partition — both bounded.
    require("Window \\[[^\\]]*\\], \\[lang#\\d+\\], \\[[^\\]]*doc_id".r
      .findFirstIn(selPlan).isEmpty,
      s"corpus-wide per-language window detected:\n$selPlan")
    // Persist the selection so tMix times the mix stage alone, not a
    // re-execution of the whole scrub+selection chain.
    val selCached = selected.persist()
    selCached.count()
    val mixed = operators.Pipeline.mixWeights(selCached)
    val mixQe = mixed.queryExecution
    val (nSrc, tMix) = timed { mixQe.toRdd.count() }
    val mixPlan = mixQe.executedPlan.toString
      .split("== Initial Plan ==").head
    require(
      "Exchange hashpartitioning\\(source".r.findAllIn(mixPlan).size >= 1
        && !mixPlan.contains("SortMergeJoin"),
      s"mix expects exactly the source groupBy shuffle:\n$mixPlan")
    selCached.unpersist(blocking = false)
    println(s"""{"metric":"soak_curation","n_copies":$n,"docs":$nRed,""" +
      s""""selected":$nSel,"sources":$nSrc,"sec_pii":$tPii,""" +
      s""""sec_budget":$tBudget,"sec_mix":$tMix}""")

    // Training-order tail soak: upsample_epochs → shard_shuffle
    // CHAINED on the amplified corpus — the materialized-epochs
    // emission and the banded rank must keep their shapes composed.
    // The upsample must broadcast its sources-sized weights (a
    // corpus-side shuffle join here would be the scale killer), and
    // the shard rank must never window by shard alone (that is the
    // corpus/nShards single-task sort the banded shape exists to
    // avoid). Exactness at soak scale without a ground-truth window:
    // per shard, positions must be exactly the dense set 1..n
    // (min = 1, max = n, n distinct) — together a full proof.
    val up = operators.Pipeline.upsampleEpochs(docs)
    val upQe = up.queryExecution
    val (nUp, tUp) = timed { upQe.toRdd.count() }
    val upPlan = upQe.executedPlan.toString
      .split("== Initial Plan ==").head
    require(upPlan.contains("BroadcastHashJoin") &&
      !upPlan.contains("SortMergeJoin"),
      s"upsample weights must broadcast onto the corpus:\n$upPlan")
    // Re-key so epoch copies rank as distinct sequence rows (rep in
    // the id's high bits — ids stay unique by construction).
    val seqRows = up.select(
      (col("doc_id") + col("rep") * 1000000000L).as("doc_id"))
    val shuffled = operators.Pipeline.shardShuffle(seqRows,
      nShards = 32, nBands = 256)
    val shQe = shuffled.queryExecution
    val (nSh, tShard) = timed { shQe.toRdd.count() }
    val shPlan = shQe.executedPlan.toString
      .split("== Initial Plan ==").head
    require(shPlan.contains("BroadcastHashJoin") &&
      !shPlan.contains("SortMergeJoin"),
      s"band offsets must broadcast:\n$shPlan")
    require("windowspecdefinition\\(shard#\\d+L?, ord_key".r
      .findFirstIn(shPlan).isEmpty,
      s"rank must never window by shard alone:\n$shPlan")
    require("windowspecdefinition\\(shard#\\d+L?, band#\\d+L?".r
      .findFirstIn(shPlan).nonEmpty,
      s"rank must window by (shard, band):\n$shPlan")
    require(nSh == nUp, s"shard shuffle dropped rows: $nSh != $nUp")
    val posChk = shuffled.groupBy("shard").agg(
      count(lit(1)).as("n"), min(col("pos")).as("mn"),
      max(col("pos")).as("mx"),
      countDistinct(col("pos")).as("nd")).collect()
    require(posChk.length == 32, s"expected 32 shards: ${posChk.length}")
    posChk.foreach { r =>
      val (cnt, mn, mx, nd) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      require(mn == 1L && mx == cnt && nd == cnt,
        s"shard ${r.get(0)} positions not dense 1..$cnt " +
          s"(min=$mn max=$mx distinct=$nd)")
    }
    println(s"""{"metric":"soak_order","n_copies":$n,"rows_in":$nRed,""" +
      s""""rows_up":$nUp,"shards":32,"sec_upsample":$tUp,""" +
      s""""sec_shard":$tShard}""")

    // Span/DSIR soak: the round-7 operators (span_dup_rate,
    // span_decontaminate, dsir_weights) CHAINED on the amplified corpus
    // — fixture-tested individually, this is their at-scale evidence.
    // Invariants asserted on executed plans: docFps materializes ONCE
    // (both span consumers read the memoized cache, never re-winnow);
    // the decontaminate bench side broadcasts (no corpus-vs-corpus
    // shuffle join); DSIR never windows or shuffle-joins the corpus —
    // its models are ≤ nBuckets rows and broadcast. The amplified
    // corpus is the span worst case: every fp occurs in ≥ N docs, so
    // the fp-frequency table is maximal relative to corpus size.
    def cached(plan: String): Boolean =
      plan.contains("InMemoryTableScan") ||
        plan.contains("TableCacheQueryStage")
    val fps = operators.Corpus.docFps(docs, cacheKey = soakDir)
    val (nFps, tFps) = timed { fps.count() }
    val sdrQe = operators.Corpus.spanDupRate(fps).queryExecution
    val (nSdr, tSdr) = timed { sdrQe.toRdd.count() }
    val sdrPlan = sdrQe.executedPlan.toString
      .split("== Initial Plan ==").head
    require(cached(sdrPlan),
      s"span_dup_rate must read the memoized docFps, not re-winnow:\n" +
        sdrPlan)
    val sdecQe = operators.Corpus.spanDecontaminate(fps,
      col("doc_id") % 97 === 0, minFrac = 0.2).queryExecution
    val (nSdec, tSdec) = timed { sdecQe.toRdd.count() }
    val sdecPlan = sdecQe.executedPlan.toString
      .split("== Initial Plan ==").head
    require(cached(sdecPlan) && !sdecPlan.contains("SortMergeJoin"),
      s"span_decontaminate: bench fps must broadcast against the " +
        s"memoized corpus scan:\n$sdecPlan")
    val dsirQe = operators.Corpus.dsirWeights(docs,
      col("lang") === "en", nBuckets = 256, cacheKey = soakDir)
      .queryExecution
    val (nDsir, tDsir) = timed { dsirQe.toRdd.count() }
    val dsirPlan = dsirQe.executedPlan.toString
      .split("== Initial Plan ==").head
    require(!dsirPlan.contains("SortMergeJoin"),
      s"dsir_weights must broadcast its micro-models:\n$dsirPlan")
    require("Window \\[".r.findFirstIn(dsirPlan).isEmpty,
      s"dsir_weights must not window the corpus:\n$dsirPlan")
    println(s"""{"metric":"soak_span","n_copies":$n,"fps":$nFps,""" +
      s""""dup_rate_docs":$nSdr,"decon_docs":$nSdec,""" +
      s""""dsir_docs":$nDsir,"sec_fps":$tFps,"sec_dup_rate":$tSdr,""" +
      s""""sec_decon":$tSdec,"sec_dsir":$tDsir}""")

    // ANN soak: amplify the embedding corpus the same way (vec_id
    // offsets; queries = the original vec_id < 500) and compare exact
    // brute-force top-k against IVF at a realistic query-batch size.
    // Brute does queries×corpus dot products; IVF does corpus×centroids
    // (assignment) + queries×corpus×(nProbe/nCentroids) (probes) — with
    // 500 queries and 4/32 probing that's ~6× fewer dots, and the gap
    // widens linearly with the query count. (With a handful of queries
    // brute wins: assignment then costs more than the whole scan —
    // which is why ivf_ann's fixture-scale bench number is not the
    // scale story.)
    val NQ = 500
    val annN = Harness.conf.soakAnnN.getOrElse(n)
    val eBase = Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    val amplified = (0 until annN).map(k => eBase
        .filter(if (k == 0) lit(true) else col("vec_id") >= NQ)
        .withColumn("vec_id", col("vec_id") + lit(k * 10000000L)))
      .reduce(_ unionByName _)
    amplified.write.mode("overwrite")
      .parquet(s"$soakDir/embeddings.parquet")
    val e = operators.Similarity.prepared(
      Tables.t(spark, soakDir, "embeddings"))
    val bruteDf = operators.Similarity.cosineTopK(e, NQ, 10).persist()
    val (nBrute, tBrute) = timed { bruteDf.count() }
    val (nIvf, tIvf) = timed {
      operators.Similarity.ivfTopK(e, NQ, 32, 4, 10).count()
    }
    println(s"""{"metric":"soak_ann","n_copies":$annN,""" +
      s""""vecs":${amplified.count()},"brute_rows":$nBrute,""" +
      s""""ivf_rows":$nIvf,"sec_brute":$tBrute,"sec_ivf":$tIvf}""")

    // recall@10 vs the brute ground truth — the quality half of the
    // ANN story (times alone reward returning garbage fast).
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val hit = approx.select("q_id", "n_id")
        .join(bruteDf.select("q_id", "n_id"), Seq("q_id", "n_id"))
        .count()
      hit.toDouble / nBrute
    }
    // Hyperplane LSH: single-probe vs bucket+Hamming-1 multi-probe —
    // multi-probe should recover the across-one-plane misses at ~9/256
    // of the corpus per query (vs 1/256).
    val (rLsh1, tLsh1) = timed {
      recallOf(operators.Similarity.lshTopK(e, NQ, 10))
    }
    val (rLsh9, tLsh9) = timed {
      recallOf(operators.Similarity.lshTopK(e, NQ, 10, multiProbe = true))
    }
    println(s"""{"metric":"soak_lsh","recall_single":$rLsh1,""" +
      s""""recall_multiprobe":$rLsh9,"sec_single":$tLsh1,""" +
      s""""sec_multiprobe":$tLsh9}""")
    // IVF codebook quality at equal nProbe: untrained first-N vs a
    // 3-iteration deterministic Lloyd refinement (the soak previously
    // inherited the degenerate first-N codebook in its recall story).
    val cb0 = operators.Similarity.firstNCodebook(e, NQ, 32)
    val (cbLloyd, tTrain) = timed {
      val cb = operators.Similarity.lloydRefine(e, cb0, NQ, iters = 3)
      cb.count()
      cb
    }
    val (rIvf0, _) = timed {
      recallOf(operators.Similarity.ivfTopKWith(e, cb0, NQ, 4, 10))
    }
    val (rIvfL, tIvfL) = timed {
      recallOf(operators.Similarity.ivfTopKWith(e, cbLloyd, NQ, 4, 10))
    }
    println(s"""{"metric":"soak_ivf_codebook","n_centroids":32,""" +
      s""""n_probe":4,"recall_first_n":$rIvf0,"recall_lloyd":$rIvfL,""" +
      s""""sec_lloyd_train":$tTrain,"sec_ivf_lloyd":$tIvfL}""")

    // At-rest layout soak (VERDICT r8 directive 2): the amplified
    // corpus written in its production layouts, probed FROM COLD
    // STORAGE with executed-plan invariants — intake/query work never
    // reshuffles the resident corpus.
    // (a) documents partitioned by source: a source-scoped governance
    //     read must prune at the scan (PartitionFilters, one source's
    //     directories only).
    val docStoreDir = s"$soakDir/doc_store"
    val (_, tDocWrite) = timed {
      operators.AtRestStores.writeDocumentsStore(docs, docStoreDir)
    }
    val storedDocs = operators.AtRestStores
      .documentsStore(spark, docStoreDir)
    val oneSrc = storedDocs.filter(col("source") === "src3")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val (nSrcRows, tDocProbe) = timed { oneSrc.collect().length }
    val docScan = oneSrc.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("doc_store")).getOrElse("")
    require(docScan.contains("PartitionFilters") &&
      docScan.contains("source"),
      s"documents store scan not partition-pruned: $docScan")
    // (b) IVF cell-partitioned vectors: write once with the trained
    //     codebook, probe from disk; the scan carries the probed cells
    //     as partition filters and every shuffle in the plan is
    //     q_id-sized (the corpus side streams straight into the
    //     broadcast probe join).
    val ivfDir = s"$soakDir/ivf_store"
    val (_, tIvfWrite) = timed {
      operators.Similarity.writeIvfStore(e, cbLloyd, NQ, ivfDir)
    }
    val storedIvf = operators.Similarity.ivfTopKFromStore(spark, ivfDir,
      operators.Similarity.querySide(e, NQ), 4, 10)
    val (storedRows, tIvfProbe) = timed { storedIvf.collect() }
    val ivfPlan = storedIvf.queryExecution.executedPlan
    val ivfScan = ivfPlan.collectLeaves().map(_.toString)
      .find(_.contains("ivf_store")).getOrElse("")
    require(ivfScan.contains("PartitionFilters") &&
      ivfScan.contains("cid"),
      s"ivf store scan not cell-pruned: $ivfScan")
    val ivfShuffles = ivfPlan.toString
      .split("== Initial Plan ==").head
      .linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .toSeq
    require(ivfShuffles.nonEmpty &&
      ivfShuffles.forall(_.contains("q_id")),
      s"corpus-side shuffle leaked into the store probe:\n" +
        ivfShuffles.mkString("\n"))
    // Parity: identical rows to the in-memory search over the same
    // codebook (same tie-breaks) — the layout changes the I/O shape,
    // never the answer.
    val memRows = operators.Similarity
      .ivfTopKWith(e, cbLloyd, NQ, 4, 10).collect()
    require(storedRows.map(_.toString).sorted.toSeq ==
      memRows.map(_.toString).sorted.toSeq,
      "store probe diverged from in-memory IVF")
    println(s"""{"metric":"soak_at_rest","n_copies":$annN,""" +
      s""""doc_src_rows":$nSrcRows,"ivf_rows":${storedRows.length},""" +
      s""""sec_doc_write":$tDocWrite,"sec_doc_probe":$tDocProbe,""" +
      s""""sec_ivf_write":$tIvfWrite,"sec_ivf_probe":$tIvfProbe,""" +
      s""""plan":"cell-pruned scan, q_id-only shuffles, parity ok"}""")
    // PQ-ADC, two measurements with two different corpora BY DESIGN:
    // THROUGHPUT on the amplified corpus (where the 150k-vector scan is
    // the work), QUALITY on the base corpus (the standard ANN-benchmark
    // shape — the amplified corpus is 100 identical copies of every
    // vector, so its "recall@10" degenerates to 1-NN accuracy under
    // massive distance ties and measures tie-breaking, not
    // quantization). Ground truth is exact L2 (pqTopK's own metric —
    // judging it against cosine truth would conflate metric
    // disagreement with quantization error); both the fixture config
    // (4×16, what the pq_ann oracle pins) and a production-shaped
    // budget (8 subspaces × 64 codes) are reported, untrained vs
    // per-subspace-Lloyd-trained.
    val (nPq, tPq) = timed {
      operators.Similarity.pqTopK(e, NQ, 4, 16, 10).count()
    }
    println(s"""{"metric":"soak_pq_speed","n_sub":4,"n_code":16,""" +
      s""""pq_rows":$nPq,"sec_pq":$tPq,"sec_brute":$tBrute}""")
    val e0 = operators.Similarity.prepared(
      Tables.t(spark, srcDir, "embeddings"))
    val bruteL2 = operators.Similarity.l2TopK(e0, NQ, 10).persist()
    val nBruteL2 = bruteL2.count()
    def recallPq(df: org.apache.spark.sql.DataFrame): Double =
      df.select("q_id", "n_id")
        .join(bruteL2.select("q_id", "n_id"), Seq("q_id", "n_id"))
        .count().toDouble / nBruteL2
    def pqQuality(ns: Int, nc: Int): (Double, Double, Double) = {
      val cb0 = operators.Similarity.pqSubCodebook(e0, NQ, ns, nc)
      val r0 = recallPq(
        operators.Similarity.pqTopKWith(e0, cb0, NQ, ns, nc, 10))
      val (cbL, tTrain) = timed {
        val cb = operators.Similarity.pqLloydRefine(e0, cb0, NQ, ns,
          iters = 3)
        cb.count(); cb
      }
      val rL = recallPq(
        operators.Similarity.pqTopKWith(e0, cbL, NQ, ns, nc, 10))
      (r0, rL, tTrain)
    }
    val (rFix0, rFixL, tFixTrain) = pqQuality(4, 16)
    val (rProd0, rProdL, tProdTrain) = pqQuality(8, 64)
    println(s"""{"metric":"soak_pq_recall","truth":"exact_l2_base",""" +
      s""""fixture_4x16":{"first_n":$rFix0,"lloyd":$rFixL,""" +
      s""""sec_train":$tFixTrain},""" +
      s""""prod_8x64":{"first_n":$rProd0,"lloyd":$rProdL,""" +
      s""""sec_train":$tProdTrain}}""")
    bruteL2.unpersist()
    bruteDf.unpersist()
    operators.Dedup.clearCaches(spark)
    spark.stop()
  }
}
