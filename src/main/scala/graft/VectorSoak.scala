package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end EMBEDDING-chain soak at ≥100× amplification (VERDICT r9
  * #4) — the vector counterpart of ChainSoak: the whole ANN/curation
  * chain COMPOSED, not per-stage:
  *
  *   prepare → codebook (first-N seed + Lloyd) → IVF store build →
  *     store probe → epoch append (perturbed intake, stored codebook) →
  *     post-append probe → SemDeDup
  *
  * with per-stage SparkListener shuffle/spill/peak-memory metrics, the
  * 64 MB broadcast ceiling `require`d on every executed plan, and
  * recall@10 tracked per probe stage against the exact brute-force
  * ground truth (times alone reward returning garbage fast).
  *
  * The amplified corpus is exact copies (every base vector gains N−1
  * identical partners — worst-case cell mass and maximal distance
  * ties), and the intake epoch is a PERTURBED copy (component noise):
  * near-duplicates that must assign to the same cells via the STORED
  * codebook without any corpus reassignment.
  *
  *   SPARK_GRAFT_VECTOR_N=100 sbt "runMain graft.VectorSoak"
  */
object VectorSoak {

  def main(args: Array[String]): Unit = {
    import Harness._
    val srcDir = sfDir("sf0.1")
    val n = conf.vectorN
    val spark = session(cpus(32))
    val stage = new Stages(spark, "vector_stage")

    val soakDir = java.nio.file.Files
      .createTempDirectory("graft-vector-soak").toString
    val t0All = System.nanoTime()

    val base = Tables.t(spark, srcDir, "embeddings")
      .select("vec_id", "embedding")
    // Query count clamped so the corpus side keeps ≥ 3/4 of the base
    // table at any SF (sf0.1 → the standard 500-query batch).
    val NQ = math.min(500L, base.count() / 4).toInt

    // ---- amplification: queries (vec_id < NQ) once; corpus vectors
    // (vec_id ≥ NQ) × (n−1) exact copies under offset ids. The n-th
    // copy becomes the INTAKE epoch, perturbed per component with
    // deterministic noise (±~0.3% of the component scale) — near-dups
    // of resident vectors that must land in the same cells.
    require(n >= 2,
      s"SPARK_GRAFT_VECTOR_N must be >= 2 (copies + intake epoch), got $n")
    val nVecs = stage("prepare") {
      (0 until n - 1).map(k => base
          .filter(if (k == 0) lit(true) else col("vec_id") >= NQ)
          .withColumn("vec_id", col("vec_id") + lit(k * 10000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$soakDir/embeddings.parquet")
      base.filter(col("vec_id") >= NQ)
        .withColumn("vec_id", col("vec_id") + lit((n - 1) * 10000000L))
        .withColumn("embedding", expr(
          "transform(embedding, (x, i) -> cast(x + 0.001 * " +
            "(pmod(hash(vec_id, i), 7) - 3) as float))"))
        .write.mode("overwrite").parquet(s"$soakDir/intake.parquet")
      (Tables.t(spark, soakDir, "embeddings").count(), Nil)
    }

    val e = operators.Similarity.prepared(
      Tables.t(spark, soakDir, "embeddings")).persist()
    e.count()
    val intake = operators.Similarity.prepared(
      spark.read.parquet(s"$soakDir/intake.parquet")).persist()
    val nIntake = intake.count()

    // ---- exact ground truth over the resident corpus (pre-append).
    val bruteMain = operators.Similarity.cosineTopK(e, NQ, 10).persist()
    val nBruteMain = stage("brute_truth") {
      (bruteMain.count(), Seq(bruteMain.queryExecution.executedPlan))
    }
    def recallOf(approx: DataFrame, truth: DataFrame,
        nTruth: Long): Double =
      approx.select("q_id", "n_id")
        .join(truth.select("q_id", "n_id"), Seq("q_id", "n_id"))
        .count().toDouble / nTruth

    // ---- IVF store build: one corpus-wide assignment pass, written
    // cell-partitioned with the codebook alongside. Deliberately built
    // on the UNTRAINED first-N codebook — the stale book a year of
    // intake leaves behind (the drift story ivf_cell_stats reports
    // on): the probe stages prove store/in-memory parity (codebook-
    // agnostic), and the recompact stage below must then RECOVER the
    // trained codebook's recall by retraining + reassignment.
    val cbStale = operators.Similarity.firstNCodebook(e, NQ, 32)
    val ivfDir = s"$soakDir/ivf_store"
    stage("ivf_build") {
      operators.Similarity.writeIvfStore(e, cbStale, NQ, ivfDir)
      (spark.read.parquet(s"$ivfDir/vectors").count(), Nil)
    }

    // ---- store probe: partition-pruned scan, q_id-only shuffles,
    // recall vs exact truth.
    var recallPre = 0.0
    stage("store_probe") {
      val probe = operators.Similarity.ivfTopKFromStore(spark, ivfDir,
        operators.Similarity.querySide(e, NQ), nProbe = 4, k = 10)
      val rows = probe.count()
      val plan = probe.queryExecution.executedPlan
      val scanStr = plan.collectLeaves().map(_.toString)
        .find(_.contains("ivf_store")).getOrElse("")
      require(scanStr.contains("PartitionFilters") &&
        scanStr.contains("cid"),
        s"store probe scan not cell-pruned: $scanStr")
      val shuffles = plan.toString.split("== Initial Plan ==").head
        .linesIterator.filter(_.contains("Exchange hashpartitioning"))
        .toSeq
      require(shuffles.nonEmpty && shuffles.forall(_.contains("q_id")),
        s"corpus-side shuffle leaked into the store probe:\n" +
          shuffles.mkString("\n"))
      recallPre = recallOf(probe, bruteMain, nBruteMain)
      (rows, Seq(plan))
    }

    // ---- IVFPQ + exact re-rank (VERDICT r10 #3): at ONE probe cost
    // (nProbe of 32 first-N cells — the codebook family ivfPqTopK
    // itself uses), measure recall@10 for (a) the coarse stage with
    // exact in-cell scoring (the cell-recall CEILING — no rerank can
    // recover a neighbor in an unprobed cell), (b) raw ADC ranking,
    // and (c) ADC candidates re-scored exactly. The rerank must close
    // the ADC quantization gap (≥ ceiling − ε) and clear 0.9 absolute
    // at the same probe cost — the production contract: nProbe buys
    // recall, nCand makes ADC mis-ranking recoverable, and the exact
    // pass stays bounded at nQueries × nCand pairs (broadcast
    // semi-join; never a corpus-wide exact scan).
    var recallCell = 0.0; var recallAdc = 0.0; var recallRerank = 0.0
    // Probe/cell/codebook sizes measured on this corpus: the synthetic
    // embeddings are near-random in 64-d (weak cluster structure), so
    // cell recall scales roughly with the probed-mass fraction — 0.9
    // recall@10 costs probing ~half the trained cells here. On clustered
    // production embeddings the same recall comes far cheaper; what
    // this stage PROVES is the rerank mechanism: raw ADC ranks ~0.05
    // of truth into its top-10, and the exact re-rank over the same
    // probe set recovers the full cell ceiling (equality to within
    // rounding), at a bounded nQueries × nCand exact-distance cost.
    val (nProbe, nCells, nCode) = (32, 64, 64)
    // Candidate budget scales with the amplification factor: nCand is
    // a ROW budget, and under exact-copy amplification every distinct
    // base vector drags its ~n identical copies (identical adist, and
    // ties break by n_id) into the cut — a flat 5000 at 100× holds
    // only ~50 DISTINCT vectors and the rerank starves (measured:
    // recall 0.536 vs ceiling 0.918). 500×n keeps distinct coverage
    // constant across amplification (≈500 base vectors, the value
    // tuned at 10×); the exact pass stays bounded at nQueries × nCand
    // pairs — 25M at 100×, still 3× below the brute truth's 74M and
    // cell-pruned besides. Production corpora dedup BEFORE indexing
    // (SemDeDup is two stages later in this very chain), so real
    // candidate lists are distinct-dominated and the flat budget is
    // the right default there.
    val nCand = 500 * n
    stage("ivfpq_rerank") {
      // Lloyd-trained coarse codebook: trained centroids balance cell
      // mass — the production lever for cell recall at a given nProbe,
      // and the rerank's ceiling (the ~sqrt(n)-cells sizing rule in
      // miniature). Trained HERE, its only consumer — since the store
      // moved to the stale-book drift story, a standalone codebook
      // stage would be dead corpus-wide Lloyd work.
      val cb2 = operators.Similarity.lloydRefine(e,
        operators.Similarity.firstNCodebook(e, NQ, nCells), NQ,
        iters = 3)
      val cell = operators.Similarity.ivfTopKWith(e, cb2, NQ, nProbe, 10)
      recallCell = recallOf(cell, bruteMain, nBruteMain)
      val memoKey = s"$soakDir|rerank"
      val adc = operators.Similarity.ivfPqTopKWith(e, cb2, NQ + nCells,
        NQ, nProbe, 4, nCode, 10, cacheKey = memoKey)
      recallAdc = recallOf(adc, bruteMain, nBruteMain)
      val rer = operators.Similarity.ivfPqRerankWith(e, cb2,
        NQ + nCells, NQ, nProbe, 4, nCode, nCand = nCand, k = 10,
        cacheKey = memoKey)
      val rows = rer.count()
      recallRerank = recallOf(rer, bruteMain, nBruteMain)
      (rows, Seq(rer.queryExecution.executedPlan))
    }
    println(s"""{"metric":"vector_rerank","n_probe":$nProbe,""" +
      s""""n_cells":$nCells,"n_code":$nCode,"n_cand":$nCand,""" +
      s""""recall_cell_ceiling":$recallCell,"recall_adc":$recallAdc,""" +
      s""""recall_rerank":$recallRerank}""")
    require(recallRerank >= 0.9,
      s"rerank recall@10 $recallRerank below the 0.9 gate")
    require(recallRerank >= recallAdc,
      s"exact rerank must not lose to ADC: $recallRerank < $recallAdc")
    require(recallRerank >= recallCell - 0.02,
      s"rerank failed to close the ADC gap: $recallRerank vs " +
        s"ceiling $recallCell")

    // ---- epoch append: intake assigned against the STORED codebook,
    // resident files untouched (byte-identical listing).
    stage("epoch_append") {
      val fsPath = new org.apache.hadoop.fs.Path(s"$ivfDir/vectors")
      val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
      def listing(): Set[(String, Long)] = {
        val it = fs.listFiles(fsPath, true)
        val b = Set.newBuilder[(String, Long)]
        while (it.hasNext) {
          val s = it.next()
          if (!s.getPath.getName.startsWith("_"))
            b += ((s.getPath.toString, s.getLen))
        }
        b.result()
      }
      val before = listing()
      operators.Similarity.appendToIvfStore(intake, ivfDir)
      val after = listing()
      require(before.subsetOf(after),
        "epoch append rewrote resident store files")
      (nIntake, Nil)
    }

    // ---- post-append probe: ground truth recomputed over the union;
    // the store result must ALSO be bit-identical to the in-memory IVF
    // over the same codebook and union corpus.
    val eUnion = e.unionByName(intake).persist()
    eUnion.count()
    val bruteUnion = operators.Similarity.cosineTopK(eUnion, NQ, 10)
      .persist()
    val nBruteUnion = bruteUnion.count()
    var recallPost = 0.0
    stage("store_probe_post") {
      val probe = operators.Similarity.ivfTopKFromStore(spark, ivfDir,
        operators.Similarity.querySide(e, NQ), nProbe = 4, k = 10)
      val rows = probe.collect()
      // Truth set is k × queries rows — driver-side overlap is exact
      // and avoids re-running the probe.
      val truth = bruteUnion.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      recallPost = rows.count(r =>
        truth((r.getLong(0), r.getLong(1)))).toDouble / nBruteUnion
      val mem = operators.Similarity
        .ivfTopKWith(eUnion, cbStale, NQ, nProbe = 4, k = 10).collect()
      require(rows.map(_.toString).sorted.toSeq ==
        mem.map(_.toString).sorted.toSeq,
        "appended store probe diverged from in-memory IVF on the union")
      (rows.length.toLong, Seq(probe.queryExecution.executedPlan))
    }
    println(s"""{"metric":"vector_recall","n_copies":$n,""" +
      s""""recall_store_pre":$recallPre,""" +
      s""""recall_store_post":$recallPost}""")
    // Gate calibration (ADVICE r14): the 0.3 floors (and the
    // recallRecompact >= recallPost ordering below) were validated at
    // the DEFAULT amplification only (~0.40 pre / ~0.49 post
    // measured); a different SPARK_GRAFT_VECTOR_N can shift
    // stale-book recall below the floor or let retraining tie at equal
    // nProbe — a spurious failure at non-default n is a calibration
    // artifact, not a regression. Re-baseline the floors when changing
    // the amplification.
    require(recallPre >= 0.3 && recallPost >= 0.3,
      s"IVF recall collapsed: pre=$recallPre post=$recallPost")

    // ---- codebook-drift remediation (VERDICT r13 #5): the appended
    // store is adopted under a manifest, the STALE codebook RETRAINED
    // on the drifted union (3 deterministic Lloyd iterations from the
    // stored book), and one snapshot compaction reassigns every
    // resident vector to the retrained cells with the codebook
    // published versioned alongside the flip. Gates: the re-clustered
    // probe's recall at the SAME nProbe must beat (or match) the
    // stale pre-compaction probe — retraining exists to recover
    // drift-lost recall (measured here: ~0.40 stale → ~0.49 trained)
    // — and the snapshot result must be bit-identical to the
    // in-memory IVF over the same retrained codebook and union corpus.
    var recallRecompact = 0.0
    stage("ivf_recompact") {
      operators.Similarity.publishIvfManifest(spark, ivfDir): Unit
      val cbNew = operators.Similarity.lloydRefine(eUnion, cbStale, NQ,
        iters = 3)
      operators.Similarity.recompactIvfStoreClustered(spark, ivfDir,
        cbNew): Unit
      val probe = operators.Similarity.ivfTopKFromSnapshot(spark,
        ivfDir, operators.Similarity.querySide(e, NQ), nProbe = 4,
        k = 10)
      val rows = probe.collect()
      val truth = bruteUnion.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      recallRecompact = rows.count(r =>
        truth((r.getLong(0), r.getLong(1)))).toDouble / nBruteUnion
      val mem = operators.Similarity
        .ivfTopKWith(eUnion, cbNew, NQ, nProbe = 4, k = 10).collect()
      require(rows.map(_.toString).sorted.toSeq ==
        mem.map(_.toString).sorted.toSeq,
        "recompacted store probe diverged from in-memory IVF over " +
          "the retrained codebook")
      (rows.length.toLong, Seq(probe.queryExecution.executedPlan))
    }
    println(s"""{"metric":"vector_recompact","n_copies":$n,""" +
      s""""recall_store_post":$recallPost,""" +
      s""""recall_recompacted":$recallRecompact}""")
    require(recallRecompact >= recallPost,
      s"re-clustering lost recall at equal nProbe: " +
        s"$recallRecompact < $recallPost")

    // ---- SemDeDup over the union (queries as anchors, NQ centroids →
    // bounded cluster pairing). Amplification-invariance of the
    // survivor set: exact copies all land in their original's cluster
    // and carry HIGHER ids, so the kept set restricted to base-id
    // vectors must equal what SemDeDup keeps on the UNAMPLIFIED base —
    // duplication changes cardinality, never who survives. The 0.99999
    // threshold separates exact copies (cos = 1 up to rounding) from
    // the dataset's own planted near-dups.
    val thr = 0.99999
    val expectedBase = operators.Similarity.semDedup(base, NQ, thr)
      .filter(col("kept") && col("vec_id") >= NQ).count()
    stage("semdedup", s""","base_survivors":$expectedBase""") {
      val sd = operators.Similarity.semDedup(
        eUnion.select(col("vec_id"), col("v").as("embedding")),
        nCentroids = NQ, threshold = thr)
      val keptBaseIds = sd.filter(col("kept") &&
        col("vec_id") >= NQ && col("vec_id") < 10000000L).count()
      val keptResident = sd.filter(col("kept") &&
        col("vec_id") >= NQ).count()
      require(keptBaseIds == expectedBase,
        s"amplification changed the survivor set: kept $keptBaseIds " +
          s"base-id vectors, base run keeps $expectedBase")
      (keptResident, Seq(sd.queryExecution.executedPlan))
    }

    println(s"""{"metric":"vector_soak_total","n_copies":$n,""" +
      s""""vecs":$nVecs,"intake":$nIntake,""" +
      s""""sec_total":${math.round((System.nanoTime() - t0All) / 1e7) /
        100.0}}""")
    Seq(bruteUnion, bruteMain, eUnion, intake, e)
      .foreach(_.unpersist(blocking = false))
    operators.Dedup.clearCaches(spark)
    spark.stop()
    deleteRecursively(new java.io.File(soakDir))
  }
}
