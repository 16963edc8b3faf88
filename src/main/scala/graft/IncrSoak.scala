package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** N-epoch incremental-curation soak (round 16): `curation_chain_incr`
  * gates one epoch and `curation_chain_incr2` gates two against DuckDB
  * oracles; this proves the cadence REPEATS — a month of daily crawls
  * landing on one resident store — with the two properties a
  * production operator actually monitors:
  *
  *  - **Exactness every epoch**: the signature-store banding probe's
  *    drop set must equal the EXHAUSTIVE blocked-pair ground truth
  *    ([[operators.Dedup.nearDupPairs]] over the full corpus — a
  *    different code path: inverted-index blocking + verify, vs the
  *    store's (band, sig) bucket probe) restricted to (batch ×
  *    current membership). A membership leak in either direction —
  *    a dropped doc still shadowing, an admitted doc not shadowing —
  *    fails the epoch it first appears in, with the epoch number.
  *  - **Flat per-epoch cost**: wall time per epoch must not trend up
  *    as the store grows — the O(batch + membership-probe) claim.
  *    Epoch work = probe (broadcast bands vs the bucketed store scan)
  *    + scrub (fp semi-join, member-scale longs) + budget + two
  *    ledgered appends (documents + signatures), all batch-sized
  *    writes.
  *
  * BOTH stores run their maintenance inside the cadence: the
  * documents store arms `compactOver` (source compaction + gcExpired
  * mid-loop), and the band-signature store arms the bucketed
  * blue/green fold (Dedup.compactSignatureStore + carried epoch
  * ledger) whenever files/bucket crosses its criterion — so the
  * per-epoch exactness gate keeps passing ACROSS generation swaps of
  * the very store the probe reads (VERDICT r16 #4).
  *
  * The corpus slices by xxhash64(doc_id) mod (nEpochs + 4): slices
  * 0..3 are the resident bootstrap (~20%), slice 3+e is epoch e —
  * hash slicing keeps every batch statistically alike, so a time
  * trend is store-growth signal, not batch-skew noise.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     SPARK_GRAFT_INCR_EPOCHS=16 sbt "runMain graft.IncrSoak"
  */
object IncrSoak {

  def main(args: Array[String]): Unit = {
    val nEpochs = Harness.conf.incrEpochs
    val spark = Harness.session(Harness.cpus(8))
    val dir = Harness.sfDir("sf0.1")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-incr-soak").toString
    val docsPath = s"$tmp/docs"
    val sigPath = s"$tmp/sig"
    val sigTable = "incrsoak_sig"
    val M = nEpochs + 4
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

    val docs = Tables.t(spark, dir, "documents")
    def slice(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(M))
    val sh = operators.Dedup.docShingles(docs, cacheKey = dir)
    val bands = operators.Dedup.bandSignatures(sh, cacheKey = dir)
    val fpsAll = operators.Corpus.docFps(docs, cacheKey = dir)
    // Ground truth: exhaustive blocked pairs over the WHOLE corpus,
    // memoized once — per-epoch expectations are restrictions of it.
    val vp = operators.Dedup.nearDupPairs(sh, 4, 5, cacheKey = dir)

    // Bootstrap: resident docs + their signatures, both manifested /
    // ledgered exactly like the declared queries.
    val resident = docs.filter(slice(col("doc_id")) < 4)
    operators.AtRestStores.writeDocumentsStore(
      resident.select(cols.map(col): _*), docsPath)
    operators.AtRestStores.publishDocumentsManifest(spark, docsPath): Unit
    spark.sql(s"DROP TABLE IF EXISTS $sigTable")
    operators.Dedup.writeSignatureStore(sh.limit(0), sigPath, sigTable)
    streaming.StoreIntake.signatureIntakeBatch(sigTable, sigPath,
      "incrsoak")(docs.select("doc_id", "text")
        .filter(slice(col("doc_id")) < 4), 0L)
    val residentRows = resident.count()

    var memberIds = resident.select("doc_id").localCheckpoint()
    var admittedTotal = 0L
    val epochMs = mutable.ArrayBuffer.empty[Long]
    val lines = mutable.ArrayBuffer.empty[String]

    // Band-signature store maintenance, armed IN-cadence (VERDICT r16
    // #4): every admission appends one file per non-empty bucket, so
    // the store's probe task count grows with epoch count unless the
    // bucketed blue/green fold (Dedup.compactSignatureStore) runs
    // inside the cadence — exactly like the documents store's armed
    // compactOver above. The fold rebuilds into a fresh generation
    // (path + table), CARRIES the exactly-once epoch ledger
    // (StoreIntake.carryEpochLedger — a re-delivered pre-fold batch
    // must still read as applied), then swaps the probe/intake handles
    // and drops the old generation. The per-epoch exactness gate keeps
    // running across the swaps, so membership must survive the
    // SIGNATURE store's maintenance too, not just the corpus's.
    val sigCompactOver = 4
    var curSigTable = sigTable
    var curSigPath = sigPath
    var sigGen = 0
    var sigFolds = 0
    def maybeFoldSigStore(): Unit = {
      val stats = operators.Dedup.signatureStoreFileStats(spark,
        curSigPath)
      if (stats.exists(_._2 > sigCompactOver)) {
        sigGen += 1
        val nextTable = s"${sigTable}_g$sigGen"
        val nextPath = s"$tmp/sig_g$sigGen"
        spark.sql(s"DROP TABLE IF EXISTS $nextTable")
        operators.Dedup.compactSignatureStore(spark, curSigPath,
          nextPath, nextTable)
        streaming.StoreIntake.carryEpochLedger(spark, curSigPath,
          nextPath)
        spark.sql(s"DROP TABLE IF EXISTS $curSigTable")
        Harness.deleteRecursively(new java.io.File(curSigPath))
        curSigTable = nextTable
        curSigPath = nextPath
        sigFolds += 1
      }
    }

    (1 to nEpochs).foreach { e =>
      val t0 = System.nanoTime()
      val sliceVal = 3 + e
      val batch = docs.filter(slice(col("doc_id")) === sliceVal)
      // Unit under test: the store probe.
      val got = operators.Dedup.incrementalNearDupPairs(
        corpus = sh,
        incoming = sh.filter(slice(col("doc_id")) === sliceVal), 4, 5,
        corpusBands = operators.Dedup.signatureStore(spark, curSigTable),
        incomingBands = bands.filter(slice(col("doc_id")) === sliceVal))
        .select(col("new_id").as("doc_id")).distinct()
        .localCheckpoint()
      // Ground truth: exhaustive pairs restricted to (batch × member).
      val exp = vp.select(col("da").as("bid"), col("db").as("mid"))
        .unionByName(vp.select(col("db").as("bid"), col("da").as("mid")))
        .filter(slice(col("bid")) === sliceVal)
        .join(memberIds.withColumnRenamed("doc_id", "mid"),
          Seq("mid"), "left_semi")
        .select(col("bid").as("doc_id")).distinct()
      val missed = exp.exceptAll(got).count()
      val extra = got.exceptAll(exp).count()
      require(missed == 0 && extra == 0,
        s"epoch $e probe diverged from the exhaustive ground truth: " +
          s"$missed missed, $extra extra")
      val nDups = got.count()
      // Scrub + admit, the declared-query semantics.
      val surv = batch.select(cols.map(col): _*)
        .join(got, Seq("doc_id"), "left_anti")
      val unionIds = memberIds.unionByName(surv.select("doc_id"))
      val scr = operators.Corpus.spanScrubDocs(surv,
        fpsAll.join(unionIds, Seq("doc_id"), "left_semi"))
        .localCheckpoint()
      val langMass = scr.groupBy("lang").agg(sum("n_chars").as("c"))
        .collect().map(_.getLong(1))
      val budget = if (langMass.isEmpty) 0L else langMass.min / 2
      val admitted = operators.Pipeline.budgetSelectDocs(scr, budget)
        .select(cols.map(col): _*).localCheckpoint()
      val nAdm = admitted.count()
      // compactOver arms the in-loop source compaction + gcExpired —
      // the cadence runs WITH its maintenance, not beside it.
      streaming.StoreIntake.documentsIntakeBatch(docsPath, "incrsoak",
        compactOver = 3)(admitted, e.toLong)
      streaming.StoreIntake.signatureIntakeBatch(curSigTable, curSigPath,
        "incrsoak")(docs.select("doc_id", "text")
          .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi"),
          e.toLong)
      maybeFoldSigStore()
      val prev = memberIds
      memberIds = memberIds.unionByName(admitted.select("doc_id"))
        .localCheckpoint()
      prev.unpersist(): Unit
      scr.unpersist(); got.unpersist(): Unit
      admittedTotal += nAdm
      val ms = (System.nanoTime() - t0) / 1000000L
      epochMs += ms
      val nFiles = operators.StoreManifest.files(spark, docsPath)
        .map(_.size).getOrElse(0)
      val sigFiles = operators.Dedup
        .signatureStoreFileStats(spark, curSigPath).map(_._2).sum
      lines += s"""{"metric":"incr_soak_epoch","epoch":$e,""" +
        s""""dups":$nDups,"admitted":$nAdm,"ms":$ms,""" +
        s""""store_files":$nFiles,"sig_files":$sigFiles,""" +
        s""""sig_gen":$sigGen}"""
    }

    // Final snapshot exactness: residents + every admitted doc, once.
    val snap = operators.StoreManifest.snapshotRead(spark, docsPath)
    val snapRows = snap.count()
    val snapDistinct = snap.select("doc_id").distinct().count()
    require(snapRows == residentRows + admittedTotal &&
      snapDistinct == snapRows,
      s"snapshot drift after $nEpochs epochs: $snapRows rows " +
        s"($snapDistinct distinct) vs ${residentRows + admittedTotal}")
    // The armed compaction must bound live files per source across the
    // whole cadence (the StreamSoak docs-store gate).
    val perSource = operators.StoreManifest.files(spark, docsPath).get
      .groupBy(_.takeWhile(_ != '/')).values.map(_.size)
    require(perSource.max <= 6,
      s"in-cadence compaction failed to bound files/source: " +
        s"${perSource.toSeq.sorted}")
    // The armed signature-store fold must have actually run (a dead
    // arm means the cadence never tested membership across ITS store's
    // maintenance) and must bound files/bucket the same way the docs
    // compaction bounds files/source.
    require(sigFolds >= 2,
      s"sig-store fold armed but ran $sigFolds times over $nEpochs " +
        "epochs — the exactness gate never crossed a fold")
    val sigPerBucket = operators.Dedup
      .signatureStoreFileStats(spark, curSigPath).map(_._2)
    require(sigPerBucket.nonEmpty && sigPerBucket.max <= sigCompactOver,
      s"in-cadence sig-store folds failed to bound files/bucket: " +
        s"${sigPerBucket.sorted}")
    // Flatness: last-quarter mean epoch time ≤ 2× first-quarter + 2 s.
    val q = math.max(1, nEpochs / 4)
    def mean(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val (m1, m4) = (mean(epochMs.take(q).toSeq),
      mean(epochMs.takeRight(q).toSeq))
    lines.foreach(println)
    println(s"""{"metric":"incr_soak","epochs":$nEpochs,""" +
      s""""resident":$residentRows,"admitted_total":$admittedTotal,""" +
      s""""snapshot_rows":$snapRows,"sig_folds":$sigFolds,""" +
      s""""epoch_ms_q1":${math.round(m1)},""" +
      s""""epoch_ms_q4":${math.round(m4)},"sf":"$dir"}""")
    require(m4 <= 2.0 * m1 + 2000,
      s"per-epoch cost trending with store size: $m1 -> $m4 ms")

    operators.Dedup.clearCaches(spark)
    spark.stop()
    Harness.deleteRecursively(new java.io.File(tmp))
  }
}
