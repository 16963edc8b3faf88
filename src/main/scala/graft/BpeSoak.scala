package graft

/** Large-k batched-BPE training soak (VERDICT r14 #3): the declared
  * `bpe_vocab_batched` query gates correctness at k=8; this measures
  * the SCALE claim — that [[graft.operators.Bpe.trainBatched]] learns
  * a real vocabulary in ~k/m driver rounds instead of k — at
  * k≥256/m≥32 over the sf0.1 corpus, and records round count + wall
  * time (PLANS.md carries the measured numbers).
  *
  * Gates:
  *  - the batching mechanism ENGAGED: driver rounds < merges learned
  *    (a degenerate one-merge-per-round run means the conflict rule
  *    rejects everything — the k/m claim would be false);
  *  - training ran to k merges or a genuine dry-out (every word one
  *    symbol), never a silent partial;
  *  - the batch efficiency (merges/round) is printed for the record —
  *    on natural-ish text top pairs come from different words and
  *    batches fill, but the number is corpus-dependent, so it is
  *    reported rather than gated.
  *
  * `SPARK_GRAFT_BPE_AMP=N` (N > 1) trains on the soak-amplified
  * corpus instead of the raw fixture (VERDICT r16 #6 — the
  * production-shaped-k run): the fixture's synthetic text dries out
  * at ~91 learnable merges, far below a real tokenizer's k, while the
  * amplification's per-copy hex-token salts contribute ~37 distinct
  * 8-char words per doc per salted copy — a vocabulary table large
  * and diverse enough to sustain k ≥ 4096 merges, so the driver-round
  * cost curve at production k is measured, not extrapolated from
  * k=256.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BPE_K=4096 \
  *     SPARK_GRAFT_BPE_M=256 SPARK_GRAFT_BPE_AMP=4 \
  *     sbt "runMain graft.BpeSoak"
  */
object BpeSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("sf0.1")
    val (k, m, amp) =
      (Harness.conf.bpeK, Harness.conf.bpeM, Harness.conf.bpeAmp)
    val spark = Harness.session(Harness.cpus(16))
    val base = Tables.t(spark, sfDir, "documents")
    // Amplified corpora are materialized to a temp table so every
    // training round reads a stable parquet scan (the memoized
    // initialVocab contract), not a re-evaluated salting expression.
    val tmp = if (amp <= 1) None else Some(java.nio.file.Files
      .createTempDirectory("graft-bpe-soak").toString)
    val (docs, key) = tmp match {
      case None => (base, sfDir)
      case Some(dir) =>
        Harness.amplifiedDocs(base, amp, dupCopies = 1)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        (Tables.t(spark, dir, "documents"), dir)
    }
    val t0 = System.nanoTime()
    val (model, rounds) =
      operators.Bpe.trainBatched(docs, k, m, cacheKey = key)
    val sec = (System.nanoTime() - t0) / 1e9
    val learned = model.merges.size
    // Dry-out detection: fewer than k merges is legitimate ONLY when
    // pairs genuinely ran out — the final vocab must hold no adjacent
    // pair at all.
    if (learned < k) {
      import org.apache.spark.sql.functions._
      val remaining = model.vocab
        .filter(size(col("syms")) >= 2).count()
      require(remaining == 0,
        s"trainer stopped at $learned/$k merges with $remaining " +
          "multi-symbol words left — a silent partial, not a dry-out")
    }
    require(rounds < math.max(2, learned),
      s"batching never engaged: $rounds rounds for $learned merges")
    val perRound = math.round(learned.toDouble / rounds * 100) / 100.0
    val secRound = math.round(sec / rounds * 100) / 100.0
    println(s"""{"metric":"bpe_soak","k":$k,"m":$m,"amp":$amp,""" +
      s""""learned":$learned,"rounds":$rounds,""" +
      s""""merges_per_round":$perRound,"sec_per_round":$secRound,""" +
      s""""round_bound_floor":${(k + m - 1) / m},""" +
      s""""sec":${math.round(sec * 10) / 10.0},"sf":"$sfDir"}""")
    operators.Dedup.clearCaches(spark)
    spark.stop()
    tmp.foreach(d => Harness.deleteRecursively(new java.io.File(d)))
  }
}
