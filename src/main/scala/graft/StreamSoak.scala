package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery

/** Sustained streaming soak (VERDICT r8 directive 7): drive the three
  * stateful pipelines — the flagship covid consumer, the
  * transformWithState rolling z-score, and the intake near-dup gate —
  * from MemoryStream feeds for O(100) micro-batches each, recording
  * per-batch throughput and state-store size from
  * StreamingQueryProgress. The existing specs prove correctness across
  * ONE batch split; this proves the operational claim that matters for
  * a long-running stream: state stays BOUNDED under sustained load
  * (watermark eviction / fixed-key rings actually hold), and batch
  * durations stay flat instead of creeping as state accumulates.
  *
  * Each pipeline `require`s its flatness invariant:
  *  - flagship: watermark-evicted window state — last-quarter mean
  *    state rows ≤ 1.5× second-quarter mean (steady ≈ live windows ×
  *    locations, independent of batches processed);
  *  - z-score: state rows == distinct users (one bounded ring per
  *    key), exactly flat once every user has been seen;
  *  - near-dup gate: stateless foreachBatch — offsets are the only
  *    state; per-batch duration must not trend up (last-quarter mean
  *    ≤ 2× second-quarter mean).
  *
  *   SPARK_GRAFT_STREAM_BATCHES=120 sbt "runMain graft.StreamSoak"
  */
object StreamSoak {

  final case class Progress(batchId: Long, inputRows: Long,
      durationMs: Long, stateRows: Long, stateMemBytes: Long)

  /** Drain `query.lastProgress` after a processAllAvailable round into
    * the per-batch log (multiple micro-batches can fire per round; the
    * recent-progress buffer holds the intermediate ones).
    */
  private def record(query: StreamingQuery,
      log: mutable.LinkedHashMap[Long, Progress]): Unit =
    query.recentProgress.foreach { p =>
      val (sr, sm) = p.stateOperators.headOption
        .map(s => (s.numRowsTotal, s.memoryUsedBytes)).getOrElse((0L, 0L))
      log.put(p.batchId, Progress(p.batchId, p.numInputRows,
        p.durationMs.getOrDefault("triggerExecution", 0L), sr, sm))
    }

  private def quarterMeans(xs: Seq[Long]): (Double, Double, Double) = {
    val q = math.max(1, xs.size / 4)
    def mean(s: Seq[Long]): Double =
      if (s.isEmpty) 0.0 else s.sum.toDouble / s.size
    (mean(xs.take(q)), mean(xs.slice(q, 2 * q)), mean(xs.takeRight(q)))
  }

  private def summarize(name: String,
      log: mutable.LinkedHashMap[Long, Progress]): (Double, Double) = {
    val ps = log.values.toSeq.filter(_.inputRows > 0)
    val rows = ps.map(_.inputRows).sum
    val secs = ps.map(_.durationMs).sum / 1000.0
    val (f, m, l) = quarterMeans(ps.map(_.stateRows))
    val (df, dm, dl) = quarterMeans(ps.map(_.durationMs))
    println(s"""{"metric":"stream_soak","pipeline":"$name",""" +
      s""""batches":${ps.size},"rows":$rows,""" +
      s""""rows_per_sec":${math.round(rows / secs)},""" +
      s""""state_rows_q1":$f,"state_rows_q2":$m,"state_rows_q4":$l,""" +
      s""""state_mem_mb_last":${ps.lastOption.map(p =>
        math.round(p.stateMemBytes / 1024.0 / 1024.0 * 10) / 10.0)
        .getOrElse(0.0)},""" +
      s""""batch_ms_q1":$df,"batch_ms_q2":$dm,"batch_ms_q4":$dl}""")
    (m, l)
  }

  def main(args: Array[String]): Unit = {
    val nBatches = Harness.conf.streamBatches
    val sfDir = Harness.sfDir("sf0.01")
    val spark = Harness.session(Harness.cpus(8))
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-stream-soak").toString

    // ---- 1. flagship covid pipeline: parse → watermarked 1-minute
    // window agg → broadcast-dim enrich, update mode. Event time
    // advances one day per batch (the wire format carries dates), so
    // the 10-minute watermark closes each day's windows as the next
    // day arrives — state must hold only the live day per location.
    {
      val dim = streaming.CovidStreamPipeline.countriesDim(spark)
      val locations = dim.select("country_name").as[String].collect()
      val source = MemoryStream[String](spark)
      val query = streaming.CovidStreamPipeline
        .transform(dim)(source.toDF())
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/flagship_ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(); ()
        }
        .start()
      val log = mutable.LinkedHashMap.empty[Long, Progress]
      val day0 = java.time.LocalDate.parse("2021-01-01")
      (0 until nBatches).foreach { i =>
        val date = day0.plusDays(i.toLong).toString
        val batch = for {
          loc <- locations.toSeq
          r <- 0 until 250
        } yield s"""{"date":"$date","location":"$loc",""" +
          s""""new_cases":${(r * 7 + i) % 500},""" +
          s""""total_cases":${1000 + i * 13 + r}}"""
        source.addData(batch: _*)
        query.processAllAvailable()
        record(query, log)
      }
      query.stop()
      val (mid, last) = summarize("flagship_window_agg", log)
      require(last <= 1.5 * mid + 1,
        s"flagship window state grew: mid=$mid last=$last — watermark " +
          "eviction is not holding")
    }

    // ---- 2. transformWithState rolling z-score: fixed user
    // population, unbounded stream — state is one ≤(frame−1)-long ring
    // per user, so numRowsTotal must equal the user count and stay
    // EXACTLY flat from the first batch to the last.
    {
      val nUsers = 200
      val source = MemoryStream[streaming.StatefulOps.ZEvent](spark)
      val query = streaming.StatefulOps.zScores(source.toDS())
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/zscore_ckpt")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[streaming.StatefulOps.ZScore],
           _: Long) => b.count(); ()
        }
        .start()
      val log = mutable.LinkedHashMap.empty[Long, Progress]
      (0 until nBatches).foreach { i =>
        val batch = (0 until 2000).map { r =>
          val eid = i.toLong * 2000 + r
          streaming.StatefulOps.ZEvent(eid, eid % nUsers,
            1600000000000000L + eid * 1000, (eid * 31 % 97).toDouble)
        }
        source.addData(batch: _*)
        query.processAllAvailable()
        record(query, log)
      }
      query.stop()
      val (mid, last) = summarize("zscore_rings", log)
      require(mid == nUsers && last == nUsers,
        s"z-score state must stay exactly $nUsers rings: mid=$mid " +
          s"last=$last")
    }

    // ---- 3. intake near-dup gate: stateless foreachBatch against the
    // static banded corpus — per-batch wall time must stay flat (a
    // trend up would mean per-batch corpus work is accumulating).
    {
      val corpusDocs = Tables.t(spark, sfDir, "documents")
      val corpusSh = operators.Dedup.docShingles(corpusDocs,
        cacheKey = s"$tmp|streamsoak")
      corpusSh.count()
      val texts = corpusDocs.select("doc_id", "text")
        .as[(Long, String)].collect()
      val matches = new java.util.concurrent.atomic.AtomicLong
      val source = MemoryStream[(Long, String)](spark)
      val query = streaming.StreamOps.streamingNearDup(
        source.toDF().toDF("doc_id", "text"), corpusSh, 4, 5,
        s"$tmp/neardup_ckpt") { (pairs, _) =>
        matches.addAndGet(pairs.count()); ()
      }
      val log = mutable.LinkedHashMap.empty[Long, Progress]
      (0 until nBatches).foreach { i =>
        // 200 docs/batch: half exact copies of corpus docs (must hit),
        // half salted below the 0.8 Jaccard threshold (must pass) —
        // fresh ids every batch. The salt is length-proportional
        // DISTINCT tokens (a repeated token would collapse to ~3
        // shingles and the copy would still match).
        val batch = (0 until 200).map { r =>
          val (cid, ctext) = texts((i * 131 + r * 7) % texts.length)
          val id = 1000000L + i.toLong * 1000 + r
          if (r % 2 == 0) (id, ctext)
          else {
            val salt = (0 until math.max(12, ctext.length / 12))
              .map(j => s"zz${cid}x${i}y${r}z$j").mkString(" ")
            (id, s"$ctext $salt")
          }
        }
        source.addData(batch: _*)
        query.processAllAvailable()
        record(query, log)
      }
      query.stop()
      val ps = log.values.toSeq.filter(_.inputRows > 0)
      val (_, dm, dl) = quarterMeans(ps.map(_.durationMs))
      summarize("neardup_gate", log)
      println(s"""{"metric":"stream_soak_neardup_matches",""" +
        s""""verified_pairs":${matches.get}}""")
      require(dl <= 2.0 * dm + 50,
        s"near-dup gate batch time trending up: q2=$dm ms q4=$dl ms")
    }

    // ---- 4. native session_window aggregation (append mode): 50 users
    // emit a 10-event burst per batch, event time advancing one hour
    // per batch, 30-minute gap, 10-minute watermark — each batch's
    // sessions close as the next batch's watermark passes them, so the
    // session store must hold only the open sessions (≈ user count),
    // flat regardless of batches processed, and every closed session
    // must actually EMIT (eviction without emission would be silent
    // data loss, not bounded state).
    {
      val nUsers = 50
      val emitted = new java.util.concurrent.atomic.AtomicLong
      val source = MemoryStream[(Long, java.sql.Timestamp)](spark)
      val query = streaming.StreamOps.sessionWindowAgg(
        source.toDF().toDF("user_id", "ts"), "ts", "user_id",
        "30 minutes", "10 minutes")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/session_ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          emitted.addAndGet(b.count()); ()
        }
        .start()
      val log = mutable.LinkedHashMap.empty[Long, Progress]
      val t0 = 1700000000000L
      (0 until nBatches).foreach { i =>
        val batch = for {
          u <- 0 until nUsers
          r <- 0 until 10
        } yield (u.toLong,
          new java.sql.Timestamp(t0 + i.toLong * 3600000 + r * 60000))
        source.addData(batch: _*)
        query.processAllAvailable()
        record(query, log)
      }
      query.stop()
      val (mid, last) = summarize("session_window_agg", log)
      require(last <= 1.5 * mid + 1,
        s"session store grew: mid=$mid last=$last — watermark eviction " +
          "of closed sessions is not holding")
      // All but the last ~2 batches' sessions are past the watermark.
      require(emitted.get >= nUsers.toLong * (nBatches - 2),
        s"closed sessions must emit: got ${emitted.get}, expected ≥ " +
          s"${nUsers.toLong * (nBatches - 2)}")
      println(s"""{"metric":"stream_soak_sessions",""" +
        s""""emitted":${emitted.get}}""")
    }

    // ---- 5. streaming intake → at-rest stores (VERDICT r10 #1): a
    // MemoryStream of fresh-id vectors epoch-appends into a live IVF
    // store, and a MemoryStream of fresh-id documents into the
    // bucketed signature store, both through the exactly-once file
    // ledger. Phase 1 (no compaction): resident history must be
    // BYTE-IDENTICAL across epochs (each append only adds files) and
    // a replayed batch must change nothing. Phase 2 (compaction
    // trigger armed): files-per-cell stays bounded while row counts
    // stay exact. Closing checks: the signature store equals a
    // from-scratch banding of everything fed, the IVF probe plan is
    // still partition-pruned, and per-batch durations stay flat.
    {
      val nB = math.max(10, nBatches / 6)
      val NQ = 5
      val raw = Tables.t(spark, sfDir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val e = operators.Similarity.prepared(raw)
      val store = s"$tmp/ivf_intake"
      operators.Similarity.writeIvfStore(e,
        operators.Similarity.firstNCodebook(e, NQ, 16), NQ, store)
      val baseRows = spark.read.parquet(s"$store/vectors").count()
      val baseVecs = raw.filter(col("vec_id") >= NQ)
        .as[(Long, Seq[Double])].collect()
      val batchVecs = math.min(200, baseVecs.length)

      val sigTable = "stream_soak_sig"
      spark.sql(s"DROP TABLE IF EXISTS $sigTable")
      val sigPath = s"$tmp/sig_intake"
      val docsT = Tables.t(spark, sfDir, "documents")
      operators.Dedup.writeSignatureStore(
        operators.Dedup.docShingles(docsT,
          cacheKey = s"$tmp|soak-intake"), sigPath, sigTable)
      val sigFilesBase = {
        val p = new org.apache.hadoop.fs.Path(sigPath)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(p).count(s => s.isFile &&
          !s.getPath.getName.startsWith("_"))
      }
      val texts = docsT.select("doc_id", "text")
        .filter(col("text").isNotNull).as[(Long, String)].collect()

      // Third store: the MANIFESTED documents store with its full
      // maintenance loop (snapshot publish per epoch, per-source
      // compaction trigger, in-loop GC) driven from a stream.
      val docStore = s"$tmp/docs_intake"
      operators.AtRestStores.writeDocumentsStore(
        docsT.filter(col("doc_id") % 2 === 0), docStore)
      operators.AtRestStores.publishDocumentsManifest(spark, docStore)
      val docBaseRows = operators.AtRestStores
        .documentsSnapshot(spark, docStore).count()
      val srcRows = docsT.select("doc_id", "text", "source")
        .filter(col("text").isNotNull && col("source").isNotNull)
        .as[(Long, String, String)].collect()

      def listingOf(path: String): Set[(String, Long)] = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(p)) Set.empty
        else {
          val it = fs.listFiles(p, true)
          val b = Set.newBuilder[(String, Long)]
          while (it.hasNext) {
            val s = it.next()
            if (!s.getPath.getName.startsWith("_") &&
              !s.getPath.toString.contains("/."))
              b += ((s.getPath.toString, s.getLen))
          }
          b.result()
        }
      }

      val phase1 = nB / 2
      val vecSource = MemoryStream[(Long, Seq[Double])](spark)
      // Compaction arms itself per batch: off in phase 1 (so the
      // byte-identical invariant is assertable), threshold 4 files per
      // cell in phase 2.
      @volatile var compactOver = 0
      val vecQuery = vecSource.toDF().toDF("vec_id", "embedding")
        .writeStream
        .option("checkpointLocation", s"$tmp/ivf_intake_ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          streaming.StoreIntake.ivfIntakeBatch(store, "soak",
            compactOver)(b, id)
        }
        .start()
      val docSource = MemoryStream[(Long, String)](spark)
      val docQuery = docSource.toDF().toDF("doc_id", "text")
        .writeStream
        .option("checkpointLocation", s"$tmp/sig_intake_ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          streaming.StoreIntake.signatureIntakeBatch(sigTable, sigPath,
            "soak")(b, id)
        }
        .start()
      val docStoreSource = MemoryStream[(Long, String, String)](spark)
      val docStoreQuery = docStoreSource.toDF()
        .toDF("doc_id", "text", "source")
        .writeStream
        .option("checkpointLocation", s"$tmp/docs_intake_ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          streaming.StoreIntake.documentsIntakeBatch(docStore, "soak",
            compactOver = 3)(b, id)
        }
        .start()

      // Fourth store: the log-structured term-stats store WITH theta
      // sketch sidecars (round 11) — seeded under its own ledger scope
      // (a streamed batch 0 must not collide with the seed epoch),
      // manifested, then streamed with the in-loop fold armed.
      val tsStore = s"$tmp/ts_intake"
      val tsSeed = docsT.select("doc_id", "text", "source")
        .filter(col("text").isNotNull && col("source").isNotNull &&
          col("doc_id") % 2 === 1)
      streaming.StoreIntake.termStatsIntakeBatch(tsStore, "seed",
        sketchSources = true, sketchLengths = true)(tsSeed, 0L)
      operators.TermStatsStore.publishManifest(spark, tsStore): Unit
      val tsSource = MemoryStream[(Long, String, String)](spark)
      val tsQuery = tsSource.toDF().toDF("doc_id", "text", "source")
        .writeStream
        .option("checkpointLocation", s"$tmp/ts_intake_ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          streaming.StoreIntake.termStatsIntakeBatch(tsStore, "soak",
            compactOver = 4, sketchSources = true,
            sketchLengths = true)(b, id)
        }
        .start()
      val fedTs = mutable.ArrayBuffer.empty[(Long, String, String)]

      val vlog = mutable.LinkedHashMap.empty[Long, Progress]
      val fedDocs = mutable.ArrayBuffer.empty[(Long, String)]
      var fedDocStore = 0L
      var lastListing = listingOf(s"$store/vectors")
      (0 until nB).foreach { i =>
        compactOver = if (i < phase1) 0 else 4
        val vbatch = (0 until batchVecs).map { r =>
          val (vid, emb) = baseVecs((i * 37 + r) % baseVecs.length)
          ((i + 1) * 10000000L + vid,
            emb.zipWithIndex.map { case (x, j) =>
              x + 0.001 * ((vid + i + j) % 7 - 3) })
        }
        vecSource.addData(vbatch: _*)
        vecQuery.processAllAvailable()
        record(vecQuery, vlog)
        val dbatch = (0 until 50).map { r =>
          val (did, text) = texts((i * 131 + r * 7) % texts.length)
          ((i + 1) * 10000000L + did * 100 + r, text)
        }
        fedDocs ++= dbatch
        docSource.addData(dbatch: _*)
        docQuery.processAllAvailable()
        val sbatch = (0 until 40).map { r =>
          val (did, text, src) = srcRows((i * 53 + r * 11) % srcRows.length)
          ((i + 1) * 10000000L + did * 100 + r, text, src)
        }
        fedDocStore += sbatch.size
        docStoreSource.addData(sbatch: _*)
        docStoreQuery.processAllAvailable()
        val tbatch = (0 until 30).map { r =>
          val (did, text, src) = srcRows((i * 71 + r * 13) % srcRows.length)
          ((i + 1) * 20000000L + did * 100 + r, text, src)
        }
        fedTs ++= tbatch
        tsSource.addData(tbatch: _*)
        tsQuery.processAllAvailable()
        if (i < phase1) {
          val now = listingOf(s"$store/vectors")
          require(lastListing.subsetOf(now),
            s"epoch $i rewrote resident IVF files")
          lastListing = now
        }
      }
      // Replay both streams' first batches directly: nothing changes.
      val ivfBefore = listingOf(s"$store/vectors")
      val sigBefore = listingOf(sigPath)
      val replayVec = Seq((10000000L + NQ, Seq.fill(64)(0.5)))
        .toDF("vec_id", "embedding")
      streaming.StoreIntake.ivfIntakeBatch(store, "soak", 0)(
        replayVec, 0L)
      streaming.StoreIntake.signatureIntakeBatch(sigTable, sigPath,
        "soak")(Seq((1L, "replayed text")).toDF("doc_id", "text"), 0L)
      require(listingOf(s"$store/vectors") == ivfBefore &&
        listingOf(sigPath) == sigBefore,
        "replayed batches must append nothing")
      // Manifested documents store: versions advanced, live files per
      // source bounded by the trigger, snapshot exact, replay silent.
      val docV = operators.StoreManifest.currentVersion(spark, docStore)
      require(docV.exists(_ > 1L),
        s"documents intake published no manifest versions: $docV")
      val docLive = operators.StoreManifest.files(spark, docStore).get
      val perSource = docLive.groupBy(_.takeWhile(_ != '/')).values
        .map(_.size)
      require(perSource.max <= 6,
        s"documents compaction failed to bound files/source: " +
          s"${perSource.toSeq.sorted}")
      val docSnapRows = operators.AtRestStores
        .documentsSnapshot(spark, docStore).count()
      require(docSnapRows == docBaseRows + fedDocStore,
        s"documents snapshot drift: $docSnapRows vs expected " +
          s"${docBaseRows + fedDocStore}")
      streaming.StoreIntake.documentsIntakeBatch(docStore, "soak",
        compactOver = 3)(
        Seq((1L, "replayed", "srcX")).toDF("doc_id", "text", "source"),
        0L)
      require(operators.StoreManifest.currentVersion(spark, docStore)
        == docV && operators.AtRestStores
        .documentsSnapshot(spark, docStore).count() == docSnapRows,
        "a replayed documents batch must publish and append nothing")
      println(s"""{"metric":"stream_soak_docs_store",""" +
        s""""epochs":$nB,"fed":$fedDocStore,""" +
        s""""snapshot_rows":$docSnapRows,""" +
        s""""manifest_version":${docV.get},""" +
        s""""max_files_per_source":${perSource.max}}""")

      // Term-stats store with sketch sidecars: incremental stats AND
      // the sidecar-derived source overlap must equal from-scratch
      // builds over seed ∪ everything fed; a replay adds neither
      // partials nor sidecar rows; the in-loop fold bounded the log.
      val allTs = tsSeed.unionByName(
        fedTs.toSeq.toDF("doc_id", "text", "source"))
      val tsDirect = operators.Pipeline.docTermsPlan(allTs)
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
        .orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val tsViaStore = operators.TermStatsStore
        .termStats(spark, tsStore).orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      require(tsViaStore == tsDirect,
        "streamed term-stats store diverged from from-scratch stats")
      require(operators.TermStatsStore.docsCount(spark, tsStore)
        == allTs.count(),
        "streamed term-stats doc count drifted")
      def ovCanon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("src_a", "src_b").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val ovStore = ovCanon(operators.TermStatsStore
        .sourceOverlapFromStore(spark, tsStore))
      val ovDirect = ovCanon(operators.ThetaSketches
        .sourceOverlapEstimates(operators.Pipeline.docTermsPlan(allTs)
          .join(allTs.select("doc_id", "source"), "doc_id")))
      require(ovStore == ovDirect,
        "sidecar-derived source overlap diverged from one-pass build")
      def lqCanon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("source").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      val lqDirect = lqCanon(
        operators.QuantileSketches.sourceLengthQuantiles(allTs))
      // Exact-regime equality only holds while no source crossed the
      // sketch's k=1024 (a compacted sketch's randomized levels make
      // merge order visible); past that — possible when the soak is
      // run far beyond its documented 120 batches — fall back to the
      // always-exact invariants (counts, and p50 within the 2ε rank
      // envelope of the one-pass answer).
      val kllExact = lqDirect.forall(_._6 <= 1024L)
      val lqStore = lqCanon(operators.TermStatsStore
        .sourceLengthQuantilesFromStore(spark, tsStore))
      if (kllExact)
        require(lqStore == lqDirect,
          "streamed KLL sidecar quantiles diverged from one-pass build")
      else
        require(lqStore.map(r => (r._1, r._6)) ==
          lqDirect.map(r => (r._1, r._6)),
          "streamed KLL sidecar stream counts drifted")
      val skRows = spark.read.parquet(s"$tsStore/sketches").count()
      val lqRows = spark.read.parquet(s"$tsStore/lenq").count()
      streaming.StoreIntake.termStatsIntakeBatch(tsStore, "soak",
        compactOver = 4, sketchSources = true, sketchLengths = true)(
        allTs.limit(5), 0L)
      require(spark.read.parquet(s"$tsStore/sketches").count() == skRows,
        "replayed term-stats batch duplicated sidecar rows")
      require(spark.read.parquet(s"$tsStore/lenq").count() == lqRows,
        "replayed term-stats batch duplicated lenq sidecar rows")
      require(ovCanon(operators.TermStatsStore
        .sourceOverlapFromStore(spark, tsStore)) == ovDirect,
        "replay changed the sidecar overlap answer")
      require(lqCanon(operators.TermStatsStore
        .sourceLengthQuantilesFromStore(spark, tsStore)) == lqStore,
        "replay changed the sidecar quantile answer")
      val tsLive = operators.StoreManifest
        .files(spark, s"$tsStore/partials").get
      require(tsLive.size <= 6,
        s"term-stats fold failed to bound the log: ${tsLive.size}")
      println(s"""{"metric":"stream_soak_term_stats",""" +
        s""""epochs":$nB,"fed":${fedTs.size},""" +
        s""""sketch_rows":$skRows,"lenq_rows":$lqRows,""" +
        s""""kll_exact":$kllExact,"live_partials":${tsLive.size}}""")

      vecQuery.stop(); docQuery.stop(); docStoreQuery.stop()
      tsQuery.stop()

      // Exactness: stored rows = base + every fed vector, no dups.
      val storedRows = spark.read.parquet(s"$store/vectors")
      val nStored = storedRows.count()
      val nDistinct = storedRows.select("n_id").distinct().count()
      require(nStored == baseRows + nB.toLong * batchVecs &&
        nDistinct == nStored,
        s"IVF store row drift: $nStored rows ($nDistinct distinct) vs " +
          s"expected ${baseRows + nB.toLong * batchVecs}")
      // Compaction held the line: with threshold 4 and one file per
      // touched cell per epoch, no cell may exceed threshold + a few
      // in-flight epochs.
      val cellFiles = operators.Similarity
        .ivfStoreCellStats(spark, store).map(_._2)
      require(cellFiles.max <= 8,
        s"compaction trigger failed to bound files/cell: $cellFiles")
      // Probe stays partition-pruned off the post-compaction store.
      val probe = operators.Similarity.ivfTopKFromStore(spark, store,
        operators.Similarity.querySide(e, NQ), nProbe = 4, k = 10)
      val probeRows = probe.count()
      val scanStr = probe.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).find(_.contains("ivf_intake")).getOrElse("")
      require(probeRows > 0 && scanStr.contains("PartitionFilters") &&
        scanStr.contains("cid"),
        s"post-intake store probe not cell-pruned: $scanStr")
      // Signature store == from-scratch banding of base ∪ everything
      // fed (exactly-once, content-level).
      val fedDf = fedDocs.toSeq.toDF("doc_id", "text")
      val expectBands = operators.Dedup.bandSignatures(
        operators.Dedup.docShingles(
          docsT.select("doc_id", "text").unionByName(fedDf)))
      val gotBands = operators.Dedup.signatureStore(spark, sigTable)
      require(gotBands.exceptAll(expectBands).isEmpty &&
        expectBands.exceptAll(gotBands).isEmpty,
        "signature store diverged from from-scratch banding")
      // Flatness is gated WITHIN each phase: phase 2's absolute level
      // includes per-batch compaction work by design, so comparing it
      // to phase 1 would gate the trigger, not a trend.
      val ps = vlog.values.toSeq.filter(_.inputRows > 0)
      def halves(xs: Seq[Long]): (Double, Double) = {
        val h = math.max(1, xs.size / 2)
        def mean(s: Seq[Long]): Double =
          if (s.isEmpty) 0.0 else s.sum.toDouble / s.size
        (mean(xs.take(h)), mean(xs.takeRight(h)))
      }
      val (p1a, p1b) = halves(ps.take(phase1).map(_.durationMs))
      val (p2a, p2b) = halves(ps.drop(phase1).map(_.durationMs))
      summarize("store_intake", vlog)
      println(s"""{"metric":"stream_soak_store_intake",""" +
        s""""epochs":$nB,"ivf_rows":$nStored,""" +
        s""""sig_base_files":$sigFilesBase,""" +
        s""""max_files_per_cell":${cellFiles.max},""" +
        s""""append_ms_h1":$p1a,"append_ms_h2":$p1b,""" +
        s""""compact_ms_h1":$p2a,"compact_ms_h2":$p2b}""")
      require(p1b <= 2.0 * p1a + 100,
        s"append-only intake batch time trending up: $p1a -> $p1b ms")
      require(p2b <= 2.0 * p2a + 1000,
        s"compacting intake batch time trending up: $p2a -> $p2b ms")
    }

    // ---- 6. keeper epoch-min store read amplification (VERDICT r15
    // #4): EpochMinStoreSpec pins write ∝ batch at fixture scale; this
    // drives the store through `nBatches` foreachBatch triggers with
    // the in-loop fold ARMED and measures what the spec can't — the
    // read side. Per trigger: resident file count, bytes the epoch
    // appended (compact-* maintenance files excluded), and the
    // min-at-read wall time; at every fold, the (files, read-ms) pair
    // immediately before vs after. Gates: epoch bytes stay flat while
    // the resident store grows (write ∝ batch at soak scale), resident
    // files stay bounded by the fold threshold, post-fold reads are
    // never slower than the pre-fold reads they amortize, and read
    // time stays flat across the whole run — which is only true
    // BECAUSE the folds bound resident-epoch growth. Convergence is
    // re-gated against a driver-side min map at the end.
    {
      val compactOver = 12
      val keeper = new streaming.EpochMinStore(s"$tmp/keeper",
        Seq("h"), scope = "soak", compactOver = compactOver)
      val src = MemoryStream[(String, Long)](spark)
      val q = src.toDF().toDF("h", "keeper")
        .writeStream
        .option("checkpointLocation", s"$tmp/keeper_ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          keeper.append(b, id)
        }
        .start()
      val expect = mutable.Map.empty[String, Long]
      val nKeys = 2000
      val batchKeys = 200
      def fileSizes(): Map[String, Long] = {
        val root = new org.apache.hadoop.fs.Path(keeper.path)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        operators.StoreManifest.files(spark, keeper.path)
          .getOrElse(Seq.empty)
          .map(f => f -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(root, f)).getLen).toMap
      }
      def readMs(): Long = {
        val t0 = System.nanoTime()
        keeper.read(spark).count(): Unit
        (System.nanoTime() - t0) / 1000000L
      }
      val epochBytes = mutable.ArrayBuffer.empty[Long]
      val readLog = mutable.ArrayBuffer.empty[(Int, Int, Long)]
      val foldLog = mutable.ArrayBuffer.empty[(Int, Long, Int, Long)]
      var prev = fileSizes()
      var prevRead = -1L
      (0 until nBatches).foreach { i =>
        val batch = (0 until batchKeys).map { r =>
          val j = (i * 37 + r) % nKeys
          val k = f"k$j%04d"
          val v = 1000000L - i * 13 + (j % 7)
          expect.updateWith(k)(old =>
            Some(math.min(old.getOrElse(Long.MaxValue), v)))
          (k, v)
        }
        src.addData(batch: _*)
        q.processAllAvailable()
        val now = fileSizes()
        epochBytes += now.view
          .filterKeys(f => !prev.contains(f) && !f.startsWith("compact-"))
          .values.sum
        val ms = readMs()
        readLog += ((i, now.size, ms))
        if (now.size < prev.size && prevRead >= 0)
          // The in-loop fold fired during THIS trigger: the previous
          // trigger's (files, read-ms) is the pre-fold peak this fold
          // amortized.
          foldLog += ((i, prevRead, now.size, ms))
        prev = now
        prevRead = ms
      }
      q.stop()
      val got = keeper.read(spark).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(got == expect.toMap,
        s"keeper store diverged after $nBatches folds+appends: " +
          s"${got.size} keys vs ${expect.size} expected")
      def mean(xs: Seq[Long]): Double =
        if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
      val h = epochBytes.size / 2
      val (wb1, wb2) = (mean(epochBytes.take(h).toSeq),
        mean(epochBytes.drop(h).toSeq))
      val qn = math.max(1, readLog.size / 4)
      val (rq1, rq4) = (mean(readLog.take(qn).map(_._3).toSeq),
        mean(readLog.takeRight(qn).map(_._3).toSeq))
      val preFold = mean(foldLog.map(_._2).toSeq)
      val postFold = mean(foldLog.map(_._4).toSeq)
      val maxFiles = readLog.map(_._2).max
      println(s"""{"metric":"stream_soak_keeper",""" +
        s""""triggers":$nBatches,"keys":${expect.size},""" +
        s""""batch_keys":$batchKeys,"compact_over":$compactOver,""" +
        s""""folds":${foldLog.size},"max_files":$maxFiles,""" +
        s""""epoch_bytes_h1":${math.round(wb1)},""" +
        s""""epoch_bytes_h2":${math.round(wb2)},""" +
        s""""read_ms_q1":${math.round(rq1)},""" +
        s""""read_ms_q4":${math.round(rq4)},""" +
        s""""read_ms_prefold":${math.round(preFold)},""" +
        s""""read_ms_postfold":${math.round(postFold)}}""")
      require(foldLog.nonEmpty,
        "the in-loop fold never fired — the soak measured nothing")
      require(maxFiles <= compactOver + 10,
        s"resident epochs unbounded: $maxFiles files " +
          s"(threshold $compactOver + writer-partition slack)")
      require(wb2 <= 2.0 * wb1 + 65536,
        s"per-trigger epoch bytes trending with store size, not " +
          s"batch: ${math.round(wb1)} -> ${math.round(wb2)}")
      require(postFold <= 1.5 * preFold + 150,
        s"post-fold reads slower than the pre-fold peaks they " +
          s"amortize: $preFold -> $postFold ms")
      require(rq4 <= 2.0 * rq1 + 300,
        s"min-at-read cost trending up across the soak: " +
          s"$rq1 -> $rq4 ms")
    }

    operators.Dedup.clearCaches(spark)
    spark.stop()
    Harness.deleteRecursively(new java.io.File(tmp))
  }
}
