package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-governance operators — the source-level and snapshot-level
  * bookkeeping a large-scale training-data pipeline runs around the
  * per-document stages in [[Pipeline]]: domain (source) reputation
  * stats and filtering, snapshot diffing between corpus versions, a
  * corpus-derived stopword scrub, and an n-gram language-model score
  * (the KenLM-style quality filter, re-expressed without
  * transcendentals so any engine computes bit-identical results).
  *
  * Shared scale discipline: every corpus-sized side streams through
  * exactly one pass; every model/vocabulary side reduces to a bounded
  * table and BROADCASTS; no window ever partitions over the corpus.
  */
object Corpus {

  /** Per-source (domain) corpus stats: document count, char volume,
    * mean length, language spread. The reputation table a pipeline
    * derives before deciding which sources to keep, downweight, or
    * recrawl.
    *
    * Plan: one hash-aggregate with map-side partials; output is
    * sources-sized (bounded — domains, not documents). `avg_chars` is
    * BIGINT-sum / BIGINT-count — exact IEEE division, so engines agree
    * bit-for-bit without quantization. `n_langs` is exact distinct:
    * the Expand it plans stays proportional to the corpus × 1 extra
    * grouping column, still a single shuffle.
    */
  def domainStats(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      (sum(col("n_chars")).cast("double") / count(lit(1)))
        .as("avg_chars"),
      countDistinct(col("lang")).as("n_langs"))

  /** Reputation filter: keep documents whose source's mean length sits
    * in [loAvg, hiAvg] — the "drop boilerplate farms and truncation
    * mills" stage. The passing-source table is domains-sized and
    * BROADCASTS; the corpus streams once through the broadcast hash
    * join and never shuffles.
    */
  def domainFilter(docs: DataFrame, loAvg: Double,
      hiAvg: Double): DataFrame = {
    val ok = domainStats(docs)
      .filter(col("avg_chars") >= loAvg && col("avg_chars") <= hiAvg)
      .select(col("source").as("ok_source"), col("avg_chars"))
    // Null-safe equality (the r5 null-drop bug class): a null-source
    // GROUP gets its own avg_chars row, and its documents must pass or
    // fail the band like any other group's — a bare equi-join would
    // silently delete every null-source document regardless of band.
    docs.join(broadcast(ok), col("source") <=> col("ok_source"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("avg_chars").as("source_avg_chars"))
  }

  /** Snapshot diff between two corpus versions keyed by `doc_id`,
    * comparing md5 content digests (md5 is identical across engines —
    * the portable-digest contract established by `dedup_content`).
    * Returns the per-document change log:
    * (doc_id, status ∈ added|removed|changed|unchanged).
    *
    * Scale shape: ONE full-outer shuffle join on doc_id over
    * digest-only projections (16-byte digests, not payloads). On a
    * 100 TB corpus both snapshots are written bucketed by doc_id
    * (ScaleOps bucketed-layout pattern), which turns this into a
    * zero-shuffle sort-merge over co-located buckets; the digest
    * projection also means a snapshot with wide media columns never
    * moves its payloads.
    */
  def corpusDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    // Presence rides EXPLICIT flags, not digest nullness: md5(NULL
    // text) is NULL, so inferring existence from h_prev/h_next would
    // misclassify every null-text document (a deleted null-text doc
    // would report "added"). The null-safe digest compare then makes
    // null-vs-null "unchanged" and null-vs-text "changed".
    val a = prev.select(col("doc_id"), md5(col("text")).as("h_prev"),
      lit(true).as("in_prev"))
    val b = next.select(col("doc_id"), md5(col("text")).as("h_next"),
      lit(true).as("in_next"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_prev").isNull, lit("added"))
          .when(col("in_next").isNull, lit("removed"))
          .when(!(col("h_prev") <=> col("h_next")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** corpusDiff rolled up to per-status counts — the summary a
    * pipeline logs per snapshot promotion. Second stage is a
    * 4-row aggregate.
    */
  def corpusDiffCounts(prev: DataFrame, next: DataFrame): DataFrame =
    corpusDiff(prev, next)
      .groupBy("status").agg(count(lit(1)).as("n_docs"))

  /** Term-level vocabulary churn between two corpus snapshots — the
    * TERM complement of [[corpusDiff]]'s per-document change log: for
    * every term in either snapshot, its total token mass before and
    * after, the delta, and a status (gained / lost / kept). The drift
    * report a pipeline logs at snapshot promotion ("which vocabulary
    * did this crawl add or lose") and the input to tokenizer-refresh
    * decisions.
    *
    * Scale shape: each snapshot streams ONCE through the
    * tokenize+count plan and reduces to a vocabulary-sized (term,
    * mass) table; the comparison is one full-outer join of the two
    * vocab tables co-partitioned on term — corpus payloads never
    * move, exactly the corpusDiff digest pattern one level down.
    *
    * The PREV side is the resident corpus, so with a `cacheKey` it
    * reads the session's MEMOIZED docTerms table (shared with
    * tfidf/token_freq/vocab_stats — the same live key, no eviction)
    * instead of re-tokenizing the corpus (r17; measured ~0.3 s of
    * pure re-tokenization at sf0.1). The NEXT side is a one-shot
    * synthetic snapshot and stays un-memoized on purpose — keying it
    * WOULD evict the main corpus table mid-session.
    */
  def vocabChurn(prev: DataFrame, next: DataFrame,
      cacheKey: String = ""): DataFrame = {
    // Keyless callers keep the one-shot un-memoized plan (a keyless
    // docTerms call would persist a table nobody unpersists).
    val prevTerms = if (cacheKey.isEmpty) Pipeline.docTermsPlan(prev)
      else Pipeline.docTerms(prev, cacheKey)
    val a = prevTerms
      .groupBy("term").agg(sum(col("tf")).as("c_prev"))
    val b = Pipeline.docTermsPlan(next)
      .groupBy("term").agg(sum(col("tf")).as("c_next"))
    a.join(b, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("c_prev"), lit(0L)).as("c_prev"),
        coalesce(col("c_next"), lit(0L)).as("c_next"))
      .withColumn("delta", col("c_next") - col("c_prev"))
      .withColumn("status",
        when(col("c_prev") === 0, lit("gained"))
          .when(col("c_next") === 0, lit("lost"))
          .otherwise(lit("kept")))
  }

  /** Corpus-derived stopword scrub: tokens whose document frequency
    * reaches `dfFrac` of the corpus (capped at the `cap` highest-df
    * tokens, ties broken by token) are removed from every document —
    * the corpus-adaptive analog of a fixed stoplist, and the
    * token-granularity analog of C4's "remove lines repeated across
    * the corpus" boilerplate pass.
    *
    * Plan: document frequencies come off the memoized
    * [[Pipeline.docTerms]] table (one tokenize pass per session,
    * shared with tfidf/token_freq/vocab_stats); the stoplist reduces
    * to ≤ cap rows via TakeOrderedAndProject (never a corpus
    * window), collapses to ONE array row, and BROADCASTS; the scrub
    * itself is a per-row filter+rejoin over that broadcast array —
    * the corpus never shuffles. `toks` and `stops` are materialized
    * attributes before the HOF so the lambda touches only
    * BoundReferences (TextOps eval-cost note: HOFs are interpreted;
    * a non-attribute subtree referenced per-element re-evaluates
    * per element).
    *
    * Output: (doc_id, n_tokens, n_removed, text_scrubbed).
    */
  def stopwordScrub(docs: DataFrame, dfFrac: Double, cap: Int,
      cacheKey: String = ""): DataFrame = {
    val terms = Pipeline.docTerms(docs, cacheKey)
    val dfTerm = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val stops = dfTerm.crossJoin(broadcast(nDocs))
      .filter(col("df").cast("double") >= lit(dfFrac) * col("n_docs"))
      .orderBy(col("df").desc, col("term"))
      .limit(cap)
      .agg(coalesce(sort_array(collect_list(col("term"))),
        array()).as("stops"))
    docs.crossJoin(broadcast(stops))
      .withColumn("toks", expr(TextOps.toksS))
      .withColumn("kept",
        expr("filter(toks, x -> NOT array_contains(stops, x))"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("text_scrubbed"))
  }

  /** Per-document bigram language-model score — the KenLM-filter
    * analog ("drop documents improbable under a reference LM"),
    * re-expressed in exact integer arithmetic so Spark and any oracle
    * engine agree bit-for-bit:
    *
    *   p_micro(a→b) = floor(c(a,b) · 10⁶ / c(a))
    *
    * over corpus-trained bigram counts c(a,b) (capped at the `topV`
    * most frequent bigrams — ties by (a, b) — the bounded-model
    * contract; out-of-model bigrams score 0, the floor-smoothing a
    * filter needs, since an unseen transition is exactly the signal)
    * and uncapped unigram counts c(a). No log/exp: the score is
    * rank-equivalent to average transition probability, every
    * intermediate is a BIGINT < 2⁵³, and the one double division
    * (avg = sum/n) is exact-int IEEE. [[Pipeline.tfIdfTopK]] sets the
    * same precedent for dropping the monotone log.
    *
    * Plan: bigram expansion is a slice/zip_with over a materialized
    * token attribute (same shape as Shingles3's HOF baseline) →
    * explode_outer, so zero/one-token documents stay in-band as one
    * null-pair row (the degenerate docs a filter must still see —
    * no join-back against the doc list); the model (top-V bigrams +
    * unigram counts) reduces to vocabulary-sized tables and
    * BROADCASTS — the cap's ranking window runs over the *model*
    * table, never the corpus; scoring is the corpus streaming once
    * through two broadcast joins into one per-doc hash-aggregate.
    *
    * Output: (doc_id, n_bigrams, sum_pmicro — 0 for docs with no
    * bigram, avg_pmicro — null for docs with no bigram).
    */
  def lmScore(docs: DataFrame, topV: Int,
      cacheKey: String = ""): DataFrame =
    // Memoized per (session, corpus, topV): the per-doc score table is
    // doc-count-sized and has two declared consumers (lm_score,
    // ppl_bucket) — without this each pays the full corpus scoring
    // pass. topV folds into the key (it changes the model).
    Memo.memo("lmscore", docs.sparkSession,
      if (cacheKey.isEmpty) "" else s"$cacheKey|v=$topV",
      persistIt = true) {
      lmScorePlan(docs, topV, cacheKey)
    }

  private[operators] def lmScorePlan(docs: DataFrame, topV: Int,
      cacheKey: String): DataFrame = {
    val bigrams = docBigrams(docs, cacheKey)
    val cab = bigrams.filter(col("a").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    // Top-V cap as orderBy+limit, not a global row_number window
    // (r17): an empty-partition window moves the WHOLE bigram
    // vocabulary to one task to rank it; (c_ab DESC, a, b) is a total
    // order over the grouped table, so `limit(topV)` admits exactly
    // the rows the old `rk <= topV` filter kept, and the planner runs
    // it as TakeOrderedAndProject — per-partition top-V heaps merged
    // on the driver, a topV-bounded transfer at any vocabulary size.
    val capped = cab
      .orderBy(col("c_ab").desc, col("a"), col("b"))
      .limit(topV)
    // c(a) = Σ_b c(a,b) off the (vocabulary-sized) uncapped bigram
    // counts — an exact identity with bigram-position counting, so
    // per-prefix probabilities sum to 10⁶ before capping.
    val ca = cab.groupBy("a").agg(sum(col("c_ab")).as("c_a"))
    bigrams
      .join(broadcast(capped), Seq("a", "b"), "left")
      .join(broadcast(ca), Seq("a"), "left")
      // Exact decimal division, not floor(double): Long·10⁶ passes
      // 2⁵³ at c_ab ≈ 9e9 (where the double quotient can floor to a
      // different quantum than exact integer division) and overflows
      // 2⁶³ under ANSI past c_ab ≈ 9.2e12 — the mixWeights precedent.
      .withColumn("p_micro",
        when(col("a").isNotNull,
          expr("cast(cast(coalesce(c_ab, 0) as decimal(38,0)) " +
            "* 1000000 div c_a as bigint)")))
      .groupBy("doc_id").agg(
        count(col("a")).cast("int").as("n_bigrams"),
        coalesce(sum(col("p_micro")), lit(0L)).as("sum_pmicro"))
      .withColumn("avg_pmicro",
        when(col("n_bigrams") > 0,
          col("sum_pmicro").cast("double") / col("n_bigrams")))
  }

  /** (doc_id, fp) winnowing-selected span fingerprints (min md5 char
    * 8-gram per window of 4, truncated to 60-bit int64 — the identical
    * SELECTION `doc_fingerprint` folds into one digest), distinct per
    * doc, memoized per (session, cache key): the selection is CPU-bound
    * and both span operators below consume the same table
    * ([[spanDupRate]] twice, in a self-join). Runs the native
    * single-pass [[graft.functions.WinnowFps64]] (the interpreted HOF
    * chain it replaces is O(chars²) per document AND got inlined by
    * InferFiltersFromGenerate into a pre-Generate predicate; the int64
    * emission makes the downstream fp-keyed shuffles 8-byte, the
    * round-6 pre-hashed-shingle win — see the expression's scaladoc
    * for the parity and collision contracts);
    * `repartition(p, doc_id)` spreads the selection across executors
    * (the docShingles pattern — a local fixture is one parquet split;
    * a real corpus scan is already split, and the shuffle it adds is
    * corpus-sized exactly once).
    */
  def docFps(docs: DataFrame, cacheKey: String = ""): DataFrame =
    Memo.memo("span_fps", docs.sparkSession, cacheKey,
      persistIt = true) {
      val p = docs.sparkSession.sparkContext.defaultParallelism
      docs.repartition(p, col("doc_id"))
        .select(col("doc_id"),
          explode(expr(s"winnow_fps64(${TextOps.normS})")).as("fp"))
    }

  /** Per-document duplicated-span rate — the exact-substring-dedup
    * measure ("what fraction of this document's content appears
    * verbatim elsewhere in the corpus"): each document's selected
    * fingerprints are counted across the corpus, and a span is
    * duplicated iff its fingerprint occurs in ≥ 2 documents.
    * Deduplication pipelines drop or trim documents above a dup_rate
    * threshold. Input is the [[docFps]] table.
    *
    * Scale shape: the fingerprint-frequency table is CORPUS-sized
    * (spans, not vocabulary), so the count join back is an honest
    * shuffle on fp — the ngram_jaccard precedent — with map-side
    * partial aggregation; the join itself is 1:1 per (doc, fp) row
    * (each row picks up one count), so a boilerplate span shared by
    * millions of documents amplifies nothing. Per-doc distinct
    * fingerprints bound both stages. Output:
    * (doc_id, n_fps, n_dup, dup_rate — exact int/int division).
    */
  def spanDupRate(fps: DataFrame): DataFrame = {
    // Carrier count as a window over ONE fp-keyed exchange (r17): the
    // former groupBy(fp)+join-back shuffled the corpus-sized fps table
    // by fp twice (frequency aggregate + the join's probe side) and
    // sort-merged; count(*) OVER (PARTITION BY fp) attaches the
    // identical per-fp carrier count in a single exchange+sort. Same
    // 1:1 amplification contract — one output row per input row.
    // isNotNull (ADVICE r17): the replaced inner join DROPPED null
    // fingerprints (as does the oracle's JOIN USING), while a window
    // keeps them in one null partition — winnow_fps64 never emits
    // null today, but the filter pins the join semantics rather than
    // inheriting that contract silently.
    fps.filter(col("fp").isNotNull)
      .withColumn("n_docs_fp",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_fps"),
        count(when(col("n_docs_fp") >= 2, lit(1))).cast("int")
          .as("n_dup"))
      .withColumn("dup_rate",
        col("n_dup").cast("double") / col("n_fps"))
  }

  /** Per-document content novelty in ingestion order — the curation
    * signal behind "keep the first copy, score later ones down": a
    * document's selected span fingerprint is NOVEL iff no
    * earlier-ingested document (lower doc_id — the deterministic
    * stand-in for arrival order) carries it; novelty is the novel
    * fraction of the document's fingerprints. The first document of a
    * duplicate cluster scores 1.0 on those spans, every re-crawl of it
    * scores 0 — unlike [[spanDupRate]], which penalizes the original
    * and the copy symmetrically. Input is the [[docFps]] table; the
    * shape is the same corpus-sized fp-keyed shuffle (min instead of
    * count) with a 1:1 join back, so boilerplate spans amplify
    * nothing. Output: (doc_id, n_fps, n_novel, novelty).
    */
  def noveltyScore(fps: DataFrame): DataFrame = {
    // First-carrier attribution as a window over ONE fp-keyed
    // exchange (r17) — the spanDupRate rewrite: min(doc_id) OVER
    // (PARTITION BY fp) replaces the groupBy(fp)+join-back pair of
    // corpus-sized fp shuffles with a single exchange+sort.
    // isNotNull: the spanDupRate join-parity guard (ADVICE r17).
    fps.filter(col("fp").isNotNull)
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_fps"),
        count(when(col("first_doc") === col("doc_id"), lit(1)))
          .cast("int").as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_fps"))
  }

  /** Span-level benchmark decontamination — the verbatim-overlap
    * complement of the token-shingle [[Pipeline.decontaminate]]: a
    * corpus document is contaminated when the fraction of its selected
    * span fingerprints that also occur in the benchmark slice reaches
    * `minFrac` (character-level verbatim matches survive tokenization
    * differences that dodge token shingles). Input is the [[docFps]]
    * table; `isBench` marks the benchmark rows.
    *
    * Scale shape: the benchmark side (an eval suite — thousands of
    * docs) collapses to a distinct fingerprint set and BROADCASTS; the
    * corpus side streams once through the broadcast left-outer join
    * and one per-doc aggregate — no corpus shuffle beyond it. Output:
    * every corpus doc with (n_fps, n_bench, bench_frac, contaminated)
    * — totals are reported (unlike decontaminate's overlap-only rows)
    * because the fraction needs them.
    */
  /** POPULATION NOTE: rows exist for every document WITH at least one
    * selected span — a null-text or sub-8-gram document has no
    * winnowing selection ([[docFps]] emits nothing for it), hence no
    * verdict row; having no spans it can hold no benchmark span, so
    * its absence reads "trivially clean". A sweep that must emit a
    * verdict per corpus doc left-joins this output onto the doc list
    * and coalesces `contaminated` to false.
    */
  def spanDecontaminate(fps: DataFrame, isBench: Column,
      minFrac: Double): DataFrame = {
    val bench = fps.filter(isBench)
      .select(col("fp")).distinct()
      .withColumn("hit", lit(1))
    fps.filter(!isBench)
      .join(broadcast(bench), Seq("fp"), "left_outer")
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_fps"),
        count(col("hit")).cast("int").as("n_bench"))
      .withColumn("bench_frac",
        col("n_bench").cast("double") / col("n_fps"))
      .withColumn("contaminated", col("bench_frac") >= lit(minFrac))
  }

  /** Span-level dedup SCRUB — the Lee-et-al TRANSFORM the measures
    * above ([[spanDupRate]], [[noveltyScore]], [[Corpus.topDupSpans]])
    * only report: remove from every document the spans whose
    * winnowing fingerprint has an EARLIER carrier (lower doc_id — the
    * same arrival-order stand-in as [[noveltyScore]], whose dual this
    * is: the first carrier keeps its text untouched, every re-crawl
    * loses exactly the copied characters). Span semantics — which
    * positions a stale fingerprint covers, the degenerate sub-8-char
    * gram, the union-of-intervals complement — live in ONE place, the
    * [[graft.functions.ScrubSpans64]] contract; this method is the
    * relational shell around it.
    *
    * Scale shape (every exchange corpus-sized at most once, all keys
    * 8-byte): first-carrier is one fp-keyed partial-agg min over the
    * memoized [[docFps]] table; stale spans join back 1:1 on fp (the
    * spanDupRate precedent — a boilerplate span shared by millions of
    * docs amplifies nothing) and regroup SORT-MERGE to one bounded
    * array per doc (≤ the doc's distinct-span count; see
    * [[staleFpLists]] for why not collect_list); the text pass is ONE
    * doc_id-keyed join onto the corpus and an O(chars) codegen'd
    * expression per row — no per-character or per-gram explode exists
    * on this side (the oracle's char-level reconstruction is
    * DuckDB-only). Emits (doc_id, kept_chars, scrubbed_spans,
    * kept_digest = md5 of the kept text — the cheap cross-engine
    * witness that the TEXTS match, not just the counts; a pipeline
    * materializing the scrub selects `kept_text` off the same struct).
    */
  /** Per-document stale-fingerprint lists — the scrub variants' join
    * input — built SORT-MERGE (shuffle on doc_id, sort, stream one
    * group at a time) instead of `groupBy(doc_id).collect_list`.
    *
    * Why not collect_list: TypedImperativeAggregates plan through
    * ObjectHashAggregateExec, whose in-memory map holds up to
    * [[graft.GraftConf.ObjAggFallbackGroups]] (256k) group buffers PER
    * TASK before the sort fallback — a threshold tuned for the dedup
    * chain's ~12-byte df-capped bucket structs, not for per-document
    * fingerprint ARRAYS. At 100× chain amplification that regime sat
    * on the 8 GiB heap line (one ChainSoak attempt OOM'd in
    * Collect.serialize while its identical rerun passed — a
    * scheduling-dependent gate). MapGroups streams groups off the
    * sorted shuffle, so live memory per task is ONE document's list
    * regardless of the aggregate-fallback conf or slot count —
    * deterministic at any heap, here and on a real executor.
    *
    * The emitted array is sorted-distinct: [[graft.functions
    * .ScrubSpans64]] probes membership (order-insensitive), winnowing
    * re-selects the same gram at multiple positions, and dedup bounds
    * the array by the doc's DISTINCT stale grams.
    */
  private[operators] def staleFpLists(fps: DataFrame): DataFrame = {
    val session = fps.sparkSession
    import session.implicits._
    val first = fps.groupBy("fp").agg(min("doc_id").as("first_doc"))
    fps.join(first, "fp")
      .filter(col("first_doc") < col("doc_id"))
      .select(col("doc_id").cast("long").as("doc_id"),
        col("fp").cast("long").as("fp"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val a = it.map(_._2).toArray
        java.util.Arrays.sort(a)
        var n = 0
        var i = 0
        while (i < a.length) {
          if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
          i += 1
        }
        (id, java.util.Arrays.copyOf(a, n))
      }
      .toDF("doc_id", "stale_fps")
  }

  def spanScrub(docs: DataFrame, fps: DataFrame): DataFrame = {
    val stale = staleFpLists(fps)
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr(TextOps.normS).as("norm"))
      .join(stale, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), expr(
        "scrub_spans64(norm, coalesce(stale_fps, " +
          "cast(array() as array<bigint>)))").as("r"))
      .select(col("doc_id"),
        col("r.kept_chars").as("kept_chars"),
        col("r.n_scrubbed").as("scrubbed_spans"),
        md5(col("r.kept_text")).as("kept_digest"))
  }

  /** [[spanScrub]] preserving the document row itself — the variant a
    * chained curation pipeline consumes (the scrubbed documents flow
    * on to budget/mix/pack with lang and source intact, and `text` /
    * `n_chars` REPLACED by the scrubbed text and its length, so every
    * downstream stage meters post-scrub mass). Same scrub semantics
    * and plan shape: per-doc stale-fp lists attach by one keyed join,
    * then one codegen'd scrub_spans64 pass per document — null-text
    * docs drop (there is nothing to scrub or pack), first carriers
    * pass through byte-identical.
    */
  def spanScrubDocs(docs: DataFrame, fps: DataFrame): DataFrame = {
    val stale = staleFpLists(fps)
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"),
        expr(TextOps.normS).as("norm"))
      .join(stale, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("source"), expr(
        "scrub_spans64(norm, coalesce(stale_fps, " +
          "cast(array() as array<bigint>)))").as("r"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("r.kept_text").as("text"),
        col("r.kept_chars").cast("long").as("n_chars"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): score every raw document by how much
    * more probable its hashed n-gram features are under a TARGET
    * distribution (the curated/domain slice you want more of) than
    * under the RAW corpus distribution — the published recipe for
    * selecting pre-training data that matches a target domain.
    * Features are hashed bigrams: fid = (60-bit md5 of "a b") mod
    * `nBuckets` — the fixed-dimension hashed bag-of-ngrams DSIR uses,
    * portable across engines (md5-hex-prefix-to-int64 is the
    * winnow_fps64 contract). Both feature models are integer
    * micro-probabilities (the [[lmScore]] exactness contract):
    * p_micro(f) = floor(c(f)·10⁶ / total), and a document's weight is
    * the mean per-feature difference p_target − p_raw — the
    * transcendental-free surrogate of DSIR's log-likelihood-ratio
    * (monotone in each feature's ratio direction; no log/exp anywhere,
    * every intermediate BIGINT < 2⁵³, final averages exact-int IEEE
    * division — so any engine reproduces it bit-for-bit).
    *
    * Plan: bigrams come off the memoized [[docBigrams]] table (one
    * tokenize pass per session, shared with lmScore); the target
    * slice's doc ids BROADCAST (a curated target is benchmark-sized —
    * the spanDecontaminate precedent); both models reduce to
    * ≤ nBuckets rows and BROADCAST; scoring is the corpus streaming
    * once through two broadcast joins into one per-doc
    * hash-aggregate. No window and no shuffle ever spans the corpus —
    * the only corpus-sized exchange is docBigrams' one-time
    * repartition. Zero/one-token documents ride docBigrams'
    * null-pair row: n_feats = 0, sum_dw_micro = 0, avg null.
    *
    * Output: (doc_id, n_feats, sum_dw_micro, avg_dw_micro); resample
    * by thresholding avg_dw_micro or feeding it to
    * [[Pipeline.budgetSelect]]'s quality-ordered admission.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, nBuckets: Int,
      cacheKey: String = ""): DataFrame = {
    val feats = docBigrams(docs, cacheKey)
      .select(col("doc_id"),
        when(col("a").isNotNull,
          expr("cast(conv(substring(md5(concat(a, ' ', b)), 1, 15), " +
            "16, 10) as bigint)") % nBuckets).as("fid"))
    val tgtIds = docs.filter(isTarget).select("doc_id")
    val tFeats = feats.filter(col("fid").isNotNull)
      .join(broadcast(tgtIds), "doc_id")
    val pT = tFeats.groupBy("fid").agg(count(lit(1)).as("c_t"))
      .crossJoin(broadcast(tFeats.agg(count(lit(1)).as("t_t"))))
      .select(col("fid"),
        expr("cast(cast(c_t as decimal(38,0)) * 1000000 div t_t " +
          "as bigint)").as("pt_micro"))
    val rFeats = feats.filter(col("fid").isNotNull)
    val pR = rFeats.groupBy("fid").agg(count(lit(1)).as("c_r"))
      .crossJoin(broadcast(rFeats.agg(count(lit(1)).as("t_r"))))
      .select(col("fid"),
        expr("cast(cast(c_r as decimal(38,0)) * 1000000 div t_r " +
          "as bigint)").as("pr_micro"))
    feats
      .join(broadcast(pT), Seq("fid"), "left")
      .join(broadcast(pR), Seq("fid"), "left")
      .withColumn("dw", when(col("fid").isNotNull,
        coalesce(col("pt_micro"), lit(0L)) -
          coalesce(col("pr_micro"), lit(0L))))
      .groupBy("doc_id").agg(
        count(col("fid")).cast("int").as("n_feats"),
        coalesce(sum(col("dw")), lit(0L)).as("sum_dw_micro"))
      .withColumn("avg_dw_micro",
        when(col("n_feats") > 0,
          col("sum_dw_micro").cast("double") / col("n_feats")))
  }

  /** Per-source distinctive terms by exact integer-micro LIFT —
    * lift(t, s) = p(t | source s) / p(t) — the transcendental-free
    * surrogate of PMI (log lift) used for corpus analysis ("what is
    * source X actually about"): monotone in PMI per term, so top-k by
    * lift_micro is top-k by PMI, with every intermediate an exact
    * BIGINT (c_st·T·10⁶ < 2⁶³ for corpora up to ~10¹² tokens per
    * aggregate — rescale the micro factor beyond that) and the final
    * ranking bit-portable across engines (the lmScore contract).
    *
    * lift_micro = floor(c_st · T · 10⁶ / (c_t · T_s)) where c_st =
    * term count within the source, T_s = source token mass, c_t =
    * global term count, T = global mass. `minCount` guards the
    * small-sample blowup (a hapax unique to a source has unbounded
    * lift); ties break by term.
    *
    * Plan: one pass off the MEMOIZED docTerms table (shared with
    * tfidf_topk / token_freq / vocab_stats — one tokenize per session)
    * joined to the corpus' (doc_id, source) projection, then a
    * (source × term)-bounded aggregate; the global term model
    * re-aggregates THAT table (never the corpus), source masses and
    * the scalar total broadcast back, and the final window ranks the
    * filtered (source × term) table partitioned by source — every
    * post-corpus stage is vocabulary-sized, not corpus-sized.
    */
  def termLift(docs: DataFrame, minCount: Long, k: Int,
      cacheKey: String = ""): DataFrame = {
    // The (source × term) table is consumed FOUR times (itself + the
    // three derived models) — unpersisted, each consumer re-scans the
    // corpus-sized docTerms cache. Memoize the bounded table so the
    // corpus contributes exactly one pass (the docTerms pattern, one
    // level up).
    val st = Memo.memo("source_terms", docs.sparkSession, cacheKey,
      persistIt = true) {
      Pipeline.docTerms(docs, cacheKey)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "term")
        .agg(sum(col("tf")).as("c_st"))
    }
    val ts = st.groupBy("source").agg(sum(col("c_st")).as("t_s"))
    val tot = st.agg(sum(col("c_st")).as("t"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift_micro").desc, col("term"))
    // c_t as a window sum over the SAME term-keyed pass (r17): the
    // former `st.groupBy(term).agg` + equi-join shuffled the
    // vocabulary-sized st table by term twice (agg exchange + the
    // sort-merge join's probe-side exchange) and sorted both join
    // sides; one Window over partition-by-term computes the identical
    // BIGINT sum in a single term-keyed exchange. The window runs
    // over the UNFILTERED table — the global term model must count
    // sub-minCount sources, exactly like the old gt aggregate.
    st.withColumn("c_t",
        sum(col("c_st")).over(Window.partitionBy(col("term"))))
      .filter(col("c_st") >= minCount)
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(tot))
      // decimal(38,0), not Long: c_st·t·10⁶ overflows 2⁶³ at a few
      // billion tokens (ANSI throws; non-ANSI wraps the ranking into
      // garbage) — the mixWeights exact-decimal precedent.
      .withColumn("lift_micro",
        expr("cast(cast(c_st as decimal(38,0)) * t * 1000000 div " +
          "(cast(c_t as decimal(38,0)) * t_s) as bigint)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("source", "term", "c_st", "lift_micro", "rk")
  }

  /** (doc_id, a, b) adjacent-token pairs, memoized per session (the
    * docTerms pattern — corpus LM training and per-doc scoring both
    * consume it, one tokenize pass). Documents with < 2 tokens emit
    * exactly one (doc_id, null, null) row (explode_outer over an
    * empty pair array) so downstream per-doc aggregates see every
    * document; consumers counting bigrams must filter/count on
    * `a IS NOT NULL`.
    */
  def docBigrams(docs: DataFrame, cacheKey: String = ""): DataFrame =
    Memo.memo("bigrams", docs.sparkSession, cacheKey,
      persistIt = true) {
      val p = docs.sparkSession.sparkContext.defaultParallelism
      docs
        .repartition(p, col("doc_id"))
        .withColumn("toks", expr(TextOps.toksS))
        .withColumn("m", greatest(size(col("toks")) - 1, lit(0)))
        .withColumn("bi", expr(
          "zip_with(slice(toks, 1, m), slice(toks, 2, m), " +
            "(x, y) -> struct(x AS a, y AS b))"))
        .select(col("doc_id"), explode_outer(col("bi")).as("ab"))
        .select(col("doc_id"), col("ab.a").as("a"), col("ab.b").as("b"))
    }

  /** Top-k most-duplicated spans — the "what boilerplate infests this
    * corpus" report read before tuning a span-dedup threshold: the
    * winnowing fingerprints ([[docFps]]) occurring in the most
    * documents, with the lowest doc_id as an inspectable example.
    * Scale: one fp-keyed int64 aggregate (map-side partial) and a
    * TakeOrdered top-k — never a global sort; per-doc distinct
    * fingerprints bound the input like spanDupRate.
    */
  def topDupSpans(fps: DataFrame, k: Int): DataFrame =
    fps.groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("fp"))
      .limit(k)

  /** Cross-source verbatim-overlap matrix — which sources carry
    * identical content under `keyExpr` (mirror detection, the input to
    * a source-level dedup order): per content digest, the distinct
    * sources holding it, paired. Callers pick the digest granularity —
    * dedup_content's full md5(norm) for byte mirrors, its 60-char
    * normalized prefix for shared boilerplate. Scale: the corpus
    * collapses to DISTINCT (digest, source) rows first (≤ n_sources
    * per digest), so the digest-keyed self-join expands at most
    * sources² per digest — the bounded pair-expansion contract from
    * the LSH bucket join; the result is sources²-sized. `src_a <
    * src_b` keeps one deterministic orientation per pair.
    */
  def sourceOverlap(docs: DataFrame,
      keyExpr: String = s"md5(${TextOps.normS})"): DataFrame =
    sourceOverlapPairs(
      docs.select(expr(keyExpr).as("h"), col("source")))

  /** [[sourceOverlap]] over a pre-built (h, source) digest frame —
    * callers comparing several digest granularities feed slices of
    * ONE [[sourceDigests]] pass instead of re-normalizing the corpus
    * per key kind.
    */
  def sourceOverlapPairs(hs0: DataFrame): DataFrame = {
    val hs = hs0.distinct()
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Memoized (hf, hp, source) digest table — norm_text (the
    * CPU-dominant stage) runs ONCE per row for both source_overlap
    * key kinds (full md5(norm) and the 60-char-prefix boilerplate
    * digest; two plan branches off an unpersisted projection would
    * each re-normalize the corpus — ReuseExchange can't collapse
    * them, the docTerms rationale).
    */
  def sourceDigests(docs: DataFrame, cacheKey: String = ""): DataFrame =
    Memo.memo("src_digests", docs.sparkSession, cacheKey,
      persistIt = true) {
      docs.select(expr(TextOps.normS).as("norm"), col("source"))
        .select(expr("md5(norm)").as("hf"),
          expr("md5(substring(norm, 1, 60))").as("hp"),
          col("source"))
    }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3 —
    * head/middle/tail sharding by LM score) over the integer bigram-LM
    * of [[lmScore]], with the per-bucket mass report a data-mixing run
    * consumes: document count, character mass, bigram mass, and total
    * score micros per bucket.
    *
    * Bucket rule in EXACT integer arithmetic — `avg_pmicro ≥ T` is
    * evaluated as `sum_pmicro ≥ n_bigrams · T` so no engine divides:
    * head when mean transition probability ≥ `headMin` micros, middle
    * when ≥ `midMin`, else tail (bigram-less docs are tail — an LM has
    * no opinion on them, and CCNet routes unknown to the worst shard).
    *
    * Scale shape: [[lmScore]]'s bounded model joins (the corpus
    * streams once), a doc-spine join for `n_chars`, and a ≤3-row
    * aggregate. The thresholds are config, not quantiles: a global
    * exact quantile would be a single-partition sort at corpus scale —
    * production CCNet fixes thresholds from a held-out sample, which
    * is what the defaults encode.
    */
  def pplBuckets(docs: DataFrame, headMin: Long, midMin: Long,
      topV: Int, cacheKey: String = ""): DataFrame = {
    require(headMin >= midMin,
      s"head threshold $headMin must be >= middle threshold $midMin")
    lmScore(docs, topV, cacheKey)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("bucket",
        when(col("n_bigrams") === 0, lit("tail"))
          .when(col("sum_pmicro") >= col("n_bigrams") * lit(headMin),
            lit("head"))
          .when(col("sum_pmicro") >= col("n_bigrams") * lit(midMin),
            lit("middle"))
          .otherwise(lit("tail")))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_bigrams").cast("long")).as("sum_bigrams"),
        sum(col("sum_pmicro")).as("sum_pmicro_total"))
  }

  /** Per-source distinct-term estimates via DataSketches HLL
    * (`hll_sketch_agg`), with the GLOBAL row derived by MERGING the
    * per-source sketches (`hll_union_agg`) rather than re-scanning the
    * corpus — the sketch property that matters at 100 TB: per-epoch /
    * per-source sketches are tiny (≤ 2^lgK registers), persist
    * alongside the stats store, and any rollup (global, per-month,
    * per-source-group) is a union over sketches, never a second corpus
    * pass. Exact COUNT(DISTINCT) by contrast plans an Expand or a
    * distinct shuffle per rollup level, each corpus-sized.
    *
    * Output: one row per source plus the `__all__` merged row, columns
    * (source, distinct_terms). The estimate is DETERMINISTIC
    * (DataSketches' hash is seed-fixed), and EXACT while a sketch is
    * still in coupon-list mode — the regime the oracle exercises; the
    * error bound at real vocab cardinality (~1.6% rsd at lgK=12) is
    * gated by SketchSpec, not the oracle.
    *
    * Plan: terms is the memoized docTerms table (one tokenize pass per
    * session, shared with tfidf/bm25/vocab); the per-source aggregate
    * is sources-sized, and the self-union's second consumer reuses the
    * same exchange (ReusedExchange — SketchSpec pins it), so the
    * corpus-sized input is scanned and shuffled ONCE.
    */
  /** Count–min-sketch document frequencies: one distributed pass over
    * the memoized docTerms table builds a fixed-size sketch (width
    * ⌈2/eps⌉ × depth ⌈ln(1/(1−confidence))⌉ counters — KBs, held
    * driver-side exactly like an IVF codebook), then the BOUNDED
    * candidate list (vocab-scale, `df >= minDf`) is point-queried
    * against it. The sketch is the mergeable/streaming half of the
    * term-stats story: per-shard sketches merge counter-wise
    * (SketchSpec pins merge ≡ single-pass), so a 1000-executor build
    * or a per-epoch incremental fold needs no term-keyed shuffle at
    * all — only the candidate enumeration touches exact counts.
    * Estimates are DETERMINISTIC (caller-fixed seed) and
    * overestimate-only (CMS guarantee, also spec-pinned); at
    * real-vocab width the fixture regime is collision-free, which is
    * what lets `cms_df`'s oracle compare against EXACT df.
    *
    * Driver-side note: the sketch build and the per-candidate
    * estimates are deliberate driver work over BOUNDED inputs (sketch
    * bytes + vocab-sized candidates) — the codebook-loop pattern, not
    * a corpus collect.
    */
  def cmsDocFreq(docs: DataFrame, minDf: Long = 1L, eps: Double = 1e-4,
      confidence: Double = 0.99, seed: Int = 17,
      cacheKey: String = ""): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = Pipeline.docTerms(docs, cacheKey)
    val sketch = terms.stat.countMinSketch("term", eps, confidence, seed)
    // The candidate enumeration and the point-queries both stay
    // DISTRIBUTED: the KB-sized sketch broadcasts and each partition
    // estimates its own candidate slice — the driver never
    // materializes the vocabulary (at crawl scale it is 100M+ terms;
    // only the sketch itself is driver-held, the codebook pattern).
    // Broadcast lifecycle: the returned frame is lazy, so an eager
    // destroy here would break it; the KB-sized broadcast is left to
    // ContextCleaner's weak-reference GC, the same policy as Spark's
    // own broadcast joins.
    val skB = spark.sparkContext.broadcast(sketch)
    terms.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("term").cast("string"))
      .as[String]
      .mapPartitions(it => it.map(t => (t, skB.value.estimateCount(t))))
      .toDF("term", "est_df")
  }

  def hllDistinctTerms(docs: DataFrame, lgK: Int = 12,
      cacheKey: String = ""): DataFrame = {
    val bySrc = Pipeline.docTerms(docs, cacheKey)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(expr(s"hll_sketch_agg(term, $lgK)").as("sk"))
    bySrc
      .select(col("source"),
        expr("hll_sketch_estimate(sk)").as("distinct_terms"))
      .unionByName(bySrc.agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("distinct_terms"))
        .select(lit("__all__").as("source"), col("distinct_terms")))
  }
}
