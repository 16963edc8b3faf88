package graft.operators

/** Shared text-pipeline building blocks, expressed twice: as Spark SQL
  * expression strings (codegen'd higher-order functions — no UDFs) and as
  * the mirrored DuckDB SQL for the oracle. Keeping both in one place
  * guarantees the two engines compute the same definition.
  *
  * Normalization: lowercase → strip non-[a-z0-9 ] → collapse runs of
  * spaces → trim. Tokens: split on single space, drop empties.
  * Shingles: distinct 3-word n-grams.
  */
object TextOps {

  // ---- Spark SQL expression fragments (input column: text) ----

  /** Regex/HOF formulations — the definitional baseline. The declared
    * queries use the native single-pass expressions below instead
    * (graft.functions.NormText/NormTokens, installed by GraftConf.tune);
    * TextOpsSpec asserts the two formulations are equal on the corpus
    * and on adversarial inputs, so swapping was output-neutral.
    */
  val normHofS: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), " +
      "' +', ' '))"

  val toksHofS: String = s"filter(split($normHofS, ' '), x -> x != '')"

  val normS: String = "norm_text(text)"

  val toksS: String = "norm_tokens(text)"

  // (The string-shingle HOF formulation that predated hashed shingles
  // was removed with the int64 migration — Shingles3 is the only
  // shingle producer; ShinglesSpec's baseline is shinglesHashHofS.
  // IMPORTANT eval-cost shape for any future HOF fragment: reference
  // arrays as attributes from zip_with DATA arguments only — Spark
  // HOFs are interpreted, and an expression referenced per-element
  // re-evaluates its whole subtree per element.)

  /** Spark HOF formulation of the portable per-token hash (SimHash63
    * .tokenHash / Shingles3's token stage) — the definitional baseline
    * ShinglesSpec checks the native expression against.
    */
  def tokenHashHofS(t: String): String =
    s"aggregate(split($t, ''), CAST(0 AS BIGINT), " +
      s"(a, c) -> (a * 31 + ascii(c)) % 1000000007)"

  /** Spark HOF formulation of Shingles3's hashed window combine over a
    * MATERIALIZED per-token-hash column `th` (attribute, not inlined —
    * see shinglesS's eval-cost note): two 30-bit polynomial forms per
    * window packed as hi·2^30 + lo. Spec-only baseline; declared
    * queries use the native single-pass Shingles3.
    */
  def shinglesHashHofS(th: String): String = {
    val m = s"greatest(size($th) - 2, 0)"
    def form(mult: Int): String =
      s"zip_with(zip_with(slice($th, 1, $m), slice($th, 2, $m), " +
        s"(a, b) -> (a * $mult + b) % 1000000007), slice($th, 3, $m), " +
        s"(ab, c) -> (ab * $mult + c) % 1000000007)"
    s"array_distinct(zip_with(${form(31)}, ${form(37)}, " +
      s"(l, h) -> h * 1073741824L + l))"
  }

  // ---- DuckDB oracle fragments (input column: text) ----

  val normD: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', " +
      "'g'), ' +', ' ', 'g'))"

  val toksD: String =
    s"list_filter(string_split($normD, ' '), x -> x != '')"

  /** DuckDB mirror of the portable per-token hash shared by
    * graft.functions.SimHash63.tokenHash and Shingles3: left fold
    * (a*31 + codePoint) mod 1e9+7. `string_split(t, '')` yields one
    * element per code point and `ascii(c)` returns it.
    */
  def tokenHashD(t: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($t, ''), " +
      s"c -> CAST(ascii(c) AS BIGINT))), (a, c) -> (a * 31 + c) " +
      s"% 1000000007)"

  /** DuckDB mirror of Shingles3's window combine over a per-token hash
    * list `th`: two 30-bit polynomial forms packed as hi·2^30 + lo (see
    * Shingles3 for the injectivity/overflow argument — every
    * intermediate fits BIGINT, which DuckDB checks like ANSI Spark).
    */
  def shinglesHashD(th: String): String =
    s"list_distinct(list_transform(" +
      s"range(1, greatest(len($th) - 2, 0) + 1), i -> " +
      s"(((($th[i] * 37 + $th[i + 1]) % 1000000007) * 37 + $th[i + 2]) " +
      s"% 1000000007) * 1073741824 + " +
      s"(((($th[i] * 31 + $th[i + 1]) % 1000000007) * 31 + $th[i + 2]) " +
      s"% 1000000007)))"

  /** DuckDB CTE producing (doc_id, sh) with non-empty HASHED shingle
    * sets — the mirror of DedupQueries' Spark-side doc→shingles stage
    * (Dedup.docShingles over the int64-emitting Shingles3 expression).
    */
  val docShinglesCteD: String =
    s"""d AS (
       |  SELECT doc_id, ${shinglesHashD("th")} AS sh
       |  FROM (SELECT doc_id,
       |          list_transform($toksD, t -> ${tokenHashD("t")}) AS th
       |        FROM documents)
       |  WHERE len(th) >= 3
       |)""".stripMargin

  /** DuckDB CTE producing (doc_id, fp) winnowing-selected span
    * fingerprints — the mirror of Corpus.docFps over the native
    * WinnowFps64 expression (md5 char 8-grams, min per window of 4,
    * distinct, truncated to the first 15 hex chars as a 60-bit
    * BIGINT; WinnowFpsSpec pins the Spark side to this exact
    * formulation, tie cases included — see WinnowFps64's parity
    * contract).
    */
  def spanFpsCte(table: String, pfx: String = ""): String =
    s"""${pfx}e AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(fph, 1, 15)) AS BIGINT) AS fp
       |  FROM (
       |  SELECT doc_id, unnest(fps) AS fph FROM (
       |    SELECT doc_id, list_distinct(
       |      CASE WHEN len(grams) >= 4 THEN
       |        list_transform(range(1, len(grams) - 2),
       |          j -> list_min(grams[j:j+3]))
       |      ELSE [list_min(grams)] END) AS fps
       |    FROM (
       |      SELECT doc_id,
       |        CASE WHEN length(norm) >= 8 THEN
       |          list_transform(range(1, length(norm) - 6),
       |            i -> md5(substring(norm, i, 8)))
       |        ELSE [md5(norm)] END AS grams
       |      FROM (SELECT doc_id, $normD AS norm
       |            FROM $table))))
       |)""".stripMargin

  val spanFpsCteD: String = spanFpsCte("documents")

  // ---- Stopword lists for language-ID / quality heuristics ----

  val stopEn = Seq("the", "a", "and", "of", "to", "in", "is", "on", "for",
    "with")
  val stopDe = Seq("der", "die", "das", "und", "ist", "von", "mit", "ein",
    "zu", "den")
  val stopEs = Seq("el", "la", "que", "y", "en", "un", "es", "se", "no",
    "los")
  val stopFr = Seq("le", "les", "et", "une", "est", "pour", "dans", "au",
    "du", "par")

  /** The language-ID predictor, ONE definition for all four call
    * sites (lang_id + lang_confusion, Spark side and oracle side):
    * the CASE chain is engine-neutral SQL and is shared VERBATIM, so
    * the confusion matrix provably grades the exact predictor lang_id
    * ships; only the stopword-hit counters differ per engine.
    */
  val predLangCase: String =
    """CASE WHEN n_en = 0 AND n_de = 0 AND n_es = 0 AND n_fr = 0
      |       THEN 'und'
      |     WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr
      |       THEN 'en'
      |     WHEN n_de >= n_es AND n_de >= n_fr THEN 'de'
      |     WHEN n_es >= n_fr THEN 'es'
      |     ELSE 'fr' END""".stripMargin

  /** Per-language stopword-hit counter over a bound `toks` attribute —
    * Spark form. */
  def langHitsS(ws: Seq[String]): String =
    s"size(filter(toks, x -> array_contains(${arrS(ws)}, x)))"

  /** [[langHitsS]]'s DuckDB mirror. */
  def langHitsD(ws: Seq[String]): String =
    s"len(list_filter(toks, x -> list_contains(${arrD(ws)}, x)))"

  def arrS(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("array(", ", ", ")")

  def arrD(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")
}
