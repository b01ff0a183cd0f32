package graft.operators

import graft.queries.RelationalQueries.Q
import graft.queries.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star, BASELINE.json): token counting, quality scoring, language
  * ID, document fingerprinting — all per-document narrow transforms (no
  * shuffle except the final presentation sort), so they scale linearly with
  * input splits at 100 TB.
  *
  * Cross-engine determinism: every score is arithmetic on exact integer
  * counts (or ratios thereof) — no transcendentals, no order-dependent
  * float aggregation (see [[Tables]] rules).
  */
object TextAnalysis {

  /** The six function words every stopword-based signal shares (lang-id,
    * quality score, curation gates, cluster profiles) — ONE Spark-side
    * source; `StopwordsSqlSpec`-style consistency is enforced by
    * [[graft.queries]]' OracleConsistencySpec pinning the SQL fragment
    * [[StopwordsSql]] into every consumer's oracle.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "is")

  /** The exact `IN (...)` fragment every consumer's DuckDB oracle must
    * contain, derived from [[Stopwords]].
    */
  val StopwordsSql: String = Stopwords.map(w => s"'$w'").mkString(",")

  /** `lower → trim → collapse whitespace` — the shared normal form. */
  private val normSpark = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
  private val normDuck = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  val tokenCount: Q = Q(
    "ta_token_count",
    (s, d) => {
      import s.implicits._
      // range-spread off the 1-task scan (same story as
      // ta_quality_score: the regex work parallelizes on the sort
      // exchange the query pays anyway)
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          size(split(trim($"text"), "\\s+")).cast(LongType).as("n_tokens"),
          // BPE-ish pre-tokenization: word runs + single punctuation marks
          size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
            .cast(LongType).as("n_tokens_bpe"),
          length($"text").cast(LongType).as("n_chars_obs"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens_bpe,
      CAST(length(text) AS BIGINT) AS n_chars_obs
      FROM documents ORDER BY doc_id"""))

  /** Quality score: linear combination of exact counts — stopword ratio,
    * mean token length, document length. (A real pipeline would tune the
    * weights; the operator shape — cheap per-doc features combined into one
    * scalar used for corpus filtering — is the point.)
    */
  val qualityScore: Q = Q(
    "ta_quality_score",
    (s, d) => {
      import s.implicits._
      // Range-spread on the sort key before the regex/split work: the
      // single-file scan otherwise evaluates BOTH the range-sampling pass
      // and the real pass on one core (profiled: 2 × ~0.17 s serial).
      // With the exchange first, sampling reads only (doc_id, text) and
      // the tokenization runs post-exchange on all cores; the final
      // orderBy is satisfied by the partitioning (local sort only).
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id", split(trim($"text"), "\\s+").as("w"),
          length(regexp_replace($"text", "\\s+", "")).cast(LongType).as("n_letters"))
        .select($"doc_id",
          size($"w").cast(LongType).as("n_tokens"),
          size(filter($"w", t => t.isin(TextAnalysis.Stopwords: _*)))
            .cast(LongType).as("n_stop"),
          $"n_letters")
        .select($"doc_id", $"n_tokens", $"n_stop",
          (($"n_stop".cast(DoubleType) / $"n_tokens") * 0.4 +
            ($"n_letters".cast(DoubleType) / $"n_tokens") * 0.01 +
            $"n_tokens".cast(DoubleType) * 0.0001).as("quality"))
        .orderBy($"doc_id")
    },
    Some("""WITH f AS (
      SELECT doc_id,
        string_split_regex(trim(text), '\s+') AS w,
        CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_letters
      FROM documents)
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS BIGINT) AS n_stop,
        (CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS DOUBLE) / len(w)) * 0.4
          + (CAST(n_letters AS DOUBLE) / len(w)) * 0.01
          + CAST(len(w) AS DOUBLE) * 0.0001 AS quality
      FROM f ORDER BY doc_id"""))

  /** Language ID via stopword-hit-ratio heuristic (n-gram-free variant:
    * the corpus vocabulary is synthetic, so function-word evidence is the
    * only signal; the operator shape matches a real n-gram classifier —
    * per-doc token scan, no shuffle).
    */
  val langId: Q = Q(
    "ta_lang_id",
    (s, d) => {
      import s.implicits._
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id", $"lang", lower(trim($"text")).as("trimmed"))
        .select($"doc_id", $"lang", $"trimmed",
          split($"trimmed", "\\s+").as("w"))
        .select($"doc_id", $"lang", $"trimmed",
          size($"w").cast(LongType).as("n_tokens"),
          size(filter($"w", t => t.isin(TextAnalysis.Stopwords: _*)))
            .cast(LongType).as("n_stop"))
        // empty test on the trimmed TEXT, not n_tokens: split of an
        // empty string returns [""], so n_tokens is never 0 and a
        // token-count guard would leave the documented 'empty' category
        // dead (whitespace-only docs mislabeled 'unknown')
        .select($"doc_id", $"lang",
          when($"trimmed" === "", "empty")
            .when($"n_stop".cast(DoubleType) / $"n_tokens" >= 0.05, "en")
            .otherwise("unknown").as("lang_pred"))
        .orderBy($"doc_id")
    },
    Some("""WITH f AS (
      SELECT doc_id, lang, lower(trim(text)) AS trimmed,
        CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t IN ('the','a','of','to','and','is'))) AS BIGINT) AS n_stop
      FROM documents)
      SELECT doc_id, lang,
        CASE WHEN trimmed = '' THEN 'empty'
             WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05 THEN 'en'
             ELSE 'unknown' END AS lang_pred
      FROM f ORDER BY doc_id"""))

  /** Content fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the exact-dedup key (a content-defined fingerprint; the
    * rolling-hash variant lives in [[graft.functions.RollingHash]]).
    */
  val fingerprint: Q = Q(
    "ta_fingerprint",
    (s, d) => {
      import s.implicits._
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id", md5(expr(normSpark)).as("fp"))
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id, md5($normDuck) AS fp
      FROM documents ORDER BY doc_id"""))

  /** Rolling-hash fingerprint via the codegen'd
    * [[graft.functions.RollingHash]] expression — the incremental variant
    * (Rabin-Karp family) of [[fingerprint]]. The oracle replays the exact
    * recurrence h = (h·257 + byte) mod 2⁶¹−1 in DuckDB — HUGEINT (int128)
    * carries the 70-bit intermediate product, and for this ASCII corpus
    * `unicode(char)` equals the UTF-8 byte the Spark expression consumes.
    * Determinism and collision behavior are additionally covered in
    * NorthStarSpec.
    */
  val rollingFingerprint: Q = Q(
    "ta_rolling_fingerprint",
    (s, d) => {
      import graft.functions.RollingHash.rolling_hash
      import s.implicits._
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id", rolling_hash(expr(normSpark)).as("rfp"))
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id,
      CAST(list_reduce(
        list_prepend(CAST(0 AS HUGEINT),
          [CAST(unicode(t[i]) AS HUGEINT) for i in range(1, length(t)+1)]),
        (acc, x) -> (acc * 257 + x) % CAST(2305843009213693951 AS HUGEINT)
      ) AS BIGINT) AS rfp
      FROM (SELECT doc_id, $normDuck AS t FROM documents)
      ORDER BY doc_id"""))

  /** Corpus-trained bigram language-model score per document — the shape of
    * perplexity-based quality filtering: train n-gram statistics on the
    * corpus (two count aggregations), score each document by its average
    * conditional bigram probability. The model is one row per DISTINCT
    * corpus bigram — unbounded at 100 TB (billions of rows) — so the
    * scoring join carries NO broadcast hint: the scale-safe plan is a
    * shuffle join on `bg`, and AQE still picks a broadcast at runtime
    * whenever the model measures small (as it does at test SF). A forced
    * `broadcast()` here would be a guaranteed OOM at corpus vocabulary
    * scale. The count aggregations both combine map-side. Probabilities are
    * ratios of exact counts, fixed-pointed as floor(p·10¹⁴) BIGINTs before
    * summation, so the score is order-independent and cross-engine exact
    * (no logarithms — avg probability ranks documents the same way at
    * equal length without trusting libm to round ln identically; and no
    * double→DECIMAL casts, whose Spark path rounds the SHORTEST string
    * repr of the double while DuckDB rounds its full binary expansion —
    * measured to disagree on 41/500 docs).
    */
  /** The model-train + scoring pipeline over an exploded (doc_id, bg)
    * bigram frame — the production shape, extracted so the planted-skew
    * study measured the exact plan the query runs. The
    * `bg ⋈ model` join is Zipf-keyed (hot bigrams concentrate); with the
    * model too large to broadcast (the 100 TB case) the shuffle join's
    * hot partitions are what AQE's skew-join splitting exists for —
    * SCALE.md §"Round-11 planted-skew study" carries the measurement.
    */
  private[graft] def bigramLmScore(bg: DataFrame): DataFrame = {
    val s = bg.sparkSession
    import s.implicits._
    val c2 = bg.groupBy($"bg").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(split($"bg", " ").getItem(0).as("w1"))
      .agg(count(lit(1)).as("c1"))
    val model = c2.join(c1, split($"bg", " ").getItem(0) === $"w1")
      .select($"bg", floor(($"c2".cast(DoubleType) / $"c1") * 1e14)
        .cast(LongType).as("p14"))
    bg.join(model, "bg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"p14").as("sp"))
      .select($"doc_id", $"n_bigrams",
        ($"sp".cast(DoubleType) / $"n_bigrams" / 1e14).as("avg_cond_p"))
  }

  /** Exploded bigram frame for a (doc_id, text) corpus, normalized the
    * query's way.
    */
  private[graft] def bigramFrame(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", split(expr(normSpark), " ").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
        .as("bg"))
  }

  val bigramLm: Q = Q(
    "ta_bigram_lm",
    (s, d) => {
      import s.implicits._
      val bg = bigramFrame(Tables.spread(Tables.documents(s, d), "doc_id"))
        .cache()
      bigramLmScore(bg).orderBy($"doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split($normDuck, ' ') AS w FROM documents),
      bg AS (SELECT doc_id, unnest([ w[i] || ' ' || w[i+1] for i in range(1, len(w)) ]) AS bg
             FROM w WHERE len(w) >= 2),
      c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
      c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
      model AS (SELECT c2.bg,
                  CAST(floor((CAST(c2.c2 AS DOUBLE) / c1.c1) * 1e14) AS BIGINT) AS p14
                FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1)
      SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum(p14) AS DOUBLE) / count(*) / 1e14 AS avg_cond_p
      FROM bg JOIN model ON bg.bg = model.bg
      GROUP BY bg.doc_id ORDER BY doc_id"""))

  /** Deny-list scrubbing — the PII-redaction shape (emails, phone numbers,
    * IDs are regex deny-lists in production; this corpus carries none, so
    * two corpus words stand in for the pattern). Counts hits and reports
    * the post-redaction length per document; a narrow per-row transform
    * with zero shuffle beyond the presentation sort. The oracle proves
    * Java-regex and RE2 agree on the word-boundary pattern — the parity
    * that makes a deny-list portable across engines.
    */
  val denylistScrub: Q = Q(
    "ta_denylist_scrub",
    (s, d) => {
      import s.implicits._
      val pat = "\\\\b(customer|value)\\\\b"
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          expr(s"regexp_count(text, '$pat')").cast(LongType).as("n_hits"),
          length(expr(s"regexp_replace(text, '$pat', '[TERM]')"))
            .cast(LongType).as("scrubbed_len"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      CAST(len(regexp_extract_all(text, '\b(customer|value)\b')) AS BIGINT) AS n_hits,
      CAST(length(regexp_replace(text, '\b(customer|value)\b', '[TERM]', 'g')) AS BIGINT) AS scrubbed_len
      FROM documents ORDER BY doc_id"""))

  /** Structured PII detection + redaction — the real-pattern complement
    * to [[denylistScrub]]'s word deny-list: email and IPv4 regexes over
    * each document, counting hits and reporting the redacted length. The
    * synthetic corpus carries no PII, so each document is AUGMENTED with
    * deterministic doc_id-derived contact lines in BOTH engines — the
    * counts are then non-trivial (≥1 email + 1 IP per doc) and the
    * oracle proves Java-regex and RE2 agree on the character-class +
    * bounded-repetition patterns production PII scans use. Narrow
    * per-row transform, zero shuffle beyond the presentation sort; at
    * 100 TB this is a pure map over the scan.
    */
  /** The PII patterns and the redaction transform, shared by the batch
    * `ta_pii_scan` entry and the streaming scrub-before-admit ingestion
    * ([[graft.streaming.StreamingDedupPipeline.scrubPii]]) — one
    * definition, so the stream can be proven equal to the batch scan.
    */
  private[graft] val EmailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val IpPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails and IPv4 addresses in `c` — a pure narrow map (two
    * codegen'd regexp_replace passes), zero shuffle at any scale.
    */
  def piiRedact(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, lit(EmailPat), lit("<EMAIL>")),
      lit(IpPat), lit("<IP>"))

  val piiScan: Q = Q(
    "ta_pii_scan",
    (s, d) => {
      import s.implicits._
      val aug = concat($"text", lit(" contact user"), $"doc_id",
        lit("@mail"), $"doc_id" % 7, lit(".example.com from 10."),
        $"doc_id" % 256, lit(".0."), $"doc_id" % 100,
        // every third doc carries a second address, so the counts VARY
        // and a miscounting engine can't pass on constants
        when($"doc_id" % 3 === 0, lit(" cc admin@corp.io")).otherwise(lit("")))
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          regexp_count(aug, lit(EmailPat)).cast(LongType).as("n_emails"),
          regexp_count(aug, lit(IpPat)).cast(LongType).as("n_ips"),
          length(piiRedact(aug)).cast(LongType).as("redacted_len"))
        .orderBy($"doc_id")
    },
    Some("""WITH aug AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||
        '.example.com from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
        || (CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END)
          AS t
      FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
          AS n_emails,
        CAST(len(regexp_extract_all(t,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        CAST(length(regexp_replace(regexp_replace(t,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS BIGINT)
          AS redacted_len
      FROM aug ORDER BY doc_id"""))

  /** Corpus-level vocabulary statistics: the top-20 word bigrams by
    * document frequency — the n-gram-counting building block of tokenizer
    * training and contamination checks. Explode is a per-row flatMap; the
    * only shuffle is the count groupBy (map-side combined), and the top-k
    * is a TakeOrderedAndProject, not a full sort. Ties inside the cutoff
    * are broken by the gram text, making the LIMIT deterministic.
    */
  val topBigrams: Q = Q(
    "ta_top_bigrams",
    (s, d) => {
      import s.implicits._
      Tables.spread(Tables.documents(s, d), "doc_id")
        .select($"doc_id", split(expr(normSpark), " ").as("w"))
        .filter(size($"w") >= 2)
        .select(explode(expr(
          "array_distinct(transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1])))"))
          .as("bigram"))
        .groupBy($"bigram")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"n_docs".desc, $"bigram")
        .limit(20)
    },
    Some(s"""SELECT bigram, count(*) AS n_docs FROM (
        SELECT doc_id, unnest(list_distinct(
          [ w[i] || ' ' || w[i+1] for i in range(1, len(w)) ])) AS bigram
        FROM (SELECT doc_id, string_split($normDuck, ' ') AS w FROM documents)
        WHERE len(w) >= 2)
      GROUP BY bigram ORDER BY n_docs DESC, bigram LIMIT 20"""))

  /** Corpus length profile: document counts and bounds per 100-char
    * bucket — the distribution snapshot a curation pass is tuned against
    * (truncation thresholds, length filters). Exact integer bucketing
    * (floor division on a non-negative length); one map-side-combined
    * groupBy over a handful of buckets.
    */
  val lengthHistogram: Q = Q(
    "ta_length_histogram",
    (s, d) => {
      import s.implicits._
      Tables.spread(Tables.documents(s, d), "doc_id")
        .groupBy(expr("length(text) div 100").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(length($"text").cast(LongType)).as("min_chars"),
          max(length($"text").cast(LongType)).as("max_chars"))
        .orderBy($"bucket")
    },
    Some("""SELECT CAST(length(text) // 100 AS BIGINT) AS bucket,
      count(*) AS n_docs,
      CAST(min(length(text)) AS BIGINT) AS min_chars,
      CAST(max(length(text)) AS BIGINT) AS max_chars
      FROM documents GROUP BY 1 ORDER BY bucket"""))

  /** Tokenizer vocabulary build: the top-500 tokens by corpus frequency,
    * assigned contiguous ids. Two stages, both distributed: a map-side-
    * combined token count (explode + groupBy), then a distributed top-k
    * (TakeOrderedAndProject — no global sort); only the surviving 500 rows
    * see the id-assigning window, so the single-partition window is over a
    * constant-size set regardless of corpus size. Ties broken by token
    * text, making both the cutoff and the ids deterministic.
    */
  val vocab: Q = Q(
    "ta_vocab",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val top = Tables.spread(Tables.documents(s, d), "doc_id")
        .select(explode(split(expr(normSpark), " ")).as("token"))
        .filter($"token" =!= "")
        .groupBy($"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token")
        .limit(500)
      top.select($"token", $"n",
          (row_number().over(Window.orderBy($"n".desc, $"token")) - 1)
            .cast(LongType).as("token_id"))
        .orderBy($"token_id")
    },
    Some(s"""WITH c AS (
        SELECT token, count(*) AS n FROM (
          SELECT unnest(string_split($normDuck, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 500)
      SELECT token, n,
        CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id
      FROM c ORDER BY token_id"""))

  /** Repetition-based quality signals (the Gopher-style filters): fraction
    * of tokens taken by the single most frequent word, and the
    * distinct-token ratio. Computed in the scale-right shape — explode,
    * count per (doc, word), re-aggregate per doc — two map-side-combined
    * shuffles on keys that grow with the corpus, never a per-doc quadratic
    * scan. All ratios are exact-integer divisions done identically on both
    * engines.
    */
  val repetition: Q = Q(
    "ta_repetition",
    (s, d) => {
      import s.implicits._
      Tables.spread(Tables.documents(s, d), "doc_id")
        .select($"doc_id", explode(split(expr(normSpark), " ")).as("token"))
        .filter($"token" =!= "")
        .groupBy($"doc_id", $"token")
        .agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_tokens"),
          max($"c").as("top_count"),
          count(lit(1)).as("n_distinct"))
        .select($"doc_id", $"n_tokens", $"top_count", $"n_distinct",
          ($"top_count".cast(DoubleType) / $"n_tokens").as("top_word_frac"),
          ($"n_distinct".cast(DoubleType) / $"n_tokens").as("distinct_ratio"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH w AS (
        SELECT doc_id, token, count(*) AS c FROM (
          SELECT doc_id, unnest(string_split($normDuck, ' ')) AS token
          FROM documents)
        WHERE token <> '' GROUP BY doc_id, token),
      a AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          CAST(max(c) AS BIGINT) AS top_count,
          count(*) AS n_distinct
        FROM w GROUP BY doc_id)
      SELECT doc_id, n_tokens, top_count, n_distinct,
        CAST(top_count AS DOUBLE) / n_tokens AS top_word_frac,
        CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio
      FROM a ORDER BY doc_id"""))

  /** Per-document top-3 salient terms by tf·idf. The idf here is the
    * *linear* inverse document frequency `N/df` rather than `ln(N/df)`:
    * `ln` is not guaranteed correctly-rounded (Java Math.log vs libm may
    * differ in the last ulp), while `tf * N / df` is a pure
    * correctly-rounded IEEE chain — bit-identical across engines. The
    * shape is the real one: doc-frequency join against per-doc term
    * counts, window top-k per doc.
    */
  val tfidf: Q = Q(
    "ta_tfidf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val docs = Tables.spread(Tables.documents(s, d), "doc_id")
      // one row per (doc, token) with its in-doc count; df comes from a
      // map-side-combined aggregate + equi-join, NOT a window over the
      // token partition: a hot token (stopwords hit nearly every doc)
      // would funnel every one of its rows into a single window task,
      // while groupBy(token).count() partial-aggregates before the
      // shuffle and the join back is skew-handled by AQE. perDoc is
      // cached so df reuses it instead of re-exploding the corpus.
      val perDoc = docs
        .select($"doc_id", explode(split(expr(normSpark), " ")).as("token"))
        .filter($"token" =!= "")
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
        .cache()
      val dfTab = perDoc.groupBy($"token").agg(count(lit(1)).as("df"))
      val withDf = perDoc.join(dfTab, "token")
      val nDocs = docs.agg(countDistinct($"doc_id").as("n_docs"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"score".desc, $"token")
      withDf
        .crossJoin(broadcast(nDocs)) // 1-row scalar, no driver collect
        .select($"doc_id", $"token", $"tf", $"df",
          ($"tf".cast(DoubleType) * $"n_docs" / $"df").as("score"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank".cast(LongType).as("rank"), $"token",
          $"tf", $"df", $"score")
        .orderBy($"doc_id", $"rank")
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, unnest(string_split($normDuck, ' ')) AS token
        FROM documents),
      tf AS (
        SELECT doc_id, token, count(*) AS tf FROM toks
        WHERE token <> '' GROUP BY doc_id, token),
      df AS (
        SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tf) GROUP BY token),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
          CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df AS score,
          row_number() OVER (PARTITION BY tf.doc_id
            ORDER BY CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df DESC,
                     tf.token) AS rank
        FROM tf JOIN df USING (token))
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, df, score
      FROM scored WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Inverted index (token → df, tf, posting-list head): the backbone of
    * search-based decontamination and corpus lookup. Two-stage shape with
    * no hot-key stage: stage 1 groups by (token, doc_id) — high
    * cardinality, skew-free — producing distinct postings with per-doc
    * term frequency; stage 2 groups by token, where every aggregate is
    * map-side combinable with O(1)-bounded partial state: counts, sums,
    * and a bounded bottom-k aggregator ([[graft.functions.BottomKLongs]])
    * for the 20 smallest doc_ids. A stopword's full posting list never
    * materializes in one buffer (the ta_tfidf lesson); at 100 TB the full
    * lists would be written sharded by term range, and this query is that
    * job with the write replaced by the bounded head.
    */
  /** Distinct postings with per-doc term frequency — (token, doc_id,
    * tf_doc) — the shared stage-1 of [[invertedIndex]] (bounded-head
    * query) and [[graft.pipeline.CorpusPipeline.writeInvertedIndex]]
    * (the full sharded write). GroupBy (token, doc_id) is high
    * cardinality and skew-free.
    */
  def postings(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.spread(Tables.documents(s, d), "doc_id")
      .select($"doc_id", explode(split(expr(normSpark), " ")).as("token"))
      .groupBy($"token", $"doc_id")
      .agg(count(lit(1)).as("tf_doc"))
  }

  val invertedIndex: Q = Q(
    "ta_inverted_index",
    (s, d) => {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      import s.implicits._
      val bottomK = org.apache.spark.sql.functions.udaf(
        new graft.functions.BottomKLongs(20), ExpressionEncoder[Long]())
      val td = postings(s, d)
      td.groupBy($"token")
        .agg(count(lit(1)).as("df"),
          sum($"tf_doc").as("tf"),
          bottomK($"doc_id").as("postings_arr"))
        // The driver's checker sorts/hashes columns with pandas, which
        // cannot factorize array cells — serialize the posting head to a
        // canonical comma-joined string (same on the DuckDB side).
        .select($"token", $"df", $"tf",
          array_join(expr("transform(postings_arr, x -> cast(x AS string))"), ",")
            .as("postings"))
        .orderBy($"token")
    },
    Some(s"""WITH tok AS (
        SELECT doc_id, unnest(string_split($normDuck, ' ')) AS token
        FROM documents),
      td AS (
        SELECT token, doc_id, count(*) AS tf_doc
        FROM tok GROUP BY 1, 2)
      SELECT token,
        CAST(count(*) AS BIGINT) AS df,
        CAST(sum(tf_doc) AS BIGINT) AS tf,
        array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',') AS postings
      FROM td GROUP BY token ORDER BY token"""))

  /** Duplicate-3-gram fraction per document (the Gopher-family repetition
    * filter `fraction of tokens in duplicated n-grams`): documents that
    * repeat whole phrases — boilerplate, templated spam, decoding loops —
    * score high and get culled. Same two-shuffle scale shape as
    * [[repetition]]: explode trigrams, count per (doc, gram) — high-
    * cardinality, skew-free — then re-aggregate per doc with O(1) partial
    * state. Never a per-doc quadratic scan or a collected gram list; the
    * fraction is a ratio of exact integer counts.
    */
  val dupNgrams: Q = Q(
    "ta_dup_ngrams",
    (s, d) => {
      import s.implicits._
      Tables.spread(Tables.documents(s, d), "doc_id")
        .select($"doc_id", split(expr(normSpark), " ").as("w"))
        .filter(size($"w") >= 3)
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
          .as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_grams"),
          sum(when($"c" > 1, $"c").otherwise(0L)).as("n_dup_occ"),
          count(when($"c" > 1, lit(1))).as("n_dup_grams"))
        .select($"doc_id", $"n_grams", $"n_dup_occ", $"n_dup_grams",
          ($"n_dup_occ".cast(DoubleType) / $"n_grams").as("dup_frac"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split($normDuck, ' ') AS w FROM documents),
      g AS (SELECT doc_id, unnest([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    for i in range(1, len(w)-1) ]) AS g
            FROM w WHERE len(w) >= 3),
      c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_occ,
        CAST(count(CASE WHEN c > 1 THEN 1 END) AS BIGINT) AS n_dup_grams,
        CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c) AS dup_frac
      FROM c GROUP BY doc_id ORDER BY doc_id"""))

  /** Unicode canonicalization before fingerprinting — the step that makes
    * dedup see "é" (U+00E9) and "e"+combining-acute as the same document.
    * The corpus is ASCII, so the decomposed form is *constructed* (every
    * 'a' gains a combining ring, U+030A) and then NFC-composed back by the
    * codegen'd [[graft.functions.UnicodeNormalize]] expression; the md5
    * over the normalized text proves byte-identical normalization across
    * engines (Java's Normalizer vs DuckDB's utf8proc — both UAX #15).
    * Narrow per-row transform, no shuffle beyond the presentation sort.
    */
  val unicodeNfc: Q = Q(
    "ta_unicode_nfc",
    (s, d) => {
      import graft.functions.UnicodeNormalize.unicode_normalize
      import s.implicits._
      val deco = Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          regexp_replace(substring($"text", 1, 80), "a",
            "a" + Character.toString(0x30A)).as("t"))
      deco.select($"doc_id",
          length($"t").cast(LongType).as("n_deco"),
          length(unicode_normalize($"t", "NFC")).cast(LongType).as("n_nfc"),
          md5(unicode_normalize($"t", "NFC")).as("fp"))
        .orderBy($"doc_id")
    },
    Some("""WITH deco AS (
        SELECT doc_id,
          regexp_replace(substr(text, 1, 80), 'a', 'a' || chr(778), 'g') AS t
        FROM documents)
      SELECT doc_id,
        CAST(length(t) AS BIGINT) AS n_deco,
        CAST(length(nfc_normalize(t)) AS BIGINT) AS n_nfc,
        md5(nfc_normalize(t)) AS fp
      FROM deco ORDER BY doc_id"""))

  /** BPE subword encoding under the frozen trained merge table
    * ([[graft.functions.BpeTokenizer]], [[graft.functions
    * .FrozenBpeMerges]]) — the first text-analysis operator with actual
    * training-stack fidelity: real pipelines tokenize with learned
    * merges, not whitespace. Scale shape: words are exploded once, the
    * per-word encode runs over the DISTINCT-word table only (the
    * memoized form — at 100 TB the distinct vocabulary is millions of
    * rows against trillions of word occurrences) and is joined back
    * broadcast. The oracle replays the IDENTICAL rule list through a
    * recursive CTE of leftmost-occurrence strpos/substr replacements on
    * the padded symbol string — provably the same program as
    * `BpeTokenizer.encode`'s left-to-right merge pass (pinned by
    * BpeTokenizerSpec) — so the subword split is hash-checked
    * cross-engine, not merely row-counted. Sampled to doc_id % 10 to
    * keep the artifact compact.
    */
  val bpeEncode: Q = {
    val merges = graft.functions.BpeTokenizer.FrozenMerges
    Q(
      "ta_bpe_encode",
      (s, d) => {
        import s.implicits._
        // single-sourced UDF: the .asNondeterministic() pushdown pin
        // (load-bearing — see the scaladoc at its one definition) lives
        // in BpeTokenizer next to the merge tables
        val encodeUdf = graft.functions.BpeTokenizer.encodeUdf(merges)
        val words = Tables.spreadRange(
            Tables.documents(s, d).filter($"doc_id" % 10 === 0), $"doc_id")
          .select($"doc_id",
            posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .as(Seq("wp0", "w")))
          .select($"doc_id", ($"wp0" + 1).cast(LongType).as("word_pos"), $"w")
        val pieces = words.select($"w").distinct()
          .withColumn("ps", encodeUdf($"w"))
        words.join(broadcast(pieces), "w")
          .select($"doc_id", $"word_pos",
            posexplode($"ps").as(Seq("pp0", "piece")))
          .select($"doc_id", $"word_pos",
            ($"pp0" + 1).cast(LongType).as("piece_pos"), $"piece")
          .orderBy($"doc_id", $"word_pos", $"piece_pos")
      },
      Some(s"""WITH RECURSIVE docs AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
          FROM documents WHERE doc_id % 10 = 0),
        words AS (SELECT doc_id, unnest(ws) AS w,
            unnest(range(1, len(ws) + 1)) AS word_pos FROM docs),
        dw AS (SELECT DISTINCT w FROM words),
        ${graft.functions.BpeTokenizer.duckdbReplayCtes(merges)},
        outp AS (SELECT doc_id, word_pos, unnest(ps) AS piece,
            unnest(range(1, len(ps) + 1)) AS piece_pos
          FROM words JOIN pieces USING (w))
      SELECT doc_id, CAST(word_pos AS BIGINT) AS word_pos,
        CAST(piece_pos AS BIGINT) AS piece_pos, piece
      FROM outp ORDER BY doc_id, word_pos, piece_pos"""))
  }

  /** [[bpeEncode]] continued to TOKEN IDS — what a training pipeline
    * actually ships: each subword piece mapped through the
    * merge-table-induced vocabulary ([[graft.functions.BpeTokenizer
    * .vocabIds]]: chars 0..25, merge k's output 26+k — reproducible
    * from the frozen table alone, so the oracle states the identical
    * map as a literal VALUES list). Emitted as per-doc id sequences
    * summarized scalar-stable (count, sum, first/last id) rather than
    * a list column (oracle dtype rules), plus the exploded sample the
    * encode entry already covers.
    */
  /** The byte-RICH text construction `ta_bpe_bytes` tokenizes: the
    * synthetic corpus is ASCII-lowercase-only, so — same policy as
    * [[unicodeNfc]]'s constructed decomposition — the bytes worth
    * exercising are added deterministically: case (`Doc`), digits and
    * punctuation (`#<id>`, `3.14!`), 2-byte (`é`), 3-byte (`—`, `№`,
    * `☕`) and 4-byte (`🙂`) UTF-8. One expression string, valid in
    * BOTH engines (Spark and DuckDB accept `||`, `substr`, and
    * `CAST(… AS STRING)`), so the enriched text cannot drift between
    * the query and its oracle. The frozen byte merge table is TRAINED
    * on exactly this construction over sf0.01 (ByteBpeSpec re-trains
    * and pins it).
    */
  val ByteRichExpr: String =
    "'Doc #' || CAST(doc_id AS STRING) || ': ' || substr(text, 1, 60) || " +
      "' — café №' || CAST(doc_id % 10 AS STRING) || ' ☕🙂 3.14!'"

  /** BYTE-level BPE under the frozen byte merge table
    * ([[graft.functions.BpeTokenizer.encodeBytes]],
    * `FrozenBpeMerges.ByteMerges`) — the total-domain tokenizer the
    * `[a-z]+` family is not: `\S+` pretokens of the byte-rich text,
    * every byte remapped to a printable char (GPT-2's published
    * byte-to-unicode construction), BPE over the remapped symbols, ids
    * total for ARBITRARY input (byte b ↦ b, merge k ↦ 256+k). Nothing
    * is dropped: digits, punctuation, case and multi-byte UTF-8 all
    * tokenize. Scale shape identical to [[bpeEncode]]: encode memoized
    * per DISTINCT pretoken, broadcast-joined back to occurrences. The
    * oracle replays the identical rules over identical symbols — the
    * byte decomposition runs through `hex(encode(w))` + a 256-row
    * VALUES byte map interpolated from the same Scala constant — and
    * maps pieces to ids via a VALUES-stated total vocabulary, so split
    * AND ids are hash-checked cross-engine.
    */
  val bpeBytes: Q = {
    val merges = graft.functions.BpeTokenizer.FrozenByteMerges
    val ids = graft.functions.BpeTokenizer.byteVocabIds(merges)
    val vocabValues = ids.toSeq.sortBy(_._2)
      .map { case (tok, id) => s"('${tok.replace("'", "''")}', $id)" }
      .mkString(", ")
    Q(
      "ta_bpe_bytes",
      (s, d) => {
        import s.implicits._
        // ONE UDF for pieces and ids together: two separate encode
        // calls would run the merge replay twice per distinct word
        val encodeBoth =
          graft.functions.BpeTokenizer.encodeBytesWithIdsUdf(merges)
        val words = Tables.spreadRange(
            Tables.documents(s, d).filter($"doc_id" % 10 === 0), $"doc_id")
          .select($"doc_id",
            posexplode(expr(
              s"regexp_extract_all($ByteRichExpr, '\\\\S+', 0)"))
              .as(Seq("wp0", "w")))
          .select($"doc_id", ($"wp0" + 1).cast(LongType).as("word_pos"), $"w")
        val pieces = words.select($"w").distinct()
          .withColumn("zipped", encodeBoth($"w"))
        words.join(broadcast(pieces), "w")
          .select($"doc_id", $"word_pos",
            posexplode($"zipped").as(Seq("pp0", "pz")))
          .select($"doc_id", $"word_pos",
            ($"pp0" + 1).cast(LongType).as("piece_pos"),
            $"pz._1".as("piece"), $"pz._2".as("tid"))
          .orderBy($"doc_id", $"word_pos", $"piece_pos")
      },
      Some(s"""WITH RECURSIVE docs AS (
          SELECT doc_id, regexp_extract_all($ByteRichExpr, '\\S+') AS ws
          FROM documents WHERE doc_id % 10 = 0),
        words AS (SELECT doc_id, unnest(ws) AS w,
            unnest(range(1, len(ws) + 1)) AS word_pos FROM docs),
        dw AS (SELECT DISTINCT w FROM words),
        ${graft.functions.BpeTokenizer.duckdbByteReplayCtes(merges)},
        vocab(tok, tid) AS (VALUES $vocabValues),
        outp AS (SELECT doc_id, word_pos, unnest(ps) AS piece,
            unnest(range(1, len(ps) + 1)) AS piece_pos
          FROM words JOIN pieces USING (w))
      SELECT o.doc_id, CAST(o.word_pos AS BIGINT) AS word_pos,
        CAST(o.piece_pos AS BIGINT) AS piece_pos, o.piece,
        CAST(v.tid AS BIGINT) AS tid
      FROM outp o JOIN vocab v ON v.tok = o.piece
      ORDER BY o.doc_id, o.word_pos, o.piece_pos"""))
  }

  val bpeIds: Q = {
    val merges = graft.functions.BpeTokenizer.FrozenMerges
    val ids = graft.functions.BpeTokenizer.vocabIds(merges)
    val vocabValues = ids.toSeq.sorted
      .map { case (tok, id) => s"('$tok', $id)" }.mkString(", ")
    Q(
      "ta_bpe_ids",
      (s, d) => {
        import s.implicits._
        val encodeUdf = graft.functions.BpeTokenizer.encodeIdsUdf(merges)
        val words = Tables.spreadRange(Tables.documents(s, d), $"doc_id")
          .select($"doc_id",
            explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .as("w"))
        val pieceIds = words.select($"w").distinct()
          .select($"w", encodeUdf($"w").as("pids"))
        words.join(broadcast(pieceIds), "w")
          .select($"doc_id", explode($"pids").as("tid"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_ids"), sum($"tid").as("id_sum"),
            min($"tid").as("min_id"), max($"tid").as("max_id"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE docs AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
          FROM documents),
        words AS (SELECT doc_id, unnest(ws) AS w FROM docs),
        dw AS (SELECT DISTINCT w FROM words),
        ${graft.functions.BpeTokenizer.duckdbReplayCtes(merges)},
        vocab(tok, tid) AS (VALUES $vocabValues),
        pieceids AS (
          SELECT p.w, v.tid
          FROM (SELECT w, unnest(ps) AS piece FROM pieces) p
          JOIN vocab v ON v.tok = p.piece)
      SELECT w2.doc_id,
        count(*) AS n_ids,
        CAST(sum(tid) AS BIGINT) AS id_sum,
        CAST(min(tid) AS BIGINT) AS min_id, CAST(max(tid) AS BIGINT) AS max_id
      FROM words w2 JOIN pieceids USING (w)
      GROUP BY w2.doc_id ORDER BY w2.doc_id"""))
  }

  val all: Seq[Q] = Seq(tokenCount, qualityScore, langId, fingerprint,
    rollingFingerprint, topBigrams, lengthHistogram, vocab, repetition,
    tfidf, bigramLm, denylistScrub, piiScan, invertedIndex, dupNgrams,
    unicodeNfc, bpeEncode, bpeIds, bpeBytes)
}
