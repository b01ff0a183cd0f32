package graft.operators

import graft.queries.RelationalQueries.Q
import graft.queries.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deduplication operators (north-star): exact, n-gram Jaccard, MinHash+LSH,
  * SimHash — the standard toolkit for near-dup removal in LLM training-data
  * pipelines.
  *
  * Scale design (the 100 TB shape, tested at sf scale):
  *   - candidate generation is always a *join on a blocking key* (shared
  *     shingle, LSH band bucket) — never an O(n²) cross join;
  *   - shingling/hashing are narrow per-doc transforms;
  *   - the only shuffles are the candidate joins and the final group-bys,
  *     all on keys with bounded fan-out (at web scale one would additionally
  *     cap shingle document-frequency to bound join fan-out — noted per
  *     operator).
  *
  * Cross-engine hashing: both engines derive a 32-bit integer from
  * `md5(token)` hex (Spark `conv(hex,16,10)`, DuckDB `('0x'||hex)::BIGINT`),
  * so MinHash/SimHash signatures are bit-identical and fully oracle-checkable
  * — no reliance on engine-native hash functions, which never match across
  * engines.
  */
object Dedup {

  /** Whitespace-normalized lowercase text (shared normal form). */
  private val Norm = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
  private val NormDuck = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Distinct word 3-gram shingles of any (doc_id, text) frame; docs with
    * <3 tokens carry no shingle. The frame-based form serves the
    * streaming ingestion path ([[graft.streaming.StreamingDedupPipeline]])
    * alongside the table loaders below.
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split(expr(Norm), " ").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", array_distinct(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as("shingles"))
  }

  /** [[shinglesOf]] with the xxhash64 view — the 8-byte-key form the pair
    * machinery joins on.
    */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    hashedShingles(shinglesOf(docs))

  /** Distinct word 3-gram shingles; docs with <3 tokens carry no shingle. */
  private[operators] def shingleDf(s: SparkSession, d: String): DataFrame =
    shinglesOf(Tables.spread(Tables.documents(s, d), "doc_id"))

  private[operators] val ShinglesDuck =
    s"""SELECT doc_id,
       list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in range(1, len(w)-1) ]) AS shingles
       FROM (SELECT doc_id, string_split($NormDuck, ' ') AS w FROM documents)
       WHERE len(w) >= 3"""

  /** 32-bit token hash, identical in both engines (see object scaladoc). */
  private def hSpark(tok: String) =
    s"CAST(conv(substring(md5($tok), 1, 8), 16, 10) AS BIGINT)"
  private def hDuck(tok: String) =
    s"(('0x' || substr(md5($tok), 1, 8))::BIGINT)"

  /** xxhash64 view of the shingle column: 8-byte join keys, lighter
    * shuffles, and integer array intersections through the whole pair
    * machinery, while Jaccard/containment — pure counts — are unchanged
    * barring a ~2⁻⁶⁴-probability collision (the oracles intersect the
    * original strings, so a collision would surface as a hash mismatch).
    * Measured on the chargram pipeline: 11-14s → 7s at sf0.1, identical
    * pair set. Only the MinHash signature path keeps string shingles —
    * its oracle replays the md5-based permutation hash byte-for-byte.
    */
  private def hashedShingles(sh: DataFrame): DataFrame =
    sh.withColumn("shingles", expr("transform(shingles, s -> xxhash64(s))"))

  // ---------------------------------------------------------------- exact

  val exact: Q = Q(
    "dd_exact",
    (s, d) => {
      import s.implicits._
      // NOT spread (r20): measured flat-to-negative (0.52 -> 0.62 s
      // bench best) — the md5 partial collapses to ~distinct hashes
      // map-side, so the spread exchange buys nothing the content_hash
      // exchange wasn't already paying
      Tables.documents(s, d)
        .groupBy(md5(expr(Norm)).as("content_hash"))
        .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy($"content_hash")
    },
    Some(s"""SELECT md5($NormDuck) AS content_hash,
      min(doc_id) AS canonical_id, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY content_hash"""))

  // ------------------------------------------------------- n-gram Jaccard

  /** Reusable near-dup pair finder: candidates from an explode + self-join
    * on the shingle (docs sharing >= 1 candidate shingle — the
    * MapReduce-scalable shape, never an all-pairs cross join), verified
    * with exact Jaccard over the full shingle sets.
    *
    * @param maxShingleDf the 100 TB knob: shingles occurring in more than
    *        this many documents are excluded from CANDIDATE GENERATION
    *        (they explode the self-join fan-out quadratically) — but NOT
    *        from the Jaccard verification, which always uses the full
    *        shingle sets. A qualifying pair is only lost if it shares no
    *        sub-cap shingle at all; near-dups share many rare shingles
    *        (JaccardDfCapSpec verifies zero loss at cap=50 here).
    */
  def jaccardPairs(sh: DataFrame, tau: Double,
      maxShingleDf: Option[Long] = None,
      verifyWithFullSets: Boolean = true,
      bandBounds: Boolean = true): DataFrame = {
    // the per-doc shingle count rides with every exploded row: the
    // capped branch's self-join applies the EXACT size-ratio test
    // (J >= tau forces min(|A|,|B|) >= tau * max(|A|,|B|)) inside the
    // join condition, so non-qualifying pairs never reach the pair
    // aggregation (guide §3.2 pre-join reduction; profiled r21: the
    // chargram candidate join + hash aggregate was 72 s of task time
    // over ~46M joined rows). Catalyst prunes the column wherever it
    // is unused (df counts, over-cap explode).
    val exAll = sh.select(col("doc_id"), size(col("shingles")).as("n"),
      explode(col("shingles")).as("sh"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    def withSizes(pairs: DataFrame): DataFrame = pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
    maxShingleDf match {
      case None =>
        // Uncapped: shingles are distinct per doc, so the per-pair join
        // match count IS |A ∩ B| — no need to re-intersect the full
        // arrays (array_intersect over near-all-pairs candidates is the
        // expensive path; counting is a plain aggregation).
        val counted = exAll.as("x").join(exAll.as("y"),
            col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .agg(count(lit(1)).as("ni"))
        withSizes(counted)
          .select(col("a_id"), col("b_id"),
            (col("ni").cast(DoubleType) / (col("na") + col("nb") - col("ni")))
              .as("jaccard"))
          .filter(col("jaccard") >= tau)
      case Some(cap) =>
        // Capped: the self-join runs only over sub-cap shingles (over-cap
        // "stopword" shingles explode fan-out ~df² while carrying no dedup
        // signal). The shingle set of a doc partitions by df class, so the
        // exact intersection splits disjointly:
        //   |A ∩ B| = ni_rare + |overA ∩ overB|,   and therefore
        //   ni_rare  <=  |A ∩ B|  <=  ni_rare + min(|overA|, |overB|).
        // Jaccard is monotone in the intersection at fixed |A|+|B|, so the
        // two int counts give EXACT lower/upper Jaccard bounds per
        // candidate — and double division is monotone, so comparing the
        // rounded bounds against tau can never flip a decision. A pair
        // whose upper bound misses tau is rejected with no array work; a
        // pair with no over-cap shingles on either side is fully decided
        // (its bound IS its exact Jaccard). Only the undecided band —
        // over-cap-sharing pairs whose bound straddles tau — pays an
        // array intersection. Measured at sf0.1 (5000 docs): 719 555
        // size-filtered candidates, 719 299 bound-rejected, 256
        // bound-decided accepts, ZERO verified — the previous
        // verify-everything pass did 719k array intersections for the
        // same output. A qualifying pair is only lost if it shares no
        // sub-cap shingle at all (near-dups share many rare shingles;
        // the uncapped oracle's hash-match proves zero loss here).
        val frequent = exAll.groupBy(col("sh"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("sh"))
        // The cap's complement is the broadcast-able side: high df means
        // many ROWS each but FEW distinct values, so the anti-join streams
        // the big exploded table map-side.
        val exRare = exAll
          .join(broadcast(frequent), Seq("sh"), "left_anti").cache()
        val exOver = exAll.join(broadcast(frequent), Seq("sh"))
        // per-doc over-cap CARDINALITY only — the arrays themselves are
        // needed just for the (typically empty) undecided band
        val overCnt = exOver
          .groupBy(col("doc_id")).agg(count(lit(1)).as("oc"))
        // The size-ratio test sits IN the join condition — same exact
        // predicate the post-join filter applied (so the pair set is
        // unchanged), evaluated before the joined rows hit the pair
        // aggregation's hash map.
        val counted = exRare.as("x")
          .join(exRare.as("y"),
            col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id")
              && (least(col("x.n"), col("y.n")).cast(DoubleType) /
                greatest(col("x.n"), col("y.n"))) >= tau)
          .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .agg(count(lit(1)).as("ni_rare"))
        // sizes still attach here (na/nb feed the Jaccard bounds); the
        // ratio filter is already proven by the join condition
        val sizeOk = withSizes(counted)
        if (!bandBounds) {
          // Degenerate-corpus escape hatch (measured: chargrams on the
          // tiny-vocab corpus — over-cap shingles dominate every doc, so
          // min(|overA|,|overB|) is large for every pair, the upper bound
          // clears tau for ~all candidates, and the bound machinery
          // (overCnt + 3 joins + cache) is pure overhead before the same
          // full verification). Verify every size-filtered candidate
          // directly against the full shingle sets.
          // NO broadcast hint on the pair list: this branch exists for
          // degenerate corpora where candidates are ~n²-dense — the one
          // regime where a forced broadcast of the pairs aborts or OOMs
          // the driver. AQE broadcasts it when it measures small.
          return sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
            .join(sizeOk.select(col("a_id"), col("b_id"),
              col("na"), col("nb")), "a_id")
            .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
              .hint("shuffle_hash"), "b_id")
            .select(col("a_id"), col("b_id"),
              (size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
                (col("na") + col("nb") -
                  size(array_intersect(col("sa"), col("sb"))))).as("jaccard"))
            .filter(col("jaccard") >= tau)
        }
        // The upper-bound filter rejects the overwhelming bulk of
        // candidates (719 299 of 719 555 at sf0.1) BEFORE the cache, so
        // the cached survivor table holds only accepts + band. The cache
        // matters because `decided` and `band` are two filters of this
        // DataFrame fed into a union — uncached, BOTH branches re-run the
        // candidate self-join + aggregation (ReusedExchange is not
        // guaranteed across the union; measured dd_clusters 15s -> 7s) —
        // while caching BEFORE the reject filter materializes the whole
        // candidate set (measured dd_survivors 13 -> 23s at 100k
        // tiny-vocab docs, where candidates are ~n²-dense).
        val bounded = sizeOk
          .join(overCnt.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("oc", "ca"), Seq("a_id"), "left")
          .join(overCnt.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("oc", "cb"), Seq("b_id"), "left")
          .withColumn("m", least(coalesce(col("ca"), lit(0L)),
            coalesce(col("cb"), lit(0L))))
          .withColumn("jlb", col("ni_rare").cast(DoubleType) /
            (col("na") + col("nb") - col("ni_rare")))
          .withColumn("jub", (col("ni_rare") + col("m")).cast(DoubleType) /
            (col("na") + col("nb") - col("ni_rare") - col("m")))
          .filter(col("jub") >= tau)
          .cache()
        // m = 0 ⇒ jlb = jub = the exact Jaccard, and it passed the jub
        // filter — decided with no array work
        val decided = bounded.filter(col("m") === 0)
          .select(col("a_id"), col("b_id"), col("jlb").as("jaccard"))
        val band = bounded.filter(col("m") > 0)
          .select(col("a_id"), col("b_id"), col("na"), col("nb"),
            col("ni_rare"))
        val verified = if (verifyWithFullSets) {
          // Default: robust regardless of over-cap density. When over-cap
          // shingles dominate each document (small vocabularies, char
          // grams), the per-doc over arrays of the correction branch
          // approach the full sets and a correction join can cost MORE
          // than re-verification (measured: dd_survivors 2.6s vs 49s at
          // 100k generated docs, pre-banding). Verify the band against
          // the full shingle sets: broadcast the (two-long) pair list
          // into the array table, then SHUFFLE-hash the second array
          // join — without the hint AQE can decide to broadcast the
          // intermediate (pairs + their KB-sized arrays) through the
          // driver.
          sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
            .join(broadcast(band.drop("ni_rare")), "a_id")
            .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
              .hint("shuffle_hash"), "b_id")
            .select(col("a_id"), col("b_id"),
              (size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
                (col("na") + col("nb") -
                  size(array_intersect(col("sa"), col("sb"))))).as("jaccard"))
            .filter(col("jaccard") >= tau)
        } else {
          // Alternative band decision via the over-cap arrays: exact
          // intersection = ni_rare + |overA ∩ overB| (disjoint df
          // classes), so the band re-intersects only the over-cap
          // arrays, not the full sets. Wins when over-cap shingles are a
          // thin stopword tail (realistic web corpora); loses when they
          // dominate each doc (tiny vocabularies, char grams).
          val overArr = exOver
            .groupBy(col("doc_id")).agg(collect_list(col("sh")).as("over"))
          band
            .join(overArr.select(col("doc_id").as("a_id"), col("over").as("oa")), "a_id")
            .join(overArr.select(col("doc_id").as("b_id"), col("over").as("ob")), "b_id")
            .select(col("a_id"), col("b_id"), col("na"), col("nb"),
              (col("ni_rare") +
                size(array_intersect(col("oa"), col("ob")))).as("ni"))
            .select(col("a_id"), col("b_id"),
              (col("ni").cast(DoubleType) / (col("na") + col("nb") - col("ni")))
                .as("jaccard"))
            .filter(col("jaccard") >= tau)
        }
        decided.union(verified)
    }
  }

  /** Exact set-similarity self-join via PREFIX FILTERING (the
    * AllPairs/PPJoin candidate scheme): order each doc's shingles
    * rarest-first by global document frequency, and join only on each
    * side's PREFIX — the first n − ⌈τ·n⌉ + 1 shingles. Any pair with
    * J ≥ τ has |A∩B| ≥ τ·max(|A|,|B|), and an intersection that large
    * cannot avoid both prefixes, so the candidate join provably loses
    * nothing — unlike a df cap, which CAN lose pairs whose shared
    * shingles are all high-df (measured on the chargram corpus:
    * cap 50 finds 148 of the true pairs at sf0.1). The prefix length is
    * computed in exact integer arithmetic (⌈num·n/den⌉ via div) — a
    * double ⌈0.6·n⌉ rounds up spuriously for n divisible by 5, silently
    * shortening prefixes past the safe bound.
    *
    * Scale shape: df ranking is one groupBy + one per-doc window; the
    * candidate join fans out only on prefix occurrences, which
    * rarest-first ordering concentrates on low-df shingles. Verification
    * is the same exact full-set intersection as [[jaccardPairs]]. On
    * corpora where even prefixes stay high-df (tiny vocabularies) the
    * fan-out degenerates toward all-pairs — there the df cap + Jaccard
    * bounds of [[jaccardPairs]] is the practical (lossy) fallback; on
    * realistic corpora the prefix join is both exact and bounded.
    */
  def jaccardPairsPrefix(sh: DataFrame, tauNum: Long, tauDen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tau = tauNum.toDouble / tauDen
    val exAll = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    val dfCnt = exAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("sh"))
    val prefix = exAll.join(dfCnt, "sh")
      .join(sizes, "doc_id")
      .withColumn("rk", row_number().over(byRarity))
      // p = n - ceil(tau*n) + 1, all integral
      .filter(col("rk") <=
        col("n") - expr(s"($tauNum * n + ${tauDen - 1}) div $tauDen") + 1)
      .select(col("doc_id"), col("sh"), col("n"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .distinct()
      .filter((least(col("na"), col("nb")).cast(DoubleType) /
        greatest(col("na"), col("nb"))) >= tau)
    // no broadcast hint on the pair list: on realistic corpora AQE
    // broadcasts it anyway (it is two longs per candidate), but on
    // degenerate corpora the candidate set itself can exceed driver
    // memory (measured: > 1 GiB of pairs at 100k tiny-vocab docs — a
    // hard broadcast aborts exactly where the join must fall back to a
    // shuffle)
    sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
      .join(cand, "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
        .hint("shuffle_hash"), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          (col("na") + col("nb") -
            size(array_intersect(col("sa"), col("sb"))))).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Word-3-gram Jaccard pairs found by [[jaccardPairsPrefix]] — same
    * ground-truth oracle as [[ngramJaccard]], so the hash-match PROVES the
    * prefix scheme's exactness on this corpus (both engines compute the
    * full pairwise truth independently of the candidate strategy).
    */
  val prefixJaccard: Q = Q(
    "dd_prefix_jaccard",
    (s, d) => {
      // hashing keeps the prefix lemma intact: it holds for ANY global
      // total order of the token universe, and (df, xxhash64) is one
      val sh = hashedShingles(shingleDf(s, d)).cache()
      jaccardPairsPrefix(sh, 3L, 5L).orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH sh AS ($ShinglesDuck)
      SELECT a_id, b_id, jaccard FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.6 ORDER BY a_id, b_id"""))

  /** Word-3-gram Jaccard >= 0.6 pairs, uncapped — the DuckDB oracle is
    * ground-truth pairwise Jaccard, so a hash-match also proves the
    * candidate join loses no qualifying pair.
    */
  val ngramJaccard: Q = Q(
    "dd_ngram_jaccard",
    (s, d) => {
      val sh = hashedShingles(shingleDf(s, d)).cache()
      jaccardPairs(sh, 0.6).orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH sh AS ($ShinglesDuck)
      SELECT a_id, b_id, jaccard FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.6 ORDER BY a_id, b_id"""))

  // --------------------------------------------------------- MinHash + LSH

  private val A = Seq(1777L, 2203L, 3407L, 4001L, 5303L, 6121L, 7001L, 8011L)
  private val B = Seq(101L, 211L, 307L, 401L, 503L, 601L, 701L, 809L)
  private val P = 2147483647L // 2^31 - 1; a*h < 2^46, no 64-bit overflow

  // Hash each shingle ONCE into an int array, then apply the 8 affine
  // permutations to the cached hashes — not 8 md5 evaluations per shingle.
  private def mhSpark(j: Int): String =
    s"array_min(transform(hh, h -> (h * ${A(j)} + ${B(j)}) % $P))"
  private def mhDuck(j: Int): String =
    s"list_min(list_transform(hh, h -> (h * ${A(j)} + ${B(j)}) % $P))"

  private[operators] def signatureDf(sh: DataFrame): DataFrame = {
    val cols = (0 until 8).map(j => expr(mhSpark(j)).as(s"mh$j"))
    sh.select(col("doc_id"),
        expr(s"transform(shingles, s -> ${hSpark("s")})").as("hh"))
      .select(col("doc_id") +: cols: _*)
  }

  private val SignatureDuck: String = {
    val cols = (0 until 8).map(j => s"${mhDuck(j)} AS mh$j").mkString(", ")
    s"""SELECT doc_id, $cols FROM
       (SELECT doc_id, list_transform(shingles, s -> ${hDuck("s")}) AS hh FROM sh)"""
  }

  /** Per-doc MinHash signature (8 permutations of the universal-hash family
    * (a·h + b) mod (2^31−1)) — the sketch that makes near-dup detection
    * linear-ish at scale. Bit-identical across engines.
    */
  val minhashSignatures: Q = Q(
    "dd_minhash_signatures",
    (s, d) => signatureDf(shingleDf(s, d)).orderBy(col("doc_id")),
    Some(s"""WITH sh AS ($ShinglesDuck)
      $SignatureDuck ORDER BY doc_id"""))

  /** LSH candidate pairs: 4 bands × 2 rows over the 8-slot signature; a
    * pair is a candidate iff some band matches exactly (bucket join per
    * band — the scale path: each band join shuffles on a compound key with
    * bounded bucket sizes); candidates are then verified with true Jaccard
    * >= 0.6 against the shingle sets.
    */
  /** Banded LSH candidate generation — shared by [[minhashLsh]] and
    * `dd_edit_verify`. One shuffle instead of four: explode each 8-slot
    * signature into its 4 (band, rowPair) keys and self-join ONCE on
    * (band, key) — the same shape [[simhashPairs]] uses. The per-band
    * join variant scans and shuffles `sig` 4× and unions before
    * distinct; this form shuffles the banded rows once and feeds
    * distinct directly (r4 bench showed the 4-join plan at 5.2s vs
    * 1.4s — plan diff recorded in SCALE.md).
    */
  private[operators] def bandedCandidates(sig: DataFrame): DataFrame = {
    val banded = sig.select(col("doc_id"), posexplode(array(
      (0 until 4).map(bnd =>
        struct(col(s"mh${2 * bnd}").as("k0"),
          col(s"mh${2 * bnd + 1}").as("k1"))): _*)).as(Seq("band", "k")))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.k") === col("y.k") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  val minhashLsh: Q = Q(
    "dd_minhash_lsh",
    (s, d) => {
      import s.implicits._
      val sh = shingleDf(s, d).cache() // shared by signatures + verification
      val sig = signatureDf(sh).cache()
      val cand = bandedCandidates(sig)
      // Exact size-ratio prefilter before the wide array join: J >= 0.6
      // forces min(|A|,|B|)/max(|A|,|B|) >= 0.6 (same proof as in
      // [[jaccardPairs]]), and the check costs two ints per candidate.
      // Band collisions between genuinely-dissimilar docs grow ~n²·P(r=2
      // false positive) — measured 1.3k/16k/407k at 5k/20k/100k docs on
      // the 31-word synthetic vocabulary — so cheap rejection before
      // array_intersect is what keeps verification off the critical path.
      val sizes = sh.select($"doc_id", size($"shingles").as("n"))
      val sizeOk = cand
        .join(sizes.select($"doc_id".as("a_id"), $"n".as("na")), "a_id")
        .join(sizes.select($"doc_id".as("b_id"), $"n".as("nb")), "b_id")
        .filter((least($"na", $"nb").cast(DoubleType) /
          greatest($"na", $"nb")) >= 0.6)
      sizeOk
        .join(sh.select($"doc_id".as("a_id"), $"shingles".as("sa")), "a_id")
        .join(sh.select($"doc_id".as("b_id"), $"shingles".as("sb")), "b_id")
        .select($"a_id", $"b_id",
          size(array_intersect($"sa", $"sb")).as("ni"), $"na", $"nb")
        .select($"a_id", $"b_id",
          ($"ni".cast(DoubleType) / ($"na" + $"nb" - $"ni")).as("jaccard"))
        .filter($"jaccard" >= 0.6)
        .orderBy($"a_id", $"b_id")
    },
    Some {
      val bandCond = (0 until 4).map { bnd =>
        s"(a.mh${2 * bnd} = b.mh${2 * bnd} AND a.mh${2 * bnd + 1} = b.mh${2 * bnd + 1})"
      }.mkString(" OR ")
      s"""WITH sh AS ($ShinglesDuck),
        sig AS ($SignatureDuck),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond))
        SELECT a_id, b_id, jaccard FROM (
          SELECT c.a_id, c.b_id,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
              (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
          FROM cand c JOIN sh x ON x.doc_id = c.a_id JOIN sh y ON y.doc_id = c.b_id)
        WHERE jaccard >= 0.6 ORDER BY a_id, b_id"""
    })

  // ---------------------------------------------------------------- SimHash

  /** 32-bit SimHash over distinct-token 32-bit hashes: per bit, tokens vote
    * ±1; the bit is set when the vote is >= 0. Near-dup docs land within a
    * small Hamming distance. Pure per-doc expression work — no shuffle at
    * all before the presentation sort.
    */
  val simhash: Q = Q(
    "dd_simhash",
    (s, d) => {
      import s.implicits._
      val thSpark =
        s"transform(array_distinct(split($Norm, ' ')), t -> ${hSpark("t")})"
      val bits = (0 until 32).map { b =>
        val vote = s"aggregate(th, CAST(0 AS BIGINT), " +
          s"(acc, h) -> acc + (CASE WHEN (h div ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END))"
        s"(CASE WHEN ($vote) >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }
      Tables.spread(Tables.documents(s, d), "doc_id") // md5+32 bit-votes per doc: CPU-dense
        .select($"doc_id", expr(thSpark).as("th"))
        .select($"doc_id", expr(bits.mkString(" + ")).as("simhash"))
        .orderBy($"doc_id")
    },
    Some {
      val bits = (0 until 32).map { b =>
        val vote = s"list_sum(list_transform(th, " +
          s"h -> CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END))"
        s"(CASE WHEN ($vote) >= 0 THEN ${1L << b} ELSE 0 END)"
      }
      s"""WITH f AS (
        SELECT doc_id,
          list_transform(list_distinct(string_split($NormDuck, ' ')),
                         t -> ${hDuck("t")}) AS th
        FROM documents)
        SELECT doc_id, CAST(${bits.mkString(" + ")} AS BIGINT) AS simhash
        FROM f ORDER BY doc_id"""
    })

  /** The end-use of near-dup detection: the deduplicated corpus. Greedy
    * survivor rule — within every qualifying pair, the lower doc_id
    * survives; a doc is dropped iff it appears as the higher side of some
    * pair. (Full connected-component canonicalization is an iterative
    * join-until-fixpoint on the same pair list.)
    */
  val survivors: Q = Q(
    "dd_survivors",
    (s, d) => {
      import s.implicits._
      // capped pair generation (same pairs — oracle-proven; the uncapped
      // form is quadratic in shingle df at corpus scale)
      val drops = jaccardPairs(hashedShingles(shingleDf(s, d)).cache(), 0.6,
        maxShingleDf = Some(50L)).select($"b_id".as("doc_id"))
      Tables.documents(s, d)
        .join(drops, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },
    Some(s"""WITH sh AS ($ShinglesDuck),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT doc_id, source FROM documents
      WHERE doc_id NOT IN (SELECT b_id FROM pairs WHERE jaccard >= 0.6)
      ORDER BY doc_id"""))

  /** Asymmetric near-dup: containment (overlap coefficient
    * |A∩B| / min(|A|,|B|) ≥ 0.9) catches docs that quote or embed another
    * doc even when symmetric Jaccard stays low. Same shingle-join candidate
    * shape as [[jaccardPairs]].
    */
  val containment: Q = Q(
    "dd_containment",
    (s, d) => {
      import s.implicits._
      val sh = hashedShingles(shingleDf(s, d)).cache()
      val sizes = sh.select($"doc_id", size($"shingles").as("n"))
      val ex = sh.select($"doc_id", explode($"shingles").as("sh"))
      // distinct shingles per doc → join match count == |A ∩ B|
      ex.as("x").join(ex.as("y"),
          $"x.sh" === $"y.sh" && $"x.doc_id" < $"y.doc_id")
        .groupBy($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"))
        .agg(count(lit(1)).as("ni"))
        .join(sizes.withColumnRenamed("doc_id", "a_id")
          .withColumnRenamed("n", "na"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("n", "nb"), "b_id")
        .select($"a_id", $"b_id",
          ($"ni".cast(DoubleType) / least($"na", $"nb")).as("containment"))
        .filter($"containment" >= 0.9)
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""WITH sh AS ($ShinglesDuck)
      SELECT a_id, b_id, containment FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            least(len(a.shingles), len(b.shingles)) AS containment
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE containment >= 0.9 ORDER BY a_id, b_id"""))

  /** Character-5-gram Jaccard — the char-level twin of [[ngramJaccard]]
    * (robust to tokenization differences; catches dups across punctuation
    * and spacing edits that word shingles miss). Char grams from a small
    * vocabulary are massively shared, so candidate generation RUNS WITH the
    * df cap (this is the query where the uncapped self-join actually
    * explodes — 500+s at sf0.1 uncapped). The cap is 400, not 50: on this
    * corpus df≤50 grams are so scarce (5 315 of 1.02M shingle occurrences
    * at sf0.1) that a low cap both starves candidate generation (148 of
    * the true pairs found vs 256 at cap 400 — a cap IS lossy when docs
    * can share only over-cap shingles) and degrades the Jaccard bounds
    * (ni_rare ≈ 0 ⇒ the upper bound clears tau for every candidate ⇒ all
    * 52k candidates fall into the verify band). At cap 400 the rare set
    * carries the signal again: the bounds reject the fan-out the bigger
    * cap admits, measured 9.8s vs 19s at cap 50 — and vs 457s for
    * cap 400 with the bounds disabled. Verification always uses full
    * shingle sets; the sf0.01 ground-truth oracle hash-match proves zero
    * pair loss at the gate scale.
    *
    * Shingles are xxhash64'd to longs before the pair machinery: every
    * downstream cost (join keys, shuffle bytes, array_intersect) drops to
    * 8-byte integer work while Jaccard — a pure count — is unchanged
    * (a 64-bit collision among the ~2k distinct grams would need ~1e-13
    * luck). Measured 11-14s → 7s at sf0.1, identical pair set.
    */
  val chargramJaccard: Q = Q(
    "dd_chargram_jaccard",
    (s, d) => {
      import s.implicits._
      // one fused codegen pass: code points -> per-window rolling hash ->
      // inline dedup (CharGramHashes); one allocation per doc instead of
      // one per window (measured warm at sf0.1: 0.92s vs 1.07s for the
      // HOF chain; the gap widens with doc length). The hash is an
      // internal key only - the oracle intersects the original strings,
      // so a collision would fail the gate, not hide
      val sh = Tables.spread(Tables.documents(s, d), "doc_id")
        .select($"doc_id", expr(Norm).as("t"))
        .filter(length($"t") >= 5)
        .select($"doc_id",
          graft.functions.CharGramHashes.char_gram_hashes($"t", 5)
            .as("shingles"))
        .cache()
      // cap=400 is measured, not guessed: on the round-9 corpus the
      // rarest shingle shared by the WORST true pair has df 289 at sf0.1
      // (27 at sf0.01), so 400 keeps every J>=0.6 pair (the oracle would
      // catch a loss) while bounding candidate volume at Σ df² over
      // df<=400 shingles (~46M at sf0.1 vs 2041 shingles with df up to
      // 3923 uncapped). Tightening to 200 WOULD drop pairs here — the
      // char-5-gram df distribution is bimodal and near-dups on this
      // corpus share mostly mid-df shingles.
      jaccardPairs(sh, 0.6, maxShingleDf = Some(400L))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH sh AS (
        SELECT doc_id,
          list_distinct([ substr(t, i, 5) for i in range(1, length(t)-3) ]) AS shingles
        FROM (SELECT doc_id, $NormDuck AS t FROM documents)
        WHERE length(t) >= 5)
      SELECT a_id, b_id, jaccard FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.6 ORDER BY a_id, b_id"""))

  /** SimHash near-dup pairs with Hamming distance <= 3, using pigeonhole
    * blocking: split the 32-bit signature into 4 bytes — any pair within
    * Hamming 3 must agree exactly on at least one byte, so candidates come
    * from 4 equality joins on single bytes (bounded fan-out at scale),
    * then bit_count verifies the true distance. No all-pairs stage.
    */
  val simhashPairs: Q = Q(
    "dd_simhash_pairs",
    (s, d) => {
      import s.implicits._
      val sig = simhash.build(s, d).select($"doc_id", $"simhash").cache()
      // one shuffle on (band, byte) instead of four separate byte joins:
      // explode each signature into its 4 (band, byte) keys and self-join
      // once. Hamming is verified BEFORE the pair-dedup so the distinct
      // shuffles only true near-dup pairs, not every band collision (the
      // candidate set is ~band_count × bucket_fanout larger).
      val banded = sig.select($"doc_id", $"simhash",
        posexplode(array(
          expr("simhash % 256"), expr("(simhash div 256) % 256"),
          expr("(simhash div 65536) % 256"),
          expr("(simhash div 16777216) % 256"))).as(Seq("band", "byte")))
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.byte") === col("y.byte") &&
            $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"),
          expr("bit_count(x.simhash ^ y.simhash)").cast(LongType).as("hamming"))
        .filter($"hamming" <= 3)
        .distinct()
        .orderBy($"a_id", $"b_id")
    },
    Some {
      val simhashSql = simhash.oracle.get.replace("ORDER BY doc_id", "")
      s"""WITH sig AS ($simhashSql),
        b AS (SELECT doc_id, simhash,
               simhash % 256 AS b0, (simhash // 256) % 256 AS b1,
               (simhash // 65536) % 256 AS b2, (simhash // 16777216) % 256 AS b3
              FROM sig),
        cand AS (
          SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                 x.simhash AS ha, y.simhash AS hb
          FROM b x JOIN b y ON x.doc_id < y.doc_id
            AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3))
        SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        ORDER BY a_id, b_id"""
    })

  /** Connected-component canonicalization: every doc maps to the minimum
    * doc_id reachable through near-dup pairs (transitively), so A~B~C all
    * canonicalize to min(A,B,C) even when A~C was never directly detected.
    * Implemented as min-label propagation — a loop of `O(component
    * diameter)` join+groupBy rounds, each a bounded shuffle on doc_id (the
    * standard distributed CC shape; near-dup components are tiny, so the
    * loop converges in 2-3 rounds). The driver-side loop only checks a
    * convergence count per round. Oracle: recursive CTE reachability.
    */
  private[operators] def clusterDf(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val sh = hashedShingles(shingleDf(s, d)).cache()
      // capped candidates (losslessness proven by the oracle hash-match;
      // uncapped, the pair join fans out ~Σ df² at corpus scale — see
      // SCALE.md's 100k-doc measurements)
      val pr = jaccardPairs(sh, 0.6, maxShingleDf = Some(50L))
        .select($"a_id", $"b_id").cache()
      val sym = pr.select($"a_id".as("src"), $"b_id".as("dst"))
        .union(pr.select($"b_id".as("src"), $"a_id".as("dst"))).cache()
      // Propagate only over COMPONENT MEMBERS (docs that appear in some
      // pair): every other doc is trivially its own canonical. The loop's
      // working set is therefore the near-dup subgraph — at corpus scale
      // orders of magnitude smaller than the corpus — and the full table
      // is touched exactly once, by the final left join.
      // Iterative lineage MUST be truncated per round — the GraphX/MLlib
      // lesson. cache()+unpersist(prev) is a trap here: non-cascading
      // uncache drops-and-lazily-recomputes DEPENDENT cache entries, so
      // unpersisting round N's labels invalidates round N+1's cache and
      // every later action recomputes an ever-deeper chain all the way
      // back through the candidate pipeline (measured: the loop + final
      // join degraded 8s → 21s at sf0.1). An eager localCheckpoint
      // materializes each round's member-sized label table WITH NO
      // LINEAGE, so nothing downstream can trigger recomputation and the
      // loop-invariant caches can be released safely afterwards. (At
      // cluster scale with executor loss in play, a reliable
      // checkpoint dir replaces localCheckpoint — same shape.)
      var labels = sym.select($"src".as("doc_id")).distinct()
        .select($"doc_id", $"doc_id".as("canonical_id"))
        .localCheckpoint(true)
      // Convergence probe: min-propagation only ever decreases labels, so
      // Σ canonical_id strictly decreases iff any label changed — one
      // cheap aggregate per round instead of a join against the previous
      // labels (halves the per-round shuffle count).
      def labelSum(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(coalesce(sum($"canonical_id"), lit(0L))).head().getLong(0)
      var prevSum = labelSum(labels)
      var converged = false
      while (!converged) {
        val propagated = labels
          .join(sym, $"doc_id" === $"src")
          .select($"dst".as("doc_id"), $"canonical_id")
        val next = labels.union(propagated)
          .groupBy($"doc_id")
          .agg(min($"canonical_id").as("canonical_id"))
          .localCheckpoint(true) // eager, lineage-free
        val nextSum = labelSum(next)
        converged = nextSum == prevSum
        prevSum = nextSum
        labels = next
      }
      sh.unpersist(); pr.unpersist(); sym.unpersist()
      Tables.documents(s, d).select($"doc_id")
        .join(labels.withColumnRenamed("canonical_id", "member_canonical"),
          Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"member_canonical", $"doc_id").as("canonical_id"))
  }

  /** The canonical-id relation as a reusable CTE chain (shared with the
    * split-leakage audit in [[CorpusCuration]]).
    */
  private[operators] val ClustersDuckCtes: String =
    s"""sh AS ($ShinglesDuck),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
          (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.6),
      e AS (SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL SELECT b_id, a_id FROM pairs),
      reach(src, dst) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
      canon AS (SELECT src AS doc_id, min(dst) AS m FROM reach GROUP BY src),
      cl AS (
        SELECT d.doc_id, least(d.doc_id, coalesce(c.m, d.doc_id)) AS canonical_id
        FROM documents d LEFT JOIN canon c USING (doc_id))"""

  val clusters: Q = Q(
    "dd_clusters",
    (s, d) => {
      import s.implicits._
      clusterDf(s, d).orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE $ClustersDuckCtes
      SELECT doc_id, canonical_id FROM cl ORDER BY doc_id"""))

  /** Banding-configuration sweep over the same 8-slot signature: 4 bands
    * of 2 rows vs 2 bands of 4 rows, reporting candidate volume and
    * confirmed (J ≥ 0.6) pairs per configuration — the precision/recall
    * dial every LSH deployment tunes before it replaces an exact join
    * (more rows per band ⇒ fewer, higher-precision candidates; the
    * candidate count IS the join cost at scale). 2×4 candidates are a
    * subset of 4×2 candidates by construction (4 equal consecutive slots
    * imply both constituent 2-slot bands equal), so confirmed counts are
    * monotone — spec'd in NorthStarSpec. Counts aggregate map-side; the
    * report is two rows.
    */
  val lshBandSweep: Q = Q(
    "dd_lsh_band_sweep",
    (s, d) => {
      import s.implicits._
      val sh = shingleDf(s, d).cache()
      val sig = signatureDf(sh).cache()
      val sizes = sh.select($"doc_id", size($"shingles").as("n"))
      def report(name: String, bands: Seq[Seq[Int]]): DataFrame = {
        val cand = bands.map { slots =>
          sig.as("x").join(sig.as("y"),
              slots.map(j => col(s"x.mh$j") === col(s"y.mh$j"))
                .reduce(_ && _) && $"x.doc_id" < $"y.doc_id")
            .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"))
        }.reduce(_ union _).distinct().cache()
        val confirmed = cand
          .join(sizes.select($"doc_id".as("a_id"), $"n".as("na")), "a_id")
          .join(sizes.select($"doc_id".as("b_id"), $"n".as("nb")), "b_id")
          .filter((least($"na", $"nb").cast(DoubleType) /
            greatest($"na", $"nb")) >= 0.6)
          .join(sh.select($"doc_id".as("a_id"), $"shingles".as("sa")), "a_id")
          .join(sh.select($"doc_id".as("b_id"), $"shingles".as("sb")), "b_id")
          .filter((size(array_intersect($"sa", $"sb")).cast(DoubleType) /
            (($"na" + $"nb") - size(array_intersect($"sa", $"sb")))) >= 0.6)
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(broadcast(confirmed.agg(count(lit(1)).as("n_confirmed"))))
          .select(lit(name).as("config"), $"n_candidates", $"n_confirmed")
      }
      report("4x2", Seq(Seq(0, 1), Seq(2, 3), Seq(4, 5), Seq(6, 7)))
        .union(report("2x4", Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7))))
        .orderBy($"config")
    },
    Some {
      def duckCand(bands: Seq[Seq[Int]]): String = bands.map { slots =>
        slots.map(j => s"a.mh$j = b.mh$j").mkString("(", " AND ", ")")
      }.mkString(" OR ")
      def pipeline(name: String, bands: Seq[Seq[Int]]): String =
        s"""SELECT '$name' AS config,
           (SELECT count(*) FROM (
              SELECT DISTINCT a.doc_id, b.doc_id FROM sig a JOIN sig b
              ON a.doc_id < b.doc_id AND (${duckCand(bands)}))) AS n_candidates,
           (SELECT count(*) FROM (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sig a JOIN sig b
              ON a.doc_id < b.doc_id AND (${duckCand(bands)})) c
            JOIN sh x ON c.a_id = x.doc_id JOIN sh y ON c.b_id = y.doc_id
            WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
              (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) >= 0.6)
             AS n_confirmed"""
      s"""WITH sh AS ($ShinglesDuck), sig AS ($SignatureDuck)
        ${pipeline("4x2", Seq(Seq(0, 1), Seq(2, 3), Seq(4, 5), Seq(6, 7)))}
        UNION ALL
        ${pipeline("2x4", Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7)))}
        ORDER BY config"""
    })

  /** Sketch-accuracy readout: for every true near-dup pair, the
    * MinHash-estimated Jaccard (fraction of agreeing signature slots)
    * alongside the exact value — the per-pair view of the estimator the
    * LSH path relies on. An 8-slot signature is deliberately coarse
    * (slot agreement ∈ {0, ⅛, …, 1}); production sizes the signature to
    * the tolerated estimation error.
    */
  val minhashAccuracy: Q = Q(
    "dd_minhash_accuracy",
    (s, d) => {
      import s.implicits._
      val sh = shingleDf(s, d).cache()
      // cached: sa and sb are two renames of the same signature table —
      // uncached, the md5 + 8-permutation pass over the corpus runs twice
      val sig = signatureDf(sh).cache()
      // pairs run over hashed shingles (derived from the cached strings —
      // the signature path above needs the originals for its md5 oracle)
      val pr = jaccardPairs(hashedShingles(sh), 0.6, maxShingleDf = Some(50L))
      val sa = sig.toDF("a_id" +: (0 until 8).map(j => s"amh$j"): _*)
      val sb = sig.toDF("b_id" +: (0 until 8).map(j => s"bmh$j"): _*)
      val agree = (0 until 8).map(j =>
        when(col(s"amh$j") === col(s"bmh$j"), 1).otherwise(0))
        .reduce(_ + _)
      pr.join(sa, "a_id").join(sb, "b_id")
        .select($"a_id", $"b_id", $"jaccard",
          (agree.cast(DoubleType) / 8).as("jaccard_est"))
        .orderBy($"a_id", $"b_id")
    },
    Some {
      val agree = (0 until 8).map(j =>
        s"(CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH sh AS ($ShinglesDuck),
        sig AS ($SignatureDuck),
        pairs AS (
          SELECT x.doc_id AS a_id, y.doc_id AS b_id,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
              (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
          FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
        SELECT p.a_id, p.b_id, p.jaccard,
          CAST($agree AS DOUBLE) / 8 AS jaccard_est
        FROM pairs p JOIN sig a ON a.doc_id = p.a_id
                     JOIN sig b ON b.doc_id = p.b_id
        WHERE p.jaccard >= 0.6
        ORDER BY p.a_id, p.b_id"""
    })

  /** Incremental dedup — the production shape: an incoming batch checked
    * against the EXISTING corpus (not within itself). Candidate
    * generation is the same shared-shingle equi-join, but the two sides
    * are disjoint sets, so at scale the existing side is the (large,
    * pre-shingled, stored) index and the incoming side is the small
    * batch — shuffle volume is driven by the batch, not the corpus.
    * Output: each incoming doc's best existing match at τ ≥ 0.6 (the
    * keep/drop decision plus its evidence).
    */
  val incremental: Q = Q(
    "dd_incremental",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val src = Tables.documents(s, d).select($"doc_id", $"source")
      // cached: referenced by candidate generation, size lookups and
      // exact verification (harness clears caches per query; a
      // build-time unpersist would defeat the cache entirely)
      // no broadcast hint on src: it is one row per CORPUS document, so
      // at the operator's stated production shape (existing corpus >>
      // batch) a forced broadcast grows with the corpus — AQE promotes
      // it at bench scale from measured stats, and shuffles at real scale
      val sh = hashedShingles(shingleDf(s, d))
        .join(src, "doc_id").cache()
      val sizes = sh.select($"doc_id", $"source", size($"shingles").as("n"))
      // candidate generation runs under the same df cap as the capped
      // jaccardPairs path: without it the cross-set shared-shingle join
      // fans out ~Σ df_existing·df_incoming — measured 362s at 100k
      // generated docs vs 1.8s at 5k. High-df ("stopword") shingles
      // carry no dedup signal; a qualifying pair sharing only over-cap
      // shingles would be lost, but near-dups share many rare ones (the
      // sf0.01 oracle hash-match proves zero pair loss on the corpus).
      val exH = sh.select($"doc_id", $"source",
        explode($"shingles").as("sh"))
      val frequent = exH.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > 50).select($"sh")
      val exRare = exH.join(broadcast(frequent), Seq("sh"), "left_anti").cache()
      val cand = exRare.filter($"source" === "src0")
        .select($"doc_id".as("a_id"), $"sh")
        .join(exRare.filter($"source" =!= "src0")
          .select($"doc_id".as("b_id"), $"sh"), "sh")
        .select($"a_id", $"b_id").distinct()
      // exact size-ratio prefilter, then exact verification on full sets
      // same discipline for the size lookups: the src0 side is
      // existing-corpus-sized, so neither gets a forced broadcast
      val sizeOk = cand
        .join(sizes.filter($"source" === "src0")
          .select($"doc_id".as("a_id"), $"n".as("na")), "a_id")
        .join(sizes.filter($"source" =!= "src0")
          .select($"doc_id".as("b_id"), $"n".as("nb")), "b_id")
        .filter((least($"na", $"nb").cast(DoubleType) /
          greatest($"na", $"nb")) >= 0.6)
      val scored = sizeOk
        .join(sh.select($"doc_id".as("a_id"), $"shingles".as("sa")), "a_id")
        .join(sh.select($"doc_id".as("b_id"), $"shingles".as("sb")), "b_id")
        .select($"b_id", $"a_id",
          (size(array_intersect($"sa", $"sb")).cast(DoubleType) /
            ($"na" + $"nb" - size(array_intersect($"sa", $"sb")))).as("jaccard"))
        .filter($"jaccard" >= 0.6)
      scored.withColumn("rk", row_number().over(
          Window.partitionBy($"b_id").orderBy($"jaccard".desc, $"a_id")))
        .filter($"rk" === 1)
        .select($"b_id", $"a_id", $"jaccard")
        .orderBy($"b_id")
    },
    Some(s"""WITH sh AS ($ShinglesDuck),
      src AS (SELECT doc_id, source FROM documents),
      e AS (SELECT sh.doc_id AS a_id, shingles AS sa
            FROM sh JOIN src USING (doc_id) WHERE source = 'src0'),
      i AS (SELECT sh.doc_id AS b_id, shingles AS sb
            FROM sh JOIN src USING (doc_id) WHERE source <> 'src0'),
      p AS (SELECT b_id, a_id,
              CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
                (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
            FROM i, e),
      r AS (SELECT b_id, a_id, jaccard,
              row_number() OVER (PARTITION BY b_id
                ORDER BY jaccard DESC, a_id) AS rk
            FROM p WHERE jaccard >= 0.6)
      SELECT b_id, a_id, jaccard FROM r WHERE rk = 1 ORDER BY b_id"""))

  // ------------------------------------------------- duplicated spans

  /** Exact duplicated-span detection — the distributed form of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): instead of one global
    * suffix array (inherently single-node), mark every word 4-gram that
    * occurs in ≥ 2 documents, then merge per document the token
    * positions those 4-grams cover into maximal duplicated spans
    * (gaps-and-islands over a per-doc window).
    *
    * Scale shape: the 4-gram document-frequency is a map-side-combinable
    * groupBy; marking is an equi-join ON THE N-GRAM — deliberately NOT
    * broadcast (the n-gram vocabulary is corpus-sized, the same trap
    * ta_bigram_lm had; AQE may still broadcast when it measures small);
    * the island merge windows on doc_id, bounded by document length.
    * Every shuffle key is either the n-gram or the doc_id — no all-pairs
    * stage anywhere.
    */
  /** (doc_id, pos, ng) for every word n-gram of every document — the
    * shared prelude of BOTH span markers (cross-doc [[dupSpanDf]] and
    * within-doc [[selfRepeatDf]]; one definition so a change to
    * normalization or hashing cannot silently diverge the two halves of
    * the recipe). `pos` is the 0-based token position; `ng` is the gram's
    * 64-BIT HASH — the n-gram text never crosses the shuffle (the
    * df-groupBy and the marking join both key on 8 bytes instead of the
    * ~n-word string; measured in SCALE.md §"Round-13 substring-dedup
    * tiers", the text-keyed form
    * shuffled 1.4× more at n=8 than n=4 purely from key width). A hash
    * collision would merge two gram identities and could falsely mark a
    * span: P ≈ G²/2^65 for G distinct grams — ~10⁻⁵ at 30M grams, and
    * the outcome is deterministic per corpus, so the cross-engine oracle
    * (which keys on the exact text) stays bit-stable unless a corpus
    * actually contains a colliding pair.
    */
  private def hashedNgrams(s: SparkSession, d: String, n: Int,
      textKeys: Boolean = false): DataFrame = {
    import s.implicits._
    // textKeys=true is the collision-DIAGNOSIS path only (see
    // [[dupSpanCollisionDiff]]) — n-word string keys across the shuffle,
    // the exact shape the hashing exists to avoid; never in an entry
    val gram =
      if (textKeys) s"transform(sequence(0, size(w)-$n), i -> concat_ws(' ', slice(w, i+1, $n)))"
      else s"transform(sequence(0, size(w)-$n), i -> xxhash64(concat_ws(' ', slice(w, i+1, $n))))"
    Tables.spread(Tables.documents(s, d), "doc_id")
      .select($"doc_id", split(expr(Norm), " ").as("w"))
      .filter(size($"w") >= n)
      .select($"doc_id", posexplode(expr(gram)).as(Seq("pos", "ng")))
  }

  private[operators] def dupSpanDf(s: SparkSession, d: String,
      n: Int = 4, textKeys: Boolean = false): DataFrame = {
    import s.implicits._
    val ngrams = hashedNgrams(s, d, n, textKeys)
    val dup = ngrams.groupBy($"ng")
      .agg(countDistinct($"doc_id").as("ndocs"))
      .filter($"ndocs" >= 2).select($"ng")
    // shuffle join on ng (vocabulary-sized right side — never broadcast)
    val hits = ngrams.join(dup, "ng")
      .select($"doc_id", $"pos".cast(LongType).as("pos"),
        ($"pos" + lit(n - 1)).cast(LongType).as("e"))
    mergeIslands(hits)
  }

  /** Collision DIAGNOSIS for the hashed gram keys: the spans the hashed
    * marker flags, symmetric-differenced against the text-keyed ground
    * truth. A 64-bit gram collision (P ≈ G²/2⁶⁵ — see [[hashedNgrams]])
    * would surface here as hashed-only rows (`src = "hashed_only"`),
    * making a suspected oracle mismatch attributable in one run instead
    * of a needle-hunt. Debug path only — it RUNS the text-keyed shuffle
    * the production marker exists to avoid — so it lives behind a spec
    * (`DedupSpec`) and an operator's post-mortem, never inside an entry.
    */
  private[operators] def dupSpanCollisionDiff(s: SparkSession, d: String,
      n: Int = 4): DataFrame = {
    import s.implicits._
    val hashed = dupSpanDf(s, d, n)
    val text = dupSpanDf(s, d, n, textKeys = true)
    hashed.exceptAll(text).withColumn("src", lit("hashed_only"))
      .unionAll(text.exceptAll(hashed).withColumn("src", lit("text_only")))
  }

  /** Gaps-and-islands merge shared by the cross-doc marker ([[dupSpanDf]])
    * and the within-doc self-repeat marker ([[selfRepeatDf]]): a token is
    * "duplicated" iff covered by ≥1 marked n-gram; spans are maximal runs
    * of duplicated tokens — a new island starts only when a hit begins
    * ≥2 past everything covered so far (≥1 clean token gap). Windows on
    * doc_id, task memory bounded by one document's hit list.
    */
  private def mergeIslands(hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = hits.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("prev_end",
        max($"e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1).otherwise(0))
      .withColumn("island", sum($"new_island").over(w))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").as("span_start"), max($"e").as("span_end"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_tokens"))
  }

  /** Within-document self-repeat spans — the OTHER half of the
    * ExactSubstr recipe (the cross-doc marker [[dupSpanDf]] counts
    * DISTINCT docs per gram, so a gram repeating only inside one doc is
    * deliberately invisible to it). Keep-first semantics: for each
    * n-gram occurring k ≥ 2 times in a document, the FIRST occurrence
    * is kept and occurrences 2..k are marked; marked coverage merges
    * into maximal spans — the in-page boilerplate detector (repeated
    * nav blocks, chorus lines, templated paragraphs).
    *
    * Scale shape: the occurrence ranking windows on (doc_id, gram-hash)
    * — co-partitioned WITH the doc, so the only shuffle key is
    * (doc_id, ng) and skew is bounded by one document's copies of one
    * gram; no corpus-wide df structure exists at all (cheaper than the
    * cross-doc marker). Island merge as in [[mergeIslands]].
    */
  private[operators] def selfRepeatDf(s: SparkSession, d: String,
      n: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byOcc = Window.partitionBy($"doc_id", $"ng").orderBy($"pos")
    val hits = hashedNgrams(s, d, n)
      .withColumn("rk", row_number().over(byOcc))
      .filter($"rk" >= 2)
      .select($"doc_id", $"pos".cast(LongType).as("pos"),
        ($"pos" + lit(n - 1)).cast(LongType).as("e"))
    mergeIslands(hits)
  }

  /** The n-gram CTE prelude (toks → positions → grams) at gram length
    * `n` — shared by both DuckDB marker chains.
    */
  private def ngramDuckFor(n: Int): String = {
    val cat = (0 until n).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH toks AS (
         SELECT doc_id, string_split($NormDuck, ' ') AS w FROM documents),
       ngi AS (
         SELECT doc_id, unnest(generate_series(1, len(w)-${n - 1})) AS i, w
         FROM toks WHERE len(w) >= $n),
       ng2 AS (
         SELECT doc_id, i-1 AS pos, $cat AS ng FROM ngi)"""
  }

  /** The gaps-and-islands chain from a `hits(doc_id, pos, e)` CTE to
    * `spans` — the DuckDB twin of [[mergeIslands]].
    */
  private val IslandChainDuck =
    """isl AS (
         SELECT doc_id, pos, e,
           CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= pos - 1
                THEN 0 ELSE 1 END AS new_island
         FROM hits),
       isl2 AS (SELECT doc_id, pos, e,
           sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM isl),
       spans AS (
         SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
                max(e) - min(pos) + 1 AS span_tokens
         FROM isl2 GROUP BY doc_id, island)"""

  /** The whole cross-doc duplicated-span CTE chain (shingle → df-mark →
    * island merge → spans) at n-gram length `n` — the DuckDB twin of
    * [[dupSpanDf]], shared by the 4-gram marking queries and the
    * threshold-8 substring-dedup query.
    */
  private def dupSpansDuckFor(n: Int): String =
    s"""${ngramDuckFor(n)},
       dup AS (SELECT ng FROM ng2 GROUP BY ng
               HAVING count(DISTINCT doc_id) >= 2),
       hits AS (SELECT doc_id, pos, pos + ${n - 1} AS e FROM ng2
                WHERE ng IN (SELECT ng FROM dup)),
       $IslandChainDuck"""

  /** The within-doc self-repeat chain — DuckDB twin of [[selfRepeatDf]]:
    * keep-first occurrence ranking replaces the cross-doc df mark.
    */
  private def selfRepeatsDuckFor(n: Int): String =
    s"""${ngramDuckFor(n)},
       r AS (SELECT doc_id, pos,
               row_number() OVER (PARTITION BY doc_id, ng ORDER BY pos) AS rk
             FROM ng2),
       hits AS (SELECT doc_id, pos, pos + ${n - 1} AS e FROM r WHERE rk >= 2),
       $IslandChainDuck"""

  private val DupSpansDuck = dupSpansDuckFor(4)

  val dupSpans: Q = Q(
    "dd_dup_spans",
    (s, d) => {
      import s.implicits._
      dupSpanDf(s, d).orderBy($"doc_id", $"span_start")
    },
    Some(s"""$DupSpansDuck
      SELECT doc_id, span_start, span_end, span_tokens FROM spans
      ORDER BY doc_id, span_start"""))

  /** Corpus-level duplicated-token coverage histogram: per doc, the
    * fraction of tokens inside duplicated spans, bucketed into deciles
    * (integer arithmetic end-to-end — no float division feeds a bucket
    * boundary, so both engines bucket identically). Docs with no
    * duplicated span land in decile 0 via the left join.
    */
  val dupCoverage: Q = Q(
    "dd_dup_coverage",
    (s, d) => {
      import s.implicits._
      val docTokens = Tables.documents(s, d)
        .select($"doc_id", size(split(expr(Norm), " ")).cast(LongType).as("n_tokens"))
      val perDoc = dupSpanDf(s, d)
        .groupBy($"doc_id").agg(sum($"span_tokens").as("dup_tokens"))
      docTokens.join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("dup_tokens"))
        .select($"doc_id", $"n_tokens", $"dup_tokens",
          least(lit(9L), expr("(dup_tokens * 10) div n_tokens")).as("decile"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_docs"),
          sum($"dup_tokens").as("dup_tokens_total"),
          sum($"n_tokens").as("tokens_total"))
        .orderBy($"decile")
    },
    Some(s"""$DupSpansDuck,
      doc_tokens AS (
        SELECT doc_id, len(string_split($NormDuck, ' ')) AS n_tokens
        FROM documents),
      per_doc AS (
        SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id),
      j AS (
        SELECT t.doc_id, t.n_tokens,
               coalesce(p.dup_tokens, 0) AS dup_tokens
        FROM doc_tokens t LEFT JOIN per_doc p USING (doc_id))
      SELECT CAST(least(9, (dup_tokens * 10) // n_tokens) AS BIGINT) AS decile,
             count(*) AS n_docs,
             CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens_total,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_total
      FROM j GROUP BY 1 ORDER BY decile"""))

  /** Exact-substring dedup at a LENGTH THRESHOLD — the published recipe
    * (Lee et al. 2022 §4.1, ExactSubstr): remove every substring of ≥ N
    * tokens that occurs in more than one document. The suffix-array
    * formulation is inherently single-node; the distributed equivalence
    * this runs on: a token lies inside a duplicated substring of length
    * ≥ N  ⟺  it is covered by some duplicated N-gram (⇐ a duplicated
    * N-gram IS such a substring; ⇒ every token of a duplicated ≥N-token
    * substring sits in one of its length-N windows, each itself
    * duplicated). So marking duplicated N-grams (df ≥ 2) and merging
    * their coverage into maximal islands yields EXACTLY the spans the
    * suffix-array algorithm removes — no approximation. N = 8 here
    * (the corpus's docs are short; production uses 50). Output is the
    * span list with the actual duplicated text reconstructed, i.e. what
    * a cleaner would cut.
    *
    * Scale shape (same machinery as [[dupSpanDf]], threshold-length
    * grams): df-count is a map-side-combinable groupBy on the n-gram;
    * marking is an equi-join ON the n-gram (corpus-sized vocabulary —
    * shuffle join, never broadcast); island merge windows per doc_id
    * with task memory bounded by one document's hit list. Longer grams
    * mean FEWER duplicated grams, so the threshold form shuffles less
    * than the 4-gram marker at equal corpus size (measured in SCALE.md).
    */
  val dupSubstrings: Q = Q(
    "dd_dup_substrings",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", split(expr(Norm), " ").as("w"))
      dupSpanDf(s, d, n = 8).join(toks, "doc_id")
        .select($"doc_id", $"span_start", $"span_end", $"span_tokens",
          expr("concat_ws(' ', slice(w, CAST(span_start + 1 AS INT), CAST(span_tokens AS INT)))")
            .as("dup_text"))
        .orderBy($"doc_id", $"span_start")
    },
    Some(s"""${dupSpansDuckFor(8)}
      SELECT s.doc_id, span_start, span_end, span_tokens,
        array_to_string(w[span_start + 1 : span_end + 1], ' ') AS dup_text
      FROM spans s JOIN toks USING (doc_id)
      ORDER BY doc_id, span_start"""))

  /** Within-document self-repeat spans under the oracle — see
    * [[selfRepeatDf]] for semantics (keep-first; occurrences 2..k of any
    * 4-gram repeating inside one document merge into maximal spans).
    * Complements `dd_dup_spans`, whose DISTINCT-docs df deliberately
    * ignores self-repeats — together the two cover both halves of the
    * published exact-dedup recipe.
    */
  val selfRepeats: Q = Q(
    "dd_self_repeats",
    (s, d) => {
      import s.implicits._
      selfRepeatDf(s, d).orderBy($"doc_id", $"span_start")
    },
    Some(s"""${selfRepeatsDuckFor(4)}
      SELECT doc_id, span_start, span_end, span_tokens FROM spans
      ORDER BY doc_id, span_start"""))

  /** The consuming half of [[dupSubstrings]]: the CLEANED corpus — every
    * document with its duplicated ≥8-token substrings cut out, plus the
    * removal accounting a pipeline report needs. This is what
    * ExactSubstr-dedup actually ships downstream: training text with the
    * cross-document boilerplate excised, not just a span report.
    *
    * Shape: the span list (already doc_id-grouped) collects into one
    * small array per affected doc and LEFT-joins back to the token
    * arrays — a doc_id-keyed join where the spans side holds only docs
    * with duplication; the per-token span test is O(spans-per-doc) inside
    * a codegen'd higher-order filter, no extra shuffle beyond
    * [[dupSpanDf]]'s own. Docs with no duplicated span pass through
    * unchanged via the left join.
    */
  val cleanSubstrings: Q = Q(
    "dd_clean_substrings",
    (s, d) => {
      import s.implicits._
      val spansByDoc = dupSpanDf(s, d, n = 8)
        .groupBy($"doc_id")
        .agg(collect_list(struct($"span_start", $"span_end")).as("spans"))
      Tables.documents(s, d)
        .select($"doc_id", split(expr(Norm), " ").as("w"))
        .join(spansByDoc, Seq("doc_id"), "left")
        .select($"doc_id",
          expr("""concat_ws(' ', filter(w, (t, i) ->
              spans IS NULL OR
              NOT exists(spans, sp -> i >= sp.span_start AND i <= sp.span_end)))""")
            .as("clean_text"),
          size($"w").cast(LongType).as("n_tokens"),
          coalesce(expr(
            "aggregate(spans, 0L, (acc, sp) -> acc + sp.span_end - sp.span_start + 1)"),
            lit(0L)).as("removed_tokens"))
        .orderBy($"doc_id")
    },
    Some(s"""${dupSpansDuckFor(8)},
      toks2 AS (SELECT doc_id, unnest(w) AS tok,
                  unnest(range(1, len(w) + 1)) AS i FROM toks),
      rem AS (SELECT t.doc_id, t.tok, t.i FROM toks2 t
              WHERE NOT EXISTS (SELECT 1 FROM spans s
                WHERE s.doc_id = t.doc_id
                  AND t.i - 1 BETWEEN s.span_start AND s.span_end)),
      cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
                    count(*) AS kept
                  FROM rem GROUP BY doc_id)
      SELECT t.doc_id, coalesce(c.clean_text, '') AS clean_text,
        CAST(len(t.w) AS BIGINT) AS n_tokens,
        CAST(len(t.w) - coalesce(c.kept, 0) AS BIGINT) AS removed_tokens
      FROM toks t LEFT JOIN cleaned c USING (doc_id)
      ORDER BY t.doc_id"""))

  /** Edit-distance verification of the LSH band candidates — the fuzzy-
    * match member of the near-dup family (typo-level duplicates that token
    * Jaccard under-scores: a character edit changes one token entirely but
    * is one unit of Levenshtein). Candidate generation is the SAME banded
    * minhash join as [[minhashLsh]] (bounded by band-bucket size, never
    * all-pairs); only candidate pairs pay the O(len²) DP, and the keep
    * rule — dist ≤ 20% of the longer doc — is exact integer
    * cross-multiplication. At 100 TB the verification step would use
    * Spark's thresholded `levenshtein(l, r, t)` (early-exits the DP row
    * scan once `t` is exceeded); the unthresholded form here is what
    * DuckDB can replay exactly, and candidates are already few.
    *
    * ASCII assumption: Spark's `levenshtein` counts Unicode code points
    * while DuckDB's operates on UTF-8 bytes, so the cross-engine
    * equivalence holds only because the corpus text is ASCII (where one
    * code point = one byte). On multibyte input the engines diverge —
    * "café"→"cafe" is distance 1 in code points but 2 in bytes.
    * EditDistanceUnicodeSpec pins Spark's code-point semantics on
    * non-ASCII fixtures; a production pipeline on non-ASCII text would
    * NFC-normalize first ([[TextAnalysis]]'s `UnicodeNormalize`) and
    * treat code-point distance as the defined semantics.
    */
  val editVerify: Q = Q(
    "dd_edit_verify",
    (s, d) => {
      import s.implicits._
      val docs = Tables.spread(Tables.documents(s, d), "doc_id")
        .select($"doc_id", expr(Norm).as("t"))
      val cand = bandedCandidates(signatureDf(shingleDf(s, d)))
      cand
        .join(docs.select($"doc_id".as("a_id"), $"t".as("ta")), "a_id")
        .join(docs.select($"doc_id".as("b_id"), $"t".as("tb")), "b_id")
        .select($"a_id", $"b_id",
          levenshtein($"ta", $"tb").cast(LongType).as("edit_dist"),
          greatest(length($"ta"), length($"tb")).cast(LongType).as("max_len"))
        .filter($"edit_dist" * lit(5L) <= $"max_len")
        .orderBy($"a_id", $"b_id")
    },
    Some {
      val bandCond = (0 until 4).map { bnd =>
        s"(a.mh${2 * bnd} = b.mh${2 * bnd} AND a.mh${2 * bnd + 1} = b.mh${2 * bnd + 1})"
      }.mkString(" OR ")
      s"""WITH sh AS ($ShinglesDuck),
        sig AS ($SignatureDuck),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCond)),
        n AS (SELECT doc_id, $NormDuck AS t FROM documents)
        SELECT a_id, b_id,
          CAST(levenshtein(x.t, y.t) AS BIGINT) AS edit_dist,
          CAST(greatest(length(x.t), length(y.t)) AS BIGINT) AS max_len
        FROM cand JOIN n x ON x.doc_id = cand.a_id
                  JOIN n y ON y.doc_id = cand.b_id
        WHERE levenshtein(x.t, y.t) * 5 <= greatest(length(x.t), length(y.t))
        ORDER BY a_id, b_id"""
    })

  val all: Seq[Q] = Seq(exact, ngramJaccard, prefixJaccard, chargramJaccard,
    minhashSignatures, minhashLsh, lshBandSweep, simhash, simhashPairs,
    survivors, containment, clusters, minhashAccuracy, incremental,
    dupSpans, dupCoverage, dupSubstrings, cleanSubstrings, selfRepeats,
    editVerify)
}
