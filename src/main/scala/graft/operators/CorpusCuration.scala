package graft.operators

import graft.queries.RelationalQueries.Q
import graft.queries.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types._

/** The composed training-data pipeline: near-dup removal + language filter
  * + quality threshold in one corpus-curation pass — the end-to-end shape
  * the individual north-star operators exist for. Every stage is the
  * already-oracled building block (survivor anti-join, stopword lang-ID,
  * exact-count quality score), so the composition is oracle-checkable too.
  */
object CorpusCuration {

  /** A per-JVM, per-tag scratch directory, wiped before each use: the
    * layout queries write a parquet copy of their input, and a fresh
    * `createTempDirectory` per execution leaks one full copy per bench
    * pass — the fixed-per-tag path caps the footprint at one copy per
    * tag regardless of how many passes run. The root carries the JVM's
    * pid so two graft processes (a Bench started mid-Verify, two users
    * on one host) can never wipe each other's live scratch table —
    * within ONE process, Verify/Bench execute queries sequentially, so
    * the wipe cannot race a concurrent execution of the same tag. The
    * root is removed at JVM exit.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-scratch-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(p) catch { case _: Exception => () }))
    p
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      // materialize, then close the stream BEFORE deleting (walk holds
      // directory handles open; deleting under it is unspecified)
      val paths =
        try walk.iterator().asScala.toSeq
        finally walk.close()
      paths.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }

  private def scratchDir(tag: String): String = {
    val p = scratchRoot.resolve(tag)
    deleteRecursively(p)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Multiset equality in ONE job: tag each side ±1, group by every
    * column, and demand a zero sum per group — the same predicate the
    * previous two-sided `exceptAll(...).isEmpty` pair proved, but with
    * each input evaluated ONCE and one shuffle instead of two anti-join
    * jobs (guide §1.2/§2.4; the CDC entries' guard inputs are deep
    * exceptAll folds, so the halved evaluation count is the win).
    */
  private def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
    require(a.columns.toSet == b.columns.toSet,
      s"sameMultiset: column sets differ: ${a.columns.sorted.mkString(", ")} " +
        s"vs ${b.columns.sorted.mkString(", ")}")
    // helper columns named apart from every input column
    def fresh(base: String): String =
      Iterator.iterate(base)("_" + _).find(n => !a.columns.contains(n)).get
    val (sign, d) = (fresh("_sign"), fresh("_d"))
    a.withColumn(sign, lit(1L))
      .unionByName(b.withColumn(sign, lit(-1L)))
      .groupBy(a.columns.map(col).toSeq: _*).agg(sum(col(sign)).as(d))
      .filter(col(d) =!= 0L)
      .isEmpty
  }

  val curate: Q = Q(
    "pipe_corpus_curation",
    (s, d) => {
      import s.implicits._
      // stage 1: drop near-dups (greedy survivor rule over jaccard pairs)
      val survivors = Dedup.survivors.build(s, d).select($"doc_id")
      // stage 2+3: language + quality from exact counts
      val scored = Tables.documents(s, d)
        .select($"doc_id", $"source",
          split(lower(trim($"text")), "\\s+").as("w"),
          length(regexp_replace($"text", "\\s+", "")).cast(LongType).as("n_letters"))
        .select($"doc_id", $"source",
          size($"w").cast(LongType).as("n_tokens"),
          size(filter($"w", t => t.isin(TextAnalysis.Stopwords: _*)))
            .cast(LongType).as("n_stop"),
          $"n_letters")
        .select($"doc_id", $"source", $"n_tokens",
          ($"n_stop".cast(DoubleType) / $"n_tokens").as("stop_ratio"),
          (($"n_stop".cast(DoubleType) / $"n_tokens") * 0.4 +
            ($"n_letters".cast(DoubleType) / $"n_tokens") * 0.01 +
            $"n_tokens".cast(DoubleType) * 0.0001).as("quality"))
      scored
        .join(survivors, "doc_id")
        .filter($"stop_ratio" >= 0.05 && $"quality" >= 0.05)
        .select($"doc_id", $"source", $"n_tokens", $"quality")
        .orderBy($"doc_id")
    },
    Some(s"""WITH sh AS (${Dedup.ShinglesDuck}),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      scored AS (
        SELECT doc_id, source,
          CAST(len(w) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS DOUBLE) / len(w) AS stop_ratio,
          (CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS DOUBLE) / len(w)) * 0.4
            + (CAST(n_letters AS DOUBLE) / len(w)) * 0.01
            + CAST(len(w) AS DOUBLE) * 0.0001 AS quality
        FROM (SELECT doc_id, source,
                string_split_regex(lower(trim(text)), '\\s+') AS w,
                CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_letters
              FROM documents))
      SELECT doc_id, source, n_tokens, quality FROM scored
      WHERE doc_id NOT IN (SELECT b_id FROM pairs WHERE jaccard >= 0.6)
        AND stop_ratio >= 0.05 AND quality >= 0.05
      ORDER BY doc_id"""))

  /** Deterministic hash-based sampling — the reproducible alternative to
    * TABLESAMPLE for pipeline experiments: a doc is in the p% sample iff
    * a stable content-independent hash of its key lands under the
    * threshold. No shuffle at all (a pure filter, pushed past the scan's
    * column pruning); the same rows are selected on any cluster layout,
    * any partitioning, any engine — here proven by the DuckDB oracle
    * computing the identical md5-derived bucket.
    */
  val hashSample: Q = Q(
    "pipe_hash_sample",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10 = 0")
        )
        .select($"doc_id", $"source", $"lang")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source, lang FROM documents
      WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10 = 0
      ORDER BY doc_id"""))

  /** Benchmark decontamination: drop every training document that shares a
    * word-5-gram with the eval set (here: the `src0` documents stand in
    * for a benchmark). The standard shape for removing test-set leakage
    * from pretraining corpora. Same scalable skeleton as the dedup
    * operators — explode to (shingle, doc) rows and anti-join on the
    * shingle key; eval shingles are a broadcast-sized side in practice
    * (benchmarks are tiny next to the corpus).
    */
  val decontaminate: Q = Q(
    "pipe_decontaminate",
    (s, d) => {
      import s.implicits._
      val grams5 =
        "array_distinct(transform(sequence(0, size(w)-5), i -> " +
          "concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))"
      val docs = Tables.spread(Tables.documents(s, d), "doc_id")
        .select($"doc_id", $"source",
          split(expr("regexp_replace(lower(trim(text)), '\\\\s+', ' ')"), " ").as("w"))
        .filter(size($"w") >= 5)
        .select($"doc_id", $"source", explode(expr(grams5)).as("g"))
      val evalGrams = docs.filter($"source" === "src0")
        .select($"g").distinct()
      val contaminated = docs.filter($"source" =!= "src0")
        .join(broadcast(evalGrams), "g")
        .select($"doc_id").distinct()
      Tables.documents(s, d)
        .filter($"source" =!= "src0")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },
    Some("""WITH sh AS (
        SELECT doc_id, source, unnest(list_distinct(
          [ w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
            for i in range(1, len(w)-3) ])) AS g
        FROM (SELECT doc_id, source,
                string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
              FROM documents)
        WHERE len(w) >= 5),
      eval_grams AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
      contaminated AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE source <> 'src0' AND g IN (SELECT g FROM eval_grams))
      SELECT doc_id, source FROM documents
      WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      ORDER BY doc_id"""))

  /** The shared greedy context-packing core: given per-doc token counts,
    * assign docs (in doc_id order) to fixed-budget packs and summarize
    * each pack. Distributed prefix sum — a global ORDER BY window would
    * pull the whole corpus onto ONE partition (WindowExec "No Partition
    * Defined"). Instead: range-partition on the ordering key, running
    * sum WITHIN each partition (parallel windows), then add each
    * partition's prefix offset, computed from the per-partition
    * subtotals (<= #partitions rows — bounded by cluster size, not data
    * size). The cumulative values are partitioning-invariant, so the
    * result is identical to the single-window form the oracles compute.
    * `sized0` must have columns (doc_id, n_tokens: long).
    */
  private def packByBudget(s: SparkSession,
      sized0: org.apache.spark.sql.DataFrame, budget: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val sized = sized0
      .repartitionByRange(s.sparkContext.defaultParallelism, $"doc_id")
      .withColumn("pid", spark_partition_id())
      // pin the materialized partitioning: the subtotal collect and the
      // window job below are SEPARATE actions, and RangePartitioner
      // resamples boundaries per execution — unpinned, a row could land
      // in a different pid than the one its broadcast offset was
      // computed for (same rationale as pipe_global_shuffle's pin)
      .localCheckpoint()
    val nParts = s.sparkContext.defaultParallelism
    val subtotals = sized.groupBy($"pid")
      .agg(sum($"n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // offsets(p) = tokens in partitions before p; empty partitions
    // contribute 0 (they produce no subtotal row)
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, pid) => acc + subtotals.getOrElse(pid, 0L))
    // ship the (pid -> prefix offset) list back as a broadcast join, not
    // a per-partition when-chain: at cluster scale (thousands of
    // partitions) a thousand-branch CASE blows past codegen limits and
    // falls back to interpreted eval per row, while a broadcast hash
    // join on the tiny offset frame is O(1) per row at any partition
    // count
    val offDf = (0 until nParts).map(p => (p, offsets(p))).toDF("pid", "poffset")
    val w = Window.partitionBy($"pid").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized
      .join(broadcast(offDf), "pid")
      .withColumn("cum_tokens", sum($"n_tokens").over(w) + $"poffset")
      .select($"doc_id", $"n_tokens",
        expr(s"(cum_tokens - 1) div $budget").as("pack_id"))
      .groupBy($"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("pack_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"pack_id")
  }

  /** Sequence packing: assign documents to fixed-budget token bins (the
    * pre-tokenization grouping step that turns a corpus into ~equal-sized
    * training sequences). Greedy first-fit is inherently sequential, so
    * the scalable form is cumulative ([[packByBudget]]): order documents
    * on a stable key, running-sum their token counts with a distributed
    * prefix sum, and cut a new pack every `budget` tokens. Packs
    * overshoot by at most one document, the same guarantee streaming
    * packers give. Token counts here are whitespace; the real-tokenizer
    * form is [[tokenPackingBpe]].
    */
  val tokenPacking: Q = Q(
    "pipe_token_packing",
    (s, d) => {
      import s.implicits._
      packByBudget(s, Tables.documents(s, d)
        .select($"doc_id",
          size(split(trim($"text"), "\\s+")).cast(LongType).as("n_tokens")),
        budget = 2048L)
    },
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          CAST((sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // 2048
            AS BIGINT) AS pack_id
        FROM t)
      SELECT pack_id, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY pack_id ORDER BY pack_id"""))

  /** [[tokenPacking]] with the REAL tokenizer — context packing driven
    * by BPE piece counts ([[graft.functions.BpeTokenizer]], frozen
    * trained merges) instead of whitespace counts: the tokenize→pack
    * seam every training-data pipeline has, composed under one oracle.
    * Scale shape is both halves' shapes composed: encode runs per
    * DISTINCT word and broadcast-joins back (ta_bpe_encode's
    * memoization), the pack assignment is the shared distributed
    * prefix sum ([[packByBudget]]). The oracle splices the SAME frozen
    * rule replay ([[graft.functions.BpeTokenizer.duckdbReplayCtes]])
    * into the single-window packing SQL — so a drift in either the
    * tokenizer or the packer breaks the hash.
    */
  val tokenPackingBpe: Q = Q(
    "pipe_token_pack_bpe",
    (s, d) => {
      import s.implicits._
      val merges = graft.functions.BpeTokenizer.FrozenMerges
      // single-sourced UDF: the nondeterministic pushdown pin lives in
      // BpeTokenizer next to the merge tables
      val encodeUdf = graft.functions.BpeTokenizer.encodeUdf(merges)
      val words = Tables.documents(s, d)
        .select($"doc_id",
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
            .as("w"))
      val pieceCounts = words.select($"w").distinct()
        .select($"w", size(encodeUdf($"w")).cast(LongType).as("n_p"))
      val docTokens = words.join(broadcast(pieceCounts), "w")
        .groupBy($"doc_id").agg(sum($"n_p").as("n_tokens"))
      // left join from ALL docs: a doc with no [a-z] words still
      // occupies its doc_id position in the pack order with 0 tokens
      val sized = Tables.documents(s, d).select($"doc_id".as("did"))
        .join(docTokens, $"did" === $"doc_id", "left")
        .select($"did".as("doc_id"),
          coalesce($"n_tokens", lit(0L)).as("n_tokens"))
      packByBudget(s, sized, budget = 2048L)
    },
    Some(s"""WITH RECURSIVE docs AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents),
      words AS (SELECT doc_id, unnest(ws) AS w FROM docs),
      dw AS (SELECT DISTINCT w FROM words),
      ${graft.functions.BpeTokenizer
        .duckdbReplayCtes(graft.functions.BpeTokenizer.FrozenMerges)},
      doctok AS (
        SELECT w2.doc_id, CAST(sum(len(ps)) AS BIGINT) AS n_tokens
        FROM words w2 JOIN pieces USING (w) GROUP BY w2.doc_id),
      t AS (SELECT d.doc_id, COALESCE(doctok.n_tokens, 0) AS n_tokens
        FROM documents d LEFT JOIN doctok ON d.doc_id = doctok.doc_id),
      c AS (
        SELECT doc_id, n_tokens,
          CAST((sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // 2048
            AS BIGINT) AS pack_id
        FROM t)
      SELECT pack_id, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY pack_id ORDER BY pack_id"""))

  /** [[tokenPackingBpe]] with the BYTE-LEVEL tokenizer — the packing
    * seam under the TOTAL tokenizer: `pipe_token_pack_bpe` counts only
    * `[a-z]+` words, silently excluding digits, punctuation and
    * non-Latin bytes from every context budget, which under-packs any
    * corpus that isn't lowercase prose. Here the budget is counted in
    * byte-BPE pieces of the byte-rich text (`TextAnalysis.ByteRichExpr`
    * — every byte tokenizes, nothing is dropped), with the same
    * memoize-per-distinct-pretoken + broadcast-join-back shape and the
    * same distributed prefix-sum packer. The oracle splices the byte
    * replay ([[graft.functions.BpeTokenizer.duckdbByteReplayCtes]])
    * into the packing SQL — tokenizer or packer drift breaks the hash.
    */
  val tokenPackingBytes: Q = Q(
    "pipe_token_pack_bytes",
    (s, d) => {
      import s.implicits._
      val merges = graft.functions.BpeTokenizer.FrozenByteMerges
      val encodeUdf = graft.functions.BpeTokenizer.encodeBytesUdf(merges)
      val words = Tables.documents(s, d)
        .select($"doc_id",
          explode(expr(
            s"regexp_extract_all(${TextAnalysis.ByteRichExpr}, '\\\\S+', 0)"))
            .as("w"))
      val pieceCounts = words.select($"w").distinct()
        .select($"w", size(encodeUdf($"w")).cast(LongType).as("n_p"))
      val docTokens = words.join(broadcast(pieceCounts), "w")
        .groupBy($"doc_id").agg(sum($"n_p").as("n_tokens"))
      // every doc has pretokens (the enrichment adds them), but keep
      // the same all-docs left-join contract as the [a-z]+ packer
      val sized = Tables.documents(s, d).select($"doc_id".as("did"))
        .join(docTokens, $"did" === $"doc_id", "left")
        .select($"did".as("doc_id"),
          coalesce($"n_tokens", lit(0L)).as("n_tokens"))
      packByBudget(s, sized, budget = 2048L)
    },
    Some(s"""WITH RECURSIVE docs AS (
        SELECT doc_id,
          regexp_extract_all(${TextAnalysis.ByteRichExpr}, '\\S+') AS ws
        FROM documents),
      words AS (SELECT doc_id, unnest(ws) AS w FROM docs),
      dw AS (SELECT DISTINCT w FROM words),
      ${graft.functions.BpeTokenizer
        .duckdbByteReplayCtes(graft.functions.BpeTokenizer.FrozenByteMerges)},
      doctok AS (
        SELECT w2.doc_id, CAST(sum(len(ps)) AS BIGINT) AS n_tokens
        FROM words w2 JOIN pieces USING (w) GROUP BY w2.doc_id),
      t AS (SELECT d.doc_id, COALESCE(doctok.n_tokens, 0) AS n_tokens
        FROM documents d LEFT JOIN doctok ON d.doc_id = doctok.doc_id),
      c AS (
        SELECT doc_id, n_tokens,
          CAST((sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // 2048
            AS BIGINT) AS pack_id
        FROM t)
      SELECT pack_id, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY pack_id ORDER BY pack_id"""))

  /** Deterministic train/val/test split — the same stable-hash mechanism
    * as [[hashSample]] with an 80/10/10 bucket map, reported as per-source
    * split counts (the reproducibility contract: any engine, any
    * partitioning, same membership).
    */
  val splitCounts: Q = Q(
    "pipe_split_counts",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
          .as("bucket"))
        .select($"source",
          when($"bucket" < 80, "train")
            .when($"bucket" < 90, "val").otherwise("test").as("split"))
        .groupBy($"source", $"split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"source", $"split")
    },
    Some("""SELECT source,
      CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      count(*) AS n_docs
      FROM (SELECT source,
              (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 100 AS b
            FROM documents)
      GROUP BY 1, 2 ORDER BY source, split"""))

  /** Stratified quota sampling: at most K documents per source, membership
    * decided by the stable per-doc hash (not arrival order), so the sample
    * is reproducible under any partitioning and any engine. The per-source
    * rank is a window over source partitions — each stratum sorts
    * independently after one shuffle on `source`; with skewed strata the
    * rank-≤-K filter is the thing to push into a per-partition top-K
    * (as the TakeOrderedAndProject top-k queries do globally).
    */
  val quotaSample: Q = Q(
    "pipe_quota_sample",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val K = 30
      val byHash = Window.partitionBy($"source").orderBy($"h", $"doc_id")
      Tables.documents(s, d)
        .select($"doc_id", $"source", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
          .as("h"))
        .withColumn("rk", row_number().over(byHash))
        .filter($"rk" <= K)
        .select($"source", $"rk".cast(LongType).as("rk"), $"doc_id")
        .orderBy($"source", $"rk")
    },
    Some("""SELECT source, CAST(rk AS BIGINT) AS rk, doc_id FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                     doc_id) AS rk
        FROM documents)
      WHERE rk <= 30 ORDER BY source, rk"""))

  /** Importance-weighted sampling — the data-mixing primitive (upweight
    * long/high-quality documents without a global pass): keep doc iff
    * hash(doc_id) mod M < weight(doc)·M, all in integers, so membership
    * is deterministic under any partitioning and engine. Here weight =
    * min(1, n_tokens/500) — longer documents kept proportionally more
    * often; per-source keep-rates report the realized mixture. A narrow
    * filter + one aggregation; no shuffle of raw rows beyond the
    * (source)-keyed partials.
    */
  val weightedSample: Q = Q(
    "pipe_weighted_sample",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source",
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000")
            .as("h"),
          size(split(trim($"text"), "\\s+")).cast(LongType).as("n_tokens"))
        .select($"source", $"n_tokens",
          ($"h" < least(lit(10000L), $"n_tokens" * 20L)).as("kept"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", $"n_tokens").otherwise(0L)).as("kept_tokens"))
        .orderBy($"source")
    },
    Some("""WITH w AS (
        SELECT source,
          (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS h,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN h < least(10000, n_tokens * 20) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN h < least(10000, n_tokens * 20) THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM w GROUP BY source ORDER BY source"""))

  /** Temperature-flattened source mixture (T = 0.5) — the data-mixing
    * schedule used when assembling a training corpus from unequally-sized
    * sources: sampling probability ∝ (share)^T, which upweights small
    * sources relative to proportional sampling. T = 0.5 deliberately:
    * x^0.5 is `sqrt`, which IEEE 754 requires to be CORRECTLY ROUNDED —
    * bit-identical across engines on identical inputs — whereas a
    * general pow (x^0.7) is only ~1-ulp-accurate and differs between
    * Java's Math.pow and DuckDB's libm; fixed-pointing AFTER a wobbling
    * pow does not help, since floor(w·10¹⁴) flips whenever the true
    * value sits within the wobble of an integer boundary. With sqrt the
    * per-source weights floor(w·10¹⁴) are deterministic BIGINTs, the
    * normalizing sum is exact integer arithmetic, and the final
    * probabilities are one correctly-rounded double division on
    * identical operands.
    */
  val temperatureMix: Q = Q(
    "pipe_temperature_mix",
    (s, d) => {
      import s.implicits._
      val counts = Tables.documents(s, d)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      // single-row aggregates join back broadcast — no driver collect
      val weighted = counts
        .crossJoin(broadcast(counts.agg(sum($"n_docs").as("total"))))
        .select($"source", $"n_docs",
          expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / total) * 1e14) " +
            "AS BIGINT)").as("w14"))
      weighted
        .crossJoin(broadcast(weighted.agg(sum($"w14").as("z14"))))
        .select($"source", $"n_docs",
          ($"w14".cast(DoubleType) / $"z14".cast(DoubleType)).as("p_sample"),
          floor($"w14".cast(DoubleType) / $"z14".cast(DoubleType) * 1000000)
            .cast(LongType).as("ppm_budget"))
        .orderBy($"source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      t AS (SELECT sum(n_docs) AS total FROM c),
      w AS (SELECT source, n_docs,
              CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / total) * 1e14) AS BIGINT) AS w14
            FROM c, t),
      z AS (SELECT CAST(sum(w14) AS BIGINT) AS z14 FROM w)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(w14 AS DOUBLE) / CAST(z14 AS DOUBLE) AS p_sample,
        CAST(floor(CAST(w14 AS DOUBLE) / CAST(z14 AS DOUBLE) * 1000000) AS BIGINT) AS ppm_budget
      FROM w, z ORDER BY source"""))

  /** Quality-decile stratification — the curriculum/filtering readout:
    * rank every document by the quality score, cut into 10 equal-count
    * buckets, and report each bucket's population and quality range. The
    * ntile window here is a global sort — exact and fine into the
    * billions of rows per executor-sort, but at the full 100 TB the decile
    * EDGES would come from `approxQuantile` (or a two-pass fixed-bin
    * histogram) and the bucket assignment becomes a narrow per-row
    * comparison against 9 broadcast edges; the reported shape is
    * identical. Ties cannot straddle buckets: the order is total
    * (quality, doc_id).
    */
  val qualityBuckets: Q = Q(
    "pipe_quality_buckets",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val scored = Tables.documents(s, d)
        .select($"doc_id", split(trim($"text"), "\\s+").as("w"),
          length(regexp_replace($"text", "\\s+", "")).cast(LongType).as("n_letters"))
        .select($"doc_id",
          size($"w").cast(LongType).as("n_tokens"),
          size(filter($"w", t => t.isin(TextAnalysis.Stopwords: _*)))
            .cast(LongType).as("n_stop"),
          $"n_letters")
        .select($"doc_id", $"n_tokens",
          (($"n_stop".cast(DoubleType) / $"n_tokens") * 0.4 +
            ($"n_letters".cast(DoubleType) / $"n_tokens") * 0.01 +
            $"n_tokens".cast(DoubleType) * 0.0001).as("quality"))
      scored
        .withColumn("bucket",
          ntile(10).over(Window.orderBy($"quality", $"doc_id"))
            .cast(LongType))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          min($"quality").as("q_min"), max($"quality").as("q_max"),
          sum($"n_tokens").as("tokens"))
        .orderBy($"bucket")
    },
    Some("""WITH f AS (
        SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS w,
          CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_letters
        FROM documents),
      scored AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
          (CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS DOUBLE) / len(w)) * 0.4
            + (CAST(n_letters AS DOUBLE) / len(w)) * 0.01
            + CAST(len(w) AS DOUBLE) * 0.0001 AS quality
        FROM f),
      b AS (SELECT n_tokens, quality,
              CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS BIGINT) AS bucket
            FROM scored)
      SELECT bucket, count(*) AS n_docs,
        min(quality) AS q_min, max(quality) AS q_max,
        CAST(sum(n_tokens) AS BIGINT) AS tokens
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Output-shard manifest: docs are hash-assigned to 16 shards (the
    * webdataset/tar-shard layout step before training), and the manifest
    * reports each shard's document count, token total, and byte total —
    * what a loader needs to plan epochs. The stable md5 bucket makes shard
    * membership reproducible on any engine/partitioning (same mechanism as
    * [[hashSample]]); at scale the write itself is
    * `df.write.partitionBy("shard")` with this exact key, and the manifest
    * is the same one-pass map-side-combined aggregate over 16 keys.
    */
  val shardManifest: Q = Q(
    "pipe_shard_manifest",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 16")
            .as("shard"),
          size(split(trim($"text"), "\\s+")).cast(LongType).as("n_tokens"),
          $"n_chars", $"doc_id")
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("tokens"),
          sum($"n_chars").as("bytes"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
        .orderBy($"shard")
    },
    Some("""WITH t AS (
        SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 16 AS shard,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          n_chars, doc_id
        FROM documents)
      SELECT shard, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS tokens,
        CAST(sum(n_chars) AS BIGINT) AS bytes,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM t GROUP BY shard ORDER BY shard"""))

  /** Per-source dataset card — the summary table published alongside a
    * training corpus: document/token/byte volume, language spread,
    * exact-duplicate rate, and mean quality, per source. Composes the
    * already-oracled signals in ONE pass over the corpus plus one tiny
    * per-source aggregate; the dup flag is a window count over the
    * content hash (same shuffle key the exact-dedup operator uses). Mean
    * quality is fixed-pointed (floor(q·10¹²) BIGINT) before summing so
    * the per-source mean is order-free and cross-engine exact.
    */
  val datasetCard: Q = Q(
    "pipe_dataset_card",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val byHash = Window.partitionBy($"h")
      val scored = Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang", $"n_chars",
          md5(expr("regexp_replace(lower(trim(text)), '\\\\s+', ' ')")).as("h"),
          split(trim($"text"), "\\s+").as("w"),
          length(regexp_replace($"text", "\\s+", "")).cast(LongType).as("n_letters"))
        .select($"source", $"lang", $"n_chars", $"h",
          size($"w").cast(LongType).as("n_tokens"),
          size(filter($"w", t => t.isin(TextAnalysis.Stopwords: _*)))
            .cast(LongType).as("n_stop"),
          $"n_letters")
        .withColumn("is_dup", (count(lit(1)).over(byHash) > 1).cast(LongType))
        .withColumn("q12", floor(
          (($"n_stop".cast(DoubleType) / $"n_tokens") * 0.4 +
            ($"n_letters".cast(DoubleType) / $"n_tokens") * 0.01 +
            $"n_tokens".cast(DoubleType) * 0.0001) * 1e12).cast(LongType))
      scored.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("tokens"),
          sum($"n_chars").as("bytes"),
          countDistinct($"lang").as("n_langs"),
          sum($"is_dup").as("n_dup_docs"),
          (sum($"q12").cast(DoubleType) / count(lit(1)) / 1e12).as("mean_quality"))
        .orderBy($"source")
    },
    Some("""WITH f AS (
        SELECT doc_id, source, lang, n_chars,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
          string_split_regex(trim(text), '\s+') AS w,
          CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_letters
        FROM documents),
      scored AS (
        SELECT source, lang, n_chars,
          CASE WHEN count(*) OVER (PARTITION BY h) > 1 THEN 1 ELSE 0 END AS is_dup,
          CAST(len(w) AS BIGINT) AS n_tokens,
          CAST(floor((
            (CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS DOUBLE) / len(w)) * 0.4
            + (CAST(n_letters AS DOUBLE) / len(w)) * 0.01
            + CAST(len(w) AS DOUBLE) * 0.0001) * 1e12) AS BIGINT) AS q12
        FROM f)
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS tokens,
        CAST(sum(n_chars) AS BIGINT) AS bytes,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
        CAST(sum(q12) AS DOUBLE) / count(*) / 1e12 AS mean_quality
      FROM scored GROUP BY source ORDER BY source"""))

  /** Gopher-style rule filter — the published heuristic ruleset shape
    * (word-count bounds, mean-word-length band, stopword floor, alphabetic
    * floor), reported as per-source pass counts per rule plus the
    * all-rules survivor count. Every predicate is evaluated in INTEGER
    * cross-multiplication (mean len in [3,10] ⇔ 3n ≤ chars ≤ 10n;
    * stop ratio ≥ 0.06 ⇔ 50·stop ≥ 3·n; alpha ratio ≥ 0.8 ⇔
    * 5·alpha ≥ 4·n) — no float ratio ever exists, so the decision is
    * identical on any engine at any scale. One narrow pass + a tiny
    * per-source aggregate.
    */
  val gopherRules: Q = Q(
    "pipe_gopher_rules",
    (s, d) => {
      import s.implicits._
      val f = Tables.documents(s, d)
        .select($"source", split(trim($"text"), "\\s+").as("w"),
          length(regexp_replace($"text", "\\s+", "")).cast(LongType)
            .as("n_letters"))
        .select($"source",
          size($"w").cast(LongType).as("n"),
          size(filter($"w", t => t.isin(TextAnalysis.Stopwords: _*)))
            .cast(LongType).as("n_stop"),
          size(filter($"w", t => t.rlike("[a-z]"))).cast(LongType)
            .as("n_alpha"),
          $"n_letters")
        .select($"source",
          ($"n" >= 40 && $"n" <= 100000).as("r_len"),
          ($"n_letters" >= $"n" * 3 && $"n_letters" <= $"n" * 10).as("r_mwl"),
          ($"n_stop" * 50 >= $"n" * 3).as("r_stop"),
          ($"n_alpha" * 5 >= $"n" * 4).as("r_alpha"))
      f.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"r_len", 1L).otherwise(0L)).as("pass_len"),
          sum(when($"r_mwl", 1L).otherwise(0L)).as("pass_mwl"),
          sum(when($"r_stop", 1L).otherwise(0L)).as("pass_stop"),
          sum(when($"r_alpha", 1L).otherwise(0L)).as("pass_alpha"),
          sum(when($"r_len" && $"r_mwl" && $"r_stop" && $"r_alpha", 1L)
            .otherwise(0L)).as("pass_all"))
        .orderBy($"source")
    },
    Some("""WITH f AS (
        SELECT source,
          CAST(len(w) AS BIGINT) AS n,
          CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS BIGINT) AS n_stop,
          CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
          CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_letters
        FROM (SELECT source, text, string_split_regex(trim(text), '\s+') AS w
              FROM documents)),
      r AS (SELECT source,
          (n >= 40 AND n <= 100000) AS r_len,
          (n_letters >= n * 3 AND n_letters <= n * 10) AS r_mwl,
          (n_stop * 50 >= n * 3) AS r_stop,
          (n_alpha * 5 >= n * 4) AS r_alpha
        FROM f)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN r_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
        CAST(sum(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS pass_mwl,
        CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
        CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha,
        CAST(sum(CASE WHEN r_len AND r_mwl AND r_stop AND r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
      FROM r GROUP BY source ORDER BY source"""))

  /** Epoch-deterministic global shuffle — the training-order permutation:
    * every document gets a pseudorandom-but-reproducible position (order
    * by md5 of a seeded key), and positions fold into fixed-size training
    * batches. Reordering 100 TB is exactly a distributed sort, so the
    * shape is the one Spark already does well: range-exchange on the hash
    * key; the *global* position is then within-partition rank + partition
    * offsets from the ≤ #partitions subtotal rows (the same distributed
    * prefix-sum device as [[tokenPacking]] — a global ORDER BY window
    * would serialize the corpus through one task). Positions are
    * partitioning-invariant, so the single-window oracle replays them
    * exactly; a different seed string is a different epoch's permutation.
    * The keyed frame is cached before the subtotal collect: range-boundary
    * sampling and spark_partition_id are not guaranteed deterministic
    * across separate executions, so both the subtotal job and the window
    * job must observe the SAME materialized partitioning — without the
    * cache a re-execution could assign different pids and produce
    * duplicate or gapped positions.
    */
  val globalShuffle: Q = Q(
    "pipe_global_shuffle",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val keyed = Tables.documents(s, d)
        .select($"doc_id",
          md5(concat(lit("shuf42:"), $"doc_id".cast(StringType))).as("skey"))
        .repartitionByRange(s.sparkContext.defaultParallelism, $"skey", $"doc_id")
        .withColumn("pid", spark_partition_id())
        // localCheckpoint, not cache(): it pins the SAME materialized
        // partitioning for both consumers (subtotal collect + window job)
        // by truncating lineage — recompute is impossible, not merely
        // unlikely — and unlike CacheManager entries its blocks are
        // released when the plan is GC'd, so a long-lived JVM running all
        // 145 queries doesn't accumulate pinned storage from this Q
        .localCheckpoint()
      val nParts = s.sparkContext.defaultParallelism
      val subtotals = keyed.groupBy($"pid").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = (0 until nParts)
        .scanLeft(0L)((acc, pid) => acc + subtotals.getOrElse(pid, 0L))
      // broadcast-join the offsets, not a per-partition when-chain — see
      // [[tokenPacking]]: codegen-safe at thousands of partitions
      val offDf = (0 until nParts).map(p => (p, offsets(p))).toDF("pid", "poffset")
      val w = Window.partitionBy($"pid").orderBy($"skey", $"doc_id")
      keyed
        .join(broadcast(offDf), "pid")
        .withColumn("pos",
          row_number().over(w).cast(LongType) - 1L + $"poffset")
        .select($"doc_id", $"skey", $"pos",
          expr("pos div 64").as("batch_id"))
        .orderBy($"doc_id")
    },
    Some("""WITH k AS (
        SELECT doc_id,
          md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS skey
        FROM documents),
      p AS (
        SELECT doc_id, skey,
          CAST(row_number() OVER (ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos
        FROM k)
      SELECT doc_id, skey, pos, CAST(pos // 64 AS BIGINT) AS batch_id
      FROM p ORDER BY doc_id"""))

  /** Split-leakage audit: near-duplicate clusters that span the
    * train/val/test boundary — the eval-integrity report every split is
    * checked against (a test doc whose near-dup sits in train leaks the
    * answer; random splits leak exactly this way, which is why production
    * pipelines split by cluster or URL, not by document). Composes two
    * proven parts: [[Dedup.clusterDf]] canonical ids (min-label
    * propagation over the near-dup subgraph — the loop's working set is
    * component members, not the corpus) and [[splitCounts]]' stable-hash
    * 80/10/10 assignment (membership reproducible on any engine, any
    * partitioning). The audit itself adds one groupBy on canonical_id
    * (cluster-sized groups; the distinct-split count is over ≤ 3 values)
    * and one map-side-combinable rollup per split. Per split: doc count,
    * docs whose cluster crosses a split boundary, and distinct crossing
    * clusters.
    */
  val splitLeakage: Q = Q(
    "pipe_split_leakage",
    (s, d) => {
      import s.implicits._
      val split = Tables.documents(s, d)
        .select($"doc_id", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
          .as("bucket"))
        .select($"doc_id",
          when($"bucket" < 80, "train")
            .when($"bucket" < 90, "val").otherwise("test").as("split"))
      val labeled = Dedup.clusterDf(s, d).join(split, "doc_id")
      val span = labeled.groupBy($"canonical_id")
        .agg(countDistinct($"split").as("n_splits"))
      labeled.join(span, "canonical_id")
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"n_splits" > 1, 1L).otherwise(0L)).as("n_leaky_docs"),
          countDistinct(when($"n_splits" > 1, $"canonical_id"))
            .as("n_leaky_clusters"))
        .orderBy($"split")
    },
    Some(s"""WITH RECURSIVE ${Dedup.ClustersDuckCtes},
      sp AS (
        SELECT doc_id,
          CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT doc_id,
                (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 100 AS b
              FROM documents)),
      lab AS (SELECT cl.canonical_id, cl.doc_id, sp.split
              FROM cl JOIN sp USING (doc_id)),
      span AS (SELECT canonical_id, count(DISTINCT split) AS n_splits
               FROM lab GROUP BY canonical_id)
      SELECT split, count(*) AS n_docs,
        CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs,
        CAST(count(DISTINCT CASE WHEN n_splits > 1 THEN canonical_id END) AS BIGINT) AS n_leaky_clusters
      FROM lab JOIN span USING (canonical_id)
      GROUP BY split ORDER BY split"""))

  /** Z-ORDER clustering key under the driver's oracle — the layout
    * lever for multi-dimensional scan pruning
    * ([[graft.pipeline.Layout]]): each event's (user_id, event time)
    * pair is min/max-scaled to 16 bits per dimension (integer
    * arithmetic) and bit-interleaved into a Morton z-value; writing
    * range-partitioned and sorted by it gives every file a tight
    * min/max box in BOTH dimensions, so a (user-range × time-range)
    * probe prunes to ~O(√files) via ordinary parquet statistics
    * (measured in LayoutSpec; no index structure, just a smarter
    * write). The entry pins the full bit ladder — scaling, the four
    * spread-mask steps, the interleave — against DuckDB's independent
    * bitwise engine, so the layout key is provably engine-portable:
    * top-20 events per z-bucket prefix keeps the result small while
    * covering the whole key range.
    */
  val zorderKey: Q = Q(
    "pipe_zorder_key",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val Array(minU, maxU, minT, maxT) =
        ev.agg(min($"user_id"), max($"user_id"), min($"ts_us"), max($"ts_us"))
          .head.toSeq.map(_.asInstanceOf[Long]).toArray
      val z = graft.pipeline.Layout.zvalue16(
        graft.pipeline.Layout.scale16($"user_id", minU, maxU),
        graft.pipeline.Layout.scale16($"ts_us", minT, maxT))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"z_bucket").orderBy($"z", $"event_id")
      ev.withColumn("z", z)
        // shiftright, not Column./ — the latter is DOUBLE division; exact
        // here (z <= 2^32 < 2^53) but the integral form keeps both bucket
        // sites under the same >2^53-safe discipline as the 3-D twin
        .withColumn("z_bucket", shiftright($"z", 28))
        .withColumn("rk", row_number().over(w)).filter($"rk" <= 20)
        .select($"z_bucket", $"z", $"event_id", $"user_id", $"ts_us")
        .orderBy($"z_bucket", $"z", $"event_id")
    },
    Some("""WITH b AS (
        SELECT min(user_id) AS min_u, max(user_id) AS max_u,
          min(epoch_us(ts)) AS min_t, max(epoch_us(ts)) AS max_t
        FROM events),
      s AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          (user_id - min_u) * 65535 // (max_u - min_u) AS su,
          (epoch_us(ts) - min_t) * 65535 // (max_t - min_t) AS st
        FROM events, b),
      sp AS (
        SELECT event_id, user_id, ts_us, su, st,
          -- Morton spread of su to even bits: the same 4-step mask ladder
          ((su | (su << 8)) & 16711935) AS u1,
          ((st | (st << 8)) & 16711935) AS t1
        FROM s),
      sp2 AS (
        SELECT event_id, user_id, ts_us,
          ((u1 | (u1 << 4)) & 252645135) AS u2,
          ((t1 | (t1 << 4)) & 252645135) AS t2
        FROM sp),
      sp3 AS (
        SELECT event_id, user_id, ts_us,
          ((u2 | (u2 << 2)) & 858993459) AS u3,
          ((t2 | (t2 << 2)) & 858993459) AS t3
        FROM sp2),
      z AS (
        SELECT event_id, user_id, ts_us,
          (((u3 | (u3 << 1)) & 1431655765)
            | ((((t3 | (t3 << 1)) & 1431655765)) << 1)) AS z
        FROM sp3),
      rk AS (
        SELECT z // 268435456 AS z_bucket, z, event_id, user_id, ts_us,
          row_number() OVER (PARTITION BY z // 268435456
            ORDER BY z, event_id) AS rk
        FROM z)
      SELECT z_bucket, z, event_id, user_id, ts_us
      FROM rk WHERE rk <= 20
      ORDER BY z_bucket, z, event_id"""))

  /** 3-D form of [[zorderKey]] — the 63-bit key over (user_id, event
    * time, cents), DuckDB-oracled with the stride-3 mask ladder stated
    * in independent SQL (mask constants interpolated from the SAME Scala
    * literals [[graft.pipeline.Layout.spread21]] uses, so engine and
    * oracle cannot drift apart silently). `floor(value*100)` on both
    * sides: Spark's double→bigint cast truncates where DuckDB's rounds,
    * the classic cross-engine cast trap. Top-20 per z-bucket keeps the
    * result small while covering the key range.
    */
  val zorderKey3: Q = {
    val m1 = 0x1F00000000FFFFL
    val m2 = 0x1F0000FF0000FFL
    val m3 = 0x100F00F00F00F00FL
    val m4 = 0x10C30C30C30C30C3L
    val m5 = 0x1249249249249249L
    // the ladder is stated step-by-step through CTEs instead of one
    // nested expression — identical shape to the 2-D oracle
    Q(
      "pipe_zorder_key3",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"event_id", $"user_id",
            expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        val b = ev.agg(min($"user_id"), max($"user_id"),
            min($"ts_us"), max($"ts_us"), min($"cents"), max($"cents"))
          .head.toSeq.map(_.asInstanceOf[Long])
        val z = graft.pipeline.Layout.zvalue21(
          graft.pipeline.Layout.scale21($"user_id", b(0), b(1)),
          graft.pipeline.Layout.scale21($"ts_us", b(2), b(3)),
          graft.pipeline.Layout.scale21($"cents", b(4), b(5)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"z_bucket").orderBy($"z", $"event_id")
        ev.withColumn("z", z)
          // shiftright, not Column./ — z is a non-negative 63-bit value,
          // and Column./ is DOUBLE division: a long within ~512 below a
          // multiple of 2^57 can round UP through the 52-bit mantissa and
          // land one bucket past the oracle's exact integer `//`
          // (boundary fixture: ZorderBucketBoundarySpec)
          .withColumn("z_bucket", shiftright($"z", 57))
          .withColumn("rk", row_number().over(w)).filter($"rk" <= 20)
          .select($"z_bucket", $"z", $"event_id", $"user_id", $"ts_us",
            $"cents")
          .orderBy($"z_bucket", $"z", $"event_id")
      },
      Some(s"""WITH b AS (
          SELECT min(user_id) AS min_u, max(user_id) AS max_u,
            min(epoch_us(ts)) AS min_t, max(epoch_us(ts)) AS max_t,
            min(CAST(floor(value * 100) AS BIGINT)) AS min_c,
            max(CAST(floor(value * 100) AS BIGINT)) AS max_c
          FROM events),
        s AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us,
            CAST(floor(value * 100) AS BIGINT) AS cents,
            (user_id - min_u) * 2097151 // (max_u - min_u) AS su,
            (epoch_us(ts) - min_t) * 2097151 // (max_t - min_t) AS st,
            (CAST(floor(value * 100) AS BIGINT) - min_c) * 2097151
              // (max_c - min_c) AS sc
          FROM events, b),
        -- each ladder step uses the overflow-free identity
        -- (x | x<<s) & m  ==  (x & m) | ((x & (m>>s)) << s):
        -- DuckDB's << is overflow-CHECKED where Spark/Java's wraps, and
        -- the wrapped-away bits are exactly the ones the mask drops
        l1 AS (
          SELECT event_id, user_id, ts_us, cents,
            ((su & $m1) | ((su & ${m1 >> 32}) << 32)) AS u1,
            ((st & $m1) | ((st & ${m1 >> 32}) << 32)) AS t1,
            ((sc & $m1) | ((sc & ${m1 >> 32}) << 32)) AS c1
          FROM s),
        l2 AS (
          SELECT event_id, user_id, ts_us, cents,
            ((u1 & $m2) | ((u1 & ${m2 >> 16}) << 16)) AS u2,
            ((t1 & $m2) | ((t1 & ${m2 >> 16}) << 16)) AS t2,
            ((c1 & $m2) | ((c1 & ${m2 >> 16}) << 16)) AS c2
          FROM l1),
        l3 AS (
          SELECT event_id, user_id, ts_us, cents,
            ((u2 & $m3) | ((u2 & ${m3 >> 8}) << 8)) AS u3,
            ((t2 & $m3) | ((t2 & ${m3 >> 8}) << 8)) AS t3,
            ((c2 & $m3) | ((c2 & ${m3 >> 8}) << 8)) AS c3
          FROM l2),
        l4 AS (
          SELECT event_id, user_id, ts_us, cents,
            ((u3 & $m4) | ((u3 & ${m4 >> 4}) << 4)) AS u4,
            ((t3 & $m4) | ((t3 & ${m4 >> 4}) << 4)) AS t4,
            ((c3 & $m4) | ((c3 & ${m4 >> 4}) << 4)) AS c4
          FROM l3),
        z AS (
          SELECT event_id, user_id, ts_us, cents,
            (((u4 & $m5) | ((u4 & ${m5 >> 2}) << 2))
              | (((t4 & $m5) | ((t4 & ${m5 >> 2}) << 2)) << 1)
              | (((c4 & $m5) | ((c4 & ${m5 >> 2}) << 2)) << 2)) AS z
          FROM l4),
        rk AS (
          SELECT z // ${1L << 57} AS z_bucket, z, event_id, user_id,
            ts_us, cents,
            row_number() OVER (PARTITION BY z // ${1L << 57}
              ORDER BY z, event_id) AS rk
          FROM z)
        SELECT z_bucket, z, event_id, user_id, ts_us, cents
        FROM rk WHERE rk <= 20
        ORDER BY z_bucket, z, event_id"""))
  }

  /** The z-order layout's WRITE path under the driver's oracle — the
    * `pipe_zorder_key*` entries hash-check the KEY arithmetic; this one
    * runs the actual [[graft.pipeline.Layout.zorderWrite3]] (range
    * exchange + sort + parquet write to a scratch dir), reads the
    * layout back through a selective 3-D box predicate (the probe the
    * layout exists to serve — row-group pruning observed in
    * LayoutScanPruningSpec), and hash-matches the surviving rows
    * against the same box stated directly over the source table. A
    * layout write that lost, duplicated, or mangled any row — or a
    * filter the new file organization somehow mis-served — breaks the
    * hash. Box bounds are integer arithmetic on driver-side min/max
    * (non-negative spans, so Scala truncation == DuckDB floor `//`).
    */
  val zorderRoundtrip: Q = Q(
    "pipe_zorder_roundtrip",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val dir = scratchDir("zorder-roundtrip")
      // one bounds aggregation shared between the write's scaling and
      // the probe-box computation (the review caught the double scan)
      val bRow = ev.agg(min($"user_id"), max($"user_id"), min($"ts_us"),
          max($"ts_us"), min($"cents"), max($"cents"))
        .head.toSeq
      require(bRow.forall(_ != null),
        "pipe_zorder_roundtrip: events table is empty — no bounds to scale by")
      val b = bRow.map(_.asInstanceOf[Long])
      graft.pipeline.Layout.zorderWrite3(ev, "user_id", "ts_us", "cents",
        dir, nFiles = 32, b.toArray)
      // 50% per dimension: 0.5^3 = 12.5% of a uniform corpus survives —
      // selective enough to exercise pruning, populous enough that the
      // hash match is never vacuously empty at sf0.01
      def lo(i: Int) = b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 25 / 100
      def hi(i: Int) = b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 75 / 100
      s.read.parquet(dir)
        .filter($"user_id" >= lo(0) && $"user_id" <= hi(0) &&
          $"ts_us" >= lo(1) && $"ts_us" <= hi(1) &&
          $"cents" >= lo(2) && $"cents" <= hi(2))
        .select($"event_id", $"user_id", $"ts_us", $"cents")
        .orderBy($"event_id")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      b AS (
        SELECT min(user_id) AS mn0, max(user_id) AS mx0,
          min(ts_us) AS mn1, max(ts_us) AS mx1,
          min(cents) AS mn2, max(cents) AS mx2 FROM src)
      SELECT event_id, user_id, ts_us, cents
      FROM src, b
      WHERE user_id >= mn0 + (mx0 - mn0) * 25 // 100
        AND user_id <= mn0 + (mx0 - mn0) * 75 // 100
        AND ts_us >= mn1 + (mx1 - mn1) * 25 // 100
        AND ts_us <= mn1 + (mx1 - mn1) * 75 // 100
        AND cents >= mn2 + (mx2 - mn2) * 25 // 100
        AND cents <= mn2 + (mx2 - mn2) * 75 // 100
      ORDER BY event_id"""))

  /** The ingest-and-serve LOOP under the driver's oracle, on the
    * versioned table: four appends (the at-rest shape of streaming
    * ingest), one z-order compaction folding the pile, and a read —
    * per-user rollups of the served table hash-matched against the
    * source. Any row lost or duplicated anywhere in append → publish →
    * compact → publish → read breaks the hash. (`VersionedLiveWriterSpec`
    * runs the same composition concurrently.)
    */
  val guardedIngest: Q = Q(
    "pipe_guarded_ingest",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("guarded-ingest")
      (0 until 4).foreach { k =>
        graft.pipeline.VersionedTable.append(
          ev.filter(pmod($"event_id", lit(4L)) === k), root,
          Seq("user_id", "ts_us"))
      }
      graft.pipeline.VersionedTable.compactZorder(s, root, 8)
      graft.pipeline.VersionedTable.read(s, root)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          min($"ts_us").as("first_us"), max($"ts_us").as("last_us"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, count(*) AS n_events,
        min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** The versioned table's BOX PROBE under the driver's oracle: two
    * appends + one z-order compaction (the manifest records each
    * file's footprint from its parquet footer), then a selective 2-D
    * box through [[graft.pipeline.VersionedTable.boxRead]] — the
    * planning-time FILE pruning path — hash-matched per user against
    * the same box stated directly over the source table. A manifest
    * entry with a wrong footprint, a pruned file that actually
    * intersected the box, or any row lost in append → compact →
    * prune → read breaks the hash. (`VersionedTableSpec` additionally
    * asserts the file-count shrink; this entry pins the SEMANTICS.)
    */
  val manifestPrune: Q = Q(
    "pipe_manifest_prune",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("manifest-prune")
      (0 until 2).foreach { k =>
        graft.pipeline.VersionedTable.append(
          ev.filter(pmod($"event_id", lit(2L)) === k), root,
          Seq("user_id", "ts_us"))
      }
      graft.pipeline.VersionedTable.compactZorder(s, root, 16)
      val bRow = ev.agg(min($"user_id"), max($"user_id"),
          min($"ts_us"), max($"ts_us")).head.toSeq
      require(bRow.forall(_ != null),
        "pipe_manifest_prune: events table is empty")
      val b = bRow.map(_.asInstanceOf[Long])
      def lo(i: Int) = b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 25 / 100
      def hi(i: Int) = b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 75 / 100
      graft.pipeline.VersionedTable.boxRead(s, root,
          Seq(("user_id", lo(0), hi(0)), ("ts_us", lo(1), hi(1))))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"event_id").as("id_sum"),
          min($"ts_us").as("first_us"), max($"ts_us").as("last_us"))
        .orderBy($"user_id")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (
        SELECT min(user_id) AS mn0, max(user_id) AS mx0,
          min(ts_us) AS mn1, max(ts_us) AS mx1 FROM src)
      SELECT user_id, count(*) AS n_events,
        CAST(sum(event_id) AS BIGINT) AS id_sum,
        min(ts_us) AS first_us, max(ts_us) AS last_us
      FROM src, b
      WHERE user_id >= mn0 + (mx0 - mn0) * 25 // 100
        AND user_id <= mn0 + (mx0 - mn0) * 75 // 100
        AND ts_us >= mn1 + (mx1 - mn1) * 25 // 100
        AND ts_us <= mn1 + (mx1 - mn1) * 75 // 100
      GROUP BY user_id ORDER BY user_id"""))

  /** The 3-D layout's box probe under the driver's oracle — a
    * (user, time, value)-style versioned table compacted by a 3-D
    * z-value ([[graft.pipeline.VersionedTable.compactZorder]] with
    * three `by` columns) and probed through
    * [[graft.pipeline.VersionedTable.boxRead]] on all three. Same proof
    * shape as [[manifestPrune]] with the third dimension live: any
    * wrong footprint, wrongly-pruned file, or row lost across
    * append → 3-D compact → probe → read breaks the hash.
    */
  val manifestPrune3: Q = Q(
    "pipe_manifest_prune3",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val root = scratchDir("manifest-prune3")
      val dims = Seq("user_id", "ts_us", "cents")
      graft.pipeline.VersionedTable.append(ev, root, dims)
      graft.pipeline.VersionedTable.compactZorder(s, root, 16, by = dims)
      val bRow = ev.agg(min($"user_id"), max($"user_id"),
          min($"ts_us"), max($"ts_us"), min($"cents"), max($"cents"))
        .head.toSeq
      require(bRow.forall(_ != null),
        "pipe_manifest_prune3: events table is empty")
      val b = bRow.map(_.asInstanceOf[Long])
      def lo(i: Int) = b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 25 / 100
      def hi(i: Int) = b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 75 / 100
      graft.pipeline.VersionedTable.boxRead(s, root,
          Seq(("user_id", lo(0), hi(0)), ("ts_us", lo(1), hi(1)),
            ("cents", lo(2), hi(2))))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"event_id").as("id_sum"), sum($"cents").as("cents_sum"))
        .orderBy($"user_id")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      b AS (
        SELECT min(user_id) AS mn0, max(user_id) AS mx0,
          min(ts_us) AS mn1, max(ts_us) AS mx1,
          min(cents) AS mn2, max(cents) AS mx2 FROM src)
      SELECT user_id, count(*) AS n_events,
        CAST(sum(event_id) AS BIGINT) AS id_sum,
        CAST(sum(cents) AS BIGINT) AS cents_sum
      FROM src, b
      WHERE user_id >= mn0 + (mx0 - mn0) * 25 // 100
        AND user_id <= mn0 + (mx0 - mn0) * 75 // 100
        AND ts_us >= mn1 + (mx1 - mn1) * 25 // 100
        AND ts_us <= mn1 + (mx1 - mn1) * 75 // 100
        AND cents >= mn2 + (mx2 - mn2) * 25 // 100
        AND cents <= mn2 + (mx2 - mn2) * 75 // 100
      GROUP BY user_id ORDER BY user_id"""))

  /** The snapshot-VERSIONED table under the driver's oracle
    * ([[graft.pipeline.VersionedTable]] — immutable files, one atomic
    * manifest rename per version, the Iceberg/Delta architecture):
    * three deterministic appends (events split by `event_id % 3`),
    * one z-order compaction, then TIME TRAVEL — per-version row count
    * and id sum for every published version, read back through
    * `readVersion`. The oracle states each version's expected content
    * declaratively (cumulative thirds; the compacted v4 must equal v3
    * exactly — compaction is a pure layout change). Any version
    * mis-published, any history row lost to the rewrite, or any
    * snapshot bleeding into another breaks the hash.
    */
  val versionedTable: Q = Q(
    "pipe_versioned_table",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("versioned-table")
      (0 until 3).foreach { k =>
        graft.pipeline.VersionedTable.append(
          ev.filter(pmod($"event_id", lit(3L)) === k), root,
          Seq("user_id", "ts_us"))
      }
      graft.pipeline.VersionedTable.compactZorder(s, root, nFiles = 8)
      graft.pipeline.VersionedTable.versions(s, root).map { v =>
        graft.pipeline.VersionedTable.readVersion(s, root, v)
          .agg(lit(v).as("version"), count(lit(1)).as("n_rows"),
            sum($"event_id").as("id_sum"),
            sum($"user_id").as("user_sum"))
      }.reduce(_ unionAll _).orderBy($"version")
    },
    Some("""WITH v(version) AS (VALUES (1), (2), (3), (4))
      SELECT CAST(v.version AS BIGINT) AS version,
        count(*) AS n_rows,
        CAST(sum(e.event_id) AS BIGINT) AS id_sum,
        CAST(sum(e.user_id) AS BIGINT) AS user_sum
      FROM v JOIN events e
        ON e.event_id % 3 < LEAST(v.version, 3)
      GROUP BY v.version ORDER BY version"""))

  /** The versioned table's POINT-LOOKUP path under the driver's
    * oracle: build the table (append + z-order compaction — blooms
    * written for every stat column), then resolve a deterministic set
    * of `event_id` equality probes through
    * [[graft.pipeline.VersionedTable.pointRead]] — manifest box stage
    * then footer-only bloom stage before any data page — and
    * hash-match the unioned rows against the same IN-list stated over
    * the source. A bloom that wrongly EXCLUDES the holding file (the
    * only way blooms can break correctness) loses a row and breaks the
    * hash. (`VersionedTableSpec` additionally asserts the two-stage
    * file-count shrink; this entry pins the semantics.)
    */
  val pointLookup: Q = Q(
    "pipe_point_lookup",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("point-lookup")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))
      graft.pipeline.VersionedTable.compactZorder(s, root, nFiles = 16)
      val maxId = ev.agg(max($"event_id")).head.getLong(0)
      // 8 deterministic probes spread over the id space — DEDUPED to
      // mirror the oracle's SELECT DISTINCT pid: on a tiny id space
      // (maxId < 9) two probe formulas collide, and unioning both
      // pointReads would double their rows on the engine side only
      val probes = (1L to 8L).map(k => maxId * k / 9).distinct
      probes.map(v =>
          graft.pipeline.VersionedTable.pointRead(s, root, "event_id", v))
        .reduce(_ unionAll _)
        .select($"event_id", $"user_id", $"ts_us")
        .orderBy($"event_id")
    },
    Some("""WITH b AS (SELECT max(event_id) AS mx FROM events),
      probes AS (
        SELECT DISTINCT mx * k // 9 AS pid
        FROM b, unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS t(k))
      SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us
      FROM events e JOIN probes p ON e.event_id = p.pid
      ORDER BY e.event_id"""))

  /** Row-level CHANGE DATA CAPTURE over the versioned table under the
    * driver's oracle ([[graft.pipeline.VersionedTable.readChangesCdc]]
    * — Delta/Iceberg-style `_change_type` insert/delete rows resolved
    * from manifest diffs alone, no change log): one deterministic DML
    * history (append everything → delete a user-id box → upsert every
    * `event_id % 7 == 0` key with a shifted user id → z-order compact),
    * then the full-range CDC feed aggregated per (version, change
    * type), PLUS a `final_mirror` row aggregating the table a polling
    * consumer reconstructs by replaying that feed from empty. The
    * oracle states every version's expected change set declaratively —
    * the MERGE decomposition is pinned exactly: v2's deletes are the
    * box rows, v3's deletes are the surviving `%7` rows' OLD selves,
    * v3's inserts are all update rows, the compaction contributes
    * NOTHING (no v4 group may appear), and the mirror must equal
    * (survivors ∪ updates). The engine additionally proves
    * mirror == `read` by multiset difference before emitting anything.
    */
  val versionedCdc: Q = Q(
    "pipe_versioned_cdc",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("versioned-cdc")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))                       // v1
      val b = ev.agg(min($"user_id"), max($"user_id")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 25 / 100, mn + (mx - mn) * 75 / 100)
      graft.pipeline.VersionedTable.deleteRange(s, root,
        Seq(("user_id", lo, hi)))                                  // v2
      val updates = ev.filter(pmod($"event_id", lit(7L)) === 0)
        .withColumn("user_id", $"user_id" + 1000000L)
      graft.pipeline.VersionedTable.upsertByKey(s, root, updates,
        Seq("event_id"))                                           // v3
      graft.pipeline.VersionedTable.compactZorder(s, root, nFiles = 8) // v4
      val latest = graft.pipeline.VersionedTable
        .latestVersion(s, root).get
      // cached WITHIN this one evaluation: the per-version filters of
      // the replay fold and the final aggregate reference the manifest-
      // diff feed ~9 times; uncached, each reference re-runs its
      // exceptAll resolution (guide §5 caching — reused and expensive)
      // localCheckpoint keeps its blocks on executors only: losing an
      // executor (or dynamic allocation releasing one) fails this
      // evaluation instead of recomputing the feed
      val cdc = graft.pipeline.VersionedTable
        .readChangesCdc(s, root, 0L, latest).localCheckpoint()
      // replay the feed from empty — the mirror IS the consumer's view
      val data = Seq($"event_id", $"user_id", $"ts_us")
      val mirror = (1L to latest).foldLeft(Option.empty[DataFrame]) {
        (acc, v) =>
          val batch = cdc.filter($"_commit_version" === v)
          val ins = batch.filter($"_change_type" === "insert")
            .select(data: _*)
          val del = batch.filter($"_change_type" === "delete")
            .select(data: _*)
          Some(acc.fold(ins)(m => m.exceptAll(del).unionAll(ins)))
      }.get.localCheckpoint() // materialized once (AQE-coalesced); the
      // guard and the output union read the checkpointed blocks, which
      // live on executors only — an executor loss fails the entry
      // rather than replaying the fold
      // the CDC contract, proven before anything is emitted:
      // mirror == read, as multisets
      val table = graft.pipeline.VersionedTable.read(s, root)
        .select(data: _*)
      require(sameMultiset(mirror, table),
        "pipe_versioned_cdc: the CDC-replayed mirror diverged from read()")
      cdc.select($"_commit_version".as("version"),
          $"_change_type".as("change"), $"event_id", $"user_id")
        .unionAll(mirror.select(lit(99L).as("version"),
          lit("final_mirror").as("change"), $"event_id", $"user_id"))
        .groupBy($"version", $"change")
        .agg(count(lit(1)).as("n_rows"),
          sum($"event_id").as("id_sum"), sum($"user_id").as("user_sum"))
        .orderBy($"version", $"change")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 25 // 100 AS lo,
                     mn + (mx - mn) * 75 // 100 AS hi FROM b),
      upd AS (
        SELECT event_id, user_id + 1000000 AS user_id FROM src
        WHERE event_id % 7 = 0),
      changes AS (
        SELECT 1 AS version, 'insert' AS change, event_id, user_id FROM src
        UNION ALL
        SELECT 2, 'delete', event_id, user_id FROM src, box
        WHERE user_id BETWEEN lo AND hi
        UNION ALL
        SELECT 3, 'delete', event_id, user_id FROM src, box
        WHERE event_id % 7 = 0 AND user_id NOT BETWEEN lo AND hi
        UNION ALL
        SELECT 3, 'insert', event_id, user_id FROM upd
        UNION ALL
        SELECT 99, 'final_mirror', event_id, user_id FROM src, box
        WHERE user_id NOT BETWEEN lo AND hi AND event_id % 7 <> 0
        UNION ALL
        SELECT 99, 'final_mirror', event_id, user_id FROM upd)
      SELECT CAST(version AS BIGINT) AS version, change,
        count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
        CAST(sum(user_id) AS BIGINT) AS user_sum
      FROM changes GROUP BY 1, 2 ORDER BY version, change"""))

  /** MERGE-ON-READ deletes on the versioned table under the driver's
    * oracle ([[graft.pipeline.VersionedTable.deleteRangeMor]] — the
    * Iceberg-v2 shape: a delete is ONE metadata marker, no data files
    * rewritten; readers apply it, `fastCount` subtracts its exact
    * matched count, and the marker is FILE-scoped so later appends
    * inside the same box survive). The staged history exercises every
    * contract: append+compact → mor-delete a user-id box → re-append
    * rows INSIDE the box (they must survive) → materialize (visible
    * rows unchanged) → z-order compact (ditto). Each stage emits its
    * aggregate; `fast_count` is the manifest-served count after the
    * marker — any wrong marker scope, a double-subtraction, a
    * resurrected row, or a materialization that changes visible data
    * breaks the hash against the declaratively stated stages.
    */
  val versionedMor: Q = Q(
    "pipe_versioned_mor",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("versioned-mor")
      val stats = Seq("user_id", "ts_us", "event_id")
      graft.pipeline.VersionedTable.append(ev, root, stats)        // v1
      graft.pipeline.VersionedTable.compactZorder(s, root, 8)      // v2
      val b = ev.agg(min($"user_id"), max($"user_id")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 25 / 100, mn + (mx - mn) * 75 / 100)
      graft.pipeline.VersionedTable.deleteRangeMor(s, root,
        Seq(("user_id", lo, hi)))                                  // v3
      def stage(name: String) = graft.pipeline.VersionedTable
        .read(s, root)
        .agg(lit(name).as("stage"), count(lit(1)).as("n_rows"),
          sum($"event_id").as("id_sum"), sum($"user_id").as("user_sum"))
      val afterMor = stage("after_mor")
      val fastRow = Seq(("fast_count",
          graft.pipeline.VersionedTable.fastCount(s, root), 0L, 0L))
        .toDF("stage", "n_rows", "id_sum", "user_sum")
      graft.pipeline.VersionedTable.append(
        ev.filter(pmod($"event_id", lit(5L)) === 0), root, stats)  // v4
      val afterAppend = stage("after_append")
      graft.pipeline.VersionedTable.materializeDeletes(s, root)    // v5
      val afterMat = stage("after_materialize")
      graft.pipeline.VersionedTable.compactZorder(s, root, 8)      // v6
      val afterCmp = stage("after_compact")
      afterMor.unionAll(fastRow).unionAll(afterAppend)
        .unionAll(afterMat).unionAll(afterCmp)
        .orderBy($"stage")
    },
    Some("""WITH src AS (SELECT event_id, user_id FROM events),
      b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 25 // 100 AS lo,
                     mn + (mx - mn) * 75 // 100 AS hi FROM b),
      vis AS (SELECT event_id, user_id FROM src, box
              WHERE user_id NOT BETWEEN lo AND hi),
      fin AS (SELECT event_id, user_id FROM vis
              UNION ALL
              SELECT event_id, user_id FROM src WHERE event_id % 5 = 0),
      stages AS (
        SELECT 'after_mor' AS stage, count(*) AS n_rows,
          sum(event_id) AS id_sum, sum(user_id) AS user_sum FROM vis
        UNION ALL
        SELECT 'fast_count', count(*), 0, 0 FROM vis
        UNION ALL
        SELECT 'after_append', count(*), sum(event_id), sum(user_id) FROM fin
        UNION ALL
        SELECT 'after_materialize', count(*), sum(event_id),
          sum(user_id) FROM fin
        UNION ALL
        SELECT 'after_compact', count(*), sum(event_id), sum(user_id)
        FROM fin)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(id_sum AS BIGINT) AS id_sum,
        CAST(user_sum AS BIGINT) AS user_sum
      FROM stages ORDER BY stage"""))

  /** The versioned table served through PLAIN SQL under the driver's
    * oracle ([[graft.pipeline.VersionedTable.sqlRead]] — a custom
    * FileIndex turns the query's own pushed predicates into manifest
    * shard/file pruning, the Delta/Iceberg Spark-integration shape):
    * build + z-order compact the table, register a temp view, and run
    * the probe as ordinary `spark.sql` — no boxRead, no explicit
    * probes; the WHERE clause itself drives the pruning. Hash-matched
    * against the same window stated over the raw events, so a wrongly
    * pruned file (a row lost to pruning) or a mistranslated predicate
    * breaks the hash.
    */
  val vtSql: Q = Q(
    "pipe_vt_sql",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-sql")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))
      graft.pipeline.VersionedTable.compactZorder(s, root, nFiles = 16)
      graft.pipeline.VersionedTable.sqlRead(s, root)
        .createOrReplaceTempView("graft_vt_sql")
      val b = ev.agg(min($"user_id"), max($"user_id"),
        min($"ts_us"), max($"ts_us")).head
      def pct(lo: Long, hi: Long, p: Int) = lo + (hi - lo) * p / 100
      val (uLo, uHi) = (pct(b.getLong(0), b.getLong(1), 25),
        pct(b.getLong(0), b.getLong(1), 75))
      val (tLo, tHi) = (pct(b.getLong(2), b.getLong(3), 25),
        pct(b.getLong(2), b.getLong(3), 75))
      s.sql(s"""SELECT user_id, count(*) AS n_events,
          CAST(sum(event_id) AS BIGINT) AS id_sum,
          min(ts_us) AS first_us, max(ts_us) AS last_us
        FROM graft_vt_sql
        WHERE user_id >= $uLo AND user_id <= $uHi
          AND ts_us >= $tLo AND ts_us <= $tHi
        GROUP BY user_id ORDER BY user_id""")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (
        SELECT min(user_id) AS mn0, max(user_id) AS mx0,
          min(ts_us) AS mn1, max(ts_us) AS mx1 FROM src)
      SELECT user_id, count(*) AS n_events,
        CAST(sum(event_id) AS BIGINT) AS id_sum,
        min(ts_us) AS first_us, max(ts_us) AS last_us
      FROM src, b
      WHERE user_id >= mn0 + (mx0 - mn0) * 25 // 100
        AND user_id <= mn0 + (mx0 - mn0) * 75 // 100
        AND ts_us >= mn1 + (mx1 - mn1) * 25 // 100
        AND ts_us <= mn1 + (mx1 - mn1) * 75 // 100
      GROUP BY user_id ORDER BY user_id"""))

  /** TYPED column statistics under the driver's oracle: the versioned
    * table records string (and date/timestamp/decimal) min-max bounds
    * per file — Iceberg's typed bounds, with truncated string bounds —
    * and [[graft.pipeline.VersionedTable.sqlRead]]'s FileIndex turns
    * pushed STRING predicates into manifest probes. The table is
    * lang-clustered so the bounds have something to bite on
    * (`VersionedTypedStatsSpec` asserts the observed numFiles shrink;
    * this entry pins the semantics): three probe shapes — string
    * equality, string IN-list, string range conjoined with a second
    * typed column's equality — each aggregated and hash-matched
    * against the same predicates stated over the raw parquet. A bound
    * truncated unsoundly, a mistranslated probe, or a file wrongly
    * pruned loses rows and breaks the hash.
    */
  val vtStringPrune: Q = Q(
    "pipe_vt_string_prune",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"lang", $"source", $"n_chars")
        .repartitionByRange(12, $"lang", $"doc_id")
      val root = scratchDir("vt-string-prune")
      graft.pipeline.VersionedTable.append(docs, root,
        Seq("doc_id", "n_chars"), Seq("lang", "source"))
      graft.pipeline.VersionedTable.sqlRead(s, root)
        .createOrReplaceTempView("graft_vt_typed")
      def agg(label: String, where: String) =
        s.sql(s"""SELECT '$label' AS probe, lang,
            count(*) AS n_docs, sum(n_chars) AS chars_sum
          FROM graft_vt_typed WHERE $where GROUP BY lang""")
      agg("eq", "lang = 'de'")
        .unionAll(agg("in", "lang IN ('es', 'zh')"))
        .unionAll(agg("range_and",
          "lang >= 'en' AND lang <= 'fr' AND source = 'src7'"))
        .orderBy($"probe", $"lang")
    },
    Some("""WITH probes AS (
        SELECT 'eq' AS probe, lang, count(*) AS n_docs,
          sum(n_chars) AS chars_sum
        FROM documents WHERE lang = 'de' GROUP BY lang
        UNION ALL
        SELECT 'in', lang, count(*), sum(n_chars)
        FROM documents WHERE lang IN ('es', 'zh') GROUP BY lang
        UNION ALL
        SELECT 'range_and', lang, count(*), sum(n_chars)
        FROM documents
        WHERE lang >= 'en' AND lang <= 'fr' AND source = 'src7'
        GROUP BY lang)
      SELECT probe, lang, n_docs, CAST(chars_sum AS BIGINT) AS chars_sum
      FROM probes ORDER BY probe, lang"""))

  /** `WHERE id IN (…)` — THE point-lookup batch shape — through plain
    * SQL over the versioned table: the FileIndex translates the
    * IN-list into a union of point probes (box stage per value, then
    * the per-value footer-bloom stage), so the batch lookup plans a
    * scan over only the files that can hold SOME asked id. Same probe
    * ids as `pipe_point_lookup`, which resolves them through the
    * explicit pointRead API — this entry pins that the SQL spelling
    * reaches the same rows with no bespoke API in the query path.
    */
  val vtSqlIn: Q = Q(
    "pipe_vt_sql_in",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-sql-in")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))
      graft.pipeline.VersionedTable.compactZorder(s, root, nFiles = 16)
      graft.pipeline.VersionedTable.sqlRead(s, root)
        .createOrReplaceTempView("graft_vt_in")
      val maxId = ev.agg(max($"event_id")).head.getLong(0)
      val probes = (1L to 8L).map(k => maxId * k / 9).distinct
      s.sql(s"""SELECT event_id, user_id, ts_us FROM graft_vt_in
        WHERE event_id IN (${probes.mkString(", ")})
        ORDER BY event_id""")
    },
    Some("""WITH b AS (SELECT max(event_id) AS mx FROM events),
      probes AS (
        SELECT DISTINCT mx * k // 9 AS pid
        FROM b, unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS t(k))
      SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us
      FROM events e JOIN probes p ON e.event_id = p.pid
      ORDER BY e.event_id"""))

  /** SQL DML routed to the versioned table under the driver's oracle
    * ([[graft.pipeline.VersionedSql]] through the session extension's
    * parser): `CREATE VERSIONED TABLE … KEYS(event_id)`, a SQL
    * `DELETE … WHERE <box>`, a SQL `MERGE INTO … USING (SELECT …) ON
    * keys … UPDATE SET * … INSERT *`, and a SQL `UPDATE … SET …
    * WHERE <box>` — each dispatching to the same optimistic commits
    * as the API path (deleteRange / upsertByKey), the view refreshed
    * per statement. The result reads the table back THROUGH the view
    * plus the per-statement affected counts; the oracle replays the
    * whole sequence declaratively over the raw events, so a verb with
    * the wrong semantics (a lost delete, a double-applied update, a
    * merge that appended instead of replacing) breaks the hash.
    */
  val vtSqlDml: Q = Q(
    "pipe_vt_sql_dml",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-sql-dml")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))
      s.sql(s"CREATE VERSIONED TABLE graft_vt_dml LOCATION '$root' " +
        "KEYS(event_id)")
      val b = ev.agg(min($"user_id"), max($"user_id")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 25 / 100, mn + (mx - mn) * 75 / 100)
      val del = s.sql(
        s"DELETE FROM graft_vt_dml WHERE user_id BETWEEN $lo AND $hi").head
      s.table("graft_vt_dml")
        .filter(pmod($"event_id", lit(7L)) === 0)
        .withColumn("user_id", $"user_id" + 1000000L)
        .createOrReplaceTempView("graft_vt_dml_updates")
      val mrg = s.sql(
        """MERGE INTO graft_vt_dml USING graft_vt_dml_updates
           ON graft_vt_dml.event_id = graft_vt_dml_updates.event_id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").head
      val upd = s.sql(
        s"""UPDATE graft_vt_dml SET ts_us = ts_us + 5
            WHERE user_id >= ${1000000L + lo}""").head
      // ts_us is epoch MICROS: a raw sum overflows Long past ~5k rows
      // (ANSI arithmetic fails loudly at sf0.1) — fingerprint the
      // column through a bounded transform both engines state verbatim
      s.sql("""SELECT 'final' AS stage, count(*) AS n_rows,
            CAST(sum(user_id) AS BIGINT) AS user_sum,
            CAST(sum(ts_us % 1000000) AS BIGINT) AS ts_sum
          FROM graft_vt_dml""")
        .unionAll(Seq(
          ("deleted", del.getLong(1), 0L, 0L),
          ("merged", mrg.getLong(1), 0L, 0L),
          ("updated", upd.getLong(1), 0L, 0L))
          .toDF("stage", "n_rows", "user_sum", "ts_sum"))
        .orderBy($"stage")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 25 // 100 AS lo,
                     mn + (mx - mn) * 75 // 100 AS hi FROM b),
      -- after DELETE: rows outside the box
      vis AS (SELECT event_id, user_id, ts_us FROM src, box
              WHERE user_id NOT BETWEEN lo AND hi),
      -- MERGE source: visible %7 keys, user_id shifted
      upd AS (SELECT event_id, user_id + 1000000 AS user_id, ts_us
              FROM vis WHERE event_id % 7 = 0),
      -- after MERGE: non-%7 visible rows plus the update rows
      merged AS (
        SELECT event_id, user_id, ts_us FROM vis WHERE event_id % 7 <> 0
        UNION ALL SELECT event_id, user_id, ts_us FROM upd),
      -- after UPDATE: shift ts_us where user_id >= 1000000 + lo
      fin AS (
        SELECT event_id, user_id,
          CASE WHEN user_id >= 1000000 + lo THEN ts_us + 5 ELSE ts_us END
            AS ts_us
        FROM merged, box),
      stages AS (
        SELECT 'final' AS stage, count(*) AS n_rows,
          sum(user_id) AS user_sum, sum(ts_us % 1000000) AS ts_sum FROM fin
        UNION ALL
        SELECT 'deleted', (SELECT count(*) FROM src, box
          WHERE user_id BETWEEN lo AND hi), 0, 0
        UNION ALL
        SELECT 'merged', (SELECT count(*) FROM upd), 0, 0
        UNION ALL
        SELECT 'updated', (SELECT count(*) FROM merged, box
          WHERE user_id >= 1000000 + lo), 0, 0)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(user_sum AS BIGINT) AS user_sum,
        CAST(ts_sum AS BIGINT) AS ts_sum
      FROM stages ORDER BY stage"""))

  /** EQUALITY-delete MOR markers under the driver's oracle
    * ([[graft.pipeline.VersionedTable.deleteKeysMor]] — Iceberg v2's
    * equality deletes, the GDPR / dedup-removal shape: one metadata
    * marker per key-set delete, no data files rewritten; readers
    * anti-join covered files on the key; `fastCount` subtracts the
    * exact matched count; markers are file-scoped). The staged history
    * exercises both storage tiers and every contract: append+compact →
    * INLINE-tier key delete (≤ cap) → SIDECAR-tier key delete (every
    * `%7` id) → overlapping BOX marker (its matched count must see
    * only still-visible rows) → re-append already-deleted keys (they
    * survive: file scoping) → materialize (visible rows unchanged).
    * Each stage emits its aggregate plus the manifest-served
    * fast_count; any resurrection, double-subtraction, wrong tier
    * semantics, or marker mis-scoping breaks the hash against the
    * declaratively stated stages.
    */
  val versionedMorKeys: Q = Q(
    "pipe_versioned_mor_keys",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("versioned-mor-keys")
      val stats = Seq("user_id", "ts_us", "event_id")
      graft.pipeline.VersionedTable.append(ev, root, stats)         // v1
      graft.pipeline.VersionedTable.compactZorder(s, root, 8)       // v2
      val maxId = ev.agg(max($"event_id")).head.getLong(0)
      // inline tier: 8 deterministic ids spread over the id space
      val small = (1L to 8L).map(k => maxId * k / 9).distinct
      graft.pipeline.VersionedTable.deleteKeysMor(s, root,
        "event_id", small.toDF("event_id"))                         // v3
      // sidecar tier: every visible %7 id (well past the inline cap)
      val big = ev.filter(pmod($"event_id", lit(7L)) === 0)
        .select($"event_id")
      graft.pipeline.VersionedTable.deleteKeysMor(s, root,
        "event_id", big)                                            // v4
      // overlapping box marker: counts only still-visible rows
      val b = ev.agg(min($"user_id"), max($"user_id")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 40 / 100, mn + (mx - mn) * 60 / 100)
      graft.pipeline.VersionedTable.deleteRangeMor(s, root,
        Seq(("user_id", lo, hi)))                                   // v5
      def stage(name: String) = graft.pipeline.VersionedTable
        .read(s, root)
        .agg(lit(name).as("stage"), count(lit(1)).as("n_rows"),
          sum($"event_id").as("id_sum"), sum($"user_id").as("user_sum"))
      val afterMarks = stage("after_markers")
      val fastRow = Seq(("fast_count",
          graft.pipeline.VersionedTable.fastCount(s, root), 0L, 0L))
        .toDF("stage", "n_rows", "id_sum", "user_sum")
      // re-append three of the inline-deleted keys: file scoping must
      // keep them alive under the existing markers
      graft.pipeline.VersionedTable.append(
        ev.filter($"event_id".isin(small.take(3): _*)), root, stats) // v6
      val afterAppend = stage("after_append")
      graft.pipeline.VersionedTable.materializeDeletes(s, root)     // v7
      val afterMat = stage("after_materialize")
      afterMarks.unionAll(fastRow).unionAll(afterAppend)
        .unionAll(afterMat).orderBy($"stage")
    },
    Some("""WITH src AS (SELECT event_id, user_id FROM events),
      b AS (SELECT max(event_id) AS mxid FROM src),
      small AS (SELECT DISTINCT mxid * k // 9 AS pid
                FROM b, unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS t(k)),
      u AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 40 // 100 AS lo,
                     mn + (mx - mn) * 60 // 100 AS hi FROM u),
      vis AS (
        SELECT event_id, user_id FROM src, box
        WHERE event_id NOT IN (SELECT pid FROM small)
          AND event_id % 7 <> 0
          AND user_id NOT BETWEEN lo AND hi),
      readd AS (
        SELECT event_id, user_id FROM src
        WHERE event_id IN (SELECT pid FROM small
                           ORDER BY pid LIMIT 3)),
      fin AS (SELECT * FROM vis UNION ALL SELECT * FROM readd),
      stages AS (
        SELECT 'after_markers' AS stage, count(*) AS n_rows,
          sum(event_id) AS id_sum, sum(user_id) AS user_sum FROM vis
        UNION ALL
        SELECT 'fast_count', count(*), 0, 0 FROM vis
        UNION ALL
        SELECT 'after_append', count(*), sum(event_id), sum(user_id)
        FROM fin
        UNION ALL
        SELECT 'after_materialize', count(*), sum(event_id),
          sum(user_id) FROM fin)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(id_sum AS BIGINT) AS id_sum,
        CAST(user_sum AS BIGINT) AS user_sum
      FROM stages ORDER BY stage"""))

  /** The CDC feed as an incremental SOURCE under the driver's oracle
    * ([[graft.streaming.VersionedCdcMirror]] — a version-frontier
    * poller over `readChangesCdc` whose exactly-once marker is the
    * DOWNSTREAM table's own ingest frontier, committed atomically with
    * each applied batch): a source table runs a DML history (append →
    * delete box → upsert), a row MIRROR and a maintained per-user
    * AGGREGATE sync incrementally — interleaved with the commits, with
    * a deliberate mid-stream REPLAY of an already-applied batch (the
    * crash-redelivery case, which must change nothing) — and both
    * downstreams' final contents are hash-matched against the same
    * history stated declaratively. The engine additionally proves
    * mirror == source before emitting.
    */
  val vtCdcMirror: Q = Q(
    "pipe_vt_cdc_mirror",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val src = scratchDir("cdc-mirror-src")
      val mirror = scratchDir("cdc-mirror-mir")
      val agg = scratchDir("cdc-mirror-agg")
      val keys = Seq("event_id")
      // The two downstreams are INDEPENDENT consumers of the same source
      // feed (different roots, own frontiers) — run each sync round as
      // two concurrent driver threads so one poller's driver-side
      // planning overlaps the other's executor work (guide §2.6
      // "overlap independent jobs"; profiled r21: 75 sequential jobs,
      // 7.2 s driver gap). Exceptions propagate once both are done.
      def sync(): Unit = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fMirror = Future {
          graft.streaming.VersionedCdcMirror.syncMirror(s, src, mirror, keys)
        }
        val fAgg = Future {
          graft.streaming.VersionedCdcMirror.syncCountSum(s, src, agg,
            "user_id", "event_id")
        }
        // both finish before either failure is rethrown, so no write is
        // left in flight when the entry unwinds
        Await.ready(fMirror, Duration.Inf)
        Await.ready(fAgg, Duration.Inf)
        fMirror.value.get.get
        fAgg.value.get.get
        ()
      }
      graft.pipeline.VersionedTable.append(ev, src,
        Seq("user_id", "ts_us", "event_id"))                       // v1
      sync()
      val b = ev.agg(min($"user_id"), max($"user_id")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 25 / 100, mn + (mx - mn) * 75 / 100)
      graft.pipeline.VersionedTable.deleteRange(s, src,
        Seq(("user_id", lo, hi)))                                  // v2
      sync()
      // the CRASH-REDELIVERY case: v2's batch re-applied verbatim must
      // be recognized as a replay and change nothing
      val cdc2 = graft.pipeline.VersionedTable.readChangesCdc(s, src, 1L, 2L)
      val data = Seq($"event_id", $"user_id", $"ts_us")
      val (_, replayed) = graft.pipeline.VersionedTable.applyCdcBatch(
        s, mirror,
        cdc2.filter($"_change_type" === "insert").select(data: _*),
        cdc2.filter($"_change_type" === "delete").select($"event_id")
          .distinct(), keys, 2L)
      require(!replayed,
        "pipe_vt_cdc_mirror: a replayed batch must be skipped")
      graft.pipeline.VersionedTable.upsertByKey(s, src,
        ev.filter(pmod($"event_id", lit(7L)) === 0)
          .withColumn("user_id", $"user_id" + 1000000L),
        Seq("event_id"))                                           // v3
      sync()
      // the consumer contract, proven before anything is emitted
      val srcNow = graft.pipeline.VersionedTable.read(s, src)
        .select(data: _*)
      val mirNow = graft.pipeline.VersionedTable.read(s, mirror)
        .select(data: _*)
      require(sameMultiset(mirNow, srcNow),
        "pipe_vt_cdc_mirror: mirror diverged from source")
      val mirrorRow = mirNow
        .agg(lit("mirror").as("stage"), count(lit(1)).as("n_rows"),
          sum($"event_id").as("id_sum"), sum($"user_id").as("user_sum"))
      val viewRow = graft.pipeline.VersionedTable.read(s, agg)
        .agg(lit("view").as("stage"), count(lit(1)).as("n_rows"),
          sum($"n_rows").as("id_sum"), sum($"val_sum").as("user_sum"))
      mirrorRow.unionAll(viewRow).orderBy($"stage")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 25 // 100 AS lo,
                     mn + (mx - mn) * 75 // 100 AS hi FROM b),
      vis AS (SELECT event_id, user_id FROM src, box
              WHERE user_id NOT BETWEEN lo AND hi),
      fin AS (
        SELECT event_id, user_id FROM vis WHERE event_id % 7 <> 0
        UNION ALL
        SELECT event_id, user_id + 1000000 FROM src WHERE event_id % 7 = 0),
      view AS (
        SELECT user_id, count(*) AS n_rows, sum(event_id) AS val_sum
        FROM fin GROUP BY user_id),
      stages AS (
        SELECT 'mirror' AS stage, count(*) AS n_rows,
          sum(event_id) AS id_sum, sum(user_id) AS user_sum FROM fin
        UNION ALL
        SELECT 'view', count(*), sum(n_rows), sum(val_sum) FROM view)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(id_sum AS BIGINT) AS id_sum,
        CAST(user_sum AS BIGINT) AS user_sum
      FROM stages ORDER BY stage"""))

  /** TYPED-column DML under the driver's oracle
    * ([[graft.pipeline.VersionedTable.deleteWhere]] through the SQL
    * DELETE route): the retention statements real corpora run —
    * delete a LANGUAGE, then delete by a string range conjoined with
    * an untranslatable modulus (the typed conjunct prunes candidate
    * files, the exact predicate decides rows). The final state and
    * per-statement affected counts hash-match a declarative DuckDB
    * replay; a candidate set pruned too hard (a lost row) or a
    * mistranslated typed literal breaks the hash.
    */
  val vtDeleteWhere: Q = Q(
    "pipe_vt_delete_where",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"lang", $"source", $"n_chars")
        .repartitionByRange(12, $"lang", $"doc_id")
      val root = scratchDir("vt-delete-where")
      graft.pipeline.VersionedTable.append(docs, root,
        Seq("doc_id", "n_chars"), Seq("lang", "source"))
      s.sql(s"CREATE VERSIONED TABLE graft_vt_dw LOCATION '$root'")
      val d1 = s.sql("DELETE FROM graft_vt_dw WHERE lang = 'de'").head
      val d2 = s.sql("""DELETE FROM graft_vt_dw
        WHERE source >= 'src14' AND source <= 'src16'
          AND doc_id % 2 = 0""").head
      s.sql("""SELECT lang, count(*) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS chars_sum
          FROM graft_vt_dw GROUP BY lang""")
        .unionAll(Seq(
          ("_deleted_lang", d1.getLong(1), 0L),
          ("_deleted_range", d2.getLong(1), 0L))
          .toDF("lang", "n_docs", "chars_sum"))
        .orderBy($"lang")
    },
    Some("""WITH alive AS (
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE lang <> 'de'
          AND NOT (source >= 'src14' AND source <= 'src16'
                   AND doc_id % 2 = 0)),
      stages AS (
        SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars_sum
        FROM alive GROUP BY lang
        UNION ALL
        SELECT '_deleted_lang',
          (SELECT count(*) FROM documents WHERE lang = 'de'), 0
        UNION ALL
        SELECT '_deleted_range',
          (SELECT count(*) FROM documents WHERE lang <> 'de'
           AND source >= 'src14' AND source <= 'src16'
           AND doc_id % 2 = 0), 0)
      SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(chars_sum AS BIGINT) AS chars_sum
      FROM stages ORDER BY lang"""))

  /** STRING-keyed DML over the versioned table under the driver's
    * oracle — the promotion real corpora need (doc ids / URLs / GUIDs
    * are strings, not longs): the documents table keyed by a string
    * `sid`, one [[graft.pipeline.VersionedTable.upsertByKey]] that
    * replaces every `%7` doc (shifted char count) and inserts a small
    * set of new sids in ONE atomic version, then a
    * [[graft.pipeline.VersionedTable.deleteKeysMor]] removing every
    * 'de' document BY KEY (the GDPR shape — a metadata marker with a
    * string parquet sidecar, zero data files rewritten). Candidate
    * files resolve through the typed truncated string bounds; the
    * oracle replays the whole sequence declaratively, so a wrong
    * candidate set (lost replace), a marker that misses or
    * over-matches, or an encoding mismatch between probe and bound
    * breaks the hash.
    */
  val vtKeysTyped: Q = Q(
    "pipe_vt_keys_typed",
    (s, d) => {
      import s.implicits._
      val src = Tables.documents(s, d)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          concat($"source", lit(":"), $"doc_id").as("sid"))
      val root = scratchDir("vt-keys-typed")
      graft.pipeline.VersionedTable.append(
        src.repartitionByRange(12, $"sid"), root,
        Seq("doc_id", "n_chars"), Seq("sid", "lang"))
      val updates = src.filter($"doc_id" % 7 === 0)
        .withColumn("n_chars", $"n_chars" + 1000000L)
        .unionByName(src.filter($"doc_id" % 997 === 0)
          .select(($"doc_id" + 10000000L).as("doc_id"), $"lang",
            $"source", $"doc_id".as("n_chars"),
            concat(lit("new:"), $"doc_id").as("sid")))
      val (_, replaced) = graft.pipeline.VersionedTable.upsertByKey(
        s, root, updates, Seq("sid"))
      val delKeys = graft.pipeline.VersionedTable.read(s, root)
        .filter($"lang" === "de").select($"sid")
      val (_, deleted) = graft.pipeline.VersionedTable.deleteKeysMor(
        s, root, "sid", delKeys)
      graft.pipeline.VersionedTable.read(s, root)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_sum"))
        .select(lit("final").as("stage"), $"lang", $"n_docs",
          $"chars_sum".cast(LongType).as("chars_sum"))
        .unionAll(Seq(("replaced", "-", replaced, 0L),
          ("deleted", "-", deleted, 0L))
          .toDF("stage", "lang", "n_docs", "chars_sum"))
        .orderBy($"stage", $"lang")
    },
    Some("""WITH src AS (
        SELECT doc_id, lang, source, n_chars,
               source || ':' || CAST(doc_id AS VARCHAR) AS sid
        FROM documents),
      ups AS (
        SELECT doc_id, lang, source, n_chars + 1000000 AS n_chars, sid
        FROM src WHERE doc_id % 7 = 0),
      ins AS (
        SELECT doc_id + 10000000 AS doc_id, lang, source,
               doc_id AS n_chars,
               'new:' || CAST(doc_id AS VARCHAR) AS sid
        FROM src WHERE doc_id % 997 = 0),
      merged AS (
        SELECT * FROM src WHERE doc_id % 7 <> 0
        UNION ALL SELECT * FROM ups
        UNION ALL SELECT * FROM ins),
      fin AS (SELECT * FROM merged WHERE lang <> 'de'),
      stages AS (
        SELECT 'final' AS stage, lang, count(*) AS n_docs,
               sum(n_chars) AS chars_sum
        FROM fin GROUP BY lang
        UNION ALL
        SELECT 'replaced', '-', (SELECT count(*) FROM ups), 0
        UNION ALL
        SELECT 'deleted', '-',
               (SELECT count(*) FROM merged WHERE lang = 'de'), 0)
      SELECT stage, lang, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(chars_sum AS BIGINT) AS chars_sum
      FROM stages ORDER BY stage, lang"""))

  /** FULL-grammar SQL MERGE under the driver's oracle — the canonical
    * CDC-upsert-with-tombstones statement the star-only grammar could
    * not express: one MERGE with a conditional DELETE clause
    * (`s.op='d'`), a conditional UPDATE (`s.op='u'`, SET referencing
    * BOTH sides), and a guarded column-list INSERT, all landing as ONE
    * atomic version. The oracle replays the clause semantics
    * declaratively (first-match-wins claims, deletes removed, updates
    * shifted, inserts appended); the engine additionally emits the
    * per-clause affected counts from the command's own result row, so
    * a clause claiming the wrong rows, a non-atomic landing, or a
    * wrong count breaks the hash.
    */
  val vtMergeFull: Q = Q(
    "pipe_vt_merge_full",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-merge-full")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))
      s.sql(s"CREATE VERSIONED TABLE graft_vt_mf LOCATION '$root' " +
        "KEYS(event_id)")
      val mx = ev.agg(max($"event_id")).head.getLong(0)
      ev.filter(pmod($"event_id", lit(5L)) === 0 ||
          pmod($"event_id", lit(7L)) === 0)
        .withColumn("op",
          when(pmod($"event_id", lit(5L)) === 0, "d").otherwise("u"))
        .unionByName(s.range(1, 6)
          .select(($"id" + mx).as("event_id"), $"id".as("user_id"),
            $"id".as("ts_us"), lit("i").as("op")))
        .createOrReplaceTempView("graft_vt_mf_src")
      val r = s.sql(
        """MERGE INTO graft_vt_mf USING graft_vt_mf_src AS src
           ON graft_vt_mf.event_id = src.event_id
           WHEN MATCHED AND src.op = 'd' THEN DELETE
           WHEN MATCHED AND src.op = 'u' THEN
             UPDATE SET user_id = src.user_id + 1000000
           WHEN NOT MATCHED AND src.op = 'i' THEN
             INSERT (event_id, user_id, ts_us)
             VALUES (src.event_id, src.user_id + 500, src.ts_us)""")
        .head
      s.sql("""SELECT 'final' AS stage, count(*) AS n_rows,
            CAST(sum(user_id) AS BIGINT) AS user_sum,
            CAST(sum(ts_us % 1000000) AS BIGINT) AS ts_sum
          FROM graft_vt_mf""")
        .unionAll(Seq(
          ("updated", r.getLong(1), 0L, 0L),
          ("deleted", r.getLong(2), 0L, 0L),
          ("inserted", r.getLong(3), 0L, 0L))
          .toDF("stage", "n_rows", "user_sum", "ts_sum"))
        .orderBy($"stage")
    },
    Some("""WITH src0 AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT max(event_id) AS mx FROM src0),
      fin AS (
        SELECT event_id,
          CASE WHEN event_id % 5 <> 0 AND event_id % 7 = 0
               THEN user_id + 1000000 ELSE user_id END AS user_id,
          ts_us
        FROM src0 WHERE event_id % 5 <> 0
        UNION ALL
        SELECT mx + k, k + 500, CAST(k AS BIGINT)
        FROM b, unnest([1, 2, 3, 4, 5]) AS t(k)),
      stages AS (
        SELECT 'final' AS stage, count(*) AS n_rows,
          sum(user_id) AS user_sum, sum(ts_us % 1000000) AS ts_sum
        FROM fin
        UNION ALL
        SELECT 'updated', (SELECT count(*) FROM src0
          WHERE event_id % 5 <> 0 AND event_id % 7 = 0), 0, 0
        UNION ALL
        SELECT 'deleted', (SELECT count(*) FROM src0
          WHERE event_id % 5 = 0), 0, 0
        UNION ALL
        SELECT 'inserted', 5, 0, 0)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(user_sum AS BIGINT) AS user_sum,
        CAST(ts_sum AS BIGINT) AS ts_sum
      FROM stages ORDER BY stage"""))

  /** The CDC feed consumed through the REAL Structured Streaming
    * source ([[graft.streaming.VersionedCdcStreamProvider]] —
    * `readStream.format(...).option("root", …)`, offsets = table
    * versions, batches = deterministic `readChangesCdc` ranges) under
    * the driver's oracle: the SAME deterministic DML history as
    * `pipe_versioned_cdc` (append → box delete → keyed upsert →
    * z-order compact), but the feed arrives via a live streaming query
    * drained in TWO rounds (v1 first, then the DML versions — a
    * multi-batch incremental read, not one big replay). The streamed
    * rows must aggregate exactly as the batch feed does (same oracle),
    * the replayed mirror must equal `read()` before anything is
    * emitted, and the compaction version must contribute nothing.
    */
  val vtCdcStream: Q = Q(
    "pipe_vt_cdc_stream",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-cdc-stream")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))                       // v1
      val sink = "graft_vt_cdc_stream_sink"
      val q = s.readStream
        .format(classOf[graft.streaming.VersionedCdcStreamProvider].getName)
        .option("root", root).load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append").start()
      // cached WITHIN this one evaluation: the fold's per-version
      // filters and the final aggregate reference the feed ~9 times,
      // and each uncached reference pays the memory-sink row
      // conversion again (guide §5 caching — reused and expensive).
      // localCheckpoint keeps its blocks on executors only: losing an
      // executor fails this evaluation instead of recomputing the feed.
      // The sink view and its rows are dropped once checkpointed.
      val feed = try {
        try {
          q.processAllAvailable() // round 1: the initial load (v1)
          val b = ev.agg(min($"user_id"), max($"user_id")).head
          val (mn, mx) = (b.getLong(0), b.getLong(1))
          val (lo, hi) =
            (mn + (mx - mn) * 25 / 100, mn + (mx - mn) * 75 / 100)
          graft.pipeline.VersionedTable.deleteRange(s, root,
            Seq(("user_id", lo, hi)))                              // v2
          val updates = ev.filter(pmod($"event_id", lit(7L)) === 0)
            .withColumn("user_id", $"user_id" + 1000000L)
          graft.pipeline.VersionedTable.upsertByKey(s, root, updates,
            Seq("event_id"))                                       // v3
          graft.pipeline.VersionedTable.compactZorder(s, root, 8)  // v4
          q.processAllAvailable() // round 2: the DML versions
        } finally q.stop()
        // rebase the memory sink onto a fresh plan: MemoryPlan is not
        // multi-instantiable, so the self-referencing exceptAll fold
        // below cannot deduplicate its attributes otherwise
        val sunk = s.table(sink)
        s.createDataFrame(sunk.rdd, sunk.schema).localCheckpoint()
      } finally s.catalog.dropTempView(sink)
      // replay the streamed feed from empty; the mirror must equal
      // read() as multisets BEFORE anything is emitted
      val data = Seq($"event_id", $"user_id", $"ts_us")
      val latest = graft.pipeline.VersionedTable.latestVersion(s, root).get
      val mirror = (1L to latest).foldLeft(Option.empty[DataFrame]) {
        (acc, v) =>
          val batch = feed.filter($"_commit_version" === v)
          val ins = batch.filter($"_change_type" === "insert")
            .select(data: _*)
          val del = batch.filter($"_change_type" === "delete")
            .select(data: _*)
          Some(acc.fold(ins)(m => m.exceptAll(del).unionAll(ins)))
      }.get.localCheckpoint() // materialized once (AQE-coalesced); the
      // guard and the output union read the checkpointed blocks, which
      // live on executors only — an executor loss fails the entry
      // rather than replaying the fold
      val table = graft.pipeline.VersionedTable.read(s, root)
        .select(data: _*)
      require(sameMultiset(mirror, table),
        "pipe_vt_cdc_stream: the stream-replayed mirror diverged " +
          "from read()")
      feed.select($"_commit_version".as("version"),
          $"_change_type".as("change"), $"event_id", $"user_id")
        .unionAll(mirror.select(lit(99L).as("version"),
          lit("final_mirror").as("change"), $"event_id", $"user_id"))
        .groupBy($"version", $"change")
        .agg(count(lit(1)).as("n_rows"),
          sum($"event_id").as("id_sum"), sum($"user_id").as("user_sum"))
        .orderBy($"version", $"change")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 25 // 100 AS lo,
                     mn + (mx - mn) * 75 // 100 AS hi FROM b),
      upd AS (
        SELECT event_id, user_id + 1000000 AS user_id FROM src
        WHERE event_id % 7 = 0),
      changes AS (
        SELECT 1 AS version, 'insert' AS change, event_id, user_id FROM src
        UNION ALL
        SELECT 2, 'delete', event_id, user_id FROM src, box
        WHERE user_id BETWEEN lo AND hi
        UNION ALL
        SELECT 3, 'delete', event_id, user_id FROM src, box
        WHERE event_id % 7 = 0 AND user_id NOT BETWEEN lo AND hi
        UNION ALL
        SELECT 3, 'insert', event_id, user_id FROM upd
        UNION ALL
        SELECT 99, 'final_mirror', event_id, user_id FROM src, box
        WHERE user_id NOT BETWEEN lo AND hi AND event_id % 7 <> 0
        UNION ALL
        SELECT 99, 'final_mirror', event_id, user_id FROM upd)
      SELECT CAST(version AS BIGINT) AS version, change,
        count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
        CAST(sum(user_id) AS BIGINT) AS user_sum
      FROM changes GROUP BY 1, 2 ORDER BY version, change"""))

  /** DECLARED cluster transforms (hidden partitioning) under the
    * driver's oracle: three UNSORTED plain appends into a table whose
    * first append declared `identity(user_id)` clustering — every
    * append range-clusters itself, so a user-id band probe prunes
    * files THROUGH THE MANIFEST with no compaction step (the engine
    * REQUIRES kept < total via `prunedFileCount` before emitting
    * anything — a silently unclustered append fails the query, not
    * just a perf budget). The emitted band aggregate hash-matches the
    * declaratively stated band, so clustering can never trade
    * correctness for layout: rows are only ever moved, not lost.
    */
  val vtCluster: Q = Q(
    "pipe_vt_cluster",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-cluster")
      // AQE's small-partition coalescing would fold a tiny test-scale
      // append into one file and hide the layout observable; the
      // cluster shape itself is what's under test, so the appends run
      // on a clone of the session with coalescing off
      val noCoalesce = DatasetBridge.cloneSession(s,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      (0 until 3).foreach { k =>
        graft.pipeline.VersionedTable.append(DatasetBridge.ofRows(noCoalesce,
            ev.filter(pmod($"event_id", lit(3L)) === k).queryExecution.analyzed),
          root, Seq("user_id", "ts_us", "event_id"), Seq.empty,
          Seq("identity(user_id)"))
      }
      val b = ev.agg(min($"user_id"), max($"user_id")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 25 / 100, mn + (mx - mn) * 75 / 100)
      val (kept, total) = graft.pipeline.VersionedTable
        .prunedFileCount(s, root, Seq(("user_id", lo, hi)))
      require(kept < total,
        s"pipe_vt_cluster: clustered appends must prune the band " +
          s"probe through the manifest: kept $kept of $total files")
      graft.pipeline.VersionedTable.sqlRead(s, root)
        .filter($"user_id".between(lo, hi))
        .groupBy(pmod($"event_id", lit(3L)).as("chunk"))
        .agg(count(lit(1)).as("n_rows"),
          sum($"event_id").as("id_sum"), sum($"user_id").as("user_sum"))
        .orderBy($"chunk")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id FROM events),
      b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 25 // 100 AS lo,
                     mn + (mx - mn) * 75 // 100 AS hi FROM b)
      SELECT event_id % 3 AS chunk, count(*) AS n_rows,
        CAST(sum(event_id) AS BIGINT) AS id_sum,
        CAST(sum(user_id) AS BIGINT) AS user_sum
      FROM src, box WHERE user_id BETWEEN lo AND hi
      GROUP BY 1 ORDER BY chunk"""))

  /** SQL schema evolution under the driver's oracle — `ALTER
    * VERSIONED TABLE … ADD COLUMNS` as a METADATA-ONLY version
    * ([[graft.pipeline.VersionedTable.addColumns]]): the statement
    * adds a `boost` column (no data touched), a later append fills it
    * for new rows while every pre-evolution row serves NULL, and a
    * PINNED pre-evolution view keeps its own narrower schema (the
    * engine REQUIRES the pinned view lacks the column before emitting
    * anything). Both table states aggregate in one result; the oracle
    * replays the whole evolution declaratively, so a leaked column,
    * a wrong null-fill, or a rewritten data file breaks the hash.
    */
  val vtAddColumns: Q = Q(
    "pipe_vt_add_columns",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-add-columns")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))                       // v1
      s.sql(s"CREATE VERSIONED TABLE graft_vt_evolve LOCATION " +
        s"'$root' KEYS(event_id)")
      s.sql("CREATE VERSIONED VIEW graft_vt_evolve_v1 AS " +
        "graft_vt_evolve VERSION AS OF 1")
      s.sql("ALTER VERSIONED TABLE graft_vt_evolve ADD COLUMNS " +
        "(boost BIGINT)")                                          // v2
      val mx = ev.agg(max($"event_id")).head.getLong(0)
      graft.pipeline.VersionedTable.append(
        ev.filter(pmod($"event_id", lit(9L)) === 0)
          .select(($"event_id" + mx + 1).as("event_id"), $"user_id",
            $"ts_us", pmod($"event_id", lit(5L)).as("boost")),
        root, Seq("user_id", "ts_us", "event_id"))                 // v3
      graft.pipeline.VersionedSql.refreshView(s, "graft_vt_evolve")
      // the pinned pre-evolution view must serve its OWN schema
      require(!s.table("graft_vt_evolve_v1").columns.contains("boost"),
        "pipe_vt_add_columns: the pinned v1 view leaked the evolved " +
          "column backward")
      s.table("graft_vt_evolve_v1")
        .agg(lit("pre").as("stage"), count(lit(1)).as("n_rows"),
          sum($"user_id").as("user_sum"), lit(0L).as("boost_sum"))
        .unionAll(s.table("graft_vt_evolve")
          .agg(lit("post").as("stage"), count(lit(1)).as("n_rows"),
            sum($"user_id").as("user_sum"),
            sum(coalesce($"boost", lit(-1L))).as("boost_sum")))
        .orderBy($"stage")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id FROM events),
      b AS (SELECT max(event_id) AS mx FROM src),
      added AS (
        SELECT event_id + mx + 1 AS event_id, user_id,
               event_id % 5 AS boost
        FROM src, b WHERE event_id % 9 = 0),
      stages AS (
        SELECT 'pre' AS stage, count(*) AS n_rows,
          sum(user_id) AS user_sum, 0 AS boost_sum
        FROM src
        UNION ALL
        SELECT 'post', (SELECT count(*) FROM src) + count(*),
          (SELECT sum(user_id) FROM src) + sum(user_id),
          -1 * (SELECT count(*) FROM src) + sum(boost)
        FROM added)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(user_sum AS BIGINT) AS user_sum,
        CAST(boost_sum AS BIGINT) AS boost_sum
      FROM stages ORDER BY stage"""))

  /** The DataSourceV2 catalog under the driver's oracle
    * ([[graft.pipeline.VersionedCatalog]] — `spark.sql.catalog.*`):
    * STANDARD SQL with no regex front-end creates a versioned table
    * (`CREATE TABLE graftvt.…` with PARTITIONED BY becoming the
    * cluster spec), two `INSERT INTO`s land as two optimistic-commit
    * versions, `VERSION AS OF` serves the pinned first load, and a
    * band filter flows through the V1 scan bridge into the pruning
    * FileIndex. The oracle replays it declaratively — a catalog path
    * that wrote/read anything differently from the API path breaks
    * the hash. The catalog is registered on a clone of the caller's
    * session and the entry is built there, so the caller's conf never
    * names it.
    */
  val vtCatalog: Q = Q(
    "pipe_vt_catalog",
    (caller, d) => {
      val wh = scratchDir("vt-catalog-wh")
      val s = DatasetBridge.cloneSession(caller,
        "spark.sql.catalog.graftvt" -> "graft.pipeline.VersionedCatalog",
        "spark.sql.catalog.graftvt.warehouse" -> wh)
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
        .createOrReplaceTempView("graft_cat_src")
      s.sql("""CREATE TABLE graftvt.events_cat
        (event_id BIGINT, user_id BIGINT, ts_us BIGINT)
        PARTITIONED BY (identity(user_id))
        TBLPROPERTIES ('stats'='user_id,ts_us,event_id')""")
      s.sql("""INSERT INTO graftvt.events_cat
        SELECT event_id, user_id, ts_us FROM graft_cat_src""")
      val mx = s.table("graft_cat_src").agg(max($"event_id"))
        .head.getLong(0)
      s.sql(s"""INSERT INTO graftvt.events_cat
        SELECT event_id + $mx + 1, user_id + 1000000, ts_us
        FROM graft_cat_src WHERE event_id % 11 = 0""")
      val b = s.table("graft_cat_src")
        .agg(min($"user_id"), max($"user_id")).head
      val (mn, mxu) = (b.getLong(0), b.getLong(1))
      val (lo, hi) =
        (mn + (mxu - mn) * 25 / 100, mn + (mxu - mn) * 75 / 100)
      s.sql("""SELECT 'snapshot' AS stage, count(*) AS n_rows,
            CAST(sum(user_id) AS BIGINT) AS user_sum
          FROM graftvt.events_cat VERSION AS OF 2""")
        .unionAll(s.sql("""SELECT 'final', count(*),
            CAST(sum(user_id) AS BIGINT) FROM graftvt.events_cat"""))
        .unionAll(s.sql(s"""SELECT 'band', count(*),
            CAST(sum(user_id) AS BIGINT) FROM graftvt.events_cat
            WHERE user_id BETWEEN $lo AND $hi"""))
        .orderBy($"stage")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM src),
      box AS (SELECT mn + (mx - mn) * 25 // 100 AS lo,
                     mn + (mx - mn) * 75 // 100 AS hi FROM b),
      extra AS (
        SELECT user_id + 1000000 AS user_id FROM src
        WHERE event_id % 11 = 0),
      fin AS (
        SELECT user_id FROM src UNION ALL SELECT user_id FROM extra),
      stages AS (
        SELECT 'snapshot' AS stage, count(*) AS n_rows,
          sum(user_id) AS user_sum FROM src
        UNION ALL
        SELECT 'final', count(*), sum(user_id) FROM fin
        UNION ALL
        SELECT 'band', (SELECT count(*) FROM fin, box
          WHERE user_id BETWEEN lo AND hi),
          (SELECT sum(user_id) FROM fin, box
           WHERE user_id BETWEEN lo AND hi))
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(user_sum AS BIGINT) AS user_sum
      FROM stages ORDER BY stage"""))

  /** The FULL-SYNC MERGE under the driver's oracle — `WHEN NOT
    * MATCHED BY SOURCE THEN DELETE` alongside the star clauses makes
    * one statement force target == source (the nightly
    * reconcile-against-the-upstream-extract shape). The oracle IS the
    * source restated, so any row the sync failed to delete, update, or
    * keep breaks the hash; the per-clause counts pin which class
    * claimed each row.
    */
  val vtMergeSync: Q = Q(
    "pipe_vt_merge_sync",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      val root = scratchDir("vt-merge-sync")
      graft.pipeline.VersionedTable.append(ev, root,
        Seq("user_id", "ts_us", "event_id"))
      s.sql(s"CREATE VERSIONED TABLE graft_vt_sync LOCATION '$root' " +
        "KEYS(event_id)")
      ev.filter(pmod($"event_id", lit(3L)) === 0)
        .withColumn("user_id", $"user_id" + 1000000L)
        .createOrReplaceTempView("graft_vt_sync_src")
      val r = s.sql(
        """MERGE INTO graft_vt_sync USING graft_vt_sync_src AS src
           ON graft_vt_sync.event_id = src.event_id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN DELETE""").head
      s.sql("""SELECT 'final' AS stage, count(*) AS n_rows,
            CAST(sum(user_id) AS BIGINT) AS user_sum
          FROM graft_vt_sync""")
        .unionAll(Seq(
          ("updated", r.getLong(1), 0L),
          ("deleted", r.getLong(2), 0L),
          ("inserted", r.getLong(3), 0L))
          .toDF("stage", "n_rows", "user_sum"))
        .orderBy($"stage")
    },
    Some("""WITH src AS (SELECT event_id, user_id FROM events),
      want AS (
        SELECT event_id, user_id + 1000000 AS user_id FROM src
        WHERE event_id % 3 = 0),
      stages AS (
        SELECT 'final' AS stage, count(*) AS n_rows,
          sum(user_id) AS user_sum FROM want
        UNION ALL
        SELECT 'updated', (SELECT count(*) FROM want), 0
        UNION ALL
        SELECT 'deleted', (SELECT count(*) FROM src
          WHERE event_id % 3 <> 0), 0
        UNION ALL
        SELECT 'inserted', 0, 0)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(user_sum AS BIGINT) AS user_sum
      FROM stages ORDER BY stage"""))

  /** Row-level DML through the DataSourceV2 catalog under the
    * driver's oracle: `DELETE FROM graftvtd.t` plans through the
    * table's `SupportsDelete` (Spark translates the range condition
    * to source filters, the table re-enters the shared delete
    * dispatch), and `UPDATE`/`MERGE INTO` on the catalog identifier
    * are rewritten by [[graft.pipeline.VersionedCatalogDmlRule]] onto
    * the same pinned commands the regex front-end runs — the
    * statements users type first now work on BOTH spellings. The
    * oracle replays delete → keyed update → three-clause merge
    * declaratively; the three `VERSION AS OF` stages pin each
    * statement's exact committed state, so a wrong count, a lost
    * update, or a mis-claimed merge row breaks the hash. Like
    * `pipe_vt_catalog`, it registers its catalog on a clone of the
    * caller's session and is built there.
    */
  val vtCatalogDml: Q = Q(
    "pipe_vt_catalog_dml",
    (caller, d) => {
      val wh = scratchDir("vt-catalog-dml-wh")
      val s = DatasetBridge.cloneSession(caller,
        "spark.sql.catalog.graftvtd" -> "graft.pipeline.VersionedCatalog",
        "spark.sql.catalog.graftvtd.warehouse" -> wh)
      import s.implicits._
      val src = Tables.events(s, d)
        .select($"event_id", $"user_id",
          expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"))
      src.createOrReplaceTempView("graft_catdml_src")
      s.sql("""CREATE TABLE graftvtd.ev_dml
        (event_id BIGINT, user_id BIGINT, ts_us BIGINT)
        TBLPROPERTIES ('stats'='user_id,ts_us,event_id',
                       'keys'='event_id')""")                      // v1
      s.sql("""INSERT INTO graftvtd.ev_dml
        SELECT event_id, user_id, ts_us FROM graft_catdml_src""")  // v2
      val b = src.agg(min($"event_id"), max($"event_id"),
        min($"user_id"), max($"user_id")).head
      val cut = b.getLong(1) - (b.getLong(1) - b.getLong(0)) / 5
      val mid = (b.getLong(2) + b.getLong(3)) / 2
      // standard DELETE on the catalog identifier → SupportsDelete
      s.sql(s"DELETE FROM graftvtd.ev_dml WHERE event_id >= $cut") // v3
      // standard UPDATE → the post-hoc rewrite onto the pinned command
      s.sql(s"""UPDATE graftvtd.ev_dml SET user_id = user_id + 1000000
        WHERE user_id <= $mid""")                                  // v4
      s.sql("""SELECT event_id, user_id + 5 AS user_id, ts_us
        FROM graft_catdml_src WHERE event_id % 7 = 0""")
        .createOrReplaceTempView("graft_catdml_merge_src")
      // standard three-clause MERGE, conditions and all
      s.sql("""MERGE INTO graftvtd.ev_dml t
        USING graft_catdml_merge_src s ON t.event_id = s.event_id
        WHEN MATCHED AND t.user_id >= 1000000 THEN DELETE
        WHEN MATCHED THEN UPDATE SET user_id = s.user_id,
                                     ts_us = s.ts_us
        WHEN NOT MATCHED THEN INSERT *""")                         // v5
      s.sql("""SELECT 'after_delete' AS stage, count(*) AS n_rows,
          CAST(sum(user_id) AS BIGINT) AS user_sum
        FROM graftvtd.ev_dml VERSION AS OF 3""")
        .unionAll(s.sql("""SELECT 'after_update', count(*),
          CAST(sum(user_id) AS BIGINT)
          FROM graftvtd.ev_dml VERSION AS OF 4"""))
        .unionAll(s.sql("""SELECT 'final', count(*),
          CAST(sum(user_id) AS BIGINT) FROM graftvtd.ev_dml"""))
        .orderBy($"stage")
    },
    Some("""WITH src AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(event_id) AS emn, max(event_id) AS emx,
                   min(user_id) AS umn, max(user_id) AS umx FROM src),
      cutv AS (SELECT emx - (emx - emn) // 5 AS cut,
                      (umn + umx) // 2 AS mid FROM b),
      after_del AS (
        SELECT event_id, user_id, ts_us FROM src, cutv
        WHERE event_id < cut),
      after_upd AS (
        SELECT event_id,
          CASE WHEN user_id <= (SELECT mid FROM cutv)
            THEN user_id + 1000000 ELSE user_id END AS user_id,
          ts_us
        FROM after_del),
      mrg AS (
        SELECT event_id, user_id + 5 AS user_id, ts_us FROM src
        WHERE event_id % 7 = 0),
      final AS (
        SELECT t.event_id, t.user_id, t.ts_us FROM after_upd t
        WHERE NOT EXISTS (SELECT 1 FROM mrg s
          WHERE s.event_id = t.event_id)
        UNION ALL
        SELECT s.event_id, s.user_id, s.ts_us
        FROM after_upd t JOIN mrg s ON t.event_id = s.event_id
        WHERE t.user_id < 1000000
        UNION ALL
        SELECT s.event_id, s.user_id, s.ts_us FROM mrg s
        WHERE NOT EXISTS (SELECT 1 FROM after_upd t
          WHERE t.event_id = s.event_id)),
      stages AS (
        SELECT 'after_delete' AS stage, count(*) AS n_rows,
          sum(user_id) AS user_sum FROM after_del
        UNION ALL
        SELECT 'after_update', count(*), sum(user_id) FROM after_upd
        UNION ALL
        SELECT 'final', count(*), sum(user_id) FROM final)
      SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(user_sum AS BIGINT) AS user_sum
      FROM stages ORDER BY stage"""))

  val all: Seq[Q] = Seq(curate, hashSample, decontaminate, tokenPacking,
    tokenPackingBpe, tokenPackingBytes, splitCounts, quotaSample,
    weightedSample, temperatureMix,
    qualityBuckets, shardManifest, datasetCard, gopherRules, globalShuffle,
    splitLeakage, zorderKey, zorderKey3, zorderRoundtrip, guardedIngest,
    manifestPrune3, versionedTable, pointLookup, versionedCdc,
    versionedMor, versionedMorKeys, vtSql, vtStringPrune, vtSqlIn, vtSqlDml,
    vtCdcMirror, vtDeleteWhere, vtKeysTyped, vtMergeFull, vtCdcStream,
    vtCluster, vtAddColumns, vtCatalog, vtMergeSync, vtCatalogDml,
    manifestPrune)
}
