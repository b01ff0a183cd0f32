package graft.operators

import graft.functions.VectorFunctions.cosine_similarity
import graft.queries.RelationalQueries.Q
import graft.queries.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over the `embeddings` table (north-star): brute-force
  * cosine top-k as the exact baseline, plus a random-hyperplane LSH
  * bucketing as the scale path (candidates only within a bucket — the join
  * is on the bucket key, never all-pairs), plus embedding-cosine near-dup
  * pairs blocked by label.
  *
  * The 100 TB shape: queries are broadcast (small side), candidates stream
  * through partitions once; LSH turns the all-pairs problem into a bucket
  * join whose fan-out is controlled by the number of hyperplanes. The
  * cosine kernel is the codegen'd [[graft.functions.CosineSimilarity]]
  * expression.
  *
  * DuckDB oracles mirror the double arithmetic element-by-element in index
  * order, so scores compare bit-exactly.
  */
object Similarity {

  /** DuckDB sequential-sum cosine between two float-list columns. */
  private def cosDuck(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
       (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))) *
        sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))))"""

  /** Exact top-5 cosine neighbors for the first 10 vectors: broadcast the
    * query side, one pass over candidates, per-query top-k via window.
    */
  val bruteforceTopK: Q = Q(
    "ann_bruteforce_topk",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      // spread the candidate side: 5k × 10 cosine kernels over dim-64
      // vectors ran inside the 1-task scan of the single-file embeddings
      // table (profiled 0.20 s serial); hash-distributing candidates puts
      // the kernel on all cores while the query side stays broadcast.
      val cands = Tables.spread(emb, "vec_id")
        .select($"vec_id".as("cid"), $"embedding".as("ce"))
      val scored = cands.crossJoin(broadcast(queries))
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid",
          cosine_similarity($"qe", $"ce").as("score"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"qid", $"rank", $"cid", $"score")
        .orderBy($"qid", $"rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
      s AS (SELECT qid, cid, ${cosDuck("qe", "ce")} AS score
            FROM q, c WHERE qid != cid),
      r AS (SELECT qid, cid, score,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
            FROM s)
      SELECT qid, rank, cid, score FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ------------------------------------------------ random-hyperplane LSH

  /** Deterministic integer hyperplane weights w(p, j) ∈ [-9, 9] — must
    * stay bit-identical to [[graft.functions.LshBucket.weight]]; the p*j
    * cross-term keeps all 8 planes distinct (see the note there).
    */
  private def weight(p: Int): String => String =
    j => s"(((7*$p + 11*$j + 3*$p*$j) % 19) - 9)"

  private val Dim = 64
  private val Planes = 8

  /** DuckDB-side multiprobe flip list, derived from [[Planes]] so the
    * oracle's probe set can never silently diverge from the Spark side
    * (which builds the same list as `lit(0L) +: (0 until Planes).map(1L
    * << _)`).
    */
  private def flipListDuck: String =
    (0L +: (0 until Planes).map(p => 1L << p)).mkString(", ")

  /** Spark-side multiprobe flip array — the SINGLE source the three
    * multiprobe consumers explode, kept structurally next to
    * [[flipListDuck]] so the Spark and DuckDB probe sets can only change
    * together.
    */
  private def flipArray = array(
    (0L +: (0 until Planes).map(p => 1L << p)).map(lit): _*)

  private def bucketExprDuckN(planes: Int, col: String = "embedding"): String = {
    val bits = (0 until planes).map { p =>
      val w = weight(p)("j")
      val dot = s"list_sum(list_transform(range($Dim), " +
        s"j -> $col[j+1]::DOUBLE * ($w)::DOUBLE))"
      s"(CASE WHEN ($dot) >= 0.0 THEN ${1 << p} ELSE 0 END)"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  private def bucketExprDuck: String = bucketExprDuckN(Planes)

  // the codegen'd [[graft.functions.LshBucket]] one-pass kernel; the HOF
  // fold-per-plane form is CodegenFallback (same arithmetic, interpreted)
  private def bucketsDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.lsh_bucket(col("embedding"), Planes, Dim)
          .as("bucket"))

  /** Per-vector LSH bucket id (sign pattern over 8 fixed hyperplanes). */
  val lshBuckets: Q = Q(
    "ann_lsh_buckets",
    (s, d) => bucketsDf(s, d).select(col("vec_id"), col("bucket"))
      .orderBy(col("vec_id")),
    Some(s"""SELECT vec_id, $bucketExprDuck AS bucket
      FROM embeddings ORDER BY vec_id"""))

  /** Approximate top-3 neighbors from within the same LSH bucket only —
    * the scale path: a self-join on the bucket key replaces the all-pairs
    * cross join of the brute-force baseline.
    */
  val lshTopK: Q = Q(
    "ann_lsh_topk",
    (s, d) => {
      import s.implicits._
      val b = bucketsDf(s, d).cache()
      val pairs = b.select($"vec_id".as("qid"), $"bucket", $"embedding".as("qe"))
        .join(b.select($"vec_id".as("cid"), $"bucket", $"embedding".as("ce")),
          "bucket")
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid", cosine_similarity($"qe", $"ce").as("score"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
      pairs.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"cid", $"score")
        .orderBy($"qid", $"rank")
    },
    Some(s"""WITH b AS (SELECT vec_id, embedding, $bucketExprDuck AS bucket FROM embeddings),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                   ${cosDuck("q.embedding", "c.embedding")} AS score
            FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
      r AS (SELECT qid, cid, score,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
            FROM s)
      SELECT qid, rank, cid, score FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Multi-probe LSH top-3: each query probes its own bucket plus the 8
    * Hamming-1 neighbors (one hyperplane sign flipped) — the standard
    * recall dial that trades 9× query fan-out for coverage of vectors
    * that fell just across one hyperplane, without touching index size
    * (candidates stay in their single home bucket; compare IVF nprobe).
    * Probes explode to 9 keys per query and join on the bucket key —
    * still never all-pairs.
    */
  val lshMultiprobe: Q = Q(
    "ann_lsh_multiprobe",
    (s, d) => {
      import s.implicits._
      val b = bucketsDf(s, d).cache()
      val probeArr = flipArray
      val probes = b.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"),
          explode(probeArr).as("flip"), $"bucket")
        .select($"qid", $"qe",
          ($"bucket".bitwiseXOR($"flip")).as("pbucket"))
      val pairs = b.select($"vec_id".as("cid"), $"bucket".as("pbucket"),
          $"embedding".as("ce"))
        .join(broadcast(probes), "pbucket")
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid", cosine_similarity($"qe", $"ce").as("score"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
      pairs.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"cid", $"score")
        .orderBy($"qid", $"rank")
    },
    Some(s"""WITH b AS (SELECT vec_id, embedding, $bucketExprDuck AS bucket FROM embeddings),
      probes AS (SELECT vec_id AS qid, embedding AS qe,
                   xor(bucket, f.flip) AS pbucket
                 FROM b, (SELECT unnest([$flipListDuck]) AS flip) f
                 WHERE vec_id < 10),
      s AS (SELECT p.qid, c.vec_id AS cid,
                   ${cosDuck("p.qe", "c.embedding")} AS score
            FROM probes p JOIN b c ON p.pbucket = c.bucket AND p.qid != c.vec_id),
      r AS (SELECT qid, cid, score,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
            FROM s)
      SELECT qid, rank, cid, score FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  // ------------------------------------------------------------------ IVF

  /** Trained 16-entry codebook: 2 seeded Lloyd's iterations (k-means),
    * deterministic and DuckDB-replayable. Seeds are the first 16 vectors;
    * each iteration assigns every vector to its nearest centroid by
    * cosine (ties → lower centroid_id) and re-means the members with the
    * fixed-point device [[centroids]] proved (floor(v·10⁸) BIGINT sums →
    * one double divide), so both engines produce bit-identical centroid
    * arrays; seeds that lose all members simply drop out. At 100 TB the
    * same plan trains on a SAMPLE (the crossJoin is vectors × 16
    * broadcast centroids — one narrow pass per iteration; the re-mean
    * shuffles (centroid, pos) partials, both map-side combined).
    */
  private val KmIters = 2

  /** Nearest-centroid ranking — the ONE definition of the assignment
    * subplan and its tie-break (`cscore` desc, `centroid_id`) that every
    * consumer (training, cell assignment, multiprobe, residuals) and
    * every DuckDB oracle must share bit-identically: one row per
    * (vector, centroid) carrying the cosine score, the centroid array,
    * and the per-vector rank `rn`. Input: emb(vec_id, embedding),
    * centroids(centroid_id, centroid); centroids broadcast.
    */
  private[graft] def rankedCentroids(emb: DataFrame, centroids: DataFrame)
      : DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"vec_id").orderBy($"cscore".desc, $"centroid_id")
    emb.crossJoin(broadcast(centroids))
      .select($"vec_id", $"embedding", $"centroid_id",
        cosine_similarity($"embedding", $"centroid").as("cscore"), $"centroid")
      .withColumn("rn", row_number().over(w))
  }

  private[graft] def kmeansCodebook(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val embD = Tables.embeddings(s, d)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    var cents = embD.filter($"vec_id" < 16)
      .select($"vec_id".as("centroid_id"), $"e".as("centroid"))
    for (_ <- 1 to KmIters) {
      val assigned = rankedCentroids(
          embD.select($"vec_id", $"e".as("embedding")), cents)
        .filter($"rn" === 1)
      cents = assigned
        .select($"centroid_id", posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"centroid_id", $"pos")
        .agg(sum(expr("CAST(floor(v * 100000000) AS BIGINT)")).as("q"),
          count(lit(1)).as("n"))
        .select($"centroid_id", $"pos",
          ($"q".cast("double") / lit(100000000.0) / $"n").as("cv"))
        .groupBy($"centroid_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)")
          .as("centroid"))
    }
    // 16 tiny rows, referenced twice by the PQ queries (codes + LUT) and
    // once per iteration downstream — cache so CacheManager dedupes the
    // identical training subplans instead of re-running Lloyd's
    cents.cache()
  }

  /** DuckDB replay of [[kmeansCodebook]] as a WITH-clause prefix defining
    * `kcb(centroid_id, centroid)`; consumers write `WITH $KmeansDuck, …`.
    */
  private val KmeansDuck: String = {
    def assign(cTab: String) =
      s"""SELECT vec_id, e, centroid_id FROM (
          SELECT v.vec_id, v.e, c.centroid_id,
            row_number() OVER (PARTITION BY v.vec_id
              ORDER BY ${cosDuck("v.e", "c.centroid")} DESC, c.centroid_id) AS rn
          FROM embd v, $cTab c) WHERE rn = 1"""
    def remean(aTab: String) =
      s"""SELECT centroid_id, list(cv ORDER BY pos) AS centroid FROM (
          SELECT centroid_id, i AS pos,
            CAST(sum(CAST(floor(v * 100000000) AS BIGINT)) AS DOUBLE)
              / 100000000.0 / count(*) AS cv
          FROM (SELECT centroid_id, unnest(e) AS v,
                  generate_subscripts(e, 1) AS i FROM $aTab)
          GROUP BY centroid_id, i) GROUP BY centroid_id"""
    s"""embd AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      kc0 AS (SELECT vec_id AS centroid_id, e AS centroid
              FROM embd WHERE vec_id < 16),
      ka1 AS (${assign("kc0")}),
      kc1 AS (${remean("ka1")}),
      ka2 AS (${assign("kc1")}),
      kcb AS (${remean("ka2")})"""
  }

  /** IVF cell assignment: nearest centroid by cosine from the trained
    * [[kmeansCodebook]]. The codebook is broadcast; assignment is one
    * narrow pass over the vectors.
    */
  private def cellsDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val centroids = kmeansCodebook(s, d)
    rankedCentroids(emb, centroids)
      .filter($"rn" === 1)
      .select($"vec_id", $"embedding", $"centroid_id".as("cell"))
  }

  private val CellsDuck =
    s"""SELECT vec_id, embedding, centroid_id AS cell FROM (
       SELECT e.vec_id, e.embedding, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY ${cosDuck("e.embedding", "c.centroid")} DESC, c.centroid_id) AS rn
       FROM embeddings e, kcb c) WHERE rn = 1"""

  /** IVF top-3: probe only the query's own cell (nprobe=1) — the inverted-
    * file scale path: each query scans one cell, not the corpus.
    */
  val ivfTopK: Q = Q(
    "ann_ivf_topk",
    (s, d) => {
      import s.implicits._
      val cells = cellsDf(s, d).cache()
      val pairs = cells
        .select($"vec_id".as("qid"), $"cell", $"embedding".as("qe"))
        .filter($"qid" < 10)
        .join(cells.select($"vec_id".as("cid"), $"cell", $"embedding".as("ce")),
          "cell")
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid", cosine_similarity($"qe", $"ce").as("score"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
      pairs.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"cid", $"score")
        .orderBy($"qid", $"rank")
    },
    Some(s"""WITH $KmeansDuck,
      cells AS ($CellsDuck),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                   ${cosDuck("q.embedding", "c.embedding")} AS score
            FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id != c.vec_id
            WHERE q.vec_id < 10),
      r AS (SELECT qid, cid, score,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
            FROM s)
      SELECT qid, rank, cid, score FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Multi-probe IVF: queries probe their 2 nearest cells (nprobe=2) —
    * the standard recall/cost dial; corpus vectors stay in their 1 home
    * cell, so index size is unchanged and only the query fan-out doubles.
    */
  val ivfNprobe2: Q = Q(
    "ann_ivf_nprobe2",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val centroids = kmeansCodebook(s, d)
      val ranked = rankedCentroids(emb, centroids)
      val home = ranked.filter($"rn" === 1)
        .select($"vec_id".as("cid"), $"embedding".as("ce"),
          $"centroid_id".as("cell"))
      val probes = ranked.filter($"rn" <= 2 && $"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"),
          $"centroid_id".as("cell"))
      // no distinct: `home` keeps exactly one row per candidate (rn=1),
      // and a query's two probe rows have different cells, so each
      // (qid, cid) matches via at most one probe — the same exactly-one-
      // match argument as [[cosineNearDupLshMp]]
      val pairs = probes.join(home, "cell")
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid", cosine_similarity($"qe", $"ce").as("score"))
      val tk = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
      pairs.withColumn("rank", row_number().over(tk))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"cid", $"score")
        .orderBy($"qid", $"rank")
    },
    Some(s"""WITH $KmeansDuck,
      ranked AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosDuck("e.embedding", "c.centroid")} DESC, c.centroid_id) AS rn
        FROM embeddings e, kcb c),
      home AS (SELECT vec_id AS cid, embedding AS ce, centroid_id AS cell
               FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, embedding AS qe, centroid_id AS cell
                 FROM ranked WHERE rn <= 2 AND vec_id < 10),
      s AS (SELECT DISTINCT qid, cid, ${cosDuck("qe", "ce")} AS score
            FROM probes JOIN home USING (cell) WHERE qid != cid),
      r AS (SELECT qid, cid, score,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
            FROM s)
      SELECT qid, rank, cid, score FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** The SQL-registration path for the custom cosine expression: the same
    * brute-force top-k expressed entirely in SQL after
    * `VectorFunctions.register` — custom Catalyst expressions are
    * first-class SQL functions, like the dynamic-UDF DDL path.
    */
  val sqlTopK: Q = Q(
    "ann_sql_topk",
    (s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("graft_embeddings")
      s.sql("""
        WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM graft_embeddings
                   WHERE vec_id >= 10 AND vec_id < 20),
        c AS (SELECT vec_id AS cid, embedding AS ce FROM graft_embeddings),
        sc AS (SELECT /*+ BROADCAST(q) */ qid, cid,
                 cosine_similarity(qe, ce) AS score
               FROM q CROSS JOIN c WHERE qid != cid),
        r AS (SELECT qid, cid, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
              FROM sc)
        SELECT qid, rank, cid, score FROM r WHERE rank <= 3
        ORDER BY qid, rank""")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                   WHERE vec_id >= 10 AND vec_id < 20),
      c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
      sc AS (SELECT qid, cid, ${cosDuck("qe", "ce")} AS score
             FROM q CROSS JOIN c WHERE qid != cid),
      r AS (SELECT qid, cid, score,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
            FROM sc)
      SELECT qid, rank, cid, score FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Embedding-cosine near-dup pairs, blocked by label. COMPARISON
    * BASELINE, not the production path: label blocking is only scale-safe
    * while every label stays small — one hot label (a dominant
    * language/source/topic at 100 TB) is a quadratic block. The
    * production path is [[cosineNearDupLsh]], whose blocking key has a
    * capacity dial. Kept oracled so the two variants stay directly
    * comparable on candidate count and recall.
    */
  val cosineNearDup: Q = Q(
    "dd_embedding_cosine",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"label", $"embedding")
      e.select($"vec_id".as("a_id"), $"label", $"embedding".as("ea"))
        .join(e.select($"vec_id".as("b_id"), $"label", $"embedding".as("eb")),
          "label")
        .filter($"a_id" < $"b_id")
        .select($"a_id", $"b_id",
          cosine_similarity($"ea", $"eb").as("score"))
        .filter($"score" >= 0.35)
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      ${cosDuck("a.embedding", "b.embedding")} AS score
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.35
      ORDER BY a_id, b_id"""))

  /** Embedding-cosine near-dup pairs, blocked by the 8-hyperplane LSH
    * bucket — the production path ([[cosineNearDup]] is the label-blocked
    * comparison baseline). The bucket is a *capacity-controlled* blocking
    * key: expected occupancy is n/2^planes and each added plane halves
    * it, so the pair-join block size is an index parameter rather than a
    * property of the corpus's label distribution. Same readout and
    * threshold as the baseline, so the only delta is candidate
    * generation: only same-bucket pairs are examined (the standard LSH
    * recall trade, dialable with multiprobe as in ann_lsh_multiprobe).
    */
  val cosineNearDupLsh: Q = Q(
    "dd_embedding_cosine_lsh",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"embedding",
          graft.functions.VectorFunctions.lsh_bucket(col("embedding"), Planes, Dim)
            .as("bucket"))
      e.select($"vec_id".as("a_id"), $"bucket", $"embedding".as("ea"))
        .join(e.select($"vec_id".as("b_id"), $"bucket", $"embedding".as("eb")),
          "bucket")
        .filter($"a_id" < $"b_id")
        .select($"a_id", $"b_id",
          cosine_similarity($"ea", $"eb").as("score"))
        .filter($"score" >= 0.35)
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding, $bucketExprDuck AS bucket
               FROM embeddings)
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        ${cosDuck("a.embedding", "b.embedding")} AS score
      FROM e a JOIN e b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.35
      ORDER BY a_id, b_id"""))

  /** Multiprobe variant of [[cosineNearDupLsh]]: every vector probes its
    * own bucket plus the 8 Hamming-1 neighbors, so any pair whose buckets
    * differ in at most one hyperplane sign is examined — the recall dial
    * turned one notch. Hamming symmetry means restricting to
    * `a_id < b_id` on the probe→home join still finds each qualifying
    * pair exactly once (via the single flip equal to the bucket XOR), so
    * no distinct is needed. Candidate volume grows by ≤ (planes+1)× while
    * the join REMAINS a capacity-bounded equi-join; unlike
    * [[lshMultiprobe]] (10 probe queries, broadcast), the probe side here
    * is corpus-sized, so NO broadcast hint — AQE plans the exchange.
    */
  val cosineNearDupLshMp: Q = Q(
    "dd_embedding_cosine_lsh_mp",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"embedding",
          graft.functions.VectorFunctions.lsh_bucket(col("embedding"), Planes, Dim)
            .as("bucket"))
      val probeArr = flipArray
      val probes = e
        .select($"vec_id".as("a_id"), $"embedding".as("ea"),
          explode(probeArr).as("flip"), $"bucket")
        .select($"a_id", $"ea", ($"bucket".bitwiseXOR($"flip")).as("pbucket"))
      probes
        .join(e.select($"vec_id".as("b_id"), $"bucket".as("pbucket"),
          $"embedding".as("eb")), "pbucket")
        .filter($"a_id" < $"b_id")
        .select($"a_id", $"b_id",
          cosine_similarity($"ea", $"eb").as("score"))
        .filter($"score" >= 0.35)
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding, $bucketExprDuck AS bucket
               FROM embeddings),
      probes AS (SELECT vec_id AS a_id, embedding AS ea,
                   xor(bucket, f.flip) AS pbucket
                 FROM e, (SELECT unnest([$flipListDuck]) AS flip) f)
      SELECT p.a_id, h.vec_id AS b_id,
        ${cosDuck("p.ea", "h.embedding")} AS score
      FROM probes p JOIN e h ON p.pbucket = h.bucket AND p.a_id < h.vec_id
      WHERE ${cosDuck("p.ea", "h.embedding")} >= 0.35
      ORDER BY a_id, b_id"""))

  /** Skew-bounded variant of [[cosineNearDupLsh]]: over-occupancy buckets
    * are split by extension hyperplanes until every block is back under a
    * capacity bound. Motivation is a round-10 measurement (SCALE.md
    * §"Round-10 order-of-magnitude study"): at 1M vectors the 8-plane bucket's
    * MEAN occupancy tracks n/2^planes exactly, but the MAX runs 4–10×
    * the mean — and a within-bucket self-join pays occupancy
    * quadratically, so the heaviest bucket dominates the pair join
    * (15,653²/2 ≈ 122M of the 3.06G candidate pairs at 8 planes).
    * Raising the global plane count punishes every bucket to fix a few;
    * this operator instead computes per-bucket occupancy (a tiny
    * ≤2^planes-row aggregate, broadcast back) and gives each bucket the
    * SMALLEST k with occ ≤ cap·2^k extension bits (k ≤ 8), drawn from
    * the same deterministic hyperplane family (planes 8–15 of the
    * 16-plane key — bit p of [[graft.functions.LshBucket]] is
    * independent of the total plane count, so the low 8 bits ARE the
    * base bucket). Expected refined occupancy is ≤ cap everywhere; the
    * join stays an equi-join on (bucket, sub).
    *
    * The recall trade is the standard LSH one, now applied only where
    * the data is dense: a qualifying pair inside a split bucket is kept
    * iff it agrees on the bucket's k extension signs — near-dups at
    * cosine → 1 agree on any plane w.h.p., and multiprobe over the
    * extension bits is the same dial as [[cosineNearDupLshMp]].
    * All arithmetic (occupancy, k, sub-key) is integral, so the DuckDB
    * oracle replays the split decisions bit-exactly.
    */
  private val BoundedCap = 4L
  private val ExtPlanes = 8
  val cosineNearDupLshBounded: Q = Q(
    "dd_embedding_lsh_bounded",
    (s, d) => {
      import s.implicits._
      // cached: the 16-plane LSH kernel feeds the occupancy aggregate AND
      // both sides of the refined self-join — uncached, the occ branch
      // re-runs the scan + kernel (ReusedExchange is not guaranteed
      // across the branches), pure wasted CPU at the 1M-vector scale
      // this operator targets
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"embedding",
          graft.functions.VectorFunctions
            .lsh_bucket(col("embedding"), Planes + ExtPlanes, Dim).as("b16"))
        .select($"vec_id", $"embedding",
          $"b16".bitwiseAND(lit((1L << Planes) - 1)).as("bucket"),
          shiftright($"b16", Planes).as("ext"))
        .cache()
      val occ = e.groupBy($"bucket").agg(count(lit(1)).as("occ"))
      // smallest k with occ <= cap·2^k, capped at ExtPlanes — integer
      // comparisons only, built innermost-out so branch k wins over k-1
      val kCol = (1 to ExtPlanes).foldLeft(lit(0)) { (acc, k) =>
        when($"occ" > lit(BoundedCap << (k - 1)), lit(k)).otherwise(acc)
      }
      val buckK = occ.select($"bucket", kCol.as("k"))
      val refined = e.join(broadcast(buckK), "bucket")
        .select($"vec_id", $"embedding", $"bucket",
          expr("ext & (shiftleft(CAST(1 AS BIGINT), k) - 1)").as("sub"))
      refined.as("a").join(refined.as("b"),
          $"a.bucket" === $"b.bucket" && $"a.sub" === $"b.sub" &&
            $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("a_id"), $"b.vec_id".as("b_id"),
          cosine_similarity($"a.embedding", $"b.embedding").as("score"))
        .filter($"score" >= 0.35)
        .orderBy($"a_id", $"b_id")
    },
    Some {
      val kCase = (1 to ExtPlanes).reverse
        .map(k => s"WHEN occ > ${BoundedCap << (k - 1)} THEN $k")
        .mkString(" ")
      s"""WITH e AS (SELECT vec_id, embedding,
               ${bucketExprDuckN(Planes + ExtPlanes)} AS b16 FROM embeddings),
        eb AS (SELECT vec_id, embedding,
                 b16 & ${(1L << Planes) - 1} AS bucket,
                 b16 >> $Planes AS ext FROM e),
        occ AS (SELECT bucket, count(*) AS occ FROM eb GROUP BY bucket),
        bk AS (SELECT bucket, CASE $kCase ELSE 0 END AS k FROM occ),
        r AS (SELECT eb.vec_id, eb.embedding, eb.bucket,
                ext & ((CAST(1 AS BIGINT) << k) - 1) AS sub
              FROM eb JOIN bk USING (bucket))
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          ${cosDuck("a.embedding", "b.embedding")} AS score
        FROM r a JOIN r b
          ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id < b.vec_id
        WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.35
        ORDER BY a_id, b_id"""
    })

  /** Deterministic query-side sample for the recall readout: a vector is
    * a "query" iff an engine-portable hash of its id (md5 prefix, same
    * trick as `pipe_hash_sample`) lands in bucket 0 of [[RecallSampleK]].
    * Content-independent, layout-independent, replayed bit-identically by
    * the DuckDB oracle.
    */
  private val RecallSampleK = 4
  private def recallSampled(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") %
      RecallSampleK === 0
  private def recallSampledDuck(id: String): String =
    s"((('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 8))::BIGINT) % $RecallSampleK = 0)"

  /** Recall readout for the embedding near-dup family — the measurement
    * that justifies promoting [[cosineNearDupLsh]]/[[cosineNearDupLshMp]]
    * over the exact baseline. One row per method: full pair count for the
    * scalable arms, plus recall estimated on a deterministic hash-sample
    * of the query side. Both blocked variants examine candidate SUBSETS
    * of the all-pairs set at the same score threshold, so
    * recall = n_sampled_method / n_sampled_exact is the exact recall on
    * the sampled queries and an unbiased estimate of corpus recall.
    *
    * Scale shape: ground truth is NOT an all-pairs cross join — the
    * sampled query side is broadcast and the corpus streams through it
    * once (BroadcastNestedLoopJoin), i.e. O(n·|sample|) with one corpus
    * pass and no shuffle. [[RecallSampleK]] holds the sample at a
    * broadcastable size: at corpus scale it grows with n so the sample
    * stays ~fixed (the recall CI needs a constant number of truth pairs,
    * not a constant fraction), which the oracle replays at any K since
    * the predicate is pure arithmetic on vec_id. The LSH arms stay
    * full-corpus capacity-bounded equi-joins. Plan-pinned in
    * `PlanRegressionSpec` (no CartesianProduct; the only nested-loop
    * join is the broadcast sampled side). Occupancy scaling for the same
    * bucket key is measured in SCALE.md §"Similarity search" (LSH bucket
    * occupancy).
    */
  val embeddingRecall: Q = Q(
    "dd_embedding_recall",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"embedding",
          graft.functions.VectorFunctions.lsh_bucket(col("embedding"), Planes, Dim)
            .as("bucket"))
      val a = e.select($"vec_id".as("a_id"), $"embedding".as("ea"),
        $"bucket".as("ba"))
      val b = e.select($"vec_id".as("b_id"), $"embedding".as("eb"),
        $"bucket".as("bb"))
      // exact truth on the sampled queries only: broadcast the sample,
      // stream the corpus once — linear, never a cartesian
      val exact = b.join(broadcast(a.filter(recallSampled($"a_id"))),
          $"a_id" < $"b_id")
        .filter(cosine_similarity($"ea", $"eb") >= 0.35)
        .select($"a_id", $"b_id")
      val lsh = a.join(b, $"ba" === $"bb" && $"a_id" < $"b_id")
        .filter(cosine_similarity($"ea", $"eb") >= 0.35)
        .select($"a_id", $"b_id")
      // Hamming-1 multiprobe: each qualifying pair matches via exactly
      // one flip (the bucket XOR), so no distinct — same argument as
      // cosineNearDupLshMp
      val probeArr = flipArray
      val mp = a.select($"a_id", $"ea", explode(probeArr).as("flip"), $"ba")
        .select($"a_id", $"ea", ($"ba".bitwiseXOR($"flip")).as("pbucket"))
        .join(b, $"pbucket" === $"bb" && $"a_id" < $"b_id")
        .filter(cosine_similarity($"ea", $"eb") >= 0.35)
        .select($"a_id", $"b_id")
      // n_pairs: everything the arm found; n_sampled: restricted to the
      // sampled queries (for exact the two coincide by construction)
      def cnt(df: DataFrame, m: String): DataFrame =
        df.agg(count(lit(1)).as("n_pairs"),
            count(when(recallSampled($"a_id"), 1)).as("n_sampled"))
          .select(lit(m).as("method"), $"n_pairs", $"n_sampled")
      cnt(exact, "exact").unionAll(cnt(lsh, "lsh")).unionAll(cnt(mp, "lsh_mp"))
        .withColumn("recall", $"n_sampled".cast("double") /
          max(when($"method" === "exact", $"n_sampled"))
            .over(Window.partitionBy()))
        .select($"method", $"n_pairs", $"n_sampled", $"recall")
        .orderBy($"method")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding, $bucketExprDuck AS bucket
               FROM embeddings),
      exact AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE ${recallSampledDuck("a.vec_id")}
                  AND ${cosDuck("a.embedding", "b.embedding")} >= 0.35),
      lsh AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
              FROM e a JOIN e b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.35),
      probes AS (SELECT vec_id AS a_id, embedding AS ea,
                   xor(bucket, f.flip) AS pbucket
                 FROM e, (SELECT unnest([$flipListDuck]) AS flip) f),
      mp AS (SELECT p.a_id, h.vec_id AS b_id
             FROM probes p JOIN e h
               ON p.pbucket = h.bucket AND p.a_id < h.vec_id
             WHERE ${cosDuck("p.ea", "h.embedding")} >= 0.35),
      counts AS (
        SELECT 'exact' AS method, count(*) AS n_pairs,
               count(*) FILTER (WHERE ${recallSampledDuck("a_id")}) AS n_sampled
        FROM exact
        UNION ALL SELECT 'lsh', count(*),
               count(*) FILTER (WHERE ${recallSampledDuck("a_id")})
        FROM lsh
        UNION ALL SELECT 'lsh_mp', count(*),
               count(*) FILTER (WHERE ${recallSampledDuck("a_id")})
        FROM mp)
      SELECT method, CAST(n_pairs AS BIGINT) AS n_pairs,
        CAST(n_sampled AS BIGINT) AS n_sampled,
        CAST(n_sampled AS DOUBLE) /
          (SELECT n_sampled FROM counts WHERE method = 'exact') AS recall
      FROM counts ORDER BY method"""))

  /** Per-label centroid vectors — the k-means/IVF training step (mean of
    * member embeddings, one value per (cluster, dimension)). Float
    * summation is partition-order-dependent, so each component is
    * quantized to an exact integer (floor(x·1e8), identical on both
    * engines since float→double is exact and floor is floor, not trunc)
    * and summed as BIGINT — order-free, partial-aggregatable, one shuffle
    * on (label, pos). The final divide replays identically in both
    * engines. posexplode keeps dimension order without carrying arrays
    * through the shuffle.
    */
  val centroids: Q = Q(
    "ann_centroids",
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"label", posexplode($"embedding").as(Seq("pos", "e")))
        .groupBy($"label", $"pos")
        .agg(sum(expr("CAST(floor(CAST(e AS DOUBLE) * 100000000) AS BIGINT)"))
          .as("qsum"), count(lit(1)).as("n"))
        .select($"label", $"pos".cast("long").as("pos"),
          ($"qsum".cast("double") / lit(100000000.0) / $"n").as("centroid"))
        .orderBy($"label", $"pos")
    },
    Some("""WITH ex AS (
        SELECT label, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
      SELECT label, CAST(i - 1 AS BIGINT) AS pos,
        CAST(sum(CAST(floor(CAST(e AS DOUBLE) * 100000000) AS BIGINT)) AS DOUBLE)
          / 100000000.0 / count(*) AS centroid
      FROM ex GROUP BY label, i ORDER BY label, pos"""))

  /** Symmetric int8 quantization per vector — the memory side of ANN at
    * scale (4× smaller vectors, SIMD-friendly dot products; what a 100 TB
    * embedding store actually serves). Per-vector scale = max|x|/127;
    * codes = round(x/scale), computed as floor(v + 0.5) because SQL
    * `round` half-case rules differ across engines while floor is exact.
    * All narrow per-row work; float→double casts are exact, so both
    * engines quantize identically. Codes for the first 4 dims are
    * surfaced as scalar columns (array outputs break the driver compare).
    */
  val quantizeInt8: Q = Q(
    "ann_quantize_int8",
    (s, d) => {
      import s.implicits._
      def code(i: Int) =
        expr(s"CAST(floor(CAST(element_at(embedding, $i) AS DOUBLE) / scale + 0.5d) AS BIGINT)")
          .as(s"q$i")
      Tables.embeddings(s, d)
        .select($"vec_id", $"embedding",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0d")
            .as("scale"))
        .filter($"scale" > 0)
        .select($"vec_id", $"scale", code(1), code(2), code(3), code(4),
          size($"embedding").cast("long").as("n_dims"))
        .orderBy($"vec_id")
    },
    Some("""SELECT vec_id, scale,
        CAST(floor(CAST(embedding[1] AS DOUBLE) / scale + 0.5) AS BIGINT) AS q1,
        CAST(floor(CAST(embedding[2] AS DOUBLE) / scale + 0.5) AS BIGINT) AS q2,
        CAST(floor(CAST(embedding[3] AS DOUBLE) / scale + 0.5) AS BIGINT) AS q3,
        CAST(floor(CAST(embedding[4] AS DOUBLE) / scale + 0.5) AS BIGINT) AS q4,
        CAST(len(embedding) AS BIGINT) AS n_dims
      FROM (SELECT vec_id, embedding,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
            FROM embeddings)
      WHERE scale > 0 ORDER BY vec_id"""))

  /** Measured recall@5 of the LSH index against the brute-force ground
    * truth, per query vector — the accuracy dial every approximate index
    * must report before it replaces an exact scan. Both sides are
    * deterministic relational plans, so even the QUALITY measurement is
    * oracle-checkable. At scale the ground truth is computed once on a
    * query sample (here: the 10 probe vectors) while the index serves the
    * full corpus; recall below target → more hyperplanes/probes, not a
    * bigger scan.
    */
  val recallReport: Q = Q(
    "ann_recall_report",
    (s, d) => {
      import s.implicits._
      val b = bucketsDf(s, d).cache()
      val probes = b.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"bucket".as("qb"), $"embedding".as("qe"))
      // ground truth: exact top-5 over all candidates
      val exact = b.select($"vec_id".as("cid"), $"embedding".as("ce"))
        .crossJoin(broadcast(probes.select($"qid", $"qe")))
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid", cosine_similarity($"qe", $"ce").as("score"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
      val truth = exact.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5).select($"qid", $"cid")
      // approximate: top-5 from within the probe's bucket only
      val approx = b.select($"vec_id".as("cid"), $"bucket".as("qb"),
          $"embedding".as("ce"))
        .join(broadcast(probes), "qb")
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid", cosine_similarity($"qe", $"ce").as("score"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5).select($"qid", $"cid")
      val hits = truth.join(approx, Seq("qid", "cid"))
        .groupBy($"qid").agg(count(lit(1)).as("n_hits"))
      probes.select($"qid")
        .join(hits, Seq("qid"), "left")
        .select($"qid", coalesce($"n_hits", lit(0L)).as("n_hits"),
          (coalesce($"n_hits", lit(0L)).cast("double") / 5).as("recall_at_5"))
        .orderBy($"qid")
    },
    Some(s"""WITH b AS (SELECT vec_id, embedding, $bucketExprDuck AS bucket FROM embeddings),
      probes AS (SELECT vec_id AS qid, bucket AS qb, embedding AS qe FROM b WHERE vec_id < 10),
      ex AS (SELECT p.qid, c.vec_id AS cid,
               ${cosDuck("p.qe", "c.embedding")} AS score
             FROM probes p, b c WHERE p.qid != c.vec_id),
      truth AS (SELECT qid, cid FROM (
          SELECT qid, cid, row_number() OVER
            (PARTITION BY qid ORDER BY score DESC, cid) AS rank FROM ex)
        WHERE rank <= 5),
      ap AS (SELECT p.qid, c.vec_id AS cid,
               ${cosDuck("p.qe", "c.embedding")} AS score
             FROM probes p JOIN b c ON p.qb = c.bucket AND p.qid != c.vec_id),
      atop AS (SELECT qid, cid FROM (
          SELECT qid, cid, row_number() OVER
            (PARTITION BY qid ORDER BY score DESC, cid) AS rank FROM ap)
        WHERE rank <= 5),
      hits AS (SELECT t.qid, count(*) AS n_hits
               FROM truth t JOIN atop a ON t.qid = a.qid AND t.cid = a.cid
               GROUP BY t.qid)
      SELECT p.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5 AS recall_at_5
      FROM probes p LEFT JOIN hits h ON p.qid = h.qid
      ORDER BY p.qid"""))

  // ------------------------------------------------ product quantization

  private val SubDim = 16 // 64 dims / 4 subspaces
  private val NSub = 4

  /** Subspace squared L2 — the codegen'd
    * [[graft.functions.SubspaceSqDist]] kernel (the HOF
    * `aggregate(sequence(...))` form is CodegenFallback: interpreted per
    * row with a lambda frame per element; same sequential double
    * arithmetic, so oracle values are unchanged).
    */
  private def subDist(a: Column, b: Column, m: Int): Column =
    graft.functions.VectorFunctions.subspace_sqdist(a, b, m * SubDim, SubDim)

  /** DuckDB mirror of [[subDistSpark]] (1-based list indexing). */
  private def subDistDuck(a: String, b: String, mExpr: String): String = {
    val diff = s"($a[j + ($mExpr)*$SubDim + 1]::DOUBLE - $b[j + ($mExpr)*$SubDim + 1]::DOUBLE)"
    s"list_sum(list_transform(range($SubDim), j -> $diff * $diff))"
  }

  /** Per-(vector, subspace) distances to every codeword: vectors cross
    * the broadcast trained [[kmeansCodebook]], each pair exploding into 4
    * per-subspace squared-L2 rows.
    */
  private def pqSubDists(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val cb = kmeansCodebook(s, d)
      .select($"centroid_id".as("code_id"), $"centroid".as("cw"))
    val distStructs = array((0 until NSub).map { m =>
      struct(lit(m.toLong).as("m"),
        subDist($"embedding", $"cw", m).as("dist"))
    }: _*)
    emb.crossJoin(broadcast(cb))
      .select($"vec_id", $"code_id", explode(distStructs).as("md"))
      .select($"vec_id", $"code_id", $"md.m".as("m"), $"md.dist".as("dist"))
  }

  /** Nearest codeword per (vector, subspace) — the PQ code table. */
  private def pqCodesDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"vec_id", $"m").orderBy($"dist", $"code_id")
    pqSubDists(s, d).withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"m", $"code_id".as("code"))
  }

  private val PqCodesDuck =
    s"""SELECT vec_id, m, code_id AS code FROM (
         SELECT e.vec_id, mm.m, cb.code_id,
           row_number() OVER (PARTITION BY e.vec_id, mm.m
             ORDER BY ${subDistDuck("e.embedding", "cb.cw", "mm.m")}, cb.code_id) AS rn
         FROM embeddings e,
              (SELECT centroid_id AS code_id, centroid AS cw FROM kcb) cb,
              (SELECT unnest(range($NSub)) AS m) mm)
       WHERE rn = 1"""

  /** Product-quantization code assignment: each 64-dim vector compresses to
    * 4 codebook ids (one per 16-dim subspace, nearest codeword by squared
    * L2) — the 16× memory-compression step a 100 TB embedding store runs
    * before serving. The codebook is broadcast; assignment is one narrow
    * pass (argmin per subspace via window over 16 candidates). Codes
    * surface as 4 scalar columns.
    */
  val pqCodes: Q = Q(
    "ann_pq_codes",
    (s, d) => {
      import s.implicits._
      pqCodesDf(s, d)
        .groupBy($"vec_id")
        .agg(max(when($"m" === 0, $"code")).as("c0"),
          max(when($"m" === 1, $"code")).as("c1"),
          max(when($"m" === 2, $"code")).as("c2"),
          max(when($"m" === 3, $"code")).as("c3"))
        .orderBy($"vec_id")
    },
    Some(s"""WITH $KmeansDuck,
      codes AS ($PqCodesDuck)
      SELECT vec_id,
        max(CASE WHEN m = 0 THEN code END) AS c0,
        max(CASE WHEN m = 1 THEN code END) AS c1,
        max(CASE WHEN m = 2 THEN code END) AS c2,
        max(CASE WHEN m = 3 THEN code END) AS c3
      FROM codes GROUP BY vec_id ORDER BY vec_id"""))

  /** PQ asymmetric-distance top-3: queries keep full precision, candidates
    * are their 4 PQ codes, and each query precomputes a 4×16 lookup table
    * of subspace distances to every codeword — candidate distance is then
    * 4 LUT lookups, never a 64-dim scan. The LUT (10 queries × 64 entries)
    * is broadcast; the candidate side joins on (subspace, code) and
    * aggregates. Per-entry distances are fixed-pointed to BIGINTs before
    * the 4-way sum so the grouped aggregation is order-free (same device
    * as ann_centroids); ranking ties break on cid.
    */
  val pqTopK: Q = Q(
    "ann_pq_topk",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val cb = kmeansCodebook(s, d)
        .select($"centroid_id".as("code_id"), $"centroid".as("cw"))
      val lutStructs = array((0 until NSub).map { m =>
        struct(lit(m.toLong).as("m"),
          floor(subDist($"qe", $"cw", m) * 100000000L).cast("long").as("dq8"))
      }: _*)
      val lut = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
        .crossJoin(broadcast(cb))
        .select($"qid", $"code_id".as("k"), explode(lutStructs).as("md"))
        .select($"qid", $"k", $"md.m".as("lm"), $"md.dq8".as("dq8"))
      val adc = pqCodesDf(s, d)
        .join(broadcast(lut), $"m" === $"lm" && $"code" === $"k")
        .filter($"qid" =!= $"vec_id")
        .groupBy($"qid", $"vec_id".as("cid"))
        .agg(sum($"dq8").as("adc8"))
      val w = Window.partitionBy($"qid").orderBy($"adc8", $"cid")
      adc.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"cid",
          ($"adc8".cast("double") / 100000000.0).as("adc_dist"))
        .orderBy($"qid", $"rank")
    },
    Some(s"""WITH $KmeansDuck,
      codes AS ($PqCodesDuck),
      cb AS (SELECT centroid_id AS code_id, centroid AS cw FROM kcb),
      lut AS (SELECT q.vec_id AS qid, cb.code_id AS k, mm.m,
                CAST(floor(${subDistDuck("q.embedding", "cb.cw", "mm.m")} * 100000000) AS BIGINT) AS dq8
              FROM embeddings q, cb, (SELECT unnest(range($NSub)) AS m) mm
              WHERE q.vec_id < 10),
      adc AS (SELECT lut.qid, c.vec_id AS cid, sum(dq8) AS adc8
              FROM codes c JOIN lut ON c.m = lut.m AND c.code = lut.k
              WHERE lut.qid != c.vec_id GROUP BY 1, 2),
      r AS (SELECT qid, cid, adc8, row_number() OVER
              (PARTITION BY qid ORDER BY adc8, cid) AS rank FROM adc)
      SELECT qid, rank, cid, CAST(adc8 AS DOUBLE) / 100000000.0 AS adc_dist
      FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Cross-modal cluster profile: join the embedding store to the text
    * corpus (vec_id → doc_id — embeddings exist for a subset of documents,
    * the usual shape of a partially-embedded corpus) and report each
    * cluster label's volume and text-quality profile — the readout that
    * decides which semantic clusters to keep, downweight, or re-embed.
    * One broadcast-able join (the embedded subset is the small side at
    * scale) plus a per-label aggregate; quality means are fixed-pointed
    * BIGINTs so the per-cluster mean is order-free and cross-engine exact.
    */
  val clusterQuality: Q = Q(
    "ann_cluster_quality",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", split(trim($"text"), "\\s+").as("w"),
          length(regexp_replace($"text", "\\s+", ""))
            .cast("long").as("n_letters"))
        .select($"doc_id", size($"w").cast("long").as("n_tokens"),
          size(filter($"w", t => t.isin(TextAnalysis.Stopwords: _*)))
            .cast("long").as("n_stop"), $"n_letters")
        .select($"doc_id", $"n_tokens",
          floor((($"n_stop".cast("double") / $"n_tokens") * 0.4 +
            ($"n_letters".cast("double") / $"n_tokens") * 0.01 +
            $"n_tokens".cast("double") * 0.0001) * 1e12)
            .cast("long").as("q12"))
      Tables.embeddings(s, d)
        .select($"vec_id".as("doc_id"), $"label".cast("long").as("label"))
        .join(docs, "doc_id")
        .groupBy($"label")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("tokens"),
          (sum($"q12").cast("double") / count(lit(1)) / 1e12)
            .as("mean_quality"))
        .orderBy($"label")
    },
    Some("""WITH q AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
          CAST(floor((
            (CAST(len(list_filter(w, t -> t IN ('the','a','of','to','and','is'))) AS DOUBLE) / len(w)) * 0.4
            + (CAST(n_letters AS DOUBLE) / len(w)) * 0.01
            + CAST(len(w) AS DOUBLE) * 0.0001) * 1e12) AS BIGINT) AS q12
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
                CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_letters
              FROM documents)),
      e AS (SELECT vec_id AS doc_id, CAST(label AS BIGINT) AS label FROM embeddings)
      SELECT label, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS tokens,
        CAST(sum(q12) AS DOUBLE) / count(*) / 1e12 AS mean_quality
      FROM e JOIN q USING (doc_id)
      GROUP BY label ORDER BY label"""))

  /** IVF-PQ top-3 — the composed FAISS-style index a 100 TB vector store
    * actually serves: coarse IVF cells bound the search to one cell
    * (nprobe=1), and within the cell candidates are represented only by
    * PQ codes of their RESIDUALS (vector − cell centroid), the standard
    * trick that concentrates quantization precision where vectors
    * actually differ. The residual codebook is 16 deterministic entries
    * (residuals of vectors 16–31; a real pipeline k-means residual
    * samples); queries build a per-(query, subspace, codeword) LUT over
    * their own residual, and each same-cell candidate costs 4 fixed-point
    * LUT lookups — never a raw-vector read. Everything after the cached
    * cell assignment is broadcast joins and one per-query top-k shuffle.
    */
  /** Shared IVF-PQ serving plan. `serveAll = false` serves the 10 probe
    * queries with a broadcast per-query LUT; `serveAll = true` serves the
    * WHOLE corpus through the same index — the LUT is then corpus-sized
    * (one row per (query, codeword, subspace)), so it must NOT be
    * broadcast: the ADC join shuffles both sides on (cell, m, code) and
    * AQE re-plans from measured sizes. Per-cell work is |cell|²·NSub,
    * bounded by the trained codebook's cell capacity — the IVF argument —
    * never corpus².
    *
    * `nprobe > 1` widens the QUERY side only (the multiprobe dial
    * [[ivfNprobe2]] proved for plain IVF): each query probes its nprobe
    * nearest cells, building a separate residual (q − probed centroid)
    * and ADC LUT per probe. Candidates stay in their single home cell, so
    * index size and the codes table are unchanged — query fan-out scales
    * by nprobe, and each (query, candidate) pair still matches via
    * exactly one probe (the candidate's home cell), so no dedup is
    * needed.
    */
  /** Double-cast embedding view (the arithmetic form every IVF/PQ stage
    * works in).
    */
  private[graft] def embDouble(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
  }

  /** Home-cell assignment + residual per vector: (vec_id, cell, r). */
  private[graft] def ivfCells(s: SparkSession, emb: DataFrame,
      centroids: DataFrame): DataFrame = {
    import s.implicits._
    rankedCentroids(emb, centroids)
      .filter($"rn" === 1)
      .select($"vec_id", $"centroid_id".as("cell"),
        expr("zip_with(embedding, centroid, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))")
          .as("r"))
  }

  /** 16-entry residual codebook from the cell assignments. */
  private[graft] def residualCodebook(cells: DataFrame): DataFrame = {
    val s = cells.sparkSession
    import s.implicits._
    cells.filter($"vec_id" >= 16 && $"vec_id" < 32)
      .select($"vec_id".as("code_id"), $"r".as("cw"))
  }

  /** PQ codes of every vector's residual: (vec_id, cell, m, code). */
  private[graft] def pqCodesFrame(cells: DataFrame, rcb: DataFrame): DataFrame = {
    val s = cells.sparkSession
    import s.implicits._
    val distStructs = array((0 until NSub).map { m =>
      struct(lit(m.toLong).as("m"), subDist($"r", $"cw", m).as("dist"))
    }: _*)
    cells.crossJoin(broadcast(rcb))
      .select($"vec_id", $"cell", $"code_id", explode(distStructs).as("md"))
      .select($"vec_id", $"cell", $"code_id", $"md.m".as("m"), $"md.dist".as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id", $"m").orderBy($"dist", $"code_id")))
      .filter($"rn" === 1)
      .select($"vec_id", $"cell", $"m", $"code_id".as("code"))
  }

  /** Per-probe query residuals: each query vector re-expressed relative
    * to each of its `nprobe` nearest centroids — (qid, qcell, qr). With
    * nprobe = 1 this is exactly the home-cell assignment (same score and
    * tie-break as [[ivfCells]]).
    */
  private[graft] def probeResiduals(s: SparkSession, emb: DataFrame,
      centroids: DataFrame, serveAll: Boolean, nprobe: Int): DataFrame = {
    import s.implicits._
    rankedCentroids(
        if (serveAll) emb else emb.filter($"vec_id" < 10), centroids)
      .filter($"rn" <= nprobe)
      .select($"vec_id".as("qid"), $"centroid_id".as("qcell"),
        expr("zip_with(embedding, centroid, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))")
          .as("qr"))
  }

  /** The ADC serving tail: per-(query, codeword, subspace) fixed-point
    * LUT, the (cell, m, code) join against the codes table, and the
    * per-query top-`k`. `serveAll` switches the LUT from broadcast to an
    * AQE-planned shuffle (corpus-sized LUT must not be broadcast); `k`
    * widens the cut for shortlist consumers ([[ivfPqRerank]]).
    */
  private[graft] def adcTopK(codes: DataFrame, rcb: DataFrame,
      queries: DataFrame, serveAll: Boolean, k: Int = 3): DataFrame = {
    val s = codes.sparkSession
    import s.implicits._
    val lutStructs = array((0 until NSub).map { m =>
      struct(lit(m.toLong).as("m"),
        floor(subDist($"qr", $"cw", m) * 100000000L).cast("long").as("dq8"))
    }: _*)
    val lut = queries
      .crossJoin(broadcast(rcb))
      .select($"qid", $"qcell", $"code_id".as("k"), explode(lutStructs).as("md"))
      .select($"qid", $"qcell", $"k", $"md.m".as("lm"), $"md.dq8".as("dq8"))
    val adc = codes
      .join(if (serveAll) lut else broadcast(lut),
        $"cell" === $"qcell" && $"m" === $"lm" && $"code" === $"k")
      .filter($"qid" =!= $"vec_id")
      .groupBy($"qid", $"vec_id".as("cid"))
      .agg(sum($"dq8").as("adc8"))
    val tk = Window.partitionBy($"qid").orderBy($"adc8", $"cid")
    adc.withColumn("rank", row_number().over(tk))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"cid",
        ($"adc8".cast("double") / 100000000.0).as("adc_dist"))
      .orderBy($"qid", $"rank")
  }

  private[graft] def ivfPqServe(s: SparkSession, d: String, serveAll: Boolean,
      nprobe: Int = 1): DataFrame = {
    val emb = embDouble(s, d)
    val centroids = kmeansCodebook(s, d)
    val cells = ivfCells(s, emb, centroids).cache()
    ivfPqServeBuilt(s, emb, centroids, cells, serveAll, nprobe)
  }

  /** [[ivfPqServe]] over an ALREADY-BUILT index (`cells` assignment,
    * typically cached): lets a consumer that serves the same index
    * several ways — [[ivfPqRecall]] runs nprobe=1 AND nprobe=2 —
    * assign cells and derive the codes ONCE instead of rebuilding the
    * whole index per serve (r20: the recall entry ran the k-means
    * codebook + assignment + PQ coding twice for one answer).
    */
  private[graft] def ivfPqServeBuilt(s: SparkSession, emb: DataFrame,
      centroids: DataFrame, cells: DataFrame, serveAll: Boolean,
      nprobe: Int): DataFrame = {
    import s.implicits._
    val rcb = residualCodebook(cells)
    val codes = pqCodesFrame(cells, rcb)
    val queries =
      if (nprobe == 1)
        // home-cell residuals straight from the cached assignment
        (if (serveAll) cells else cells.filter($"vec_id" < 10))
          .select($"vec_id".as("qid"), $"cell".as("qcell"), $"r".as("qr"))
      else
        // per-probe residual: the query re-expresses itself relative to
        // EACH probed cell's centroid, since candidates in that cell are
        // coded as residuals from that same centroid
        probeResiduals(s, emb, centroids, serveAll, nprobe)
    adcTopK(codes, rcb, queries, serveAll)
  }

  val ivfPqTopK: Q = Q(
    "ann_ivfpq_topk",
    (s, d) => ivfPqServe(s, d, serveAll = false),
    Some(ivfPqDuck(probeMax = Some(10))))

  /** The persisted-index round trip under the driver's oracle: build the
    * on-disk IVF-PQ layout ([[graft.pipeline.VectorIndexPipeline]]),
    * then serve the probe queries THROUGH it — stored centroids, stored
    * codebook, cell-pruned codes read. Shares [[ivfPqTopK]]'s DuckDB
    * replay because disk==memory is the component's contract
    * (VectorIndexSpec pins it; this entry makes the driver's correctness
    * record enforce it every round).
    */
  /** One persisted index per (JVM, sfDir): a long-lived verify/bench JVM
    * re-running the query set reuses the build instead of accumulating
    * orphaned temp dirs, and a shutdown hook removes what remains. The
    * rebuild-per-call behavior the spec needs lives in VectorIndexSpec's
    * own dirs, not here.
    */
  private val persistedIx =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val persistedIxCleanup = sys.addShutdownHook {
    import scala.jdk.CollectionConverters._
    persistedIx.values.asScala.foreach { dir =>
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p)) {
        import java.nio.file.{Files, Path}
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
  }

  val ivfPqPersisted: Q = Q(
    "ann_ivfpq_persisted",
    (s, d) => {
      persistedIxCleanup // register the shutdown hook once
      val ix = persistedIx.computeIfAbsent(d, _ => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-vix-q").toString
        graft.pipeline.VectorIndexPipeline.writeIvfPq(s, d, dir)
        dir
      })
      graft.pipeline.VectorIndexPipeline.serveIvfPq(s, ix, d,
        serveAll = false, nprobe = 1)
    },
    Some(ivfPqDuck(probeMax = Some(10))))

  /** DuckDB replay of [[ivfPqServe]]; `probeMax` scopes the query side
    * (None = serve the whole corpus) and applies in EVERY nprobe branch;
    * `nprobe > 1` sources the LUT from per-probe residuals;
    * `rerankDepth > 0` appends the exact-cosine refinement tail
    * ([[ivfPqRerank]]): ADC top-`rerankDepth` shortlist, re-scored
    * against the raw embeddings, top-3 by exact cosine.
    */
  private def ivfPqDuck(probeMax: Option[Int], nprobe: Int = 1,
      rerankDepth: Int = 0): String = {
    // typed probe scope: None = serve the whole corpus. The previous raw
    // "WHERE res.vec_id < 10" fragment was silently DROPPED by the
    // nprobe > 1 branch (which hardcoded vec_id < 10) — an oracle that
    // compiled cleanly while checking the wrong query set.
    val lutPred = probeMax.map(m => s"WHERE res.vec_id < $m").getOrElse("")
    val probePred = probeMax.map(m => s" AND vec_id < $m").getOrElse("")
    val tail =
      if (rerankDepth <= 0)
        s"""SELECT qid, rank, cid, CAST(adc8 AS DOUBLE) / 100000000.0 AS adc_dist
      FROM rk WHERE rank <= 3 ORDER BY qid, rank"""
      else
        s""", cand AS (SELECT qid, cid FROM rk WHERE rank <= $rerankDepth),
      ex AS (SELECT cand.qid, cand.cid,
               ${cosDuck("qe.embedding", "ce.embedding")} AS score
             FROM cand
             JOIN embeddings qe ON qe.vec_id = cand.qid
             JOIN embeddings ce ON ce.vec_id = cand.cid),
      rr AS (SELECT qid, cid, score, row_number() OVER
               (PARTITION BY qid ORDER BY score DESC, cid) AS rank FROM ex)
      SELECT qid, rank, cid, score FROM rr WHERE rank <= 3 ORDER BY qid, rank"""
    val lutCte =
      if (nprobe == 1)
        s"""lut AS (SELECT res.vec_id AS qid, res.cell AS qcell, rcb.code_id AS k,
                mm.m,
                CAST(floor(${subDistDuck("res.r", "rcb.cw", "mm.m")} * 100000000) AS BIGINT) AS dq8
              FROM res, rcb, (SELECT unnest(range($NSub)) AS m) mm
              $lutPred)"""
      else
        s"""probes AS (SELECT vec_id AS qid, centroid_id AS qcell,
                list_transform(list_zip(embedding, centroid),
                  p -> p[1]::DOUBLE - p[2]::DOUBLE) AS qr
              FROM (SELECT e.vec_id, e.embedding, c.centroid_id, c.centroid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY ${cosDuck("e.embedding", "c.centroid")} DESC,
                                 c.centroid_id) AS rn
                    FROM embeddings e, kcb c)
              WHERE rn <= $nprobe$probePred),
      lut AS (SELECT p.qid, p.qcell, rcb.code_id AS k, mm.m,
                CAST(floor(${subDistDuck("p.qr", "rcb.cw", "mm.m")} * 100000000) AS BIGINT) AS dq8
              FROM probes p, rcb, (SELECT unnest(range($NSub)) AS m) mm)"""
    s"""WITH $KmeansDuck,
      cellsc AS (
        SELECT vec_id, embedding, cell, centroid FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell, c.centroid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosDuck("e.embedding", "c.centroid")} DESC, c.centroid_id) AS rn
          FROM embeddings e, kcb c) WHERE rn = 1),
      res AS (SELECT vec_id, cell,
                list_transform(list_zip(embedding, centroid),
                  p -> p[1]::DOUBLE - p[2]::DOUBLE) AS r
              FROM cellsc),
      rcb AS (SELECT vec_id AS code_id, r AS cw FROM res
              WHERE vec_id >= 16 AND vec_id < 32),
      sub AS (SELECT res.vec_id, res.cell, rcb.code_id, mm.m,
                ${subDistDuck("res.r", "rcb.cw", "mm.m")} AS dist
              FROM res, rcb, (SELECT unnest(range($NSub)) AS m) mm),
      codes AS (SELECT vec_id, cell, m, code_id AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY dist, code_id) AS rn FROM sub) WHERE rn = 1),
      $lutCte,
      adc AS (SELECT lut.qid, c.vec_id AS cid, sum(dq8) AS adc8
              FROM codes c JOIN lut
                ON c.cell = lut.qcell AND c.m = lut.m AND c.code = lut.k
              WHERE lut.qid != c.vec_id GROUP BY 1, 2),
      rk AS (SELECT qid, cid, adc8, row_number() OVER
               (PARTITION BY qid ORDER BY adc8, cid) AS rank FROM adc)
      $tail"""
  }

  /** Full-corpus IVF-PQ serving: every vector is a query answered through
    * the index (top-3 same-cell neighbors by residual-PQ ADC distance) —
    * the batch-inference shape of a 100 TB vector store (kNN graphs,
    * recommendation candidate generation, dedup preselection). Identical
    * plan to [[ivfPqTopK]] except the per-query LUT is corpus-sized and
    * therefore NOT broadcast — the ADC join shuffles on (cell, m, code)
    * with per-cell cost bounded by cell capacity.
    */
  val ivfPqServeAll: Q = Q(
    "ann_ivfpq_serve_all",
    (s, d) => ivfPqServe(s, d, serveAll = true),
    Some(ivfPqDuck(probeMax = None)))

  /** Multiprobe IVF-PQ (nprobe=2): the recall/cost dial [[ivfNprobe2]]
    * proved for plain IVF, applied to the composed serving index. Each
    * query probes its 2 nearest cells with a per-probe residual and ADC
    * LUT; the codes table and index size are unchanged, query fan-out
    * doubles. The win over nprobe=1: a query near a cell boundary sees
    * candidates on both sides instead of only its home cell.
    */
  val ivfPqNprobe2: Q = Q(
    "ann_ivfpq_nprobe2",
    (s, d) => ivfPqServe(s, d, serveAll = false, nprobe = 2),
    Some(ivfPqDuck(probeMax = Some(10), nprobe = 2)))

  /** ADC shortlist size for the exact-rerank refinement stage. */
  private[graft] val RerankDepth = 10

  /** The exact-cosine refinement tail shared by the in-memory
    * ([[ivfPqRerank]]) and persisted
    * ([[graft.pipeline.VectorIndexPipeline.serveIvfPqRerank]]) paths:
    * attach each shortlisted (qid, cid) pair's raw query vector (tiny ×
    * tiny broadcast join), stream the raw store ONCE against the
    * broadcast shortlist, rescore by exact cosine, keep the top-3.
    */
  private[graft] def exactRerank(shortlist: DataFrame, raw: DataFrame)
      : DataFrame = {
    val s = shortlist.sparkSession
    import s.implicits._
    // the query set is whatever the shortlist says it is — derived, not a
    // re-encoded fixture constant, so a caller serving a different probe
    // set gets its queries reranked instead of silently dropped
    val qSide = raw.select($"vec_id".as("qid"), $"embedding".as("qe"))
      .join(broadcast(shortlist.select($"qid").distinct()), "qid")
    val withQ = shortlist.join(broadcast(qSide), "qid")
    val rescored = raw.select($"vec_id".as("cid"), $"embedding".as("ce"))
      .join(broadcast(withQ), "cid")
      .select($"qid", $"cid", cosine_similarity($"qe", $"ce").as("score"))
    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
    rescored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"cid", $"score")
      .orderBy($"qid", $"rank")
  }

  /** IVF-PQ with exact re-ranking — the standard two-stage serving
    * refinement (FAISS `IndexRefineFlat`): the compressed index produces
    * a cheap ADC top-[[RerankDepth]] shortlist, then ONLY those
    * candidates are re-scored against their raw vectors and the final
    * top-3 ranks by exact cosine. This recovers the precision PQ
    * quantization loses while touching `|queries| × RerankDepth` raw
    * vectors instead of the corpus.
    *
    * 100 TB shape: the shortlist (bounded by queries × depth) is
    * BROADCAST against the raw vector store, so the refinement is one
    * streaming pass over the store with no shuffle of the corpus — in a
    * real deployment the store lookup is further partition-pruned by
    * vec_id, the same discipline [[graft.pipeline.VectorIndexPipeline]]
    * proves for cell-pruned code reads.
    */
  /** The two-stage serve as a parameterized function: `probeMax` scopes
    * the query set exactly like [[ivfPqDuck]]'s same-named parameter
    * (None = every stored vector queries, the serve-all shape). The probe
    * set is an ARGUMENT of the serving path — the oracled query below
    * passes one value; callers with their own query population pass
    * theirs and the shortlist→rerank tail follows it (see
    * [[exactRerank]]'s derived-query contract).
    */
  private[graft] def ivfPqRerankServe(s: SparkSession, d: String,
      probeMax: Option[Int]): DataFrame = {
    import s.implicits._
    val emb = embDouble(s, d)
    val centroids = kmeansCodebook(s, d)
    val cells = ivfCells(s, emb, centroids).cache()
    val rcb = residualCodebook(cells)
    val codes = pqCodesFrame(cells, rcb)
    val probed = probeMax.foldLeft(cells)((df, m) => df.filter($"vec_id" < m))
    val queries = probed
      .select($"vec_id".as("qid"), $"cell".as("qcell"), $"r".as("qr"))
    val shortlist =
      adcTopK(codes, rcb, queries, serveAll = probeMax.isEmpty,
        k = RerankDepth).select($"qid", $"cid")
    exactRerank(shortlist, Tables.embeddings(s, d))
  }

  val ivfPqRerank: Q = Q(
    "ann_ivfpq_rerank",
    (s, d) => ivfPqRerankServe(s, d, probeMax = Some(10)),
    Some(ivfPqDuck(probeMax = Some(10),
      rerankDepth = RerankDepth)))

  /** Recall@3 of IVF-PQ at nprobe=1 vs nprobe=2 against the exact
    * squared-L2 top-3 — the accuracy readout that justifies the
    * multiprobe dial (the index ranks by ADC distance, an approximation
    * of squared L2, so L2 is the honest ground truth). Both index runs
    * and the ground truth are deterministic relational plans
    * (fixed-point distances), so the QUALITY measurement itself is
    * oracle-checked, like [[recallReport]] for LSH. The spec asserts the
    * dominance relation: per query, nprobe=2 hits ⊇-counts nprobe=1.
    */
  val ivfPqRecall: Q = Q(
    "ann_ivfpq_recall",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val probes = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      val fullDist = (0 until NSub)
        .map(m => subDist($"qe", $"ce", m)).reduce(_ + _)
      val w = Window.partitionBy($"qid").orderBy($"d8", $"cid")
      val truth = emb.select($"vec_id".as("cid"), $"embedding".as("ce"))
        .crossJoin(broadcast(probes))
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid",
          floor(fullDist * 100000000L).cast("long").as("d8"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3).select($"qid", $"cid")
      def hits(df: DataFrame, col: String): DataFrame =
        truth.join(df.select($"qid", $"cid"), Seq("qid", "cid"))
          .groupBy($"qid").agg(count(lit(1)).as(col))
      // ONE index build serves both probe settings (r20): the codebook,
      // cell assignment AND the PQ codes table are identical for nprobe
      // 1 and 2 — only the query-side residuals differ, so the codes
      // frame is cached and fed to both ADC serves directly
      val embD = embDouble(s, d)
      val centroids = kmeansCodebook(s, d)
      val cells = ivfCells(s, embD, centroids).cache()
      val rcb = residualCodebook(cells)
      val codes = pqCodesFrame(cells, rcb).cache()
      val q1 = cells.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"cell".as("qcell"), $"r".as("qr"))
      val q2 = probeResiduals(s, embD, centroids, serveAll = false,
        nprobe = 2)
      val np1 = hits(adcTopK(codes, rcb, q1, serveAll = false), "h1")
      val np2 = hits(adcTopK(codes, rcb, q2, serveAll = false), "h2")
      probes.select($"qid")
        .join(np1, Seq("qid"), "left").join(np2, Seq("qid"), "left")
        .select($"qid",
          coalesce($"h1", lit(0L)).as("hits_np1"),
          coalesce($"h2", lit(0L)).as("hits_np2"),
          (coalesce($"h1", lit(0L)).cast("double") / 3).as("recall3_np1"),
          (coalesce($"h2", lit(0L)).cast("double") / 3).as("recall3_np2"))
        .orderBy($"qid")
    },
    Some {
      val full = (0 until NSub)
        .map(m => subDistDuck("p.qe", "c.embedding", s"$m")).mkString(" + ")
      s"""WITH probes AS (SELECT vec_id AS qid, embedding AS qe
               FROM embeddings WHERE vec_id < 10),
        ex AS (SELECT p.qid, c.vec_id AS cid,
                 CAST(floor(($full) * 100000000) AS BIGINT) AS d8
               FROM probes p, embeddings c WHERE p.qid != c.vec_id),
        truth AS (SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER
              (PARTITION BY qid ORDER BY d8, cid) AS rank FROM ex)
          WHERE rank <= 3),
        np1 AS (SELECT qid, cid FROM (${ivfPqDuck(Some(10))})),
        np2 AS (SELECT qid, cid FROM (${ivfPqDuck(Some(10), nprobe = 2)})),
        h1 AS (SELECT t.qid, count(*) AS h FROM truth t
               JOIN np1 ON t.qid = np1.qid AND t.cid = np1.cid GROUP BY t.qid),
        h2 AS (SELECT t.qid, count(*) AS h FROM truth t
               JOIN np2 ON t.qid = np2.qid AND t.cid = np2.cid GROUP BY t.qid)
        SELECT p.qid,
          CAST(coalesce(h1.h, 0) AS BIGINT) AS hits_np1,
          CAST(coalesce(h2.h, 0) AS BIGINT) AS hits_np2,
          CAST(coalesce(h1.h, 0) AS DOUBLE) / 3 AS recall3_np1,
          CAST(coalesce(h2.h, 0) AS DOUBLE) / 3 AS recall3_np2
        FROM probes p LEFT JOIN h1 ON p.qid = h1.qid
                      LEFT JOIN h2 ON p.qid = h2.qid
        ORDER BY p.qid"""
    })

  /** Semantic dedup (the SemDeDup shape): within each cluster label, drop
    * the higher-id member of every near-duplicate embedding pair, then
    * report per-cluster kept/dropped counts and surviving token volume
    * from the joined text corpus. Label blocking bounds the pair join at
    * scale exactly as in [[cosineNearDup]] (any corpus-partitioning key —
    * language, source, IVF cell — plays the same role); the greedy
    * lower-id-wins survivor rule is the same deterministic rule the
    * shingle-dedup survivors use. Composes three oracled building blocks
    * into the one-pass curation readout a training run consumes.
    */
  /** The shared semantic-dedup machinery: greedy lower-id-wins drops
    * among pairs blocked on `blockCol` (cosine >= 0.35), then the
    * per-label volume/drop/kept-token readout — ONE definition for the
    * label-blocked and LSH-bucket-blocked variants, so a threshold or
    * readout change cannot make the "directly comparable" pair silently
    * incomparable.
    */
  private def semanticDedupReadout(s: SparkSession, d: String,
      e: DataFrame, blockCol: String): DataFrame = {
    import s.implicits._
    val drops = e.select($"vec_id".as("a_id"), col(blockCol), $"embedding".as("ea"))
      .join(e.select($"vec_id".as("b_id"), col(blockCol), $"embedding".as("eb")),
        blockCol)
      .filter($"a_id" < $"b_id")
      .filter(cosine_similarity($"ea", $"eb") >= 0.35)
      .select($"b_id".as("vec_id")).distinct()
    val tokens = Tables.documents(s, d)
      .select($"doc_id".as("vec_id"),
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"))
    e.join(drops.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
      .join(tokens, "vec_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce($"dropped", lit(0L))).as("n_dropped"),
        sum(when($"dropped".isNull, $"n_tokens").otherwise(0L))
          .as("kept_tokens"))
      .orderBy($"label")
  }

  val semanticDedup: Q = Q(
    "pipe_semantic_dedup",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"label".cast("long").as("label"), $"embedding")
      semanticDedupReadout(s, d, e, "label")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
               FROM embeddings),
      drops AS (SELECT DISTINCT b.vec_id
                FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.35),
      t AS (SELECT doc_id AS vec_id,
              CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
            FROM documents)
      SELECT e.label, count(*) AS n_members,
        CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        CAST(sum(CASE WHEN d.vec_id IS NULL THEN t.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM e LEFT JOIN drops d ON e.vec_id = d.vec_id
             JOIN t ON e.vec_id = t.vec_id
      GROUP BY e.label ORDER BY e.label"""))

  /** Bucketed semantic dedup — [[semanticDedup]] with the pair join
    * blocked on the 8-hyperplane LSH bucket instead of the cluster
    * label. Label blocking is only scale-safe while every label stays
    * small: one hot label (a dominant language/source/topic at 100 TB)
    * is a quadratic block. The LSH bucket is a *capacity-controlled*
    * key: expected bucket population is n/2^planes, and adding planes
    * halves it — the block size is an index parameter, not a property
    * of the data distribution. The near-dup test itself is unchanged
    * (cosine >= 0.35, greedy lower-id-wins survivor), so this trades
    * candidate recall (only same-bucket pairs are examined — the
    * standard LSH trade, dialable with multiprobe) for a bounded join;
    * the readout stays per-label so the two variants are directly
    * comparable. Measured at sf0.1 (2000 vecs): label blocking
    * generates 199,666 candidate pairs, max block 218; LSH blocking
    * generates 100,226, max bucket 144 with 30 of 256 buckets occupied
    * — the synthetic embeddings are tightly clustered, so the win here
    * is modest, but unlike the label key the bucket key has a dial:
    * each added plane halves expected occupancy regardless of how the
    * corpus is labeled (SCALE.md).
    */
  val semanticDedupLsh: Q = Q(
    "pipe_semantic_dedup_lsh",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"label".cast("long").as("label"), $"embedding",
          graft.functions.VectorFunctions.lsh_bucket(col("embedding"), Planes, Dim)
            .as("bucket"))
        .cache()
      semanticDedupReadout(s, d, e, "bucket")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
               $bucketExprDuck AS bucket FROM embeddings),
      drops AS (SELECT DISTINCT b.vec_id
                FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.35),
      t AS (SELECT doc_id AS vec_id,
              CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
            FROM documents)
      SELECT e.label, count(*) AS n_members,
        CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        CAST(sum(CASE WHEN d.vec_id IS NULL THEN t.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM e LEFT JOIN drops d ON e.vec_id = d.vec_id
             JOIN t ON e.vec_id = t.vec_id
      GROUP BY e.label ORDER BY e.label"""))

  /** Embedding-space eval-set decontamination — the semantic twin of the
    * n-gram `pipe_decontaminate`: val/test documents whose EMBEDDING has
    * a near-duplicate (cosine ≥ 0.35) in the train split leak the answer
    * to semantic-similarity evals even when no n-gram overlaps (a
    * paraphrase contaminates embeddings, not shingles). Production
    * pipelines audit both. Composes two proven parts: the stable-hash
    * 80/10/10 split (pipe_split_counts — membership reproducible on any
    * engine/partitioning) and the capacity-controlled LSH bucket join
    * ([[cosineNearDupLsh]] — never all-pairs; a hot semantic cluster is
    * spread across buckets by the hyperplane dial, and multiprobe widens
    * recall when needed). Readout per eval split: doc count,
    * contaminated count, and the contamination rate an eval-integrity
    * gate thresholds on.
    */
  val embeddingDecontam: Q = Q(
    "pipe_embedding_decontam",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id",
          expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
            .as("bucket100"),
          graft.functions.VectorFunctions.lsh_bucket(col("embedding"), Planes, Dim)
            .as("lsh"),
          $"embedding")
        .select($"vec_id",
          when($"bucket100" < 80, "train")
            .when($"bucket100" < 90, "val").otherwise("test").as("split"),
          $"lsh", $"embedding")
      val eval_ = e.filter($"split" =!= "train")
      val train = e.filter($"split" === "train")
        .select($"lsh", $"embedding".as("te"), $"vec_id".as("tid"))
      val contaminated = eval_
        .join(train, "lsh")
        .filter($"vec_id" =!= $"tid")
        .filter(cosine_similarity($"embedding", $"te") >= 0.35)
        .select($"vec_id", $"split").distinct()
      eval_.groupBy($"split").agg(count(lit(1)).as("n_docs"))
        .join(contaminated.groupBy($"split")
          .agg(count(lit(1)).as("n_contaminated")), Seq("split"), "left")
        .select($"split", $"n_docs",
          coalesce($"n_contaminated", lit(0L)).as("n_contaminated"),
          (coalesce($"n_contaminated", lit(0L)).cast("double") / $"n_docs")
            .as("contamination_rate"))
        .orderBy($"split")
    },
    Some(s"""WITH e AS (
        SELECT vec_id,
          CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
          lsh, embedding
        FROM (SELECT vec_id,
                (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT) % 100 AS b,
                $bucketExprDuck AS lsh, embedding
              FROM embeddings)),
      ev AS (SELECT * FROM e WHERE split != 'train'),
      tr AS (SELECT lsh, embedding AS te, vec_id AS tid FROM e WHERE split = 'train'),
      cont AS (SELECT DISTINCT ev.vec_id, ev.split
               FROM ev JOIN tr ON ev.lsh = tr.lsh AND ev.vec_id != tr.tid
               WHERE ${cosDuck("ev.embedding", "tr.te")} >= 0.35),
      nc AS (SELECT split, count(*) AS n_contaminated FROM cont GROUP BY split)
      SELECT ev.split, count(*) AS n_docs,
        CAST(coalesce(any_value(nc.n_contaminated), 0) AS BIGINT) AS n_contaminated,
        CAST(coalesce(any_value(nc.n_contaminated), 0) AS DOUBLE) / count(*)
          AS contamination_rate
      FROM ev LEFT JOIN nc ON ev.split = nc.split
      GROUP BY ev.split ORDER BY ev.split"""))

  val all: Seq[Q] = Seq(bruteforceTopK, lshBuckets, lshTopK, lshMultiprobe,
    ivfTopK, ivfNprobe2, sqlTopK, cosineNearDup, cosineNearDupLsh, centroids,
    quantizeInt8, recallReport, pqCodes, pqTopK, ivfPqTopK, ivfPqServeAll,
    ivfPqNprobe2, ivfPqRecall, clusterQuality, semanticDedup, semanticDedupLsh,
    embeddingDecontam, cosineNearDupLshMp, embeddingRecall, ivfPqPersisted,
    cosineNearDupLshBounded, ivfPqRerank)
}
