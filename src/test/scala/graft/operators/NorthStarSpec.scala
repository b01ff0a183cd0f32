package graft.operators

import graft.TestSpark
import graft.functions.VectorFunctions.cosine_similarity
import org.apache.spark.sql.functions.{count, countDistinct, expr, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + semantics tests for the north-star operators at sf0.001 (the
  * full oracle gate runs at sf0.01 via graft.Verify + DuckDB).
  */
class NorthStarSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sfDir

  test("cosine_similarity: orthogonal → 0, parallel → 1, zero vector → null") {
    val df = Seq(
      (1L, Array(1f, 0f), Array(0f, 1f)),
      (2L, Array(1f, 2f), Array(2f, 4f)),
      (3L, Array(0f, 0f), Array(1f, 1f)),
      (4L, Array(3f, 4f), Array(3f, 4f))
    ).toDF("id", "a", "b")
    val out = df.select($"id", cosine_similarity($"a", $"b").as("c"))
      .orderBy($"id").collect()
    assert(out(0).getDouble(1) == 0.0)
    assert(math.abs(out(1).getDouble(1) - 1.0) < 1e-15)
    assert(out(2).isNullAt(1))
    assert(math.abs(out(3).getDouble(1) - 1.0) < 1e-15)
  }

  test("cosine_similarity rejects mismatched element types at analysis") {
    val df = Seq((Array(1f, 2f), Array(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(cosine_similarity($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("cosine_similarity"))
  }

  test("exact dedup groups by content hash") {
    val out = Dedup.exact.build(spark, sf)
    assert(out.count() > 0)
    // no exact dups planted → every group has one copy
    assert(out.filter($"n_copies" > 1).count() == 0)
  }

  test("minhash signatures are deterministic across runs") {
    val a = Dedup.minhashSignatures.build(spark, sf).collect()
    val b = Dedup.minhashSignatures.build(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("ngram jaccard and minhash LSH agree on near-dup pairs at sf0.001") {
    val exact = Dedup.ngramJaccard.build(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh.build(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH pairs must be verified true pairs")
    assert(exact.nonEmpty, "expected planted near-dups in documents")
    assert(lsh == exact, "4x2 banding at tau=0.6 should recover all pairs here")
  }

  test("simhash of near-dup pairs is close in Hamming distance") {
    val sh = Dedup.simhash.build(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.ngramJaccard.build(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val dists = pairs.map { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b))
    }
    // near-dups differ in a handful of tokens → expect << 16 of 32 bits
    assert(dists.forall(_ <= 10),
      s"near-dup simhash Hamming distances should be small, got ${dists.toSeq}")
  }

  test("rolling hash: deterministic, order-sensitive, matches interpreted eval") {
    import graft.functions.RollingHash
    val h1 = RollingHash.hashBytes("hello world".getBytes("UTF-8"))
    assert(h1 == RollingHash.hashBytes("hello world".getBytes("UTF-8")))
    assert(h1 != RollingHash.hashBytes("world hello".getBytes("UTF-8")))
    // codegen path through a DataFrame equals the direct computation
    val df = Seq(("hello world", 1)).toDF("s", "i")
    val viaExpr = df.select(RollingHash.rolling_hash($"s")).head().getLong(0)
    assert(viaExpr == h1)
    // distinct docs → distinct fingerprints at this scale
    val fp = TextAnalysis.rollingFingerprint.build(spark, sf)
    assert(fp.select("rfp").distinct().count() == fp.count())
  }

  test("dd_edit_verify: pairs satisfy the 20% edit rule and overlap the Jaccard pairs") {
    val ev = Dedup.editVerify.build(spark, sf).collect()
    assert(ev.nonEmpty, "planted near-dups should band-collide and verify")
    ev.foreach { r =>
      assert(r.getLong(2) * 5 <= r.getLong(3),
        s"pair (${r.getLong(0)},${r.getLong(1)}) violates the keep rule")
    }
    // token-level and character-level verification agree on the planted
    // near-dups (handful-of-token edits are both high-Jaccard and low-edit)
    val evPairs = ev.map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.ngramJaccard.build(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.subsetOf(evPairs),
      s"Jaccard pairs missing from edit verification: ${jac.diff(evPairs)}")
  }

  test("unicode_normalize: NFC composes, NFD round-trips, bad form fails at plan time") {
    import graft.functions.UnicodeNormalize.unicode_normalize
    val deco = "caf" + "e\u0301" + " a\u030Ab"   // e+acute, a+ring, decomposed
    val df = Seq((deco, 1)).toDF("s", "i")
    val nfc = df.select(unicode_normalize($"s", "NFC")).head().getString(0)
    assert(nfc == "caf\u00E9 \u00E5b", nfc)   // composed forms
    assert(nfc.length == deco.length - 2)
    // NFD(NFC(x)) re-decomposes to the canonical decomposition
    val back = df.select(
      unicode_normalize(unicode_normalize($"s", "NFC"), "NFD")).head().getString(0)
    assert(back == deco)
    // normalization-then-fingerprint makes byte-different same-text docs collide
    val two = Seq(("caf\u00E9", 1), ("cafe\u0301", 2)).toDF("s", "i")
    val fps = two.select(org.apache.spark.sql.functions.md5(
      unicode_normalize($"s", "NFC"))).distinct().count()
    assert(fps == 1L)
    // an invalid form is a construction-time error, not a mid-job one
    intercept[IllegalArgumentException] {
      unicode_normalize($"s", "NFX")
    }
  }

  test("char_gram_hashes: windowed, deduped, code-point-correct, matches HOF distinct counts") {
    import graft.functions.CharGramHashes.char_gram_hashes
    import org.apache.spark.sql.functions.{expr, length, size, sum}
    val df = Seq(
      (1L, "abcdef"),   // 2 distinct 5-windows
      (2L, "aaaaaa"),   // 2 windows, both "aaaaa" → 1 distinct
      (3L, "abcd"),     // shorter than n → empty
      (4L, "héllo wörld") // multibyte: windows count code points
    ).toDF("id", "t")
    val out = df.select($"id", char_gram_hashes($"t", 5).as("h"))
      .orderBy($"id").collect()
    assert(out(0).getSeq[Long](1).length == 2)
    assert(out(0).getSeq[Long](1).distinct.length == 2)
    assert(out(1).getSeq[Long](1).length == 1)
    assert(out(2).getSeq[Long](1).isEmpty)
    assert(out(3).getSeq[Long](1).length == 7) // 11 code points → 7 windows
    // same distinct count as the HOF substring form on real corpus text
    val docs = graft.queries.Tables.documents(spark, sf)
      .select($"doc_id", expr("regexp_replace(lower(trim(text)), '\\\\s+', ' ')").as("t"))
      .filter(length($"t") >= 5)
    val fused = docs.select(sum(size(char_gram_hashes($"t", 5)))).head().getLong(0)
    val hof = docs.select(sum(size(expr(
      "array_distinct(transform(sequence(1, length(t)-4), i -> substring(t, i, 5)))"))))
      .head().getLong(0)
    assert(fused == hof, s"distinct-window counts diverge: $fused != $hof")
  }

  test("text analysis: token counts and fingerprints line up") {
    val tc = TextAnalysis.tokenCount.build(spark, sf)
    assert(tc.filter($"n_tokens" <= 0).count() == 0)
    val fp = TextAnalysis.fingerprint.build(spark, sf)
    assert(fp.select("fp").distinct().count() == fp.count(),
      "no exact dups planted → fingerprints unique")
  }

  test("ANN recall: LSH and IVF top-3 recover most brute-force neighbors") {
    def neighbors(q: graft.queries.RelationalQueries.Q): Map[Long, Seq[Long]] =
      q.build(spark, sf)
        .filter($"qid" < 10 && $"rank" <= 3)
        .select("qid", "cid").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val exact = neighbors(Similarity.bruteforceTopK)
    def recall(approx: Map[Long, Seq[Long]]): Double = {
      val hits = exact.map { case (q, ns) =>
        approx.getOrElse(q, Nil).count(ns.toSet).toDouble / ns.size
      }
      hits.sum / hits.size
    }
    val lsh = recall(neighbors(Similarity.lshTopK))
    val mp = recall(neighbors(Similarity.lshMultiprobe))
    val ivf = recall(neighbors(Similarity.ivfTopK))
    // uniform random 64-dim embeddings are the adversarial case for
    // bucketed ANN (no cluster structure, top-3 cosines barely above
    // noise). With the honest 256-bucket key (occupancy n/256 ≈ 2 at
    // n=500 — SCALE.md §"Similarity search") single-probe LSH examines ~2 candidates
    // per query, so its random-pick baseline is ~3·2/500 ≈ 0.012 and
    // multiprobe's (9 probes) ~0.05; IVF cells hold ~n/16. Measured on
    // this fixed corpus: lsh 0.033 (≈3x its baseline), mp 0.10 (≈2x),
    // ivf 0.83. Floors pin those with margin — each method must keep
    // beating ITS candidate-volume-scaled random baseline; near-dup
    // recall (where LSH actually serves) is pinned at ≈1.0 by
    // dd_embedding_recall and the occupancy study instead.
    assert(lsh >= 0.03, s"LSH recall@3 below its measured floor: $lsh")
    assert(mp >= 0.09, s"multiprobe recall@3 below its measured floor: $mp")
    assert(mp >= lsh, s"multiprobe must not lose to single-probe: $mp < $lsh")
    assert(ivf >= 0.5, s"IVF recall@3 below its measured floor: $ivf")
  }

  test("dd_embedding_recall: sampled truth nonzero, LSH arms bounded by it") {
    // the recall denominator is the hash-sampled exact pair count — it
    // must stay nonzero at test SF (a 0/0 recall would be a silent
    // corpus/sample-K mismatch), and since both LSH arms examine subsets
    // of the all-pairs set, their sampled counts can never exceed it
    val rows = Similarity.embeddingRecall.build(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val (exactPairs, exactSampled, exactRecall) = rows("exact")
    assert(exactSampled > 0, "hash-sample selected no truth pairs")
    assert(exactPairs == exactSampled, "exact arm counts only sampled queries")
    assert(exactRecall == 1.0)
    for (m <- Seq("lsh", "lsh_mp")) {
      val (_, sampled, recall) = rows(m)
      assert(sampled <= exactSampled, s"$m found pairs outside the truth set")
      assert(recall >= 0.0 && recall <= 1.0, s"$m recall out of range: $recall")
    }
  }

  test("dd_embedding_lsh_bounded: refines the bucket blocking; loses pairs only to splits") {
    // the skew-bounded variant may only differ from the plain LSH arm
    // inside buckets it actually split (occ > cap): the refined key is a
    // refinement of the bucket key, so (1) its pairs are a subset, and
    // (2) any lost pair must sit in an over-capacity bucket
    val toPair = (df: org.apache.spark.sql.DataFrame) => df
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = toPair(Similarity.cosineNearDupLsh.build(spark, sf))
    val bounded = toPair(Similarity.cosineNearDupLshBounded.build(spark, sf))
    assert(bounded.subsetOf(lsh),
      s"bounded arm found pairs outside the bucket blocking: ${bounded -- lsh}")
    val vecBucket = graft.queries.Tables.embeddings(spark, sf)
      .select($"vec_id", graft.functions.VectorFunctions
        .lsh_bucket($"embedding", 8, 64).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val occ = vecBucket.values.groupBy(identity).map { case (b, v) => b -> v.size }
    assert(occ.values.exists(_ > 4),
      "corpus too uniform at this SF to exercise bucket splitting")
    val lost = lsh -- bounded
    assert(lost.nonEmpty, "expected the split to drop at least one dense-bucket pair")
    lost.foreach { case (a, b) =>
      assert(occ(vecBucket(a)) > 4,
        s"pair ($a,$b) lost from an unsplit bucket ${vecBucket(a)} (occ ${occ(vecBucket(a))})")
    }
  }

  test("multimodal stub decode: 8-bin byte histogram sums to ~1") {
    val f = Multimodal.stubDecode("hello world".getBytes("UTF-8"))
    assert(f.length == 8)
    assert(math.abs(f.sum - 1.0f) < 1e-5)
    // deterministic
    assert(f.toSeq == Multimodal.stubDecode("hello world".getBytes("UTF-8")).toSeq)
  }

  test("multimodal resize averages adjacent bins; frame sampler keeps every 2nd frame") {
    val r = Multimodal.resizeFeatures(Array(1f, 3f, 5f, 7f), 2)
    assert(r.toSeq == Seq(2f, 6f))
    val frames = Multimodal.sampleFrames(Array.fill[Byte](200)(1), frameSize = 64, stride = 2)
    // frames of 64,64,64,8 → sampled indices 0 and 2
    assert(frames.map(_.length) == Seq(64, 64))
  }

  test("multimodal feature extraction runs partition-local over binary payloads") {
    val out = Multimodal.featureExtract.build(spark, sf)
    assert(out.count() > 0)
    val row = out.orderBy($"doc_id").first()
    assert(row.getLong(1) > 0) // byte_len
  }

  test("subspace_sqdist: known distances, subspace offsets, short-array null") {
    import graft.functions.VectorFunctions.subspace_sqdist
    val df = Seq(
      (1L, Array(1f, 2f, 3f, 4f), Array(1f, 2f, 5f, 1f)),
      (2L, Array(1f, 2f), Array(3f, 4f))
    ).toDF("id", "a", "b")
    val out = df.select($"id",
      subspace_sqdist($"a", $"b", 0, 2).as("d01"),
      subspace_sqdist($"a", $"b", 2, 2).as("d23"))
      .orderBy($"id").collect()
    assert(out(0).getDouble(1) == 0.0)
    assert(out(0).getDouble(2) == 13.0) // (3-5)^2 + (4-1)^2
    assert(out(1).getDouble(1) == 8.0)  // (1-3)^2 + (2-4)^2
    assert(out(1).isNullAt(2))          // arrays too short for [2,4)
  }

  test("subspace_sqdist and lsh_bucket reject non-vector inputs at analysis") {
    import graft.functions.VectorFunctions.{lsh_bucket, subspace_sqdist}
    val df = Seq((1L, Array("a", "b"))).toDF("id", "s")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(subspace_sqdist($"s", $"s", 0, 1)).collect()
    }
    assert(e1.getMessage.contains("subspace_sqdist expects"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(lsh_bucket($"s", 2, 2)).collect()
    }
    assert(e2.getMessage.contains("lsh_bucket expects"))
  }

  test("lsh_bucket: packs plane signs; null for short arrays") {
    import graft.functions.VectorFunctions.lsh_bucket
    val df = Seq(
      (1L, Array.fill(4)(1f)),    // all-positive dots where weights sum > 0
      (2L, Array.fill(2)(1f))     // too short for dim=4
    ).toDF("id", "v")
    val out = df.select($"id", lsh_bucket($"v", 3, 4).as("b"))
      .orderBy($"id").collect()
    // plane p dot = sum_j w(p,j), w = ((7p+11j+3pj)%19)-9:
    // p=0 -> j: -9, 2, -6, 5  -> -8 (bit off)
    // p=1 -> (7+14j)%19-9 -> j: -2, -7, 7, 2 -> 0 (>= 0: bit on)
    // p=2 -> (14+17j)%19-9 -> j: 5, 3, 1, -1 -> 8 (bit on)
    assert(out(0).getLong(1) == 6L, s"expected bucket 6: ${out(0)}")
    assert(out(1).isNullAt(1))
  }

  test("PQ codes: all codes reference surviving trained centroids in [0, 16)") {
    val codes = Similarity.pqCodes.build(spark, sf).collect()
    val centroidIds = Similarity.kmeansCodebook(spark, sf)
      .select($"centroid_id").collect().map(_.getLong(0)).toSet
    assert(centroidIds.nonEmpty && centroidIds.forall(id => id >= 0 && id < 16))
    codes.foreach { r =>
      (1 to 4).foreach { i =>
        assert(centroidIds.contains(r.getLong(i)),
          s"code must reference a surviving centroid: $r")
      }
    }
  }

  test("k-means codebook quantizes at least as well as its raw seeds") {
    // Lloyd's iterations monotonically reduce total quantization error —
    // the property that makes the trained codebook worth its cost. Compare
    // sum over (vector, subspace) of min squared codeword distance.
    import graft.queries.Tables
    import graft.functions.VectorFunctions.subspace_sqdist
    import org.apache.spark.sql.functions.{broadcast, min => fmin, sum => fsum, col, expr}
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"e".as("cw"))
    val trained = Similarity.kmeansCodebook(spark, sf)
      .select($"centroid_id".as("cid"), $"centroid".as("cw"))
    def qErr(cb: org.apache.spark.sql.DataFrame): Double = {
      val dists = emb.crossJoin(broadcast(cb))
        .select(Seq($"vec_id", $"cid") ++ (0 until 4).map(m =>
          subspace_sqdist($"e", $"cw", m * 16, 16).as(s"d$m")): _*)
      (0 until 4).map { m =>
        dists.groupBy($"vec_id").agg(fmin(col(s"d$m")).as("md"))
          .agg(fsum($"md")).head().getDouble(0)
      }.sum
    }
    val (rawErr, trainedErr) = (qErr(seeds), qErr(trained))
    assert(trainedErr <= rawErr,
      s"training must not increase quantization error: $trainedErr > $rawErr")
  }

  test("PQ ADC top-k: 3 ranked rows per query, distance non-decreasing") {
    val rows = Similarity.pqTopK.build(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 3, s"query $q: expected 3 rows")
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getDouble(3)).sliding(2).forall(p => p(0) <= p(1)),
        s"query $q: adc_dist not monotone in rank")
    }
  }

  test("LSH band sweep: wider bands admit fewer candidates, confirm a subset") {
    val rows = Dedup.lshBandSweep.build(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (c42, f42) = rows("4x2")
    val (c24, f24) = rows("2x4")
    assert(c24 <= c42, "2x4 candidates must be a subset of 4x2")
    assert(f24 <= f42)
    assert(f42 <= c42 && f24 <= c24)
    assert(c42 > 0)
  }

  test("multi-probe LSH recall dominates single-bucket LSH recall") {
    def hits(q: graft.queries.RelationalQueries.Q): Int = {
      val truth = Similarity.bruteforceTopK.build(spark, sf)
        .filter($"rank" <= 3).select($"qid", $"cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      q.build(spark, sf).select($"qid", $"cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(truth).size
    }
    val single = hits(Similarity.lshTopK)
    val multi = hits(Similarity.lshMultiprobe)
    // multiprobe candidates are a superset: recall can only improve
    assert(multi >= single, s"multiprobe recall $multi < single $single")
  }

  test("IVF-PQ rerank: exact-cosine order, and top-1 dominates the ADC pick") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (dot, na, nb) = a.indices.foldLeft((0.0, 0.0, 0.0)) {
        case ((d, x, y), i) =>
          (d + a(i).toDouble * b(i), x + a(i).toDouble * a(i),
            y + b(i).toDouble * b(i))
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = graft.queries.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val rerank = Similarity.ivfPqRerank.build(spark, sf).collect()
    val byQ = rerank.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      // scores are the true cosines, in non-increasing rank order
      byRank.foreach { r =>
        assert(math.abs(r.getDouble(3) - cos(vecs(q), vecs(r.getLong(2)))) < 1e-9,
          s"query $q: rerank score is not the exact cosine")
      }
      assert(byRank.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1)),
        s"query $q: rerank score not monotone in rank")
    }
    // refinement dominance: the reranked top-1 is at least as close (by
    // exact cosine) as whatever the pure-ADC index would have returned
    val adcTop = Similarity.ivfPqTopK.build(spark, sf).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    byQ.foreach { case (q, rs) =>
      val rr1 = rs.sortBy(_.getInt(1)).head.getDouble(3)
      assert(rr1 >= cos(vecs(q), vecs(adcTop(q))) - 1e-12,
        s"query $q: rerank top-1 worse than the ADC top-1 it refines")
    }
  }

  test("IVF-PQ rerank serve is probe-set parameterized, not fixture-bound") {
    // a different probeMax yields exactly that query population — the
    // query set is an argument of the serving path
    val five = Similarity.ivfPqRerankServe(spark, sf, probeMax = Some(5))
      .select("qid").distinct().collect().map(_.getLong(0)).toSet
    assert(five == (0L until 5L).toSet, s"probeMax=5 served qids $five")
  }

  test("IVF-PQ ADC top-k: 3 same-cell rows per query, distance non-decreasing") {
    val rows = Similarity.ivfPqTopK.build(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 3, s"query $q: expected 3 rows")
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getDouble(3)).sliding(2).forall(p => p(0) <= p(1)),
        s"query $q: adc_dist not monotone in rank")
      assert(byRank.forall(_.getDouble(3) >= 0.0))
    }
  }

  test("DAU never exceeds trailing-week WAU; stickiness in (0, 1]") {
    val out = EventWindows.dauWau.build(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), s"dau > wau: $r")
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0, s"stickiness: $r")
    }
  }

  test("3-step funnel: conversion counts are monotone down the steps") {
    val out = EventWindows.funnel3.build(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("1_view", "2_click", "3_purchase"))
    assert(out("1_view") >= out("2_click"))
    assert(out("2_click") >= out("3_purchase"))
    assert(out("1_view") > 0)
  }

  test("attribution channels partition all purchases") {
    import graft.queries.Tables
    val out = EventWindows.attribution.build(spark, sf).collect()
    val total = out.map(_.getLong(1)).sum
    val purchases = Tables.events(spark, sf)
      .filter($"event_type" === "purchase").count()
    assert(total == purchases, s"attributed $total of $purchases purchases")
    assert(out.map(_.getString(0)).forall(c =>
      Set("click", "view", "signup", "error", "direct")(c)))
  }

  test("anomaly days deviate from their type's daily mean by > 2 sigma") {
    import graft.queries.Tables
    val daily = Tables.events(spark, sf)
      .select($"event_type", Tables.fdiv("ts", 86400L * 1000000000L).as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val stats: Map[String, (Double, Double)] =
      daily.groupBy(_._1).map { case (t, rs) =>
        val ns = rs.map(_._3.toDouble)
        val mu = ns.sum / ns.size
        val sigma = math.sqrt(ns.map(x => (x - mu) * (x - mu)).sum / ns.size)
        t -> ((mu, sigma))
      }
    val flagged = EventWindows.anomaly.build(spark, sf).collect()
    flagged.foreach { r =>
      val (mu, sigma) = stats(r.getString(0))
      assert(math.abs(r.getLong(2).toDouble - mu) > 2 * sigma,
        s"flagged non-anomaly: $r (mu=$mu sigma=$sigma)")
    }
  }

  test("deny-list scrub: zero hits leaves the length unchanged") {
    import graft.queries.Tables
    val out = TextAnalysis.denylistScrub.build(spark, sf)
    val lens = Tables.documents(spark, sf).select($"doc_id", $"n_chars")
    val joined = out.join(lens, "doc_id").collect()
    joined.filter(_.getLong(1) == 0).foreach { r =>
      assert(r.getLong(2) == r.getLong(3),
        s"unredacted doc changed length: $r")
    }
    assert(joined.exists(_.getLong(1) > 0), "expected some hits on corpus words")
  }

  test("semantic dedup reconciles with the raw near-dup pair list") {
    import graft.queries.Tables
    val out = Similarity.semanticDedup.build(spark, sf).collect()
    val members = Tables.embeddings(spark, sf)
      .groupBy($"label").agg(count(lit(1))).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) == members(r.getLong(0)), s"member count: $r")
      assert(r.getLong(2) <= r.getLong(1), s"dropped > members: $r")
    }
    val dropped = Similarity.cosineNearDup.build(spark, sf)
      .select($"b_id").distinct().count()
    assert(out.map(_.getLong(2)).sum == dropped,
      "dropped total must equal distinct b-side of the pair list")
  }

  test("bucketed semantic dedup: same membership readout, bounded blocks") {
    import graft.queries.Tables
    val label = Similarity.semanticDedup.build(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.semanticDedupLsh.build(spark, sf).collect()
    // the blocking key changes which PAIRS are examined, not which
    // vectors exist: per-label membership must match the label variant
    assert(lsh.map(r => r.getLong(0) -> r.getLong(1)).toMap == label)
    lsh.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"dropped > members: $r")
      assert(r.getLong(3) >= 0L, s"negative kept_tokens: $r")
    }
    // no false drops: same-bucket pairs are a subset of ALL pairs, so
    // every vector the LSH variant drops must also be dropped by an
    // unblocked all-pairs near-dup pass (cheap at sf0.001)
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val allPairsDrops = e.select($"vec_id".as("a_id"), $"embedding".as("ea"))
      .crossJoin(e.select($"vec_id".as("b_id"), $"embedding".as("eb")))
      .filter($"a_id" < $"b_id")
      .filter(cosine_similarity($"ea", $"eb") >= 0.35)
      .select($"b_id").distinct().collect().map(_.getLong(0)).toSet
    val lshTotalDropped = lsh.map(_.getLong(2)).sum
    assert(lshTotalDropped <= allPairsDrops.size,
      s"LSH dropped $lshTotalDropped > all-pairs bound ${allPairsDrops.size}")
  }

  test("embedding decontamination: LSH-found contamination is a sound subset of all-pairs") {
    import graft.queries.Tables
    val out = Similarity.embeddingDecontam.build(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated"),
         r.getAs[Double]("contamination_rate"))).toMap
    assert(out.keySet == Set("test", "val"))
    out.foreach { case (split, (n, c, rate)) =>
      assert(c <= n, s"$split: contaminated > docs")
      assert(math.abs(rate - c.toDouble / n) < 1e-12)
    }
    // independent replay without blocking: every eval doc the LSH path
    // flags must also be flagged by an exhaustive all-pairs check
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id",
        expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
          .as("b"), $"embedding")
      .select($"vec_id",
        when($"b" < 80, "train").when($"b" < 90, "val").otherwise("test")
          .as("split"), $"embedding")
    val allPairsCont = e.filter($"split" =!= "train")
      .crossJoin(e.filter($"split" === "train")
        .select($"embedding".as("te"), $"vec_id".as("tid")))
      .filter($"vec_id" =!= $"tid")
      .filter(cosine_similarity($"embedding", $"te") >= 0.35)
      .groupBy($"split").agg(countDistinct($"vec_id").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { case (split, (_, c, _)) =>
      assert(c <= allPairsCont.getOrElse(split, 0L),
        s"$split: LSH flagged more than the exhaustive check — unsound")
    }
  }

  test("IVF-PQ multiprobe: recall@3 at nprobe=2 dominates nprobe=1 per query") {
    val rows = Similarity.ivfPqRecall.build(spark, sf).collect()
    assert(rows.length == 10, "one recall row per probe query")
    rows.foreach { r =>
      val h1 = r.getAs[Long]("hits_np1")
      val h2 = r.getAs[Long]("hits_np2")
      // nprobe=2 examines a superset of candidates (the home cell is
      // always probed). Under EXACT scoring that makes recall monotone;
      // under ADC scoring a low-ADC false positive could in principle
      // displace a truth member, so this pins the measured relation on
      // the fixed corpus: the dial holds or improves, never regresses.
      assert(h2 >= h1, s"nprobe=2 lost recall vs nprobe=1: $r")
      assert(h1 >= 0 && h2 <= 3)
    }
  }

  test("IVF-PQ serveAll composes with nprobe=2: every vector is served, probes widen per query") {
    import spark.implicits._
    // serveAll must derive the query set from the parameters, not a
    // hardcoded probe filter: composing serveAll=true with nprobe=2 has
    // to serve the WHOLE corpus through the widened probe set
    val served = Similarity.ivfPqServe(spark, sf, serveAll = true, nprobe = 2)
      .select($"qid").distinct().count()
    val corpus = graft.queries.Tables.embeddings(spark, sf).count()
    // a query whose 3 candidates all fall outside its probed cells can
    // legitimately serve no rows, but the probe-10 truncation bug served
    // exactly 10 — require near-full coverage
    assert(served > corpus * 9 / 10,
      s"serveAll+nprobe=2 served only $served of $corpus queries")
    // and the probe-scoped variant still serves exactly its 10 queries
    val probed = Similarity.ivfPqServe(spark, sf, serveAll = false, nprobe = 2)
      .select($"qid").distinct().count()
    assert(probed == 10)
  }

  test("LSH-blocked near-dup pairs are a sound subset of unblocked all-pairs") {
    import graft.queries.Tables
    val lshPairs = Similarity.cosineNearDupLsh.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val allPairs = e.select($"vec_id".as("a_id"), $"embedding".as("ea"))
      .crossJoin(e.select($"vec_id".as("b_id"), $"embedding".as("eb")))
      .filter($"a_id" < $"b_id")
      .filter(cosine_similarity($"ea", $"eb") >= 0.35)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // blocking only prunes candidates — it can never invent a pair
    assert(lshPairs.subsetOf(allPairs),
      s"LSH pairs not ⊆ all-pairs: ${(lshPairs -- allPairs).take(5)}")
    assert(lshPairs.nonEmpty, "expected some same-bucket near-dup pairs")
    // the multiprobe dial: single-bucket ⊆ Hamming-1 multiprobe ⊆ truth,
    // with strictly better recall on this corpus (boundary pairs whose
    // buckets differ in exactly one hyperplane sign are recovered)
    val mpPairs = Similarity.cosineNearDupLshMp.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs.subsetOf(mpPairs), "flip=0 probe must retain all single-bucket pairs")
    assert(mpPairs.subsetOf(allPairs),
      s"multiprobe pairs not ⊆ all-pairs: ${(mpPairs -- allPairs).take(5)}")
    assert(mpPairs.size > lshPairs.size,
      s"multiprobe recovered nothing: ${mpPairs.size} vs ${lshPairs.size}")
  }

  test("frame dedup: distinct fingerprints bounded by frame count; rate in [0,1)") {
    val out = Multimodal.frameDedup.build(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"distinct > total: $r")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0, s"dup_rate: $r")
    }
  }

  test("dataset card totals reconcile with the corpus") {
    import graft.queries.Tables
    val out = CorpusCuration.datasetCard.build(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(out.map(_.getLong(1)).sum == docs.count())
    assert(out.map(_.getLong(3)).sum ==
      docs.agg(org.apache.spark.sql.functions.sum($"n_chars")).head().getLong(0))
    out.foreach { r =>
      assert(r.getLong(5) <= r.getLong(1)) // dups <= docs
      assert(r.getDouble(6) > 0)           // mean quality positive
    }
  }

  test("shard manifest covers the whole corpus with 16 shards") {
    import graft.queries.Tables
    val out = CorpusCuration.shardManifest.build(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet.subsetOf((0L until 16L).toSet))
    assert(out.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    out.foreach(r => assert(r.getLong(2) > 0 && r.getLong(3) > 0))
  }

  test("split leakage reconciles with cluster labels and the split rule") {
    import graft.queries.Tables
    import org.apache.spark.sql.functions._
    val out = CorpusCuration.splitLeakage.build(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet == Set("train", "val", "test"))
    assert(out.values.map(_._1).sum == Tables.documents(spark, sf).count())
    out.values.foreach { case (n, leakyDocs, leakyClusters) =>
      assert(leakyDocs <= n)
      assert(leakyClusters <= leakyDocs) // every leaky cluster has >=1 doc here
    }
    // independent replay: clusters spanning >1 split, from the raw labels
    val split = Tables.documents(spark, sf)
      .select($"doc_id", (expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
        .as("b"))
      .select($"doc_id", when($"b" < 80, "train")
        .when($"b" < 90, "val").otherwise("test").as("split"))
    val leakyClusterIds = Dedup.clusterDf(spark, sf).join(split, "doc_id")
      .groupBy($"canonical_id")
      .agg(countDistinct($"split").as("ns"))
      .filter($"ns" > 1)
    val expectedLeakyDocs = Dedup.clusterDf(spark, sf).join(split, "doc_id")
      .join(leakyClusterIds.select($"canonical_id"), "canonical_id")
      .groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.view.mapValues(_._2).toMap ==
      Map("train" -> 0L, "val" -> 0L, "test" -> 0L) ++ expectedLeakyDocs)
  }
}
