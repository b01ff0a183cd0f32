package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds a k× scale tier from an existing testdata dir by replicating
  * every table with DISJOINT key spaces (stride offsets on every id-ish
  * column, shared per key domain so joins stay consistent) — the
  * suite-level scale reading VERDICT r10 asked for (#8):
  *
  *   sbt "Test/runMain graft.MakeSfTier /root/testdata/sf0.1 /tmp/sf0.5 5"
  *   SPARK_GRAFT_SF_DIR=/tmp/sf0.5 sbt "runMain graft.Bench dd_exact ..."
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.Profile /tmp/sf0.5 dd_exact ..."
  *
  * Replicas must scale the WORK honestly, not the pathology: document
  * text is token-tagged per replica (`r<k>` prefix on every word), so
  * replicas share no shingles and the dedup candidate structure is k
  * independent copies of the source corpus — the linear-scaling
  * hypothesis under test — rather than k-cliques of artificial
  * exact-dups whose pair count would grow quadratically in k.
  * Embeddings get a tiny per-replica component offset (cosine is
  * scale-invariant, so a multiplicative tag would be a no-op and exact
  * ties would make top-k order degenerate). region/nation are reference
  * dims and are copied unchanged.
  */
object MakeSfTier {

  private val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession()
    import spark.implicits._

    def replicate(table: String, offsetCols: Seq[String],
        mutate: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val parts = (0 until k).map { i =>
        val off = offsetCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * Stride)))
        mutate(off, i)
      }
      parts.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[tier] $table x$k -> $dst/$table.parquet")
    }

    for (dim <- Seq("region", "nation")) {
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$dst/$dim.parquet")
      println(s"[tier] $dim copied (reference dim)")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), (df, i) =>
      // per-replica vocabulary: identical Zipf shape, zero cross-replica
      // shingle overlap; n_chars tracks the mutated text
      df.withColumn("text",
          expr(s"concat_ws(' ', transform(split(text, ' '), w -> concat('r$i', w)))"))
        .withColumn("n_chars", length($"text")))
    replicate("embeddings", Seq("vec_id"), (df, i) =>
      df.withColumn("embedding",
        expr(s"transform(embedding, x -> x + ${i * 0.001}f)")))
    spark.stop()
  }
}
