package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession

/** `query_suite`: one `graft.Bench.Headline` entry per query family
  * (relational, adhesive, dedup, ANN, text) plus a streaming drain, each
  * built through `SparkEntry.queries` and written to the `noop` sink.
  * The warm-up pass writes every entry's result to parquet instead, for
  * the DuckDB compare against its oracle SQL. Each pass builds every
  * entry afresh from the same inputs, so the timed passes compute what
  * the warm-up pass computed.
  */
final class QuerySuite(seed: Long, smoke: Boolean, tmp: String) extends Workload {

  private val sf = if (smoke) 0.001 else 0.003
  /** Headline entries that fit the run budget, one per family. */
  val Entries: Seq[String] = Seq("q1_pricing_summary", "aq_mul_java", "dd_exact",
    "ann_bruteforce_topk", "ta_quality_score", "ev_stream_running_distinct")
  private val Streaming = Set("ev_stream_running_distinct")
  private val entries = {
    val names = Entries
    require(names.filterNot(Streaming).forall(Bench.Headline.contains),
      "the batch entries must stay graft.Bench.Headline entries")
    val missing = names.filterNot(n => SparkEntry.queries.contains(n) && SparkEntry.oracleSql.contains(n))
    require(missing.isEmpty, s"entries without a query or oracle SQL: $missing")
    names.map(n => n -> SparkEntry.queries(n))
  }

  private var dir: String = _

  // traced-pass samples, seconds summed over traced passes
  private val family = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var buildS = 0.0
  private var execS = 0.0
  private var drainS = 0.0
  private val entryMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def setup(spark: SparkSession, dataDir: String): Unit = {
    dir = dataDir
    Data.writeAll(spark, dir, seed, sf)
  }

  private def oracleDir = s"$tmp/oracle"

  override def warm(spark: SparkSession): Unit = entries.foreach { case (name, fn) =>
    spark.catalog.clearCache()
    fn(spark, dir).write.mode("overwrite").parquet(s"$oracleDir/$name")
  }

  def pass(spark: SparkSession, traced: Boolean): Seq[Op] = {
    entries.map { case (name, fn) =>
      spark.catalog.clearCache()
      var b = 0.0
      val o = Main.op(name) {
        val t0 = System.nanoTime()
        val df = Trace("queries", s"build.$name")(fn(spark, dir))
        b = (System.nanoTime() - t0) / 1e9
        Trace("spark", s"noop.$name")(df.write.format("noop").mode("overwrite").save())
      }
      if (traced) {
        entryMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += o.ms
        family(name.takeWhile(_ != '_').filter(_.isLetter)) += o.ms / 1e3
        buildS += b
        execS += o.ms / 1e3 - b
        if (Streaming(name)) drainS += o.ms / 1e3
      }
      o
    }.toSeq
  }

  /** Hands the warm-up dumps to the DuckDB compare, which runs outside
    * the JVM over the same parquet tables; its mismatches count there.
    */
  def check(spark: SparkSession): Seq[String] = {
    val json = entries.map { case (n, _) =>
      s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$tmp/oracle_tables"), dir)
    Nil
  }

  def detail(ops: Seq[Op], passes: Int): Seq[Metric] = Nil

  def layers(passSeconds: Seq[Double]): Seq[Metric] = {
    val n = passSeconds.size
    val batchMs = Trace.batchMs.toSeq
    Seq("q", "aq", "dd", "ann", "ta", "ev").map(f =>
      Metric(s"suite.family_s.$f", family(f) / n, "s", n, "layer")) ++
      Seq(Metric("suite.build_s", buildS / n, "s", n, "layer"),
        Metric("suite.exec_s", execS / n, "s", n, "layer"),
        Metric("suite.planning_ms", Trace.planningMs / n, "ms", n, "layer"),
        Metric("streaming.drain_s", drainS / n, "s", n, "layer"),
        Metric("streaming.batches", batchMs.size.toDouble / n, "count", n, "layer"),
        Metric("streaming.state_rows", Trace.stateRows.toDouble / n, "count", n, "layer")) ++
      entryMs.toSeq.map { case (e, xs) =>
        Metric(s"suite.entry_ms.$e", Stats.median(xs.toSeq), "ms", xs.size, "layer") } ++
      (if (batchMs.isEmpty) Nil
       else Seq(Metric("streaming.batch_ms_p50", Stats.median(batchMs), "ms", batchMs.size, "layer")))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
