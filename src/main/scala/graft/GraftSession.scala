package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every main in this repo runs under
  * (`Bench`, `Verify`, `Profile`, `Explain`, `CorpusPipeline`, the test
  * session), so a timing, a correctness dump and a plan all describe the
  * same engine:
  *   - `local[cores]` with `cores` shuffle partitions;
  *   - UTC session time zone, no UI;
  *   - the adhesive DDL extension;
  *   - ns-precision parquet timestamps read as longs (the events corpus);
  *   - AQE, and the runtime bloom filter for non-broadcastable selective
  *     joins (its default size gates keep it dormant at test scale,
  *     `RuntimeFilterSpec`).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or 32 when unset. */
  def defaultCores: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    raw.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
  }

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.adhesive.AdhesiveSparkExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
