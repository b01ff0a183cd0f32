package graft

/** Dev tool: print the formatted physical plan of one or more SparkEntry
  * queries — used to keep filters pushed down, small sides broadcast, and
  * whole-stage codegen spans wide. Same session as Bench. No names
  * explains every entry. Usage:
  *
  *   sbt "runMain graft.Explain [sfDir] q3_shipping_priority q6_..."
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toList match {
      case d :: rest if d.startsWith("/") => (d, rest)
      case rest                           => ("/root/testdata/sf0.01", rest)
    }
    val targets = SparkEntry.select(names)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    targets.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
