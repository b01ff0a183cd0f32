package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactness pins for the z-key arithmetic at the two cross-engine
  * traps the r14 verdict/advice named:
  *
  *  1. bucketing a 63-bit z with `Column./` (DOUBLE division) can land
  *     one bucket past exact integer `//` when z is within ~512 below a
  *     multiple of the divisor — the engine now uses `shiftright`, and
  *     the boundary case is constructible from max-scaled 21-bit inputs;
  *  2. `(c - min) * factor` in Long wraps once the span exceeds
  *     Long.MaxValue/factor (an epoch-µs span of ~51 days for the 21-bit
  *     factor) — scaleTo now routes wide spans through DECIMAL(38,0),
  *     pinned here against BigInt ground truth.
  */
class LayoutScaleSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("z-bucket shiftright matches exact // at the 2^57 boundary where double division flips") {
    // max-scaled inputs: zvalue21(2^21-1, 2^21-1, 2^21-1) = 2^63-1, which
    // is within 512 below 64 * 2^57 — the exact constructible boundary
    // case from the r14 verdict
    val zmax = Seq(2097151L).toDF("a")
      .select(Layout.zvalue21($"a", $"a", $"a")).head.getLong(0)
    assert(zmax == Long.MaxValue)
    // a ladder of near-boundary values: k*2^57 - d for small d, plus the
    // achievable max and far-from-boundary controls
    val cases = (Seq(1L, 5L, 33L, 63L).flatMap(k =>
      Seq(1L, 17L, 256L, 511L).map(d => (k << 57) - d)) :+
      zmax :+ 12345678901234567L :+ 0L).toDF("z")
    val got = cases
      .select($"z", shiftright($"z", 57).as("bucket"),
        ($"z" / lit(1L << 57)).cast("long").as("double_bucket"))
      .collect()
    var flips = 0
    got.foreach { r =>
      val (z, bucket, dbl) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val exact = (BigInt(z) / BigInt(1L << 57)).toLong
      assert(bucket == exact, s"shiftright bucket of $z")
      if (dbl != exact) flips += 1
    }
    // the old formula demonstrably mis-buckets these boundary values —
    // this is what made the fix load-bearing, not cosmetic
    assert(flips > 0, "expected the double-division formula to flip at " +
      "the boundary; if doubles became exact this pin is stale")
    // the achievable max itself flips under double division: 2^63-1
    // rounds UP to 2^63 as a double, landing in bucket 64 of 63
    val maxRow = got.find(_.getLong(0) == zmax).get
    assert(maxRow.getLong(1) == 63 && maxRow.getLong(2) == 64)
  }

  test("scale21/scale16 stay exact across the Long-overflow span boundary (decimal branch)") {
    def checkFactor(bits: Int, factor: Long,
        scaleFn: (org.apache.spark.sql.Column, Long, Long) => org.apache.spark.sql.Column): Unit = {
      val narrowSpan = Long.MaxValue / factor - 1 // pure-long branch
      val wideSpan = Long.MaxValue / factor * 1000 // decimal branch
      for (span <- Seq(narrowSpan, wideSpan)) {
        val min = 1234567L
        val max = min + span
        val vals = Seq(min, max, min + span / 3, min + span / 7 * 5,
          max - 1, min + 1)
        val got = vals.toDF("c").select($"c", scaleFn($"c", min, max))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        vals.foreach { v =>
          val exact = (BigInt(v - min) * factor / span).toLong
          assert(got(v) == exact,
            s"scale$bits($v) over span $span: got ${got(v)}, want $exact")
          assert(got(v) >= 0 && got(v) <= factor)
        }
      }
    }
    checkFactor(21, 2097151L, Layout.scale21)
    checkFactor(16, 65535L, Layout.scale16)
  }

  test("mixed-sign spans that wrap `max - min` itself stay exact (review fix: BigInt span, decimal-first subtraction)") {
    // a Long.MinValue-adjacent sentinel next to positive epoch-µs values:
    // both `max - min` AND `c - min` wrap in Long, so the whole chain
    // must widen BEFORE subtracting — pinned against BigInt ground truth
    val min = Long.MinValue / 2 - 3
    val max = Long.MaxValue / 2 + 7
    val span = BigInt(max) - BigInt(min)
    assert(span > Long.MaxValue, "fixture must overflow the long span")
    val vals = Seq(min, max, 0L, -1L, 123456789L, min + 1, max - 1)
    val got = vals.toDF("c").select($"c", Layout.scale21($"c", min, max))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    vals.foreach { v =>
      val exact = ((BigInt(v) - BigInt(min)) * 2097151 / span).toLong
      assert(got(v) == exact, s"scale21($v) over mixed-sign span: " +
        s"got ${got(v)}, want $exact")
      assert(got(v) >= 0 && got(v) <= 2097151L)
    }
    // and a reversed range fails loudly instead of emitting garbage
    intercept[IllegalArgumentException] {
      Layout.scale21(lit(0L), 10L, 5L)
    }
  }

  test("the z-order exchange ships only data columns — the key routes rows without crossing the wire") {
    // regression pin for the round-15 write-cost finding (SCALE.md
    // §"Round-14 Z-order layout"): a
    // withColumn("_z")/drop form adds the 8-byte Morton key to every
    // shuffled row (+34% measured). The exchange's output schema must be
    // exactly the data schema — RangePartitioning evaluates its ordering
    // expressions without appending them.
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val df = spark.range(1000).select($"id".as("a"), ($"id" * 3).as("b"))
    val z = Layout.zvalue16(
      Layout.scale16($"a", 0, 999), Layout.scale16($"b", 0, 2997))
    val shaped = df.repartitionByRange(8, z).sortWithinPartitions(z)
    shaped.write.format("noop").mode("overwrite").save()
    val plan = shaped.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges: Seq[ShuffleExchangeLike] = plan.collect {
      case s: ShuffleQueryStageExec => s.shuffle
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected a shuffle exchange in the plan")
    exchanges.foreach { e =>
      assert(e.outputPartitioning.isInstanceOf[RangePartitioning],
        s"expected a range exchange: ${e.outputPartitioning}")
      assert(e.output.map(_.name).sorted == Seq("a", "b"),
        s"the exchange must carry ONLY data columns, got ${e.output.map(_.name)}")
    }
  }

  test("the wide-span long multiply really wraps — the hazard the decimal branch removes") {
    // ~127 years of epoch-µs: (c - min) * 2097151 exceeds Long.MaxValue
    // well inside the span, so the pre-fix formula produced negative or
    // wrapped z inputs; demonstrated here so the branch threshold is
    // understood, not folklore
    val span = 4_000_000_000_000_000L
    val v = span // the max itself
    val wrapped = v * 2097151L // Scala Long multiply wraps like Spark's did
    assert(wrapped < 0, "expected the raw multiply to wrap negative")
    val exact = (BigInt(v) * 2097151 / span).toLong
    val got = Seq(v).toDF("c")
      .select(Layout.scale21($"c", 0L, span)).head.getLong(0)
    assert(got == exact && got == 2097151L)
  }
}
