package graft

import org.apache.spark.sql.GraftStatsClampRule
import org.apache.spark.sql.functions._

/** The checkpoint-stats clamp (`GraftStatsClampRule`, registered by
  * [[Tables.sessionConfigs]]): an iterative self-join that
  * `localCheckpoint`s each round stores the optimized plan's size
  * estimate on the new leaf, and without the clamp that estimate's bit
  * length doubles every round (37,107 bits by round 12 here), until
  * planning a small query spends minutes in BigInt multiplication. */
class StatsClampSpec extends SparkSpec {
  test("checkpointed self-join stats stay bounded across 12 rounds") {
    var df = spark.range(100).select(col("id"), (col("id") % 10).as("k"))
      .localCheckpoint(true)
    val bits = (1 to 12).map { _ =>
      val b = df.select(col("k"), col("id").as("id2"))
      df = df.join(b, "k").groupBy("k").agg(count(lit(1)).as("id"))
        .select(col("id"), col("k")).localCheckpoint(true)
      // the analyzed plan is the stored LogicalRDD leaf itself: the
      // estimate every downstream plan inherits, with no optimizer pass
      df.queryExecution.analyzed.stats.sizeInBytes.bitLength
    }
    assert(bits.forall(_ <= 2 * GraftStatsClampRule.maxBits), bits)
  }
}
