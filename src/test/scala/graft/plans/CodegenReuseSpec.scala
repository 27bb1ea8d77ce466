package graft.plans

import graft.SharedSparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** A plan compiled once stays compiled: the engine sizes Spark's JVM-wide
  * codegen class cache ([[GraftExtensions.CodegenCacheEntries]]) above the
  * working set of a pass. With Spark's default of 100 entries, a round of
  * more than 100 distinct generated classes evicts each one before the next
  * round asks for it again, so every round recompiles everything. */
class CodegenReuseSpec extends SharedSparkSpec {

  test("a second round of 150 distinct projections compiles no class") {
    // The int literal is inlined into the generated Java, so every k is a
    // distinct class; fresh DataFrames each round, as the queries build them.
    def round(): Unit = (1 to 150).foreach { k =>
      val rows = spark.range(10).select((col("id") * lit(k)).as("v")).collect()
      assert(rows.map(_.getLong(0)).sum == 45L * k)
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    round()
    val c1 = compiles
    assert(c1 - c0 > 100, s"the first round compiled only ${c1 - c0} classes")
    round()
    assert(compiles - c1 == 0,
      s"the second round recompiled ${compiles - c1} of the ${c1 - c0} classes of the first")
  }
}
