package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

/** The session's compiled-class cache holds a pass's working set: a plan
  * shape rerun after 150 others reuses its generated class instead of
  * compiling it again. At Spark's default of 100 entries the second
  * round below recompiles every class.
  */
class CodegenCacheSpec extends SparkSpecBase {

  test("the builder sizes the codegen cache to hold 150 distinct classes across two rounds") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // each plan's generated code differs only by an inlined long literal;
    // building the RDD compiles the whole-stage class without running a job
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (i <- 0 until 150)
        spark.range(1).select((col("id") + (7919000 + i)).as("x")).queryExecution.toRdd
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    assert(first >= 150, s"the first round compiled $first classes, not one per plan")
    val second = round()
    assert(second == 0, s"the second round recompiled $second of the $first classes")
  }
}
