package graft

import org.apache.spark.sql.SparkSession

/** Session factory / tuner for the graft engine.
  *
  * Defaults chosen for correctness-parity with the DuckDB oracle and for
  * scale: AQE on (runtime skew-join + partition coalescing), ANSI off
  * (legacy arithmetic: wrapping longs for hash math, lenient casts), UTC
  * session time zone, shuffle partitions sized to the local core count
  * rather than Spark's default 200.
  *
  * `spark.sql.codegen.cache.maxEntries` is raised from Spark's 100 to
  * [[CodegenCacheEntries]]. The compiled-class cache is an LRU, and one
  * corpus pipeline pass generates about 100 distinct classes, so at 100
  * entries every class was evicted just before the next pass needed it
  * and Janino recompiled the whole pass. 1000 holds a mixed session's
  * working set (a cold corpus pass, the agent calls, catalog queries).
  * A caller may override the key with `.config(...)` after `builder`.
  */
object GraftSession {

  /** Entries of Spark's compiled-class cache in every graft session. */
  val CodegenCacheEntries: Int = 1000

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")

  def local(cores: Int = 32): SparkSession = {
    val s = tune(builder(s"local[$cores]").getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Idempotently applies graft runtime settings + function registrations to
    * a session, including one created outside [[builder]].
    * Only runtime-settable confs are touched.
    *
    * The compiled-class cache size is not one of them: the cache is
    * JVM-wide and static, sized once from the conf of the first session
    * that generates code, so `tune` cannot set it. Build the session with
    * [[builder]] to get it.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // testdata events.parquet uses TIMESTAMP(NANOS); read as long + convert
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
