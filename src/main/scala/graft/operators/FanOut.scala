package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Input-parallelism guard for heavy per-row map work (optimization guide
  * §2.5 "input skew: one huge unsplittable file … repartition immediately
  * after the read", §2.6 stragglers).
  *
  * The failure mode this fixes: a snapshot table is a single parquet
  * file with one row group, so its scan is ONE task no matter the core
  * count — and any expensive generator fused into that scan (md5
  * resample weights, shingling, span/window explodes) runs on one core
  * while the rest of the box idles. Worse, an intermediate persisted
  * from that scan (PrefixFilter's exploded shingles, the bootstrap
  * resample) inherits the single partition, so EVERY downstream
  * consumer stage of the cache is serial too.
  *
  * `byKey` hash-repartitions the slim pre-amplification projection to the
  * session default parallelism — but ONLY when the plan's current
  * parallelism is below it. At production scale the corpus scan already
  * has thousands of splits, the gate sees parallelism ≥ target, and the
  * operator is a structural NO-OP: no extra exchange ever appears on the
  * 100 TB path. The repartition is hash-by-unique-key (deterministic
  * under task retries — never round-robin, SPARK-38388) and every caller
  * feeds it to partitioning-independent aggregations, so results are
  * bit-identical either way (oracle-verified per call site).
  *
  * Conf: `spark.graft.fanout.partitions` — empty (default) derives the
  * target from `sparkContext.defaultParallelism`; an explicit int pins
  * it; `0` or `1` disables fan-out entirely.
  */
private[graft] object FanOut {

  def targetPartitions(df: DataFrame): Int = {
    val spark = df.sparkSession
    val conf = spark.conf.get("spark.graft.fanout.partitions", "").trim
    if (conf.isEmpty) spark.sparkContext.defaultParallelism else conf.toInt
  }

  /** `df` repartitioned by `keys` to the target parallelism iff its
    * current physical parallelism is lower; `df` unchanged otherwise
    * (including streaming frames, where partition counts are unknowable
    * at plan time). `keys` should include a unique (or near-unique)
    * column so the hash spreads evenly.
    *
    * Call-site discipline: hand this SCAN-LEVEL projections only
    * (scan/filter/project). The gate physically plans `df` (`.rdd`), and
    * a subtree containing a join would both double-plan and pre-trigger
    * its broadcast jobs at build time, a net regression where it was
    * tried above a candidate-doc join. Fan out below the join instead.
    */
  def byKey(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "FanOut.byKey needs at least one key column")
    if (df.isStreaming) return df
    val target = targetPartitions(df)
    if (target <= 1) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, keys: _*)
  }

  /** Pin the partition count of a fan-out JOIN's hash exchange
    * (optimization guide §2.5 / §3.3): `keys` must be the join's equi
    * key. A pair-generation self-join multiplies rows AFTER the
    * exchange, so AQE's bytes-based coalescing — which only sees the
    * slim pre-join shuffle — systematically undersizes the stage (the
    * co-occurrence pair join and the neighbor-overlap apex join each
    * ran as a 2–3 task stage on a 32-core box). An explicit
    * `repartition(n, keys)` is never an EXTRA shuffle — the join
    * requires this hash partitioning anyway and EnsureRequirements
    * inserts nothing on top — it only pins the partition count AQE
    * would otherwise shrink.
    *
    * Target = max(defaultParallelism | conf override,
    * spark.sql.shuffle.partitions): scale-adaptive, never below either
    * knob a cluster deployment tunes. Trade-off (documented, accepted):
    * the pinned exchange opts out of AQE coalescing AND skew-splitting
    * for this one join — correct here because the callers' group keys
    * are bounded-width baskets (lines per order, items per basket), not
    * skew candidates. The `spark.graft.fanout.partitions` knob disables
    * (`0`/`1`) or overrides, as for [[byKey]].
    *
    * Apply ONLY where A/B-measured as a win: every consumer of the
    * pinned layout pays per-task overhead per pass, so iterative or
    * multi-stage readers can lose more than the fat stage saves: a win
    * for the neighbor-Jaccard apex join, a wash for BFS, a loss for
    * pagerank, triangles and assoc-rules, which stay unpinned with the
    * reason documented in place.
    */
  def byJoinKey(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "FanOut.byJoinKey needs at least one key column")
    if (df.isStreaming) return df
    val knob = targetPartitions(df)
    if (knob <= 1) df
    else {
      val target =
        math.max(knob, df.sparkSession.sessionState.conf.numShufflePartitions)
      df.repartition(target, keys: _*)
    }
  }

  /** Session conf: skew tolerance of [[byJoinKeySkewGated]] — the pin is
    * skipped when the hottest key's quadratic pair work `max(c)²`
    * exceeds this factor times an even partition's share `Σc²/target`.
    */
  val SkewFactorConf = "spark.graft.fanout.skewFactor"
  val SkewFactorDefault = 4.0

  /** [[byJoinKey]] behind a RUNTIME SKEW GATE: pinning a pair-join's
    * exchange forfeits AQE's skew-splitting on it, which is exactly
    * wrong when one block dominates (a ~2× loss for the jaro blocking
    * join under copy-amplified hot blocks). One slim count-aggregation
    * probe over the join-key table decides at runtime: with per-key
    * counts c, a self-join's per-key pair work is ~c², so the pin goes
    * ahead only when
    * `max(c)² ≤ skewFactor · Σc²/target` — the hottest key's pair work
    * cannot dominate an evenly-hashed partition by more than the
    * conf'd factor. Otherwise the frame is returned UNCHANGED and AQE
    * keeps its runtime skew-splitting.
    *
    * Probe cost: ONE partial-aggregated pass over the slim pre-join
    * projection (hand this scan-level frames only — the [[byKey]]
    * call-site discipline); at 100 TB the probe is a slim
    * count-distinct-grain aggregation, orders of magnitude below the
    * pair join it guards. `spark.graft.fanout.partitions=0/1` disables
    * pin AND probe.
    */
  def byJoinKeySkewGated(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "FanOut.byJoinKeySkewGated needs at least one key column")
    if (df.isStreaming) return df
    val knob = targetPartitions(df)
    if (knob <= 1) return df
    val spark = df.sparkSession
    val target = math.max(knob, spark.sessionState.conf.numShufflePartitions)
    val factor = spark.conf.get(SkewFactorConf, SkewFactorDefault.toString).toDouble
    import org.apache.spark.sql.functions._
    val stats = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("__fo_c"))
      .agg(max(col("__fo_c")).as("__fo_max"),
        sum(col("__fo_c").cast("double") * col("__fo_c").cast("double"))
          .as("__fo_sumsq"))
      .head()
    if (stats.isNullAt(0)) return df // empty input — nothing to spread
    val maxC = stats.getLong(0).toDouble
    val sumSq = stats.getDouble(1)
    if (maxC * maxC <= factor * (sumSq / target)) df.repartition(target, keys: _*)
    else df
  }
}
