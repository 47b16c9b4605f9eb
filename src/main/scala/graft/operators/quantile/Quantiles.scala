package graft.operators.quantile

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.SmallInput

/** Exact and approximate quantile machinery that survives 100 TB.
  *
  * The naive exact formulations are both single-point funnels:
  * `ntile(n) OVER (ORDER BY v)` moves every row into ONE task, and the
  * exact `percentile` aggregate buffers every value of a group in the
  * aggregation state. The operators here replace them:
  *
  *  - [[withNtile]] — exact ntile assignment with no global window:
  *    boundary-then-broadcast over a TeraSort-style range partitioning.
  *    It, [[withNtileByGroup]] and [[groupPercentilesExact]] share one
  *    exact-rank core ([[selectRanks]]), whose small-input branch is the
  *    [[graft.operators.SmallInput]] gate (`spark.graft.smallInputRows`).
  *  - [[approxPercentiles]] — the mergeable bounded-memory scale twin of
  *    the exact `percentile` aggregate (Greenwald-Khanna sketch via
  *    `approx_percentile`), with a rank-error contract.
  *
  * Re-expresses the reference's quantile/summary statistics surface
  * (reference: /root/reference/openai/list_of_tools.py:204 chart binning,
  * pandas `describe`-style summaries) as distributed operators.
  */
object Quantiles {

  /** Session conf: cap on the DRIVER-COLLECTED (partition × group) slice
    * table of the distributed exact-rank core ([[selectRanks]]) — the
    * collect is bounded by `limit(cap+1)` and RAISES when exceeded
    * instead of silently building an unbounded driver table (group
    * slices are contiguous under the range split, so the row count is
    * ≤ partitions + groups − 1; a high-cardinality group column means
    * SMALL groups, where the ordinary per-group machinery — window
    * ntile, `approxPercentiles` — already scales).
    */
  val MaxDriverSlicesConf = "spark.graft.quantile.maxDriverSlices"
  val MaxDriverSlicesDefault = 1000000L

  /** Canonicalizes a collected value for use as a driver-side GROUPING
    * key: ±0.0 and every NaN bit pattern collapse exactly as Spark's
    * grouping normalization does (raw collected rows, unlike the output
    * of a Spark groupBy, can still carry −0.0). Identity for every
    * other type.
    */
  private def normGroupKey(a: Any): Any = a match {
    case d: java.lang.Double =>
      val v = d.doubleValue
      if (v == 0.0d) java.lang.Double.valueOf(0.0d)
      else if (v != v) java.lang.Double.valueOf(Double.NaN)
      else d
    case f: java.lang.Float =>
      val v = f.floatValue
      if (v == 0.0f) java.lang.Float.valueOf(0.0f)
      else if (v != v) java.lang.Float.valueOf(Float.NaN)
      else f
    case x => x
  }

  /** `Percentile.getPercentile`'s selection + interpolation arithmetic,
    * used by [[groupPercentilesExact]] on both branches of the core:
    * position = (N−1)·p, keys at the 0-based floor/ceil ranks,
    * `(higher − pos)·lowerKey + (pos − lower)·higherKey` — the SAME JVM
    * double ops as the `percentile()` aggregate, so outputs are
    * bit-identical to it.
    */
  private def percentileValues(n: Long, ps: Seq[Double], keyAt: Long => Double): Seq[Double] = {
    val maxPos = (n - 1).toDouble
    ps.map { p =>
      val pos = maxPos * p
      val lower = math.floor(pos).toLong
      val higher = math.ceil(pos).toLong
      val lowerKey = keyAt(lower)
      if (higher == lower) lowerKey
      else {
        val higherKey = keyAt(higher)
        if (higherKey == lowerKey) lowerKey
        else (higher - pos) * lowerKey + (pos - lower) * higherKey
      }
    }
  }

  /** Percentile.toDoubleValue: Decimal.toDouble == BigDecimal.doubleValue */
  private def toDoubleValue(a: Any): Double = a match {
    case d: java.math.BigDecimal => d.doubleValue
    case n: java.lang.Number => n.doubleValue
    case other => throw new IllegalStateException(
      s"non-numeric percentile key: $other")
  }

  /** Input contract shared by [[orderStatistics]] and [[withNtile]]:
    * both columns must be orderable ATOMIC types (numeric, string,
    * timestamp, date, boolean — not arrays/structs/maps) and non-null
    * (the map-side bucket predicate and the boundary fetch cannot
    * represent SQL null ordering — filter nulls first; null presence is
    * detected and rejected, not silently misbucketed). `tieCol` must be
    * a unique key: it is what makes the composite ordering total.
    */
  private def checkTypes(df: DataFrame, valueCol: String, tieCol: String): Unit = {
    import org.apache.spark.sql.types._
    def orderable(name: String): Unit = df.schema(name).dataType match {
      case _: NumericType | StringType | TimestampType | TimestampNTZType |
          DateType | BooleanType => ()
      case other => throw new IllegalArgumentException(
        s"$name must be an orderable atomic type (got $other)")
    }
    orderable(valueCol)
    orderable(tieCol)
  }

  /** The exact-rank core behind [[orderStatisticsBy]],
    * [[groupPercentilesExact]] and [[withNtileByGroup]]: the rows at
    * exact 1-based ranks of each group's ascending order, without a
    * global sort funnel.
    *
    * `slim` holds the group column first when `grouped`, then the order
    * columns; `names` are the caller's names for the same columns (error
    * messages). For each group, `ranksOf(total)` returns ranks in
    * [1, total]; the result is (group, total, the slim rows at those
    * ranks in the same order) per non-empty group. NULLs in any column
    * raise.
    *
    * Small input ([[graft.operators.SmallInput]]): one bounded probe
    * collects the whole projection; rows group by [[normGroupKey]] and
    * sort under the Spark-order driver comparator.
    *
    * Distributed:
    *  1. ONE range split of the slim projection (TeraSort shape: the
    *     only full-data movement, and it carries the slim columns, not
    *     whole rows) + `__pid`, persisted so every later job sees the
    *     SAME split (the range partitioner samples);
    *  2. ONE bounded (pid, group) count with the null piggyback —
    *     range partitioning by (group, …) makes group slices
    *     CONTIGUOUS, so the table is ≤ partitions + groups − 1 rows,
    *     guarded by [[MaxDriverSlicesConf]];
    *  3. exclusive prefix offsets per group locate each rank to
    *     (pid, local rank) on the driver;
    *  4. ONE `sortWithinPartitions` + linear rank scan over only the
    *     partitions holding a target fetches those rows — no exchange,
    *     no window; the pid filter is partition-grain, so retained
    *     slices stay intact and local ranks are exact.
    *
    * Determinism: ranks are exact, so the result is independent of
    * where the range partitioner split; the two branches return the
    * same rows.
    */
  private def selectRanks(
      slim: DataFrame,
      grouped: Boolean,
      caller: String,
      names: Seq[String])(ranksOf: Long => Seq[Long]): Seq[(Any, Long, Seq[Row])] = {
    val cols = slim.columns.toSeq
    val nullMsg = s"${names.mkString("/")} contain NULLs — filter them before calling " +
      "(the boundary-broadcast formulation cannot represent null ordering)"
    SmallInput.take(slim) match {
      case Some(rows) =>
        require(!rows.exists(r => cols.indices.exists(r.isNullAt)), nullMsg)
        val order = if (grouped) cols.indices.tail else cols.indices
        def before(a: Row, b: Row): Boolean =
          order.iterator.map(i => SmallInput.compare(a.get(i), b.get(i)))
            .find(_ != 0).getOrElse(0) < 0
        rows.groupBy(r => if (grouped) normGroupKey(r.get(0)) else null).toSeq
          .map { case (g, arr) =>
            val sorted = arr.sortWith(before)
            val total = sorted.length.toLong
            (g, total, ranksOf(total).map(r => sorted((r - 1).toInt): Row))
          }
      case None =>
        val spark = slim.sparkSession
        val ranged = slim
          .repartitionByRange(spark.sessionState.conf.numShufflePartitions, cols.map(col): _*)
          .withColumn("__pid", spark_partition_id())
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          import org.apache.spark.sql.types.{LongType, StructField, StructType}
          val maxSlices = spark.conf
            .get(MaxDriverSlicesConf, MaxDriverSlicesDefault.toString).toLong
          val sliceCap = math.min(maxSlices, (Int.MaxValue - 8).toLong).toInt
          val counts = ranged
            .groupBy(col("__pid") +: cols.take(if (grouped) 1 else 0).map(col): _*)
            .agg(count(lit(1)).as("__c"),
              sum(when(cols.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L)).as("__nulls"))
            .limit(sliceCap + 1)
            .collect()
          require(counts.length <= sliceCap,
            s"$caller: (partition × group) slice table exceeds " +
              s"$MaxDriverSlicesConf=$maxSlices — group cardinality is not " +
              "driver-modest; use the per-group window (or approxPercentiles) " +
              "at this cardinality")
          require(counts.forall(r => r.getLong(r.length - 1) == 0L), nullMsg)
          // per group: slices in pid (= range) order, exclusive prefix
          // offsets, each requested rank located to (pid, local rank)
          val located: Seq[(Any, Long, Seq[(Int, Long)])] = counts
            .map(r => (r.getInt(0), if (grouped) r.get(1) else null, r.getLong(r.length - 2)))
            .groupBy(_._2).toSeq
            .map { case (g, arr) =>
              val slices = arr.sortBy(_._1)
              val offs = slices.scanLeft(0L)(_ + _._3)
              (g, offs.last, ranksOf(offs.last).map { r =>
                val i = offs.indexWhere(_ >= r) - 1
                (slices(i)._1, r - offs(i))
              })
            }
          val wanted: Map[Int, Map[Any, Set[Long]]] = located
            .flatMap { case (g, _, ls) => ls.map { case (p, lr) => (p, g, lr) } }
            .groupBy(_._1)
            .map { case (p, xs) =>
              p -> xs.groupBy(_._2).map { case (g, ys) => g -> ys.map(_._3).toSet }
            }
          val bWanted = spark.sparkContext.broadcast(wanted)
          val pidAt = cols.length
          val fetched: Map[(Int, Any, Long), Row] = ranged
            .where(col("__pid").isin(wanted.keys.toSeq: _*))
            .sortWithinPartitions(cols.map(col): _*)
            .mapPartitions { it =>
              val w = bWanted.value
              var curG: Any = null
              var started = false
              var rank = 0L
              it.flatMap { row =>
                w.get(row.getInt(pidAt)) match {
                  case None => Iterator.empty
                  case Some(byG) =>
                    val g = if (grouped) row.get(0) else null
                    if (!started || g != curG) { curG = g; started = true; rank = 1L }
                    else rank += 1L
                    if (byG.get(g).exists(_.contains(rank)))
                      Iterator.single(Row.fromSeq(row.toSeq :+ rank))
                    else Iterator.empty
                }
              }
            }(Encoders.row(StructType(ranged.schema.fields :+ StructField("__lr", LongType))))
            .collect()
            .map(r => ((r.getInt(pidAt), if (grouped) r.get(0) else null, r.getLong(pidAt + 1)), r))
            .toMap
          located.map { case (g, total, ls) =>
            (g, total, ls.map { case (p, lr) => fetched((p, g, lr)) })
          }
        } finally { ranged.unpersist(false); () }
    }
  }

  /** 1-based ranks of the last row of buckets 1..n−1 of `ntile(n)` over
    * `total` rows (the first `total % n` buckets get one extra row).
    * When total < n the trailing ranks repeat the maximum: the boundary
    * list is a MULTISET whose duplicates are the group maximum, and
    * nothing orders strictly above it.
    */
  private def ntileRanks(total: Long, n: Int): Seq[Long] = {
    val base = total / n
    val extra = total % n
    (1 until n).map(b => b * base + math.min(b.toLong, extra)).filter(_ >= 1L)
  }

  /** Exact order statistics of the composite ordering (valueCol, tieCol)
    * at 1-based global ranks — the one-group case of [[selectRanks]], so
    * no global sort funnel. `ranksOf` receives the exact total row count
    * (known from the core's counts — callers never need a separate
    * count() pass) and returns the ranks to fetch. Returns the
    * (value, tie) pairs in rank order, in the columns' NATIVE types
    * (usable as comparison literals); ranks beyond the row count are
    * clamped to the maximum (empty-bucket degeneracy when
    * n_rows < n_buckets).
    */
  def orderStatisticsBy(
      df: DataFrame,
      valueCol: String,
      tieCol: String)(ranksOf: Long => Seq[Long]): Seq[(Any, Any)] = {
    checkTypes(df, valueCol, tieCol)
    val slim = df.select(col(valueCol).as("__v"), col(tieCol).as("__k"))
    val sel = selectRanks(slim, grouped = false, "orderStatistics", Seq(valueCol, tieCol)) {
      total =>
        val ranks = ranksOf(total)
        require(ranks.nonEmpty && ranks.forall(_ >= 1L), s"ranks must be >= 1: $ranks")
        ranks.map(math.min(_, total))
    }
    require(sel.nonEmpty, "orderStatistics on an empty input")
    sel.head._3.map(r => (r.get(0), r.get(1)))
  }

  /** Fixed-rank convenience form of [[orderStatisticsBy]]. */
  def orderStatistics(
      df: DataFrame,
      valueCol: String,
      tieCol: String,
      ranks: Seq[Long]): Seq[(Any, Any)] =
    orderStatisticsBy(df, valueCol, tieCol)(_ => ranks)

  /** Exact `ntile(n) OVER (ORDER BY valueCol, tieCol)` without the
    * single-partition window: the n-1 bucket boundaries (the last
    * (value, tie) of each bucket, from [[orderStatisticsBy]]) are driver
    * literals, and each row's bucket is `1 + #(boundaries below it)` —
    * a map-side when-chain fused into the scan. Identical output to the
    * window formulation for any non-null atomic-typed input with a
    * unique tieCol (see [[checkTypes]] for the contract; comparisons use
    * the columns' native types, so strings and timestamps order exactly
    * as the window would).
    */
  def withNtile(
      df: DataFrame,
      valueCol: String,
      tieCol: String,
      n: Int,
      outputCol: String): DataFrame = {
    require(n >= 1, s"ntile buckets must be >= 1, got $n")
    if (n == 1) return df.withColumn(outputCol, lit(1L))
    val bounds = orderStatisticsBy(df, valueCol, tieCol)(ntileRanks(_, n))
    val v = col(valueCol)
    val k = col(tieCol)
    val bucket = bounds.foldLeft(lit(1L)) { case (acc, (bv, bk)) =>
      acc + when(v > lit(bv) || (v === lit(bv) && k > lit(bk)), 1L).otherwise(0L)
    }
    df.withColumn(outputCol, bucket)
  }

  /** Exact per-group percentiles — the values the exact `percentile()`
    * aggregate returns, BIT-FOR-BIT, without its per-group value buffer
    * (the aggregate ships every value of a group through one exchange
    * into ONE reducer that sorts it — the canonical single-key funnel at
    * scale).
    *
    * Plan: [[selectRanks]] over the slim (group, value) projection
    * fetches each group's rows at `Percentile.getPercentile`'s selection
    * ranks (the floor/ceil of position (N−1)·p), and
    * [[percentileValues]] replicates its interpolation with the SAME JVM
    * double ops, so outputs are bit-identical — GroupPercentilesSpec
    * pins equality against the `percentile()` aggregate itself.
    *
    * Contract: `valueCol` numeric, `groupCol` orderable atomic; rows
    * with a NULL group or NULL value are excluded (the aggregate skips
    * null values too; a null GROUP's percentile row — which a plain
    * `groupBy` would emit — is not produced: callers here never feed
    * null groups, and the range partitioner cannot represent null
    * ordering). Group cardinality must be driver-modest (the result is
    * a driver-built local table). `nCol` optionally emits the group's
    * non-null row count (free — the core already knows it).
    */
  def groupPercentilesExact(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[Double],
      outNames: Seq[String],
      nCol: Option[String] = None): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentages must be in [0,1], got $ps")
    require(outNames.size == ps.size, "one output name per percentage")
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    df.schema(valueCol).dataType match {
      case _: NumericType => ()
      case other => throw new IllegalArgumentException(
        s"$valueCol must be numeric for percentile interpolation (got $other)")
    }
    checkTypes(df, groupCol, groupCol)
    val outSchema = StructType(
      StructField(groupCol, df.schema(groupCol).dataType) +:
        (outNames.map(StructField(_, DoubleType)) ++
          nCol.map(StructField(_, LongType))))
    val slim = df
      .select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
    // Percentile's selection ranks (1-based): floor/ceil of (N−1)·p
    def selection(n: Long): Seq[Long] = ps.flatMap { p =>
      val pos = (n - 1).toDouble * p
      Seq(math.floor(pos).toLong + 1L, math.ceil(pos).toLong + 1L)
    }.distinct
    val sel = selectRanks(slim, grouped = true, "groupPercentilesExact",
      Seq(groupCol, valueCol))(selection)
    val rows: Seq[Row] = sel.map { case (g, n, at) =>
      val byRank = selection(n).zip(at).toMap
      val vals = percentileValues(n, ps, r => toDoubleValue(byRank(r + 1L).get(1)))
      Row.fromSeq(g +: (vals ++ nCol.map(_ => n)))
    }
    df.sparkSession.createDataFrame(rows.asJava, outSchema)
  }

  /** Exact `ntile(n) OVER (PARTITION BY groupCol ORDER BY valueCol,
    * tieCol)` for FEW, HUGE groups — the shape a curation pipeline asks
    * for (deciles within each org unit / language) where a plain
    * per-group window still funnels one 4 TB group into one task.
    *
    * Each group's n−1 boundary rows come from [[selectRanks]] over the
    * slim (group, value, tie) projection; each row's bucket is then
    * assigned MAP-SIDE as `1 + #(group boundaries below it)` by
    * [[assignNtileByBoundaries]].
    *
    * Contract: [[checkTypes]] applies to all three columns (orderable
    * atomic, non-null — nulls rejected, not misbucketed; `tieCol`
    * unique WITHIN each group). Group cardinality must be
    * driver-modest: the boundary table is groups×(n−1) rows and is
    * broadcast. That is the right trade — a HIGH-cardinality groupCol
    * means small groups, where the ordinary per-group window ntile
    * already scales (many groups = parallelism) and this operator is
    * unnecessary.
    */
  def withNtileByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      n: Int,
      outputCol: String): DataFrame = {
    require(n >= 1, s"ntile buckets must be >= 1, got $n")
    if (n == 1) return df.withColumn(outputCol, lit(1L))
    checkTypes(df, valueCol, tieCol)
    checkTypes(df, groupCol, tieCol)
    val slim = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"), col(tieCol).as("__k"))
    val sel = selectRanks(slim, grouped = true, "withNtileByGroup",
      Seq(groupCol, valueCol, tieCol))(ntileRanks(_, n))
    require(sel.nonEmpty, "withNtileByGroup on an empty input")
    assignNtileByBoundaries(df, groupCol, valueCol, tieCol, outputCol,
      sel.map { case (g, _, at) => g -> at.map(r => (r.get(1), r.get(2))) })
  }

  /** [[withNtileByGroup]]'s map-side assignment: the groups×(n−1)
    * boundary multiset (in rank = ascending (value, tie) order) becomes
    * a driver-built LocalRelation — broadcasting it launches no cluster
    * job — and each row's bucket is `1 + #(group boundaries below it)`.
    */
  private def assignNtileByBoundaries(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      outputCol: String,
      bnds: Seq[(Any, Seq[(Any, Any)])]): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = df.sparkSession
    val barrSchema = StructType(Seq(
      StructField("__g", df.schema(groupCol).dataType),
      StructField("__bnds", ArrayType(StructType(Seq(
        StructField("__bv", df.schema(valueCol).dataType),
        StructField("__bk", df.schema(tieCol).dataType)))))))
    val barrRows: java.util.List[Row] = bnds.map { case (g, ls) =>
      Row(g, ls.map { case (bv, bk) => Row(bv, bk) })
    }.asJava
    val barr = spark.createDataFrame(barrRows, barrSchema)
    val v = col(valueCol)
    val k = col(tieCol)
    val bucket = lit(1L) + size(filter(col("__bnds"),
      b => v > b("__bv") || (v === b("__bv") && k > b("__bk")))).cast("long")
    df.join(broadcast(barr), df(groupCol) === barr("__g"))
      .withColumn(outputCol, bucket)
      .drop("__g", "__bnds")
  }

  /** Exact weighted quantile per group: the smallest value whose running
    * weight share reaches `qPct`% of the group's total weight (weighted
    * median = `qPct = 50`). The inventory-skew primitive plain
    * percentiles miss: the median ORDER is not the median UNIT when line
    * sizes differ.
    *
    * Scale shape (the B48 first-occurrence trick): the data-grain shuffle
    * aggregates to (group, value) FIRST — the running weight then rides
    * [[graft.operators.stats.RankedSpine.exclusivePrefix]] over the
    * value-grain spine (distributed; auto-degrades to the legacy pinned
    * per-group window below the small-spine threshold), bounded by
    * distinct values, never raw rows. Weights accumulate as
    * DECIMAL(18,6) = exact integer MICROS, and the threshold test
    * `cum * 100 >= qPct * tot` is pure integer arithmetic in
    * DECIMAL(38,0) — no division, no float, so the same comparison is
    * exact in any engine (hash-safe without rounding; the returned value
    * is an actual data element).
    *
    * Contract: weights must be positive (non-positive or NULL weights
    * and NULL values are dropped — a zero-weight value cannot be "the
    * median element" and a negative weight makes the running share
    * non-monotone); `qPct` in (0, 100]; any single (group, value)
    * cell's weight mass beyond ~9.2e12 units raises (micros must fit a
    * LONG — beyond that use [[weightedQuantileApprox]]). `df` should be
    * a SCAN-LEVEL frame (scan/filter/project): the grain aggregation
    * routes through `FanOut.byKey`, whose parallelism gate physically
    * plans its input (`.rdd`) — a frame containing a join would be
    * double-planned and its broadcast jobs pre-triggered (the FanOut
    * call-site discipline).
    */
  def weightedQuantile(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      weightCol: String,
      qPct: Int,
      outCol: String = "weighted_quantile"): DataFrame = {
    require(qPct > 0 && qPct <= 100, s"qPct must be in (0, 100], got $qPct")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    // r16-opt: the running weight rides RankedSpine.exclusivePrefix
    // instead of a per-group window over the value spine (which sorts a
    // whole group's distinct values in ONE task — ~590k spine rows in 3
    // tasks at sf0.1, unbounded at scale). Weights are DECIMAL(18,6), so
    // integer MICROS are exact (×1e6 on a scale-6 decimal): the prefix
    // sums satisfy exclusivePrefix's integral contract, and the
    // division-free threshold `cum·100 ≥ qPct·tot` scaled by 1e6 on both
    // sides is the SAME comparison — decided in DECIMAL(38,0) so no
    // group total can wrap the ×100. Below the small-spine threshold the
    // prefix auto-degrades to the legacy pinned window (bit-identical
    // both paths — the RankedSpine contract).
    // fan out the grain aggregation (r16-opt): the corpus scan is 3
    // tasks at sf0.1 and the decimal partial agg fused into it ran
    // near-serially (ProfileStages: 3-task stage, maxTask ~1.0 s of the
    // 4.1 s total); gate no-ops at scale, keys are near-unique
    val grain = graft.operators.FanOut.byKey(
      df
        .where(col(valueCol).isNotNull && col(weightCol).isNotNull && col(weightCol) > 0)
        .select((groupCols :+ valueCol :+ weightCol).distinct.map(col): _*),
      (groupCols :+ valueCol).map(col): _*)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(sum(col(weightCol).cast("decimal(18,6)")).as("__wdec"))
      // ANSI is off, so a wrapping micros cast would NULL the cell out
      // of the prefix SILENTLY (the hhi lesson) — raise instead; a
      // per-value weight mass beyond ~9.2e12 units needs the sketch path
      .select((groupCols :+ valueCol).map(col) :+
        when(col("__wdec") <= lit(new java.math.BigDecimal("9223372036854")),
          (col("__wdec") * lit(1000000)).cast("long"))
          .otherwise(expr(
            "raise_error('weightedQuantile: per-value weight mass exceeds LONG micros')")
            .cast("long"))
          .as("__wl"): _*)
    // pin the spine once: BOTH consumers below (the prefix machinery and
    // the per-group total) would otherwise re-run the corpus-grain
    // aggregation lineage (the q_rfm re-derivation lesson)
    val pinned = grain.localCheckpoint(true)
    // prePinned (r17-opt): the preflight otherwise re-checkpoints the
    // already-pinned grain — one wasted spine copy (+1 job) per call
    val pre = graft.operators.stats.RankedSpine
      .exclusivePrefix(pinned, groupCols, valueCol, Seq("__wl" -> "__before"),
        prePinned = true)
    val tot = pinned.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__wl")).as("__totl"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    pre
      .join(tot, groupCols)
      .where((col("__before") + col("__wl")).cast(d38) * 100 >=
        col("__totl").cast(d38) * qPct)
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valueCol)).as(outCol))
  }

  /** Bounded-memory percentiles per group — the 100 TB twin of the exact
    * `percentile` aggregate (which buffers every value of a group in its
    * aggregation buffer). `approx_percentile` keeps a fixed-size
    * mergeable sketch per group; the returned value is an actual element
    * of the group whose RANK error is at most 1/accuracy of the group
    * size (so with the default 10000, a p50 lands between the true p49.99
    * and p50.01). QuantilesSpec pins that contract against the exact path.
    */
  def approxPercentiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      percentiles: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 1))
    val aggs = percentiles.zipWithIndex.map { case (p, i) =>
      percentile_approx(col(valueCol), lit(p), lit(accuracy))
        .as(s"p${(p * 100).round}")
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The 100 TB twin of [[weightedQuantile]] (VERDICT r11 item 6) —
    * sketch-bucketed split-point refinement instead of a window over
    * the per-group distinct-VALUE spine (which sorts one group's whole
    * value set in one task at high cardinality):
    *
    *  1. `nSplits` candidate split points per group from the GK sketch
    *     over the (unweighted) value column — bounded state, mergeable.
    *  2. ONE partial agg of EXACT decimal weight per (group, bucket),
    *     bucket = count of splits strictly below the value (an O(nSplits)
    *     map-side scan per row; ≤ nSplits+1 spine rows per group).
    *  3. Cumulative weight over that AGGREGATED spine; the answer is the
    *     chosen bucket's upper split (an actual data element), or the
    *     group's exact max when the crossing sits above the top split.
    *
    * The output is the exact-rank AUDIT of the sketch-derived selection
    * (the B28 static-verdict convention — split values themselves are
    * merge-order-sensitive in their last ulps and are NOT hashed):
    * `reached` = the returned value's exact at-or-below weight mass
    * covers qPct of the exact total; `prev_short` = the previous
    * split's mass does NOT (bucket-grain minimality). Both are theorems
    * for a correct implementation — a selection/threshold/weight-
    * handling bug or a non-monotone sketch turns the driver row red.
    * `tot_w` is the sketch-independent exact decimal total (hashable).
    * The answer's VALUE error is the chosen bucket's realized weight
    * mass — data-dependent by nature (weights carry no a-priori rank
    * bound); callers needing a tighter answer raise `nSplits`.
    * Same weight contract as [[weightedQuantile]].
    */
  def weightedQuantileApprox(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      weightCol: String,
      qPct: Int,
      nSplits: Int = 100,
      accuracy: Int = 10000): DataFrame = {
    require(qPct > 0 && qPct <= 100, s"qPct must be in (0, 100], got $qPct")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(nSplits >= 1, s"nSplits must be >= 1, got $nSplits")
    val g = groupCols.map(col)
    val v = col(valueCol)
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    // fan out the slim projection once for all three passes (r16-opt):
    // on a single-split input the GK sketch build, the O(nSplits)
    // per-row bucket scan and the final conditional agg each ran in ONE
    // scan task. Fan-out changes the sketch's split PLACEMENT (partial
    // merge boundaries move — the documented merge-order sensitivity of
    // sketch values, which are never hashed) but not the audited row:
    // n/tot_w are exact and the bracket booleans are theorems against
    // whichever splits were chosen.
    val clean = graft.operators.FanOut.byKey(
      df.where(v.isNotNull && col(weightCol).isNotNull && col(weightCol) > 0)
        .select((groupCols :+ valueCol :+ weightCol).distinct.map(col): _*),
      v)
    val ps = (1 to nSplits).map(j => j.toDouble / nSplits)
    // localCheckpoint pins the k-row split table: it feeds BOTH the
    // bucket pass and the answer projection, and without the pin each
    // reference re-runs the full GK sketch scan (the q_rfm lesson)
    val splits = clean
      .groupBy(g: _*)
      .agg(
        percentile_approx(v, lit(ps.toArray), lit(accuracy)).as("__splits"),
        max(v).as("__vmax"))
      .localCheckpoint(true)
    val bucketed = clean
      .join(broadcast(splits), groupCols)
      .withColumn("__b", size(filter(col("__splits"), sp => sp < v)))
      .groupBy(g :+ col("__b"): _*)
      .agg(sum(col(weightCol).cast(dec)).as("__w"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(g: _*)
    val chosen = bucketed
      .withColumn("__cum", sum(col("__w")).over(wCum))
      .withColumn("__tot", sum(col("__w")).over(wTot))
      .where(col("__cum") * 100 >= col("__tot") * qPct)
      .groupBy(g: _*)
      .agg(min(col("__b")).as("__bstar"))
      .join(broadcast(splits), groupCols)
      .select(g ++ Seq(
        when(col("__bstar") < nSplits,
          element_at(col("__splits"), col("__bstar") + 1))
          .otherwise(col("__vmax")).as("__ans"),
        when(col("__bstar") >= 1,
          element_at(col("__splits"),
            least(col("__bstar"), lit(nSplits)))).as("__prev")): _*)
    clean
      .join(broadcast(chosen), groupCols)
      .groupBy(g :+ col("__ans") :+ col("__prev"): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(weightCol).cast(dec)).as("__totw"),
        sum(when(v <= col("__ans"), col(weightCol).cast(dec))
          .otherwise(lit(0).cast(dec))).as("__wle"),
        sum(when(col("__prev").isNotNull && v <= col("__prev"),
          col(weightCol).cast(dec)).otherwise(lit(0).cast(dec))).as("__wprev"))
      .select(g ++ Seq(
        // the selected value rides along for API callers; driver rows
        // project it away (a sketch element — never hashed)
        col("__ans").as("approx_value"),
        col("n"),
        col("__totw").cast("double").as("tot_w"),
        (col("__wle") * 100 >= col("__totw") * qPct).as("reached"),
        (col("__prev").isNull || col("__wprev") * 100 < col("__totw") * qPct)
          .as("prev_short")): _*)
  }

  /** Two-cohort QQ table (B154) — type-1 (SELECTION) quantiles of two
    * groups side by side at the given percentage points: per cohort,
    * the r-th smallest value with r = (q·n + 99) div 100 (exact-int
    * ceiling of q·n/100), found as min value whose cumulative spine
    * count reaches r. The cumulative counts ride
    * [[graft.operators.stats.RankedSpine.exclusivePrefix]] over the
    * grouped value spine (never an unpartitioned row-grain window —
    * the B23 scale rule); the q fan-out is a 9-row generator against
    * the AGGREGATED spine. Selections are actual elements (no
    * interpolation), so `v_a`/`v_b` cast to double exactly and
    * `qq_ratio` is ONE division — everything hashes UNROUNDED.
    * `valueCol` must be orderable-exact (decimal/int/date — the
    * Quantiles atomic-type contract).
    */
  def qqTable(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String,
      qs: Seq[Int] = (1 to 9).map(_ * 10)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 99),
      s"qs must be in [1,99], got $qs")
    val c = df
      .where(col(groupCol).isInCollection(Seq(groupA, groupB)) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).as("v"))
    // pin the spine ONCE (r17-opt): the prefix machinery and the
    // per-cohort totals otherwise each re-run the scan + spine agg
    val sp = c.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val pre = graft.operators.stats.RankedSpine
      .exclusivePrefix(sp, Seq("g"), "v", Seq("cnt" -> "bc"),
        prePinned = true)
      .withColumn("cum", col("bc") + col("cnt"))
    val n = sp.groupBy("g").agg(sum(col("cnt")).as("n"))
    val sel = pre.join(n, "g")
      .select(col("g"), col("v"), col("cum"), col("n"),
        explode(array(qs.map(q => lit(q)): _*)).as("q"))
      .where(col("cum") >= expr("(q * n + 99) div 100"))
      .groupBy("g", "q").agg(min(col("v")).as("sel_v"))
    sel.groupBy("q").agg(
        max(when(col("g") === groupA, col("sel_v"))).as("__va"),
        max(when(col("g") === groupB, col("sel_v"))).as("__vb"))
      .select(col("q"),
        col("__va").cast("double").as("v_a"),
        col("__vb").cast("double").as("v_b"),
        (col("__va").cast("double") / col("__vb").cast("double")).as("qq_ratio"))
  }
}
