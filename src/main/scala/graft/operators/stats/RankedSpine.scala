package graft.operators.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.SmallInput

/** Distributed exclusive prefix sums over an aggregated value spine —
  * the shared primitive behind the doubled-rank statistic family
  * ([[Stats.mannWhitney]], [[Stats.cliffsDelta]],
  * [[Stats.wilcoxonSignedRank]], [[Stats.kruskalWallis]],
  * [[Stats.rocAucByGroup]], [[Stats.giniByGroup]],
  * [[Stats.spearmanByGroup]], `Drift.ksTwoSample`).
  *
  * The naive formulation is `sum(cnt) OVER (ORDER BY value)` with no
  * PARTITION BY: for a continuous value column the aggregated spine is
  * O(distinct values) ≈ O(N), and an unpartitioned window moves ALL of
  * it through ONE task — right answer, single-task plan at 100×. This
  * is the TeraSort composition of the two in-house primitives
  * (`Quantiles.orderStatisticsBy`'s pinned range split and
  * `Packing.assignShards`' exclusive per-partition offsets), kept fully
  * distributed:
  *
  *  1. range-partition the spine on (groupCols…, spineCol) and PIN the
  *     partitioning (`localCheckpoint` — the range partitioner samples,
  *     so the offset table is only valid against the exact partitions
  *     it was computed from; the `assignShards` rule);
  *  2. one partial agg to (partition, group) sums — ≤ numShufflePartitions
  *     rows per group — then the exclusive cross-partition offset via a
  *     window over THAT bounded table (partitioned by group, ordered by
  *     partition id: each group sees ≤ numShufflePartitions rows);
  *  3. per-(partition, group) running sums + the broadcast/joined offset
  *     = the exact global exclusive prefix. No task ever sees more than
  *     one range partition of the spine.
  *
  * Determinism: all summed columns are exact integral LONGs, so partial
  * sums are associative-exact — the result is INDEPENDENT of where the
  * range partitioner happened to split (only internal consistency is
  * needed, which the checkpoint guarantees). The refactor from the
  * global-window form is therefore bit-neutral: identical integers in,
  * identical integers out.
  *
  * Scale contracts:
  *  - `groupCols` empty (global spine): the offset table is
  *    ≤ numShufflePartitions rows and is BROADCAST.
  *  - `groupCols` non-empty: the offset table is ≤ partitions × groups
  *    rows and joins by (partition, group) key — NOT forced broadcast,
  *    so high-cardinality groups (the spearman-by-customer regime) stay
  *    executor-side; AQE may still broadcast a small one.
  *  - spine rows must be unique on (groupCols…, spineCol) — the output
  *    of the groupBy that built the spine — so the within-partition
  *    ordering is total without a tiebreak column.
  *
  * Small-spine degrade (the [[graft.operators.SmallInput]] gate, conf
  * `spark.graft.smallInputRows`): below a few hundred thousand spine
  * rows the distributed prefix's constant cost (checkpoint + two slim
  * shuffles + offset join) exceeds the single-task window it avoids.
  * So by default the spine cells are `localCheckpoint`-PINNED once (the
  * spine-aggregate lineage runs a single time) and the pin is counted:
  * the TOTAL for global spines, the LARGEST PER-GROUP spine for grouped
  * ones (the wall the degrade guards is one window task's input, which
  * is one group's rows; the grouped preflight is one slim group-grain
  * agg over the pin). At or below `SmallInput.threshold` the prefix
  * runs as the window over the pin — bounded by the counted preflight.
  * (Partition-level caveat: a window task's input is a hash PARTITION,
  * not a group — hash co-location can land several small groups in one
  * task, so "each task sorts at most max-per-group rows" holds only up
  * to that co-location. The degrade is still sound in the
  * many-small-groups regime because the group-partitioned window
  * parallelizes exactly like the distributed path's within-partition
  * window — the wall the preflight guards is one LARGE group
  * serializing a task, which max-per-group does bound.) Above the
  * threshold the distributed path runs, reading the pin (which spares
  * `repartitionByRange`'s sampling pass from re-evaluating the lineage,
  * at the cost of one extra spine materialization). BOTH paths fold the
  * same exact integral LONGs in the same per-group spine order, so the
  * choice is bit-invisible (the §5 determinism argument). The 500k
  * default sits below the measured crossover (ProfileRankedSpine: a
  * ~1.9M-row spine is faster distributed). Conf 0 skips the preflight
  * and forces the distributed path unconditionally (the plan-pin specs
  * and the growth profiler do this; ALSO the right setting at cluster
  * scale when the spine is known corpus-sized, where pinning the whole
  * spine before range-splitting it doubles the spine materializations).
  * The distributed plan stays the documented contract at scale — the
  * degrade is a bounded local optimization, never a semantics change.
  */
object RankedSpine {

  /** Adds one exclusive-prefix column per `(input, output)` pair in
    * `sums` to `cells`: `output` = the sum of `input` over all spine
    * rows of the same group with a STRICTLY smaller `spineCol`, 0 for
    * the group's first row (the `coalesce(sum over (rows between
    * unbounded preceding and -1)), 0)` contract, distributed).
    *
    * Input contract: every `input` column is LONG (exact integral
    * counts — decimal/double sums would make partial-sum order
    * observable); `spineCol` and `groupCols` non-null and orderable
    * atomic (the Quantiles rule); `cells` unique on
    * (groupCols…, spineCol).
    */
  def exclusivePrefix(
      cells: DataFrame,
      groupCols: Seq[String],
      spineCol: String,
      sums: Seq[(String, String)],
      prePinned: Boolean = false): DataFrame = {
    require(sums.nonEmpty, "at least one (input, output) sum pair")
    sums.foreach { case (in, _) =>
      val dt = cells.schema(in).dataType
      require(dt == org.apache.spark.sql.types.LongType,
        s"prefix column $in must be LONG (exact integral), got $dt")
    }
    // the implementation injects reserved __rs_* working columns; a
    // caller whose cells already carry one would get silently wrong
    // prefixes (withColumn replacement / ambiguous join), not an error
    val reserved = cells.columns.filter(_.startsWith("__rs_"))
    require(reserved.isEmpty,
      s"input columns may not start with __rs_ (reserved): ${reserved.mkString(", ")}")
    val spark = cells.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val g = groupCols.map(col)
    val threshold = SmallInput.threshold(spark)
    // preflight: pin the cells ONCE (the spine-aggregate lineage runs a
    // single time, into the checkpoint) and count the pin (~free). Both
    // paths below reuse the pin:
    //  - small spine: the legacy window over the pin — ONE task per
    //    group (or one task globally), bounded by the counted preflight;
    //    the pin also keeps the degraded plan structurally distinct from
    //    the unbounded single-task shape PlanSpec's fractional-spine
    //    detector exists to catch (the window's input is a bounded
    //    checkpoint scan, not an open aggregate).
    //  - big spine: the distributed path reads the pin instead of
    //    re-evaluating the lineage for repartitionByRange's sampling
    //    pass; the second (post-range) checkpoint stays, because the
    //    offset table is only valid against the exact range partitions.
    // Identical integral sums in identical per-group spine order ⇒ the
    // two paths are bit-identical. conf 0 skips the preflight entirely.
    // prePinned: a caller that already holds `cells` as a
    // localCheckpoint (or another cheap-to-re-evaluate materialization
    // it shares with its OWN follow-up passes — the kruskal/moods/ks
    // totals) sets prePinned=true and the preflight skips the second
    // checkpoint: re-pinning an already-pinned frame copies the whole
    // spine again (one extra job + storage) for nothing. Values are
    // unaffected either way — the pin only fixes WHERE the lineage
    // evaluates, never what it produces.
    val pinned =
      if (threshold > 0 && !prePinned) cells.localCheckpoint(true) else cells
    // the wall the degrade guards against is ONE WINDOW TASK's input —
    // the largest per-group spine, not the total: the window below is
    // partitioned by group, so 3 even groups of 196k rows sort as 3
    // parallel ≤196k tasks, inside the measured crossover. Global
    // spines (no groups) keep the plain count; the grouped preflight is
    // one slim group-grain agg over the pin.
    val spineRows: Long =
      if (threshold <= 0) Long.MaxValue
      else if (groupCols.isEmpty) pinned.count()
      else pinned.groupBy(g: _*).agg(count(lit(1)).as("__rs_n"))
        .agg(coalesce(max(col("__rs_n")), lit(0L))).head().getLong(0)
    if (threshold > 0 && spineRows <= threshold) {
      val w = Window.partitionBy(g: _*).orderBy(col(spineCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      return sums.foldLeft(pinned) { case (d, (in, out)) =>
        d.withColumn(out, coalesce(sum(col(in)).over(w), lit(0L)))
      }
    }
    val ranged = pinned
      .repartitionByRange(parts, (g :+ col(spineCol)): _*)
      .withColumn("__rs_pid", spark_partition_id())
      .localCheckpoint(true)
    val pidSums = ranged
      .groupBy((col("__rs_pid") +: g): _*)
      .agg(
        sum(col(sums.head._1)).as(s"__rs_s_${sums.head._1}"),
        sums.tail.map { case (in, _) => sum(col(in)).as(s"__rs_s_$in") }: _*)
    // exclusive cross-partition offset: a window over the BOUNDED
    // (partition, group) table — ≤ numShufflePartitions rows per group
    val wOff = Window.partitionBy(g: _*).orderBy(col("__rs_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums.foldLeft(pidSums) { case (d, (in, _)) =>
      d.withColumn(s"__rs_off_$in",
        coalesce(sum(col(s"__rs_s_$in")).over(wOff), lit(0L)))
    }.select((col("__rs_pid") +: g) ++
      sums.map { case (in, _) => col(s"__rs_off_$in") }: _*)
    val offSide = if (groupCols.isEmpty) broadcast(offsets) else offsets
    // within-partition exclusive running sum + the partition's offset
    val wIn = Window.partitionBy((col("__rs_pid") +: g): _*)
      .orderBy(col(spineCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val joined = ranged.join(offSide, "__rs_pid" +: groupCols)
    val withPrefix = sums.foldLeft(joined) { case (d, (in, out)) =>
      d.withColumn(out,
        coalesce(sum(col(in)).over(wIn), lit(0L)) + col(s"__rs_off_$in"))
    }
    withPrefix.drop(
      ("__rs_pid" +: sums.map { case (in, _) => s"__rs_off_$in" }): _*)
  }
}
