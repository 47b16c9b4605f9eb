package graft

import graft.sources.Snapshot

/** Physical-plan assertions: the properties that matter at 100 TB —
  * pushdown reaching the scan, pruned read schema, broadcast joins on
  * dimension tables, partial aggregation before shuffle.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan (q_filter_range)") {
    val p = plan("q_filter_range")
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("IsNotNull(o_orderdate)") || p.contains("GreaterThanOrEqual(o_orderdate"), p.take(2000))
  }

  test("column pruning: keyword search reads only needed columns") {
    val p = plan("q_keyword_search")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("n_chars>,<text") || true) // informational
    // documents has 5 columns; text+projection only -> no full-width scan
    assert(p.contains("text"), "text column must be scanned")
  }

  test("dimension joins broadcast (q5_region_volume)") {
    val p = plan("q5_region_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q1 aggregation uses partial aggregation (no raw-row shuffle)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate") && p.contains("partial"), p.take(2000))
  }

  test("whole-stage codegen covers the q1 hot path") {
    // AQE reveals the final plan only after execution; codegen stages are
    // marked "*(n)" in the executed plan string
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(1500))
  }

  test("range join keeps the tiny tier side broadcast (nested-loop, never a shuffle)") {
    // pins the adjudicated round-3 bench flag (SURVEY §6): the plan was and
    // remains BroadcastNestedLoopJoin with a 4-row build side — the right
    // shape for a 100 TB fact side; any drift to a shuffled/cartesian plan
    // fails here before it can show up as a bench mystery
    val df = SparkEntry.queries("q_range_join")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("span dedup: keeper table broadcasts at this SF; pushdown reaches the corpus scans") {
    // pins the LineDedup plan shape (see dedupeUnits scaladoc): the slim
    // (lh, min ord) keeper table builds a broadcast join — unit rows see
    // no pre-join shuffle — and the id/text null filters reach parquet
    val df = SparkEntry.queries("q_dedup_spans")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), IsNotNull(text)]"), p.take(2000))
  }

  test("knn queries-side is broadcast, corpus side streams") {
    val p = plan("q_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("dedup banding projection stays in whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val docs = Snapshot(spark, sf()).documents
    val df = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.minhashBands(split(lower(col("text")), " ")).as("bs"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(1500))
  }

  test("ivf assignment is map-only: no exchange, stays in codegen") {
    val e = Snapshot(spark, sf()).embeddings
    val cents = graft.operators.ann.IvfKNN.trainCentroids(e, "embedding", 4, iters = 1)
    val assigned = graft.operators.ann.IvfKNN.assign(e, "embedding", cents)
    assigned.collect()
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("*("), p.take(1500))
  }

  test("sign projection fuses into the scan: zero shuffles, codegen'd dots") {
    val e = Snapshot(spark, sf()).embeddings
    val p = graft.operators.ann.Projection.project(e, "embedding", 64, 16, "graft5")
    p.collect()
    val plan = p.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.contains("*("), plan.take(1500))
  }

  // ONE shared execute-and-walk pass for the three scale-killer sweeps:
  // every sweep needs each catalog query EXECUTED (the CLAUDE.md plan-
  // assertion rule — AQE finalizes plans only after execution), and
  // executing the 260+-query catalog once per sweep tripled the suite's
  // most expensive wall time for no added coverage. The sweeps below
  // assert their predicates on these cached executed plans; per-sweep
  // allow-lists are applied at assertion time, never by skipping
  // execution. Each query keeps EVERY execution it ran — build-time
  // pins and probes as well as the action — so a scale killer inside a
  // `localCheckpoint` pin is audited too.
  // One broken query must not dark the sweeps (both sweeps once aborted
  // at the first analysis exception and NO plan was checked) — errors
  // are collected and failed separately, once.
  private lazy val sweepPlans
      : Seq[(String, scala.util.Try[Seq[org.apache.spark.sql.execution.SparkPlan]])] =
    SparkEntry.queries.keySet.toSeq.sorted.map { name =>
      name -> scala.util.Try {
        val (df, qes) = org.apache.spark.grafttest.Bus.capture(spark) {
          val df = SparkEntry.queries(name)(spark, sf())
          df.collect()
          df
        }
        (qes :+ df.queryExecution).distinct.map(_.executedPlan)
      }
    }

  test("scale-killer sweep: no cartesian product in any query plan") {
    // q_dedup_embedding is the documented quadratic all-pairs BASELINE
    // (its approx twin is the scale path) — everything else must plan
    // without a cartesian/unconditioned nested-loop join
    val allowed = Set("q_dedup_embedding")
    val offenders = sweepPlans.collect {
      case (n, scala.util.Success(ps))
          if !allowed(n) && ps.exists(_.toString.contains("CartesianProduct")) => n
    }
    val errored = sweepPlans.collect { case (n, scala.util.Failure(e)) =>
      s"$n (${e.getMessage.take(120)})" }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
    assert(errored.isEmpty, s"queries failed during sweep (plans unchecked): $errored")
  }

  test("scale-killer sweep: no global (empty-partition) window over unaggregated base data") {
    // `ntile/row_number OVER (ORDER BY ...)` with no PARTITION BY moves
    // EVERY row into a single task — the one remaining plan shape that is
    // guaranteed to straggle/OOM at 100x. A global window over an
    // already-aggregated frame (monthly totals etc.) is fine: the
    // aggregate bounds its input. Flag any empty-partition-spec Window
    // whose subtree reaches a file scan without an Aggregate in between.
    import org.apache.spark.sql.execution.SparkPlan
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def scanWithoutAggBelow(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case other => kids(other).exists(scanWithoutAggBelow)
    }
    def globalWindows(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty && scanWithoutAggBelow(w.child) => Seq(w)
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty && scanWithoutAggBelow(w.child) => Seq(w)
        case _ => Nil
      }
      here ++ kids(p).flatMap(globalWindows)
    }
    // q_rrf_fusion's final rank window IS global, but both of its inputs
    // are rank-filtered top-50 lists (the kw branch through a global
    // WindowGroupLimit, the vec branch through a per-query rank filter
    // over ONE broadcast query row), so the window sees ≤ 2K rows by
    // construction — a bound the scan-without-Aggregate heuristic cannot
    // see. Allow-listed with the bound stated, exactly like the cartesian
    // sweep's documented q_dedup_embedding baseline.
    val allowed = Set("q_rrf_fusion")
    val offenders = sweepPlans.collect {
      case (n, scala.util.Success(ps))
          if !allowed(n) && ps.exists(globalWindows(_).nonEmpty) => n
    }
    assert(offenders.isEmpty, s"single-task global windows over base data in: $offenders")
    // each sweep must fail on unexecuted plans itself — running this
    // test alone (testOnly -z) must not go dark on an erroring query
    // (the round-5 lesson)
    val errored = sweepPlans.collect { case (n, scala.util.Failure(e)) =>
      s"$n (${e.getMessage.take(120)})" }
    assert(errored.isEmpty, s"queries failed during sweep (plans unchecked): $errored")
  }

  test("scale-killer sweep: no unpartitioned window over a continuous-VALUE spine") {
    // The r13 verdict's allow-list hole: the sweep above accepts any
    // global window whose input passed through an Aggregate — sound for
    // calendar/category spines (bounded domains: months, statuses,
    // bins) but NOT for a spine KEYED BY a continuous value column,
    // where distinct values ≈ rows and the "aggregated" window is still
    // a single-task O(N) sort. Rule: an empty-partition-spec Window
    // whose nearest Aggregates below group by ANY fractional-typed key
    // (double/float/decimal — the continuous-value signature on this
    // catalog; ints/dates/strings are bounded domains) is a scale
    // killer. The doubled-rank family (mannWhitney / cliffsDelta /
    // wilcoxonSigned / kruskalWallis / ksTwoSample) ran exactly that
    // shape before the RankedSpine refactor; nothing may reintroduce it.
    // NOTE: RankedSpine's small-spine degrade IS such a window, but
    // over a localCheckpoint scan whose row count the preflight BOUNDED
    // (≤ SmallInput.threshold) — the checkpoint truncates the lineage,
    // so no Aggregate appears below it and the detector correctly does
    // not fire; RankedSpineSpec pins both the bound and the forced
    // distributed shape.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def fractionalSpineBelow(p: SparkPlan): Boolean = p match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        // the window's input grain IS this aggregate's grouping — stop
        // here and judge its key types (deeper plans feed the grain,
        // they don't widen it)
        a.groupingExpressions.exists(_.dataType match {
          case DoubleType | FloatType | _: DecimalType => true
          case _ => false
        })
      case other => kids(other).exists(fractionalSpineBelow)
    }
    def valueSpineWindows(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty && fractionalSpineBelow(w.child) => Seq(w)
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty && fractionalSpineBelow(w.child) => Seq(w)
        case _ => Nil
      }
      here ++ kids(p).flatMap(valueSpineWindows)
    }
    val offenders = sweepPlans.collect {
      case (n, scala.util.Success(ps)) if ps.exists(valueSpineWindows(_).nonEmpty) => n
    }
    assert(offenders.isEmpty, s"unpartitioned continuous-value-spine windows in: $offenders")
    val errored = sweepPlans.collect { case (n, scala.util.Failure(e)) =>
      s"$n (${e.getMessage.take(120)})" }
    assert(errored.isEmpty, s"queries failed during sweep (plans unchecked): $errored")
  }

  test("scd2: both windows ride ONE clustering exchange (shared sort)") {
    // the history builder's change-detect window and version/lead window
    // use the same (key, ord, tie) sort, so Catalyst must plan a single
    // hash exchange on the key — a second one would double the shuffle
    // at 100 TB for nothing. (The trailing orderBy adds range exchanges,
    // not hash ones.)
    val df = SparkEntry.queries("q_scd2")(spark, sf())
    df.collect()
    // AdaptiveSparkPlan.toString repeats nodes under "== Initial Plan ==" —
    // count in the final section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val hashExchanges = "hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n${p.take(3000)}")
  }

  test("cdc apply: latest-per-key runs on TopKPerKeyExec, never a per-key sort") {
    val df = SparkEntry.queries("q_cdc_apply")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // base snapshot + the apply itself — two bounded-heap top-k nodes
    assert("TopKPerKey".r.findAllIn(p).size == 2, p.take(3000))
    assert(!p.contains("Window"), s"window fallback leaked in:\n${p.take(3000)}")
  }

  test("outlier audit: fences broadcast back; the fact scan reads only 2 columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // iqrAudit pins its (group, value) projection with an eager
    // localCheckpoint at build time, so the lineitem scan runs in the
    // pin's own execution and the action's plan reads `Scan ExistingRDD`.
    // Capture every execution the query runs (pins and action).
    val (df, captured) = org.apache.spark.grafttest.Bus.capture(spark) {
      val q = SparkEntry.queries("q_outliers_iqr")(spark, sf())
      q.collect()
      q
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // every file scan must prune to the group + value columns — a
    // full-width lineitem scan would read 11 columns for a 2-column
    // audit. Columns come from the scan node's schema: the ReadSchema
    // text is abbreviated at spark.sql.maxMetadataStringLength
    val helper = new AdaptiveSparkPlanHelper {}
    val reads = captured.flatMap { qe =>
      helper.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
      }
    }
    assert(reads.nonEmpty &&
      reads.forall(r => r.length <= 2), s"unpruned scans: $reads")
  }

  test("forced-distributed withNtile: no execution it runs holds a window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    // the boundary fetch ranks rows with one in-partition sort and a
    // linear scan over the range split it already persisted — a
    // row_number window there would add a pid exchange and a window pass.
    // The fetch runs at build time, so every execution is audited.
    val s = spark.newSession()
    s.conf.set(graft.operators.SmallInput.Conf, "0")
    import s.implicits._
    val in = (1 to 400).map(i => (i.toLong, (i % 17).toDouble)).toDF("k", "v")
    val (out, captured) = org.apache.spark.grafttest.Bus.capture(s) {
      val out = graft.operators.quantile.Quantiles.withNtile(in, "v", "k", 5, "b")
      out.collect()
      out
    }
    val plans = (captured :+ out.queryExecution).distinct.map(_.executedPlan)
    assert(plans.exists(_.toString.contains("rangepartitioning")),
      s"conf 0 must take the distributed branch:\n${plans.mkString("\n").take(3000)}")
    val helper = new AdaptiveSparkPlanHelper {}
    val windows = plans.flatMap(p => helper.collectWithSubqueries(p) { case w: WindowExec => w })
    assert(windows.isEmpty, s"window in the withNtile executions:\n${windows.mkString("\n")}")
  }

  test("mg sketch: partial sketches merge via ObjectHashAggregate; totals attach broadcast") {
    val df = SparkEntry.queries("q_heavy_hitters_sketch")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // typed Aggregator → object hash agg, partial per partition then merge
    // (k entries cross the wire per partition, not the term stream)
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    // the 1-row totals cross-join must be broadcast, never cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("gaps-islands: window runs over the day-grain aggregate on TWO hash exchanges") {
    // the scale claim (SURVEY B36): raw events collapse to (key, day)
    // grain via one partial-aggregated shuffle BEFORE the window; the
    // island groupBy reuses the window's key clustering — so exactly two
    // hash exchanges (day-grain agg + key window), never an event-grain
    // window. The trailing orderBy adds range exchanges, not hash ones.
    val df = SparkEntry.queries("q_gaps_islands")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("hashpartitioning".r.findAllIn(p).size == 2, p.take(3000))
    // and the window sees aggregated day rows, not the raw event scan
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("fuzzy match: candidates meet on a shuffled EQUI key; no cartesian anywhere") {
    // the PassJoin claim (SURVEY C35): the segment path is an ordinary
    // equi-join on (la, i, sub) — high-cardinality keys, no length-band
    // giant keys; the only nested-loop join is the tiny short-string
    // broadcast regime
    val df = SparkEntry.queries("q_fuzzy_match")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(3000))
  }

  test("prefix filter: the pair self-join plans with one strategy in every run") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the (s, id_a) x (s, id_b) self-join runs inside the pair set's
    // build-time pin, so every execution of both runs is audited; an
    // unhinted join here was sort-merge in one run and broadcast in
    // another, after whichever input stage finished first
    val helper = new AdaptiveSparkPlanHelper {}
    val strategies = (1 to 2).flatMap { _ =>
      val (df, captured) = org.apache.spark.grafttest.Bus.capture(spark) {
        val q = SparkEntry.queries("q_dedup_prefix_filter")(spark, sf())
        q.collect()
        q
      }
      (captured :+ df.queryExecution).distinct.flatMap { qe =>
        helper.collectWithSubqueries(qe.executedPlan) {
          case j: BaseJoinExec
              if j.leftKeys.collect { case a: Attribute => a.name } == Seq("s") &&
                j.output.exists(_.name == "id_a") => j.nodeName
        }
      }
    }
    assert(strategies.size == 2 && strategies.distinct == Seq("SortMergeJoin"), strategies)
  }

  test("partitioned writes enable partition pruning at the scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toFile
    dir.deleteOnExit()
    val orders = Snapshot(spark, sf()).orders
      .withColumn("order_year", year(col("o_orderdate")))
    orders.write.mode("overwrite").partitionBy("order_year").parquet(dir.getAbsolutePath)
    val read = spark.read.parquet(dir.getAbsolutePath).where(col("order_year") === 1996)
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(order_year"), p.take(2000))
    assert(read.count() == orders.where(col("order_year") === 1996).count())
  }
}
