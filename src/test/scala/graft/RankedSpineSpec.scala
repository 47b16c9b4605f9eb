package graft

import graft.operators.SmallInput
import graft.operators.stats.RankedSpine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed exclusive-prefix primitive behind the doubled-rank
  * statistic family (r13 verdict item 1): exact parity with the
  * single-task global-window formulation it replaced, across shuffle
  * partition counts (including partition boundaries that cut groups)
  * AND across the r15 small-spine auto-degrade (both the degraded
  * window path and the forced distributed path must produce the same
  * integers), plus the plan pins — the distributed path carries NO
  * unpartitioned window over a continuous-value spine, the degraded
  * path carries NO range/pid machinery, and the PlanSpec detector that
  * enforces the former catalog-wide is proven NON-vacuous against the
  * old shape here.
  */
class RankedSpineSpec extends SparkSpecBase {
  import spark.implicits._

  /** The historical single-task reference: exclusive running sum over
    * the (group-wise) spine via an in-memory sort — ground truth.
    */
  private def reference(
      rows: Seq[(String, Long, Long, Long)]): Map[(String, Long), (Long, Long)] =
    rows.groupBy(_._1).flatMap { case (grp, rs) =>
      val sorted = rs.sortBy(_._2)
      val prefA = sorted.scanLeft(0L)(_ + _._3).init
      val prefB = sorted.scanLeft(0L)(_ + _._4).init
      sorted.zip(prefA.zip(prefB)).map { case ((g, s, _, _), pre) => (g, s) -> pre }
    }

  private def cellsDf(rows: Seq[(String, Long, Long, Long)]): DataFrame =
    rows.toDF("g", "s", "ca", "cb")

  // deterministic synthetic spine: 3 groups x 200 distinct values with
  // irregular counts — enough rows that every partition count in the
  // sweep below actually splits groups across partition boundaries
  private val rows: Seq[(String, Long, Long, Long)] = for {
    gi <- 0 until 3
    v <- 0 until 200
  } yield (s"g$gi", v.toLong * 3 + gi, (v % 7 + 1).toLong, (v % 5).toLong)

  test("grouped exclusive prefix == single-task reference at every partition count, BOTH paths") {
    val want = reference(rows)
    // sweep includes 1 (degenerate single partition), a count that cuts
    // every group, and more partitions than the default; threshold 0
    // forces the distributed path, the default degrades (600 rows < 2M)
    for (parts <- Seq(1, 3, 7, 32, 64); thr <- Seq("0", SmallInput.Default.toString)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s.conf.set(SmallInput.Conf, thr)
      import s.implicits._
      val df = rows.toDF("g", "s", "ca", "cb")
      val got = RankedSpine
        .exclusivePrefix(df, Seq("g"), "s", Seq("ca" -> "pa", "cb" -> "pb"))
        .select("g", "s", "pa", "pb")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == want, s"mismatch at shuffle.partitions=$parts threshold=$thr")
    }
  }

  test("prePinned=true (caller-checkpointed cells) == reference on BOTH paths") {
    val want = reference(rows)
    for (thr <- Seq("0", SmallInput.Default.toString)) {
      val s = spark.newSession()
      s.conf.set(SmallInput.Conf, thr)
      import s.implicits._
      val df = rows.toDF("g", "s", "ca", "cb").localCheckpoint(true)
      val got = RankedSpine
        .exclusivePrefix(df, Seq("g"), "s", Seq("ca" -> "pa", "cb" -> "pb"),
          prePinned = true)
        .select("g", "s", "pa", "pb")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == want, s"prePinned mismatch at threshold=$thr")
    }
  }

  test("global (no-group) prefix == single-task reference on BOTH paths; first row gets 0") {
    val flat = rows.map { case (_, s, ca, cb) => ("all", s * 7 + ca, ca, cb) }
    val want = reference(flat)
    for (thr <- Seq("0", SmallInput.Default.toString)) {
      val s = spark.newSession()
      s.conf.set(SmallInput.Conf, thr)
      import s.implicits._
      val got = RankedSpine
        .exclusivePrefix(
          flat.map { case (_, sp, ca, cb) => (sp, ca, cb) }.toDF("s", "ca", "cb"),
          Nil, "s", Seq("ca" -> "pa", "cb" -> "pb"))
        .select("s", "pa", "pb")
        .collect()
        .map(r => ("all", r.getLong(0)) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(got == want, s"mismatch at threshold=$thr")
      val minS = flat.map(_._2).min
      assert(got(("all", minS)) == ((0L, 0L)), "spine minimum must prefix to 0")
    }
  }

  test("empty input stays empty (downstream aggs see the historical shape)") {
    val empty = Seq.empty[(String, Long, Long, Long)].toDF("g", "s", "ca", "cb")
    assert(RankedSpine.exclusivePrefix(empty, Seq("g"), "s", Seq("ca" -> "pa"))
      .collect().isEmpty)
  }

  test("non-LONG sum columns are rejected (decimal/double partial sums would be order-visible)") {
    val df = Seq((1L, 1.5)).toDF("s", "c")
    intercept[IllegalArgumentException] {
      RankedSpine.exclusivePrefix(df, Nil, "s", Seq("c" -> "p"))
    }
  }

  test("reserved __rs_ input columns are rejected (would silently corrupt prefixes)") {
    val df = Seq((1L, 1L, 2L)).toDF("s", "c", "__rs_pid")
    intercept[IllegalArgumentException] {
      RankedSpine.exclusivePrefix(df, Nil, "s", Seq("c" -> "p"))
    }
  }

  // --- plan pins ---------------------------------------------------

  /** An isolated session with the auto-degrade disabled — the
    * distributed path is the shape under pin (tiny spec inputs would
    * otherwise always degrade).
    */
  private def distributedSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set(SmallInput.Conf, "0")
    s
  }

  /** The PlanSpec detector, reproduced: empty-partition-spec WindowExec
    * whose nearest Aggregate below groups by a fractional key.
    */
  private def valueSpineWindows(
      p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    def kids(x: SparkPlan): Seq[SparkPlan] = x match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def fractionalSpineBelow(x: SparkPlan): Boolean = x match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.exists(_.dataType match {
          case DoubleType | FloatType | _: DecimalType => true
          case _ => false
        })
      case other => kids(other).exists(fractionalSpineBelow)
    }
    def walk(x: SparkPlan): Int = {
      val here = x match {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty && fractionalSpineBelow(w.child) => 1
        case _ => 0
      }
      here + kids(x).map(walk).sum
    }
    walk(p)
  }

  test("detector non-vacuity: the OLD single-task shape trips it; the distributed RankedSpine shape does not") {
    // the pre-r14 mannWhitney formulation in miniature: a global window
    // over an aggregate keyed by a DECIMAL value column
    val s = distributedSession()
    import s.implicits._
    val vals = Seq(("a", BigDecimal(1.5)), ("b", BigDecimal(2.5)), ("a", BigDecimal(1.5)))
      .toDF("g", "v")
    val cells = vals.groupBy(col("v").as("s")).agg(count(lit(1)).as("cnt"))
    val old = cells.withColumn("bef",
      coalesce(sum(col("cnt")).over(
        Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    old.collect()
    assert(valueSpineWindows(old.queryExecution.executedPlan) > 0,
      "the detector must flag the historical global-window-over-decimal-spine shape")
    val neu = RankedSpine.exclusivePrefix(cells, Nil, "s", Seq("cnt" -> "bef"))
    neu.collect()
    assert(valueSpineWindows(neu.queryExecution.executedPlan) == 0,
      "the distributed RankedSpine plan must carry no unpartitioned value-spine window")
  }

  test("auto-degrade: small spine takes the window path (no range/pid machinery), counted bound") {
    // default threshold — the 3-row spine degrades; the plan must carry
    // NO __rs_pid machinery (the whole point: skip the distributed
    // constant below the crossover), and the window's input is the
    // pinned checkpoint, whose row count the preflight bounded
    val cells = Seq((1.5, 2L), (2.5, 1L), (3.5, 4L)).toDF("s", "cnt")
    val deg = RankedSpine.exclusivePrefix(cells, Nil, "s", Seq("cnt" -> "bef"))
    deg.collect()
    val p = deg.queryExecution.executedPlan.toString
    assert(!p.contains("__rs_pid"), s"degraded plan must carry no pid machinery:\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(2000))
    // and the values are the distributed path's values exactly
    val s2 = distributedSession()
    val cells2 = {
      import s2.implicits._
      Seq((1.5, 2L), (2.5, 1L), (3.5, 4L)).toDF("s", "cnt")
    }
    val dist = RankedSpine.exclusivePrefix(cells2, Nil, "s", Seq("cnt" -> "bef"))
      .select("s", "bef").collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val degM = deg.select("s", "bef").collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(degM == dist)
    assert(degM == Map(1.5 -> 0L, 2.5 -> 2L, 3.5 -> 3L))
  }

  test("max-per-group degrade decision boundary: total above threshold degrades when the largest group fits; one large group goes distributed") {
    // the r16 62899f7 branch flip, pinned AT the boundary (ADVICE r16):
    // with the threshold lowered to 100, 3 groups x 60 rows (total 180 >
    // 100, max 60 <= 100) must take the WINDOW path — the wall the
    // preflight guards is one group's rows in one task — while a single
    // 150-row group (max 150 > 100) must take the DISTRIBUTED path
    val s = spark.newSession()
    s.conf.set(SmallInput.Conf, "100")
    import s.implicits._
    val even = (for (gi <- 0 until 3; v <- 0 until 60)
      yield (s"g$gi", v.toLong * 2, (v % 3 + 1).toLong)).toDF("g", "s", "cnt")
    val deg = RankedSpine.exclusivePrefix(even, Seq("g"), "s", Seq("cnt" -> "bef"))
    deg.collect()
    val degPlan = deg.queryExecution.executedPlan.toString
    assert(!degPlan.contains("__rs_pid"),
      s"3x60 (max <= threshold) must degrade to the window path:\n${degPlan.take(2000)}")
    val big = (for (v <- 0 until 150)
      yield ("g0", v.toLong, (v % 3 + 1).toLong)).toDF("g", "s", "cnt")
    val dist = RankedSpine.exclusivePrefix(big, Seq("g"), "s", Seq("cnt" -> "bef"))
    dist.collect()
    val distPlan = dist.queryExecution.executedPlan.toString
    assert(distPlan.contains("__rs_pid"),
      s"one 150-row group (max > threshold) must take the distributed path:\n${distPlan.take(2000)}")
    // and both paths' integers agree with the in-memory reference
    val refEven = reference((for (gi <- 0 until 3; v <- 0 until 60)
      yield (s"g$gi", v.toLong * 2, (v % 3 + 1).toLong, 0L)))
    val gotEven = deg.select("g", "s", "bef").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotEven == refEven.map { case (k, (a, _)) => k -> a })
    val refBig = reference((for (v <- 0 until 150)
      yield ("g0", v.toLong, (v % 3 + 1).toLong, 0L)))
    val gotBig = dist.select("g", "s", "bef").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotBig == refBig.map { case (k, (a, _)) => k -> a })
  }

  test("mannWhitney distributed plan: every window is partitioned (pid-sliced), none global over the spine") {
    val s = distributedSession()
    import s.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0), ("a", 3.5))
      .toDF("g", "v")
    val mw = graft.operators.stats.Stats.mannWhitney(df, "g", "v", "a", "b")
    mw.collect()
    assert(valueSpineWindows(mw.queryExecution.executedPlan) == 0)
  }

  test("remaining spine consumers' DISTRIBUTED shapes: kruskal/cliffs/wilcoxon/ks/moods carry no global value-spine window") {
    // ADVICE r15: the folded PlanSpec sweep executes the catalog with
    // the auto-degrade ACTIVE (spec-scale spines always sit under the
    // threshold), so the catalog-wide detector only ever sees degraded
    // checkpoint-window plans for this family — the forced-distributed
    // shapes must be asserted here, per consumer, like mannWhitney.
    import graft.operators.stats.{Drift, Stats}
    val s = distributedSession()
    import s.implicits._
    val two = Seq(("a", 1.5), ("a", 2.5), ("b", 2.5), ("b", 3.5), ("a", 4.5))
      .toDF("g", "v")
    val multi = two.unionAll(Seq(("c", 0.5), ("c", 2.5)).toDF("g", "v"))
    val diffs = Seq(1.5, -2.5, 2.5, 3.0, -1.5).toDF("d")
    val plans = Seq(
      "kruskalWallis" -> Stats.kruskalWallis(multi, "g", "v"),
      "cliffsDelta" -> Stats.cliffsDelta(two, "g", "v", "a", "b"),
      "wilcoxonSignedRank" -> Stats.wilcoxonSignedRank(diffs, "d"),
      "ksTwoSample" -> Drift.ksTwoSample(two, "g", "v", "a", "b"),
      "moodsMedian" -> Stats.moodsMedian(multi, "g", "v"))
    plans.foreach { case (name, q) =>
      q.collect()
      assert(valueSpineWindows(q.queryExecution.executedPlan) == 0,
        s"$name distributed plan carries an unpartitioned value-spine window")
    }
  }

  /** Grouped plan pin (r13 verdict item 3): any window ORDERED BY the
    * named spine column must be PARTITIONED BY the RankedSpine range
    * partition id — a window partitioned only by the group columns
    * would put one huge group's spine back into one task. Pinned on the
    * DISTRIBUTED path (the degraded path's group windows are bounded by
    * the counted preflight and carry no pid by design).
    */
  private def spineWindowsWithoutPid(
      p: org.apache.spark.sql.execution.SparkPlan,
      spineNames: Set[String]): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    def kids(x: SparkPlan): Seq[SparkPlan] = x match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def refs(e: org.apache.spark.sql.catalyst.expressions.Expression): Set[String] =
      e.references.map(_.name).toSet
    def walk(x: SparkPlan): Int = {
      val here = x match {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.orderSpec.exists(o => refs(o.child).intersect(spineNames).nonEmpty) &&
              !w.partitionSpec.exists(p => refs(p).contains("__rs_pid")) => 1
        case _ => 0
      }
      here + kids(x).map(walk).sum
    }
    walk(p)
  }

  test("grouped variants: roc-auc, gini and spearman DISTRIBUTED spine windows are all pid-partitioned") {
    import graft.operators.stats.Stats
    val s = distributedSession()
    import s.implicits._
    val scored = Seq(("s1", 1L, true), ("s1", 2L, false), ("s1", 2L, true),
      ("s2", 3L, true), ("s2", 1L, false)).toDF("g", "score", "lbl")
    val auc = Stats.rocAucByGroup(scored, Seq("g"), "score", col("lbl"))
    auc.collect()
    assert(spineWindowsWithoutPid(auc.queryExecution.executedPlan, Set("__s")) == 0)

    val sized = Seq(("s1", 3L, "e1"), ("s1", 5L, "e2"), ("s2", 2L, "e3"))
      .toDF("g", "sz", "ent")
    val gini = Stats.giniByGroup(sized, Seq("g"), "sz", "ent")
    gini.collect()
    assert(spineWindowsWithoutPid(gini.queryExecution.executedPlan, Set("__s")) == 0)

    val xy = Seq(("k1", 1.0, 2.0), ("k1", 2.0, 3.0), ("k1", 3.0, 1.0),
      ("k2", 1.0, 1.0), ("k2", 2.0, 2.0)).toDF("g", "x", "y")
    val rho = Stats.spearmanByGroup(xy, Seq("g"), "x", "y")
    rho.collect()
    assert(spineWindowsWithoutPid(rho.queryExecution.executedPlan, Set("x", "y")) == 0)
  }
}
