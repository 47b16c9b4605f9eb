package graft

import org.apache.spark.sql.functions._

import graft.operators.SmallInput
import graft.operators.quantile.Quantiles
import graft.sources.Snapshot

class QuantilesSpec extends SparkSpecBase {
  import spark.implicits._

  test("qqTable: hand-derived type-1 selections, duplicates, and missing-side NULL") {
    // a = 1..10 (r at q=50 -> (500+99)//100 = 5 -> 5th smallest = 5;
    // q=90 -> 9), b = 2,4,..,20 (q=50 -> 10; q=90 -> 18); duplicates in
    // c checked via a second call.
    val df = ((1 to 10).map(v => ("a", v.toLong)) ++
      (1 to 10).map(v => ("b", v.toLong * 2))).toDF("g", "v")
    val got = Quantiles.qqTable(df, "g", "v", "a", "b", Seq(50, 90))
      .orderBy("q").collect()
    assert(got.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq((50, 5.0, 10.0), (90, 9.0, 18.0)))
    assert(got.head.getDouble(3) == 5.0 / 10.0)
    // duplicated values collapse onto the spine but ranks still count
    // the multiset: {1,1,1,9} at q=50 -> r=2 -> 1; q=90 -> r=4 -> 9
    val dup = (Seq(1L, 1L, 1L, 9L).map(v => ("a", v)) ++
      Seq(5L).map(v => ("b", v))).toDF("g", "v")
    val got2 = Quantiles.qqTable(dup, "g", "v", "a", "b", Seq(50, 90))
      .orderBy("q").collect()
    assert(got2.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq((50, 1.0, 5.0), (90, 9.0, 5.0)))
  }

  test("withNtile matches the global-window ntile exactly") {
    val orders = Snapshot(spark, sf()).orders
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val viaWindow = orders
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .select("o_orderkey", "decile")
      .orderBy("o_orderkey").collect().toSeq
    val viaBounds = Quantiles
      .withNtile(orders, "o_totalprice", "o_orderkey", 10, "decile")
      .select("o_orderkey", "decile")
      .orderBy("o_orderkey").collect().toSeq
    assert(viaBounds == viaWindow)
  }

  test("withNtile handles more buckets than rows (degenerate ntile)") {
    val region = Snapshot(spark, sf()).region // 5 rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("r_regionkey"), col("r_regionkey"))
    val viaWindow = region
      .withColumn("b", ntile(10).over(w).cast("long"))
      .select("r_regionkey", "b").orderBy("r_regionkey").collect().toSeq
    val viaBounds = Quantiles
      .withNtile(region, "r_regionkey", "r_regionkey", 10, "b")
      .select("r_regionkey", "b").orderBy("r_regionkey").collect().toSeq
    assert(viaBounds == viaWindow)
  }

  test("withNtile equals the window ntile on randomized inputs (property sweep)") {
    // seeded sweep over sizes, bucket counts, and HEAVY value ties (the
    // tiebreak path) — the oracle only ever exercises one shape
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 6).foreach { i =>
      val nRows = 1 + rnd.nextInt(400)
      val nBuckets = 2 + rnd.nextInt(12)
      val spread = 1 + rnd.nextInt(8)
      val df = (1 to nRows).map(k => (k.toLong, rnd.nextInt(spread).toDouble)).toDF("k", "v")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("k"))
      val expect = df.withColumn("b", ntile(nBuckets).over(w).cast("long"))
        .select("k", "b").orderBy("k").collect().toSeq
      val got = Quantiles.withNtile(df, "v", "k", nBuckets, "b")
        .select("k", "b").orderBy("k").collect().toSeq
      assert(got == expect, s"case $i: rows=$nRows buckets=$nBuckets spread=$spread")
    }
  }

  test("withNtile orders native string values exactly as the window would") {
    // non-numeric ordering path: bucket documents by md5(text) — binary
    // string comparison on both the boundary fetch and the map-side assign
    import spark.implicits._
    val docs = Snapshot(spark, sf()).documents
      .select(col("doc_id"), md5(col("text")).as("h"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("h"), col("doc_id"))
    val expect = docs.withColumn("b", ntile(7).over(w).cast("long"))
      .select("doc_id", "b").orderBy("doc_id").collect().toSeq
    val got = graft.operators.quantile.Quantiles
      .withNtile(docs, "h", "doc_id", 7, "b")
      .select("doc_id", "b").orderBy("doc_id").collect().toSeq
    assert(got == expect)
  }

  /** Runs `body` once with the small-input degrade active (default conf)
    * and once with it disabled (conf 0 = the distributed shape), and
    * asserts both results equal — the r17 degrade's bit-identity pin.
    */
  private def assertDegradeParity[T](body: => T): (T, T) = {
    val key = SmallInput.Conf
    val orig = spark.conf.getOption(key)
    val degraded = { spark.conf.set(key, SmallInput.Default.toString); body }
    val distributed = { spark.conf.set(key, "0"); body }
    orig match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(degraded == distributed,
      s"degrade path diverged from distributed:\n$degraded\nvs\n$distributed")
    (degraded, distributed)
  }

  test("withNtile degrade == distributed == window on adversarial string ordering (UTF-8 vs UTF-16)") {
    import spark.implicits._
    // a supplementary-plane char (U+1F600, UTF-8 F0 9F 98 80) orders
    // ABOVE U+FFFF (EF BF BF) in UTF-8 byte order but BELOW it in
    // String.compareTo's UTF-16 units — a driver comparator using the
    // JVM natural order would pick different boundaries
    val df = Seq(
      (1L, "￿"), (2L, "😀"), (3L, ""), (4L, "z"),
      (5L, "é"), (6L, ""), (7L, "ascii"), (8L, "￿z"),
      (9L, "😀a"), (10L, "Z"), (11L, "zz"), (12L, "ࠀ")
    ).toDF("k", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("k"))
    val expect = df.withColumn("b", ntile(5).over(w).cast("long"))
      .select("k", "b").orderBy("k").collect().toSeq
    val (degraded, _) = assertDegradeParity {
      Quantiles.withNtile(df, "v", "k", 5, "b")
        .select("k", "b").orderBy("k").collect().toSeq
    }
    assert(degraded == expect)
  }

  test("withNtile degrade == distributed == window on ±0.0 / NaN / infinities") {
    import spark.implicits._
    // SQL float semantics: -0.0 == 0.0 (ties fall to the tiebreak key),
    // NaN orders LAST and equal to itself — java.lang.Double.compare
    // alone would order -0.0 below 0.0 and pick different boundaries
    val df = Seq(
      (1L, -0.0), (2L, 0.0), (3L, Double.NaN), (4L, -1.5), (5L, 1.5),
      (6L, Double.NegativeInfinity), (7L, Double.PositiveInfinity),
      (8L, 0.0), (9L, -0.0), (10L, Double.NaN), (11L, 2.5), (12L, -2.5)
    ).toDF("k", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("k"))
    val expect = df.withColumn("b", ntile(4).over(w).cast("long"))
      .select("k", "b").orderBy("k").collect().toSeq
    val (degraded, _) = assertDegradeParity {
      Quantiles.withNtile(df, "v", "k", 4, "b")
        .select("k", "b").orderBy("k").collect().toSeq
    }
    assert(degraded == expect)
  }

  test("withNtile degrade == distributed on decimals and timestamps (micros precision)") {
    import spark.implicits._
    val dec = Seq((1L, "2.50"), (2L, "2.500"), (3L, "-7.25"), (4L, "0.001"),
      (5L, "1000000.123456"), (6L, "-0.000001"))
      .toDF("k", "s").withColumn("v", col("s").cast("decimal(18,6)")).drop("s")
    assertDegradeParity {
      Quantiles.withNtile(dec, "v", "k", 3, "b")
        .select("k", "b").orderBy("k").collect().toSeq
    }
    val ts = Seq(
      (1L, "2024-01-01 00:00:00.000001"), (2L, "2024-01-01 00:00:00.000002"),
      (3L, "2023-12-31 23:59:59.999999"), (4L, "2024-01-01 00:00:00"),
      (5L, "1969-07-20 20:17:40.5"), (6L, "2024-06-01 12:00:00"))
      .toDF("k", "s").withColumn("v", col("s").cast("timestamp")).drop("s")
    assertDegradeParity {
      Quantiles.withNtile(ts, "v", "k", 3, "b")
        .select("k", "b").orderBy("k").collect().toSeq
    }
  }

  test("withNtileByGroup degrade == distributed == window, incl. ±0.0 double group keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = ((1 to 300).map { k =>
      (s"g${rnd.nextInt(5)}", rnd.nextInt(7).toDouble, k.toLong)
    } ++ Seq(("gx", 1.0, 1001L), ("gx", 2.0, 1002L))).toDF("g", "v", "k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("k"))
    val expect = df.withColumn("b", ntile(6).over(w).cast("long"))
      .select("k", "b").orderBy("k").collect().toSeq
    val (degraded, _) = assertDegradeParity {
      Quantiles.withNtileByGroup(df, "g", "v", "k", 6, "b")
        .select("k", "b").orderBy("k").collect().toSeq
    }
    assert(degraded == expect)
    // ±0.0 GROUP keys: SQL grouping normalizes them to ONE group; the
    // driver-side degrade must too (raw collected rows still carry -0.0)
    val zg = Seq((-0.0, 1.0, 1L), (0.0, 2.0, 2L), (-0.0, 3.0, 3L), (0.0, 4.0, 4L))
      .toDF("g", "v", "k")
    val wz = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("k"))
    val zExpect = zg.withColumn("b", ntile(2).over(wz).cast("long"))
      .select("k", "b").orderBy("k").collect().toSeq
    val (zDegraded, _) = assertDegradeParity {
      Quantiles.withNtileByGroup(zg, "g", "v", "k", 2, "b")
        .select("k", "b").orderBy("k").collect().toSeq
    }
    assert(zDegraded == zExpect)
  }

  test("withNtileByGroup distributed path raises on a non-driver-modest slice table") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (s"g$i", i.toDouble, i.toLong)).toDF("g", "v", "k")
    val origSmall = spark.conf.getOption(SmallInput.Conf)
    val origMax = spark.conf.getOption(Quantiles.MaxDriverSlicesConf)
    try {
      spark.conf.set(SmallInput.Conf, "0") // force distributed
      spark.conf.set(Quantiles.MaxDriverSlicesConf, "100")
      val e = intercept[IllegalArgumentException] {
        Quantiles.withNtileByGroup(df, "g", "v", "k", 4, "b").collect()
      }
      assert(e.getMessage.contains("slice table exceeds"), e.getMessage)
    } finally {
      origSmall.fold(spark.conf.unset(SmallInput.Conf))(
        spark.conf.set(SmallInput.Conf, _))
      origMax.fold(spark.conf.unset(Quantiles.MaxDriverSlicesConf))(
        spark.conf.set(Quantiles.MaxDriverSlicesConf, _))
    }
  }

  test("contract violations fail fast: nulls, non-orderable types, empty input") {
    import spark.implicits._
    val withNulls = Seq((1L, Some(2.0)), (2L, None), (3L, Some(1.0)))
      .toDF("k", "v")
    val eNull = intercept[Exception](
      Quantiles.withNtile(withNulls, "v", "k", 2, "b").collect())
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
    val arrayCol = Seq((1L, Seq(1.0))).toDF("k", "v")
    val eType = intercept[IllegalArgumentException](
      Quantiles.withNtile(arrayCol, "v", "k", 2, "b"))
    assert(eType.getMessage.contains("orderable"), eType.getMessage)
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    val eEmpty = intercept[Exception](
      Quantiles.withNtile(empty, "v", "k", 2, "b"))
    assert(eEmpty.getMessage.contains("empty"), eEmpty.getMessage)
  }

  test("withNtile plans no global (empty-partition) window over the input") {
    val orders = Snapshot(spark, sf()).orders
    val df = Quantiles.withNtile(orders, "o_totalprice", "o_orderkey", 10, "decile")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the assignment itself is a map-side when-chain: no Window node at all
    assert(!p.contains("Window"), p.take(2000))
  }

  test("withNtileByGroup matches the per-group window ntile exactly") {
    val orders = Snapshot(spark, sf()).orders
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val viaWindow = orders
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .select("o_orderkey", "decile")
      .orderBy("o_orderkey").collect().toSeq
    val viaBounds = Quantiles
      .withNtileByGroup(orders, "o_orderpriority", "o_totalprice", "o_orderkey", 10, "decile")
      .select("o_orderkey", "decile")
      .orderBy("o_orderkey").collect().toSeq
    assert(viaBounds == viaWindow)
  }

  test("withNtileByGroup equals the per-group window ntile on randomized inputs (property sweep)") {
    // seeded sweep over group counts, sizes, buckets, heavy ties AND
    // shuffle-partition counts — the round-5 driver-side boundary
    // location leans on slice contiguity under the range split, which
    // must hold at every partitioning the session might configure
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      (1 to 5).foreach { i =>
        spark.conf.set("spark.sql.shuffle.partitions", Seq("1", "3", "17", "32", "64")(i - 1))
        val nGroups = 1 + rnd.nextInt(9)
        val nRows = 1 + rnd.nextInt(600)
        val nBuckets = 2 + rnd.nextInt(12)
        val spread = 1 + rnd.nextInt(6)
        val df = (1 to nRows).map { k =>
          (s"g${rnd.nextInt(nGroups)}", rnd.nextInt(spread).toDouble, k.toLong)
        }.toDF("g", "v", "k")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("v"), col("k"))
        val expect = df.withColumn("b", ntile(nBuckets).over(w).cast("long"))
          .select("k", "b").orderBy("k").collect().toSeq
        val got = Quantiles.withNtileByGroup(df, "g", "v", "k", nBuckets, "b")
          .select("k", "b").orderBy("k").collect().toSeq
        assert(got == expect,
          s"case $i: groups=$nGroups rows=$nRows buckets=$nBuckets spread=$spread")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
  }

  test("withNtileByGroup: degenerate groups (fewer rows than buckets) and heavy ties") {
    import spark.implicits._
    // group "tiny" has 3 rows for 10 buckets; group "tied" is one value
    // repeated (the tiebreak column decides everything)
    val df = (Seq(("tiny", 5.0, 1L), ("tiny", 2.0, 2L), ("tiny", 9.0, 3L)) ++
      (1L to 40L).map(i => ("tied", 7.0, i)) ++
      (1L to 25L).map(i => ("plain", i * 1.5, i))).toDF("g", "v", "k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("k"))
    val viaWindow = df.withColumn("b", ntile(10).over(w).cast("long"))
      .select("g", "k", "b").orderBy("g", "k").collect().toSeq
    val viaBounds = Quantiles.withNtileByGroup(df, "g", "v", "k", 10, "b")
      .select("g", "k", "b").orderBy("g", "k").collect().toSeq
    assert(viaBounds == viaWindow)
  }

  test("withNtileByGroup rejects nulls in any contract column") {
    import spark.implicits._
    val df = Seq((Some("a"), Some(1.0), Some(1L)), (None, Some(2.0), Some(2L)))
      .toDF("g", "v", "k")
    val e = intercept[IllegalArgumentException] {
      Quantiles.withNtileByGroup(df, "g", "v", "k", 4, "b")
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("approxPercentiles honors the rank-error contract vs exact") {
    val orders = Snapshot(spark, sf()).orders
    val approx = Quantiles
      .approxPercentiles(orders, Seq("o_orderpriority"), "o_totalprice", Seq(0.5, 0.9))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val groups = orders
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    groups.foreach { case (prio, n) =>
      val (a50, a90) = approx(prio)
      Seq(0.5 -> a50, 0.9 -> a90).foreach { case (p, v) =>
        // the sketch returns an actual element whose rank is within
        // n/accuracy of the target; assert a generous 1% rank bound
        val below = orders
          .where(col("o_orderpriority") === prio && col("o_totalprice") <= v)
          .count()
        assert(math.abs(below.toDouble / n - p) <= 0.01 + 1.0 / n,
          s"$prio p$p: value $v has rank ${below.toDouble / n}")
      }
    }
  }

  test("weightedQuantile: hand case, weight dominance, null/non-positive weights dropped") {
    import spark.implicits._
    val df = Seq(
      ("a", 1.0, Option(1.0)),
      ("a", 2.0, Option(1.0)),
      ("a", 3.0, Option(10.0)), // dominates: weighted median is 3, plain median 2
      ("a", 0.5, Option(0.0)),  // zero weight: invisible
      ("a", 0.1, Option(-5.0)), // negative weight: invisible
      ("a", 0.2, Option.empty[Double]), // null weight: invisible
      ("b", 7.0, Option(2.0)),
      ("b", 9.0, Option(2.0))   // tie in cumulative share at 50%: min value crossing -> 7
    ).toDF("g", "v", "w")
    val got = Quantiles.weightedQuantile(df, Seq("g"), "v", "w", 50, "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 3.0, "b" -> 7.0))
    // qPct=100 -> max value; qPct=1 -> first value
    val hi = Quantiles.weightedQuantile(df, Seq("g"), "v", "w", 100, "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(hi == Map("a" -> 3.0, "b" -> 9.0))
    val lo = Quantiles.weightedQuantile(df, Seq("g"), "v", "w", 1, "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(lo == Map("a" -> 1.0, "b" -> 7.0))
  }

  test("weightedQuantile matches a brute-force reference on random weighted data") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val rows = (0 until 400).map { _ =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(20).toDouble, (rnd.nextInt(9) + 1).toDouble)
    }
    val df = rows.toDF("g", "v", "w")
    for (q <- Seq(25, 50, 90)) {
      val got = Quantiles.weightedQuantile(df, Seq("g"), "v", "w", q, "m")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val exp = rows.groupBy(_._1).map { case (g, rs) =>
        // exact rational threshold: min v with 100*cum >= q*tot
        val byV = rs.groupBy(_._2).view.mapValues(_.map(x => BigDecimal(x._3)).sum)
          .toSeq.sortBy(_._1)
        val tot = byV.map(_._2).sum
        var cum = BigDecimal(0)
        g -> byV.collectFirst {
          case (v, w) if { cum += w; cum * 100 >= tot * q } => v
        }.get
      }
      assert(got == exp, s"qPct=$q")
    }
  }

  test("weightedQuantileApprox: bracket audit holds and the selection tracks a dominant weight") {
    import spark.implicits._
    // values 1..100 weight 1 each, plus 50.5 carrying > 50% of total
    // mass: any value < 50.5 cannot reach the target, so the selected
    // split must be >= 50.5; the bracket booleans re-verify the
    // sketch-derived selection against EXACT decimal ranks (B55b)
    val rows = (1 to 100).map(i => (i.toDouble, 1.0)) :+ (50.5, 1000.0)
    val df = rows.toDF("v", "w").withColumn("g", lit("g"))
    val got = Quantiles
      .weightedQuantileApprox(df, Seq("g"), "v", "w", 50, nSplits = 100)
      .collect()
    assert(got.length == 1)
    val r = got.head
    val ans = r.getAs[Double]("approx_value")
    assert(r.getAs[Long]("n") == 101L)
    assert(r.getAs[Double]("tot_w") == 1100.0)
    assert(r.getAs[Boolean]("reached") && r.getAs[Boolean]("prev_short"),
      s"bracket audit failed at ans=$ans")
    assert(ans >= 50.5 && ans <= 60.0, s"dominant-mass selection off: $ans")
    // independent exact recheck of the bracket from the raw rows
    val wle = rows.filter(_._1 <= ans).map(_._2).sum
    assert(wle * 2 >= 1100.0, "exact at-or-below mass must reach 50%")
  }

  test("weightedQuantileApprox: uniform weights bracket the plain median per group") {
    import spark.implicits._
    val df = (for (g <- Seq("a", "b"); i <- 1 to 500) yield (g, i.toDouble, 1.0))
      .toDF("g", "v", "w")
    val got = Quantiles
      .weightedQuantileApprox(df, Seq("g"), "v", "w", 50, nSplits = 50)
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("a", "b").foreach { g =>
      val r = got(g)
      assert(r.getAs[Boolean]("reached") && r.getAs[Boolean]("prev_short"), g)
      // with 50 splits over 500 uniform rows a bucket holds ~10 rows:
      // the selection cannot sit further than one bucket past the median
      val ans = r.getAs[Double]("approx_value")
      assert(ans >= 240.0 && ans <= 275.0, s"$g: $ans")
    }
  }

  test("q_weighted_median_sketch catalog row: verdicts true at sf0.001") {
    val rows = SparkEntry.queries("q_weighted_median_sketch")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("reached") && r.getAs[Boolean]("prev_short"),
        r.toString)
    }
  }
}
