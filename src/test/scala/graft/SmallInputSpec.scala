package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SmallInput
import graft.operators.dedup.TransitiveDedup
import graft.operators.stats.RankedSpine

class SmallInputSpec extends SparkSpecBase {

  test("the conf is clamped at the hard cap; 0 or a negative value disables every gate") {
    val s = spark.newSession()
    import s.implicits._
    val df = Seq(1L, 2L, 3L).toDF("x")
    assert(SmallInput.threshold(s) == SmallInput.Default)
    for (huge <- Seq((SmallInput.HardCap + 1).toString, Long.MaxValue.toString)) {
      s.conf.set(SmallInput.Conf, huge)
      assert(SmallInput.threshold(s) == SmallInput.HardCap)
      assert(SmallInput.take(df).map(_.length).contains(3))
    }
    s.conf.set(SmallInput.Conf, "2")
    assert(SmallInput.take(df).isEmpty, "3 rows over a threshold of 2 must not degrade")
    s.conf.set(SmallInput.Conf, "3")
    assert(SmallInput.take(df).map(_.length).contains(3))
    for (off <- Seq("0", "-5")) {
      s.conf.set(SmallInput.Conf, off)
      assert(SmallInput.threshold(s) == 0L)
      assert(SmallInput.take(df).isEmpty)
      // the gates downstream of the threshold take their distributed branches
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      assert(TransitiveDedup.componentsWithRounds(pairs)._2 > 0, s"conf $off")
      val spine = Seq(("a", 1L, 1L), ("a", 2L, 1L)).toDF("g", "s", "c")
      val prefix = RankedSpine.exclusivePrefix(spine, Seq("g"), "s", Seq("c" -> "p"))
      prefix.collect()
      assert(prefix.queryExecution.executedPlan.toString.contains("__rs_pid"), s"conf $off")
    }
  }

  test("compare orders ±0.0, NaN, floats, decimals, timestamps and strings like Spark's orderBy") {
    import spark.implicits._
    // (k, v) frames: Spark orders by (v, k); the driver sorts the
    // collected rows with `compare` on v and the unique k as tiebreak
    def assertSparkOrder(df: DataFrame): Unit = {
      val engine = df.orderBy(col("v"), col("k")).collect().map(_.getLong(0)).toSeq
      val driver = df.collect().toSeq.sortWith { (a, b) =>
        val c = SmallInput.compare(a.get(1), b.get(1))
        (if (c != 0) c else java.lang.Long.compare(a.getLong(0), b.getLong(0))) < 0
      }.map(_.getLong(0))
      assert(driver == engine, df.schema("v").dataType.simpleString)
    }
    def keyed[T](vs: Seq[T]): Seq[(Long, T)] = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    assertSparkOrder(keyed(Seq(0.0, -0.0, Double.NaN, -1.5, Double.NegativeInfinity,
      Double.PositiveInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
      -0.0, Double.NaN, 1e308)).toDF("k", "v"))
    assertSparkOrder(keyed(Seq(0.0f, -0.0f, Float.NaN, 1.5f, -1.5f, Float.MaxValue,
      Float.NegativeInfinity, -0.0f)).toDF("k", "v"))
    assertSparkOrder(keyed(Seq("2.50", "2.5", "-7.25", "0.000001", "-0.000001", "1000000.1",
      "0")).toDF("k", "s").select(col("k"), col("s").cast("decimal(20,6)").as("v")))
    assertSparkOrder(keyed(Seq("2024-01-01 00:00:00.000001", "2024-01-01 00:00:00",
      "2023-12-31 23:59:59.999999", "1969-07-20 20:17:40.5", "1969-07-20 20:17:40.499999"))
      .toDF("k", "s").select(col("k"), col("s").cast("timestamp").as("v")))
    assertSparkOrder(keyed(Seq("￿", "😀", "", "z", "é", "Z", "￿z"))
      .toDF("k", "v"))
    // decimals of DIFFERENT scales (one column always carries one scale):
    // compare agrees with the engine's comparison of the two literals
    for ((a, b) <- Seq(("2.50", "2.5"), ("2.5", "2.51"), ("-0.000", "0"),
        ("10", "9.999999"), ("1000.000", "999.5"))) {
      val (x, y) = (new java.math.BigDecimal(a), new java.math.BigDecimal(b))
      val engine = spark.range(1)
        .select(when(lit(x) < lit(y), -1).when(lit(x) === lit(y), 0).otherwise(1))
        .head().getInt(0)
      assert(math.signum(SmallInput.compare(x, y)) == engine, s"$a vs $b")
    }
  }
}
