package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SmallInput
import graft.operators.quantile.Quantiles
import graft.sources.Snapshot

/** Bit-equality gate for the r16-opt distributed exact percentile path:
  * [[Quantiles.groupPercentilesExact]] must return EXACTLY the doubles
  * the `percentile()` aggregate returns — same selection ranks, same
  * interpolation arithmetic — or every fence/percentile oracle row that
  * moved onto it would hash-flake (the outputs are oracle-hashed after
  * a hashRound whose input must be the identical double).
  */
class GroupPercentilesSpec extends SparkSpecBase {
  import spark.implicits._

  private val ps = Seq(0.0, 0.05, 0.25, 0.5, 0.75, 0.9, 0.95, 1.0)
  private val names = ps.indices.map(i => s"p$i")

  /** Exact-bits comparison of the helper against the aggregate. */
  private def assertParity(df: DataFrame, g: String, v: String): Unit = {
    val aggCols = ps.zip(names).map { case (p, n) =>
      expr(s"percentile($v, ${p}d)").as(n)
    }
    val expected = df
      .where(col(g).isNotNull && col(v).isNotNull)
      .groupBy(col(g))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
      .map(r => r.get(0) -> names.indices.map(i => r.getDouble(i + 1)))
      .toMap
    val gotRows = Quantiles
      .groupPercentilesExact(df, g, v, ps, names, nCol = Some("n"))
      .collect()
    assert(gotRows.map(_.get(0)).toSet == expected.keySet)
    val nExpected = df
      .where(col(g).isNotNull && col(v).isNotNull)
      .groupBy(col(g)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    gotRows.foreach { r =>
      val key = r.get(0)
      val exp = expected(key)
      names.indices.foreach { i =>
        val got = r.getDouble(i + 1)
        assert(
          java.lang.Double.doubleToLongBits(got) ==
            java.lang.Double.doubleToLongBits(exp(i)),
          s"group $key p=${ps(i)}: got $got expected ${exp(i)}")
      }
      assert(r.getLong(names.size + 1) == nExpected(key))
    }
  }

  test("bit-identical to percentile() on decimal snapshot columns") {
    val sn = Snapshot(spark, sf())
    assertParity(sn.lineitem, "l_returnflag", "l_extendedprice")
    assertParity(sn.orders, "o_orderpriority", "o_totalprice")
  }

  test("bit-identical on adversarial doubles: duplicates, tiny groups, interpolation") {
    val rnd = new scala.util.Random(42)
    // heavy duplicates (interpolation lands between equal keys), odd and
    // even group sizes (integral vs fractional positions), n=1 and n=2
    // degenerates, and a negative/zero mix
    val rows =
      (1 to 997).map(i => ("dups", (rnd.nextInt(37) - 18).toDouble / 4.0)) ++
        (1 to 1000).map(_ => ("rand", rnd.nextDouble() * 2e6 - 1e6)) ++
        (1 to 501).map(_ => ("odd", rnd.nextDouble())) ++
        Seq(("one", 3.25), ("two", -1.5), ("two", 7.75))
    assertParity(rows.toDF("g", "v"), "g", "v")
  }

  test("null values are skipped exactly like the aggregate") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", Some(5.0)), ("b", None)).toDF("g", "v")
    assertParity(df, "g", "v")
  }

  test("r17 small-input degrade is bit-identical to the forced-distributed path (and the aggregate)") {
    // the default-conf runs above exercise the driver degrade; this case
    // pins degrade == distributed == percentile() on the same inputs
    val sn = Snapshot(spark, sf())
    val key = SmallInput.Conf
    val orig = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0") // forced distributed
      assertParity(sn.lineitem, "l_returnflag", "l_extendedprice")
      val rnd = new scala.util.Random(99)
      val rows = (1 to 800).map(_ => ("g" + rnd.nextInt(3), rnd.nextDouble() * 100 - 50)) ++
        Seq(("z", -0.0), ("z", 0.0), ("z", 1.0))
      import spark.implicits._
      assertParity(rows.toDF("g", "v"), "g", "v")
    } finally orig.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("distributed path raises on a non-driver-modest slice table (VERDICT r16 item 4)") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (s"g$i", i.toDouble)).toDF("g", "v")
    val origSmall = spark.conf.getOption(SmallInput.Conf)
    val origMax = spark.conf.getOption(Quantiles.MaxDriverSlicesConf)
    try {
      spark.conf.set(SmallInput.Conf, "0") // force distributed
      spark.conf.set(Quantiles.MaxDriverSlicesConf, "100")
      val e = intercept[IllegalArgumentException] {
        Quantiles.groupPercentilesExact(df, "g", "v", Seq(0.5), Seq("m")).collect()
      }
      assert(e.getMessage.contains("slice table exceeds"), e.getMessage)
    } finally {
      origSmall.fold(spark.conf.unset(SmallInput.Conf))(
        spark.conf.set(SmallInput.Conf, _))
      origMax.fold(spark.conf.unset(Quantiles.MaxDriverSlicesConf))(
        spark.conf.set(Quantiles.MaxDriverSlicesConf, _))
    }
  }

  test("contract checks: bad percentages, non-numeric value, empty input") {
    val df = Seq(("a", 1.0)).toDF("g", "v")
    intercept[IllegalArgumentException] {
      Quantiles.groupPercentilesExact(df, "g", "v", Seq(1.5), Seq("x"))
    }
    intercept[IllegalArgumentException] {
      Quantiles.groupPercentilesExact(df.withColumn("s", lit("t")), "g", "s",
        Seq(0.5), Seq("x"))
    }
    val empty = Quantiles.groupPercentilesExact(
      df.where(lit(false)), "g", "v", Seq(0.5), Seq("x"), nCol = Some("n"))
    assert(empty.columns.toSeq == Seq("g", "x", "n"))
    assert(empty.count() == 0)
  }
}
