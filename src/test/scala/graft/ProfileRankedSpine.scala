package graft

import graft.sources.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

// Growth profile for the RankedSpine refactor (r13 verdict item 1's
// "flat where the old one grows" evidence): the ProfileScaleUp ×8
// amplification copies rows VERBATIM, so the value SPINE (distinct
// o_totalprice) stays ~1.5M rows at any factor and the legacy
// single-task window looks cheap. Here each copy PERTURBS the value by
// copy_index·1e-6, so distinct values — and the spine the window must
// sort in ONE task — grow linearly with the factor. Times the
// committed Stats.mannWhitney (RankedSpine distributed prefix) against
// the pre-r14 global-window shape at increasing factors.
//
//   sbt "Test/runMain graft.ProfileRankedSpine [factors...]"   (default 4 8 16)
object ProfileRankedSpine {

  /** The pre-r14 shape: doubled-rank sum via one unpartitioned window
    * over the aggregated value spine.
    */
  private def legacyR2a(df: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.where(col("o_orderpriority").isin("1-URGENT", "5-LOW") &&
        col("__v").isNotNull)
      .groupBy(col("__v").as("__s"))
      .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("__ca"), count(lit(1)).as("__cnt"))
      .withColumn("__before", coalesce(sum(col("__cnt")).over(w), lit(0L)))
      .agg(sum(col("__ca").cast(d38)
        * (lit(2L) * col("__before") + col("__cnt") + lit(1L)).cast(d38))
        .as("r2a"))
  }

  def main(args: Array[String]): Unit = {
    val factors = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(4, 8, 16)
    val spark = GraftSession.local(32)
    val base = Snapshot(spark, "/root/testdata/sf0.1").orders
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))

    def force(df: DataFrame): Unit =
      df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
        .agg(sum("h")).head()
    def median3(f: => Unit): Double = {
      f // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }

    /** The pre-r14 PER-GROUP shape: roc-auc's doubled-rank sum via a
      * window partitioned only by the group — one huge group = one task.
      */
    def legacyGroupedR2(df: DataFrame): DataFrame = {
      val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
      val cells = df
        .groupBy(col("g"), col("__v").as("__s"))
        .agg(count(lit(1)).as("__cnt"),
          sum(when(col("__lbl"), 1L).otherwise(0L)).as("__pos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("__s"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      cells
        .withColumn("__before", coalesce(sum(col("__cnt")).over(w), lit(0L)))
        .groupBy("g")
        .agg(sum(col("__pos").cast(d18)
          * (lit(2L) * col("__before") + col("__cnt") + lit(1L)).cast(d18)).as("r2"))
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft_rankspine").toFile
    tmp.deleteOnExit()
    for (f <- factors) {
      // per-copy value perturbation => distinct values grow ~f×
      (0 until f)
        .map(i => base
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L))
          .withColumn("__v",
            col("o_totalprice").cast("double") + lit(i.toDouble * 1e-6)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$tmp/orders_$f")
      val amplified = spark.read.parquet(s"$tmp/orders_$f")
      val spine = amplified
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select("__v").distinct().count()
      // conf 0 forces the distributed path (the growth evidence must
      // not silently measure the small-input degrade below the crossover);
      // the third row times the committed DEFAULT (preflight + degrade-
      // or-distribute) — it should track min(ranked, legacy) + the
      // preflight count
      spark.conf.set(graft.operators.SmallInput.Conf, "0")
      val tNew = median3(force(graft.operators.stats.Stats
        .mannWhitney(amplified, "o_orderpriority", "__v", "1-URGENT", "5-LOW")))
      spark.conf.unset(graft.operators.SmallInput.Conf)
      val tAuto = median3(force(graft.operators.stats.Stats
        .mannWhitney(amplified, "o_orderpriority", "__v", "1-URGENT", "5-LOW")))
      val tOld = median3(force(legacyR2a(amplified)))
      println(f"[rankspine x$f] spine=$spine%9d  ranked=$tNew%6.2f s  auto=$tAuto%6.2f s  legacy-window=$tOld%6.2f s")

      // grouped variant: ONE huge group (the r13 item-3 regime) — the
      // legacy per-group window funnels its whole spine into one task
      val hot = amplified.select(lit("hot").as("g"), col("__v"),
        (col("o_orderkey") % 3 === 0).as("__lbl"))
      spark.conf.set(graft.operators.SmallInput.Conf, "0")
      val tNewG = median3(force(graft.operators.stats.Stats
        .rocAucByGroup(hot, Seq("g"), "__v", col("__lbl"))))
      spark.conf.unset(graft.operators.SmallInput.Conf)
      val tAutoG = median3(force(graft.operators.stats.Stats
        .rocAucByGroup(hot, Seq("g"), "__v", col("__lbl"))))
      val tOldG = median3(force(legacyGroupedR2(hot)))
      println(f"[rankspine x$f] one-hot-group roc-auc: ranked=$tNewG%6.2f s  auto=$tAutoG%6.2f s  legacy-group-window=$tOldG%6.2f s")
    }
    spark.stop()
  }
}
