package graft.operators.quantile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tukey-fence outlier audit: per group, fences at
  * `p25 − k·IQR / p75 + k·IQR`, plus counts and the extreme outlier
  * values — the data-quality screen a curation pipeline runs before
  * trusting a numeric column (the distribution-shaped sibling of
  * `q_null_audit`'s presence checks).
  *
  * One scan of the fact table, at DataFrame build time, into a pinned
  * (group, value) projection; two aggregation passes read the pin: one
  * slim per-group quantile agg (group-cardinality rows, broadcast
  * back), one conditional agg against the fences — the fact table is
  * never sorted globally and never shuffled wider than its group key.
  *
  * Determinism: fences are ROUNDED to 4 digits and the flag compares
  * against the rounded fence in every engine (SURVEY §5 — the rounded
  * value is the contract, so an ulp of interpolation drift cannot flip
  * a row's flag unless a data value sits within 1e-4 of a fence, which
  * the margin convention treats like every other rounded float).
  * `min/max_outlier` are raw data values (order statistics — exact).
  * Since r16-opt every exact fence rides
  * [[Quantiles.groupPercentilesExact]] — bit-identical to the
  * `percentile()` aggregate (the B13 oracle-parity values) but with no
  * per-group value buffer anywhere, so the fence pass itself survives
  * 100 TB; `Quantiles.approxPercentiles` (B28) remains the documented
  * sketch alternative when group cardinality is NOT driver-modest.
  */
object Outliers {

  /** Returns one row per group: `<groupCol>, n, n_outliers, lo, hi,
    * min_outlier, max_outlier` (the last two null when a group has no
    * outliers).
    */
  /** Per-group five-number box-plot summary (B126) — the chart-feed
    * companion of [[iqrAudit]] (fence counts there; the full summary a
    * box renderer needs here): n, raw min/max (exact order
    * statistics), quartiles (exact `percentile`, the B13 parity class,
    * hashRound 4 — the q_percentiles contract), and the TUKEY WHISKERS
    * = the extreme DATA VALUES inside the rounded k·IQR fences (exact
    * SELECTIONS, hash unrounded — the convention matplotlib draws),
    * plus below/above-fence counts. Fences derive from the UNROUNDED
    * quartiles and round at 4 before the compare (the iqrAudit
    * contract). Two slim passes, fact table never globally sorted; B28
    * sketches are the 100 TB fence path.
    */
  def boxplotStats(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Double = 1.5): DataFrame = {
    val v = col(valueCol)
    val clean = df.where(col(groupCol).isNotNull && v.isNotNull)
    // distributed exact percentiles (r16-opt): bit-identical to the
    // percentile() aggregate without its per-group value buffer
    val q = Quantiles
      .groupPercentilesExact(clean, groupCol, valueCol,
        Seq(0.25, 0.5, 0.75), Seq("__q1", "__med", "__q3"))
      .select(
        col(groupCol),
        graft.functions.ExactMath.hashRound(col("__q1"), 4).as("q1"),
        graft.functions.ExactMath.hashRound(col("__med"), 4).as("median"),
        graft.functions.ExactMath.hashRound(col("__q3"), 4).as("q3"),
        graft.functions.ExactMath.hashRound(
          col("__q1") - lit(k) * (col("__q3") - col("__q1")), 4).as("__lo"),
        graft.functions.ExactMath.hashRound(
          col("__q3") + lit(k) * (col("__q3") - col("__q1")), 4).as("__hi"))
    clean.join(broadcast(q), groupCol)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        min(v).as("v_min"),
        max(v).as("v_max"),
        max(col("q1")).as("q1"),
        max(col("median")).as("median"),
        max(col("q3")).as("q3"),
        min(when(v >= col("__lo"), v)).as("whisker_lo"),
        max(when(v <= col("__hi"), v)).as("whisker_hi"),
        sum(when(v < col("__lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(v > col("__hi"), 1L).otherwise(0L)).as("n_above"))
      .select(col(groupCol), col("n_rows"), col("v_min"), col("q1"),
        col("median"), col("q3"), col("v_max"),
        col("whisker_lo"), col("whisker_hi"), col("n_below"), col("n_above"))
      .orderBy(groupCol)
  }

  def iqrAudit(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Double = 1.5): DataFrame = {
    val v = col(valueCol)
    // r17-opt: pin the slim projection once (see madAudit) — the fence
    // pass and the flag agg otherwise each re-scan the fact table
    val slim = df.select(col(groupCol), v).localCheckpoint(true)
    // distributed exact percentiles (r16-opt, see boxplotStats)
    val fences = Quantiles
      .groupPercentilesExact(slim, groupCol, valueCol,
        Seq(0.25, 0.75), Seq("__p25", "__p75"))
      .select(
        col(groupCol),
        graft.functions.ExactMath.hashRound(col("__p25") - lit(k) * (col("__p75") - col("__p25")), 4).as("lo"),
        graft.functions.ExactMath.hashRound(col("__p75") + lit(k) * (col("__p75") - col("__p25")), 4).as("hi"))
    val flagged = slim
      .join(broadcast(fences), groupCol)
      .withColumn("__out", v < col("lo") || v > col("hi"))
    flagAgainstFences(flagged, groupCol, v)
  }

  /** Robust (median/MAD) outlier audit — the heavy-tail-safe sibling of
    * `iqrAudit`: fences at `median ± z·1.4826·MAD` where
    * `MAD = median(|x − median|)` and 1.4826 scales MAD to σ under
    * normality (so `z` reads like a z-score; 3.5 is the Iglewicz–Hoaglin
    * convention). The mean/stddev z-score is itself dragged by the
    * outliers it hunts; median and MAD have a 50% breakdown point.
    *
    * Three passes, all slim: per-group median (broadcast back),
    * per-group median of absolute deviations (broadcast back as rounded
    * fences), one conditional agg against the fences. The fact table
    * never sorts globally, and since r16-opt BOTH median passes ride
    * [[Quantiles.groupPercentilesExact]] (range-split selection — no
    * per-group value buffer; bit-identical to the old `percentile()`
    * values); `Quantiles.approxPercentiles` remains the sketch
    * alternative for non-driver-modest group cardinality.
    *
    * Determinism: fences are ROUNDED to 4 digits before the flag
    * compare in every engine (the `iqrAudit` contract — SURVEY §5);
    * the intermediate median feeding the deviations is unrounded in
    * both engines (identical interpolation arithmetic, the proven
    * B13/B35 pairing). A group where MAD = 0 (the majority of values
    * equal) flags every value off the median — the documented
    * degenerate case, matched by the oracle by construction.
    */
  def madAudit(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      z: Double = 3.5): DataFrame = {
    val v = col(valueCol)
    // r17-opt: pin the slim (group, value) projection ONCE — the two
    // percentile passes and the fence agg otherwise each re-scan the
    // fact table (3 scans for a 2-statistic audit). No filter is added
    // here (null handling stays inside each consumer), so this is pure
    // lineage reuse — values and row sets are unchanged.
    val slim = df.select(col(groupCol), v).localCheckpoint(true)
    // distributed exact medians for BOTH passes (r16-opt, see
    // boxplotStats); the deviation pass re-reads the pin with the
    // 1-row-per-group median attached by broadcast
    val med = Quantiles
      .groupPercentilesExact(slim, groupCol, valueCol, Seq(0.5), Seq("__med"))
    val dev = slim
      .join(broadcast(med), groupCol)
      .withColumn("__dev", abs(v - col("__med")))
    val fences = Quantiles
      .groupPercentilesExact(dev, groupCol, "__dev", Seq(0.5), Seq("__mad"))
      .join(med, groupCol)
      .select(
        col(groupCol),
        graft.functions.ExactMath.hashRound(col("__med") - lit(z) * lit(1.4826) * col("__mad"), 4).as("lo"),
        graft.functions.ExactMath.hashRound(col("__med") + lit(z) * lit(1.4826) * col("__mad"), 4).as("hi"))
    val flagged = slim
      .join(broadcast(fences), groupCol)
      .withColumn("__out", v < col("lo") || v > col("hi"))
    flagAgainstFences(flagged, groupCol, v)
  }

  /** Shared tail: one conditional agg over rows carrying `lo`/`hi`/`__out`. */
  private def flagAgainstFences(flagged: DataFrame, groupCol: String, v: org.apache.spark.sql.Column): DataFrame =
    flagged
      .groupBy(col(groupCol), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__out"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("__out"), v)).as("min_outlier"),
        max(when(col("__out"), v)).as("max_outlier"))
      .select(col(groupCol), col("n"), col("n_outliers"),
        col("lo"), col("hi"), col("min_outlier"), col("max_outlier"))

  /** The 100 TB twin of [[madAudit]]'s two exact-percentile passes,
    * driver-gated (VERDICT r11 item 6): both medians come from the
    * mergeable GK sketch (`percentile_approx`, bounded state per group —
    * exact `percentile` buffers every group value), and the output is
    * the B28 exact-rank AUDIT of the sketch values rather than the
    * (merge-order-ulp-sensitive) values themselves: each approx
    * median's occupied rank interval [lo+1, hi] must overlap the GK
    * guarantee window p·n ± (2ε·n + 1), for BOTH the value median and
    * the median of absolute deviations — the deviation distribution is
    * taken w.r.t. the approx median the sketch actually used, so the
    * audit is self-consistent. A sketch drifting out of its rank bound
    * turns the driver row red (the static-verdict oracle mirrors TRUE).
    */
  def madAuditApprox(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      accuracy: Int = 10000): DataFrame = {
    val v = col(valueCol)
    val clean = df.where(v.isNotNull)
    val med = clean
      .groupBy(col(groupCol))
      .agg(percentile_approx(v, lit(0.5), lit(accuracy)).as("__amed"))
    val mad = clean
      .join(broadcast(med), groupCol)
      .withColumn("__dev", abs(v - col("__amed")))
      .groupBy(col(groupCol), col("__amed"))
      .agg(percentile_approx(col("__dev"), lit(0.5), lit(accuracy)).as("__amad"))
    val eps = 2.0 / accuracy
    def inBounds(lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ((lo + lit(1)).cast("double") <= (lit(0.5) + lit(eps)) * n + lit(1.0)) &&
        (hi.cast("double") >= (lit(0.5) - lit(eps)) * n - lit(1.0))
    clean
      .join(broadcast(mad), groupCol)
      .withColumn("__dev", abs(v - col("__amed")))
      .groupBy(col(groupCol), col("__amed"), col("__amad"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(v < col("__amed"), 1L).otherwise(0L)).as("__mlo"),
        sum(when(v <= col("__amed"), 1L).otherwise(0L)).as("__mhi"),
        sum(when(col("__dev") < col("__amad"), 1L).otherwise(0L)).as("__dlo"),
        sum(when(col("__dev") <= col("__amad"), 1L).otherwise(0L)).as("__dhi"))
      .select(col(groupCol), col("n"),
        // the sketch values ride along for API callers; driver rows
        // project them away (merge-order-ulp-sensitive, never hashed)
        col("__amed").as("approx_med"), col("__amad").as("approx_mad"),
        inBounds(col("__mlo"), col("__mhi"), col("n")).as("med_in_bounds"),
        inBounds(col("__dlo"), col("__dhi"), col("n")).as("mad_in_bounds"))
  }

  /** Winsorization audit (B97) — the CLAMPING sibling of the
    * trimmed-mean/fence family: values outside the exact per-group
    * [pLo, pHi] percentile fences clamp TO the fence (nothing drops —
    * the feature-preprocessing convention where trimming would change
    * row counts). Fences follow the B35 contract (hashRound at 4 in
    * both engines — the rounded fence IS the contract); the winsorized
    * mean sums clamped values as exact decimals (fences are round-4
    * doubles, exact at DECIMAL(18,6)) and hashRounds at 4.
    * Two slim passes: per-group percentile agg broadcast back, one
    * conditional agg — the B35 shape; B28 sketches at 100 TB.
    */
  def winsorAudit(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad percentile pair ($pLo, $pHi)")
    val v = col(valueCol)
    // r17-opt: pin the slim non-null projection once (see madAudit) —
    // the fence pass and the clamp agg share the identical filter, so
    // the pin is pure lineage reuse
    val slim = df.where(v.isNotNull).select(col(groupCol), v)
      .localCheckpoint(true)
    // distributed exact percentiles (r16-opt, see boxplotStats)
    val fences = Quantiles
      .groupPercentilesExact(slim, groupCol, valueCol,
        Seq(pLo, pHi), Seq("__plo", "__phi"))
      .select(col(groupCol),
        graft.functions.ExactMath.hashRound(col("__plo"), 4).as("lo"),
        graft.functions.ExactMath.hashRound(col("__phi"), 4).as("hi"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val clamped = greatest(col("lo"), least(col("hi"), v)).cast(dec)
    slim
      .join(broadcast(fences), groupCol)
      .groupBy(col(groupCol), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(v < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(v > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        graft.functions.ExactMath.hashRound(
          sum(clamped).cast("double") / count(lit(1)).cast("double"), 4)
          .as("mean_winsorized"))
      .select(col(groupCol), col("n"), col("n_clipped_lo"), col("n_clipped_hi"),
        col("lo"), col("hi"), col("mean_winsorized"))
  }
}
