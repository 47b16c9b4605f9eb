package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** The one small-input policy: when an operator's slim input holds at
  * most [[threshold]] rows, it is collected by ONE bounded probe and the
  * work runs on the driver, instead of a distributed plan whose fixed
  * job and shuffle costs dominate at that size. Every degrade is
  * bit-identical to its distributed branch, which stays the contract at
  * scale.
  *
  * Gates: `Quantiles`' exact-rank core (the slim projection),
  * `RankedSpine.exclusivePrefix` (its largest per-group spine, counted
  * by its own preflight) and `TransitiveDedup.components` (the canonical
  * edge set).
  *
  * Conf: `spark.graft.smallInputRows` (default 500,000). 0 or a negative
  * value sends every gate down its distributed branch. The effective
  * threshold is clamped at [[HardCap]]: the degrades exist to dodge fixed
  * job costs on SMALL inputs, and an uncapped conf would turn them into
  * unbounded driver collects.
  */
object SmallInput {

  val Conf = "spark.graft.smallInputRows"
  val Default = 500000L
  val HardCap = 5000000L

  /** The effective row threshold: the conf clamped at [[HardCap]], or 0
    * when the gates are disabled.
    */
  def threshold(spark: SparkSession): Long =
    math.max(0L, math.min(spark.conf.get(Conf, Default.toString).toLong, HardCap))

  /** `Some(rows)` with ALL of `df` when it holds ≤ [[threshold]] rows,
    * `None` otherwise or when disabled. One bounded `executeTake` job
    * either way: a big input yields at most threshold+1 rows from its
    * first partition(s) and stops, never a full pass.
    */
  def take(df: DataFrame): Option[Array[Row]] = {
    val cap = threshold(df.sparkSession).toInt
    if (cap == 0) None
    else Some(df.limit(cap + 1).collect()).filter(_.length <= cap)
  }

  /** Driver-side mirror of Spark's sort order over COLLECTED
    * (external-type) non-null values of the orderable atomic types.
    * Matches the engine where its order differs from the JVM natural
    * one:
    *  - float/double: −0.0 normalizes to 0.0 (SQL treats them equal;
    *    `java.lang.Double.compare` does not), NaN orders LAST and equal
    *    to itself (Double.compare's convention == Spark's);
    *  - strings compare as `UTF8String` (unsigned UTF-8 bytes), NOT
    *    `String.compareTo`'s UTF-16 code units — a supplementary-plane
    *    character orders ABOVE U+FFFF in byte order but BELOW it in
    *    UTF-16;
    *  - everything else (integral numerics, BigDecimal at any scale,
    *    Timestamp at full nanos, Date, LocalDate/LocalDateTime, Boolean)
    *    via its natural Comparable, which coincides with the engine's.
    */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: java.lang.Double, y: java.lang.Double) =>
      val xv = x.doubleValue; val yv = y.doubleValue
      java.lang.Double.compare(
        if (xv == 0.0d) 0.0d else xv, if (yv == 0.0d) 0.0d else yv)
    case (x: java.lang.Float, y: java.lang.Float) =>
      val xv = x.floatValue; val yv = y.floatValue
      java.lang.Float.compare(
        if (xv == 0.0f) 0.0f else xv, if (yv == 0.0f) 0.0f else yv)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case other => throw new IllegalArgumentException(
      s"unorderable driver value pair: $other")
  }
}
