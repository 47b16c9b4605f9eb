package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix-filtered set-similarity self-join (AllPairs / PPJoin family:
  * Bayardo et al. WWW'07, Xiao et al. WWW'08) — the candidate-reduction
  * upgrade over the shared-ANY-shingle rule (C4): under a GLOBAL shingle
  * ordering, a pair with Jaccard >= tau must share a shingle inside both
  * documents' PREFIXES of length |x| - ceil(tau·|x|) + 1, so only prefix
  * shingles generate candidates. Ordering rarest-first (df ASC, then
  * shingle for determinism) puts the least-productive shingles in the
  * prefixes, shrinking the candidate join by orders of magnitude on
  * boilerplate-heavy corpora while staying provably COMPLETE — which is
  * why this operator can be oracle-backed: the final verified pair set
  * is IDENTICAL to the exhaustive shared-shingle derivation, whatever
  * the candidate order (the DuckDB mirror uses the simpler exhaustive
  * rule and must agree exactly).
  *
  * Scale shape: one corpus shingling pass; df attach + per-DOC window
  * (bounded by document size, never a global sort); prefix postings
  * self-join on the shingle hash; exact-Jaccard verify on candidates
  * only (the Shingling.verifyJaccard machinery — shingle sets attach to
  * candidates, never shuffle corpus-wide). No frequency cap: prefix
  * filtering replaces it WITHOUT sacrificing completeness.
  */
object PrefixFilter {

  /** (id, n, s): each doc's distinct shingle hashes, one row per shingle,
    * with the set size `n` riding the explode (one map-side size()) — a
    * count window over the exploded corpus would re-sort for nothing.
    * Fanned out before shingling: with a single-split input the persisted
    * explode would inherit ONE partition, and every consumer (df agg,
    * per-doc window, both self-join sides) would run as a 1-task stage.
    */
  private def exploded(df: DataFrame, idCol: String, textCol: String, shingle: Int): DataFrame =
    graft.operators.FanOut.byKey(
      df.where(col(textCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"),
        array_distinct(Shingling.shingleHashes(col(textCol), shingle)).as("__sh"))
      .select(col("id"), size(col("__sh")).as("n"), explode(col("__sh")).as("s"))

  /** The prefix rows (s, id): each doc's first n - ceil(tau·n) + 1
    * shingles in the global rarest-first order (df ASC, then shingle).
    *
    * The ceil argument is deflated by a relative 1e-12 so an IEEE product
    * that lands a few ulps ABOVE an exact integer k cannot round the ceil
    * up to k+1 and shorten the prefix (530 (tau, n) pairs under n=200
    * overshoot the exact bound otherwise — a shorter prefix breaks the
    * completeness theorem). Deflating can only LENGTHEN the prefix by one:
    * extra candidates, never a lost pair, and the exact verify keeps the
    * output identical.
    */
  private def prefix(rows: DataFrame, tau: Double): DataFrame = {
    val dfreq = rows.groupBy("s").agg(count(lit(1)).as("df"))
    val alpha = ceil(col("n").cast("double") * lit(tau) * lit(1.0 - 1e-12))
    rows.join(dfreq, Seq("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("s"))))
      .where(col("rn") <= col("n") - alpha + lit(1))
      .select(col("s"), col("id"))
  }

  /** `id_a < id_b` pairs of rows sharing a shingle, deduplicated and
    * uncapped (the prefix bounds the candidates). The merge hint fixes
    * the join strategy: without it adaptive execution picks sort-merge
    * or broadcast, either build side, from whichever input stage
    * finished first, so two runs planned the same join differently.
    */
  private def selfJoin(rows: DataFrame): DataFrame =
    rows.select(col("s"), col("id").as("id_a")).hint("merge")
      .join(rows.select(col("s"), col("id").as("id_b")), Seq("s"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  /** All pairs (id_a < id_b) with distinct-shingle Jaccard >= tau,
    * complete and exact.
    */
  def duplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      shingle: Int = 3): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    // no frequency cap: the prefix bounds the candidates
    val pairs = CacheScope.withPersisted(exploded(df, idCol, textCol, shingle)) { e =>
      selfJoin(prefix(e, tau))
    }
    Shingling.verifyJaccard(pairs, df, idCol, textCol, shingle)
      .where(col("jaccard") >= tau)
  }

  /** Diagnostic: candidate-pair counts under the prefix filter vs the
    * exhaustive shared-shingle rule — the measured reduction the filter
    * buys on a given corpus.
    */
  private[graft] def candidateCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      shingle: Int = 3): (Long, Long) = {
    val e = exploded(df, idCol, textCol, shingle).localCheckpoint(true)
    (selfJoin(prefix(e, tau)).count(), selfJoin(e).count())
  }
}
