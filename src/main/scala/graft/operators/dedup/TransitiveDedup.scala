package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SmallInput

/** Connected components over duplicate-pair edges, for transitive dedup
  * clusters (A~B, B~C ⇒ {A,B,C} one cluster even without an A~C edge).
  *
  * Alternating large-star/small-star contraction (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14): each round
  * rewires every edge toward its neighborhood minimum —
  *
  *   large-star(u): for each neighbor v > u, replace (u,v) with
  *     (m(u), v) where m(u) = min({u} ∪ Γ(u));
  *   small-star(u): for each neighbor v < u, replace with (m(u), v),
  *     plus (m(u), u).
  *
  * Both are per-node map/aggregate steps (two shuffles per round), and
  * the alternation converges in O(log n) rounds — a pathological chain
  * A~B~C~… that min-label propagation walks one hop per round (linear
  * rounds in the chain length) contracts here by doubling. At the
  * fixpoint the edge set is a union of stars rooted at each component's
  * minimum id. `localCheckpoint` cuts lineage so plans don't grow with
  * iterations (the classic iterative-Spark failure mode); non-
  * convergence within `maxIter` FAILS FAST instead of silently leaving
  * distant chain ends unmerged (the default 30 rounds covers graphs
  * far beyond 2^30 nodes — hitting it means a logic error, not data).
  *
  * Fault-tolerance tradeoff (deliberate): `localCheckpoint` stores
  * non-replicated executor-local blocks — on a real cluster a lost
  * executor makes the truncated lineage unrecoverable and fails the job,
  * which Spark then retries from scratch. That is the right default for
  * an iterative job whose per-round state is small (the edge table —
  * NOT the corpus). For long multi-hour cluster runs where a
  * retry-from-scratch is unacceptable, swap in a reliable
  * `sparkContext.setCheckpointDir` + `.checkpoint()` (HDFS/S3-backed) or
  * `persist(MEMORY_AND_DISK_2)` at ~2× the per-round I/O cost.
  *
  * Small-graph degrade: when the canonical edge set holds at most
  * `SmallInput.threshold` rows (the [[graft.operators.SmallInput]] gate,
  * conf `spark.graft.smallInputRows`, clamped at its hard cap), ONE
  * bounded probe collects it and a driver-side union-find replaces the
  * star loop, whose several fixed jobs per round (two shuffles +
  * checkpoints + the convergence count) dominate whenever the
  * deduplicated edge table is small — the common case for near-dup pair
  * sets. Min-root union-find produces EXACTLY the star fixpoint's labels
  * (component = the component's minimum id, compared with Spark's own
  * ordering). Conf 0 forces the distributed loop (the O(log n)-round
  * plan pins do).
  */
object TransitiveDedup {

  /** (id, component) for every id appearing in `pairs` (id_a/id_b). */
  def components(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    componentsWithRounds(pairs, maxIter)._1

  /** [[components]] plus the number of large+small rounds it took —
    * surfaced so specs can pin the O(log n) contract (a planted k-node
    * chain must close in ~log₂ k rounds, not k).
    */
  def componentsWithRounds(pairs: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    // node set up front: ids appearing ONLY in self-pairs still get a row
    val nodes = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical undirected edges (u < v), self-pairs dropped
    var edges = pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    // small-graph degrade: one bounded take of the pinned edge set
    SmallInput.take(edges) match {
      case Some(rows) => return (smallComponents(nodes, rows), 0)
      case None => ()
    }

    def neighborhoods(es: DataFrame): DataFrame = {
      val nbrs = es.unionAll(es.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u").as("mu"))
        .agg(min(col("v")).as("mv"))
        .select(col("mu"), least(col("mu"), col("mv")).as("m"))
      nbrs.join(mins, nbrs("u") === mins("mu")).select(col("u"), col("v"), col("m"))
    }

    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      // large-star: (m(u), v) for every strictly-larger neighbor. m ≤ u < v
      // so the emitted edge is already canonical and never a self-loop.
      val large = neighborhoods(edges)
        .where(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
        .distinct()
        .localCheckpoint(true)
      // small-star: (m(u), v) for every smaller-or-self neighbor plus
      // (m(u), u); self-loops (v == m, u == m) drop.
      val nb = neighborhoods(large)
      val small = nb.where(col("v") < col("u"))
        .select(col("m").as("u"), col("v"))
        .unionAll(nb.select(col("m").as("u"), col("u").as("v")).where(col("u") =!= col("v")))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // fixpoint: the canonical edge set reproduced itself. Both sides
      // are distinct() outputs, so equal counts + one empty difference
      // proves set equality — a count scan is far cheaper than the
      // second join-shaped exceptAll would be
      converged = small.count() == edges.count() && small.exceptAll(edges).isEmpty
      // release superseded cached blocks: only the live edge set may
      // survive the round, or up-to-30 rounds of checkpoints accumulate
      // (large is consumed once small is materialized; the previous
      // round's edges are consumed once the convergence check ran)
      large.unpersist(false)
      edges.unpersist(false)
      edges = small
      iter += 1
    }
    if (!converged && !edges.isEmpty)
      throw new IllegalStateException(
        s"components did not converge in $maxIter large/small-star rounds — " +
          "O(log n) contract violated (logic error, not a data property)")

    // at the fixpoint every non-root sits in exactly one star edge
    // (root, x); roots and isolated nodes label themselves
    val labels = nodes
      .join(edges.select(col("v").as("id"), col("u").as("__c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
    (labels, iter)
  }

  /** The degraded small-graph path: min-root union-find over the
    * collected canonical edges — labels are BIT-IDENTICAL to the star
    * fixpoint's (component = minimum id under Spark's ordering, via
    * `SmallInput.compare`: strings compare as UTF-8 bytes, which differs
    * from Java's UTF-16 order for BMP-above-surrogate vs supplementary
    * code points — spec-pinned). Ids must be orderable atomics (the
    * Quantiles rule); decimal ids are normalized via stripTrailingZeros
    * before HashMap use (BigDecimal.equals is scale-sensitive:
    * 1.0 != 1.00 as map keys even though compareTo says equal; one
    * Spark column carries one scale, but the normalization makes the
    * key identity independent of that assumption; emitted labels are
    * re-scaled back to the column type by createDataFrame's converter).
    */
  private def smallComponents(nodes: DataFrame, rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val idType = nodes.schema("id").dataType
    def norm(v: Any): Any = v match {
      case d: java.math.BigDecimal => d.stripTrailingZeros()
      case x => x
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != null && parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = if (n == null) r else n }
      r
    }
    rows.foreach { e =>
      val (u, v) = (norm(e.get(0)), norm(e.get(1)))
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        val (root, other) = if (SmallInput.compare(ru, rv) <= 0) (ru, rv) else (rv, ru)
        parent.put(other, root)
        parent.put(root, root)
      }
    }
    // normalized like the union-find keys — a raw-scaled decimal would
    // miss the map and self-label; createDataFrame re-scales on emit
    val connectedIds = rows.iterator.flatMap(e => Iterator(norm(e.get(0)), norm(e.get(1))))
      .toSet
    val schema = StructType(Seq(
      StructField("id", idType), StructField("__c", idType)))
    val connected = nodes.sparkSession.createDataFrame(
      java.util.Arrays.asList(connectedIds.toSeq.map(id => Row(id, find(id))): _*),
      schema)
    nodes
      .join(connected, Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
  }

  /** Survivors after transitive dedup: the minimum id of each component
    * plus every id with no duplicate edge at all.
    */
  def dedupe(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = components(pairs)
    val losers = comp.where(col("id") =!= col("component")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware survivor selection: within each duplicate component
    * keep the row with the HIGHEST `scoreCol` (ties → lowest id) instead
    * of the lowest id — the "keep the best copy" policy a training-data
    * pipeline actually wants (e.g. `TextStats.quality`'s score). Rows
    * with no duplicate edge are untouched. Winner selection is a
    * bounded-heap `TopKPerKey(k=1)` over only the component members —
    * never a component-wide sort; auto mode because component
    * cardinality is data-dependent.
    */
  def dedupeKeepBest(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      scoreCol: org.apache.spark.sql.Column): DataFrame = {
    val comp = components(pairs)
    val scored = df
      .select(col(idCol).as("id"), scoreCol.as("__score"))
      .join(comp, Seq("id"))
    val winners = graft.plans.TopKPerKey(
      scored, Seq("component"), Seq(col("__score").desc, col("id").asc), 1)
      .select("id")
    val losers = comp.select("id")
      .join(winners, Seq("id"), "left_anti")
      .withColumnRenamed("id", idCol)
    df.join(losers, Seq(idCol), "left_anti")
  }
}
