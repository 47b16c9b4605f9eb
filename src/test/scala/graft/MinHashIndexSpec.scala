package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.dedup.MinHashIndex
import graft.sources.Snapshot

/** Persisted near-dup index (C26b): durable-layout parity (one-shot ==
  * batched appends, the D16/appendToSaved shape), loaded-store probe ==
  * in-memory probe, planted cross-batch near-dups at ANALYTIC Jaccard
  * found by BOTH probes (and far pairs excluded), and partition pruning
  * on the probe scans.
  */
class MinHashIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Snapshot(spark, sf()).documents.where(col("text").isNotNull)

  // the SelfCheck near-dup construction: m distinct flavor-scoped words,
  // twin shares a t-word prefix => distinct-3-shingle Jaccard is EXACTLY
  // (t-2)/(2(m-2)-(t-2)) by construction; vocab never collides with the
  // corpus or other plants
  private def plantPair(flavor: String, m: Int, t: Int): (String, String) = {
    val w = (1 to m).map(i => s"zq${flavor}w$i")
    val twin = w.take(t) ++ ((t + 1) to m).map(i => s"zq${flavor}f$i")
    (w.mkString(" "), twin.mkString(" "))
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (k, v) => (k, v.length) }

  test("save/load/append parity: batched appends equal the one-shot store") {
    val d = docs.limit(300).localCheckpoint(true)
    val p1 = d.where(col("doc_id") % 3 === 0)
    val p2 = d.where(col("doc_id") % 3 === 1)
    val p3 = d.where(col("doc_id") % 3 === 2)

    val oneDir = "/tmp/graft-mhidx-one"
    val incDir = "/tmp/graft-mhidx-inc"
    MinHashIndex.save(MinHashIndex.build(d, "doc_id", "text", nBuckets = 16), oneDir)
    MinHashIndex.save(MinHashIndex.build(p1, "doc_id", "text", nBuckets = 16), incDir)
    MinHashIndex.append(spark, incDir, p2, "doc_id", "text")
    MinHashIndex.append(spark, incDir, p3, "doc_id", "text")

    // load takes nBuckets/shingle from the persisted meta, not the caller
    val one = MinHashIndex.load(spark, oneDir)
    val inc = MinHashIndex.load(spark, incDir)
    assert(multiset(one.shingleSets.select(col("id"), col("sh"))) ==
      multiset(inc.shingleSets.select(col("id"), col("sh"))))
    assert(multiset(one.shinglePostings.select(col("s"), col("bucket"), col("id"))) ==
      multiset(inc.shinglePostings.select(col("s"), col("bucket"), col("id"))))
    assert(multiset(one.bandPostings.select(col("band"), col("bucket"), col("pbucket"), col("id"))) ==
      multiset(inc.bandPostings.select(col("band"), col("bucket"), col("pbucket"), col("id"))))
    assert(one.shingleSets.count() == 300L)
  }

  test("loaded-store probes equal the in-memory probes and prune partitions") {
    val d = docs.limit(400).localCheckpoint(true)
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    val batch = d.where(col("doc_id") % 10 === 0)

    val dir = "/tmp/graft-mhidx-probe"
    val mem = MinHashIndex.build(corpus, "doc_id", "text", nBuckets = 16)
    MinHashIndex.save(mem, dir)
    val loaded = MinHashIndex.load(spark, dir)
    assert(loaded.nBuckets == 16 && loaded.shingle == 3)

    for (probe <- Seq[(MinHashIndex.Store, DataFrame, String, String, Double) => DataFrame](
        MinHashIndex.probeExact(_, _, _, _, _),
        MinHashIndex.probeBanded(_, _, _, _, _))) {
      val a = multiset(probe(mem, batch, "doc_id", "text", 0.3))
      val b = multiset(probe(loaded, batch, "doc_id", "text", 0.3))
      assert(a == b)
    }
    mem.shingleSets.unpersist(false)

    // the pruned probe scans carry PartitionFilters on the bucket columns
    // (asserted on the scan builders the probes call — the probe results
    // themselves are eager CacheScope checkpoints whose executed plans
    // reduce to Scan ExistingRDD; collect first, AQE finalizes the plan)
    val ex = MinHashIndex.prunedShinglePostings(loaded, Seq(1L, 5L))
    ex.collect()
    val exPlan = ex.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(exPlan).nonEmpty, exPlan.take(2000))
    val bn = MinHashIndex.prunedBandPostings(loaded, Seq(2L, 7L))
    bn.collect()
    val bnPlan = bn.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pbucket".r.findFirstIn(bnPlan).nonEmpty, bnPlan.take(2000))
  }

  test("skew guard boundary: corpus band buckets of max members match, max + 1 do not") {
    // identical texts collide in all 16 bands: every corpus bucket of a
    // group holds exactly the group's size (batch rows are not counted)
    val a = (1 to 12).map(i => s"zqcapaw$i").mkString(" ")
    val b = (1 to 12).map(i => s"zqcapbw$i").mkString(" ")
    val corpus = ((1L to 3L).map(i => (i, a)) ++ (11L to 14L).map(i => (i, b)))
      .toDF("doc_id", "text")
    val batch = Seq((101L, a), (102L, b)).toDF("doc_id", "text")
    val store = MinHashIndex.build(corpus, "doc_id", "text", nBuckets = 4)
    val got = MinHashIndex.probeBanded(store, batch, "doc_id", "text", 0.5, maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    store.shingleSets.unpersist(false)
    assert(got == (1L to 3L).map(c => (101L, c, 1.0)).toSet, got)
  }

  test("planted cross-batch near-dups found at analytic Jaccard; far pairs excluded") {
    // corpus carries the originals, the arriving batch the twins:
    //  near  m=40 t=38 => J = 36/40 = 0.9   (found by both probes)
    //  exact twin      => J = 1             (found — every band collides)
    //  far   m=38 t=14 => J = 12/60 = 0.2   (below 0.5 — excluded)
    val (nearA, nearB) = plantPair("n", m = 40, t = 38)
    val (farA, farB) = plantPair("f", m = 38, t = 14)
    val (exA, _) = plantPair("x", m = 30, t = 30)
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq((9000001L, nearA), (9000002L, farA), (9000003L, exA))
        .toDF("doc_id", "text"))
    val batch = Seq((9100001L, nearB), (9100002L, farB), (9100003L, exA))
      .toDF("doc_id", "text")

    val store = MinHashIndex.build(corpus, "doc_id", "text")
    for (pairs <- Seq(
        MinHashIndex.probeExact(store, batch, "doc_id", "text", 0.5),
        MinHashIndex.probeBanded(store, batch, "doc_id", "text", 0.5))) {
      val planted = pairs.where(col("batch_id") >= 9100000L && col("corpus_id") >= 9000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(planted.contains((9100001L, 9000001L, 36.0 / 40.0)), planted)
      assert(planted.contains((9100003L, 9000003L, 1.0)), planted)
      assert(!planted.exists(_._1 == 9100002L), planted)
    }
    store.shingleSets.unpersist(false)

    // the ingestion verdict: near/exact twins flagged, the far twin is new
    val st = MinHashIndex.statsExact(store, batch, "doc_id", "text", 0.5)
      .where(col("doc_id") >= 9100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(st.contains((9100001L, 1L, false)), st)
    assert(st.contains((9100003L, 1L, false)), st)
    assert(st.exists(t => t._1 == 9100002L && t._3), st)
  }
}
