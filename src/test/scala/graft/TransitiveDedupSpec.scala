package graft


import graft.operators.SmallInput
import graft.operators.dedup.TransitiveDedup

class TransitiveDedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("components merge chains transitively") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = TransitiveDedup.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
  }

  test("dedupe keeps one doc per component plus untouched docs") {
    val docs = (1L to 12L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val survivors = TransitiveDedup.dedupe(docs, "doc_id", pairs)
      .as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
  }

  test("dedupeKeepBest keeps the highest-scored member of each component") {
    import org.apache.spark.sql.functions.col
    // component {1,2,3}: doc 2 has the best score and must survive even
    // though keep-first would pick doc 1; component {10,11}: tie on score
    // -> lowest id 10; docs 4,5 have no edges and are untouched
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), (4L, 0.1), (5L, 0.8),
      (10L, 0.7), (11L, 0.7)
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val survivors = TransitiveDedup
      .dedupeKeepBest(docs, "doc_id", pairs, col("score"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(2L, 4L, 5L, 10L))
  }

  test("100-node chain closes in O(log n) rounds, not O(n) — DISTRIBUTED path") {
    // the pathological shape for min-label propagation (one hop per
    // round => 99 rounds); large/small-star contraction must close it in
    // ~log2(100) — the round count is the pinned contract. conf 0
    // forces the distributed loop (99 edges would otherwise degrade to
    // the driver union-find and make this pin vacuous).
    val s = spark.newSession()
    s.conf.set(SmallInput.Conf, "0")
    import s.implicits._
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = TransitiveDedup.componentsWithRounds(chain)
    val comp = labels.as[(Long, Long)].collect().toMap
    assert(comp.size == 100 && comp.values.toSet == Set(1L))
    assert(rounds > 0, "conf 0 must force the distributed loop")
    assert(rounds <= 10, s"a 100-chain took $rounds rounds — the O(log n) contract is broken")
  }

  test("small-graph degrade: union-find labels == the star fixpoint's, rounds = 0") {
    // default threshold — the degraded path must produce EXACTLY the
    // distributed labels on the adversarial shapes (min-root identity)
    val pairs = (
      (100L to 109L).sliding(2).map(s => (s(1), s(0))).toSeq
        ++ Seq((50L, 20L), (50L, 21L), (50L, 22L), (50L, 23L))
        ++ Seq((7L, 7L))
        ++ Seq((20L, 50L), (20L, 50L))
        ++ (1L until 100L).map(i => (i, i + 1))
      ).toDF("id_a", "id_b")
    val (degraded, r0) = TransitiveDedup.componentsWithRounds(pairs)
    assert(r0 == 0, "the small edge set must take the driver path")
    val s = spark.newSession()
    s.conf.set(SmallInput.Conf, "0")
    val pairsD = {
      import s.implicits._
      (
        (100L to 109L).sliding(2).map(s => (s(1), s(0))).toSeq
          ++ Seq((50L, 20L), (50L, 21L), (50L, 22L), (50L, 23L))
          ++ Seq((7L, 7L))
          ++ Seq((20L, 50L), (20L, 50L))
          ++ (1L until 100L).map(i => (i, i + 1))
        ).toDF("id_a", "id_b")
    }
    val (dist, rD) = TransitiveDedup.componentsWithRounds(pairsD)
    assert(rD > 0)
    val a = degraded.as[(Long, Long)].collect().toMap
    val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "degraded labels must equal the distributed fixpoint's")
  }

  test("small-graph degrade orders STRINGS like Spark (UTF-8 bytes, not Java UTF-16)") {
    // U+FFFF sorts BELOW U+10000 in UTF-8 byte order (Spark's least()/
    // greatest()), but a Java String compareTo would sort the
    // supplementary pair's D800 surrogate FIRST — the driver union-find
    // must pick the same component minimum the distributed path picks
    val hi = "a￿" // U+FFFF: EF BF BF
    val supp = "a𐀀" // U+10000: F0 90 80 80 — larger in UTF-8
    assert(hi.compareTo(supp) > 0, "Java UTF-16 order must differ here or this pin is vacuous")
    val pairs = Seq((hi, supp), (supp, "zz")).toDF("id_a", "id_b")
    val comp = TransitiveDedup.components(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp.values.toSet == Set(hi), s"component minimum must be U+FFFF under UTF-8 order: $comp")
    // and the distributed path agrees
    val s = spark.newSession()
    s.conf.set(SmallInput.Conf, "0")
    val pairsD = { import s.implicits._; Seq((hi, supp), (supp, "zz")).toDF("id_a", "id_b") }
    val compD = TransitiveDedup.components(pairsD).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(compD == comp)
  }

  test("small-graph degrade handles DECIMAL ids: labels == distributed path, column scale preserved") {
    // the union-find normalizes BigDecimal keys via stripTrailingZeros
    // (ADVICE r15 — BigDecimal.equals is scale-sensitive as a map key);
    // labels must match the distributed star fixpoint and come back at
    // the column's scale
    val pairs = Seq((BigDecimal("10.50"), BigDecimal("2.25")), (BigDecimal("2.25"), BigDecimal("30.00")))
      .toDF("id_a", "id_b")
    val comp = TransitiveDedup.components(pairs).collect()
      .map(r => r.getDecimal(0).toPlainString -> r.getDecimal(1).toPlainString).toMap
    val s = spark.newSession()
    s.conf.set(SmallInput.Conf, "0")
    val pairsD = { import s.implicits._
      Seq((BigDecimal("10.50"), BigDecimal("2.25")), (BigDecimal("2.25"), BigDecimal("30.00")))
        .toDF("id_a", "id_b") }
    val compD = TransitiveDedup.components(pairsD).collect()
      .map(r => r.getDecimal(0).toPlainString -> r.getDecimal(1).toPlainString).toMap
    assert(comp == compD, s"degrade $comp vs distributed $compD")
    assert(comp.values.toSet.size == 1 && comp.values.head.contains("2.25"))
  }

  test("adversarial shapes: descending chain, star onto max id, self-pairs, duplicate edges") {
    // descending ids (the min sits at the chain's far end), a star whose
    // hub is the LARGEST id (every spoke must relabel the hub), a
    // self-pair-only node (must still emit a row), duplicated +
    // mirrored edges (must not double anything)
    val pairs = (
      (100L to 109L).sliding(2).map(s => (s(1), s(0))).toSeq // 109~108 … 101~100
        ++ Seq((50L, 20L), (50L, 21L), (50L, 22L), (50L, 23L)) // hub 50 > spokes
        ++ Seq((7L, 7L)) // self-pair only
        ++ Seq((20L, 50L), (20L, 50L)) // mirror + duplicate
      ).toDF("id_a", "id_b")
    val comp = TransitiveDedup.components(pairs).as[(Long, Long)].collect()
    assert(comp.length == comp.map(_._1).distinct.length, "one row per id")
    val m = comp.toMap
    assert((100L to 109L).forall(m(_) == 100L))
    assert(Seq(50L, 20L, 21L, 22L, 23L).forall(m(_) == 20L))
    assert(m(7L) == 7L)
  }
}
