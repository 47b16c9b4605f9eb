package graft

import org.apache.spark.sql.functions._

import graft.operators.dedup._

/** Semantic checks on synthetic corpora with known duplicates — the oracle
  * covers the no-dup real data; these cover the dup-positive paths.
  */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different content about spark partitions and shuffle behavior entirely"),
    (5L, "another unrelated document mentioning joins aggregations and window functions only")
  ).toDF("doc_id", "text")

  test("exact dedup keeps first id per content group") {
    val groups = ExactDedup.groups(corpus, "doc_id", "text").collect()
    assert(groups.length == 4)
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("doc_id") == 1L)
    val survivors = ExactDedup.dedupe(corpus, "doc_id", "text").select("doc_id")
      .as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("normalized exact dedup co-groups reformatted copies raw hashing misses") {
    val variants = Seq(
      (1L, "The quick  brown fox!"),
      (2L, "the quick brown fox"),     // casing/spacing/punct variant of 1
      (3L, "THE QUICK BROWN FOX."),    // another variant
      (4L, "a different document")
    ).toDF("doc_id", "text")
    val raw = ExactDedup.groups(variants, "doc_id", "text")
    assert(raw.count() == 4) // raw hashing sees four distinct contents
    val norm = ExactDedup.groupsNormalized(variants, "doc_id", "text").collect()
    assert(norm.length == 2)
    val grp = norm.find(_.getAs[Long]("n_copies") == 3L).get
    assert(grp.getAs[Long]("doc_id") == 1L)
  }

  test("incremental dedup equals the plain anti-join and survives an empty corpus") {
    // corpus holds docs 1-3; the batch re-ingests 1's content under a new
    // id (6, must drop), plus genuinely new docs (7, 8)
    val standing = corpus.where(col("doc_id") <= 3)
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (7L, "a brand new document that the corpus has never seen before at all"),
      (8L, "completely different content about spark partitions and shuffle behavior entirely")
    ).toDF("doc_id", "text")
    val got = IncrementalDedup.newDocs(standing, batch, "doc_id", "text", 1024)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(7L, 8L)) // 6 is a content dup of 1; 8 was never in the corpus
    // bit-identical to the plain anti-join on the content key
    val plain = batch.withColumn("k", md5(lower(col("text"))))
      .join(standing.select(md5(lower(col("text"))).as("k")), Seq("k"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == plain)
    // empty corpus: everything is new, no crash on the null bloom
    val all = IncrementalDedup.newDocs(standing.where(lit(false)), batch, "doc_id", "text", 1024)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(all == Seq(6L, 7L, 8L))
    // steady-state shape: prebuilt sketch + materialized key table give
    // the same answer without re-aggregating the corpus per batch
    val bloom = IncrementalDedup.buildContentBloom(standing, "text", 1024)
    val keyTable = standing.select(md5(lower(col("text"))).as("k"))
    val viaKeys = IncrementalDedup.newDocsAgainstKeys(
      keyTable, "k", batch, "doc_id", "text", 1024, prebuiltBloom = Some(bloom))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaKeys == got)
  }

  test("minhash finds exact and near dup, keeps lower ids") {
    val pairs = MinHashDedup.duplicatePairs(corpus, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    val survivors = MinHashDedup.dedupe(corpus, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.head == 1L)
    assert(!survivors.contains(2L))
    assert(survivors.containsSlice(Seq(4L, 5L)))
  }

  test("minhash jaccard is exact on candidates") {
    val p = MinHashDedup.candidatePairs(corpus, "doc_id", "text")
      .where($"id_a" === 1L && $"id_b" === 2L).select("jaccard").as[Double].collect()
    assert(p.nonEmpty && p.head == 1.0)
  }

  test("simhash: identical docs collide, near dups within hamming 3") {
    val pairs = SimHashDedup.duplicatePairs(corpus, "doc_id", "text", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    val survivors = SimHashDedup.dedupe(corpus, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(!survivors.contains(2L) && survivors.contains(1L))
  }

  test("ngram jaccard stats cover every doc") {
    val stats = NGramJaccardDedup.stats(corpus, "doc_id", "text")
    assert(stats.count() == 5)
    val m = stats.where($"doc_id" === 1L).select("max_jaccard").as[Double].head()
    assert(m == 1.0) // exact dup present
  }

  test("approx embedding dedup: subset of exact pairs with usable recall") {
    val e = graft.sources.Snapshot(spark, sf()).embeddings
    val exact = EmbeddingDedup.duplicatePairs(e, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = EmbeddingDedup.duplicatePairsApprox(e, "vec_id", "embedding", 0.4, nLists = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((approx -- exact).isEmpty, "approx must never invent pairs")
    val recall = if (exact.isEmpty) 1.0 else (approx & exact).size.toDouble / exact.size
    info(s"cell-bucketed dedup recall = $recall (${approx.size}/${exact.size})")
    assert(recall >= 0.2, s"recall $recall too low for 8-cell bucketing")
    // multi-probe assignment: near-dups straddling a cell boundary
    // co-bucket via their shared second-nearest cell — recall must not
    // drop and should rise
    val multi = EmbeddingDedup.duplicatePairsApprox(
      e, "vec_id", "embedding", 0.4, nLists = 8, nAssign = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((multi -- exact).isEmpty, "multi-probe must never invent pairs")
    assert((multi & exact).size >= (approx & exact).size)
    val recall2 = if (exact.isEmpty) 1.0 else (multi & exact).size.toDouble / exact.size
    info(s"multi-probe (nAssign=2) recall = $recall2 (${multi.size}/${exact.size})")
    assert(recall2 >= 0.4, s"multi-probe recall $recall2 below floor")
  }

  test("containment flags a doc quoted inside a longer doc; jaccard alone misses it") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = s"intro words before the quote $short and then many more trailing words after it ends"
    val corpus = Seq(
      (1L, short),
      (2L, long),
      (3L, "entirely different content about shuffle partitions and broadcast joins here")
    ).toDF("doc_id", "text")
    val rows = NGramJaccardDedup.containmentPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val (_, _, j, ca, _) = rows((1L, 2L))
    assert(ca == 1.0, s"all of doc 1's shingles appear in doc 2: $rows")
    assert(j < 0.5, s"symmetric jaccard must stay low for subset pairs: $j")
    assert(!rows.contains((1L, 3L)) && !rows.contains((2L, 3L)))
  }

  test("operators release corpus-scale caches before returning") {
    // CacheScope contract: the banded/exploded/candidate-shingle persists
    // live only inside one operator call; what survives the call is at
    // most the slim localCheckpoint'd candidate outputs (2 per call:
    // the raw pair set and the verified/scored set)
    val docs = graft.sources.Snapshot(spark, sf()).documents
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    MinHashDedup.candidatePairs(docs, "doc_id", "text")
    val afterMinhash = persisted -- before
    assert(afterMinhash.size <= 2,
      s"minhash retained ${afterMinhash.size} persisted RDDs — corpus-scale cache leaked")
    val before2 = persisted
    NGramJaccardDedup.stats(docs, "doc_id", "text")
    val afterNgram = persisted -- before2
    assert(afterNgram.size <= 2,
      s"ngram retained ${afterNgram.size} persisted RDDs — corpus-scale cache leaked")
    // every other caller of the bucket-pair core and the probe verify
    // keeps the same bound; the store's own shingle-set persist predates
    // the probe calls and is released at the end
    val store = MinHashIndex.build(docs.where(col("doc_id") % 10 =!= 0), "doc_id", "text")
    val batch = docs.where(col("doc_id") % 10 === 0)
    for ((name, call) <- Seq[(String, () => Unit)](
        "simhash" -> (() => SimHashDedup.candidatePairs(docs, "doc_id", "text")),
        "prefix filter" -> (() => PrefixFilter.duplicatePairs(docs, "doc_id", "text", 0.5)),
        "containment" -> (() => NGramJaccardDedup.containmentPairs(docs, "doc_id", "text")),
        "probeExact" -> (() => MinHashIndex.probeExact(store, batch, "doc_id", "text", 0.5)),
        "probeBanded" -> (() => MinHashIndex.probeBanded(store, batch, "doc_id", "text", 0.5)))) {
      val b = persisted
      call()
      val retained = persisted -- b
      assert(retained.size <= 2,
        s"$name retained ${retained.size} persisted RDDs — corpus-scale cache leaked")
    }
    store.shingleSets.unpersist(false)
  }

  // --- skew guard boundary: a key with exactly max members still pairs,
  // one with max + 1 members yields nothing. Each group repeats one text
  // over its own vocabulary, so its members share every key and no key
  // with the other group.

  private def copies(text: String, ids: Seq[Long]) = ids.map(i => (i, text))
  private def wordsText(tag: String) = (1 to 12).map(i => s"zk${tag}w$i").mkString(" ")
  private def pairsOf(ids: Seq[Long]) =
    (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

  test("skew guard boundary: minhash buckets of max members pair, max + 1 yield none") {
    // identical texts collide in all 16 bands, so every band bucket of a
    // group holds exactly the group's size
    val corpus = (copies(wordsText("a"), 1L to 3L) ++ copies(wordsText("b"), 11L to 14L))
      .toDF("doc_id", "text")
    val got = MinHashDedup.candidatePairs(corpus, "doc_id", "text", maxBucketSize = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == pairsOf(1L to 3L), got)
  }

  test("skew guard boundary: hamming chunks of max members pair, max + 1 yield none") {
    val sigs = (Seq.fill(3)(0x1111222233334444L).zip(1L to 3L) ++
      Seq.fill(4)(0x5555666677778888L).zip(11L to 14L)).map(_.swap).toDF("id", "h")
    val got = HammingDedup.candidatePairs(sigs, "id", "h", maxBucketSize = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got == pairsOf(1L to 3L).map { case (a, b) => (a, b, 0) }, got)
  }

  test("skew guard boundary: shingles of maxShingleFreq docs pair, one more yields none") {
    val corpus = (copies(wordsText("c"), 1L to 3L) ++ copies(wordsText("d"), 11L to 14L))
      .toDF("doc_id", "text")
    val got = NGramJaccardDedup.containmentPairs(corpus, "doc_id", "text", maxShingleFreq = 3)
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    assert(got == pairsOf(1L to 3L).map { case (a, b) => (a, b, 1.0, 1.0, 1.0) }, got)
  }

  test("near-dup operators build lazily: no job, no persisted RDD") {
    import org.apache.spark.grafttest.Bus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = graft.sources.Snapshot(spark, sf()).documents
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    for ((name, build) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "MinHashDedup.dedupe" -> (() => MinHashDedup.dedupe(docs, "doc_id", "text")),
        "SimHashDedup.dedupe" -> (() => SimHashDedup.dedupe(docs, "doc_id", "text")),
        "NGramJaccardDedup.candidatePairs" ->
          (() => NGramJaccardDedup.candidatePairs(docs, "doc_id", "text")),
        "NGramJaccardDedup.containmentPairs" ->
          (() => NGramJaccardDedup.containmentPairs(docs, "doc_id", "text")))) {
      val persisted = sc.getPersistentRDDs.keySet
      Bus.drain(sc)
      jobs.set(0)
      sc.addSparkListener(listener)
      try { build(); Bus.drain(sc) }
      finally sc.removeSparkListener(listener)
      assert(jobs.get == 0, s"$name submitted ${jobs.get} Spark jobs while building")
      val added = sc.getPersistentRDDs.keySet -- persisted
      assert(added.isEmpty, s"$name persisted ${added.size} RDDs while building")
    }
  }

  test("pair core: hamming pairs equal a brute-force reference under the member cap") {
    // 40 ids, four 16-bit chunks each. Per band the ids fall into groups
    // of 1, 2, max and max + 1 members, one chunk value per group. Bands
    // 0 and 1 share one grouping, so their pairs share two keys; bands 2
    // and 3 are shuffled independently.
    val max = 4
    val rnd = new scala.util.Random(20261019L)
    val ids = (1L to 40L).toVector
    val sizes = Seq.fill(3)(Seq(1, 2, max, max + 1)).flatten :+ max
    def grouping(): Seq[Vector[Long]] = {
      val shuffled = rnd.shuffle(ids)
      sizes.scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) => shuffled.slice(a, b) }.toSeq
    }
    val g01 = grouping()
    val groupings = Seq(g01, g01, grouping(), grouping())
    val chunk: Map[(Int, Long), Long] = groupings.zipWithIndex.flatMap { case (gs, band) =>
      val values = rnd.shuffle((0L until 0x10000L).toVector).take(gs.size)
      gs.zip(values).flatMap { case (g, v) => g.map(id => (band, id) -> v) }
    }.toMap
    val sig = ids.map(id => id -> (0 until 4).map(b => chunk((b, id)) << (16 * b)).reduce(_ | _)).toMap
    val perKey = groupings.flatMap(_.filter(g => g.size >= 2 && g.size <= max))
      .flatMap(g => for (a <- g; b <- g if a < b) yield (a, b))
    val want = perKey.distinct
      .map { case (a, b) => (a, b, java.lang.Long.bitCount(sig(a) ^ sig(b))) }.sorted
    assert(groupings.forall(_.map(_.size).toSet == Set(1, 2, max, max + 1)))
    assert(perKey.size > want.size, "plant broken: no pair shares two keys")
    val got = HammingDedup.candidatePairs(sig.toSeq.toDF("id", "h"), "id", "h", maxBucketSize = max)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSeq.sorted
    assert(got == want, s"missing ${want.diff(got)} extra ${got.diff(want)}")
  }

  test("skew guard: an Int.MaxValue member cap pairs every key") {
    val sigs = (Seq.fill(3)(0x1111222233334444L).zip(1L to 3L) ++
      Seq.fill(4)(0x5555666677778888L).zip(11L to 14L)).map(_.swap).toDF("id", "h")
    val got = HammingDedup.candidatePairs(sigs, "id", "h", maxBucketSize = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == pairsOf(1L to 3L) ++ pairsOf(11L to 14L), got)
  }

  test("shingle attach: a repeated id pairs each of its rows, as a join on the id") {
    // id 2 has a copy of doc 1 and an unrelated text: the pair (1, 2) is
    // scored once per row of id 2
    val corpus = Seq((1L, wordsText("e")), (2L, wordsText("e")), (2L, wordsText("f")))
      .toDF("doc_id", "text")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSeq.sorted
    val want = Seq((1L, 2L, 0.0), (1L, 2L, 1.0))
    assert(scores(MinHashDedup.candidatePairs(corpus, "doc_id", "text")) == want)
    assert(scores(NGramJaccardDedup.containmentPairs(corpus, "doc_id", "text")) == want)
  }

  test("embedding dedup finds the planted near-identical vector") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f)), // near dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = EmbeddingDedup.duplicatePairs(vecs, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  // --- hot-cell path (VERDICT r15 #1: over-cap cells stay pair-eligible) ---

  /** Two-coordinate support vectors (the SelfCheck semantic-gate
    * convention): cross-support cosines are exactly 0, within-support
    * (0.8,0.6)·(0.6,0.8) = 0.96.
    */
  private def sv(dim: Int, support: Int, a: Float, b: Float): Array[Float] =
    Array.tabulate(dim)(i =>
      if (i == 2 * support) a else if (i == 2 * support + 1) b else 0.0f)

  test("hot cell: copy floods collapse via star edges, distinct reps pair directly (pre-r16: excluded)") {
    val dim = 8
    val rows =
      (0L until 60L).map(j => (j, sv(dim, 0, 0.8f, 0.6f))) ++ // 60 exact copies, over any small cap
        (100L until 105L).map(j => (j, sv(dim, 1, 0.8f, 0.6f))) ++ // 5 copies of V2
        (200L until 205L).map(j => (j, sv(dim, 1, 0.6f, 0.8f))) // 5 copies of V2' (cos 0.96 to V2)
    val df = rows.toDF("vec_id", "embedding")
    // nLists = 1 puts all 70 rows in ONE cell; cap 24 makes it hot
    val pairs = EmbeddingDedup.duplicatePairsApprox(
      df, "vec_id", "embedding", 0.4, nLists = 1, iters = 1, maxCellSize = 24)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val wantStars =
      (1L until 60L).map(j => (0L, j)).toSet ++
        (101L until 105L).map(j => (100L, j)).toSet ++
        (201L until 205L).map(j => (200L, j)).toSet
    // the three distinct reps (0, 100, 200) fit the cap and pair directly:
    // (100, 200) at cos 0.96 survives, the cross-support rep pairs are 0.0
    assert(pairs == wantStars + ((100L, 200L)),
      s"missing=${(wantStars + ((100L, 200L))) -- pairs} extra=${pairs -- (wantStars + ((100L, 200L)))}")
    // end to end: keep-best retains the max-score member of each component
    val survivors = EmbeddingDedup.dedupeSemantic(
      df, "vec_id", "embedding", col("vec_id").cast("double"), 0.4,
      nLists = 1, iters = 1, nAssign = 1, maxCellSize = 24)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == Set(59L, 204L), s"got $survivors")
  }

  test("hot cell: splitDepth = 0 pairs over-cap distinct reps UNCAPPED — complete on a mutually-near clump") {
    val dim = 8
    // 30 DISTINCT mutually-near vectors (k-means cannot meaningfully
    // separate them — the depth-bound fallback is the honest path)
    val rows = (0L until 30L).map(j =>
      (j, Array.tabulate(dim)(i =>
        if (i == 0) 0.8f else if (i == 1) 0.6f + j * 1e-4f else 0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val approx = EmbeddingDedup.duplicatePairsApprox(
      df, "vec_id", "embedding", 0.4, nLists = 1, iters = 1,
      maxCellSize = 10, splitDepth = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = EmbeddingDedup.duplicatePairs(df, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 435, s"plant broken: ${exact.size}") // C(30,2) — all above threshold
    assert(approx == exact, s"uncapped fallback must be complete: missing ${exact -- approx}")
  }

  test("hot cell: recursive sub-split keeps diverse over-cap cells pair-eligible (subset of exact, floor recall)") {
    val dim = 64
    // 24 orthogonal singleton decoys (below threshold to everything) force
    // the rep population over the cap; 8 planted near pairs (cos 0.96) on
    // their own supports must survive the k-means sub-split with at most
    // one straddle (the SelfCheck gate's floor convention)
    val rows =
      (0 until 24).map(j => (j.toLong, sv(dim, j, 0.6f, -0.8f))) ++
        (24 until 32).flatMap(j => Seq(
          (100L + j, sv(dim, j, 0.8f, 0.6f)),
          (1100L + j, sv(dim, j, 0.6f, 0.8f))))
    val df = rows.toDF("vec_id", "embedding")
    val approx = EmbeddingDedup.duplicatePairsApprox(
      df, "vec_id", "embedding", 0.4, nLists = 1, iters = 2,
      maxCellSize = 12, splitDepth = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = EmbeddingDedup.duplicatePairs(df, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 8, s"plant broken: ${exact.size}")
    assert((approx -- exact).isEmpty, "sub-split must never invent pairs")
    assert(approx.size >= 7,
      s"sub-split recall ${approx.size}/8 below the one-straddle floor: missing ${exact -- approx}")
  }

  test("line dedup: repeated long lines keep only their first (doc, position) occurrence") {
    import spark.implicits._
    val boiler = "this exact boilerplate footer line is well over thirty characters long"
    val other = "a second long duplicated paragraph that also exceeds the char threshold"
    val docs = Seq(
      (1L, s"unique opening line that is long enough to be dedupable ok\nhdr\n$boiler"),
      (2L, s"$boiler\nshort\n$other"),
      (3L, s"$other\nhdr\n$boiler")
    ).toDF("doc_id", "text")
    val got = graft.operators.dedup.LineDedup.clean(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1 holds the first boiler occurrence (lowest doc) -> keeps all 3
    assert(got(0).getString(1).endsWith(boiler) && got(0).getLong(3) == 3L)
    // doc 2: boiler removed (doc 1 owns it), "short" kept (under minChars),
    // first `other` occurrence kept
    assert(got(1).getString(1) == s"short\n$other")
    assert(got(1).getLong(2) == 3L && got(1).getLong(3) == 2L)
    // doc 3: both long lines owned elsewhere -> only the short header left
    assert(got(2).getString(1) == "hdr")
    // within-doc repeats dedupe too: position orders the survivors
    val self = Seq((9L, s"$boiler\nmid line that is clearly above threshold\n$boiler"))
      .toDF("doc_id", "text")
    val s9 = graft.operators.dedup.LineDedup.clean(self, "doc_id", "text").head()
    assert(s9.getLong(3) == 2L && s9.getString(1).startsWith(boiler))
  }

  test("span dedup: aligned word spans dedupe corpus-wide; rebuilt text preserves order") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"sharedword$i").mkString(" ") // one aligned span
    val docs = Seq(
      (1L, s"$run alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$run iota kappa lambda mu nu xi omicron pi")
    ).toDF("doc_id", "text")
    val got = graft.operators.dedup.LineDedup.cleanSpans(docs, "doc_id", "text", spanWords = 8)
      .orderBy("doc_id").collect()
    // doc 1 keeps both spans; doc 2 loses the shared first span
    assert(got(0).getLong(3) == 2L && got(0).getString(1).startsWith(run))
    assert(got(1).getLong(2) == 2L && got(1).getLong(3) == 1L)
    assert(got(1).getString(1) == "iota kappa lambda mu nu xi omicron pi")
  }

  test("line dedup fails fast on non-integral ids instead of silently emptying docs") {
    import spark.implicits._
    val df = Seq(("doc-a", "some long enough line for the threshold here")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.operators.dedup.LineDedup.clean(df, "id", "text")
    }
    assert(e.getMessage.contains("integral"))
  }
}
